package valbench

import graft.dsl.{Constraint => C, ConstraintSuite}

/** The suites the workloads validate. The standard suite is the engine's
  * own bench suite: five row-local checks plus uniqueness, referential
  * integrity and drift. */
object Suites {
  val standard: ConstraintSuite = graft.Scaling.benchSuite

  /** `n_tok_range`'s upper bound in the strict suite: about 5% of the
    * generated rows are longer, so the traced violation-assembly layer
    * carries volume. */
  val StrictNtokMax = 512

  val strict: ConstraintSuite = ConstraintSuite(standard.id + "-strict",
    standard.constraints.map {
      case b: C.Bounds if b.id == "n_tok_range" =>
        b.copy(max = Some(BigDecimal(StrictNtokMax)))
      case c => c
    })

  def isDataset(c: C): Boolean = c match {
    case _: C.Unique | _: C.RefIntegrity | _: C.NoDrift => true
    case _                                              => false
  }

  def rowLocal(s: ConstraintSuite): ConstraintSuite =
    ConstraintSuite(s.id + "-rowlocal", s.constraints.filterNot(isDataset))
}
