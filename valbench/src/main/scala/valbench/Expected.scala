package valbench

import org.apache.spark.sql.SparkSession

import graft.dsl.{Constraint => C, ConstraintSuite}

/** The answers a correct validator must give, computed at set-up with
  * plain Spark SQL written here, never with `graft.compile`. Partition
  * names render `source=<value>`, as the table reports them.
  *
  * @param rows      partition → rows
  * @param badRows   partition → rows failing at least one row-local check
  * @param rowViol   partition → row-local constraint id → failing rows
  * @param dupKeys   duplicated key → partitions holding it
  * @param dangling  partition → rows whose source misses the dimension
  * @param drifted   partitions whose length distribution drifted
  * @param ids       constraint ids of the suite's dataset checks, by kind
  */
final case class Expected(
    rows: Map[String, Long],
    badRows: Map[String, Long],
    rowViol: Map[String, Map[String, Long]],
    dupKeys: Map[String, Set[String]],
    dangling: Map[String, Long],
    drifted: Set[String],
    ids: Expected.Ids) {

  def partitions: Seq[String] = rows.keys.toSeq.sorted

  /** Violations attributed to one partition: dangling rows plus a drift
    * flag. */
  def partViolations(p: String): Long =
    dangling.getOrElse(p, 0L) + (if (drifted(p)) 1L else 0L)

  /** Table-scope violations: one per duplicated key. */
  def globalViolations: Long = dupKeys.size.toLong

  def valid(p: String): Boolean =
    badRows(p) == 0L && partViolations(p) == 0L && globalViolations == 0L

  /** Row-local violations per constraint id over some partitions. */
  def rowViolations(scope: Seq[String]): Map[String, Long] =
    scope.flatMap(p => rowViol.getOrElse(p, Map.empty).toSeq)
      .groupMapReduce(_._1)(_._2)(_ + _)

  def rowsIn(scope: Seq[String]): Long = scope.map(rows).sum
  def badRowsIn(scope: Seq[String]): Long = scope.map(badRows).sum
}

object Expected {

  /** Constraint ids of the dataset checks (None when the suite has none). */
  final case class Ids(
      unique: Option[String], ri: Option[String], drift: Option[String])

  /** The SQL condition under which a row FAILS one row-local check.
    * Every check passes on NULL except `NotNull`. */
  private def failSql(c: C): String = {
    def outside(col: String, b: C.Bounds): String = {
      require(!b.exclusiveMin && !b.exclusiveMax,
        s"${b.id}: exclusive bounds are not modelled")
      (b.min.map(m => s"$col < $m") ++ b.max.map(m => s"$col > $m"))
        .mkString("(", " OR ", ")")
    }
    c match {
      case C.NotNull(_, col) => s"$col IS NULL"
      case C.Matches(_, col, pattern) =>
        require(!pattern.contains("'"), s"pattern $pattern needs quoting")
        s"$col IS NOT NULL AND NOT ($col RLIKE '$pattern')"
      case b: C.Bounds => s"${b.col} IS NOT NULL AND ${outside(b.col, b)}"
      case C.SizeConsistency(_, n, arr) =>
        s"$n IS NOT NULL AND $arr IS NOT NULL AND $n <> size($arr)"
      case C.EachElement(_, col, b: C.Bounds) =>
        s"coalesce(exists($col, x -> x IS NOT NULL AND " +
          s"${outside("x", b)}), false)"
      case other =>
        throw new IllegalArgumentException(s"no expected-answer SQL for $other")
    }
  }

  /** Expected answers for the table at `dir` under `suite`, from two
    * queries: one aggregate by (partition, drift bucket) gives the
    * row-local counts and the drift histogram; one finds duplicated keys.
    * Dangling rows need no query: the reference column is the partition
    * column, so a partition's rows all dangle or none do. */
  def ofTable(spark: SparkSession, dir: String,
      suite: ConstraintSuite): Expected = {
    val view = "valbench_expected_src"
    spark.read.parquet(dir).createOrReplaceTempView(view)
    val rowChecks = suite.constraints.filterNot(Suites.isDataset)
    val drift = suite.constraints.collectFirst { case d: C.NoDrift => d }
    val bucket = drift.map { d =>
      require(d.metric == "psi", s"${d.id}: only psi is modelled")
      val width = (d.hi - d.lo) / d.buckets
      s"least(${d.buckets - 1}, greatest(0, CAST(floor((CAST(${d.col} " +
        s"AS DOUBLE) - ${d.lo}) / $width) AS INT)))"
    }.getOrElse("CAST(NULL AS INT)")
    val flags = rowChecks.map(c => s"CAST(${failSql(c)} AS INT) AS `${c.id}`")
    val anyBad = rowChecks.map(c => s"`${c.id}`").mkString(" + ")
    val cells = spark.sql(s"SELECT p, b, COUNT(*), " +
      s"SUM(CASE WHEN $anyBad > 0 THEN 1 ELSE 0 END), " +
      rowChecks.map(c => s"SUM(`${c.id}`)").mkString(", ") +
      s" FROM (SELECT concat('source=', source) AS p, $bucket AS b, " +
      flags.mkString(", ") + s" FROM $view) GROUP BY p, b").collect()
    def sumBy(col: Int) = cells.groupMapReduce(_.getString(0))(_.getLong(col))(_ + _)
    val rows = sumBy(2)
    val bad = sumBy(3)
    val rowViol = rows.keys.map(p => p -> rowChecks.indices.map { i =>
      rowChecks(i).id -> cells.filter(_.getString(0) == p)
        .map(_.getLong(4 + i)).sum
    }.filter(_._2 > 0L).toMap).toMap

    val unique = suite.constraints.collectFirst { case u: C.Unique => u }
    val dupKeys = unique.map { u =>
      spark.sql(s"SELECT coalesce(CAST(${u.col} AS STRING), 'null'), " +
        s"collect_set(concat('source=', source)) FROM $view " +
        s"GROUP BY ${u.col} HAVING COUNT(*) > 1").collect()
        .map(r => r.getString(0) -> r.getSeq[String](1).toSet).toMap
    }.getOrElse(Map.empty)

    val ri = suite.constraints.collectFirst { case r: C.RefIntegrity => r }
    val dangling = ri.map { r =>
      require(r.dimName == "sources" && r.col == "source" &&
        r.dimCol == "source", s"${r.id}: only source → sources is modelled")
      val known = graft.gen.SequenceGen.sourcesDim(spark).collect()
        .map(d => s"source=${d.getString(0)}").toSet
      rows.filter { case (p, _) => !known(p) }
    }.getOrElse(Map.empty)

    val hist = cells.filterNot(_.isNullAt(1))
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val drifted = drift.map(driftedPartitions(hist, _)).getOrElse(Set.empty)

    Expected(rows, bad, rowViol, dupKeys, dangling, drifted,
      Ids(unique.map(_.id), ri.map(_.id), drift.map(_.id)))
  }

  /** Population-stability drift from the (partition, bucket, rows)
    * histogram: per partition p and bucket b,
    * psi = Σ (p_b − q_b)·ln(p_b / q_b) with ε-smoothed shares of the
    * partition (p) and the whole table (q). */
  private def driftedPartitions(hist: Seq[(String, Int, Long)],
      d: C.NoDrift): Set[String] = {
    val eps = 1e-6
    val global = Array.fill(d.buckets)(0L)
    hist.foreach { case (_, b, c) => global(b) += c }
    val gt = global.sum.toDouble
    hist.groupBy(_._1).collect {
      case (p, cells) if cells.map(_._3).sum >= d.minRows =>
        val counts = Array.fill(d.buckets)(0L)
        cells.foreach { case (_, b, c) => counts(b) += c }
        val pt = counts.sum.toDouble
        val psi = (0 until d.buckets).map { b =>
          val pp = (counts(b) + eps) / (pt + eps * d.buckets)
          val qq = (global(b) + eps) / (gt + eps * d.buckets)
          (pp - qq) * math.log(pp / qq)
        }.sum
        p -> psi
    }.collect { case (p, psi) if psi > d.threshold => p }.toSet
  }
}
