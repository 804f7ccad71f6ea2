package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}

/**
 * Distributed connected components over a duplicate-pair table:
 * near-dup candidates arrive as PAIRS (a degenerate bucket as star
 * pairs around its minimum id), but a pipeline keeps/drops GROUPS (one
 * representative per component).
 *
 * Algorithm: alternating large-star / small-star (Kiveris et al.,
 * "Connected Components in MapReduce and Beyond", SoCC'14 — public
 * literature), expressed as DataFrame rounds:
 *
 *  - large-star: every node connects its LARGER neighbors to the
 *    minimum of its neighborhood (including itself);
 *  - small-star: every node connects its smaller-or-equal neighbors
 *    (and itself) to that minimum.
 *
 * Each round is two aggregate-plus-join passes over the edge set; both
 * key by the same column so the exchanges co-partition. The
 * alternation converges in O(log n) rounds even on path graphs —
 * label-propagation's O(diameter) is the shape that does NOT survive a
 * 10^12-row corpus with long duplicate chains. At convergence every
 * edge points directly at its component's minimum id (a star forest),
 * which IS the (member → group) assignment.
 *
 * Scale notes: per-round lineage is truncated with `localCheckpoint`
 * (an iterative plan would otherwise grow by ~10 operators per round
 * and re-execute from the scan each time); on a real cluster prefer
 * `sparkContext.setCheckpointDir` + reliable checkpoints for executor-
 * loss tolerance. Edge counts only shrink: both stars emit at most one
 * edge per input edge, so the working set is bounded by the input.
 */
object ConnectedComponents {

  /**
   * Component assignment for every node in `pairs`:
   * `(doc_id, group_id, keep)` where `group_id` is the component's
   * minimum id IN STRING ORDER — ids are cast to string internally, so
   * numeric ids pick the lexicographic minimum ("10" < "2"); zero-pad
   * numeric ids upstream if numeric order must choose the
   * representative. `keep` marks that representative. Nodes that appear
   * in no pair are their own trivial group and are NOT emitted — union
   * the corpus back in (left join, coalesce to self) when a total
   * assignment is needed.
   */
  def groups(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
      maxIter: Int = 50): DataFrame = {
    val assignment = roots(pairs, idA, idB, maxIter)
    assignment
      .unionByName(assignment.select(F.col("group_id").as("doc_id"),
        F.col("group_id")).distinct())
      .select(F.col("doc_id"), F.col("group_id"),
        (F.col("doc_id") === F.col("group_id")).as("keep"))
  }

  /**
   * TOTAL assignment over a corpus: every corpus id gets a row —
   * members of a duplicate component carry its group minimum, documents
   * that appear in no pair are their own singleton group (`keep` true).
   * This is [[groups]] plus the corpus left-join that every caller was
   * otherwise expected to remember (the keep/drop decision of a dedup
   * pipeline is total by definition). One broadcast-or-shuffle hash
   * join keyed on the id — no extra pass over `pairs`.
   */
  def totalAssignment(corpus: DataFrame, idCol: String, pairs: DataFrame,
      idA: String = "id_a", idB: String = "id_b",
      maxIter: Int = 50): DataFrame = {
    val g = groups(pairs, idA, idB, maxIter)
    corpus.select(F.col(idCol).cast("string").as("doc_id")).distinct()
      .join(g, Seq("doc_id"), "left")
      .select(F.col("doc_id"),
        F.coalesce(F.col("group_id"), F.col("doc_id")).as("group_id"),
        F.coalesce(F.col("keep"),
          F.lit(true)).as("keep"))
  }

  /** Non-root edges `(doc_id, group_id)` at convergence (roots are the
    * `group_id` side only). */
  private def roots(pairs: DataFrame, idA: String, idB: String,
      maxIter: Int): DataFrame = {
    // LAZY localCheckpoint throughout this loop: the fingerprint
    // aggregate that immediately follows each checkpoint is the action
    // that materializes it, so checkpoint + convergence check cost ONE
    // job per round instead of two (materialize-then-aggregate)
    var edges = pairs
      .select(F.col(idA).cast("string").as("u"),
        F.col(idB).cast("string").as("v"))
      .filter(F.col("u") =!= F.col("v"))
      .select(F.greatest("u", "v").as("u"), F.least("u", "v").as("v"))
      .distinct()
      .localCheckpoint(eager = false)

    def fingerprint(e: DataFrame): (Long, Long) = {
      // order-free set checksum: bit_xor of row hashes (sum would hit
      // ANSI long-overflow); rows are distinct so xor-cancellation of
      // duplicates cannot occur
      val r = e.select(F.xxhash64(F.col("u"), F.col("v")).as("_h"))
        .agg(F.count(F.lit(1)), F.coalesce(F.expr("bit_xor(_h)"), F.lit(0L)))
        .head()
      (r.getLong(0), r.getLong(1))
    }

    var converged = false
    var iter = 0
    var fp = fingerprint(edges)
    while (!converged && iter < maxIter) {
      val next = smallStar(largeStar(edges)).localCheckpoint(eager = false)
      // cheap per-round check: (count, order-free xxhash64 checksum) —
      // one aggregate job instead of an exceptAll anti-join per round;
      // when it signals stability, confirm EXACTLY once with exceptAll
      // (both sides are distinct projections)
      val nfp = fingerprint(next)
      converged = nfp == fp && next.exceptAll(edges).isEmpty
      fp = nfp
      edges = next
      iter += 1
    }
    require(converged,
      s"connected components did not converge in $maxIter rounds — " +
        "the alternation converges in O(log n); an input this deep " +
        "indicates a corrupt pair table")
    edges.select(F.col("u").as("doc_id"), F.col("v").as("group_id"))
  }

  /** Connect every neighbor larger than the center to the neighborhood
    * minimum. Operates on the bidirectional view so each node sees its
    * full neighborhood.
    *
    * Neighborhood minima come from `groupBy(u).min(v)` + an equi-join
    * rather than a window: `Window.partitionBy(u)` buffers a node's
    * ENTIRE neighborhood in one sorted task — exactly the hub/skew
    * shape a near-dup component has — while the aggregate collapses a
    * hub to one row per mapper (map-side partial agg) and the join is
    * eligible for AQE skew-splitting, which windows are not. */
  private def largeStar(edges: DataFrame): DataFrame = {
    // ONE explicit repartition on `u`, shared by the aggregate and the
    // join: HashPartitioning(u) satisfies both consumers' required
    // distributions, so neither inserts its own exchange, and because
    // both branches hang off the IDENTICAL Exchange node the
    // bidirectional view is computed and shuffled once (ReusedExchange)
    // instead of twice. (No partition count — AQE stays free to
    // coalesce; AQE skew-split still applies to the join.)
    val bidir = edges.select("u", "v")
      .unionByName(edges.select(F.col("v").as("u"), F.col("u").as("v")))
      .repartition(F.col("u"))
    val mins = bidir.groupBy("u").agg(F.min("v").as("_mv"))
    bidir.join(mins, Seq("u"))
      .withColumn("m", F.least(F.col("_mv"), F.col("u")))
      .filter(F.col("v") > F.col("u"))
      .select(F.col("v").as("u"), F.col("m").as("v"))
      .filter(F.col("u") =!= F.col("v"))
    // no distinct here: each input edge emits at most one output edge,
    // so duplicates are bounded by the (already distinct) input, and
    // smallStar's terminal dedup restores set semantics — one fewer
    // full (u,v) exchange per round
  }

  /** Connect the center and its (all smaller, post-large-star)
    * neighbors to the neighborhood minimum. Same aggregate+join shape
    * as [[largeStar]] for the same skew reason; the center edges come
    * straight from the per-node minima (already one row per node). */
  private def smallStar(edges: DataFrame): DataFrame = {
    // same single-exchange sharing as largeStar
    val e = edges.repartition(F.col("u"))
    val mins = e.groupBy("u").agg(F.min("v").as("m"))
    val center = mins.select(F.col("u"), F.col("m").as("v"))
    val others = e.join(mins, Seq("u"))
      .filter(F.col("v") =!= F.col("m"))
      .select(F.col("v").as("u"), F.col("m").as("v"))
    center.unionByName(others)
      .filter(F.col("u") =!= F.col("v"))
      .distinct()
  }
}
