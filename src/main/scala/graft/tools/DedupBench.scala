package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

import graft.ops.{Dedup, TextAnalysis}

/**
 * Dedup-pipeline throughput probe: a seeded synthetic text corpus with
 * planted near-duplicates, timed through exact / MinHash+LSH / SimHash
 * dedup end-to-end. Prints one JSON line (docs/sec per stage).
 * Run: `sbt "runMain graft.tools.DedupBench [nDocs] [cpus]"`.
 *
 * Corpus shape: ~120-word documents from a 50k-word synthetic
 * vocabulary; every 10th document is a near-duplicate of its
 * predecessor (3 words appended) — so candidate volume stays realistic
 * (~10% dup rate) rather than degenerate.
 */
object DedupBench {
  /** Big-benchmark size = nDocs / GRAFT_DEDUP_BENCH_DIV (default 10).
    * div=10 at 10^7 docs probes the FEASIBILITY boundary (broadcast
    * dies on the 8 GiB cap; the bloom survivor join out-spills a
    * 48 GB local disk); div=100 keeps both paths feasible so the cost
    * comparison itself is measurable at 10^7. */
  private[graft] def benchDiv(env: Option[String]): Long =
    env.map { v =>
      v.trim.toLongOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"GRAFT_DEDUP_BENCH_DIV must be a whole number > 0, got '$v'"))
    }.getOrElse(10L)

  /** A stage whose plan is INFEASIBLE at this scale is itself a
    * measurement: the broadcast-decontamination path dies on Spark's
    * hard 8 GiB broadcast cap at a 10^6-doc benchmark, and the bloom
    * survivor join can fill the local disk. Only those two refusals
    * count; any other failure is a bug and must end the run. */
  private[graft] def infeasible(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
      case t: org.apache.spark.SparkThrowable =>
        t.getCondition == "_LEGACY_ERROR_TEMP_2249" // broadcast cap
      case t: java.io.IOException =>
        String.valueOf(t.getMessage).contains("No space left on device")
      case _ => false
    }

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(200000L)
    val cpus = args.lift(1).getOrElse("32")
    val div = benchDiv(sys.env.get("GRAFT_DEDUP_BENCH_DIV"))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-dedup-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (8L << 20).toString)
      .config("spark.local.dir", graft.Scaling.localDir)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // deterministic corpus, materialized to parquet so the timings
    // measure the dedup pipelines, not the generator
    val dir = s"/tmp/graft_dedup_bench/docs=$nDocs"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_SUCCESS"))) {
      spark.range(0L, nDocs, 1L, 64).map { boxed =>
        val i: Long = boxed
        val base: Long = if (i % 10 == 1) i - 1 else i // every 10th ~= predecessor
        val rnd = new scala.util.Random(base * 2654435761L)
        val words = Seq.fill(120)("w" + rnd.nextInt(50000))
        val text =
          if (i % 10 == 1) (words ++ Seq("near", "dup", "tail")).mkString(" ")
          else words.mkString(" ")
        (i.toString, text)
      }.toDF("doc_id", "text")
        .write.mode("overwrite").parquet(dir)
    }
    val docs = spark.read.parquet(dir)

    def time(what: String)(body: => Long): (String, Double, Long) = {
      val t0 = System.nanoTime()
      val n = body
      (what, (System.nanoTime() - t0) / 1e9, n)
    }
    def timeOrInfeasible(what: String)(body: => Long): (String, Double, Long) =
      try time(what)(body)
      catch {
        case e: Exception if infeasible(e) =>
          System.err.println(s"[dedupbench] $what infeasible: " +
            String.valueOf(e.getMessage).takeWhile(_ != '\n'))
          (what, -1.0, -2L)
      }
    // GRAFT_DEDUP_STAGES=name1,name2 runs only the named stages — the
    // disk-heavy 10^7 rows (substr spill + decontam-bigbench survivor
    // join) cannot share one JVM's shuffle dir on this box's free space
    val onlyStages = sys.env.get("GRAFT_DEDUP_STAGES")
      .map(_.split(",").map(_.trim).toSet)
    def wanted(w: String): Boolean = onlyStages.forall(_.contains(w))

    // warm-up (JIT + codegen)
    Dedup.exactGroups(docs, "doc_id", "text").filter($"n_dups" > 1).count()

    var substrPairs: DataFrame = null
    var ccRounds = 0

    // scale knobs, printed with the results (no silent caps):
    //  - the ONE-SHOT minhash recomputes signatures for its verify join
    //    (the documented small-corpus convenience) — at ≥ 5M docs only
    //    the staged path (the 10^12 shape) is timed;
    //  - simhash 16-bit bands hold ~n/65536 CHANCE collisions each, so
    //    past ~3M docs the cap drops to 64 → strangers star-pair
    //    (linear) while true clusters stay fully paired (see
    //    Dedup.simhashCandidates scaladoc)
    val runOneShot = nDocs < 5000000L
    val simhashCap = if (nDocs >= 3000000L) 64 else 4096

    val stages: Seq[(String, Boolean, () => Long)] = Seq(
      ("exact", false, () => {
        Dedup.exactGroups(docs, "doc_id", "text")
          .filter($"n_dups" > 1).count()
      }),
      ("minhash_lsh", false, () => {
        if (runOneShot)
          Dedup.minhashCandidates(docs, "doc_id", "text",
            numHashes = 64, bands = 16, minJaccard = 0.7).count()
        else -1L // skipped: staged path is the at-scale shape
      }),
      // the 10^12-scale shape measured as the 10^12-scale shape:
      // signatures computed ONCE and materialized to a parquet staging
      // table; banding AND the verify join then read the staging table —
      // no signature recompute (vs the one-shot path above, which
      // rebuilds the signature plan for its verify join)
      ("minhash_staged", false, () => {
        val sigDir = s"/tmp/graft_dedup_bench/sigs=$nDocs"
        Dedup.minhashSignatures(docs, "doc_id", "text", numHashes = 64)
          .write.mode("overwrite").parquet(sigDir)
        val sigs = spark.read.parquet(sigDir)
        Dedup.minhashCandidatesFromSigs(sigs,
          numHashes = 64, bands = 16, minJaccard = 0.7).count()
      }),
      // group assembly over the staged candidates: pairs → components.
      // It reads the signatures minhash_staged writes in THIS run, so it
      // is skipped without that stage rather than reading stale ones.
      ("cc_groups", false, () => {
        if (!wanted("minhash_staged")) -1L
        else {
          val sigs =
            spark.read.parquet(s"/tmp/graft_dedup_bench/sigs=$nDocs")
          val pairs = Dedup.minhashCandidatesFromSigs(sigs,
            numHashes = 64, bands = 16, minJaccard = 0.7)
          val (g, rounds) =
            graft.ops.ConnectedComponents.groupsWithRounds(pairs)
          ccRounds = rounds
          g.count()
        }
      }),
      ("simhash", false, () => {
        Dedup.simhashCandidates(docs, "doc_id", "text", maxHamming = 3,
          maxBucket = simhashCap).count()
      }),
      // exact substring (shared 16-word-run) dedup: winnowed
      // fingerprints → capped pairing → exact run-hash intersect;
      // planted near-dups share their whole 120-word prefix, so each
      // planted pair must surface here too
      ("substr", false, () => {
        substrPairs = Dedup.substringPairs(docs, "doc_id", "text",
          runWords = 16, shingleK = 8).localCheckpoint()
        substrPairs.count()
      }),
      // staged variant: gram artifacts materialized once to parquet,
      // pair detection reads the stage (no re-tokenization per branch)
      ("substr_staged", false, () => {
        val gramDir = s"/tmp/graft_dedup_bench/grams=$nDocs"
        Dedup.substringGrams(docs, "doc_id", "text",
          runWords = 16, shingleK = 8)
          .write.mode("overwrite").parquet(gramDir)
        Dedup.substringPairsFromGrams(
          spark.read.parquet(gramDir)).count()
      }),
      ("decontam", false, () => {
        graft.ops.Decontaminate.contaminationHits(
          docs, "doc_id", "text",
          docs.filter(F.col("doc_id").cast("long") < 100).select("text"),
          "text", k = 8).count()
      }),
      // the SAME small-benchmark check through the Bloom-pruned path:
      // at broadcast-comfortable benchmark sizes the bloom build is
      // pure overhead — timed to expose that, not to flatter it
      ("decontam_bloom", false, () => {
        graft.ops.Decontaminate.contaminationHitsBloom(
          docs, "doc_id", "text",
          docs.filter(F.col("doc_id").cast("long") < 100).select("text"),
          "text", k = 8, fpp = 0.001).count()
      }),
      // the shape the bloom path EXISTS for: a benchmark set of 10% of
      // the corpus (~1.1M distinct shingles per 10^5 benchmark docs) —
      // far past broadcast comfort. Both paths timed on the identical
      // inputs; outputs are identical by the no-false-negative
      // construction (spec-pinned in OpsSpec), so the comparison is
      // pure cost.
      ("decontam_bigbench", true, () => {
        graft.ops.Decontaminate.contaminationHits(
          docs, "doc_id", "text",
          docs.filter(F.col("doc_id").cast("long") < nDocs / div)
            .select("text"),
          "text", k = 8).count()
      }),
      ("decontam_bloom_bigbench", true, () => {
        graft.ops.Decontaminate.contaminationHitsBloom(
          docs, "doc_id", "text",
          docs.filter(F.col("doc_id").cast("long") < nDocs / div)
            .select("text"),
          "text", k = 8, fpp = 0.001).count()
      }),
      ("fingerprint_scan", false, () => {
        docs.select(TextAnalysis.fingerprint($"text").as("fp"))
          .agg(F.count(F.lit(1))).head(); nDocs
      }))
    val results = stages.map { case (w, tolerant, body) =>
      if (!wanted(w)) (w, -1.0, -1L)
      else if (tolerant) timeOrInfeasible(w)(body())
      else time(w)(body())
    }

    // planted-pair recall of the staged path: every i ≡ 1 (mod 10)
    // plants the pair (i-1, i); recall must be 1.0 on this corpus
    val expected = (nDocs - 2) / 10 + 1
    val plantedFound = if (!wanted("minhash_staged")) -1L else {
      val sigs = spark.read.parquet(s"/tmp/graft_dedup_bench/sigs=$nDocs")
      val planted = spark.range(0L, nDocs).filter($"id" % 10 === 1)
        .select(($"id" - 1).cast("string").as("id_a"),
          $"id".cast("string").as("id_b"))
      Dedup.minhashCandidatesFromSigs(sigs,
          numHashes = 64, bands = 16, minJaccard = 0.7)
        .join(planted, Seq("id_a", "id_b"), "left_semi").count()
    }
    val recall =
      if (plantedFound < 0) -1.0 else plantedFound.toDouble / expected

    // substring-dedup recall on the same planted pairs (each shares its
    // predecessor's full 120-word prefix, far beyond the 16-word run)
    val substrRecall = if (substrPairs == null) -1.0 else {
      val planted = spark.range(0L, nDocs).filter($"id" % 10 === 1)
        .select(($"id" - 1).cast("string").as("id_a"),
          $"id".cast("string").as("id_b"))
      substrPairs.join(planted, Seq("id_a", "id_b"), "left_semi")
        .count().toDouble / expected
    }

    val fields = results.map {
      // a skipped stage must not print a fabricated rate — the same
      // plausible-number-for-a-dead-stage defect Bench.measureQueries
      // fixed this round
      case (w, _, -1L) => s""""$w":{"skipped":true}"""
      case (w, _, -2L) => s""""$w":{"infeasible":true}"""
      case (w, secs, found) =>
        f""""$w":{"sec":$secs%.2f,"docs_per_sec":${nDocs / secs}%.0f,"found":$found}"""
    }.mkString(",")
    println(f"""{"dedup_bench":{"n_docs":$nDocs,"cpus":$cpus,$fields,"planted_recall":$recall%.4f,"substr_recall":$substrRecall%.4f,"cc_rounds":$ccRounds,"one_shot_skipped":${!runOneShot},"simhash_bucket_cap":$simhashCap,"bigbench_docs":${nDocs / div}}}""")
    spark.stop()
  }
}
