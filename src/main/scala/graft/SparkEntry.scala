package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

import graft.checks.{ColumnStats, DriftCheck}
import graft.compile.{ConstraintCompiler, JsonSchemaImport}
import graft.dsl.Constraint._
import graft.dsl.ConstraintSuite
import graft.exec.Validator
import graft.ops.{Dedup, Similarity, TextAnalysis}
import graft.sketch.TDigestQuantiles

/**
 * Driver contract (see SURVEY.md §7): one entry per implemented operator
 * family, each runnable on `/root/testdata/sf*` and (where expressible)
 * paired with equivalent DuckDB SQL in [[SparkEntry.oracleSql]].
 *
 * The engine's own input table (`input_hint` tokenized sequences) is
 * synthesized by [[graft.gen.SequenceGen]]; these queries bind the same
 * operators to the driver's `documents` / `embeddings` / TPC-H-ish tables
 * so the DuckDB oracle can check them.
 */
object SparkEntry {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def table(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Spread a narrow scan across the session's cores. The bench tables
    * arrive as ONE small parquet file each, so a plain scan is a single
    * split and every per-row pipeline upstream of the first exchange
    * (shingle hashing, SimHash, JSON render/parse) runs on one
    * core no matter how many the session has — the input-skew shape of
    * guide §2.5 ("one huge unsplittable file: repartition immediately
    * after the read"). Keyed on `key` (deterministic — a round-robin
    * repartition re-deals rows under task retry, SPARK-38388), explicit
    * partition count (= the session's default parallelism, derived from
    * the master, never a constant) because AQE would coalesce a 0.6 MB
    * exchange right back to one partition. At warehouse scale the file
    * count exceeds the cores and this helper is the wrong tool; it
    * adapts the queries to the single-file bench layout. Used ONLY
    * where an interleaved A/B showed a win — the pipelines whose
    * full-text pass IS the dominant executed-once cost (the shingle
    * explode of decontamination, the gram aggregate of t_repetition).
    * Everywhere else it measured as a wash or a loss: the candidate-
    * pruned dedup pipelines re-execute the exchange per consuming job,
    * and the sub-100 ms queries pay more in the extra stage than the
    * parallelism returns. Results must also be exactly partition-
    * invariant (integer/count/min/max aggregates, per-row maps);
    * floating-point-SUM aggregations (avg, PSI, t-digest) must keep
    * the plain scan so their summation order — and hence their
    * 6-digit-rounded oracle values — cannot move. */
  private def spread(s: SparkSession, df: DataFrame,
      key: String): DataFrame =
    df.repartition(s.sparkContext.defaultParallelism, F.col(key))

  /** Near-dup test corpus: every document plus a suffixed variant
    * (planted pairs at ids +1000000) — the same construction the DuckDB
    * oracles rebuild in SQL. */
  private def nearDupCorpus(s: SparkSession, dir: String): DataFrame = {
    // NOT spread: after candidate-side pruning, the corpus text feeds
    // exactly one cheap codegen pass per consumer (signature/fingerprint
    // hashing) plus broadcast-semi-pruned verify branches — a full-text
    // exchange here re-executes per consuming job and costs more than
    // the serial pass it would parallelize (A/B-measured 1.9 s vs 3.3 s
    // on d_simhash)
    val d = docs(s, dir).select(F.col("doc_id"), F.col("text"))
    d.unionAll(d.select(
      (F.col("doc_id") + 1000000).as("doc_id"),
      F.concat(F.col("text"), F.lit(" graft variant suffix")).as("text")))
  }

  private val QProbs = Seq(0.25, 0.5, 0.75, 0.95, 0.99)
  private val QNames = Seq("q25", "q50", "q75", "q95", "q99")

  /** Corpus for the substring-dedup queries: documents < 100 plus
    * planted composites embedding the first 20 words of each source
    * doc < 30 inside different surroundings — the construction the
    * DuckDB oracle rebuilds verbatim. */
  private def substrCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(F.col("doc_id"), F.col("text"))
      .filter(F.col("doc_id") < 100)
    val w = F.split(F.trim(F.col("text")), "\\s+")
    val planted = d.filter(F.col("doc_id") < 30).select(
      (F.col("doc_id") + 3000000).as("doc_id"),
      F.concat(F.lit("prelude tokens before the copied span "),
        F.array_join(F.slice(w, 1, 20), " "),
        F.lit(" trailing padding after the span")).as("text"))
    d.unionAll(planted)
  }

  /** The row-local suite used by the validation queries (compiled once —
    * the compile-once/validate-many contract). */
  private val docSuite = ConstraintSuite("documents-v1", Seq(
    NotNull("docid_nn", "doc_id"),
    Bounds("nchars_max", "n_chars", None, Some(BigDecimal(400))),
    IsIn("lang_known", "lang", Seq("en", "de", "fr", "es")),
    ExprIs("nchars_len", "n_chars = length(text)",
      Some("concat(n_chars, ':', length(text))"), "n_chars == length(text)")))

  /** Suite for the raw-JSON-document queries: the reference's literal
    * instance shape (a JSON string per document) validated at table
    * scale. Row-local only — the doc engine has no dataset scope. */
  private val jsonDocSuite = ConstraintSuite("documents-json-v1", Seq(
    NotNull("docid_nn", "doc_id"),
    Bounds("nchars_max", "n_chars", None, Some(BigDecimal(400))),
    IsIn("lang_known", "lang", Seq("en", "de", "fr", "es")),
    LengthBounds("text_min", "text", Some(200), None),
    Matches("src_shape", "source", "^src[0-9]+$"),
    TypeIs("nchars_int", "n_chars", "integer")))

  /** One schema literal for every schema-known JSON path — editing it
    * in one query but not its sibling would silently break the
    * shared-oracle parity (the drift class substrCorpus exists for). */
  private val docJsonSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
  }

  /** documents rendered as one raw JSON string per row (the JSONL
    * corpus shape). */
  private def jsonDocs(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      F.col("doc_id").cast("string").as("id"),
      F.to_json(F.struct(F.col("doc_id"), F.col("text"), F.col("lang"),
        F.col("source"), F.col("n_chars"))).as("js"))

  /** Flagship: detail-path validation verdicts over documents at
    * sf0.001 (driver smoke-checks rows > 0). */
  def entry(spark: SparkSession): DataFrame = {
    val df = docs(spark, "/root/testdata/sf0.001")
    Validator.validateWithDetails(
      df, ConstraintCompiler.compile(docSuite), Seq("source"), "doc_id")
      .verdicts.orderBy("source")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- validation engine (A4/A5 + C1-C5) --------------------------
    "v_violations" -> ((s, dir) => {
      val suite = ConstraintCompiler.compile(docSuite)
      Validator.validateWithDetails(docs(s, dir), suite, Seq("source"))
        .violations.orderBy("doc_id", "constraint_id")
    }),
    "v_verdict" -> ((s, dir) => {
      val suite = ConstraintCompiler.compile(docSuite)
      Validator.validate(docs(s, dir), suite, Seq("source"))
        .orderBy("source")
    }),
    "v_suggest" -> ((s, dir) => {
      // constraint-suite bootstrapping: the tall per-column profile
      // SuiteSuggest folds into a suggested DSL suite; the oracle
      // replays every statistic (incl. the enum-candidacy rule and its
      // comma guard) per column in SQL. Sentinels stand in for
      // type-inapplicable stats so the frame carries no NULL cells.
      val prof = graft.compile.SuiteSuggest.profile(docs(s, dir))
      prof.select(
        F.col("column").as("col_name"),
        F.col("n_rows"), F.col("null_count"),
        F.coalesce(F.col("n_distinct"), F.lit(-1L)).as("n_distinct"),
        F.round(F.coalesce(F.col("min_num"), F.lit(-1.0)), 6).as("min_num"),
        F.round(F.coalesce(F.col("max_num"), F.lit(-1.0)), 6).as("max_num"),
        F.coalesce(F.col("len_min"), F.lit(-1L)).as("len_min"),
        F.coalesce(F.col("len_max"), F.lit(-1L)).as("len_max"),
        F.coalesce(F.col("enum_vals"), F.lit("")).as("enum_vals"))
        .orderBy("col_name")
    }),
    "v_stats" -> ((s, dir) => {
      val prof = ColumnStats.profile(docs(s, dir), Seq("source"))
      val rounded = prof.schema.fields.map { f =>
        if (f.dataType == org.apache.spark.sql.types.DoubleType)
          F.round(F.col(f.name), 6).as(f.name)
        else F.col(f.name)
      }
      prof.select(rounded.toSeq: _*).orderBy("source")
    }),
    "v_import" -> ((s, dir) => {
      // an ACTUAL JSON Schema document (the reference's native input
      // language) imported and validated against lineitem; the oracle
      // re-derives each assertion as SQL. Projection drops `observed`
      // (double-formatting differs between engines) — (doc_id,
      // instance_path) identifies the constraint, `expected` pins its
      // semantics.
      val schemaJson = """{
        "$id": "lineitem-v1",
        "type": "object",
        "required": ["l_orderkey", "l_returnflag"],
        "properties": {
          "l_quantity": {"type": "number", "minimum": 1, "maximum": 45},
          "l_discount": {"minimum": 0, "exclusiveMaximum": 0.1},
          "l_returnflag": {"enum": ["N", "R"]},
          "l_linestatus": {"pattern": "^[OF]$"}
        }
      }"""
      val suite = ConstraintCompiler.compile(
        JsonSchemaImport.translate(schemaJson))
      val li = table(s, dir, "lineitem").withColumn("_rid",
        F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber")))
      Validator.validateWithDetails(li, suite, Seq.empty, "_rid")
        .violations.select("doc_id", "instance_path", "expected")
        .orderBy("doc_id", "instance_path")
    }),
    "v_docjson" -> ((s, dir) => {
      // the reference's LITERAL contract at table scale: each row is a
      // raw JSON string, validated by the single-document engine inside
      // a distributed map (suite compiled once on the driver, shipped
      // in the closure). The oracle re-derives every verdict from the
      // typed columns the JSON was rendered from — an independent path
      // that checks render → parse → validate end-to-end.
      val compiled = graft.exec.JsonValidator.compile(jsonDocSuite)
      graft.exec.JsonValidator
        .violations(jsonDocs(s, dir), "id", "js", compiled)
        .orderBy("doc_id", "constraint_id")
    }),
    "v_docjson_typed" -> ((s, dir) => {
      // same documents, same suite, SCHEMA-KNOWN lowering: one
      // from_json projection onto typed columns, then the Catalyst
      // engine (codegen). Shares v_docjson's oracle string — the
      // execution paths are pinned to identical results.
      graft.exec.JsonValidator
        .violationsTyped(jsonDocs(s, dir), "id", "js", docJsonSchema,
          jsonDocSuite)
        .orderBy("doc_id", "constraint_id")
    }),
    "v_docjson_varcol" -> ((s, dir) => {
      // third execution path: the table PERSISTS a VariantType column
      // (the lakehouse storage shape) — parse once at write time, then
      // validate straight off the stored binary: NO parse_json in the
      // read plan, and a shredded variant scan prunes to the addressed
      // subcolumns. Shares the same oracle string as the other two.
      val vdir = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        "graft-varcol-" + dir.replaceAll("[^A-Za-z0-9.]", "_")).toString
      jsonDocs(s, dir)
        .select(F.col("id"), F.try_parse_json(F.col("js")).as("v"))
        .write.mode("overwrite").parquet(vdir)
      graft.exec.JsonValidator
        .violationsVariantColumn(s.read.parquet(vdir), "id", "v",
          docJsonSchema, jsonDocSuite)
        .orderBy("doc_id", "constraint_id")
    }),
    "v_unique" -> ((s, dir) => {
      val suite = ConstraintCompiler.compile(ConstraintSuite("u",
        Seq(Unique("uniq_orderkey", "l_orderkey"))))
      Validator.validateWithDetails(
          table(s, dir, "lineitem"), suite, Seq.empty, "l_orderkey")
        .violations.orderBy("doc_id")
    }),
    "v_ri" -> ((s, dir) => {
      val suite = ConstraintCompiler.compile(ConstraintSuite("r",
        Seq(RefIntegrity("ri_nation", "c_nationkey",
          "nation10", "n_nationkey"))))
      val dim = table(s, dir, "nation").filter(F.col("n_nationkey") < 10)
      Validator.validateWithDetails(
          table(s, dir, "customer"), suite, Seq.empty, "c_custkey",
          dims = Map("nation10" -> dim))
        .violations.orderBy("doc_id")
    }),
    "v_drift" -> ((s, dir) => {
      DriftCheck("drift_nchars", "n_chars", 0.0, 640.0, 16, "psi",
          threshold = 0.25, expected = "psi(n_chars) <= 0.25", minRows = 1L)
        .metrics(docs(s, dir), Seq("source"))
        .select(F.concat(F.lit("source="), F.col("source")).as("partition"),
          F.round(F.col("metric"), 6).as("psi"))
        .orderBy("partition")
    }),
    "v_window" -> ((s, dir) => {
      // event-time windowed verdicts (batch face of the streaming path):
      // the window-start becomes a verdict partition column
      val suite = ConstraintCompiler.compile(ConstraintSuite("w", Seq(
        Bounds("value_range", "value", Some(BigDecimal(0)),
          Some(BigDecimal(400))))))
      val ev = table(s, dir, "events").withColumn("w_start",
        F.window(F.col("ts"), "1 hour").getField("start"))
      Validator.validate(ev, suite, Seq("w_start", "event_type"))
        .orderBy("w_start", "event_type")
    }),
    "v_tokdrift" -> ((s, dir) => {
      // token-histogram drift (C5b) bound to the documents table: the
      // "token" stream is the word-length sequence of each text (a
      // deterministic, SQL-reproducible element array), bucketed
      // pmod(len, 8) — same PSI math as v_drift but over exploded
      // array elements with map-side-combined counts.
      import graft.checks.ArrayDriftCheck
      val d = docs(s, dir).withColumn("wl",
        F.transform(F.split(F.trim(F.lower(F.col("text"))), "\\s+"),
          w => F.length(w)))
      ArrayDriftCheck("tokdrift", "wl", buckets = 8, metric = "psi",
          threshold = 0.1, expected = "psi(word lengths) <= 0.1",
          minCount = 1L)
        .metrics(d, Seq("source"))
        .select(F.concat(F.lit("source="), F.col("source")).as("partition"),
          F.round(F.col("metric"), 6).as("psi"))
        .orderBy("partition")
    }),
    "v_tdigest" -> ((s, dir) => {
      // t-digest vs the EXACT quantiles, as oracle-checkable output:
      // the exact values (rounded) hash-compare against DuckDB's
      // quantile_cont, and the sketch's accuracy contract (within 2%
      // relative or 0.5 absolute of exact) is emitted as booleans that
      // must all be true.
      val td = TDigestQuantiles(QProbs)
      val agged = docs(s, dir).agg(
        td.column(F.col("n_chars").cast("double")).as("qs"),
        F.expr("percentile(CAST(n_chars AS DOUBLE), " +
          "array(0.25D, 0.5D, 0.75D, 0.95D, 0.99D))").as("ex"))
      val cols = QNames.zipWithIndex.flatMap { case (n, i) =>
        val ex = F.element_at(F.col("ex"), i + 1)
        val qd = F.element_at(F.col("qs"), i + 1)
        Seq(
          F.round(ex, 2).as(n),
          (F.abs(qd - ex) <=
            F.greatest(F.abs(ex) * 0.02, F.lit(0.5))).as(s"${n}_ok"))
      }
      agged.select(cols: _*)
    }),

    // ---- dedup -------------------------------------------------------
    "d_exact" -> ((s, dir) => {
      val mdKey = (t: Column) =>
        F.md5(F.encode(F.regexp_replace(F.trim(F.lower(t)), "\\s+", " "),
          "UTF-8"))
      Dedup.exactGroups(docs(s, dir), "doc_id", "text", mdKey)
        .orderBy("fp")
    }),
    "d_minhash" -> ((s, dir) => {
      // Full MinHash+LSH near-dup pipeline, made value-exact checkable:
      // 32 bands × 2 rows pushes LSH recall at J ≥ 0.8 to 1 − 4e-15, the
      // candidates are verified with EXACT shingle Jaccard, and only
      // verified pairs are emitted — a set DuckDB derives independently
      // by brute-force exact Jaccard over all pairs. (The probabilistic
      // est_jaccard stays spec-tested in OpsSpec; it has no exact oracle
      // by nature.)
      // one staged (sig, grams) projection — the corpus text is read
      // once; banding consumes sig, the exact verify consumes grams
      // (verify shingle size == signature shingle size here). The
      // est-Jaccard join-back is skipped: at minJaccard = 0 it prunes
      // nothing and the exact verify follows anyway.
      // The corpus is SPREAD into the eager checkpoint: the union scans
      // the single small file per branch, so the staged table would
      // otherwise hold 2-3 partitions and EVERY consumer stage (band
      // exchange + both verify joins, each deserializing the fat gram
      // arrays) would run 3 tasks on a 32-core box. The repartition
      // executes exactly once — inside the checkpoint job — so no
      // consumer re-executes the exchange (the r6 spread-revert concern
      // applied to unstaged plans).
      val corpus = spread(s, nearDupCorpus(s, dir), "doc_id")
      val sg = Dedup.minhashSignaturesWithGrams(corpus, "doc_id", "text",
        numHashes = 64, shingleK = 5).localCheckpoint()
      val cands = Dedup.minhashBandPairs(sg, numHashes = 64, bands = 32)
      Dedup.ngramJaccardFromGrams(cands, sg)
        .filter(F.col("jaccard") >= 0.8)
        .select("id_a", "id_b", "jaccard")
        .orderBy("id_a", "id_b")
    }),
    "d_simhash" -> ((s, dir) => {
      // SimHash banding pipeline, deterministically checkable: banded
      // candidates at Hamming ≤ 3, verified down to pairs with EQUAL
      // normalized fingerprints (identical normalized text ⟹ identical
      // SimHash ⟹ Hamming 0 ⟹ recall exactly 1). DuckDB derives the
      // same set from a fingerprint self-join. Near-dup (0 < Hamming ≤ 3)
      // behavior stays spec-tested in OpsSpec. The corpus plants EXACT
      // copies (ids +2000000, reformatted with double spaces — same
      // normalized fingerprint) alongside the suffix variants, so the
      // emitted set is 500+ pairs, not vacuously empty.
      val d0 = docs(s, dir).select(F.col("doc_id"), F.col("text"))
      val copies = d0.select(
        (F.col("doc_id") + 2000000).as("doc_id"),
        F.regexp_replace(F.col("text"), " ", "  ").as("text"))
      val corpus = nearDupCorpus(s, dir).unionAll(copies)
      // candidate set materialized once (small by the banding contract)
      // and its ids broadcast-semi-joined BEFORE the md5 fingerprint
      // projection: only candidate docs pay the normalize+md5 pass,
      // not the whole corpus twice (once per verify-join side). Inner
      // joins on id make the pruning result-identical.
      val cands = Dedup.simhashCandidates(corpus, "doc_id", "text",
        maxHamming = 3).localCheckpoint()
      val candIds = cands.select(F.col("id_a").as("_cid"))
        .unionAll(cands.select(F.col("id_b").as("_cid"))).distinct()
      val fp = corpus
        .join(F.broadcast(candIds),
          F.col("doc_id").cast("string") === F.col("_cid"), "left_semi")
        .select(
        F.col("doc_id").cast("string").as("_id"),
        F.md5(F.encode(F.regexp_replace(
          F.trim(F.lower(F.col("text"))), "\\s+", " "), "UTF-8")).as("_fp"))
      cands
        .join(fp.withColumnRenamed("_id", "id_a")
          .withColumnRenamed("_fp", "fp_a"), Seq("id_a"))
        .join(fp.withColumnRenamed("_id", "id_b")
          .withColumnRenamed("_fp", "fp_b"), Seq("id_b"))
        .filter(F.col("fp_a") === F.col("fp_b"))
        .select(F.col("id_a"), F.col("id_b"),
          F.col("hamming").cast("int").as("hamming"))
        .orderBy("id_a", "id_b")
    }),
    "d_embed" -> ((s, dir) => {
      // Embedding near-dup with structurally-guaranteed recall: planted
      // variants are POSITIVELY SCALED copies (×2), so every sign-bit
      // LSH bucket matches its source exactly and the planted pairs are
      // recovered with probability 1; cosine ≥ 0.999 filters the random
      // natural pairs (max ≈ 0.42 in this corpus).
      val base = table(s, dir, "embeddings").filter(F.col("vec_id") < 200)
        .select(F.col("vec_id"),
          F.col("embedding").cast("array<double>").as("v"))
      val corpus = base.select(
          F.col("vec_id").cast("string").as("vec_id"), F.col("v"))
        .unionAll(base.select(
          (F.col("vec_id") + 1000000).cast("string").as("vec_id"),
          F.transform(F.col("v"), x => x * 2.0).as("v")))
      Dedup.embeddingNearDup(corpus, "vec_id", "v", dim = 64,
          minCosine = 0.999, planes = 12)
        .orderBy("id_a", "id_b")
    }),
    "d_substr" -> ((s, dir) => {
      // exact substring (shared 16-word-run) dedup over documents plus
      // planted composites that EMBED the first 20 words of each source
      // doc inside different surroundings — the Lee-et-al modality at
      // word granularity. The oracle brute-forces every pair's distinct
      // shared 16-grams from the same construction.
      Dedup.substringPairs(substrCorpus(s, dir), "doc_id", "text",
          runWords = 16, shingleK = 8)
        .orderBy("id_a", "id_b")
    }),
    "d_ngram" -> ((s, dir) => {
      val d = docs(s, dir)
      val ids = d.filter(F.col("doc_id") < 20)
        .select(F.col("doc_id").cast("string").as("id"))
      val pairs = ids.select(F.col("id").as("id_a"))
        .crossJoin(ids.select(F.col("id").as("id_b")))
        .filter(F.col("id_a") < F.col("id_b"))
      // dense 20-doc pair grid: candidate pruning's fixed cost exceeds
      // the whole-corpus gram pass here — see ngramJaccard scaladoc
      Dedup.ngramJaccard(pairs, d, "doc_id", "text", k = 3,
          pruneToCandidates = false)
        .select("id_a", "id_b", "jaccard")
        .orderBy("id_a", "id_b")
    }),

    "d_groups" -> ((s, dir) => {
      // Connected-components dedup grouping: pairs → keep/drop GROUPS.
      // The corpus plants CHAINS as well as triangles: X ~ X+1M (small
      // suffix) and X+1M ~ X+3M (longer suffix) always clear J >= 0.8,
      // while X ~ X+3M may not for short docs — components must be
      // closed transitively, which the alternating large-star/
      // small-star rounds do in O(log n). DuckDB re-derives the same
      // groups from brute-force exact-Jaccard pairs + a recursive
      // reachability CTE.
      val d0 = docs(s, dir).select(F.col("doc_id"), F.col("text"))
      val corpus = nearDupCorpus(s, dir).unionAll(d0.select(
        (F.col("doc_id") + 3000000).as("doc_id"),
        F.concat(F.col("text"),
          F.lit(" graft variant suffix extra trailing words")).as("text")))
      // same staged (sig, grams) + band-pairs shape as d_minhash: one
      // text pass feeds banding AND the exact verify; spread into the
      // checkpoint for the same 3-partition-consumer reason
      val sg = Dedup.minhashSignaturesWithGrams(spread(s, corpus, "doc_id"),
        "doc_id", "text", numHashes = 64, shingleK = 5).localCheckpoint()
      val cands = Dedup.minhashBandPairs(sg, numHashes = 64, bands = 32)
      val pairs = Dedup.ngramJaccardFromGrams(cands, sg)
        .filter(F.col("jaccard") >= 0.8)
      graft.ops.ConnectedComponents.groups(pairs).orderBy("doc_id")
    }),

    "d_decontam" -> ((s, dir) => {
      // benchmark decontamination: docs 0-19 play the eval set; the
      // corpus (docs + suffix variants) is scanned for k=8 shingle
      // overlap — broadcast benchmark-shingle join, per-doc hit counts.
      // DuckDB re-derives the same evidence by exact intersection.
      // spread here: unlike the minhash/simhash queries the full-text
      // consumer (shingle explode → probe → agg) IS the whole pipeline
      // and executes once, so parallelizing the single-split scan wins
      val corpus = spread(s, nearDupCorpus(s, dir), "doc_id")
      val bench = docs(s, dir).filter(F.col("doc_id") < 20)
        .select(F.col("text"))
      graft.ops.Decontaminate.contaminationHits(
          corpus, "doc_id", "text", bench, "text", k = 8)
        .orderBy("doc_id")
    }),

    "d_decontam_bloom" -> ((s, dir) => {
      // the same contamination check through the Bloom-pruned path (the
      // too-big-to-broadcast benchmark shape): bloom prunes the corpus
      // shingles in codegen, survivors verify in an ordinary join —
      // result identical by construction, pinned to d_decontam's oracle
      // spread for the same reason as d_decontam
      val corpus = spread(s, nearDupCorpus(s, dir), "doc_id")
      val bench = docs(s, dir).filter(F.col("doc_id") < 20)
        .select(F.col("text"))
      graft.ops.Decontaminate.contaminationHitsBloom(
          corpus, "doc_id", "text", bench, "text", k = 8, fpp = 0.001)
        .orderBy("doc_id")
    }),

    "d_sample" -> ((s, dir) => {
      // deterministic stratified sampling of the training mix: keep 50%
      // of en, 35% of zh, 20% of everything else — membership a pure
      // function of doc_id (stable under repartition/resume), bucket
      // emitted for audit. DuckDB replays the congruential arithmetic
      // verbatim, so the kept set matches value-exactly.
      graft.ops.Sampling.stratifiedSample(docs(s, dir), "doc_id", "lang",
          Map("en" -> 0.5, "zh" -> 0.35), defaultRate = 0.2)
        .select(F.col("doc_id"), F.col("lang"), F.col("source"),
          F.col("sample_bucket"))
        .orderBy("doc_id")
    }),

    "t_repetition" -> ((s, dir) => {
      // Gopher-style 2-gram repetition profile per document: total /
      // distinct gram counts, top-gram share, duplicate fraction
      graft.ops.TextAnalysis.ngramRepetition(
          spread(s, docs(s, dir), "doc_id"), "doc_id", "text", n = 2)
        .orderBy("doc_id")
    }),

    // ---- similarity search -------------------------------------------
    "s_knn_brute" -> ((s, dir) => {
      val e = table(s, dir, "embeddings").select(
        F.col("vec_id").cast("string").as("vec_id"),
        F.col("embedding").cast("array<double>").as("embedding"))
      val q = table(s, dir, "embeddings").filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").cast("string").as("vec_id"),
          F.col("embedding").cast("array<double>").as("embedding"))
      Similarity.cosineTopK(q, e, "vec_id", "embedding", k = 3)
        .withColumn("rank", F.col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),
    "s_knn_lsh" -> ((s, dir) => {
      val e = table(s, dir, "embeddings").select(
        F.col("vec_id").cast("string").as("vec_id"),
        F.col("embedding").cast("array<double>").as("embedding"))
      val q = table(s, dir, "embeddings").filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").cast("string").as("vec_id"),
          F.col("embedding").cast("array<double>").as("embedding"))
      Similarity.lshTopK(q, e, "vec_id", "embedding", k = 3, dim = 64,
          planes = 10)
        .withColumn("rank", F.col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    "s_knn_ivf" -> ((s, dir) => {
      // IVF ANN with the SQL-reproducible quantizer (first-16 corpus
      // vectors, normalized) so the oracle replays the whole pipeline —
      // assignment, probing, scoring, ranking. The k-means quantizer
      // (Ivf.fitKMeans) is spec-tested; a trained model has no static
      // SQL oracle by nature.
      val e = table(s, dir, "embeddings").select(
        F.col("vec_id").cast("string").as("vec_id"),
        F.col("embedding").cast("array<double>").as("embedding"))
      val q = table(s, dir, "embeddings").filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").cast("string").as("vec_id"),
          F.col("embedding").cast("array<double>").as("embedding"))
      val cents = graft.ops.Ivf.centroidsFromRows(
        table(s, dir, "embeddings")
          .select(F.col("vec_id"),
            F.col("embedding").cast("array<double>").as("embedding")),
        "vec_id", "embedding", k = 16)
      graft.ops.Ivf.topK(q, e, "vec_id", "embedding", k = 3,
          centroids = cents, nprobe = 4)
        .withColumn("rank", F.col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    // ---- text analysis ------------------------------------------------
    "t_tokens" -> ((s, dir) => {
      docs(s, dir).select(
          F.col("doc_id").cast("string").as("doc_id"),
          TextAnalysis.tokenCount(F.col("text")).cast("long").as("n_tokens"))
        .orderBy("doc_id")
    }),
    "t_quality" -> ((s, dir) => {
      TextAnalysis.qualityScore(docs(s, dir), "text")
        .select(
          F.col("doc_id").cast("string").as("doc_id"),
          F.col("alpha_ratio"), F.col("punct_ratio"), F.col("digit_ratio"),
          F.col("stopword_ratio"), F.col("mean_word_len"),
          F.col("quality_score"))
        .orderBy("doc_id")
    }),
    "t_langid" -> ((s, dir) => {
      docs(s, dir).select(
          F.col("doc_id").cast("string").as("doc_id"),
          TextAnalysis.langId(F.col("text")).as("lang_pred"))
        .orderBy("doc_id")
    }))

  // --------------------------------------------------------------------
  // DuckDB oracles — same column NAMES and (where feasible) types;
  // every double rounded identically on both sides.
  // --------------------------------------------------------------------

  private val docPred =
    "(doc_id IS NOT NULL) AND (n_chars <= 400) AND " +
      "(lang IN ('en','de','fr','es')) AND (n_chars = length(text))"

  /** Shared by v_docjson (doc-engine map), v_docjson_typed
    * (from_json + Catalyst) and v_docjson_varcol (stored variant):
    * ONE oracle string pins all three execution paths to identical
    * results, re-derived from the TYPED columns the JSON was rendered
    * from. `expected` texts are the compiler's own `expectedOf`
    * renderings. */
  private val docJsonOracle =
    """SELECT * FROM (
      |  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
      |         'nchars_max' AS constraint_id,
      |         CAST(n_chars AS VARCHAR) AS observed,
      |         'n_chars <= 400' AS expected
      |  FROM documents WHERE n_chars > 400
      |  UNION ALL
      |  SELECT CAST(doc_id AS VARCHAR), 'lang_known', lang,
      |         'lang in {en, de, fr, es}'
      |  FROM documents
      |  WHERE lang IS NOT NULL AND lang NOT IN ('en','de','fr','es')
      |  UNION ALL
      |  SELECT CAST(doc_id AS VARCHAR), 'text_min',
      |         'len=' || CAST(length(text) AS VARCHAR),
      |         'length(text) in [200, ∞]'
      |  FROM documents WHERE text IS NOT NULL AND length(text) < 200
      |  UNION ALL
      |  SELECT CAST(doc_id AS VARCHAR), 'src_shape', source,
      |         'source matches /^src[0-9]+$/'
      |  FROM documents
      |  WHERE source IS NOT NULL AND NOT regexp_matches(source, '^src[0-9]+$')
      |  UNION ALL
      |  SELECT CAST(doc_id AS VARCHAR), 'docid_nn', 'null',
      |         'doc_id not null'
      |  FROM documents WHERE doc_id IS NULL
      |) ORDER BY doc_id, constraint_id""".stripMargin

  /** d_substr: every pair's distinct shared 16-word runs, brute-forced
    * from the same planted corpus. */
  private val substrOracle =
    """WITH corpus AS (
      |  SELECT CAST(doc_id AS VARCHAR) AS id, text
      |  FROM documents WHERE doc_id < 100
      |  UNION ALL
      |  SELECT CAST(doc_id + 3000000 AS VARCHAR),
      |    'prelude tokens before the copied span ' ||
      |    array_to_string(
      |      (regexp_split_to_array(trim(text), '\s+'))[1:20], ' ') ||
      |    ' trailing padding after the span'
      |  FROM documents WHERE doc_id < 30),
      |g AS (
      |  SELECT id, list_distinct(list_transform(range(1, len(w) - 14),
      |      i -> array_to_string(w[i:i+15], ' '))) AS grams
      |  FROM (SELECT id,
      |          regexp_split_to_array(trim(lower(text)), '\s+') AS w
      |        FROM corpus)
      |  WHERE len(w) >= 16)
      |SELECT a.id AS id_a, b.id AS id_b,
      |  CAST(len(list_intersect(a.grams, b.grams)) AS INTEGER)
      |    AS n_shared_runs
      |FROM g a, g b
      |WHERE a.id < b.id AND len(list_intersect(a.grams, b.grams)) >= 1
      |ORDER BY id_a, id_b""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "v_import" ->
      """SELECT * FROM (
        |  SELECT CAST(l_orderkey AS VARCHAR) || '-' ||
        |           CAST(l_linenumber AS VARCHAR) AS doc_id,
        |         '/l_quantity' AS instance_path,
        |         'l_quantity >= 1 and <= 45' AS expected
        |  FROM lineitem WHERE NOT (l_quantity >= 1 AND l_quantity <= 45)
        |  UNION ALL
        |  SELECT CAST(l_orderkey AS VARCHAR) || '-' ||
        |           CAST(l_linenumber AS VARCHAR),
        |         '/l_discount', 'l_discount < 0.1'
        |  FROM lineitem WHERE NOT (l_discount < 0.1)
        |  UNION ALL
        |  SELECT CAST(l_orderkey AS VARCHAR) || '-' ||
        |           CAST(l_linenumber AS VARCHAR),
        |         '/l_returnflag', 'l_returnflag in {N, R}'
        |  FROM lineitem WHERE l_returnflag NOT IN ('N','R')
        |  UNION ALL
        |  SELECT CAST(l_orderkey AS VARCHAR) || '-' ||
        |           CAST(l_linenumber AS VARCHAR),
        |         '/l_linestatus', 'l_linestatus matches /^[OF]$/'
        |  FROM lineitem WHERE NOT regexp_matches(l_linestatus, '^[OF]$')
        |) ORDER BY doc_id, instance_path""".stripMargin,
    "v_docjson" -> docJsonOracle,
    "v_docjson_typed" -> docJsonOracle,
    "v_docjson_varcol" -> docJsonOracle,
    "v_violations" ->
      s"""SELECT * FROM (
         |  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         |         'nchars_max' AS constraint_id,
         |         CAST(n_chars AS VARCHAR) AS observed,
         |         'n_chars <= 400' AS expected,
         |         '/n_chars' AS instance_path
         |  FROM documents WHERE n_chars > 400
         |  UNION ALL
         |  SELECT CAST(doc_id AS VARCHAR), 'lang_known', lang,
         |         'lang in {en, de, fr, es}', '/lang'
         |  FROM documents WHERE lang NOT IN ('en','de','fr','es')
         |) ORDER BY doc_id, constraint_id""".stripMargin,
    "v_verdict" ->
      s"""SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(SUM(CASE WHEN NOT ($docPred) THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_bad_rows,
         |  bool_and($docPred) AS rows_ok,
         |  CAST(0 AS BIGINT) AS n_partition_violations,
         |  CAST(0 AS BIGINT) AS n_global_violations,
         |  bool_and($docPred) AS valid
         |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "v_suggest" -> {
      // one UNION ALL branch per documents column, replaying the
      // profile arithmetic exactly: null/distinct counts, numeric
      // bounds (as rounded doubles), string-length bounds, and the
      // enum-candidacy rule (1 <= n_distinct <= 16, no value carries
      // the ',' list separator) with lexicographic value order
      def branch(col: String, numeric: Boolean, string: Boolean) = {
        val lenMin = if (string) s"CAST(MIN(LENGTH($col)) AS BIGINT)"
          else "CAST(-1 AS BIGINT)"
        val lenMax = if (string) s"CAST(MAX(LENGTH($col)) AS BIGINT)"
          else "CAST(-1 AS BIGINT)"
        val minN = if (numeric) s"ROUND(CAST(MIN($col) AS DOUBLE), 6)"
          else "CAST(-1.0 AS DOUBLE)"
        val maxN = if (numeric) s"ROUND(CAST(MAX($col) AS DOUBLE), 6)"
          else "CAST(-1.0 AS DOUBLE)"
        s"""SELECT '$col' AS col_name,
           |  CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(SUM(CASE WHEN $col IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS null_count,
           |  CAST(count(DISTINCT $col) AS BIGINT) AS n_distinct,
           |  $minN AS min_num, $maxN AS max_num,
           |  $lenMin AS len_min, $lenMax AS len_max,
           |  CASE WHEN count(DISTINCT $col) BETWEEN 1 AND 16
           |    AND MAX(CASE WHEN CAST($col AS VARCHAR) LIKE '%,%'
           |             THEN 1 ELSE 0 END) = 0
           |   THEN string_agg(DISTINCT CAST($col AS VARCHAR), ','
           |                   ORDER BY CAST($col AS VARCHAR))
           |   ELSE '' END AS enum_vals
           |FROM documents""".stripMargin
      }
      Seq(branch("doc_id", numeric = true, string = false),
        branch("text", numeric = false, string = true),
        branch("lang", numeric = false, string = true),
        branch("source", numeric = false, string = true),
        branch("n_chars", numeric = true, string = false))
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n",
          "\n) ORDER BY col_name")
    },
    "v_stats" ->
      """SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS doc_id_nulls,
        |  MIN(doc_id) AS doc_id_min, MAX(doc_id) AS doc_id_max,
        |  ROUND(AVG(doc_id), 6) AS doc_id_avg,
        |  CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS text_nulls,
        |  ROUND(AVG(LENGTH(text)), 6) AS text_avg_len,
        |  CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS lang_nulls,
        |  ROUND(AVG(LENGTH(lang)), 6) AS lang_avg_len,
        |  CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_chars_nulls,
        |  MIN(n_chars) AS n_chars_min, MAX(n_chars) AS n_chars_max,
        |  ROUND(AVG(n_chars), 6) AS n_chars_avg
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "v_unique" ->
      """SELECT CAST(l_orderkey AS VARCHAR) AS doc_id,
        |  'uniq_orderkey' AS constraint_id,
        |  'count=' || CAST(count(*) AS VARCHAR) AS observed,
        |  'l_orderkey unique across dataset' AS expected,
        |  '/l_orderkey' AS instance_path
        |FROM lineitem GROUP BY l_orderkey HAVING count(*) > 1
        |ORDER BY doc_id""".stripMargin,
    "v_ri" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS doc_id,
        |  'ri_nation' AS constraint_id,
        |  CAST(c_nationkey AS VARCHAR) AS observed,
        |  'c_nationkey exists in nation10.n_nationkey' AS expected,
        |  '/c_nationkey' AS instance_path
        |FROM customer
        |WHERE c_nationkey NOT IN
        |  (SELECT n_nationkey FROM nation WHERE n_nationkey < 10)
        |ORDER BY doc_id""".stripMargin,
    "v_drift" ->
      """WITH h AS (
        |  SELECT 'source=' || source AS p,
        |    LEAST(15, GREATEST(0, CAST(FLOOR(CAST(n_chars AS DOUBLE) / 40.0) AS INT))) AS b,
        |    count(*) AS c
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
        |pt AS (SELECT p, SUM(c) AS t FROM h GROUP BY 1),
        |g AS (SELECT b, SUM(c) AS gc FROM h GROUP BY 1),
        |gt AS (SELECT SUM(c) AS t FROM h),
        |grid AS (SELECT pt.p, bb.b FROM pt
        |         CROSS JOIN (SELECT UNNEST(RANGE(16)) AS b) bb)
        |SELECT grid.p AS partition, ROUND(SUM(
        |  ((COALESCE(h.c,0) + 1e-6)/(CAST(pt.t AS DOUBLE) + 16e-6)
        |   - (COALESCE(g.gc,0) + 1e-6)/(CAST(gt.t AS DOUBLE) + 16e-6))
        |  * LN( ((COALESCE(h.c,0) + 1e-6)/(CAST(pt.t AS DOUBLE) + 16e-6))
        |      / ((COALESCE(g.gc,0) + 1e-6)/(CAST(gt.t AS DOUBLE) + 16e-6)) )
        |), 6) AS psi
        |FROM grid
        |LEFT JOIN h ON h.p = grid.p AND h.b = grid.b
        |JOIN pt ON pt.p = grid.p
        |LEFT JOIN g ON g.b = grid.b
        |CROSS JOIN gt
        |GROUP BY grid.p ORDER BY partition""".stripMargin,
    "v_window" ->
      """SELECT time_bucket(INTERVAL 1 HOUR, ts) AS w_start, event_type,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN NOT (value >= 0 AND value <= 400)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_rows,
        |  bool_and(value >= 0 AND value <= 400) AS rows_ok,
        |  CAST(0 AS BIGINT) AS n_partition_violations,
        |  CAST(0 AS BIGINT) AS n_global_violations,
        |  bool_and(value >= 0 AND value <= 400) AS valid
        |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,
    "d_exact" ->
      """SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
        |  CAST(count(*) AS BIGINT) AS n_dups,
        |  MIN(CAST(doc_id AS VARCHAR)) AS keep_id
        |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin,
    "d_substr" -> substrOracle,
    "d_ngram" ->
      """WITH g AS (
        |  SELECT CAST(doc_id AS VARCHAR) AS id,
        |    list_distinct(list_transform(range(1, len(w) - 1),
        |      i -> array_to_string(w[i:i+2], ' '))) AS grams
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |        FROM documents WHERE doc_id < 20))
        |SELECT a.id AS id_a, b.id AS id_b,
        |  ROUND(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |    / len(list_distinct(a.grams || b.grams)), 6) AS jaccard
        |FROM g a, g b WHERE a.id < b.id ORDER BY id_a, id_b""".stripMargin,
    "s_knn_brute" ->
      """WITH e AS (SELECT CAST(vec_id AS VARCHAR) AS id,
        |             CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT CAST(vec_id AS VARCHAR) AS id,
        |        CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.id AS query_id, c.id AS neighbor_id,
        |    ROUND(list_dot_product(q.v, c.v)
        |      / (sqrt(list_dot_product(q.v, q.v))
        |         * sqrt(list_dot_product(c.v, c.v))), 6) AS cosine
        |  FROM q, e c WHERE q.id != c.id),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)
        |SELECT query_id, neighbor_id, cosine, rank FROM ranked
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
    "t_tokens" ->
      """SELECT CAST(doc_id AS VARCHAR) AS doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END
        |    AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t_quality" ->
      """WITH f0 AS (
        |  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
        |    length(text) AS nc,
        |    length(regexp_replace(trim(text), '\s+', ' ', 'g')) AS ncn,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS nt,
        |    length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_punct,
        |    length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS n_upper,
        |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
        |    length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS n_alpha,
        |    len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      w -> list_contains(['the','a','an','and','or','of','to','is','are','was','in','on','at','it','this','that','with','for','as','by'], lower(w)))) AS n_stop
        |  FROM documents),
        |f AS (
        |  SELECT doc_id,
        |    ROUND(CAST(n_alpha AS DOUBLE) / GREATEST(nc, 1), 6) AS alpha_ratio,
        |    ROUND(CAST(n_punct AS DOUBLE) / GREATEST(nc, 1), 6) AS punct_ratio,
        |    ROUND(CAST(n_digit AS DOUBLE) / GREATEST(nc, 1), 6) AS digit_ratio,
        |    ROUND(CAST(n_stop AS DOUBLE) / CAST(GREATEST(nt, 1) AS DOUBLE), 6) AS stopword_ratio,
        |    ROUND(CAST(ncn - nt + 1 AS DOUBLE) / CAST(GREATEST(nt, 1) AS DOUBLE), 6) AS mean_word_len,
        |    nt AS n_tokens
        |  FROM f0)
        |SELECT doc_id, alpha_ratio, punct_ratio, digit_ratio,
        |  stopword_ratio, mean_word_len,
        |  ROUND(
        |    (CASE WHEN alpha_ratio >= 0.6 THEN 1.0 ELSE alpha_ratio / 0.6 END) * 0.25
        |    + (CASE WHEN stopword_ratio >= 0.05 THEN 1.0 ELSE stopword_ratio * 20.0 END) * 0.2
        |    + (CASE WHEN punct_ratio <= 0.2 THEN 1.0 WHEN punct_ratio <= 0.4 THEN 0.5 ELSE 0.0 END) * 0.2
        |    + (CASE WHEN digit_ratio <= 0.2 THEN 1.0 WHEN digit_ratio <= 0.5 THEN 0.5 ELSE 0.0 END) * 0.1
        |    + (CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 1.0 WHEN n_tokens BETWEEN 3 AND 9 THEN 0.5 ELSE 0.0 END) * 0.15
        |    + (CASE WHEN mean_word_len BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END) * 0.1
        |  , 6) AS quality_score
        |FROM f ORDER BY doc_id""".stripMargin,
    "t_langid" ->
      """WITH s AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |  FROM documents),
        |sc AS (SELECT doc_id,
        |  len(list_filter(w, x -> list_contains(['der','die','das','und','ist','nicht','ein','eine','mit','für','auf','sich','und','zu'], x))) AS s_de,
        |  len(list_filter(w, x -> list_contains(['the','and','of','to','is','in','that','it','with','for','was','his','are','this'], x))) AS s_en,
        |  len(list_filter(w, x -> list_contains(['el','la','los','las','y','es','una','por','que','en','para','con','del','se'], x))) AS s_es,
        |  len(list_filter(w, x -> list_contains(['le','la','les','et','est','une','pour','que','dans','qui','pas','vous','des','sur'], x))) AS s_fr,
        |  len(list_filter(w, x -> list_contains(['il','la','che','e','è','di','un','una','per','non','sono','con','del','si'], x))) AS s_it
        |  FROM s)
        |SELECT doc_id,
        |  CASE WHEN GREATEST(s_de, s_en, s_es, s_fr, s_it) <= 0 THEN 'und'
        |       WHEN s_de = GREATEST(s_de, s_en, s_es, s_fr, s_it) THEN 'de'
        |       WHEN s_en = GREATEST(s_de, s_en, s_es, s_fr, s_it) THEN 'en'
        |       WHEN s_es = GREATEST(s_de, s_en, s_es, s_fr, s_it) THEN 'es'
        |       WHEN s_fr = GREATEST(s_de, s_en, s_es, s_fr, s_it) THEN 'fr'
        |       WHEN s_it = GREATEST(s_de, s_en, s_es, s_fr, s_it) THEN 'it'
        |       ELSE 'und' END AS lang_pred
        |FROM sc ORDER BY doc_id""".stripMargin,
    "v_tokdrift" ->
      """WITH h AS (
        |  SELECT 'source=' || source AS p,
        |    CAST(length(w) % 8 AS BIGINT) AS b, count(*) AS c
        |  FROM (SELECT source,
        |          unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |        FROM documents)
        |  GROUP BY 1, 2),
        |pt AS (SELECT p, SUM(c) AS t FROM h GROUP BY 1),
        |g AS (SELECT b, SUM(c) AS gc FROM h GROUP BY 1),
        |gt AS (SELECT SUM(c) AS t FROM h),
        |grid AS (SELECT pt.p, bb.b FROM pt
        |         CROSS JOIN (SELECT UNNEST(RANGE(8)) AS b) bb)
        |SELECT grid.p AS partition, ROUND(SUM(
        |  ((COALESCE(h.c,0) + 1e-6)/(CAST(pt.t AS DOUBLE) + 8e-6)
        |   - (COALESCE(g.gc,0) + 1e-6)/(CAST(gt.t AS DOUBLE) + 8e-6))
        |  * LN( ((COALESCE(h.c,0) + 1e-6)/(CAST(pt.t AS DOUBLE) + 8e-6))
        |      / ((COALESCE(g.gc,0) + 1e-6)/(CAST(gt.t AS DOUBLE) + 8e-6)) )
        |), 6) AS psi
        |FROM grid
        |LEFT JOIN h ON h.p = grid.p AND h.b = grid.b
        |JOIN pt ON pt.p = grid.p
        |LEFT JOIN g ON g.b = grid.b
        |CROSS JOIN gt
        |GROUP BY grid.p ORDER BY partition""".stripMargin,
    "v_tdigest" ->
      """WITH q AS (SELECT quantile_cont(CAST(n_chars AS DOUBLE),
        |    [0.25, 0.5, 0.75, 0.95, 0.99]) AS l FROM documents)
        |SELECT ROUND(l[1], 2) AS q25, TRUE AS q25_ok,
        |       ROUND(l[2], 2) AS q50, TRUE AS q50_ok,
        |       ROUND(l[3], 2) AS q75, TRUE AS q75_ok,
        |       ROUND(l[4], 2) AS q95, TRUE AS q95_ok,
        |       ROUND(l[5], 2) AS q99, TRUE AS q99_ok
        |FROM q""".stripMargin,
    "d_minhash" -> minhashOracleSql,
    "d_simhash" ->
      s"""WITH $NearDupCorpusSql,
         |corpus2 AS (
         |  SELECT id, text FROM corpus
         |  UNION ALL
         |  SELECT CAST(doc_id + 2000000 AS VARCHAR),
         |         regexp_replace(text, ' ', '  ', 'g') FROM documents),
         |c AS (SELECT id,
         |  md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
         |  FROM corpus2)
         |SELECT a.id AS id_a, b.id AS id_b, CAST(0 AS INTEGER) AS hamming
         |FROM c a, c b WHERE a.id < b.id AND a.fp = b.fp
         |ORDER BY id_a, id_b""".stripMargin,
    "d_groups" ->
      s"""WITH RECURSIVE corpus AS (
         |  SELECT CAST(doc_id AS VARCHAR) AS id, text FROM documents
         |  UNION ALL
         |  SELECT CAST(doc_id + 1000000 AS VARCHAR),
         |         text || ' graft variant suffix' FROM documents
         |  UNION ALL
         |  SELECT CAST(doc_id + 3000000 AS VARCHAR),
         |         text || ' graft variant suffix extra trailing words'
         |  FROM documents),
         |g AS (SELECT id,
         |  list_distinct(list_transform(
         |    CASE WHEN len(w) < 5 THEN [array_to_string(w, ' ')]
         |    ELSE list_transform(range(1, len(w) - 3),
         |      i -> array_to_string(w[i:i+4], ' ')) END,
         |    s -> hash(s))) AS grams
         |  FROM (SELECT id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
         |        FROM corpus)),
         |p AS (SELECT id_a, id_b FROM (
         |  SELECT a.id AS id_a, b.id AS id_b,
         |    ROUND(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
         |      / len(list_distinct(a.grams || b.grams)), 6) AS jaccard
         |  FROM g a, g b WHERE a.id < b.id
         |    AND len(a.grams) >= 0.8 * len(b.grams)
         |    AND len(b.grams) >= 0.8 * len(a.grams))
         |  WHERE jaccard >= 0.8),
         |edges AS (SELECT id_a AS u, id_b AS v FROM p
         |          UNION SELECT id_b, id_a FROM p),
         |reach(src, node) AS (
         |  SELECT DISTINCT u, u FROM edges
         |  UNION
         |  SELECT r.src, e.v FROM reach r JOIN edges e ON e.u = r.node)
         |SELECT src AS doc_id, MIN(node) AS group_id,
         |       (src = MIN(node)) AS keep
         |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,
    "d_decontam" -> decontamOracleSql,
    // identical result contract to d_decontam — the bloom pre-filter
    // must only prune the plan, never the verified hit set (no false
    // negatives + exact verify); ONE oracle string serves both
    "d_decontam_bloom" -> decontamOracleSql,
    // the congruential bucket replayed verbatim: ((id % 2^31) * A + C)
    // % 2^31, thresholds = floor(rate * 2^31) for en/zh/default
    "d_sample" ->
      """SELECT doc_id, lang, source,
        |  ((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648
        |    AS sample_bucket
        |FROM documents
        |WHERE ((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648 <
        |  CASE WHEN lang = 'en' THEN 1073741824
        |       WHEN lang = 'zh' THEN 751619276
        |       ELSE 429496729 END
        |ORDER BY doc_id""".stripMargin,
    "t_repetition" ->
      """WITH w AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |  FROM documents WHERE length(trim(text)) > 0),
        |g AS (SELECT doc_id, unnest(
        |    CASE WHEN len(w) < 2 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(range(1, len(w)),
        |      i -> array_to_string(w[i:i+1], ' ')) END) AS gram
        |  FROM w),
        |c AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(SUM(cnt) AS BIGINT) AS n_grams,
        |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |  CAST(MAX(cnt) AS BIGINT) AS top_count,
        |  ROUND(1 - CAST(COUNT(*) AS DOUBLE) / SUM(cnt), 6) AS dup_frac,
        |  ROUND(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt), 6) AS top_frac
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "d_embed" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |    FROM embeddings WHERE vec_id < 200),
        |c AS (SELECT CAST(vec_id AS VARCHAR) AS id, v FROM base
        |      UNION ALL
        |      SELECT CAST(vec_id + 1000000 AS VARCHAR),
        |             list_transform(v, x -> x * 2.0) FROM base),
        |p AS (SELECT a.id AS id_a, b.id AS id_b,
        |  ROUND(list_dot_product(a.v, b.v)
        |    / (sqrt(list_dot_product(a.v, a.v))
        |       * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
        |  FROM c a, c b WHERE a.id < b.id)
        |SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.999
        |ORDER BY id_a, id_b""".stripMargin,
    "s_knn_lsh" -> lshOracleSql,
    "s_knn_ivf" ->
      """WITH e AS (SELECT CAST(vec_id AS VARCHAR) AS id,
        |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cent AS (SELECT vec_id AS cell,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                                     CAST(embedding AS DOUBLE[]))))
        |      AS cv
        |  FROM embeddings WHERE vec_id < 16),
        |assign AS (SELECT id, v, cell FROM (
        |    SELECT e.id, e.v, cent.cell,
        |      ROW_NUMBER() OVER (PARTITION BY e.id
        |        ORDER BY list_dot_product(e.v, cent.cv) DESC, cent.cell)
        |        AS r
        |    FROM e CROSS JOIN cent) WHERE r = 1),
        |probes AS (SELECT id AS query_id, v AS qv, cell FROM (
        |    SELECT e.id, e.v, cent.cell,
        |      ROW_NUMBER() OVER (PARTITION BY e.id
        |        ORDER BY list_dot_product(e.v, cent.cv) DESC, cent.cell)
        |        AS r
        |    FROM e CROSS JOIN cent
        |    WHERE CAST(e.id AS BIGINT) < 5) WHERE r <= 4),
        |scored AS (SELECT p.query_id, a.id AS neighbor_id,
        |    ROUND(list_dot_product(p.qv, a.v)
        |      / (sqrt(list_dot_product(p.qv, p.qv))
        |         * sqrt(list_dot_product(a.v, a.v))), 6) AS cosine
        |  FROM probes p JOIN assign a USING (cell)
        |  WHERE p.query_id != a.id),
        |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)
        |SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
        |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)

  /** Exact-intersection contamination oracle over the near-dup corpus —
    * shared verbatim by `d_decontam` (exact broadcast join) and
    * `d_decontam_bloom` (bloom-pruned shuffle join): the bloom path has
    * no false negatives and exactly verifies survivors, so the two
    * plans must produce one result. */
  private lazy val decontamOracleSql: String =
    s"""WITH $NearDupCorpusSql,
       |cg AS (SELECT id, list_distinct(
       |    CASE WHEN len(w) < 8 THEN [array_to_string(w, ' ')]
       |    ELSE list_transform(range(1, len(w) - 6),
       |      i -> array_to_string(w[i:i+7], ' ')) END) AS grams
       |  FROM (SELECT id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
       |        FROM corpus)),
       |bg AS (SELECT list_distinct(
       |    CASE WHEN len(w) < 8 THEN [array_to_string(w, ' ')]
       |    ELSE list_transform(range(1, len(w) - 6),
       |      i -> array_to_string(w[i:i+7], ' ')) END) AS grams
       |  FROM (SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS w
       |        FROM documents WHERE doc_id < 20)),
       |bset AS (SELECT list(DISTINCT sh) AS bl
       |         FROM (SELECT unnest(grams) AS sh FROM bg))
       |SELECT id AS doc_id,
       |  CAST(len(list_intersect(grams, bl)) AS BIGINT) AS n_hits,
       |  CAST(len(grams) AS INTEGER) AS n_grams,
       |  ROUND(CAST(len(list_intersect(grams, bl)) AS DOUBLE)
       |    / len(grams), 6) AS contained_frac
       |FROM cg CROSS JOIN bset
       |WHERE len(list_intersect(grams, bl)) >= 1
       |ORDER BY doc_id""".stripMargin

  /** Brute-force exact-Jaccard pair oracle over the near-dup corpus
    * (with the sound size-ratio prefilter) for `d_minhash`. */
  private lazy val minhashOracleSql: String =
    s"""WITH $NearDupCorpusSql,
       |g AS (SELECT id,
       |  list_distinct(list_transform(
       |    CASE WHEN len(w) < 5 THEN [array_to_string(w, ' ')]
       |    ELSE list_transform(range(1, len(w) - 3),
       |      i -> array_to_string(w[i:i+4], ' ')) END,
       |    s -> hash(s))) AS grams
       |  FROM (SELECT id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
       |        FROM corpus)),
       |j AS (SELECT a.id AS id_a, b.id AS id_b,
       |  ROUND(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
       |    / len(list_distinct(a.grams || b.grams)), 6) AS jaccard
       |  FROM g a, g b WHERE a.id < b.id
       |    -- sound prefilter: J >= 0.8 implies min/max set sizes >= 0.8
       |    AND len(a.grams) >= 0.8 * len(b.grams)
       |    AND len(b.grams) >= 0.8 * len(a.grams))
       |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.8
       |ORDER BY id_a, id_b""".stripMargin

  /** The near-dup corpus (docs + suffixed variants) as a SQL CTE —
    * kept textually identical across the oracles that rebuild it. */
  private val NearDupCorpusSql: String =
    """corpus AS (
      |  SELECT CAST(doc_id AS VARCHAR) AS id, text FROM documents
      |  UNION ALL
      |  SELECT CAST(doc_id + 1000000 AS VARCHAR),
      |         text || ' graft variant suffix' FROM documents)""".stripMargin

  /**
   * The s_knn_lsh oracle reproduces the ENTIRE LSH algorithm in SQL —
   * bucketing, multi-probe, scoring, ranking — by embedding the exact
   * seeded hyperplane matrix as literals (the planes are deterministic
   * from (dim=64, planes=10, seed=42); see
   * [[graft.functions.HyperplaneBucket.planesFor]]). Sign decisions are
   * FP-robust: |v·plane| for Gaussian planes is O(1), never near the
   * 1e-15 scale where summation order could flip a bucket bit.
   */
  private lazy val lshOracleSql: String = {
    val planes = graft.functions.HyperplaneBucket.planesFor(64, 10, 42L)
    val matLit = planes.map(_.map(d => java.lang.Double.toString(d))
      .mkString("[", ", ", "]")).mkString("[", ",\n    ", "]")
    val bucketExpr = (0 until 10).map { p =>
      s"(CASE WHEN list_dot_product(v, m[${p + 1}]) >= 0 " +
        s"THEN ${1L << p}::BIGINT ELSE 0::BIGINT END)"
    }.mkString(" + ")
    val probeList = ("bucket" +: (0 until 10).map(p =>
      s"xor(bucket, ${1L << p}::BIGINT)")).mkString("[", ", ", "]")
    s"""WITH e AS (SELECT CAST(vec_id AS VARCHAR) AS id,
       |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |planes AS (SELECT $matLit AS m),
       |cb AS (SELECT id, v, $bucketExpr AS bucket
       |       FROM e CROSS JOIN planes),
       |q AS (SELECT id AS query_id, v AS qv,
       |        UNNEST($probeList) AS bucket
       |      FROM cb WHERE CAST(id AS BIGINT) < 5),
       |scored AS (SELECT DISTINCT q.query_id, c.id AS neighbor_id,
       |    ROUND(list_dot_product(q.qv, c.v)
       |      / (sqrt(list_dot_product(q.qv, q.qv))
       |         * sqrt(list_dot_product(c.v, c.v))), 6) AS cosine
       |  FROM q JOIN cb c USING (bucket) WHERE q.query_id != c.id),
       |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)
       |SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
       |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  }
}
