package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

import graft.checks.{ColumnStats, DriftCheck}
import graft.compile.{ConstraintCompiler, JsonSchemaImport}
import graft.dsl.Constraint._
import graft.dsl.ConstraintSuite
import graft.exec.Validator
import graft.sketch.TDigestQuantiles

/**
 * Driver contract (see SURVEY.md §7): the 12 `v_*` queries of the
 * validator — row-local verdicts and violations, the dataset checks
 * (uniqueness, referential integrity, drift), column profiles, JSON
 * Schema import, raw-JSON documents, verdicts over a computed timestamp
 * partition and quantile sketches — each runnable on an `sf*` test-data
 * directory and paired with equivalent DuckDB SQL in
 * [[SparkEntry.oracleSql]].
 *
 * The engine's own input table (`input_hint` tokenized sequences) is
 * synthesized by [[graft.gen.SequenceGen]]; these queries bind the same
 * validator to the driver's `documents` and TPC-H-ish tables so the
 * DuckDB oracle can check them.
 */
object SparkEntry {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def table(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  private val QProbs = Seq(0.25, 0.5, 0.75, 0.95, 0.99)
  private val QNames = Seq("q25", "q50", "q75", "q95", "q99")

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

  /** The stored-variant query's extraction schema. */
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
    "v_docjson_varcol" -> ((s, dir) => {
      // second execution path: the table PERSISTS a VariantType column
      // (the lakehouse storage shape) — parse once at write time, then
      // validate straight off the stored binary: NO parse_json in the
      // read plan, and a shredded variant scan prunes to the addressed
      // subcolumns. Shares v_docjson's oracle string.
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
      // hourly verdicts: the window start, a computed timestamp, is a
      // verdict partition column, so the oracle checks that a timestamp
      // partition value survives the verdicts' round-trip via the driver
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
    }))

  // --------------------------------------------------------------------
  // DuckDB oracles — same column NAMES and (where feasible) types;
  // every double rounded identically on both sides.
  // --------------------------------------------------------------------

  private val docPred =
    "(doc_id IS NOT NULL) AND (n_chars <= 400) AND " +
      "(lang IN ('en','de','fr','es')) AND (n_chars = length(text))"

  /** Shared by v_docjson (doc-engine map) and v_docjson_varcol
    * (stored variant): ONE oracle string pins both execution paths to
    * identical results, re-derived from the TYPED columns the JSON was
    * rendered from. `expected` texts are the compiler's own
    * `expectedOf` renderings. */
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
        |FROM q""".stripMargin)
}
