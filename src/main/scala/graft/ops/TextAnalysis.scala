package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}

/**
 * Text-analysis operators for a training-data pipeline: token counting,
 * quality scoring, language identification, document fingerprinting.
 * Everything is pure `org.apache.spark.sql.functions` expressions —
 * codegen'd, no UDFs — so at 100 TB these run inside whole-stage codegen
 * directly over the parquet scan with only the referenced columns read.
 */
object TextAnalysis {

  /** Whitespace token count; empty/blank text counts 0. */
  def tokenCount(text: Column): Column =
    F.when(F.length(F.trim(text)) === 0, 0)
      .otherwise(F.size(F.split(F.trim(text), "\\s+")))

  /** A BPE-ish subword count estimate: word-piece regex tokens (runs of
    * letters, runs of digits, single punctuation) — the cheap proxy for
    * "how many tokens will the tokenizer produce". */
  def subwordCount(text: Column): Column =
    F.when(F.length(F.trim(text)) === 0, 0).otherwise(
      F.size(F.filter(
        F.split(text, "(?<=[^A-Za-z0-9])|(?=[^A-Za-z0-9])" +
          "|(?<=[A-Za-z])(?=[0-9])|(?<=[0-9])(?=[A-Za-z])"),
        t => F.length(F.trim(t)) > 0)))

  /** Quality features: length, token stats, punctuation/uppercase/digit
    * ratios, stopword ratio, mean word length — the classic heuristic
    * bundle (Gopher/C4-style rules) as one projection. */
  def qualityFeatures(df: DataFrame, textCol: String): DataFrame = {
    val t = F.col(textCol)
    val nChars = F.length(t)
    val nonPunct = F.length(F.regexp_replace(t, "[\\p{Punct}]", ""))
    val nonUpper = F.length(F.regexp_replace(t, "[A-Z]", ""))
    val nonDigit = F.length(F.regexp_replace(t, "[0-9]", ""))
    val words = F.split(F.trim(t), "\\s+")
    val nTok = tokenCount(t)
    val stop = F.size(F.filter(words, w =>
      F.lower(w).isin(EnStopwords: _*)))
    val nonAlpha = F.length(F.regexp_replace(t, "[A-Za-z]", ""))
    val safeTok = F.greatest(nTok, F.lit(1)).cast("double")
    df.withColumn("n_chars_obs", nChars)
      .withColumn("alpha_ratio",
        F.round((nChars - nonAlpha).cast("double") /
          F.greatest(nChars, F.lit(1)), 6))
      .withColumn("n_tokens", nTok)
      .withColumn("punct_ratio",
        F.round((nChars - nonPunct).cast("double") /
          F.greatest(nChars, F.lit(1)), 6))
      .withColumn("upper_ratio",
        F.round((nChars - nonUpper).cast("double") /
          F.greatest(nChars, F.lit(1)), 6))
      .withColumn("digit_ratio",
        F.round((nChars - nonDigit).cast("double") /
          F.greatest(nChars, F.lit(1)), 6))
      .withColumn("stopword_ratio", F.round(stop / safeTok, 6))
      .withColumn("mean_word_len",
        // word chars = whitespace-NORMALIZED length − (nTok − 1)
        // separators: raw length would count every extra space/newline
        // as word mass and push normal markdown past the quality band
        F.round((F.length(F.regexp_replace(F.trim(t), "\\s+", " "))
          - nTok + 1).cast("double") / safeTok, 6))
  }

  /** Composite quality score in [0,1] (C4/Gopher-style rule bundle):
    * weighted mix of letter density, stopword presence, punctuation and
    * digit density, length band, word-length band. Pure-symbol or
    * pure-digit "documents" land well under 0.4; normal prose near 1. */
  def qualityScore(df: DataFrame, textCol: String): DataFrame = {
    val feat = qualityFeatures(df, textCol)
    val alphaOk = F.when(F.col("alpha_ratio") >= 0.6, 1.0)
      .otherwise(F.col("alpha_ratio") / 0.6)
    val stopOk = F.when(F.col("stopword_ratio") >= 0.05, 1.0)
      .otherwise(F.col("stopword_ratio") * 20.0)
    val punctOk = F.when(F.col("punct_ratio") <= 0.2, 1.0)
      .when(F.col("punct_ratio") <= 0.4, 0.5).otherwise(0.0)
    val digitOk = F.when(F.col("digit_ratio") <= 0.2, 1.0)
      .when(F.col("digit_ratio") <= 0.5, 0.5).otherwise(0.0)
    val lenOk = F.when(F.col("n_tokens").between(10, 100000), 1.0)
      .when(F.col("n_tokens").between(3, 9), 0.5).otherwise(0.0)
    val wordOk = F.when(F.col("mean_word_len").between(2.0, 12.0), 1.0)
      .otherwise(0.0)
    feat.withColumn("quality_score", F.round(
      alphaOk * 0.25 + stopOk * 0.2 + punctOk * 0.2 +
        digitOk * 0.1 + lenOk * 0.15 + wordOk * 0.1, 6))
  }

  /** Marker words per language for the n-gram/stopword language-ID
    * heuristic (deterministic, dependency-free — NOT a real LID model;
    * the production slot for fastText/CLD3 is this same column shape). */
  private val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it",
      "with", "for", "was", "his", "are", "this"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein",
      "eine", "mit", "für", "auf", "sich", "und", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "pour", "que",
      "dans", "qui", "pas", "vous", "des", "sur"),
    "es" -> Seq("el", "la", "los", "las", "y", "es", "una", "por",
      "que", "en", "para", "con", "del", "se"),
    "it" -> Seq("il", "la", "che", "e", "è", "di", "un", "una", "per",
      "non", "sono", "con", "del", "si"))

  val EnStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "is", "are", "was",
      "in", "on", "at", "it", "this", "that", "with", "for", "as", "by")

  /** Language ID: per-language marker-word hit-rate; winner takes the
    * label, `und` (undetermined) when nothing scores. Pure expressions:
    * one `filter` per language over the word array, `greatest` to pick. */
  def langId(text: Column): Column = {
    val words = F.split(F.lower(F.trim(text)), "\\s+")
    val scores = LangMarkers.toSeq.sortBy(_._1).map { case (lang, ms) =>
      (lang, F.size(F.filter(words, w => w.isin(ms: _*))))
    }
    val best = F.greatest(scores.map(_._2): _*)
    scores.foldLeft(F.when(best <= 0, F.lit("und"))) {
      case (acc, (lang, s)) => acc.when(s === best, F.lit(lang))
    }.otherwise(F.lit("und"))
  }

  /** Normalized 64-bit content fingerprint: strip punctuation,
    * lowercase, collapse whitespace, TRIM, xxhash64 — the exact-dedup
    * key that survives formatting noise. The trim matters: stripping a
    * trailing "." exposes a trailing space that the \\s+ collapse alone
    * keeps, so "hello." and "hello ." would otherwise fingerprint
    * differently. */
  def fingerprint(text: Column): Column =
    F.xxhash64(F.trim(F.regexp_replace(
      F.lower(F.regexp_replace(text, "[\\p{Punct}]", "")), "\\s+", " ")))

  /** Per-document n-gram repetition profile (the Gopher repetition
    * rules, arXiv:2112.11446 §A1.1, in word-n-gram form — the input
    * corpus is single-line, so the line/paragraph variants degenerate):
    * total and distinct word-n-gram counts, the top n-gram's frequency,
    * `dup_frac` = fraction of n-gram occurrences that are repeats, and
    * `top_frac` = the most-repeated n-gram's share. High values flag
    * boilerplate / keyword-stuffed / looping documents for the quality
    * filter.
    *
    * Scale shape: one scan → codegen [[graft.functions.ShingleHashes]]
    * projection → explode → two-level hash aggregate. The shuffle
    * carries only `(doc_id, gram_hash)` pairs with map-side partial
    * counting — the text itself never moves, and the per-doc second
    * aggregate is a near-no-op after the first collapses duplicates.
    * Texts shorter than n words profile as one whole-text gram
    * (matching [[shingleHashes]]'s short-array contract); blank text is
    * excluded. */
  def ngramRepetition(df: DataFrame, idCol: String, textCol: String,
      n: Int = 2): DataFrame =
    df.filter(F.length(F.trim(F.col(textCol))) > 0)
      // the id keeps its NATIVE type: a cast("long") here silently
      // turned non-numeric string ids ("doc-abc") into NULL and merged
      // every such document into one doc_id=NULL profile group
      .select(F.col(idCol).as("doc_id"),
        F.explode(shingleHashes(F.col(textCol), n)).as("_g"))
      .groupBy("doc_id", "_g").agg(F.count(F.lit(1)).as("_cnt"))
      .groupBy("doc_id").agg(
        F.sum("_cnt").as("n_grams"),
        F.count(F.lit(1)).as("n_distinct"),
        F.max("_cnt").as("top_count"))
      .select(F.col("doc_id"), F.col("n_grams"), F.col("n_distinct"),
        F.col("top_count"),
        F.round(F.lit(1.0) - F.col("n_distinct").cast("double") /
          F.col("n_grams"), 6).as("dup_frac"),
        F.round(F.col("top_count").cast("double") / F.col("n_grams"), 6)
          .as("top_frac"))

  /** Rolling-hash shingle fingerprints: hashes of each k-word window —
    * the building block for containment/near-dup detection. Runs in the
    * custom codegen expression [[graft.functions.ShingleHashes]] (the
    * transform/slice/concat_ws formulation is an interpreted lambda per
    * window); hash values equal `xxhash64(concat_ws(' ', window))`. */
  def shingleHashes(text: Column, k: Int = 5): Column =
    graft.functions.ShingleHashes(
      F.split(F.trim(F.lower(text)), "\\s+"), k)
}
