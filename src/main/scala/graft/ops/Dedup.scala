package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}

/**
 * Deduplication operators for training-data pipelines: exact, MinHash+LSH,
 * SimHash, and n-gram Jaccard verification. All signature computation is
 * pure Catalyst expressions (codegen'd, one scan); candidate generation
 * is a grouped same-bucket pairing — the standard "shuffle only
 * signatures, never full texts against full texts" shape that survives
 * 100 TB: the key space (bands × hash) spreads uniformly, only
 * same-bucket pairs are ever materialized, and degenerate buckets
 * (boilerplate-heavy corpora collapse many docs into one band bucket)
 * are capped — see [[bucketedPairs]].
 */
object Dedup {

  // ------------------------------------------------------------------
  // Exact dedup (hash-groupBy)
  // ------------------------------------------------------------------

  /** Groups by the normalized content fingerprint; returns one row per
    * group with its size and a representative (min) id. Filter
    * `n_dups > 1` for actionable duplicates; at 10^12 rows this is one
    * partial-aggregated shuffle of (hash, id). */
  def exactGroups(df: DataFrame, idCol: String, textCol: String,
      key: Column => Column = TextAnalysis.fingerprint): DataFrame =
    df
      // rows with a MISSING text are not duplicates of each other:
      // xxhash64 of an all-null input returns the seed, which would
      // collapse every null-text doc into one giant "duplicate" group
      .filter(F.col(textCol).isNotNull)
      .select(
        F.col(idCol).cast("string").as("doc_id"),
        key(F.col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(F.count(F.lit(1)).as("n_dups"), F.min("doc_id").as("keep_id"))

  // ------------------------------------------------------------------
  // Shared capped-bucket pair generation
  // ------------------------------------------------------------------

  /**
   * Same-bucket pairs `(id_a, id_b, <payload>_a, <payload>_b)` with
   * `id_a < id_b`, from rows `(keyCols..., idCol, payloadCols...)`.
   *
   * Scale contract (the 100 TB story):
   *  - buckets with ≤ `maxBucket` members emit ALL pairs — bucket
   *    members are gathered with `collect_list` bounded by the cap, so
   *    no aggregation row can blow up;
   *  - oversized buckets (degenerate bands: empty docs, boilerplate)
   *    emit STAR pairs — every member against the bucket's min-id
   *    representative. Output stays linear in bucket size and the pairs
   *    keep the bucket connected for a downstream
   *    connected-components/union-find dedup, instead of going
   *    quadratic in one hot task.
   *
   * All four internal steps key on `keyCols`, so the exchanges
   * co-partition and AQE reuses them.
   */
  def bucketedPairs(df: DataFrame, keyCols: Seq[String], idCol: String,
      payloadCols: Seq[String], maxBucket: Int): DataFrame = {
    require(maxBucket >= 2, "maxBucket must be >= 2")
    val keys = keyCols.map(F.col)
    val member = F.struct(
      F.col(idCol).as("_id") +: payloadCols.map(F.col): _*)

    // ONE explicit repartition on the bucket keys, shared by every
    // consumer: without it the size aggregate and the join each insert
    // their own exchange over a DIFFERENT subtree (partial-agg vs
    // plain), so the banded input is computed and shuffled twice;
    // with it both branches hang off the identical Exchange node and
    // ReusedExchange computes/shuffles the input once. Every step
    // below keys on `keyCols`, so no further exchange is inserted.
    // (No explicit partition count — AQE remains free to coalesce.)
    val dfr = df.repartition(keys: _*)

    // bucket sizes + representative id, WITHOUT collecting members:
    // the one aggregate that must stay safe under a degenerate bucket
    val sizes = dfr.groupBy(keys: _*).agg(
      F.count(F.lit(1)).as("_n"), F.min(F.col(idCol)).as("_rep"))
      .filter(F.col("_n") >= 2)
    // shuffled-hash, not sort-merge: both sides are already
    // co-partitioned (no exchange either way), so the only difference
    // is SMJ's full sort of the banded stream vs hashing the size
    // table — which is the strictly smaller side (≤ one row per
    // multi-member bucket, uniform hash keys), so the per-partition
    // build is bounded and skew-free
    val dfn = dfr.join(sizes.hint("shuffle_hash"), keyCols)

    // small buckets: all pairs via bounded collect_list + double explode
    val small = dfn.filter(F.col("_n") <= maxBucket)
      .groupBy(keys: _*).agg(F.collect_list(member).as("_m"))
      .select(F.explode(F.col("_m")).as("_a"), F.col("_m"))
      .select(F.col("_a"), F.explode(F.col("_m")).as("_b"))
      .filter(F.col("_a._id") < F.col("_b._id"))

    // oversized buckets: star pairs against the representative
    val bigRows = dfn.filter(F.col("_n") > maxBucket)
    val reps = bigRows.filter(F.col(idCol) === F.col("_rep"))
      .groupBy(keys: _*).agg(F.first(member).as("_a"))
    val big = bigRows.filter(F.col(idCol) =!= F.col("_rep"))
      .join(reps, keyCols)
      .select(F.col("_a"), member.as("_b"))

    small.unionByName(big).select(
      F.col("_a._id").as("id_a") +: F.col("_b._id").as("id_b") +:
        payloadCols.flatMap(p => Seq(
          F.col(s"_a.$p").as(s"${p}_a"), F.col(s"_b.$p").as(s"${p}_b"))): _*)
  }

  // ------------------------------------------------------------------
  // MinHash + LSH
  // ------------------------------------------------------------------

  /** MinHash signature over k-word shingles via Carter-Wegman universal
    * hashing, the family Spark MLlib's MinHashLSH uses:
    * `h_i(s) = (a_i·h(s) + b_i) mod P` with INDEPENDENT seeded random
    * coefficients per hash function (a deterministic sequence like
    * `h1 + i·h2` correlates components: for large i the argmin sorts by
    * h2 alone, so unrelated docs sharing one shingle agree on most
    * components — observed est_jaccard ≥ 0.58 on random pairs). The
    * minima update runs in the custom codegen expression
    * [[graft.functions.MinHashSig]] — the `aggregate`×`zip_with`
    * formulation is interpreted at ~160 µs/shingle. */
  def minhashSignature(
      text: Column, numHashes: Int = 64, shingleK: Int = 5,
      seed: Long = 42L): Column =
    graft.functions.MinHashSig(
      TextAnalysis.shingleHashes(text, shingleK), numHashes, seed)

  /** The MinHash signature table `(doc_id, sig)` — the staging artifact
    * of the LSH pipeline. At 10^12 docs, MATERIALIZE this once (parquet
    * staging table) and feed [[minhashCandidatesFromSigs]]: the one-shot
    * [[minhashCandidates]] convenience rebuilds the signature plan for
    * the verify join, i.e. recomputes signatures a second time. */
  def minhashSignatures(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, shingleK: Int = 5, seed: Long = 42L): DataFrame =
    df.select(
      F.col(idCol).cast("string").as("doc_id"),
      minhashSignature(F.col(textCol), numHashes, shingleK, seed).as("sig"))

  /** The combined staging artifact `(doc_id, sig, _grams)` of a
    * minhash pipeline whose verify shingle size EQUALS the signature
    * shingle size: signatures and distinct gram sets are two aggregates
    * of the SAME `ShingleHashes` array, so one projection (codegen
    * subexpression elimination computes the shingles once) yields both
    * and the corpus text is read exactly once for the entire
    * candidates→exact-verify pipeline. Feed `sig` to
    * [[minhashBandPairs]] and `_grams` to [[ngramJaccardFromGrams]].
    * At 10^12 docs this is the parquet staging table; in-session,
    * `localCheckpoint` it. */
  def minhashSignaturesWithGrams(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, shingleK: Int = 5, seed: Long = 42L): DataFrame = {
    val shingles = TextAnalysis.shingleHashes(F.col(textCol), shingleK)
    df.select(
      F.col(idCol).cast("string").as("doc_id"),
      graft.functions.MinHashSig(shingles, numHashes, seed).as("sig"),
      F.array_distinct(shingles).as("_grams"))
  }

  /** Exact Jaccard verify over a staged gram table `(doc_id, _grams)`
    * (e.g. [[minhashSignaturesWithGrams]] output) — the join-only tail
    * of [[ngramJaccard]], for callers that already paid the shingle
    * pass. */
  def ngramJaccardFromGrams(pairs: DataFrame, grams: DataFrame): DataFrame =
    pairs
      .join(grams.select(F.col("doc_id").as("id_a"),
        F.col("_grams").as("grams_a")), Seq("id_a"))
      .join(grams.select(F.col("doc_id").as("id_b"),
        F.col("_grams").as("grams_b")), Seq("id_b"))
      .withColumn("jaccard", F.round(
        F.size(F.array_intersect(F.col("grams_a"), F.col("grams_b")))
          .cast("double") /
          F.size(F.array_union(F.col("grams_a"), F.col("grams_b"))), 6))
      .drop("grams_a", "grams_b")

  /** LSH banding over a precomputed signature table: candidate pairs
    * whose signatures collide in ≥1 of `bands` bands (rowsPerBand =
    * numHashes/bands). The banding shuffle carries ONLY
    * (bandIdx, bandHash, id) — the 64-component signature is dropped
    * after the per-band hashes are projected (carrying it ×bands
    * through the shuffle is ~13× the bytes) and joined back just for
    * the surviving candidate pairs; estimated Jaccard = fraction of
    * equal components, via the codegen [[graft.functions.ArrayEqualCount]].
    *
    * Recall lever: P(candidate) = 1-(1-J^r)^b. The defaults (64 hashes,
    * 16 bands × 4 rows) knee near J≈0.6; `bands = 32` (2 rows/band)
    * pushes recall at J ≥ 0.8 to 1 - 4e-15 — effectively deterministic,
    * which oracle-checked pipelines use. */
  def minhashCandidatesFromSigs(
      sigs: DataFrame, numHashes: Int = 64, bands: Int = 16,
      minJaccard: Double = 0.7, maxBucket: Int = 4096): DataFrame =
    minhashBandPairs(sigs, numHashes, bands, maxBucket)
      .join(sigs.withColumnRenamed("doc_id", "id_a")
        .withColumnRenamed("sig", "sig_a"), Seq("id_a"))
      .join(sigs.withColumnRenamed("doc_id", "id_b")
        .withColumnRenamed("sig", "sig_b"), Seq("id_b"))
      .select(
        F.col("id_a"), F.col("id_b"),
        (graft.functions.ArrayEqualCount(F.col("sig_a"), F.col("sig_b"))
          .cast("double") / numHashes).as("est_jaccard"))
      .filter(F.col("est_jaccard") >= minJaccard)

  /** Banding ONLY: the candidate pair set `(id_a, id_b)` of
    * [[minhashCandidatesFromSigs]] WITHOUT the signature join-back that
    * estimates Jaccard. This is the right entry point when the caller
    * verifies candidates exactly anyway (an `est_jaccard >= 0` filter
    * buys nothing but two joins against the signature table): LSH
    * banding is the recall mechanism, [[ngramJaccard]] the precision
    * mechanism — the estimate in between is only worth its joins when
    * it PRUNES (minJaccard > 0) before an expensive verify. */
  def minhashBandPairs(
      sigs: DataFrame, numHashes: Int = 64, bands: Int = 16,
      maxBucket: Int = 4096): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val banded = sigs.select(
      F.col("doc_id"),
      F.explode(F.array((0 until bands).map { b =>
        F.struct(
          F.lit(b).as("band"),
          F.xxhash64(F.slice(F.col("sig"), b * rows + 1, rows))
            .as("bhash"))
      }: _*)).as("bk"))
      .select(F.col("doc_id"),
        F.col("bk.band").as("band"), F.col("bk.bhash").as("bhash"))

    bucketedPairs(banded, Seq("band", "bhash"), "doc_id",
        Seq.empty, maxBucket)
      .distinct() // a pair may collide in several bands
  }

  /** One-shot convenience. The signature table is STAGED internally
    * (`localCheckpoint`): the signature projection — the expensive
    * shingle+minima pass over every document — is referenced by the
    * banding AND by both sides of the estimate join, so an unstaged
    * plan recomputes it up to 4× (measured 1.4× wall on the driver
    * bench, and strictly worse at scale where the corpus scan is the
    * dominant cost). On a cluster prefer materializing
    * [[minhashSignatures]] to a parquet staging table and calling
    * [[minhashCandidatesFromSigs]] — same shape, fault-tolerant. */
  def minhashCandidates(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16,
      minJaccard: Double = 0.7, maxBucket: Int = 4096): DataFrame =
    minhashCandidatesFromSigs(
      minhashSignatures(df, idCol, textCol, numHashes).localCheckpoint(),
      numHashes, bands, minJaccard, maxBucket)

  // ------------------------------------------------------------------
  // SimHash
  // ------------------------------------------------------------------

  /** 64-bit SimHash via the custom codegen expression
    * [[graft.functions.SimHash64]] — the higher-order-function
    * formulation (aggregate over words × zip_with over 64 counters) runs
    * interpreted at ~6 ms/doc; the codegen loop is bit-identical and
    * orders of magnitude cheaper. Empty split artifacts are skipped
    * inside the expression. */
  def simhash64(text: Column): Column =
    graft.functions.SimHash64(F.split(F.trim(F.lower(text)), "\\s+"))

  /** SimHash near-dup candidates: band the 64-bit hash into 4×16-bit
    * chunks (any pair within Hamming distance 3 shares ≥1 chunk), pair
    * same-chunk docs through the capped bucket path, verify with
    * `bit_count(xor) <= maxHamming`. */
  /** Candidate near-dup pairs by SimHash banding (4×16-bit bands —
    * the pigeonhole guarantee that any pair with Hamming ≤ 3 shares at
    * least one band). SCALE NOTE on `maxBucket`: CHANCE band
    * collisions among unrelated documents average n/2^16 per bucket,
    * so at n = 10^7 every bucket holds ~150 strangers and the
    * all-pairs expansion inside the cap is quadratic in that occupancy
    * (~10^9 rows — measured as a filled disk, not a hypothesis). Set
    * `maxBucket` to a small multiple of the expected TRUE duplicate-
    * cluster size (e.g. 32–64) once n approaches 10^6·bands: chance
    * buckets then emit linear star pairs while real clusters stay
    * fully paired; downstream connected components recovers any pair
    * the star routing deferred. */
  def simhashCandidates(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 4096): DataFrame = {
    // STAGED (localCheckpoint): the (id, 64-bit hash) table is tiny —
    // 16 B/doc — while the SimHash projection behind it re-reads and
    // re-hashes every document's full text; the banding below
    // references it from two exchange subtrees (pair-join side +
    // bucket-size partial aggregate), so an unstaged plan pays the
    // text pass twice
    val hashed = df.select(
      F.col(idCol).cast("string").as("doc_id"),
      simhash64(F.col(textCol)).as("sh"))
      .localCheckpoint()
    val banded = hashed.select(
      F.col("doc_id"), F.col("sh"),
      F.explode(F.array((0 until 4).map { b =>
        F.struct(F.lit(b).as("band"),
          F.shiftright(F.col("sh"), b * 16).bitwiseAND(0xFFFFL)
            .as("chunk"))
      }: _*)).as("bk"))
      .select(F.col("doc_id"), F.col("sh"),
        F.col("bk.band").as("band"), F.col("bk.chunk").as("chunk"))
    bucketedPairs(banded, Seq("band", "chunk"), "doc_id", Seq("sh"),
        maxBucket)
      .select(F.col("id_a"), F.col("id_b"),
        F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
          .as("hamming"))
      // filter BEFORE the pair-dedup exchange: hamming is a pure
      // function of the two 64-bit hashes, so every band emits the
      // SAME value for a given pair — `min` after the groupBy equals
      // the value itself, and non-candidates (the vast majority of
      // same-chunk strangers) can be dropped map-side instead of
      // shuffling only to be filtered after aggregation (measured:
      // the post-agg filter shape shuffled every same-bucket pair row)
      .filter(F.col("hamming") <= maxHamming)
      .groupBy("id_a", "id_b").agg(F.min("hamming").as("hamming"))
  }

  // ------------------------------------------------------------------
  // N-gram Jaccard (exact verification of candidate pairs)
  // ------------------------------------------------------------------

  /** Exact word-n-gram Jaccard for given (id_a, id_b) candidate pairs:
    * |A∩B| / |A∪B| over distinct shingle hashes.
    *
    * The candidate set is MATERIALIZED (`localCheckpoint` — it is small
    * by the LSH/banding contract that produces it) and its distinct ids
    * broadcast-SEMI-join the corpus BEFORE the shingle projection: only
    * candidate documents ever pay the split+hash pass, instead of the
    * whole corpus paying it once per join side (2× full-corpus shingle
    * passes observed in the unpruned plan). The inner joins on id make
    * this pruning result-identical by construction. At 10^12 docs the
    * broadcast is bounded by 2×|pairs| ids — candidate volume, not
    * corpus volume; if a pathological candidate set outgrows broadcast,
    * verify from a staged gram table instead (the
    * [[substringPairsFromGrams]] pattern).
    *
    * `pruneToCandidates = false` skips the materialize+semi-join
    * machinery and computes grams for the whole `df` inline — the right
    * mode when `df` is already small or the pairs cover most of it
    * (e.g. a dense pair grid over a few documents), where the pruning's
    * fixed cost (two checkpoints, a broadcast) exceeds the gram pass it
    * saves. */
  def ngramJaccard(
      pairs: DataFrame, df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, pruneToCandidates: Boolean = true): DataFrame = {
    def gramsOf(in: DataFrame): DataFrame = in.select(
      F.col(idCol).cast("string").as("_id"),
      F.array_distinct(TextAnalysis.shingleHashes(F.col(textCol), k))
        .as("_grams"))
    val (p, grams) =
      if (!pruneToCandidates) (pairs, gramsOf(df))
      else {
        // lazy checkpoints: the broadcast build of `ids` is the action
        // that materializes `pc`, and the first verify join
        // materializes the gram table — no standalone jobs
        val pc = pairs.localCheckpoint(eager = false)
        val ids = pc.select(F.col("id_a").as("_id"))
          .unionByName(pc.select(F.col("id_b").as("_id")))
          .distinct()
        (pc, gramsOf(df.join(F.broadcast(ids),
            F.col(idCol).cast("string") === F.col("_id"), "left_semi"))
          // both verify-join sides reference the gram table; staged so
          // the pruned shingle pass runs once, not once per side
          // (bounded by candidate volume like `pc` itself)
          .localCheckpoint(eager = false))
      }
    p
      .join(grams.withColumnRenamed("_id", "id_a")
        .withColumnRenamed("_grams", "grams_a"), Seq("id_a"))
      .join(grams.withColumnRenamed("_id", "id_b")
        .withColumnRenamed("_grams", "grams_b"), Seq("id_b"))
      .withColumn("jaccard", F.round(
        F.size(F.array_intersect(F.col("grams_a"), F.col("grams_b")))
          .cast("double") /
          F.size(F.array_union(F.col("grams_a"), F.col("grams_b"))), 6))
      .drop("grams_a", "grams_b")
  }

  // ------------------------------------------------------------------
  // Exact substring (shared token-run) dedup
  // ------------------------------------------------------------------

  /**
   * The per-document gram artifacts of substring dedup, computed in ONE
   * projection over the corpus: `(doc_id, _fps, _runs)` where `_fps`
   * are the winnowed fingerprints and `_runs` the distinct
   * runWords-gram hashes. At 10^12 docs MATERIALIZE this to a parquet
   * staging table (the [[minhashSignatures]] pattern) and feed
   * [[substringPairsFromGrams]] — the convenience [[substringPairs]]
   * stages it with `localCheckpoint`, which is not fault-tolerant.
   */
  def substringGrams(df: DataFrame, idCol: String, textCol: String,
      runWords: Int = 16, shingleK: Int = 8): DataFrame = {
    require(runWords >= shingleK,
      "runWords must be >= shingleK (the window is runWords-shingleK+1)")
    val w = runWords - shingleK + 1
    val words = F.split(F.trim(F.lower(F.col("_text"))), "\\s+")
    df.select(F.col(idCol).cast("string").as("doc_id"),
        F.col(textCol).as("_text"))
      .filter(F.col("_text").isNotNull && F.size(words) >= runWords)
      .select(F.col("doc_id"),
        graft.functions.WinnowedMins(
          graft.functions.ShingleHashes(words, shingleK), w).as("_fps"),
        F.array_distinct(
          graft.functions.ShingleHashes(words, runWords)).as("_runs"))
  }

  /**
   * Pairs of documents sharing at least one EXACT run of `runWords`
   * consecutive words (lowercased, whitespace-split) — the substring-
   * dedup modality of Lee et al. 2022 ("Deduplicating Training Data
   * Makes Language Models Better", arXiv:2107.06499: exact duplicate
   * token spans, there via a suffix array), re-shaped for Spark:
   *
   *  1. winnowed fingerprints ([[graft.functions.WinnowedMins]] over
   *     `shingleK`-gram rolling hashes, window w = runWords−shingleK+1)
   *     select ~2/(w+1) of each document's positions content-defined,
   *     with the winnowing guarantee that any shared run of
   *     ≥ w+shingleK−1 = runWords words yields a common fingerprint —
   *     recall-lossless sparsification, no suffix array needed;
   *  2. fingerprint buckets ≤ `maxBucket` emit ALL pairs; documents in
   *     OVERSIZED buckets (boilerplate fingerprints) fall back to
   *     bucketing by their exact run hashes — a star pair through a
   *     rep that merely shares the 8-gram would be killed by the
   *     verify and silently lose true pairs, while a run-hash bucket's
   *     star pairs verify TRUE by construction (every member carries
   *     the bucket's run), so downstream connected components recovers
   *     the full clique. Output stays linear under boilerplate;
   *  3. exact verify: intersect the pairs' DISTINCT runWords-gram hash
   *     sets — `n_shared_runs` = number of distinct shared runs ≥ 1,
   *     so precision is exact MODULO 64-bit hash collisions (the
   *     intersect runs on run HASHES, not text: two different
   *     runWords-grams colliding in 64 bits verify as shared). By the
   *     birthday bound, a corpus with D distinct grams holds
   *     ~D²/2⁶⁵ colliding gram pairs — ~5 false grams per 10⁹
   *     distinct grams, and a false PAIR additionally needs both
   *     colliding grams inside one candidate bucket, so at 10¹²-doc
   *     scale expect a handful of spurious pairs, not a rate. A
   *     fingerprint shared via a run shorter than `runWords` is
   *     filtered here either way.
   *
   * Recall: exact at pair level while fingerprint buckets stay within
   * `maxBucket`; above it, pairs are star-connected through verified
   * shared-run edges (group-exact under [[ConnectedComponents]]).
   * Documents with fewer than `runWords` words cannot contain such a
   * run and are excluded. Output: `(id_a, id_b, n_shared_runs)`,
   * `id_a < id_b` in string order. Only fingerprints (~2/(w+1) per
   * position) shuffle; run arrays join back for candidates and
   * oversized-bucket members only — corpus text never shuffles.
   */
  def substringPairs(df: DataFrame, idCol: String, textCol: String,
      runWords: Int = 16, shingleK: Int = 8,
      maxBucket: Int = 256): DataFrame =
    // gram artifacts STAGED internally (localCheckpoint):
    // substringPairsFromGrams references the gram table from four
    // subtrees (fingerprint explode, oversized-doc run explode, both
    // verify-join sides), each of which would otherwise re-run the
    // winnowing pass over the full corpus text. On a cluster prefer a
    // parquet staging table + substringPairsFromGrams (fault-tolerant).
    substringPairsFromGrams(
      substringGrams(df, idCol, textCol, runWords, shingleK)
        .localCheckpoint(), maxBucket)

  /** Pair detection over a (possibly staged) [[substringGrams]] table. */
  def substringPairsFromGrams(grams: DataFrame,
      maxBucket: Int = 256): DataFrame = {
    val fps = grams.select(F.col("doc_id"),
      F.explode(F.col("_fps")).as("_fp"))
    val fpSizes = fps.groupBy("_fp")
      .agg(F.count(F.lit(1)).as("_fpn")).filter(F.col("_fpn") >= 2)
    val keyed = fps.join(fpSizes, Seq("_fp"))
    // small buckets pair INLINE over the already-sized frame (the
    // collect_list agg keys on _fp like the join, so it adds no
    // exchange) — routing through bucketedPairs here would recompute
    // the sizes and double the full-fingerprint shuffle volume, which
    // at 10^7 docs is the difference between fitting the shuffle disk
    // and filling it
    val member = F.struct(F.col("doc_id").as("_id"))
    val smallCands = keyed.filter(F.col("_fpn") <= maxBucket)
      .groupBy("_fp").agg(F.collect_list(member).as("_m"))
      .select(F.explode(F.col("_m")).as("_a"), F.col("_m"))
      .select(F.col("_a"), F.explode(F.col("_m")).as("_b"))
      .filter(F.col("_a._id") < F.col("_b._id"))
      .select(F.col("_a._id").as("id_a"), F.col("_b._id").as("id_b"))
    val bigDocs = keyed.filter(F.col("_fpn") > maxBucket)
      .select("doc_id").distinct()
    val bigRuns = bigDocs.join(grams, Seq("doc_id"))
      .select(F.col("doc_id"), F.explode(F.col("_runs")).as("_rh"))
    val bigCands = bucketedPairs(bigRuns, Seq("_rh"), "doc_id",
      Seq.empty, maxBucket)
      .select("id_a", "id_b")
    val cands = smallCands.unionByName(bigCands).distinct()
    val runs = grams.select(F.col("doc_id"), F.col("_runs"))
    cands
      .join(runs.select(F.col("doc_id").as("id_a"),
        F.col("_runs").as("_ra")), Seq("id_a"))
      .join(runs.select(F.col("doc_id").as("id_b"),
        F.col("_runs").as("_rb")), Seq("id_b"))
      .withColumn("n_shared_runs",
        F.size(F.array_intersect(F.col("_ra"), F.col("_rb"))))
      .filter(F.col("n_shared_runs") >= 1)
      .select("id_a", "id_b", "n_shared_runs")
  }

  // ------------------------------------------------------------------
  // Embedding-cosine near-dup
  // ------------------------------------------------------------------

  /** Near-duplicates by embedding cosine ≥ threshold, using the
    * Similarity module's LSH bucketing to avoid the full cross product.
    * `dim` is the embedding dimension (schema knowledge, not sniffed). */
  def embeddingNearDup(
      df: DataFrame, idCol: String, vecCol: String, dim: Int,
      minCosine: Double = 0.95, planes: Int = 12,
      seed: Long = 42L): DataFrame =
    Similarity.lshSelfPairs(df, idCol, vecCol, dim, planes, seed)
      .filter(F.col("cosine") >= minCosine)
}
