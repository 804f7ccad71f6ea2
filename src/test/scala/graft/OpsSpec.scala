package graft

import org.apache.spark.sql.{functions => F}
import graft.ops.TextAnalysis

/** Pipeline operators kept in `graft.ops`: connected components, text
  * analysis and deterministic sampling — each verified against
  * hand-computable oracles on tiny deterministic data. */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    ("d1", "the quick brown fox jumps over the lazy dog near the river bank today"),
    ("d2", "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of d1
    ("d3", "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near dup
    ("d4", "completely different text about spark catalyst optimizer internals and planning"),
    ("d5", "THE QUICK  brown fox jumps over the lazy dog near the river bank today!")) // formatting dup of d1
    .toDF("id", "text")

  test("connected components: chains close transitively in O(log n)") {
    import graft.ops.ConnectedComponents
    // path graph of 65 nodes: plain label propagation needs 64 rounds;
    // the large-star/small-star alternation must converge well inside 12
    val chain = spark.range(64).selectExpr(
      "format_string('n%03d', id) as id_a",
      "format_string('n%03d', id + 1) as id_b")
    val g1 = ConnectedComponents.groups(chain, maxIter = 12)
    assert(g1.count() == 65)
    assert(g1.filter($"group_id" =!= "n000").isEmpty)
    assert(g1.filter($"keep").select("doc_id").as[String]
      .collect().toSeq == Seq("n000"))

    // two components; group_id is each component's min id
    val pairs = Seq(("b", "a"), ("c", "b"), ("z", "y"))
      .toDF("id_a", "id_b")
    val g2 = ConnectedComponents.groups(pairs).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getBoolean(2)))
      .toMap
    assert(g2 == Map(
      "a" -> (("a", true)), "b" -> (("a", false)), "c" -> (("a", false)),
      "y" -> (("y", true)), "z" -> (("y", false))))

    // empty pair table → empty assignment, no crash
    assert(ConnectedComponents.groups(
      Seq.empty[(String, String)].toDF("id_a", "id_b")).isEmpty)
  }

  test("connected components: totalAssignment covers singletons") {
    import graft.ops.ConnectedComponents
    // corpus with documents that appear in NO pair: the total
    // assignment makes them their own kept group — API, not caller
    // folklore (round-3 verdict's foot-gun)
    val corpus = Seq("a", "b", "c", "lonely1", "lonely2").toDF("id")
    val pairs = Seq(("b", "a"), ("c", "b")).toDF("id_a", "id_b")
    val total = ConnectedComponents.totalAssignment(corpus, "id", pairs)
      .collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getBoolean(2)))
      .toMap
    assert(total == Map(
      "a" -> (("a", true)), "b" -> (("a", false)), "c" -> (("a", false)),
      "lonely1" -> (("lonely1", true)), "lonely2" -> (("lonely2", true))))
  }

  test("connected components: 10k-star dedup group stays one group") {
    import graft.ops.ConnectedComponents
    // the shape bucketedPairs emits for a degenerate bucket: star pairs
    // around the min-id representative — CC must resolve it to a single
    // keep/drop group with linear work
    val n = 10000
    val star = spark.range(1, n).selectExpr(
      "'doc-00000' as id_a",
      "concat('doc-', format_string('%05d', id)) as id_b")
    val g = ConnectedComponents.groups(star)
    assert(g.count() == n.toLong)
    assert(g.filter($"group_id" =!= "doc-00000").isEmpty)
    assert(g.filter($"keep").count() == 1L)
  }

  test("token counting: whitespace and subword") {
    val df = Seq(("a", "hello world  foo"), ("b", ""), ("c", "  "),
      ("d", "don't stop-me now2"))
      .toDF("id", "text")
      .withColumn("n", TextAnalysis.tokenCount($"text"))
      .withColumn("sub", TextAnalysis.subwordCount($"text"))
    val m = df.select("id", "n", "sub").collect()
      .map(r => r.getString(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(m("a") == ((3, 3)))
    assert(m("b")._1 == 0 && m("c")._1 == 0)
    assert(m("d")._1 == 3)
    assert(m("d")._2 == 8) // don ' t stop - me now 2
  }

  test("quality score separates clean text from garbage") {
    val df = Seq(
      ("clean", "the quick brown fox jumps over the lazy dog and runs to the forest"),
      ("garbage", "@@@@ ### !!!! $$$$ %%%% ^^^^ &&&& **** (((( ))))"),
      ("digits", "123 456 789 012 345 678 901 234 567 890 111 222"))
      .toDF("id", "text")
    val scores = TextAnalysis.qualityScore(df, "text")
      .select("id", "quality_score").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(scores("clean") > 0.8)
    assert(scores("garbage") < 0.4)
    assert(scores("digits") < scores("clean"))
  }

  test("language id picks the marker-dominant language") {
    val df = Seq(
      ("en", "the cat and the dog are in the house with the mouse"),
      ("de", "der hund und die katze sind nicht in der küche mit einem ball"),
      ("fr", "le chat est dans la maison avec les enfants pour une heure"),
      ("es", "el perro y la gata son una familia en la casa del pueblo"),
      ("und", "zxcvb qwerty asdfgh"))
      .toDF("expected", "text")
      .withColumn("got", TextAnalysis.langId($"text"))
    assert(df.filter($"expected" === $"got").count() == 5)
  }

  test("fingerprint is formatting-invariant, shingles order-sensitive") {
    val fp = docs.withColumn("fp", TextAnalysis.fingerprint($"text"))
      .select("id", "fp").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fp("d1") == fp("d2"))
    assert(fp("d1") == fp("d5")) // case/punct/space-normalized
    assert(fp("d1") != fp("d3"))
  }

  test("ngram repetition profile matches hand counts") {
    val d = Seq(
      ("1", "a b a b a"),          // 2-grams: ab,ba,ab,ba → 4 total, 2 distinct
      ("2", "hello"),              // shorter than n → one whole-text gram
      ("3", "x y z"),              // xy, yz — all distinct
      ("4", "  "))                 // blank: excluded
      .toDF("doc_id", "text")
    val r = TextAnalysis.ngramRepetition(d, "doc_id", "text", n = 2)
      .collect().map(x => x.getAs[String]("doc_id") -> x).toMap
    assert(r.keySet == Set("1", "2", "3"))
    assert(r("1").getAs[Long]("n_grams") == 4L)
    assert(r("1").getAs[Long]("n_distinct") == 2L)
    assert(r("1").getAs[Long]("top_count") == 2L)
    assert(r("1").getAs[Double]("dup_frac") == 0.5)
    assert(r("1").getAs[Double]("top_frac") == 0.5)
    assert(r("2").getAs[Long]("n_grams") == 1L)
    assert(r("2").getAs[Double]("dup_frac") == 0.0)
    assert(r("3").getAs[Long]("n_distinct") == 2L)
    assert(r("3").getAs[Long]("top_count") == 1L)
    // non-numeric ids keep their own profile rows (the id column keeps
    // its native type; a cast-to-long would NULL these and merge them)
    val nn = Seq(("doc-abc", "p q p q"), ("doc-def", "p q r s"))
      .toDF("doc_id", "text")
    val rn = TextAnalysis.ngramRepetition(nn, "doc_id", "text", n = 2)
      .collect().map(x => x.getAs[String]("doc_id") -> x).toMap
    assert(rn.keySet == Set("doc-abc", "doc-def"))
    assert(rn("doc-abc").getAs[Long]("n_grams") == 3L)
    assert(rn("doc-abc").getAs[Long]("n_distinct") == 2L)
    assert(rn("doc-def").getAs[Long]("n_distinct") == 3L)
  }

  test("stratifiedSample refuses an input that already has sample_bucket") {
    import graft.ops.Sampling
    val d = spark.range(0, 10).select(F.col("id").as("doc_id"),
      F.lit("en").as("lang"), F.lit(0L).as("sample_bucket"))
    val e = intercept[IllegalArgumentException] {
      Sampling.stratifiedSample(d, "doc_id", "lang",
        Map("en" -> 0.5), defaultRate = 0.2)
    }
    assert(e.getMessage.contains("sample_bucket"))
  }

  test("deterministic sampling: keyed, stratified, partitioning-proof") {
    import graft.ops.Sampling
    val d = spark.range(0, 10000).select(
      F.col("id").as("doc_id"),
      F.when(F.col("id") % 3 === 0, "en").otherwise("zh").as("lang"))
    // membership is a pure function of the key: same set at any
    // parallelism (df.sample would differ under repartition)
    val once = Sampling.hashSample(d, "doc_id", 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val again = Sampling.hashSample(d.repartition(7), "doc_id", 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(once == again)
    // the Scala replay of the congruential bucket agrees row-for-row
    val expected = (0L until 10000L).filter(k =>
      ((k % Sampling.Modulus) * 1103515245L + 12345L) % Sampling.Modulus <
        (0.3 * Sampling.Modulus).toLong).toSet
    assert(once == expected)
    // stratified: each stratum sampled at ITS rate, bucket emitted
    val strat = Sampling.stratifiedSample(d, "doc_id", "lang",
      Map("en" -> 0.9), defaultRate = 0.1)
    val byLang = strat.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nEn = d.filter($"lang" === "en").count().toDouble
    val nZh = d.filter($"lang" === "zh").count().toDouble
    assert(math.abs(byLang("en") / nEn - 0.9) < 0.05)
    assert(math.abs(byLang("zh") / nZh - 0.1) < 0.05)
    assert(strat.filter($"sample_bucket" >= Sampling.Modulus).count() == 0)
    // rate edges
    assert(Sampling.hashSample(d, "doc_id", 0.0).count() == 0L)
    assert(Sampling.hashSample(d, "doc_id", 1.0).count() == 10000L)
  }
}
