package graft

import org.apache.spark.sql.{functions => F}
import graft.ops.{Dedup, Similarity, TextAnalysis}

/** Training-pipeline operators: dedup family, similarity search, text
  * analysis — each verified against hand-computable oracles on tiny
  * deterministic data. */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    ("d1", "the quick brown fox jumps over the lazy dog near the river bank today"),
    ("d2", "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of d1
    ("d3", "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near dup
    ("d4", "completely different text about spark catalyst optimizer internals and planning"),
    ("d5", "THE QUICK  brown fox jumps over the lazy dog near the river bank today!")) // formatting dup of d1
    .toDF("id", "text")

  test("exact dedup groups formatting-equivalent texts") {
    val groups = Dedup.exactGroups(docs, "id", "text")
    val dupGroup = groups.filter($"n_dups" > 1).collect()
    assert(dupGroup.length == 1)
    assert(dupGroup(0).getAs[Long]("n_dups") == 3) // d1, d2, d5
    assert(dupGroup(0).getAs[String]("keep_id") == "d1")
  }

  test("combined (sig, grams) staging matches the two-pass pipeline") {
    // minhashSignaturesWithGrams + minhashBandPairs + ngramJaccardFromGrams
    // must emit the exact pair set of the one-shot candidates + the
    // text-joining ngramJaccard verify (same shingle size)
    val docs = (0 until 40).map { i =>
      val base = s"alpha bravo charlie delta echo foxtrot golf hotel " +
        s"india juliet kilo lima mike november oscar papa token$i"
      Seq((s"d$i", base), (s"n$i", base + " neardup"))  // J = 13/14
    }.flatten.toDF("id", "text")
    val sg = Dedup.minhashSignaturesWithGrams(docs, "id", "text",
      numHashes = 64, shingleK = 5).localCheckpoint()
    val combined = Dedup.ngramJaccardFromGrams(
        Dedup.minhashBandPairs(sg, numHashes = 64, bands = 32), sg)
      .filter(F.col("jaccard") >= 0.8)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    val cands = Dedup.minhashCandidates(docs, "id", "text",
        numHashes = 64, bands = 32, minJaccard = 0.0)
      .select("id_a", "id_b")
    val twoPass = Dedup.ngramJaccard(cands, docs, "id", "text", k = 5)
      .filter(F.col("jaccard") >= 0.8)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    assert(combined == twoPass)
    assert(combined.nonEmpty)
    // every planted (d_i, n_i) pair is found
    assert((0 until 40).forall(i =>
      combined.exists(p => p._1 == s"d$i" && p._2 == s"n$i")))
  }

  test("minhash LSH finds exact and near dups, not unrelated docs") {
    val cands = Dedup.minhashCandidates(docs, "id", "text",
      numHashes = 64, bands = 16, minJaccard = 0.5)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(cands.contains(("d1", "d2")))
    assert(cands.exists(p => p._1 == "d1" && p._2 == "d3") ||
      cands.exists(p => p._1 == "d2" && p._2 == "d3"))
    assert(!cands.exists(p => p._1 == "d4" || p._2 == "d4"))
  }

  test("simhash: identical texts collide, near texts within hamming 3") {
    val pairs = Dedup.simhashCandidates(docs, "id", "text", maxHamming = 8)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        r.getAs[Int]("hamming"))).toMap
    assert(pairs(("d1", "d2")) == 0)
    assert(pairs.get(("d1", "d3")).exists(_ <= 8))
    assert(!pairs.keySet.exists(p => p._1 == "d4" || p._2 == "d4"))
  }

  test("degenerate bucket: 10k identical docs stay LINEAR (star pairs)") {
    // boilerplate-heavy corpora collapse many docs into one LSH bucket;
    // uncapped all-pairs would be ~50M rows here — the cap must route
    // oversized buckets to star pairs around the representative
    val n = 10000
    val boiler = spark.range(n).selectExpr(
      "concat('doc-', format_string('%05d', id)) as id",
      "'exactly the same boilerplate text repeated in every document of this corpus' as text")
    val pairs = Dedup.minhashCandidates(boiler, "id", "text",
      numHashes = 64, bands = 16, minJaccard = 0.5, maxBucket = 256)
    val cnt = pairs.count()
    // star shape: every doc pairs with the min-id representative once
    assert(cnt == (n - 1).toLong, s"expected linear output, got $cnt")
    assert(pairs.filter($"id_a" === "doc-00000").count() == (n - 1).toLong)
  }

  test("IVF index: probe scan prunes to the probed cells' files") {
    import graft.ops.Ivf
    // 8 one-hot centroids; corpus vectors sit exactly on them, so cell
    // assignment is unambiguous and the probe set is known in advance
    val dim = 8
    val centroids = (0 until 8).map { j =>
      Array.tabulate(dim)(i => if (i == j) 1.0 else 0.0)
    }.toArray
    val corpus = spark.range(64).selectExpr(
      "cast(id as string) as vec_id",
      s"transform(sequence(0, ${dim - 1}), " +
        "i -> case when i = cast(id % 8 as int) then 1.0 " +
        "else cast(id as double) / 1000.0 end) as v")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf").toString + "/index"
    Ivf.writeIndex(corpus, "vec_id", "v", centroids, dir)

    // query = e0, nprobe 2 → probes cells {0, 1} (dot ties break by cell)
    val q = Seq(("q0", (0 until dim).map(i =>
      if (i == 0) 1.0 else 0.0))).toDF("vec_id", "v")
    val res = Ivf.topKFromIndex(spark, q, dir, "vec_id", "v", k = 3,
      centroids, nprobe = 2)
    // execute THIS QueryExecution (count() would plan a separate one and
    // leave res's scan metrics untouched)
    val resRows = res.collect()
    assert(resRows.nonEmpty)

    // the scan carries the static partition filter on cell…
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("cell#") && plan.contains("IN (0,1)"),
      plan.take(3000))
    // …and the numFiles metric proves FILE-LEVEL pruning: only the two
    // probed cells' files were listed and read
    import graft.tools.PlanWalk.{fileScans => scans}
    def countFiles(sub: String): Long = {
      val d = new java.io.File(dir, sub)
      d.listFiles((_, n) => n.endsWith(".parquet")).length.toLong
    }
    val readFiles =
      scans(res.queryExecution.executedPlan).map(_.metrics("numFiles").value).sum
    val probedFiles = countFiles("cell=0") + countFiles("cell=1")
    val allFiles = (0 until 8).map(c => countFiles(s"cell=$c")).sum
    assert(readFiles == probedFiles && probedFiles < allFiles,
      s"read=$readFiles probed=$probedFiles all=$allFiles")

    // same answer as the in-session join path on identical inputs
    val direct = Ivf.topK(q, corpus, "vec_id", "v", k = 3,
      centroids, nprobe = 2)
    assert(res.collect().toSet == direct.collect().toSet)
  }

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

  test("decontamination: shingle overlap with a benchmark set") {
    import graft.ops.Decontaminate
    val bench = Seq(Tuple1(
      "the quick brown fox jumps over the lazy dog near the river bank today"))
      .toDF("text")
    val hits = Decontaminate.contaminationHits(
        docs, "id", "text", bench, "text", k = 2)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getInt(2), r.getDouble(3))).toMap
    // exact copies are fully contained
    assert(hits("d1")._3 == 1.0 && hits("d2")._3 == 1.0)
    assert(hits("d5")._3 > 0.8) // formatting dup: most shingles shared
    assert(hits("d3")._3 > 0.5 && hits("d3")._3 < 1.0) // near dup
    assert(!hits.contains("d4")) // unrelated: zero hits, not emitted
  }

  test("ngram jaccard verifies candidates exactly") {
    val pairs = Seq(("d1", "d2"), ("d1", "d3"), ("d1", "d4"))
      .toDF("id_a", "id_b")
    val j = Dedup.ngramJaccard(pairs, docs, "id", "text", k = 3)
      .collect().map(r => ((r.getAs[String]("id_a"),
        r.getAs[String]("id_b")), r.getAs[Double]("jaccard"))).toMap
    assert(j(("d1", "d2")) == 1.0)
    assert(j(("d1", "d3")) > 0.7 && j(("d1", "d3")) < 1.0)
    assert(j(("d1", "d4")) == 0.0)
  }

  private def vec(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
  private val vecs = Seq(
    ("v1", vec(1, 0, 0, 0)),
    ("v2", vec(0.99, 0.1, 0, 0)),   // ~v1
    ("v3", vec(0, 1, 0, 0)),
    ("v4", vec(0, 0.98, 0.15, 0)),  // ~v3
    ("v5", vec(-1, 0, 0, 0)))       // opposite of v1
    .toDF("id", "embedding")

  test("brute-force cosine top-k matches hand-computed neighbors") {
    val knn = Similarity.cosineTopK(
      vecs.filter($"id" === "v1"), vecs, "id", "embedding", k = 2)
      .orderBy("rank").collect()
    assert(knn(0).getAs[String]("neighbor_id") == "v2")
    assert(knn(0).getAs[Double]("cosine") > 0.99)
    assert(knn(1).getAs[String]("neighbor_id") != null)
    assert(knn.last.getAs[String]("neighbor_id") != "v5")
  }

  test("LSH top-k recalls the brute-force nearest neighbor") {
    val brute = Similarity.cosineTopK(vecs, vecs, "id", "embedding", 1)
      .select("query_id", "neighbor_id").as[(String, String)]
      .collect().toMap
    val approx = Similarity.lshTopK(vecs, vecs, "id", "embedding",
      k = 1, dim = 4, planes = 6)
      .select("query_id", "neighbor_id").as[(String, String)]
      .collect().toMap
    // nearest neighbor of every vector recovered (tiny set, multi-probe)
    assert(approx("v1") == brute("v1"))
    assert(approx("v3") == brute("v3"))
  }

  test("IVF: kmeans quantizer + cell-probed search recalls brute top-1") {
    import graft.ops.Ivf
    val brute = Similarity.cosineTopK(vecs, vecs, "id", "embedding", 1)
      .select("query_id", "neighbor_id").as[(String, String)]
      .collect().toMap
    val cents = Ivf.fitKMeans(vecs, "embedding", k = 2, seed = 7L)
    assert(cents.length == 2 && cents.forall(_.length == 4))
    // normalized centroids
    cents.foreach { c =>
      assert(math.abs(c.map(x => x * x).sum - 1.0) < 1e-9)
    }
    val got = Ivf.topK(vecs, vecs, "id", "embedding", k = 1,
        centroids = cents, nprobe = 2)
      .select("query_id", "neighbor_id").as[(String, String)]
      .collect().toMap
    assert(got("v1") == brute("v1"))
    assert(got("v3") == brute("v3"))

    // deterministic quantizer: first-k rows, normalized
    val seeded = Ivf.centroidsFromRows(vecs, "id", "embedding", 2)
    assert(seeded.length == 2)
    assert(math.abs(seeded(0).map(x => x * x).sum - 1.0) < 1e-9)
    val got2 = Ivf.topK(vecs, vecs, "id", "embedding", k = 1,
        centroids = seeded, nprobe = 2)
      .select("query_id", "neighbor_id").as[(String, String)]
      .collect().toMap
    assert(got2("v1") == brute("v1"))
  }

  test("embedding near-dup finds the planted close pair only") {
    val pairs = Dedup.embeddingNearDup(vecs, "id", "embedding", dim = 4,
      minCosine = 0.95, planes = 4)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs.contains(("v1", "v2")))
    assert(pairs.contains(("v3", "v4")))
    assert(pairs.size == 2)
  }

  test("bucketedPairs: all pairs under the cap, star pairs above it") {
    val rows = Seq(
      ("b1", "a"), ("b1", "b"), ("b1", "c"),                   // small: 3 pairs
      ("b2", "p"), ("b2", "q"), ("b2", "r"), ("b2", "s"), ("b2", "t"))
      .toDF("bucket", "id").withColumn("pl", F.lit(1))
    val pairs = Dedup.bucketedPairs(rows, Seq("bucket"), "id",
        Seq("pl"), maxBucket = 3)
      .select("id_a", "id_b").as[(String, String)].collect().toSet
    // b1 (size 3 ≤ cap): all 3 pairs
    assert(pairs.intersect(Set(("a","b"),("a","c"),("b","c"))).size == 3)
    // b2 (size 5 > cap): star around rep "p" — exactly 4 pairs, no q-r etc.
    assert(pairs.filter(_._1 == "p") == Set(("p","q"),("p","r"),("p","s"),("p","t")))
    assert(!pairs.contains(("q", "r")))
    assert(pairs.size == 7)
  }

  test("codegen vector ops match the higher-order formulation") {
    import graft.functions.{CosineSim, DotProduct, HyperplaneBucket}
    val two = vecs.select($"id", $"embedding".cast("array<double>").as("v"))
      .crossJoin(vecs.select($"id".as("id2"),
        $"embedding".cast("array<double>").as("w")))
      .filter($"id" < $"id2")
    val got = two.select($"id", $"id2",
      DotProduct($"v", $"w").as("dot"),
      CosineSim($"v", $"w").as("cos"),
      F.aggregate(F.zip_with($"v", $"w", (x, y) => x * y),
        F.lit(0.0), (acc, x) => acc + x).as("dot_ref"))
      .collect()
    got.foreach { r =>
      assert(math.abs(r.getDouble(2) - r.getDouble(4)) < 1e-12,
        s"${r.getString(0)}-${r.getString(1)}")
    }
    val c12 = got.find(r => r.getString(0) == "v1" && r.getString(1) == "v2")
      .get.getDouble(3)
    assert(math.abs(c12 - 0.99 / math.sqrt(0.99 * 0.99 + 0.01)) < 1e-9)

    // HyperplaneBucket = sign bits of the same seeded plane dots
    val planes = HyperplaneBucket.planesFor(4, 6, 42L)
    val expected = vecs.collect().map { r =>
      val v = r.getSeq[Float](1).map(_.toDouble)
      r.getString(0) -> planes.zipWithIndex.map { case (p, i) =>
        if (p.zip(v).map { case (a, b) => a * b }.sum >= 0) 1L << i else 0L
      }.reduce(_ | _)
    }.toMap
    val gotB = vecs.select($"id",
        HyperplaneBucket($"embedding", 4, 6, 42L).as("b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotB == expected)
  }

  test("ArrayEqualCount matches the zip_with formulation") {
    import graft.functions.ArrayEqualCount
    val df = Seq(
      (Seq(1L, 2L, 3L, 4L), Seq(1L, 9L, 3L, 4L)), // 3 equal
      (Seq(1L, 2L), Seq(1L, 2L)),                 // 2 equal
      (Seq.empty[Long], Seq.empty[Long]))         // 0
      .toDF("a", "b")
    val got = df.select(
      ArrayEqualCount($"a", $"b").as("fast"),
      F.size(F.filter(F.zip_with($"a", $"b", (x, y) => x === y),
        e => e)).as("ref")).collect()
    got.foreach(r => assert(r.getInt(0) == r.getInt(1)))
    // length mismatch → null, never a wrong count
    val mism = Seq((Seq(1L, 2L), Seq(1L, 2L, 3L))).toDF("a", "b")
    assert(mism.select(ArrayEqualCount($"a", $"b")).head().isNullAt(0))
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

  test("substring dedup: planted shared runs found, short overlaps rejected") {
    // 24-word base text; d_embed copies words 3..18 (a 16-word run)
    // into different surroundings; d_short shares only an 8-word run
    val baseWords = (1 to 24).map(i => s"w$i").mkString(" ")
    val run16 = (3 to 18).map(i => s"w$i").mkString(" ")
    val run8 = (3 to 10).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      ("d1", baseWords),
      ("d2", s"intro words here then $run16 and some trailing padding words appended"),
      ("d3", s"prefix padding tokens a b c d e $run8 x y z q r s t u v"),
      ("d4", (101 to 130).map(i => s"v$i").mkString(" ")))
      .toDF("id", "text")
    val pairs = graft.ops.Dedup
      .substringPairs(docs, "id", "text", runWords = 16, shingleK = 8)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getInt(2)).toMap
    // d1–d2 share runs of exactly 16 consecutive words: the 16-gram
    // windows inside the shared span = 1 (span length 16)
    assert(pairs.keySet == Set(("d1", "d2")))
    assert(pairs(("d1", "d2")) == 1)

    // longer shared span → more shared 16-gram windows (span 20 → 5)
    val run20 = (3 to 22).map(i => s"w$i").mkString(" ")
    val docs2 = Seq(
      ("a1", baseWords),
      ("a2", s"lead tokens $run20 tail bits end"))
      .toDF("id", "text")
    val p2 = graft.ops.Dedup
      .substringPairs(docs2, "id", "text", runWords = 16, shingleK = 8)
      .collect()
    assert(p2.length == 1 && p2(0).getInt(2) == 5)

    // docs shorter than the run are excluded, not crashed on
    val short = Seq(("s1", "one two three"), ("s2", "one two three"))
      .toDF("id", "text")
    assert(graft.ops.Dedup
      .substringPairs(short, "id", "text", runWords = 16).isEmpty)
  }

  test("substring dedup: degenerate boilerplate bucket stays linear and true") {
    // every fingerprint bucket is oversized here (600 identical docs >
    // cap 256); the fallback re-buckets those docs by EXACT run hashes,
    // whose star pairs verify true by construction — output is linear
    // and no true-sharing pair is silently dropped by the verify
    val n = 600
    val boiler = spark.range(n).selectExpr(
      "concat('doc-', format_string('%04d', id)) as id",
      "'exactly the same twenty word boilerplate text repeated in " +
        "every document of this synthetic corpus for the degenerate " +
        "bucket case' as text")
    val pairs = graft.ops.Dedup
      .substringPairs(boiler, "id", "text", runWords = 16, shingleK = 8)
    assert(pairs.count() == (n - 1).toLong)
    assert(pairs.filter($"id_a" === "doc-0000").count() == (n - 1).toLong)
    assert(pairs.filter($"n_shared_runs" < 1).isEmpty)
  }

  test("decontamination hits are invariant under exact-duplicate rows") {
    import graft.ops.Decontaminate
    val bench = Seq("alpha beta gamma delta epsilon zeta eta theta")
      .toDF("text")
    // one contaminated doc, duplicated VERBATIM (same id + text) —
    // the exact input shape the sibling dedup ops exist to find; hits
    // must count distinct matched shingles, not joined rows, or the
    // contained fraction doubles past 1.0
    val docs = Seq(
      ("c1", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      ("c1", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      ("ok", "completely unrelated words nothing shared with the benchmark set here"))
      .toDF("id", "text")
    val hits = Decontaminate.contaminationHits(
      docs, "id", "text", bench, "text", k = 4).collect()
    assert(hits.length == 1 && hits(0).getAs[String]("doc_id") == "c1")
    val frac = hits(0).getAs[Double]("contained_frac")
    assert(frac > 0.0 && frac <= 1.0, s"contained_frac out of range: $frac")
    // 10-word doc, k=4 → 7 shingles; 8-word bench → 5 shingles, all in doc
    assert(hits(0).getAs[Long]("n_hits") == 5L)
    assert(hits(0).getAs[Int]("n_grams") == 7)
  }

  test("bloom-pruned decontamination equals the exact broadcast path") {
    import graft.ops.Decontaminate
    val bench = Seq(
      "alpha beta gamma delta epsilon zeta eta theta",
      "one two three four five six seven eight nine ten").toDF("text")
    val corpus = Seq(
      ("c1", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      ("c2", "zero one two three four five six seven eight nine ten eleven"),
      ("c3", "completely unrelated words nothing shared with the benchmark set here"),
      ("c4", "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[String]("doc_id"),
        r.getAs[Long]("n_hits"), r.getAs[Int]("n_grams"),
        r.getAs[Double]("contained_frac"))).toSet
    val exact = rows(Decontaminate.contaminationHits(
      corpus, "id", "text", bench, "text", k = 4))
    val bloom = rows(Decontaminate.contaminationHitsBloom(
      corpus, "id", "text", bench, "text", k = 4, fpp = 0.01))
    assert(exact.nonEmpty, "fixture must actually contaminate")
    assert(bloom == exact,
      s"bloom path diverged:\n  exact=$exact\n  bloom=$bloom")
  }

  test("bloom_might_contain has no false negatives over inserted hashes") {
    import org.apache.spark.sql.GraftSqlBridge
    val vals = spark.range(0, 2000).select(
      F.xxhash64(F.col("id")).as("_sh"))
    val bloom = vals.stat.bloomFilter("_sh", 2000, 0.01)
    val out = new java.io.ByteArrayOutputStream()
    bloom.writeTo(out)
    val probe = GraftSqlBridge.column(graft.functions.BloomMightContain(
      GraftSqlBridge.expression(F.col("_sh")), out.toByteArray))
    // every inserted hash must probe true (bloom contract), under both
    // the codegen and interpreted paths (the filter runs codegen'd)
    assert(vals.filter(!probe).count() == 0L)
    // and the filter must actually prune: unrelated hashes mostly miss
    val misses = spark.range(1000000, 1002000)
      .select(F.xxhash64(F.col("id")).as("_sh"))
      .filter(!probe).count()
    assert(misses > 1800L, s"bloom pruned only ${2000 - misses}/2000 misses")
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
