package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupSuite extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    // planted near-dup cluster: 1≈2 (one word changed), 3 = exact copy of 1
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy cat near the river bank today"),
    (3L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    // unrelated docs
    (4L, "spark builds distributed query plans with catalyst and tungsten engines"),
    (5L, "monte carlo simulation of calibration estimators on survey designs"),
    (6L, "completely different words appear in this sixth document about nothing")
  ).toDF("doc_id", "text")

  test("wordShingles: n-grams, distinct, short-doc fallback") {
    val sh = corpus.select(Dedup.wordShingles(col("text"), 3).as("sh"))
      .filter(col("sh").isNotNull).head()
    assert(sh.getSeq[String](0).head === "the quick brown")
    val short = Seq((1L, "two words")).toDF("doc_id", "text")
      .select(Dedup.wordShingles(col("text"), 3).as("sh")).head()
    assert(short.getSeq[String](0) === Seq("two words"))
  }

  test("jaccard: identical docs = 1, near-dups high, unrelated 0") {
    val sh = corpus.select(col("doc_id"),
      Dedup.wordShingles(col("text"), 3).as("sh"))
    val a = sh.withColumnsRenamed(Map("doc_id" -> "ia", "sh" -> "sa"))
    val b = sh.withColumnsRenamed(Map("doc_id" -> "ib", "sh" -> "sb"))
    val j = a.join(b, col("ia") < col("ib"))
      .select(col("ia"), col("ib"), Dedup.jaccard(col("sa"), col("sb")).as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((1L, 3L)) === 1.0)
    assert(j((1L, 2L)) > 0.5 && j((1L, 2L)) < 1.0)
    assert(j((1L, 4L)) === 0.0)
  }

  test("minhash-LSH near-dup finds exactly the planted cluster at 0.5") {
    val found = Dedup.nearDuplicates(corpus, "doc_id", "text", 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(found === Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("incrementalNearDup: new batch flags against corpus; best match " +
      "wins; clean docs silent; partition-invariant") {
    // corpus = docs 1-6; batch: 10 ≈ doc 1's cluster (exact copy of 1,
    // so jaccard 1.0 vs both 1 and 3 — tie broken to dup_of = 1),
    // 11 = near-dup of 2, 12 clean
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (11L, "the quick brown fox jumps over the lazy cat near the river bank now"),
      (12L, "nothing here resembles anything in the existing corpus at all")
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalNearDup(batch, corpus, "doc_id", "text", 0.5)
      .orderBy("new_id")
      .as[(Long, Long, Double)].collect()
    assert(out.map(_._1).toSeq === Seq(10L, 11L)) // 12 is clean
    assert(out(0)._2 === 1L && out(0)._3 === 1.0) // tie 1 vs 3 → smaller id
    assert(out(1)._2 === 2L && out(1)._3 > 0.5 && out(1)._3 < 1.0)
    val again = Dedup.incrementalNearDup(batch.repartition(5),
      corpus.repartition(3), "doc_id", "text", 0.5)
      .orderBy("new_id").as[(Long, Long, Double)].collect()
    assert(out.toSeq === again.toSeq)
  }

  test("incrementalNearDup: stored corpus bands/shingles reproduce the " +
      "recompute path exactly") {
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (12L, "nothing here resembles anything in the existing corpus at all")
    ).toDF("doc_id", "text")
    val default = Dedup.incrementalNearDup(batch, corpus, "doc_id", "text",
      0.5).orderBy("new_id").collect().toSeq
    val stored = Dedup.incrementalNearDup(batch, corpus, "doc_id", "text",
        0.5,
        corpusBands = Some(Dedup.lshBands(corpus, "doc_id", "text")),
        corpusShingles = Some(corpus.select(col("doc_id"),
          Dedup.wordShingles(col("text"), 3).as("sh"))))
      .orderBy("new_id").collect().toSeq
    assert(default === stored)
  }

  test("simhash: exact copies at Hamming 0; candidates find the cluster") {
    val h = corpus.select(col("doc_id"), Dedup.simhash64(col("text")).as("h"))
      .as[(Long, Long)].collect().toMap
    assert(h(1L) === h(3L))
    val cand = Dedup.simhashCandidates(corpus, "doc_id", "text", maxHamming = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(cand.contains((1L, 3L)))
    assert(cand.contains((1L, 2L)) || cand.contains((2L, 3L)))
  }

  test("simhash signature is partitioning-invariant (deterministic)") {
    val h1 = corpus.repartition(1).select(Dedup.simhash64(col("text")))
      .as[Long].collect().sorted.toSeq
    val h4 = corpus.repartition(4).select(Dedup.simhash64(col("text")))
      .as[Long].collect().sorted.toSeq
    assert(h1 === h4)
  }

  test("exact dedup groups identical texts, keeps min id") {
    val d = Dedup.exact(corpus, "doc_id", "text")
      .filter(col("n_copies") > 1).collect()
    assert(d.length === 1)
    assert(d.head.getAs[Long]("keep_id") === 1L)
    assert(d.head.getAs[Long]("n_copies") === 2L)
  }

  test("connectedComponents: chain + clique resolve to min-id clusters") {
    // components: {1,2,3,4} via a chain (diameter 3), {10,11,12} via a
    // clique, {20,21} an isolated pair
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (21L, 20L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents: adversarial 512-hop path (diameter ≫ rounds)") {
    // hash-min alone needs 511 rounds here; the star-contraction
    // fallback must label the whole path in O(log n) rounds. Shifted
    // ids + a second component check it isn't just min-id-zero luck.
    val path = spark.range(511).select((col("id") + 1000).as("id_a"),
      (col("id") + 1001).as("id_b"))
    val clique = Seq((5L, 6L), (6L, 7L), (5L, 7L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(path.unionByName(clique))
      .as[(Long, Long)].collect().toMap
    assert(cc.size === 515)
    (1000L to 1511L).foreach(id => assert(cc(id) === 1000L))
    Seq(5L, 6L, 7L).foreach(id => assert(cc(id) === 5L))
  }

  test("starContraction alone matches hash-min on the clique fixture") {
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (21L, 20L)).toDF("id_a", "id_b")
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
    val cc = Dedup.starContraction(edges).as[(Long, Long)].collect().toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents labels self-loop-only nodes on BOTH paths") {
    // node 99 exists only as a (99,99) self-loop; node 2 has a self-loop
    // AND a real edge. Both code paths (hash-min and the star-contraction
    // fallback) must label 99 → 99 and keep 2 in its real component.
    val base = Seq((99L, 99L), (2L, 2L), (2L, 1L)).toDF("id_a", "id_b")
    val hashMin = Dedup.connectedComponents(base)
      .as[(Long, Long)].collect().toMap
    assert(hashMin === Map(1L -> 1L, 2L -> 1L, 99L -> 99L))
    // force the fallback: a 300-hop path exhausts the hash-min budget
    val path = spark.range(300).select((col("id") + 1000).as("id_a"),
      (col("id") + 1001).as("id_b"))
    val star = Dedup.connectedComponents(base.unionByName(path))
      .as[(Long, Long)].collect().toMap
    assert(star(99L) === 99L)
    assert(star(2L) === 1L && star(1L) === 1L)
    assert(star(1300L) === 1000L)
  }

  test("connectedComponents is partitioning-invariant") {
    // bare ring of 30 nodes — worst diameter (15) for hash-min rounds
    val ring = spark.range(30).select(col("id").as("id_a"),
      ((col("id") + 1) % 30).as("id_b"))
    def run(parts: Int) = Dedup.connectedComponents(ring.repartition(parts))
      .as[(Long, Long)].collect().sorted.toSeq
    val r1 = run(1)
    assert(r1 === run(5))
    assert(r1.forall(_._2 == 0L)) // one component labeled by its min id
  }

  test("e10 semantic dedup: structural invariants hold and same-cluster " +
      "recall of exact near-dup pairs clears the pinned floor") {
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val row = graft.queries.Catalog.queries("e10_semantic_dedup")(
        spark, s"/root/testdata/$sf").collect().head
      val nRows = row.getAs[Long]("n_rows")
      val nKept = row.getAs[Long]("n_kept")
      val nClusters = row.getAs[Long]("n_clusters")
      val recall = row.getAs[Double]("pair_recall")
      info(s"$sf: rows=$nRows kept=$nKept clusters=$nClusters " +
        s"exact=${row.getAs[Long]("n_exact_pairs")} recall=$recall")
      assert(nRows > 0 && nKept === nClusters,
        s"$sf: keepers ($nKept) must equal clusters ($nClusters)")
      assert(row.getAs[Boolean]("keeper_rule_ok"), s"$sf keeper rule")
      assert(row.getAs[Long]("n_exact_pairs") > 0,
        s"$sf fixture must contain planted near-dup pairs")
      // the fixture's pairs are DELIBERATELY weak (cos ≈ 0.45, far
      // below SemDeDup's ~0.95 regime), so scoped recall is the
      // documented trade, not a quality bar — the floor only guards
      // against a broken assignment (deterministic: measured 3/7 and
      // 5/14 at the two SFs under the r16 portable trained centroids;
      // the pre-r16 Gaussian seed-7 trainer measured 2/7 and 6/14 —
      // same regime, different cells). The real anchors are the
      // nCells = 1 degenerate-exact test below and AnnSuite's planted
      // strong-dup recovery.
      assert(recall >= 0.25, s"$sf recall $recall")
    }
  }

  test("semanticDedup nCells=1 degenerates to the exact near-dup set " +
      "(the correctness anchor for cluster-scoping)") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val exact = Ann.nearDupExact(emb, "vec_id", "embedding", 0.45)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cl = Ann.semanticDedup(emb, "vec_id", "embedding", dim = 64,
        nCells = 1, threshold = 0.45, lloydIters = 2, seed = 7L)
      .select("id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every exact pair co-clusters, and no spurious merge: clusters
    // are exactly the connected components of the exact pair graph
    assert(exact.forall { case (a, b) => cl(a) == cl(b) },
      "an exact near-dup pair failed to co-cluster at nCells = 1")
    val inPairs = exact.flatMap(p => Seq(p._1, p._2))
    cl.filterNot { case (id, _) => inPairs(id) }.foreach { case (id, c) =>
      assert(c == id, s"singleton $id merged into cluster $c")
    }
  }

  test("dropDuplicateSpans: planted dup tile survives only at its first " +
      "occurrence; tails exempt; reassembly ordered") {
    // n = 4 tiles. Doc 1: [A B C D][E F G H][I J]  (tail "i j" exempt)
    // Doc 2: [A B C D][X Y Z W]  — first tile duplicates doc 1's.
    // Doc 3: [E F G H]           — duplicates doc 1's second tile.
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d x y z w"),
      (3L, "e f g h")
    ).toDF("doc_id", "text")
    val out = Dedup.dropDuplicateSpans(docs, "doc_id", "text", n = 4)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    assert(out(0) === ((1L, "a b c d e f g h i j", 3L, 0L)))
    assert(out(1) === ((2L, "x y z w", 2L, 1L)))
    // doc 3's only tile is full-width and a dup of doc 1's second tile
    assert(out(2) === ((3L, "", 1L, 1L)))
  }

  test("dropDuplicateSpans: NULL text is treated as empty, doc survives") {
    val docs = Seq((1L, "a b c d"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = Dedup.dropDuplicateSpans(docs, "doc_id", "text", n = 4)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    assert(out.length === 2)
    assert(out(1) === ((2L, "", 1L, 0L))) // one exempt tail tile, kept
  }

  test("dropDuplicateSpans is partition-invariant and keeps every doc") {
    val docs = corpus
    val a = Dedup.dropDuplicateSpans(docs, "doc_id", "text", n = 4)
      .orderBy("doc_id").collect().toSeq
    val b = Dedup.dropDuplicateSpans(docs.repartition(7), "doc_id", "text",
        n = 4)
      .orderBy("doc_id").collect().toSeq
    assert(a === b)
    assert(a.size === docs.count())
    // doc 3 is an exact copy of doc 1: every full tile of 3 is dropped,
    // doc 1 (the first occurrence) keeps its text verbatim
    val byId = a.map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getString(1) ===
      "the quick brown fox jumps over the lazy dog near the river bank today")
    assert(byId(3L).getLong(3) === byId(3L).getLong(2) - 1) // all full tiles dropped
  }

  test("editDistance1Pairs: substitution, insertion, deletion found; distance-2 rejected") {
    val df = Seq("abc", "abd", "abcd", "ab", "bca", "xyz", "abc")
      .toDF("name")
    val got = Dedup.editDistance1Pairs(df, "name")
      .as[(String, String)].collect().toSet
    assert(got === Set(
      ("abc", "abd"),   // substitution
      ("abc", "abcd"),  // insertion
      ("ab", "abc"),    // deletion
      ("ab", "abd"),    // deletion
      ("abcd", "abd")   // abd + insert c
    )) // NOT ("abc","bca") — shares variant "bc"? no; distance 2 anyway
  }

  test("editDistance1Pairs is exactly the brute-force pair set on a planted corpus") {
    val words = (0 until 300).map(i => f"item-${i % 97}%03d-${(i * 7) % 10}")
    val df = words.toDF("name")
    val brute = (for {
      a <- words.distinct; b <- words.distinct if a < b
      if levenshteinRef(a, b) <= 1
    } yield (a, b)).toSet
    val got = Dedup.editDistance1Pairs(df, "name")
      .as[(String, String)].collect().toSet
    assert(got === brute)
  }

  private def levenshteinRef(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
      if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("keepBestPerCluster: longest rendition wins, ties to min id, " +
      "singletons kept") {
    val extended = corpus.unionByName(Seq(
      (7L, "the quick brown fox jumps over the lazy dog near the river " +
        "bank today with extra trailing words")).toDF("doc_id", "text"))
    val pairs = Dedup.nearDuplicates(extended, "doc_id", "text", 0.5)
    val out = Dedup.keepBestPerCluster(
        extended.select(col("doc_id"),
          length(col("text")).cast("long").as("q")),
        "doc_id", Dedup.connectedComponents(pairs), "q")
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    // 7 is the longest member of cluster {1,2,3,7}; singletons all kept
    assert(out(7L) === 1)
    assert(out(1L) === 0 && out(2L) === 0 && out(3L) === 0)
    assert(out(4L) === 1 && out(5L) === 1 && out(6L) === 1)
    // equal-length tie (without 7): min id 1 wins
    val tied = Dedup.keepBestPerCluster(
        corpus.select(col("doc_id"), length(col("text")).cast("long").as("q")),
        "doc_id",
        Dedup.connectedComponents(
          Dedup.nearDuplicates(corpus, "doc_id", "text", 0.5)), "q")
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(tied(1L) === 1 && tied(2L) === 0 && tied(3L) === 0)
  }

  test("corpusOverlap: exact pairwise Jaccard incl. zero-overlap pairs") {
    // src a: "w1 w2 w3 w4" → grams {w1 w2 w3, w2 w3 w4}
    // src b: "w1 w2 w3 w5" → grams {w1 w2 w3, w2 w3 w5} (∩ a = 1, ∪ = 3)
    // src c: disjoint entirely
    val docs = Seq(
      ("a", "w1 w2 w3 w4"), ("b", "w1 w2 w3 w5"), ("c", "x1 x2 x3")
    ).toDF("src", "text")
    val m = Dedup.corpusOverlap(docs, "src", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val ab = m(("a", "b"))
    assert(ab.getLong(2) === 2 && ab.getLong(3) === 2 && ab.getLong(4) === 1)
    assert(ab.getDouble(5) === 1.0 / 3.0)
    val ac = m(("a", "c"))
    assert(ac.getLong(4) === 0 && ac.getDouble(5) === 0.0)
    assert(m.size === 3) // zero-overlap pairs kept: ab, ac, bc
  }

  test("corpusMinhashSignature estimates the exact corpus Jaccard") {
    // two sources sharing exactly half their docs → substantial overlap
    val shared = (0 until 60).map(i => s"shared doc $i words alpha beta gamma delta epsilon$i")
    val onlyA = (0 until 30).map(i => s"alpha only document $i with unique tokens foo$i bar$i")
    val onlyB = (0 until 30).map(i => s"beta only document $i with unique tokens baz$i qux$i")
    val docs = (shared.map(("a", _)) ++ onlyA.map(("a", _)) ++
      shared.map(("b", _)) ++ onlyB.map(("b", _))).toDF("src", "text")
    val exact = Dedup.corpusOverlap(docs, "src", "text")
      .head().getDouble(5)
    val sigs = Dedup.corpusMinhashSignature(docs, "src", "text", 3, 256)
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(sigs("a").length === 256)
    // the estimate: the fraction of agreeing signature slots
    val estVal = sigs("a").zip(sigs("b")).count { case (a, b) => a == b } / 256.0
    // 256 hashes → se ≈ sqrt(J(1-J)/256) ≈ 0.03; allow 5 se
    assert(math.abs(estVal - exact) < 0.16, s"est $estVal vs exact $exact")
    // identical corpora agree on every slot
    val same = Dedup.corpusMinhashSignature(
      shared.map(("x", _)).toDF("src", "text")
        .unionByName(shared.map(("y", _)).toDF("src", "text")),
      "src", "text", 3, 64)
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(same("x") === same("y"))
  }

  test("connectedComponents fallback pins ONLY the result generation " +
    "(star generations unpersist — r15 review)") {
    // suites run sequentially in the forked test JVM (the PlanSuite
    // cacheManager pins rely on the same), so the persistent-RDD delta
    // is attributable to this call alone
    val path = spark.range(400).select((col("id") + 5000).as("id_a"),
      (col("id") + 5001).as("id_b"))
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L))
      .toDF("id_a", "id_b")
    // (input, rows): diameter ≫ rounds → fallback; a chain → hash-min
    Seq(path -> 401, pairs -> 6).foreach { case (in, n) =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val cc = Dedup.connectedComponents(in)
      assert(cc.count() === n)
      val delta = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(delta.size === 1,
        s"connectedComponents must leave exactly the result generation " +
          s"persisted (the final star generation was leaking before r15); " +
          s"got $delta")
      // the caller's release: the harnesses drain leases per query
      graft.util.QueryLeases.releaseAll()
      assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
    }
    // a failing input: 5 star rounds cannot contract the path, so the
    // fallback raises mid-loop — with the edge set and a star
    // generation stored, which must not stay registered
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[IllegalArgumentException](
      Dedup.connectedComponents(path, maxIter = 5))
    assert(e.getMessage.contains("no fixpoint in 5 rounds"))
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"a failed call left persisted RDDs $left")
  }

  test("normalizeString matches the normalize column on non-ASCII " +
    "case-mapping edge cases (ICU parity by construction — r15 review)") {
    val fixtures = Seq(
      "İSTANBUL Iı",          // Turkish dotted/dotless I
      "STRASSE straße ß",     // German sharp s
      "ΣΙΣΥΦΟΣ σίγμα",        // Greek final sigma context
      "ǅungla ǄǅǆTitlecase",  // Unicode titlecase digraphs
      "ﬁnancial ﬂow",         // ligatures
      "  MIXED\t\nwhitespace CASE  ",
      "ASCII Fast Path Only")
    val sparkSide = fixtures.toDF("t")
      .select(Dedup.normalize(col("t")).as("n"))
      .as[String].collect().toSeq
    val closureSide = fixtures.map(Dedup.normalizeString)
    assert(sparkSide === closureSide)
  }
}
