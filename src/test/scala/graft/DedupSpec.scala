package graft

import org.apache.spark.sql.SaveMode

import graft.operators.Dedup

/** Dedup-family semantics on crafted documents. */
class DedupSpec extends SparkSpec {

  private def writeDocs(rows: Seq[(Long, String, String)]): String = {
    import spark.implicits._
    val dir = tempSfDir()
    rows.map { case (id, text, source) => (id, text, "en", source, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    dir
  }

  private val base = "the quick brown fox jumps over the lazy dog again and again today"

  test("d1 exact dedup keeps the smallest doc_id per identical text") {
    val dir = writeDocs(Seq(
      (5L, base, "s0"), (2L, base, "s0"), (9L, "unique text here", "s0")))
    val got = Dedup.exactDedup(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((2L, 2L), (9L, 1L)))
  }

  test("d2 minhash-lsh surfaces exact and near duplicates, skips distinct docs") {
    val near = base.replace("dog", "cat") // one word differs
    val far = "completely different words about spark catalyst plans and shuffles"
    val dir = writeDocs(Seq(
      (1L, base, "s0"), (2L, base, "s0"), (3L, near, "s0"), (4L, far, "s0")))
    val pairs = Dedup.minhashLsh(spark, dir, minEstJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "exact duplicate must collide in every band")
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)),
      "near duplicate should collide in some band")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      "unrelated doc must not pair")
  }

  test("d8 incremental dedup = d2 pairs restricted to >=1 new side, with flags") {
    val near = base.replace("dog", "cat")
    // ids chosen around the % 10 == 0 batch predicate: 10/20 are "new",
    // 1/2/13 are corpus. Duplicate groups: {1,2,10} exact, {13,20} near-ish.
    val dir = writeDocs(Seq(
      (1L, base, "s0"), (2L, base, "s0"), (10L, base, "s0"),
      (13L, near, "s0"), (20L, near, "s0"),
      (7L, "completely different words about spark catalyst plans", "s0")))
    val d8 = Dedup.incrementalDedup(spark, dir, minEstJaccard = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(2), r.getBoolean(3), r.getBoolean(4)))).toMap
    val d2 = Dedup.minhashLsh(spark, dir, minEstJaccard = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // same pair set as the full self-join, minus corpus-internal pairs
    val expected = d2.filter { case ((a, b), _) => a % 10 == 0 || b % 10 == 0 }
    assert(d8.keySet == expected.keySet,
      s"d8 ${d8.keySet} vs d2-restricted ${expected.keySet}")
    // corpus-internal pair (1,2) exists in d2 but must NOT be re-emitted
    assert(d2.contains((1L, 2L)) && !d8.contains((1L, 2L)))
    // scores identical to d2's, flags replay the split
    d8.foreach { case ((a, b), (est, aNew, bNew)) =>
      assert(est == d2((a, b)))
      assert(aNew == (a % 10 == 0) && bNew == (b % 10 == 0))
      assert(aNew || bNew)
    }
    // the batch-vs-corpus hit and the batch-internal hit both surface
    assert(d8.contains((1L, 10L)) && d8.contains((10L, 20L)) == d2.contains((10L, 20L)))
  }

  test("d2 minhash estimate tracks true jaccard for identical sets") {
    val dir = writeDocs(Seq((1L, base, "s0"), (2L, base, "s0")))
    val est = Dedup.minhashLsh(spark, dir, minEstJaccard = 0.0)
      .collect().head.getDouble(2)
    assert(est == 1.0, "identical shingle sets -> identical signatures")
  }

  test("d3 simhash: identical token multisets get hamming 0; distinct docs don't pair") {
    val permuted = base.split(' ').reverse.mkString(" ") // same multiset
    val far = "completely different words about spark catalyst plans and shuffles"
    val dir = writeDocs(Seq(
      (1L, base, "s0"), (2L, permuted, "s0"), (3L, far, "s0")))
    val got = Dedup.simhashPairs(spark, dir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got.get((1L, 2L)).contains(0L))
    assert(!got.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  /** d6 labels by both component paths: the driver union-find (default
    * cap) and the distributed superstep loop (cap 0 forces it). Both
    * paths share one memo key, so the memo is released around each build.
    */
  private def groupsBothWays(dir: String): (Set[(Long, Long)], Set[(Long, Long)]) = {
    def groups(cap: Int) =
      try {
        CacheRegistry.releaseShared()
        Dedup.dedupGroups(spark, dir, driverPairCap = cap)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      } finally CacheRegistry.releaseShared()
    (groups(Dedup.DriverPairCap), groups(0))
  }

  test("d6 dedup groups close transitively: A~B and B~C group A,B,C together") {
    // 12-word docs differing by one word pairwise: J(A,B)=J(B,C)=11/13 >= 0.8
    // but J(A,C)=10/14 < 0.8 — only the transitive closure groups all three
    val a = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 wa"
    val b = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 wb"
    val c = "wc w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 wb"
    val dir = writeDocs(Seq(
      (1L, a, "s0"), (2L, b, "s0"), (3L, c, "s0"),
      (4L, "totally different words entirely", "s0")))
    val pairs = Dedup.ngramJaccard(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (2L, 3L)), "A~C must not pair directly")
    val groups = Dedup.dedupGroups(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(groups == Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L)))
    val (viaDriver, viaLoop) = groupsBothWays(dir)
    assert(viaDriver == groups && viaLoop == groups,
      s"driver $viaDriver vs distributed $viaLoop")
  }

  test("d6 driver union-find equals the distributed loop on a 20-doc near-dup path") {
    // doc k holds the 12-word window t_k..t_{k+11}: neighbours share 11 of
    // 13 words (J = 0.846) and docs two apart 10 of 14 (J = 0.714), so
    // the pairs form a simple path. The ids are scrambled along the path
    // and the minimum sits mid-path, so the distributed loop needs several
    // pointer-doubling supersteps to reach the fixpoint.
    val ids = Seq(17L, 4L, 12L, 9L, 20L, 6L, 15L, 2L, 11L, 8L,
      19L, 5L, 14L, 3L, 10L, 18L, 7L, 16L, 13L, 21L)
    val path = ids.zipWithIndex.map { case (id, k) =>
      (id, (k until k + 12).map(t => s"t$t").mkString(" "), "s0")
    }
    val dir = writeDocs(path :+ ((1L, "a lone document nobody copies", "s0")))
    val pairs = Dedup.ngramJaccard(spark, dir).count()
    assert(pairs == ids.size - 1, s"the fixture must be a simple path, got $pairs pairs")
    val (viaDriver, viaLoop) = groupsBothWays(dir)
    assert(viaDriver == (ids.map(_ -> 2L) :+ (1L -> 1L)).toSet, s"driver $viaDriver")
    assert(viaDriver == viaLoop, s"driver $viaDriver vs distributed $viaLoop")
    // the fixture really needs several supersteps: stopped after one, the
    // loop is still short of the fixpoint
    val oneStep =
      try Dedup.dedupGroups(spark, dir, maxIters = 1, driverPairCap = 0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      finally CacheRegistry.releaseShared()
    assert(oneStep != viaLoop, "one superstep must not already converge")
  }

  test("d6 on an edgeless corpus: both paths make every document its own group") {
    val dir = writeDocs(Seq(
      (3L, "alpha beta gamma", "s0"), (1L, "delta epsilon zeta", "s0"),
      (2L, "eta theta iota", "s1")))
    val (viaDriver, viaLoop) = groupsBothWays(dir)
    assert(viaDriver == Set((1L, 1L), (2L, 2L), (3L, 3L)), s"driver $viaDriver")
    assert(viaDriver == viaLoop, s"driver $viaDriver vs distributed $viaLoop")
  }

  test("d6 keeps components in different sources apart, both paths") {
    // the same near-dup texts in two sources: d4 pairs only within a
    // source, so the identical cross-source copies form two components
    val a = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 wa"
    val b = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 wb"
    val dir = writeDocs(Seq(
      (5L, a, "s0"), (2L, b, "s0"), (1L, a, "s1"), (7L, b, "s1")))
    val (viaDriver, viaLoop) = groupsBothWays(dir)
    assert(viaDriver == Set((2L, 2L), (5L, 2L), (1L, 1L), (7L, 1L)), s"driver $viaDriver")
    assert(viaDriver == viaLoop, s"driver $viaDriver vs distributed $viaLoop")
  }

  test("d4 word-set jaccard is exact") {
    // sets: {a b c d}, {a b c e} -> intersection 3, union 5 -> 0.6
    val dir = writeDocs(Seq((1L, "a b c d", "s0"), (2L, "a b c e", "s0")))
    val all = Dedup.ngramJaccard(spark, dir).collect()
    assert(all.isEmpty, "0.6 is below the 0.8 threshold")
    val dir2 = writeDocs(Seq(
      (1L, "a b c d e", "s0"), (2L, "a b c d f", "s0"))) // 4/6 ≈ 0.667 no
    assert(Dedup.ngramJaccard(spark, dir2).collect().isEmpty)
    val dir3 = writeDocs(Seq(
      (1L, "a b c d e", "s0"), (2L, "a b c d e", "s0"))) // identical -> 1.0
    val got = Dedup.ngramJaccard(spark, dir3).collect()
    assert(got.length == 1 && got.head.getDouble(2) == 1.0)
  }

  test("d4 prefix filter keeps candidates linear under stopword saturation") {
    // 60 docs, each = one universal stopword ("the") + 9 unique tokens.
    // Every pair shares "the" but J = 1/19 << 0.8. Without prefix
    // filtering, the (source, token) self-join fans out O(n²) rows on the
    // stopword (60·59/2 = 1770 candidate pairs); with frequency-ascending
    // prefix ordering the stopword sorts LAST in every doc and never
    // enters the prefix, so zero candidates survive.
    val docs = (0 until 60).map { i =>
      val uniq = (0 until 9).map(j => s"u${i}_$j").mkString(" ")
      (i.toLong, s"the $uniq", "s0")
    }
    val dir = writeDocs(docs)
    val sets = Dedup.wordSets(Tables.documents(spark, dir))
    val cands = Dedup.jaccardCandidates(sets, 0.8).count()
    assert(cands == 0L,
      s"stopword-only overlap must produce no candidates, got $cands")
    assert(Dedup.ngramJaccard(spark, dir).collect().isEmpty)
  }

  test("d4 prefix filter is recall-lossless: near-dup pairs still found among stopword noise") {
    // 3 near-identical docs (J >= 0.8 pairwise) buried in 30 docs that all
    // share the same two stopwords.
    val near = Seq(
      (100L, "n1 n2 n3 n4 n5 n6 n7 n8 n9 na", "s0"),
      (101L, "n1 n2 n3 n4 n5 n6 n7 n8 n9 nb", "s0"),
      (102L, "n1 n2 n3 n4 n5 n6 n7 n8 n9 nc", "s0"))
    val noise = (0 until 30).map { i =>
      (i.toLong, s"the of x${i}_1 x${i}_2 x${i}_3 x${i}_4 x${i}_5 x${i}_6", "s0")
    }
    val dir = writeDocs(near ++ noise)
    val pairs = Dedup.ngramJaccard(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((100L, 101L), (100L, 102L), (101L, 102L)),
      s"expected exactly the three near-dup pairs, got $pairs")
  }

  test("d2 LSH recall vs exact d4 pairs follows the banding curve on real sf0.001 data") {
    // the rows-only d2 hardened against the oracle-checked d4: recall must
    // follow the (8 bands x 4 rows + 32-hash estimate>=0.8 filter) theory —
    // certain at high similarity, estimator-limited at the 0.8 boundary
    // (sigma ~= 0.07 there, so borderline pairs fall below the cut).
    // Everything is seeded/deterministic, so the curve is stable.
    val dir = "/root/testdata/sf0.001"
    val exact = Dedup.ngramJaccard(spark, dir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(exact.size > 1000, "fixture must contain many exact near-dup pairs")
    val lsh = Dedup.minhashLsh(spark, dir)
      .select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(minJ: Double): Double = {
      val sel = exact.filter(_._2 >= minJ).keySet
      (sel intersect lsh).size.toDouble / sel.size
    }
    assert(recall(0.95) == 1.0, s"J>=0.95 must be fully recalled, got ${recall(0.95)}")
    assert(recall(0.90) >= 0.95, s"J>=0.90 recall ${recall(0.90)}")
    assert(recall(0.80) >= 0.78, s"J>=0.80 recall ${recall(0.80)}")
  }

  test("d3 simhash pairs are true near-dups on real sf0.001 data") {
    // d3 hardened by direct verification (on top of its bit-exact SQL
    // oracle): simhash measures weighted-multiset angle, not set Jaccard,
    // so hamming <= 3 admits some pairs below d4's 0.8 set-Jaccard bar —
    // but every pair must still be genuinely similar, and the bulk must
    // clear 0.8. Observed on this corpus with the splitmix64 token hash:
    // min 0.667 (hamming-3 pairs only), median 0.96, 94% >= 0.8.
    import org.apache.spark.sql.functions.{col, split}
    val dir = "/root/testdata/sf0.001"
    val pairs = Dedup.simhashPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.nonEmpty, "fixture must contain simhash pairs")
    val sets = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val js = pairs.map { case (a, b, hd) =>
      val j = (sets(a) intersect sets(b)).size.toDouble / (sets(a) union sets(b)).size
      assert(j >= 0.6, s"pair ($a,$b) has true jaccard $j — simhash false positive")
      if (hd <= 2)
        assert(j >= 0.8, s"hamming-$hd pair ($a,$b) below the near-dup bar: $j")
      j
    }
    val sorted = js.sorted
    assert(sorted(js.length / 2) >= 0.9,
      s"median true jaccard ${sorted(js.length / 2)} too low — hash quality regressed")
  }

  test("d5 embedding near-dup pairs are blocked by label") {
    import spark.implicits._
    val dir = tempSfDir()
    val v = Array.fill(4)(0.5f)
    Seq(
      (1L, v, 0), (2L, v, 0),                              // same label, cos 1
      (3L, v, 1),                                          // same vector, other label
      (4L, Array(0.5f, -0.5f, 0.5f, -0.5f), 0))            // orthogonal
      .toDF("vec_id", "embedding", "label")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/embeddings.parquet")
    val got = Dedup.embeddingNearDup(spark, dir, minCosine = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)), "identical vectors pair only within a label")
  }

  test("g1 counts each triangle once per participating document") {
    // docs 1-4 identical -> K4 near-dup clique: C(4,3)=4 triangles, every
    // vertex in C(3,2)=3; docs 5-6 identical -> a lone edge, no triangle
    val clique = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val edge = "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10"
    val dir = writeDocs(Seq(
      (1L, clique, "s0"), (2L, clique, "s0"), (3L, clique, "s0"), (4L, clique, "s0"),
      (5L, edge, "s0"), (6L, edge, "s0"),
      (7L, "alone by itself entirely different words here now ten total", "s0")))
    val got = Dedup.triangleCounts(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == (1L to 4L).map(i => (i, 3L)).toSeq, s"got ${got.toSeq}")
  }

  test("d5 hot-label guard bounds candidate volume and keeps planted dups") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{count, lit}
    val n = 10000
    val dim = 8
    // deterministic pseudo-random unit-ish vectors (seeded LCG, no runtime
    // randomness)
    def vec(i: Long): Array[Float] = {
      var s = i * 6364136223846793005L + 1442695040888963407L
      Array.fill(dim) {
        s = s * 6364136223846793005L + 1442695040888963407L
        (((s >>> 11).toDouble / (1L << 53).toDouble) - 0.5).toFloat
      }
    }
    // one hot label holding the whole corpus — the skew case the guard
    // exists for — plus a planted exact duplicate pair
    val dup = vec(42L)
    val emb = ((0 until n).map(i => (i.toLong, vec(i.toLong), 7)) ++
      Seq((n.toLong, dup, 7), (n.toLong + 1, dup, 7)))
      .toDF("vec_id", "embedding", "label")
    val blocked = Dedup.blockedEmbeddings(emb, maxBlockSize = 1000, subCells = 16)
    val cells = blocked.groupBy("label", "cell").agg(count(lit(1)).as("m"))
      .collect().map(_.getAs[Long]("m"))
    val candidates = cells.map(m => m * (m - 1) / 2).sum
    val unblocked = (n.toLong + 2) * (n + 1) / 2
    assert(candidates < unblocked / 5,
      s"sub-bucketing must cut candidates ≥5×: $candidates vs $unblocked")
    assert(cells.sum == n.toLong + 2, "every vector lands in exactly one cell")
    // identical vectors score identically against every seed, so they
    // share an argmax cell and the guard cannot split a true duplicate
    val pairs = Dedup.embeddingNearDupFrom(emb, minCosine = 0.999,
      maxBlockSize = 1000, subCells = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((n.toLong, n.toLong + 1)),
      "planted duplicate must survive sub-bucketing")
  }

  test("g1 degree orientation produces zero wedges on a hub star") {
    import spark.implicits._
    // A hub (id 0) with 1000 leaves — the id-orientation worst case: the
    // hub's low id would put all 1000 edges OUT of it, producing
    // C(1000,2) = 499500 wedges, none of which close. Degree orientation
    // points every edge INTO the hub, so the wedge join emits nothing.
    val star = (1L to 1000L).map(i => (0L, i)).toDF("a_id", "b_id")
    assert(Dedup.wedgesOf(Dedup.orientByDegree(star)).count() == 0L)
  }

  test("g1 wedge volume on a planted 50-clique is the triangle floor") {
    import spark.implicits._
    val n = 50
    val clique = (for { a <- 0 until n; b <- a + 1 until n }
      yield (a.toLong, b.toLong)).toDF("a_id", "b_id")
    val oriented = Dedup.orientByDegree(clique)
    // in a clique every wedge closes, so C(n,3) wedges is the floor — the
    // oriented join hits it exactly (Σ C(outdeg,2) with outdegs n-1..0)
    // where an unoriented neighbor join would pay n·C(n-1,2), 3× more
    assert(Dedup.wedgesOf(oriented).count() ==
      n.toLong * (n - 1) * (n - 2) / 6)
    val counts = Dedup.triangleCountsFromPairs(clique)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(counts.length == n &&
      counts.forall(_._2 == (n - 1).toLong * (n - 2) / 2),
      "every clique vertex participates in C(n-1,2) triangles")
  }

  test("x40 dedup curve: exact per-threshold counts, all-tau grid, truncating keep rate") {
    // 6 docs: {1,2} identical (J=1.0), {3,4} share 9/10 tokens (J=9/11 ≈
    // 0.818 — inside [0.80, 0.82) only), 5 and 6 unrelated. The curve must
    // step down EXACTLY at tau=0.82 and keep emitting zero-pair rows for
    // every higher tau (the materialized grid discipline).
    val t = (1 to 10).map(i => s"w$i").mkString(" ")
    val dir = writeDocs(Seq(
      (1L, t, "s0"), (2L, t, "s0"),
      (3L, t, "s1"), (4L, (1 to 9).map(i => s"w$i").mkString(" ") + " zz", "s1"),
      (5L, "aa bb cc", "s0"), (6L, "dd ee ff", "s0")))
    val got = Dedup.dedupCurve(spark, dir).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.length == 10, s"grid must hold all 10 thresholds, got ${got.length}")
    // tau=0.80: both pairs. J(3,4) = 9/11 = 0.818182 (round-6) >= 0.80.
    assert(got.head == ((0.8, 2L, 4L, 2L, 4L, 666666L)), s"got ${got.head}")
    // tau=0.82: J(3,4) drops out; only the identical pair remains
    assert(got(1)._1 == 0.8200000000000001 && got(1)._2 == 1L &&
      got(1)._3 == 2L && got(1)._4 == 1L && got(1)._5 == 5L &&
      got(1)._6 == 833333L, s"got ${got(1)}")
    // every remaining tau keeps the identical pair (J=1.0 >= all taus < 1)
    assert(got.drop(2).forall(r => r._2 == 1L && r._4 == 1L),
      s"got ${got.drop(2).toSeq}")
  }
}
