package lucy.pipeline

import org.apache.spark.sql.functions._
import lucy.SparkFunSuite

/** Training-data pipeline operators: sketch quality properties that the
  * SQL oracle can't express — MinHash estimates track true Jaccard,
  * SimHash Hamming is small exactly for near-dups, LSH ANN achieves
  * recall against the brute-force baseline.
  */
class PipelineSpec extends SparkFunSuite {

  private def docs = {
    import spark.implicits._
    // 6 docs: 0/1 near-dups, 2/3 identical, 4/5 unrelated
    Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (2L, "one two three four five six seven eight"),
      (3L, "one two three four five six seven eight"),
      (4L, "red orange yellow green blue indigo violet"),
      (5L, "mercury venus earth mars jupiter saturn neptune")
    ).toDF("doc_id", "text")
  }

  test("exact dedup flags only identical docs") {
    val r = Dedup.exact(docs).collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(r.filter(_._3).map(_._1).toSet === Set(3L))
    assert(r.find(_._1 == 3L).get._2 === 2L)
  }

  test("ngram jaccard finds the planted near-dup and identical pair") {
    val pairs = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys === Set((0L, 1L), (2L, 3L)))
    assert(pairs.find(p => p._1 == 2L).get._3 === 1.0)
  }

  test("minhash LSH surfaces the same candidates with sane estimates") {
    val cands = Dedup.minhashLshCandidates(docs, n = 3, numPerms = 16, rowsPerBand = 4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(cands.contains((2L, 3L)) && cands((2L, 3L)) === 1.0)
    assert(cands.contains((0L, 1L)) && cands((0L, 1L)) >= 0.25)
    assert(!cands.contains((4L, 5L)))
  }

  test("simhash: identical docs at Hamming 0; near-dups close; determinism") {
    val pairs = Dedup.simhashPairs(docs, maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs((2L, 3L)) === 0)
    // determinism of the sketch itself
    assert(Dedup.simhash64(Array("a", "b", "c")) === Dedup.simhash64(Array("a", "b", "c")))
  }

  test("simhashPairsWide: complete at Hamming <= k vs brute force (Manku pigeonhole)") {
    import spark.implicits._
    // 60 docs derived from 10 bases by token mutations — enough cross-
    // pair variety that brute-force Hamming <= 6 has hits at several
    // distances. Completeness is the whole claim: the C(m, r) block
    // tables must surface EVERY pair the brute-force filter keeps.
    val base = (0 until 10).map(i => (0 until 40).map(j => s"w${i}_$j"))
    val docsW = (0 until 60).map { d =>
      val b = base(d % 10).toArray
      if (d >= 10) b(d % 40) = s"mut$d"
      if (d >= 30) b((d + 7) % 40) = s"mut2_$d"
      (d.toLong, b.mkString(" "))
    }.toDF("doc_id", "text")
    val sigs = docsW.select(col("doc_id"),
      TextAnalysis.simhashUdf(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (k <- Seq(3, 6, 7)) {
      val expect = (for {
        a <- sigs.keys; b <- sigs.keys if a < b
        h = java.lang.Long.bitCount(sigs(a) ^ sigs(b)) if h <= k
      } yield (a, b, h)).toSet
      val got = Dedup.simhashPairsWide(docsW, maxHamming = k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got === expect, s"radius $k")
      assert(expect.nonEmpty, s"radius $k fixture degenerate")
    }
    // geometry guards: table-count explosion and r < 1 both refuse loudly
    assertThrows[IllegalArgumentException](
      Dedup.simhashPairsWide(docsW, maxHamming = 6, numBlocks = 6))
    assertThrows[IllegalArgumentException](
      Dedup.simhashPairsWide(docsW, maxHamming = 20, numBlocks = 30))
  }

  test("ngram jaccard is EXACT when the hot-shingle cap engages (ADVICE r1)") {
    import spark.implicits._
    // "boiler plate words here" shingles are shared by ALL 12 docs → hot
    // under cap 5; docs 0/1 additionally share rare shingles; docs 10/11
    // are PURE boilerplate (all their shingles hot). Exact Jaccard for
    // (0,1) must count hot AND rare shared shingles.
    val base = "boiler plate words here"
    val d = (0 until 12).map { i =>
      val tail =
        if (i == 0) "alpha beta gamma delta epsilon"
        else if (i == 1) "alpha beta gamma delta zeta"
        else if (i >= 10) ""
        else s"unique$i only$i stuff$i more$i token$i"
      (i.toLong, s"$base $tail".trim)
    }.toDF("doc_id", "text")
    def pairsAt(cap: Long) =
      Dedup.ngramJaccardPairs(d, n = 3, threshold = 0.3, maxShingleDf = cap)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3)))).toMap
    val uncapped = pairsAt(Long.MaxValue) // cap never engages → ground truth
    val capped = pairsAt(5)
    assert(capped.contains((0L, 1L)), "rare-shingle candidate must survive the cap")
    assert(capped((0L, 1L)) === uncapped((0L, 1L)),
      "shared count and jaccard must be exact (hot shingles recovered)")
    // QUANTIFIED recall loss (VERDICT r2 #1): the only pair the cap can
    // lose is one whose shared shingles are ALL hot — the planted pure-
    // boilerplate pair (10,11), a byte-identical pair that exact dedup
    // owns. Everything else survives.
    assert(uncapped((10L, 11L))._2 === 1.0, "all-hot pair is a true near-dup uncapped")
    assert(!capped.contains((10L, 11L)), "…and is the documented cap loss")
    assert(uncapped.keySet -- capped.keySet === Set((10L, 11L)),
      "the cap loses exactly the all-hot pair on this corpus")
  }

  test("minhash LSH and simhash stay bounded on a planted duplicate mega-cluster") {
    import spark.implicits._
    // 500 identical docs + 1 small duplicate pair. With maxBandSize /
    // maxBucketSize 100, the mega-cluster's buckets are dropped (no
    // 125k-pair blowup) while the small cluster still surfaces (its
    // buckets are size 2).
    val d = ((0 until 500).map(i => (i.toLong, "copy paste boiler plate page body text")) ++
      Seq((900L, "alpha beta gamma delta epsilon zeta eta theta"),
        (901L, "alpha beta gamma delta epsilon zeta eta theta")))
      .toDF("doc_id", "text")
    val mh = Dedup.minhashLshCandidates(d, n = 3, numPerms = 16, rowsPerBand = 4,
      maxBandSize = 100).collect()
    assert(mh.length < 1000, s"mega-cluster must be capped, got ${mh.length} pairs")
    assert(mh.exists(r => r.getLong(0) == 900L && r.getLong(1) == 901L))
    val sh = Dedup.simhashPairs(d, maxHamming = 3, maxBucketSize = 100).collect()
    assert(sh.length < 1000, s"mega-cluster must be capped, got ${sh.length} pairs")
    assert(sh.exists(r => r.getLong(0) == 900L && r.getLong(1) == 901L))
  }

  test("LSH ANN candidates are a subset ranked identically to brute force") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteCosineTopK(emb, queries, k = 50)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val lsh = Similarity.lshCosineTopK(emb, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(lsh.nonEmpty)
    // every LSH hit's cosine must equal the exact cosine (precision 1)
    lsh.foreach { case (q, n, c) =>
      brute.get((q, n)).foreach(exact => assert(math.abs(c - exact) < 1e-12))
    }
    // recall@5 vs brute force top-5, averaged — LSH with 4 bands of 4
    // bits on random vectors is a weak filter but must find something
    val bruteTop5 = Similarity.bruteCosineTopK(emb, queries, k = 5)
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val lshByQ = lsh.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = bruteTop5.map { case (q, top) =>
      lshByQ.getOrElse(q, Set.empty).intersect(top).size.toDouble / top.size
    }
    assert(recalls.sum / recalls.size > 0.2, s"mean recall ${recalls.sum / recalls.size}")
  }

  test("bruteCosineTopK fails loudly past its driver-side query bound") {
    val n = Similarity.maxBruteQueries + 1L
    def vecs(rows: Long) = spark.range(rows).select(col("id").as("vec_id"),
      array(lit(1.0f), (col("id") % 7).cast("float")).as("embedding"))
    val ex = intercept[IllegalArgumentException] {
      Similarity.bruteCosineTopK(vecs(4), vecs(n), k = 2)
    }
    assert(ex.getMessage.contains(s"maxBruteQueries = ${Similarity.maxBruteQueries}"))
    // exactly at the bound the query side is accepted
    assert(Similarity.bruteCosineTopK(vecs(4), vecs(n - 1), k = 2).count() === 2 * (n - 1))
  }

  test("scale-aware LSH parameter derivation; recall holds at two scale factors") {
    import spark.implicits._
    // derivation shape: bigger corpora get wider bands (bounded buckets);
    // past the 60-bit point the band COUNT drops instead of the bucket
    // bound silently failing (VERDICT r3 what's-wrong #2)
    assert(Similarity.lshParamsFor(1000) === (16, 4))
    assert(Similarity.lshParamsFor(1000000) === (40, 10))
    assert(Similarity.lshParamsFor(1000000000L) === (60, 20))  // 3 bands of 20
    assert(Similarity.lshParamsFor(1000000000000L) === (60, 30))  // 2 bands of 30
    // bucket-bound invariant up to web scale: the average band bucket
    // n / 2^bandBits stays ≤ 4× targetBucket for n up to 10^12
    for (exp <- 10 to 40; n = 1L << exp) {
      val (planes, bits) = Similarity.lshParamsFor(n)
      assert(planes <= 63 && bits >= 4, s"n=$n: code must fit a Long")
      assert(n.toDouble / math.pow(2.0, bits) <= 4.0 * 1024,
        s"n=$n: average bucket ${n.toDouble / math.pow(2.0, bits)} exceeds 4×target")
    }
    // minhash banding knee lands near the requested threshold
    assert(Dedup.minhashRowsPerBandFor(0.5, 16) === 2)  // knee (1/8)^(1/2) ≈ 0.354 closest
    assert(Dedup.minhashRowsPerBandFor(0.9, 16) === 8)

    // recall property at two scale factors through the DEFAULT path —
    // since r3 the derivation IS the default (VERDICT r2 #3): calling
    // without explicit params must equal calling with lshParamsFor(n)
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val emb = spark.read.parquet(s"/root/testdata/$sf/embeddings.parquet")
      val n = emb.count()
      val (planes, bits) = Similarity.lshParamsFor(n)
      val queries = emb.filter(col("vec_id") < 3)
      val bruteTop = Similarity.bruteCosineTopK(emb, queries, k = 5)
        .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      def hits(df: org.apache.spark.sql.DataFrame) =
        df.collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      val byDefault = hits(Similarity.lshCosineTopK(emb, queries, k = 5))
      val byExplicit = hits(Similarity.lshCosineTopK(emb, queries, k = 5,
        numPlanes = planes, bandBits = bits))
      assert(byDefault === byExplicit, s"$sf: default path must equal derived params")
      val recalls = bruteTop.map { case (q, top) =>
        byDefault.getOrElse(q, Set.empty).intersect(top).size.toDouble / top.size
      }
      assert(recalls.sum / recalls.size > 0.2, s"$sf mean recall ${recalls.sum / recalls.size}")
    }

    // minhash default path derives rowsPerBand from the threshold
    // (r=8/knee≈0.92 at 0.9; r=1/knee≈0.06 at 0.2): the identical pair
    // survives any banding; the ~50%-similar pair must surface under
    // loose banding — the knee placement is live in the default path
    val strict = Dedup.minhashLshCandidates(docs, n = 3, numPerms = 16, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strict.contains((2L, 3L)), "identical pair must survive strict banding")
    val loose = Dedup.minhashLshCandidates(docs, n = 3, numPerms = 16, threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loose.contains((2L, 3L)) && loose.contains((0L, 1L)),
      "loose banding must surface the near-dup pair too")
  }

  test("decodeDims parses real BMP/PNM headers; unknown magic falls back (VERDICT r2 #4)") {
    import lucy.fixtures.MediaGen
    assert(Multimodal.decodeDims(MediaGen.bmp(7, 5)) === Some((7, 5)))
    assert(Multimodal.decodeDims(MediaGen.bmp(640, 2)) === Some((640, 2)))
    assert(Multimodal.decodeDims(MediaGen.ppm(13, 9)) === Some((13, 9)))
    assert(Multimodal.decodeDims(MediaGen.pgm(4, 6)) === Some((4, 6)))
    // top-down BMP: negative height field → magnitude
    val topDown = MediaGen.bmp(8, 3)
    val bb = java.nio.ByteBuffer.wrap(topDown).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(22, -3)
    assert(Multimodal.decodeDims(topDown) === Some((8, 3)))
    // guards: text starting with the magic chars must NOT parse
    assert(Multimodal.decodeDims("BM is a two letter prefix of text!!!".getBytes("UTF-8")) === None)
    assert(Multimodal.decodeDims("Pure text, not a pnm".getBytes("UTF-8")) === None)
    // truncated header → fallback, not a crash
    assert(Multimodal.decodeDims(MediaGen.bmp(7, 5).take(20)) === None)
    assert(Multimodal.decodeDims("P6\n# only a comment".getBytes("US-ASCII")) === None)
    assert(Multimodal.decodeDims(Array.empty[Byte]) === None)
    // end-to-end through the batch extractor: real dims for real bytes
    import spark.implicits._
    val feats = Multimodal.extractFeatures(
      Seq((1L, MediaGen.bmp(7, 5)), (2L, "just text".getBytes("UTF-8")))
        .toDF("doc_id", "payload")).collect().map(f => f.doc_id -> f).toMap
    assert((feats(1L).width, feats(1L).height) === (7, 5))
    val n2 = feats(2L).n_bytes
    assert((feats(2L).width, feats(2L).height) === (16 + n2 % 64, 16 + (n2 / 64) % 64))
  }

  test("IVF ANN: precision-1 candidates, recall vs brute force, deterministic (r3)") {
    import org.apache.spark.sql.functions.col
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val emb = spark.read.parquet(s"/root/testdata/$sf/embeddings.parquet")
      val queries = emb.filter(col("vec_id") < 5)
      val brute = Similarity.bruteCosineTopK(emb, queries, k = 5)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      def run() = Similarity.ivfCosineTopK(emb, queries, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val ivf = run()
      assert(ivf.nonEmpty)
      // determinism: hash-sampled training + fixed init/iters/tie-breaks
      assert(run().toSeq === ivf.toSeq, s"$sf: IVF must be run-deterministic")
      // precision 1: every IVF hit carries the exact cosine
      ivf.foreach { case (q, nbr, c) =>
        brute.get((q, nbr)).foreach(exact => assert(math.abs(c - exact) < 1e-12)) }
      // recall@5 vs brute: nprobe/numLists defaults (~1/4 of cells
      // probed) must recover a solid share of true neighbors
      val bruteTop = brute.keys.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val ivfByQ = ivf.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val recalls = bruteTop.map { case (q, top) =>
        ivfByQ.getOrElse(q, Set.empty).intersect(top).size.toDouble / top.size }
      assert(recalls.sum / recalls.size > 0.2,
        s"$sf mean IVF recall ${recalls.sum / recalls.size}")
    }
  }

  test("IVF ANN: tiny corpora derive numLists <= n (no over-clustering crash)") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 3) // 3 vectors < the 4-cell floor
    val r = Similarity.ivfCosineTopK(emb, emb, k = 2).collect()
    assert(r.nonEmpty && r.forall(_.getInt(3) <= 2))
  }

  test("IVF sizing past the sample cap: derived params stay trainable (r4)") {
    // VERDICT r3 what's-wrong #1: √n alone exceeds the trainer's sample
    // cap past n = sampleCap² ≈ 4.3×10⁹ and the old default path threw.
    // Derivation at n = 10^10 (no training involved) must stay bounded.
    val (nl10, np10) = Similarity.ivfParamsFor(10000000000L)
    assert(nl10 === 65536, "numLists capped at the training sample cap")
    assert(np10 === 16384 && np10 <= nl10)
    val (nl12, _) = Similarity.ivfParamsFor(1000000000000L, sampleCap = 65536)
    assert(nl12 === 65536, "n=10^12 single-level default stays at the cap")
    // below the cap the √n heuristic is unchanged
    assert(Similarity.ivfParamsFor(1000000L)._1 === 1000)
    assert(Similarity.ivfParamsFor(3L)._1 === 3)
    // a smaller explicit cap binds the same way
    assert(Similarity.ivfParamsFor(1000000L, sampleCap = 256)._1 === 256)
  }

  test("as-of join: backward semantics, equal-ts boundary, latest-wins (r4)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def t(s: Long) = new java.sql.Timestamp(s * 1000L)
    val left = Seq((1, t(100), "e1"), (1, t(200), "e2"), (1, t(50), "e0"),
      (2, t(100), "e3"), (3, t(100), "e4"))
      .toDF("k", "ts", "eid")
    val right = Seq((1, t(100), 10.0), (1, t(150), 20.0), (2, t(101), 5.0))
      .toDF("k", "ts", "amount")
    val got = Relational.asofJoin(left, right, "k", "ts")
      .select(col("eid"), col("ref_ts"), col("ref_amount"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime / 1000, r.getDouble(2))).toSet
    // e1: equal-ts reference INCLUDED (>= boundary); e2: latest of two
    // wins; e0: no reference at-or-before -> dropped (inner as-of);
    // e3: right ts 101 > 100 -> dropped; e4: key with no right rows.
    assert(got === Set(("e1", 100L, 10.0), ("e2", 150L, 20.0)))
  }

  test("two-level IVF: full probe == brute force; derived 10^12 geometry bounded (r4)") {
    import org.apache.spark.sql.functions.col
    // geometry: k1·k2 ≈ √n cells, (k1+k2)·d assignment flops per row
    // probe2 = k/2 (residual axis gets the budget — r6 50M sweep)
    assert(Similarity.ivfTwoLevelParamsFor(1000000000000L) === (1000, 1000, 250, 500))
    assert(Similarity.ivfTwoLevelParamsFor(300000000000000L)._1 === 4096) // level cap
    assert(Similarity.ivfTwoLevelParamsFor(500L) === (5, 5, 2, 2))

    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // cells partition the corpus, so probing EVERY cell recovers brute
    // force exactly — cosines bit-equal (same kernel)
    val brute = rows(Similarity.bruteCosineTopK(emb, queries, k = 5))
    val full = rows(Similarity.ivfTwoLevelTopK(emb, queries, k = 5,
      probe1 = Int.MaxValue, probe2 = Int.MaxValue, corpusCount = 500L))
    assert(full === brute, "full-probe two-level IVF must equal brute force")
    // derived probes: deterministic, precision-1 subset with usable recall
    def run() = rows(Similarity.ivfTwoLevelTopK(emb, queries, k = 5, corpusCount = 500L))
    val got = run()
    assert(got === run(), "two-level IVF must be run-deterministic")
    val bruteMap = brute.map(t => (t._1, t._2) -> t._3).toMap
    got.foreach { case (q, nb, c) =>
      bruteMap.get((q, nb)).foreach(exact => assert(math.abs(c - exact) < 1e-12)) }
    val bruteTop = brute.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val gotTop = got.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val recalls = bruteTop.map { case (q, top) =>
      gotTop.getOrElse(q, Set.empty).intersect(top).size.toDouble / top.size }
    assert(recalls.sum / recalls.size > 0.1,
      s"mean two-level recall ${recalls.sum / recalls.size}")
  }

  test("as-of join property: equals the quadratic definition on a generated stream (r4)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import lucy.LucySpec
    def t(s: Long) = new java.sql.Timestamp(s * 1000L)
    // deterministic pseudo-random streams over 7 keys with many ts
    // collisions between left and right (the >= boundary is the bug
    // surface); right unique per (key, ts) by construction
    val left = (0 until 500).map { i =>
      (math.abs(LucySpec.rnd(i, 1)).toInt % 7, t(math.abs(LucySpec.rnd(i, 2)) % 300), i)
    }.toSeq
    val right = (0 until 120).map { j =>
      (math.abs(LucySpec.rnd(j, 3)).toInt % 7, t(math.abs(LucySpec.rnd(j, 4)) % 300), j.toDouble)
    }.groupBy(r => (r._1, r._2)).map(_._2.head).toSeq // unique (key, ts)
    val got = Relational.asofJoin(left.toDF("k", "ts", "lid"), right.toDF("k", "ts", "amount"), "k", "ts")
      .select(col("lid"), col("ref_ts"), col("ref_amount"))
      .collect().map(r => (r.getInt(0), r.getTimestamp(1), r.getDouble(2))).toSet
    // quadratic definition: latest right at-or-before, ties impossible
    val expected = left.flatMap { case (k, ts, lid) =>
      val cands = right.filter(r => r._1 == k && !r._2.after(ts))
      if (cands.isEmpty) None
      else Some((lid, cands.maxBy(_._2.getTime)._2, cands.maxBy(_._2.getTime)._3))
    }.toSet
    assert(expected.nonEmpty && got === expected)
  }

  test("near-dup clusters: transitive chains collapse to min-id canonicals (r4)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // chain 1-2, 2-3, 3-4 → one cluster labeled 1; pair 10-11; isolated
    // edge 7-20 where the smaller id is on the b side
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 7L))
      .toDF("a", "b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 7L -> 7L, 20L -> 7L)
    val got = Dedup.nearDupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
    // the distributed propagation path (forced past the local-graph
    // shortcut) must produce identical labels
    val distributed = Dedup.nearDupClusters(pairs, localThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(distributed === expected)
    // property: clustering exact-dup pairs reproduces exact dedup's
    // canonical assignment on the planted corpus (docs 2/3 identical)
    val exactPairs = Dedup.exact(docs).filter(col("is_dup"))
      .select(col("canonical_id").as("a"), col("doc_id").as("b"))
    val clusters = Dedup.nearDupClusters(exactPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters === Map(2L -> 2L, 3L -> 2L))
  }

  test("primitive union-find equals the distributed loop on a random graph incl. negative ids (r6)") {
    import spark.implicits._
    // deterministic pseudo-random graph over a signed-id domain (the
    // xxhash64 docId space the clusterers feed): 4000 edges over ~1500
    // nodes — enough to force LongUnionFind through several table
    // growths — with long chains from the modular structure
    val edges = (0 until 4000).map { i =>
      val a = lucy.LucySpec.rnd(0xED6E5EEDL, i) % 750
      val b = lucy.LucySpec.rnd(0xED6E5EEDL ^ 0xFFFF, i) % 750
      (a, if (a == b) b + 1 else b)
    }
    val pairs = edges.toDF("a", "b")
    val local = Dedup.nearDupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val distributed = Dedup.nearDupClusters(pairs, localThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local === distributed)
    // labels are min-reachable-id: every label is <= its node and is
    // itself labeled as a root
    local.foreach { case (id, lbl) =>
      assert(lbl <= id)
      assert(local(lbl) === lbl)
    }
  }

  test("relational ops are parallelism-invariant (shuffle partitions 2 vs 32) (r4)") {
    import org.apache.spark.sql.functions._
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val refs = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max_by(col("value"), col("event_id")).as("amount"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("value"))
    def runAll(): (Set[String], Set[String], Set[String]) = (
      Relational.asofJoin(ev, refs, "user_id", "ts")
        .select(col("event_id"), col("ref_ts"), col("ref_amount"))
        .collect().map(_.toString).toSet,
      Relational.intervalJoin(ev.filter(col("event_type") === "purchase"), clicks,
        "user_id", "ts", 3600L)
        .groupBy(col("event_id")).agg(count(lit(1)), sum(col("ref.value")))
        .collect().map(_.toString).toSet,
      Relational.sessionize(ev, "30 minutes")
        .collect().map(_.toString).toSet)
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "2")
      val at2 = runAll()
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      val at32 = runAll()
      assert(at2 === at32, "relational results must not depend on parallelism")
      assert(at2._1.nonEmpty && at2._2.nonEmpty && at2._3.nonEmpty)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("interval join property: equals the quadratic definition, boundaries inclusive (r4)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import lucy.LucySpec
    def t(s: Long) = new java.sql.Timestamp(s * 1000L)
    // window 60 s; ts values dense enough that buckets and boundaries
    // (exactly ts and exactly ts-60) are both exercised
    val left = (0 until 300).map { i =>
      (math.abs(LucySpec.rnd(i, 11)).toInt % 5, t(math.abs(LucySpec.rnd(i, 12)) % 500), i)
    }
    val right = (0 until 300).map { j =>
      (math.abs(LucySpec.rnd(j, 13)).toInt % 5, t(math.abs(LucySpec.rnd(j, 14)) % 500), j + 1000)
    }
    val got = Relational.intervalJoin(
      left.toDF("k", "ts", "lid"), right.toDF("k", "ts", "rid"), "k", "ts", 60L)
      .select(col("lid"), col("ref.rid"))
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    val expected = (for {
      (lk, lts, lid) <- left
      (rk, rts, rid) <- right
      if lk == rk && !rts.after(lts) && rts.getTime >= lts.getTime - 60000L
    } yield (lid, rid)).toSet
    assert(expected.nonEmpty && got === expected)
  }

  test("hot-bucket caps are accounted, never silent (CapStats, r4)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // cap high enough not to engage: zero drops recorded, full pair set
    val uncapped = Dedup.simhashPairs(docs, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val statsOff = CapStats.last("dedup_simhash").get
    assert(statsOff.droppedBuckets === 0L && statsOff.droppedRows === 0L)
    // cap of 1 drops every shared bucket: all candidates gone, and the
    // accounting says exactly which volume was dropped
    val capped = Dedup.simhashPairs(docs, maxHamming = 3, maxBucketSize = 1).collect()
    val statsOn = CapStats.last("dedup_simhash").get
    assert(capped.isEmpty, "bucket cap 1 admits no candidate pairs")
    assert(statsOn.droppedBuckets > 0L,
      "engaged cap must record non-zero dropped buckets")
    assert(statsOn.droppedRows >= 2 * statsOn.droppedBuckets,
      "every dropped bucket held >= 2 members")
    assert(statsOn.droppedPairsBound >= uncapped.size,
      "pair upper bound must cover every candidate the uncapped run found")
    // the minhash path records under its own key
    Dedup.minhashLshCandidates(docs, maxBandSize = 1).collect()
    assert(CapStats.last("dedup_minhash_lsh").exists(_.droppedBuckets > 0L))
  }

  test("embedding-cosine near-dup: LSH variant is a precision-1 subset with recall") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exact = Dedup.embeddingCosinePairs(emb, threshold = 0.4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(exact.nonEmpty, "threshold 0.4 must be non-degenerate at sf0.001 (66 pairs)")
    val lsh = Dedup.embeddingCosinePairsLsh(emb, threshold = 0.4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    // precision 1: every LSH pair is in the exact set with the SAME cosine
    lsh.foreach { case (k, c) =>
      assert(exact.contains(k), s"false positive $k")
      assert(math.abs(exact(k) - c) < 1e-12)
    }
    // recall: banded collision probability at cos≈0.4 is ~0.5 with the
    // derived (16,4) geometry — assert a conservative floor
    val recall = lsh.size.toDouble / exact.size
    assert(recall > 0.2, s"recall $recall (${lsh.size}/${exact.size})")
  }

  // Planted-neighbor fixture for the multi-probe recall property: 16
  // query vectors, each with 5 near-duplicates at cosine ≈ 0.97 (base +
  // 25% relative noise), plus 400 unrelated background vectors — every
  // query's brute-force top-5 IS its planted set. Pure function of ids.
  private def plantedNeighbors = {
    import spark.implicits._
    import lucy.LucySpec
    val dim = 32
    def comp(seed: Long, d: Int) = LucySpec.unitDouble(LucySpec.rnd(seed, d)) * 2.0 - 1.0
    def base(q: Long) = Array.tabulate(dim)(d => comp(0xBA5E0000L + q, d))
    val rows =
      (0L until 16L).map(q => (q, base(q).map(_.toFloat))) ++
        (for (q <- 0L until 16L; j <- 0 until 5) yield {
          val b = base(q)
          val v = Array.tabulate(dim)(d =>
            (b(d) + 0.25 * comp(0x1015E000L + q * 100 + j, d)).toFloat)
          (1000L + q * 10 + j, v)
        }) ++
        (0L until 400L).map(i => (5000L + i, base(100 + i).map(_.toFloat)))
    rows.toDF("vec_id", "embedding")
  }

  test("multi-probe LSH recovers recall under the forced n=10^12 geometry (r5)") {
    import org.apache.spark.sql.functions.col
    val emb = plantedNeighbors
    val queries = emb.filter(col("vec_id") < 16)
    val bruteTop = Similarity.bruteCosineTopK(emb, queries, k = 5)
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // sanity: the planted set is the true top-5
    (0L until 16L).foreach(q =>
      assert(bruteTop(q) === (0 until 5).map(j => 1000L + q * 10 + j).toSet,
        s"query $q top-5 must be its planted neighbors"))
    // the n = 10^12 derived geometry: 2 bands of 30 bits
    // (lshParamsFor(1e12) === (60, 30) — pinned above)
    def recallAt(pb: Int): Double = {
      val got = Similarity.lshCosineTopK(emb, queries, k = 5,
        numPlanes = 60, bandBits = 30, probeBits = pb)
        .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      bruteTop.map { case (q, top) =>
        got.getOrElse(q, Set.empty).intersect(top).size.toDouble / top.size
      }.sum / bruteTop.size
    }
    val exact = recallAt(0)
    val probed = recallAt(8)
    // VERDICT r4 next-round #1's acceptance: <0.3 collapses, >0.7 recovers
    assert(exact < 0.3, s"exact-code recall $exact should collapse at 2×30-bit geometry")
    assert(probed > 0.7, s"multi-probe recall $probed must recover")
    assert(probed > exact, "probing can only add candidates")
    // precision stays 1: every probed hit carries the exact cosine
    val bruteAll = Similarity.bruteCosineTopK(emb, queries, k = 500)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    Similarity.lshCosineTopK(emb, queries, k = 5, numPlanes = 60, bandBits = 30,
      probeBits = 8).collect().foreach { r =>
      bruteAll.get((r.getLong(0), r.getLong(1))).foreach(exactCos =>
        assert(math.abs(r.getDouble(2) - exactCos) < 1e-12))
    }
    // probeBits=0 pins the pre-r5 exact-code behavior; auto (-1) under
    // an EXPLICIT geometry also stays exact — derived small-n defaults
    // are covered by the scale-factor test above (4 bands → auto off)
    val auto = Similarity.lshCosineTopK(emb, queries, k = 5,
      numPlanes = 60, bandBits = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pinned = Similarity.lshCosineTopK(emb, queries, k = 5,
      numPlanes = 60, bandBits = 30, probeBits = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto === pinned, "explicit geometry keeps probing off unless requested")
  }

  test("pairs-path multi-probe is a superset lever; ANN corpus cap is accounted (r5)") {
    import org.apache.spark.sql.functions.col
    val emb = plantedNeighbors
    // dedup pairs under the saturated geometry: probing (opt-in on the
    // pairs path) must find at least the exact-code pairs, all true
    val exactPairs = Dedup.embeddingCosinePairsLsh(emb, threshold = 0.9,
      numPlanes = 60, bandBits = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val probedPairs = Dedup.embeddingCosinePairsLsh(emb, threshold = 0.9,
      numPlanes = 60, bandBits = 30, probeBits = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exactPairs.subsetOf(probedPairs), "probing can only add pairs")
    assert(probedPairs.size > exactPairs.size,
      s"probing must surface extra true pairs (exact ${exactPairs.size})")
    // ANN corpus-side hot-bucket cap (ADVICE r4 #5): cap 1 drops every
    // shared bucket — no candidates — and the accounting says so
    val capped = Similarity.lshCosineTopK(emb, emb.filter(col("vec_id") < 4),
      k = 5, maxBucketSize = 1).collect()
    assert(capped.isEmpty, "bucket cap 1 admits no candidates")
    val stats = CapStats.last("ann_lsh_cosine").get
    assert(stats.droppedBuckets > 0L, "engaged ANN cap must be accounted")
    // default cap does not engage on this corpus: zero drops, results flow
    assert(Similarity.lshCosineTopK(emb, emb.filter(col("vec_id") < 4), k = 5)
      .collect().nonEmpty)
    assert(CapStats.last("ann_lsh_cosine").get.droppedBuckets === 0L)
  }

  test("derived flat IVF dispatches to two-level past the scan threshold (r5)") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 5)
    // derived numLists for 500 rows is 22; a lowered flatScanThreshold
    // (the parameter that defaults to the measured-bad 2048 regime)
    // forces the dispatch condition at spec scale with HONEST sampling
    // — the two-level path must take over and return precision-1 rows
    val got = Similarity.ivfCosineTopK(emb, queries, k = 5,
      corpusCount = 500L, flatScanThreshold = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty)
    val brute = Similarity.bruteCosineTopK(emb, queries, k = 500)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    got.foreach { case (q, nb, c) =>
      brute.get((q, nb)).foreach(exact => assert(math.abs(c - exact) < 1e-12)) }
    // proof of delegation: identical (deterministic) to calling the
    // two-level path directly with the same derived geometry
    val direct = Similarity.ivfTwoLevelTopK(emb, queries, k = 5, corpusCount = 500L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === direct.toSeq, "dispatch must equal the two-level path")
    // explicit numLists pins the flat path (comparisons stay runnable)
    val flat = Similarity.ivfCosineTopK(emb, queries, k = 5, numLists = 8,
      corpusCount = 500L).collect()
    assert(flat.nonEmpty)
    // nprobe ALONE does not opt out of the dispatch (ADVICE r5 #4): the
    // probed-cell budget carries over as probe1 = probe2 = ceil(√nprobe)
    val npOnly = Similarity.ivfCosineTopK(emb, queries, k = 5, nprobe = 25,
      corpusCount = 500L, flatScanThreshold = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val npDirect = Similarity.ivfTwoLevelTopK(emb, queries, k = 5,
      probe1 = 5, probe2 = 5, corpusCount = 500L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(npOnly.toSeq === npDirect.toSeq,
      "nprobe-only call must dispatch with the √nprobe probe mapping")
    // probe derivation tracks the EFFECTIVE list count (ADVICE r4 #2)
    assert(Similarity.ivfNprobeFor(8, 0) === 2)      // nl/4 floored at 2
    assert(Similarity.ivfNprobeFor(10000, 0) === 2500)
    assert(Similarity.ivfNprobeFor(3, 0) === 2)
    assert(Similarity.ivfNprobeFor(1, 0) === 1)      // never exceeds nl
    assert(Similarity.ivfNprobeFor(8, 100) === 8)    // explicit clamped to nl
    assert(Similarity.ivfNprobeFor(8, 3) === 3)
  }

  test("near-dup cluster propagation non-convergence is loud (ADVICE r4 #1)") {
    import spark.implicits._
    // a 31-node chain has diameter 30: 3 rounds cannot converge
    val chain = (0L until 30L).map(i => (i, i + 1)).toDF("a", "b")
    Dedup.nearDupClusters(chain, maxIters = 3, localThreshold = 0L).collect()
    val unconverged = CapStats.last("neardup_clusters_unconverged").get
    assert(unconverged.droppedBuckets > 0L,
      "exiting at maxIters with labels changing must be accounted")
    // with enough rounds the same graph converges — and the record says 0
    val done = Dedup.nearDupClusters(chain, maxIters = 50, localThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(done.values.toSet === Set(0L), "chain collapses to min id")
    assert(CapStats.last("neardup_clusters_unconverged").get.droppedBuckets === 0L)
  }

  test("keepBest selects the top-scored member per cluster, ties to lowest id (r5)") {
    import spark.implicits._
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("id", "cluster")
    val scores = Seq((1L, 0.5), (2L, 0.9), (3L, 0.9), (10L, 0.1), (11L, 0.1))
      .toDF("doc_id", "quality")
    val got = Dedup.keepBest(clusters, scores)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // cluster 1: 2 and 3 tie at 0.9 -> lowest id 2; cluster 10: tie -> 10
    assert(got === Set((1L, 2L, 0.9), (10L, 10L, 0.1)))
  }

  test("releaseCaches drops every dedup-persisted frame and only those (ADVICE r4 #4)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    Dedup.releaseCaches(blocking = true) // drain anything earlier tests persisted
    // compare RDD-id SETS, not counts: the ContextCleaner may concurrently
    // drop older unreferenced cache entries from other suites
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.simhashPairs(docs, maxHamming = 3).collect()
    Dedup.minhashLshCandidates(docs).collect()
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty, "the ops must have persisted sketch/bucket frames")
    Dedup.releaseCaches(blocking = true)
    val remaining = spark.sparkContext.getPersistentRDDs.keySet.intersect(added)
    assert(remaining.isEmpty,
      s"release must unpersist what the ops persisted; still cached: $remaining")
  }

  test("multimodal feature extraction: real plumbing, deterministic stub decode") {
    val feats = Multimodal.extractFeatures(Multimodal.withPayload(docs)).collect()
    assert(feats.length === 6)
    feats.foreach { f =>
      assert(f.n_bytes > 0)
      assert(f.width === 16 + f.n_bytes % 64)
      assert(f.height === 16 + (f.n_bytes / 64) % 64)
      assert(f.histogram.sum === f.n_bytes)
      assert(f.mean_byte > 0)
    }
  }

  test("text analysis: langId and quality respond to content") {
    import spark.implicits._
    val d = Seq(
      (0L, "the cat sat on the mat and it was happy with this"),
      (1L, "zzz qqq xxx www vvv"),
      (2L, "")
    ).toDF("doc_id", "text")
    val lang = TextAnalysis.langId(d).select("doc_id", "predicted_lang")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(lang(0L) === "en")
    assert(lang(1L) === "unknown")
    assert(lang(2L) === "unknown")
    val q = TextAnalysis.qualityScore(d).select("doc_id", "quality")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(q(0L) > q(2L))
    val fp = TextAnalysis.fingerprints(d).select("doc_id", "fingerprint").collect()
    assert(fp.map(_.getLong(1)).distinct.length === 3) // order-sensitive, distinct
  }
}
