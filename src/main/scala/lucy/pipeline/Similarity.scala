package lucy.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import lucy.LucySpec

/** Approximate-nearest-neighbor search over an embedding column
  * (Array[Float]).
  *
  *  - bruteCosineTopK: the exact baseline — broadcast the (small) query
  *    set against the corpus, cosine via zip_with/aggregate (pure
  *    Column arithmetic → whole-stage codegen, no UDF), per-query top-k
  *    via window rank. Corpus side streams: never collected.
  *  - lshCosineTopK: the scale path — sign-of-random-hyperplane LSH
  *    (Charikar). Corpus is bucketed by an H-bit code; a query only
  *    scores candidates sharing a band of its code. Probing multiple
  *    bands trades recall for cost. At 10^12 rows the bucket join
  *    replaces the full cross product.
  */
object Similarity {

  /** Cosine similarity between two float-array columns, computed in
    * doubles, left-to-right — mirrors the SQL oracle's formula.
    */
  def cosineCol(a: Column, b: Column): Column =
    dotCol(a, b) / (normCol(a) * normCol(b))

  /** Σ aᵢ·bᵢ in doubles (one zip_with + fold per pair). */
  def dotCol(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** √Σ vᵢ² — identical arithmetic to the norm inside cosineCol, so
    * precomputing it per ROW and dividing dotCol by the product is
    * bit-identical to cosineCol per PAIR while doing a third of the
    * array work (the norms don't depend on the pair — recomputing both
    * per pair made the all-pairs dedup hot spot).
    */
  def normCol(v: Column): Column =
    sqrt(aggregate(v, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** Tight-loop dot product, BIT-IDENTICAL to dotCol (same left-to-
    * right double fold). Exists because higher-order-function Columns
    * evaluate interpreted — per-element lambda dispatch plus a per-pair
    * intermediate array — which at candidate-set volume is ~10× the
    * cost of this loop. Every ANN/dedup candidate-scoring path uses it;
    * cosineCol stays as the one-shot Column form (and the statement of
    * the oracle formula).
    *
    * Array[Float], not Seq[Float]: through the Seq interface every
    * element access dispatches the GENERIC apply and boxes — measured
    * ~7× on corpus-wide passes. Spark converts array<float> to a
    * primitive Array[Float] without boxing.
    */
  private[pipeline] val dotProductUdf =
    udf((a: Array[Float], b: Array[Float]) => {
      var s = 0.0
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    })

  /** Σ v(i)² → √ in a tight loop — value-identical to [[normCol]]
    * (same left-to-right double fold over float casts; the same
    * equivalence dotProductUdf states for dotCol).
    */
  private def normOf(v: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < v.length) { val d = v(i).toDouble; s += d * d; i += 1 }
    math.sqrt(s)
  }

  /** Driver-side ceiling on [[bruteCosineTopK]]'s query set: the queries
    * are collected and broadcast, so a larger set fails loudly instead
    * of exhausting driver memory.
    */
  private[pipeline] val maxBruteQueries = 1 << 16

  /** Exact top-k cosine neighbors for each query vector.
    * queries is expected tiny (broadcast, at most maxBruteQueries rows —
    * more fails); corpus arbitrary.
    *
    * Shape: each corpus partition streams once against the broadcast
    * query set holding one bounded k-heap per query; only |queries| × k
    * rows per partition surface to the final (tiny) window rank — no
    * |queries| × |corpus| cross join is ever materialized or sorted
    * (guide §1.2 step 1). Bit-identical output: dot and norms
    * use the same FP op order as dotProductUdf/normCol, the heap's
    * total order is exactly the window's (cosine DESC, neighbor_id
    * ASC — java.lang.Double.compare, NaN-largest, matching Spark's
    * double ordering), and a per-partition exact top-k merged by an
    * exact global rank is an exact global top-k.
    */
  def bruteCosineTopK(corpus: DataFrame, queries: DataFrame, k: Int = 5,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val qRows = queries.select(col(idCol), col(vecCol)).limit(maxBruteQueries + 1).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    require(qRows.length <= maxBruteQueries,
      s"bruteCosineTopK: more than maxBruteQueries = $maxBruteQueries query vectors " +
        "(they are collected to the driver); batch the queries")
    val qIds = qRows.map(_._1)
    val qVecs = qRows.map(_._2)
    val qNorms = qVecs.map(normOf)
    val bc = spark.sparkContext.broadcast((qIds, qVecs, qNorms))
    val kk = k
    val partials = corpus.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val (ids, vs, qns) = bc.value
        val nq = ids.length
        // worst-at-root heaps: min cosine first, ties to the LARGER
        // neighbor id (the worse row under neighbor_id ASC). The `==`
        // pre-check makes -0.0 tie with 0.0 exactly as Spark's sort
        // does (NormalizeFloatingNumbers); NaN falls through to
        // Double.compare's NaN-largest, also Spark's ordering.
        val worstFirst = new Ordering[(Double, Long)] {
          def compare(a: (Double, Long), b: (Double, Long)): Int =
            if (a._1 == b._1) java.lang.Long.compare(b._2, a._2)
            else java.lang.Double.compare(a._1, b._1)
        }
        val heaps = Array.fill(nq)(
          new scala.collection.mutable.PriorityQueue[(Double, Long)]()(worstFirst.reverse))
        it.foreach { case (nid, cvec) =>
          val cn = normOf(cvec)
          var qi = 0
          while (qi < nq) {
            if (ids(qi) != nid) {
              val qv = vs(qi)
              var dot = 0.0
              var i = 0
              val n = math.min(qv.length, cvec.length)
              while (i < n) { dot += qv(i).toDouble * cvec(i).toDouble; i += 1 }
              val cos = dot / (qns(qi) * cn)
              val h = heaps(qi)
              if (h.size < kk) h.enqueue((cos, nid))
              else {
                val (wc, wn) = h.head
                val betterThanWorst =
                  if (cos == wc) nid < wn
                  else java.lang.Double.compare(cos, wc) > 0
                if (betterThanWorst) { h.dequeue(); h.enqueue((cos, nid)) }
              }
            }
            qi += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
          h.iterator.map { case (cos, nid) => (ids(qi), nid, cos) }
        }
      }
      .toDF("query_id", "neighbor_id", "cosine")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    partials
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Deterministic pseudo-random hyperplane component h-th plane, d-th
    * dim — pure function of (seed, h, d), same on every executor.
    */
  private def planeComponent(h: Int, d: Int): Double = {
    val r = LucySpec.rnd(0x51AFE11L + h, d)
    LucySpec.unitDouble(r) * 2.0 - 1.0
  }

  /** H-bit sign-LSH code of a vector column (UDF: tight loop over
    * 64-float arrays beats a 64×H Column expression tree).
    *
    * The hyperplane matrix is MATERIALIZED once per task per dimension:
    * planeComponent is a two-stage splitmix chain, and deriving it
    * per (plane, dim) per ROW made the code pass ~20 arithmetic ops per
    * multiply-add — measured 17–19 s for 1M×64f at 32c with the inline
    * chain vs ~2 s with the cached matrix. The cache is inside the UDF
    * closure, so each deserialized task instance builds the H×d doubles
    * once — trivial against millions of rows.
    */
  def lshCodeUdf(numPlanes: Int): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val planeCache = new java.util.concurrent.ConcurrentHashMap[Integer, Array[Array[Double]]]()
    udf((v: Array[Float]) => {
      val planes = planeCache.computeIfAbsent(v.length,
        d => Array.tabulate(numPlanes, d)((h, dd) => planeComponent(h, dd)))
      var code = 0L
      var h = 0
      while (h < numPlanes) {
        val p = planes(h)
        var dot = 0.0
        var d = 0
        while (d < v.length) { dot += v(d) * p(d); d += 1 }
        if (dot >= 0) code |= (1L << h)
        h += 1
      }
      code
    })
  }

  /** Query-directed multi-probe band codes (the recall lever
    * lshParamsFor's saturation warning promises; the probing idea is
    * Lv et al., "Multi-Probe LSH", VLDB 2007 [LIT],
    * adapted to sign-LSH): beyond the exact band value, also probe the
    * codes obtained by flipping the bits whose hyperplane margin |v·h|
    * is SMALLEST — those are precisely the bits most likely to differ
    * on a true near-neighbor (a near-identical vector lands on the
    * other side only of hyperplanes it sits close to). Per band, the
    * probeBits lowest-margin bits are selected and ALL 2^probeBits
    * sign combinations over them are emitted, so the probe set always
    * contains the exact code (mask 0) — probing can only ADD candidates
    * and precision stays 1 (candidates are verified with exact cosine).
    *
    * Cost: the emitting side grows ×2^probeBits per band. On the ANN
    * query path that side is the (tiny) query set, so at n = 10^12 with
    * the derived 2×30-bit geometry, probeBits = 8 costs 512 band rows
    * per query and bounds candidates by 2·2^8·bucket — millions of dot
    * products per query, not the percent-level recall of 2 exact codes.
    *
    * Same hyperplane matrix and dot-product loop as lshCodeUdf, so the
    * mask-0 code is bit-identical to the exact path.
    */
  /** Upper bound on probeBits: 2^16 codes per band is already far past
    * any sensible recall/cost trade, and larger values would overflow
    * the per-row output array (numBands << pb) long before that.
    */
  val MaxProbeBits = 16

  private[pipeline] def lshProbesUdf(numPlanes: Int, bandBits: Int,
                                     probeBits: Int): org.apache.spark.sql.expressions.UserDefinedFunction = {
    require(probeBits >= 1 && probeBits <= MaxProbeBits,
      s"probeBits must be in [1, $MaxProbeBits], got $probeBits")
    val planeCache = new java.util.concurrent.ConcurrentHashMap[Integer, Array[Array[Double]]]()
    val numBands = numPlanes / bandBits
    val pb = math.min(probeBits, bandBits)
    udf((v: Array[Float]) => {
      val planes = planeCache.computeIfAbsent(v.length,
        d => Array.tabulate(numPlanes, d)((h, dd) => planeComponent(h, dd)))
      val dots = new Array[Double](numPlanes)
      var h = 0
      while (h < numPlanes) {
        val p = planes(h)
        var dot = 0.0
        var d = 0
        while (d < v.length) { dot += v(d) * p(d); d += 1 }
        dots(h) = dot
        h += 1
      }
      val out = new Array[(Int, Long)](numBands << pb)
      var idx = 0
      var b = 0
      while (b < numBands) {
        val base = b * bandBits
        var bandVal = 0L
        var i = 0
        while (i < bandBits) {
          if (dots(base + i) >= 0) bandVal |= (1L << i)
          i += 1
        }
        // positions of the pb smallest |margin| bits in this band
        // (partial selection sort over <= 31 elems; ties to the lower
        // bit index for determinism)
        val order = Array.range(0, bandBits)
        var s = 0
        while (s < pb) {
          var best = s
          var j = s + 1
          while (j < bandBits) {
            val a = math.abs(dots(base + order(j)))
            val c = math.abs(dots(base + order(best)))
            if (a < c || (a == c && order(j) < order(best))) best = j
            j += 1
          }
          val t = order(s); order(s) = order(best); order(best) = t
          s += 1
        }
        var mask = 0
        while (mask < (1 << pb)) {
          var flipped = bandVal
          var bit = 0
          while (bit < pb) {
            if ((mask & (1 << bit)) != 0) flipped ^= (1L << order(bit))
            bit += 1
          }
          out(idx) = (b, flipped)
          idx += 1
          mask += 1
        }
        b += 1
      }
      out
    })
  }

  /** (id, band, bandVal) band-decomposition rows for a vector frame:
    * exact codes (probeBits = 0 — one row per band, the shape every
    * exact-code sign-LSH path uses), or the multi-probe expansion
    * (probeBits > 0 — 2^probeBits rows per band, a superset of the
    * exact rows). Shared by the ANN and dedup LSH paths.
    */
  private[pipeline] def bandedFrame(df: DataFrame, outIdCol: String, idCol: String,
                                    vecCol: String, numPlanes: Int, bandBits: Int,
                                    probeBits: Int = 0): DataFrame = {
    val numBands = numPlanes / bandBits
    if (probeBits <= 0) {
      val code = lshCodeUdf(numPlanes)
      df.select(col(idCol).as(outIdCol), code(col(vecCol)).as("code"))
        .select(col(outIdCol),
          explode(array((0 until numBands).map(bnd =>
            struct(lit(bnd).as("band"),
              shiftright(col("code"), bnd * bandBits)
                .bitwiseAND(lit((1L << bandBits) - 1)).as("bandVal"))): _*)).as("bk"))
        .select(col(outIdCol), col("bk.band"), col("bk.bandVal"))
    } else {
      val probes = lshProbesUdf(numPlanes, bandBits, probeBits)
      df.select(col(idCol).as(outIdCol), explode(probes(col(vecCol))).as("bk"))
        .select(col(outIdCol), col("bk._1").as("band"), col("bk._2").as("bandVal"))
    }
  }

  /** Auto multi-probe policy: probing turns on exactly when
    * lshParamsFor had to REDUCE the band count below its 4-band default
    * — the saturated regime (n ≳ 7×10^7 at the default target) where
    * exact-code recall collapses by construction. 2 bands lose the
    * most recall → probe hardest (2^8 codes/band); 3 bands → a
    * moderate 2^4; the unsaturated 4-band geometry keeps the exact-code
    * behavior (and its oracles).
    */
  private[pipeline] def autoProbeBits(numBands: Int, bandBits: Int): Int =
    if (numBands <= 2) math.min(8, bandBits)
    else if (numBands == 3) math.min(4, bandBits)
    else 0

  /** Scale-aware sign-LSH sizing: bandBits chosen so an AVERAGE band
    * bucket over n corpus rows holds ≈ targetBucket candidates
    * (n / 2^bandBits ≤ target — the per-query candidate scan and the
    * bucket join stay bounded as the corpus grows), floored at 4.
    * Derivation: bandBits = ceil(log2(n / targetBucket)).
    *
    * The bucket bound is the invariant; band COUNT is the adjustable
    * lever. Clamping bandBits at 60/numBands instead would, past
    * n ≈ targetBucket·2^15, grow the average bucket silently until the
    * hot-bucket caps dropped essentially every bucket — a silent recall
    * collapse. So bandBits always grows
    * with n (capped only by the 63-bit code word at 31 bits ≡
    * n > targetBucket·2^31 ≈ 2×10^12 at the default target, logged),
    * and numBands is REDUCED when the requested bands no longer fit —
    * an explicit, logged recall cost instead of unbounded buckets:
    *
    *   n = 10^6  → (32, 8) 4 bands;  n = 10^9 → (60, 20) 3 bands;
    *   n = 10^12 → (60, 30) 2 bands. More recall back at high n =
    *   wider target or probing neighbor codes — explicit levers.
    */
  def lshParamsFor(n: Long, numBands: Int = 4, targetBucket: Long = 1024): (Int, Int) = {
    val needed = math.max(1L, n / math.max(1L, targetBucket))
    val ceilLog2 =
      if (needed <= 1) 1
      else 64 - java.lang.Long.numberOfLeadingZeros(needed - 1)
    if (ceilLog2 > 31)
      log.warn(s"lshParamsFor(n=$n, targetBucket=$targetBucket): bucket " +
        s"target needs 2^$ceilLog2 buckets but a 63-bit code caps band " +
        s"width at 31 bits — average bucket will be n/2^31 ≈ ${n >> 31}")
    val bandBits = math.max(4, math.min(31, ceilLog2))
    val bands = math.max(1, math.min(numBands, 63 / bandBits))
    if (bands < numBands)
      log.warn(s"lshParamsFor(n=$n): $numBands bands of $bandBits bits " +
        s"exceed the 63-bit code — using $bands bands (recall levers: " +
        "coarser targetBucket, or multi-probe — lshCosineTopK enables " +
        "query-directed probing automatically in this regime)")
    (bands * bandBits, bandBits)
  }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Default IVF geometry for an n-row corpus: numLists =
    * min(√n, sampleCap, n) — √n is the standard IVF balance between
    * cell size (n/K) and probe cost (K), but the driver-side trainer
    * needs at least one sample per centroid and its sample is capped,
    * so K is too. Past K = sampleCap (n ≈ 4.3×10⁹ at the default 65536)
    * the single-level quantizer degrades gracefully
    * — cells grow past √n instead of the old hard `require` throw — and
    * that is also the regime where a real deployment moves to a
    * two-level quantizer (coarse cells → per-cell sub-quantizer, the
    * IVF-HNSW/IMI design): K stays ≤ sampleCap per level and the
    * per-row assignment scan stays O(√K·d) instead of O(K·d). The flat
    * default here is the honest single-level shape with its cap made
    * explicit; nprobe = max(2, K/4).
    */
  def ivfParamsFor(n: Long, sampleCap: Int = 65536): (Int, Int) = {
    require(n > 0, "IVF over an empty corpus")
    val sqrtN = math.max(4L, math.round(math.sqrt(n.toDouble)))
    val nl = math.min(n, math.min(sampleCap.toLong, sqrtN)).toInt
    (nl, ivfNprobeFor(nl, 0))
  }

  /** Default probe count for an EFFECTIVE list count:
    * derived from the list count actually in use — nl/4, floored at 2 —
    * so an explicit numLists gets a probe count that tracks ITS
    * geometry, not the derived default's (probing derived-nl/4 lists
    * regardless would silently shift recall/cost for explicit-numLists
    * callers: numLists=8 over 1M rows would probe all 8, numLists=10000
    * only 250). An explicit request is clamped to nl.
    */
  def ivfNprobeFor(numLists: Int, requested: Int): Int =
    if (requested > 0) math.min(requested, numLists)
    else math.min(numLists, math.max(2, numLists / 4))

  // ---- IVF (inverted-file) ANN — the second scale path -----------------

  /** Deterministic spherical k-means coarse quantizer, trained on a
    * bounded DRIVER-side sample (the classic IVF design: the model is
    * tiny — numLists × dim doubles — and training data is capped, so
    * train offline/driver-side and keep the DISTRIBUTED work where the
    * scale is: assignment is a narrow map over the corpus, candidate
    * generation a broadcast probe-join). Determinism: the sample is
    * hash-selected (not partition-order-selected), init = the first
    * numLists sample vectors in ascending id order, fixed iteration
    * count, ties broken by lowest list id.
    */
  def trainIvfCentroids(corpus: DataFrame, numLists: Int, corpusCount: Long,
                        sampleCap: Int = 65536, iters: Int = 10,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): Array[Array[Double]] = {
    require(numLists >= 1, "numLists must be >= 1")
    val sampled = sampleNormalized(corpus, corpusCount, sampleCap, idCol, vecCol)
    require(sampled.length >= numLists,
      s"sample ${sampled.length} smaller than numLists=$numLists")
    kmeansSpherical(sampled, numLists, iters)
  }

  /** Driver-side hash-selected sample (≈ sampleCap rows, independent of
    * partitioning), normalized — shared by the flat and two-level
    * trainers.
    */
  private def sampleNormalized(corpus: DataFrame, corpusCount: Long, sampleCap: Int,
                               idCol: String, vecCol: String): Array[Array[Double]] = {
    val modulus = math.max(1L, corpusCount / sampleCap)
    corpus
      .filter(pmod(xxhash64(col(idCol)), lit(modulus)) === 0)
      .select(col(idCol), col(vecCol))
      .orderBy(col(idCol)).limit(sampleCap)
      .collect()
      .map(r => normalize(r.getSeq[Float](1).toArray.map(_.toDouble)))
  }

  /** Deterministic spherical k-means core over a driver-side sample:
    * init = first k vectors, fixed iters, max-dot assignment with
    * lowest-index ties, empty cells keep their centroid.
    */
  private def kmeansSpherical(sampled: Array[Array[Double]], numLists: Int,
                              iters: Int): Array[Array[Double]] = {
    var centroids = sampled.take(numLists).map(_.clone())
    val dim = centroids(0).length
    // Parallel assignment with DETERMINISTIC accumulation: the
    // sequential O(sample·K·d) loop was the IVF bench floor (~5 s of a
    // 7 s phase at 16384×1000×64×2 iters on one core). Chunks are fixed
    // index ranges and partials merge in ascending chunk order, so the
    // summation order — hence every centroid bit — is a pure function of
    // the sample, never of thread timing.
    val chunk = 2048
    val nChunks = (sampled.length + chunk - 1) / chunk
    var it = 0
    while (it < iters) {
      val partials = new Array[(Array[Array[Double]], Array[Int])](nChunks)
      val cents = centroids
      java.util.stream.IntStream.range(0, nChunks).parallel().forEach { ci =>
        val sums = Array.fill(numLists)(new Array[Double](dim))
        val counts = new Array[Int](numLists)
        var i = ci * chunk
        val end = math.min(i + chunk, sampled.length)
        while (i < end) {
          val v = sampled(i)
          val li = nearestList(v, cents)
          val s = sums(li)
          var d = 0
          while (d < dim) { s(d) += v(d); d += 1 }
          counts(li) += 1
          i += 1
        }
        partials(ci) = (sums, counts)
      }
      val sums = Array.fill(numLists)(new Array[Double](dim))
      val counts = new Array[Int](numLists)
      var ci = 0
      while (ci < nChunks) {
        val (ps, pc) = partials(ci)
        var li = 0
        while (li < numLists) {
          val s = sums(li)
          val p = ps(li)
          var d = 0
          while (d < dim) { s(d) += p(d); d += 1 }
          counts(li) += pc(li)
          li += 1
        }
        ci += 1
      }
      var li = 0
      while (li < numLists) {
        // empty list keeps its old centroid (deterministic, no resample)
        if (counts(li) > 0) centroids(li) = normalize(sums(li))
        li += 1
      }
      it += 1
    }
    centroids
  }

  private def normalize(v: Array[Double]): Array[Double] = {
    var n = 0.0
    var i = 0
    while (i < v.length) { n += v(i) * v(i); i += 1 }
    val inv = if (n > 0) 1.0 / math.sqrt(n) else 0.0
    val out = new Array[Double](v.length)
    i = 0
    while (i < v.length) { out(i) = v(i) * inv; i += 1 }
    out
  }

  /** argmax dot(v, centroid) — cosine order on normalized centroids;
    * ties to the lowest list id.
    */
  private def nearestList(v: Array[Double], centroids: Array[Array[Double]]): Int = {
    var best = 0
    var bestDot = Double.NegativeInfinity
    var li = 0
    while (li < centroids.length) {
      val c = centroids(li)
      var dot = 0.0
      var d = 0
      while (d < v.length) { dot += v(d) * c(d); d += 1 }
      if (dot > bestDot) { bestDot = dot; best = li }
      li += 1
    }
    best
  }

  /** nprobe nearest list ids for a query vector, ascending by rank. */
  private def probeLists(v: Array[Double], centroids: Array[Array[Double]],
                         nprobe: Int): Array[Int] = {
    val dots = centroids.indices.map { li =>
      val c = centroids(li)
      var dot = 0.0
      var d = 0
      while (d < v.length) { dot += v(d) * c(d); d += 1 }
      (-dot, li)
    }
    dots.sorted.take(nprobe).map(_._2).toArray
  }

  /** Allocation-lean flat-path assignment kernel (guide §1.2 "per-task
    * work"): a plain nearestList(normalize(v)) UDF pays, per corpus row,
    * two array allocations (toArray.map + normalize's out) and a 2-D
    * Array[Array[Double]] walk whose per-centroid row dereference +
    * bounds checks dominate the 64·K MACs. This kernel flattens the
    * centroid matrix row-major ONCE per task (the UDF closure owns it)
    * and normalizes into a single scratch-free pass.
    *
    * BIT-IDENTITY (the ann_ivf_cosine oracle hashes results): the FP
    * op sequence is exactly normalize()+nearestList() — q(d) =
    * v(d).toDouble * inv rounded once, then dot += q(d) * c(d) in
    * ascending d, centroids visited in ascending list id with the same
    * strict `>` tie-break. Only the memory layout changed.
    */
  private[pipeline] final class CentroidKernel(centroids: Array[Array[Double]])
      extends Serializable {
    val k: Int = centroids.length
    val dim: Int = centroids(0).length
    private val flat: Array[Double] = {
      val f = new Array[Double](k * dim)
      var li = 0
      while (li < k) { System.arraycopy(centroids(li), 0, f, li * dim, dim); li += 1 }
      f
    }

    /** argmax over centroids of dot(normalize(v), c) — same value as
      * nearestList(normalize(v.toArray.map(_.toDouble)), centroids).
      */
    def nearest(v: Array[Float]): Int = {
      val n = v.length
      var s = 0.0
      var i = 0
      while (i < n) { val d = v(i).toDouble; s += d * d; i += 1 }
      val inv = if (s > 0) 1.0 / math.sqrt(s) else 0.0
      val q = new Array[Double](n)
      i = 0
      while (i < n) { q(i) = v(i).toDouble * inv; i += 1 }
      val d = math.min(dim, n)
      var best = 0
      var bestDot = Double.NegativeInfinity
      var li = 0
      while (li < k) {
        val off = li * dim
        var dot = 0.0
        var j = 0
        while (j < d) { dot += q(j) * flat(off + j); j += 1 }
        if (dot > bestDot) { bestDot = dot; best = li }
        li += 1
      }
      best
    }
  }

  /** The flat-IVF corpus-assignment UDF over a centroid model. */
  def assignUdfFor(centroids: Array[Array[Double]]): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val kernel = new CentroidKernel(centroids)
    udf((v: Array[Float]) => kernel.nearest(v))
  }

  /** IVF ANN: corpus partitioned into numLists coarse cells; a query
    * scores only the cells of its nprobe nearest centroids. Exact
    * cosine on the candidates → precision 1; recall is set by nprobe
    * (nprobe = numLists recovers brute force). Defaults derive from the
    * corpus size: numLists ≈ √n (the standard IVF heuristic — balances
    * cell size n/K against probe cost K), nprobe = max(2, numLists/4).
    *
    * Scale shape: centroids are a tiny driver model (K·dim doubles);
    * assignment is one narrow UDF map over the corpus (pipelined with
    * the scan); the probe side is BROADCAST (queries × nprobe rows), so
    * the corpus never shuffles — at 10^12 rows that is the entire
    * difference between this and a join-reshuffle design.
    */
  def ivfCosineTopK(corpus: DataFrame, queries: DataFrame, k: Int = 5,
                    numLists: Int = 0, nprobe: Int = 0, corpusCount: Long = -1L,
                    iters: Int = 10, sampleCap: Int = 65536,
                    flatScanThreshold: Int = 2048,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val n = if (corpusCount >= 0) corpusCount else corpus.count()
    // derived geometry respects the trainer's sample cap (ivfParamsFor;
    // the old √n-only default threw past n = sampleCap²)
    val (dnl, _) = ivfParamsFor(n, sampleCap)
    // Derived-default dispatch: past the
    // flat-scan threshold the default no longer warns-and-proceeds into
    // the known-bad O(K·d)-per-row regime (measured 54 s flat vs 6 s
    // two-level at 10M×64f/32c) — it delegates to the two-level
    // quantizer. Only an EXPLICIT numLists pins the flat path (with the
    // warning), so flat-vs-two-level comparisons stay runnable; an
    // nprobe alone does NOT opt out (nprobe has no
    // flat-specific meaning worth pinning the slow path for): the
    // two-level quantizer's k1·k2 effective cells match the flat √n
    // granularity, so the caller's probed-cell budget carries over as
    // probe1 = probe2 = ceil(√nprobe).
    if (numLists <= 0 && dnl > flatScanThreshold) {
      log.info(s"ivfCosineTopK: derived numLists $dnl exceeds the " +
        s"flat-scan threshold ($flatScanThreshold) — dispatching to ivfTwoLevelTopK")
      val pl = if (nprobe > 0) math.ceil(math.sqrt(nprobe.toDouble)).toInt else 0
      return ivfTwoLevelTopK(corpus, queries, k, probe1 = pl, probe2 = pl,
        corpusCount = n, iters = iters, sampleCap = sampleCap, idCol = idCol, vecCol = vecCol)
    }
    val nl = if (numLists > 0) numLists else dnl
    // probe count tracks the EFFECTIVE list count
    val np = ivfNprobeFor(nl, nprobe)
    if (nl > 2048)
      log.warn(s"ivfCosineTopK: flat quantizer with $nl cells scans " +
        s"$nl centroids per row — measured 54 s vs two-level 6 s at " +
        "10M×64f/32c; prefer ivfTwoLevelTopK at this scale")
    val centroids = trainIvfCentroids(corpus, nl, n, sampleCap = sampleCap,
      iters = iters, idCol = idCol, vecCol = vecCol)

    val assignUdf = assignUdfFor(centroids)
    val probeUdf = udf((v: Array[Float]) =>
      probeLists(normalize(v.toArray.map(_.toDouble)), centroids, np))
    probeJoinTopK(corpus, queries, k, assignUdf, probeUdf, idCol, vecCol)
  }

  /** Shared IVF tail: corpus → narrow (id, vec, norm, cellId) map;
    * queries × probed cells → BROADCAST; exact cosine on candidates →
    * per-query window rank. The corpus never shuffles — the only
    * Exchange is the window rank over candidates (PLANS.md PLAN6).
    */
  private def probeJoinTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                            assignUdf: org.apache.spark.sql.expressions.UserDefinedFunction,
                            probeUdf: org.apache.spark.sql.expressions.UserDefinedFunction,
                            idCol: String, vecCol: String): DataFrame = {
    val lists = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"),
      normCol(col(vecCol)).as("cn"))
      .withColumn("listId", assignUdf(col("cvec")))
    val probes = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
        normCol(col(vecCol)).as("qn"))
        .withColumn("listId", explode(probeUdf(col("qvec")))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    probes.join(lists, Seq("listId"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", dotProductUdf(col("qvec"), col("cvec")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Two-level IVF geometry for an n-row corpus: k1 = k2 ≈ n^(1/4)
    * gives k1·k2 ≈ √n effective cells — the flat heuristic's cell
    * count — while training cost and the per-row assignment scan are
    * O((k1+k2)·d) instead of O(√n·d). Capped at 4096 per level
    * (16.8 M cells ≡ n ≈ 2.8×10¹⁴ — past that, a third level).
    * Probes default ASYMMETRICALLY: probe1 = k/4 coarse cells,
    * probe2 = k/2 residual codes. The 50 M-vector sweep
    * (`ann_50m_ivf2sweep`, BENCH/BASELINE.md) showed the first
    * sub-1.0 recall datapoint (0.981 at k/4 × k/4) is residual-side:
    * doubling probe2 alone restored recall 1.0 at ~equal wall
    * (p21x42: 1.000, 43 s vs baseline 45 s), while doubling probe1
    * alone did nothing (p42x21: 0.981, 61 s). The shared residual
    * codebook is the axis that coarsens as n grows — one codebook
    * serves every coarse cell's residual distribution — so the
    * probe budget goes there.
    */
  def ivfTwoLevelParamsFor(n: Long): (Int, Int, Int, Int) = {
    require(n > 0, "IVF over an empty corpus")
    val quarter = math.max(2L, math.ceil(math.pow(n.toDouble, 0.25)).toLong)
    val k = math.min(4096L, math.min(n, quarter)).toInt
    val p1 = math.min(k, math.max(2, k / 4))
    val p2 = math.min(k, math.max(2, k / 2))
    (k, k, p1, p2)
  }

  /** Two-level IVF ANN — the beyond-10⁹ quantizer (the 10¹²-row
    * path). Level 1 is the spherical coarse quantizer; level 2 is one
    * SHARED spherical codebook over normalized level-1 RESIDUALS
    * (v̂ − c1) — the inverted-multi-index idea (Babenko & Lempitsky,
    * CVPR 2012 [LIT]; here a residual codebook rather than a product
    * split): the model stays (k1+k2)·d doubles, never k1·k2·d. Cell
    * id = c1·k2 + c2.
    *
    * At n = 10¹²: k1 = k2 = 1000 → 10⁶ cells of ~10⁶ rows, trained
    * from one 65536-row sample, assigned at 2000 dot products per row —
    * the flat quantizer would need a 10⁶-centroid scan per row and a
    * 10⁶-row training sample. Probing: the query's probe1 nearest
    * coarse cells, and within each, the probe2 nearest residual codes
    * for THAT cell's residual (proper multi-probe). Precision stays 1
    * (exact cosine on candidates); recall is set by probe1 × probe2.
    * Same corpus-never-shuffles execution shape as the flat path.
    */
  def ivfTwoLevelTopK(corpus: DataFrame, queries: DataFrame, k: Int = 5,
                      k1: Int = 0, k2: Int = 0, probe1: Int = 0, probe2: Int = 0,
                      corpusCount: Long = -1L, iters: Int = 10, sampleCap: Int = 65536,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val n = if (corpusCount >= 0) corpusCount else corpus.count()
    val (dk1, dk2, dp1, dp2) = ivfTwoLevelParamsFor(n)
    val (c1k, c2k) = (if (k1 > 0) k1 else dk1, if (k2 > 0) k2 else dk2)
    val (p1, p2) = (math.min(if (probe1 > 0) probe1 else dp1, c1k),
      math.min(if (probe2 > 0) probe2 else dp2, c2k))
    val sampled = sampleNormalized(corpus, n, sampleCap, idCol, vecCol)
    require(sampled.length >= math.max(c1k, c2k),
      s"sample ${sampled.length} smaller than k1=$c1k / k2=$c2k")
    val coarse = kmeansSpherical(sampled, c1k, iters)
    val residuals = sampled.map { v =>
      normalize(subtract(v, coarse(nearestList(v, coarse))))
    }
    val resCode = kmeansSpherical(residuals, c2k, iters)

    // bind ONLY the model arrays into the UDF closures (a local def here
    // would capture the whole method frame, DataFrames included — Task
    // not serializable)
    val cArr = coarse
    val rArr = resCode
    val kk2 = c2k
    val (pp1, pp2) = (p1, p2)
    val assignUdf = udf((v: Array[Float]) => {
      val q = normalize(v.toArray.map(_.toDouble))
      val ci = nearestList(q, cArr)
      ci.toLong * kk2 + nearestList(normalize(subtract(q, cArr(ci))), rArr)
    })
    val probeUdf = udf((v: Array[Float]) => {
      val q = normalize(v.toArray.map(_.toDouble))
      probeLists(q, cArr, pp1).flatMap { ci =>
        probeLists(normalize(subtract(q, cArr(ci))), rArr, pp2)
          .map(cj => ci.toLong * kk2 + cj)
      }
    })
    probeJoinTopK(corpus, queries, k, assignUdf, probeUdf, idCol, vecCol)
  }

  private def subtract(a: Array[Double], b: Array[Double]): Array[Double] = {
    val out = new Array[Double](a.length)
    var i = 0
    while (i < a.length) { out(i) = a(i) - b(i); i += 1 }
    out
  }

  /** ANN via banded sign-LSH: corpus bucketed on `bandBits`-wide bands
    * of the code; a query scores only docs sharing ≥1 band value. Exact
    * cosine is computed on the candidates, so precision is 1 — only
    * recall is approximate (more bands → higher recall).
    *
    * Sizing: by DEFAULT (numPlanes=0,
    * bandBits=0) the parameters are DERIVED from the corpus size via
    * lshParamsFor — callers no longer need to know the sizing helper
    * exists to get bounded buckets at scale. The count costs one
    * column-pruned job; pass `corpusCount` when the caller already
    * knows it (a catalog rowcount at 10^12 scale), or explicit
    * numPlanes+bandBits to pin both.
    *
    * Multi-probe: probeBits = -1 (auto)
    * enables query-directed probing exactly when the DERIVED geometry
    * had to reduce the band count (the saturated n ≳ 7×10^7 regime
    * where exact-code recall collapses — autoProbeBits); 0 disables,
    * > 0 pins the probe width. Probing expands only the QUERY band
    * rows (×2^probeBits) — corpus-side cost is unchanged.
    *
    * Skew defense: corpus band buckets above
    * maxBucketSize are dropped from candidate generation with CapStats
    * accounting (op "ann_lsh_cosine") — a saturated band value on a
    * clustered corpus now degrades recall LOUDLY instead of growing
    * the candidate broadcast toward the driver limit.
    */
  def lshCosineTopK(corpus: DataFrame, queries: DataFrame, k: Int = 5,
                    numPlanes: Int = 0, bandBits: Int = 0,
                    corpusCount: Long = -1L, probeBits: Int = -1,
                    maxBucketSize: Long = 10000,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val derived = !(numPlanes > 0 && bandBits > 0)
    val (np, bb) =
      if (!derived) (numPlanes, bandBits)
      else lshParamsFor(if (corpusCount >= 0) corpusCount else corpus.count())
    val numBands = np / bb
    val pb =
      if (probeBits >= 0) math.min(probeBits, bb)
      else if (derived) autoProbeBits(numBands, bb)
      else 0
    if (pb > 0)
      log.info(s"lshCosineTopK: multi-probe ON — $numBands bands of $bb " +
        s"bits, 2^$pb codes probed per band per query")
    // banding carries IDS ONLY: exploding numBands rows per doc
    // with the vector attached materialized numBands copies of every
    // embedding through the join — at 10^6×64f that is the whole corpus
    // ×4 in flight. Vectors are re-attached to the (small) deduplicated
    // candidate set afterwards, the same shape embeddingCosinePairsLsh
    // uses. Measured at 1M vectors/32c: 18.0 s → re-attach shape below.
    val qb = broadcast(bandedFrame(queries, "query_id", idCol, vecCol, np, bb, pb))
    // the corpus band frame feeds the cap's bucket-count job and the
    // candidate join; it is deliberately NOT persisted — the code pass
    // is numPlanes dots per row (cheap next to caching corpus×bands
    // rows), and at 10^12 rows a cache of the band table is the wrong
    // trade (measured at 1M: persisting was ~0.5 s SLOWER than the
    // recompute)
    val cb = Dedup.coolBuckets(bandedFrame(corpus, "neighbor_id", idCol, vecCol, np, bb),
      "neighbor_id", Seq("band", "bandVal"), maxBucketSize, "ann_lsh_cosine")
    val cands = qb.join(cb, Seq("band", "bandVal"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
    // re-attach: query side (tiny) broadcast WITH the candidate list, so
    // the corpus-side vector lookup streams the corpus once against a
    // broadcast hash — no corpus shuffle. Candidate volume is bounded by
    // queries × numBands × bucket size (lshParamsFor keeps buckets near
    // targetBucket), so the broadcast stays small even at corpus scale.
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
      normCol(col(vecCol)).as("qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"),
      normCol(col(vecCol)).as("cn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    broadcast(cands.join(q, Seq("query_id")))
      .join(c, Seq("neighbor_id"))
      .withColumn("cosine", dotProductUdf(col("qvec"), col("cvec")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }
}
