package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import lucy.pipeline.{CapStats, Dedup, Similarity}

/** `curate`: sequential calls to the curation operators on seeded inputs
  * whose truth is known. ANN: `ivfCosineTopK`, `ivfTwoLevelTopK` and
  * `lshCosineTopK` over a clustered vector corpus, scored against
  * `bruteCosineTopK`, itself checked against an exact top-k on the
  * driver. Near-duplicates: `minhashLshCandidates` + `nearDupClusters`
  * and `simhashPairs` over `NearDupGen` texts, scored against the
  * planted clusters. One round calls every operator once.
  */
final class CurateWorkload(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val gen = ctx.gen
  import spark.implicits._

  val vectors = 10000L
  val queries = 32
  val k = 10
  val nearDupDocs = 3000L

  private var corpus: DataFrame = _
  private var qs: DataFrame = _
  private var docs: DataFrame = _
  private var truth: Map[Long, Set[Long]] = Map.empty
  private var brute: Array[Row] = Array.empty
  private var bruteS = 0.0

  /** One operator call: its wall, its recall against the truth and, for
    * the pair operators, the share of returned pairs inside a planted
    * cluster.
    */
  final case class Call(op: String, ms: Double, recall: Double, precision: Double = 1.0)
  private val calls = mutable.ArrayBuffer.empty[Call]
  private var phases = Vector.empty[Seq[Call]]
  private val malformed = mutable.ArrayBuffer.empty[String]

  def setup(): Unit = {
    val g = gen
    corpus = spark.range(0L, vectors, 1L, ctx.cores * 2).as[Long]
      .map(i => (i, g.vector(i))).toDF("vec_id", "embedding")
      .persist(StorageLevel.MEMORY_AND_DISK)
    corpus.count()
    // query vectors come from the same clusters but are not in the corpus
    qs = (0 until queries).map(j => (vectors + j, g.vector(vectors + j))).toDF("vec_id", "embedding")
    docs = spark.range(0L, nearDupDocs, 1L, ctx.cores * 2).as[Long]
      .map(i => (i, g.nearDupText(i))).toDF("doc_id", "text")
      .persist(StorageLevel.MEMORY_AND_DISK)
    docs.count()
    val t0 = System.nanoTime()
    brute = Similarity.bruteCosineTopK(corpus, qs, k).collect()
    bruteS = (System.nanoTime() - t0) / 1e9
    truth = brute.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // a full round compiles the code paths and warms the JIT; it is not timed
    Progress("warm-up round") {
      round()
      calls.clear()
    }
    println(s"perfbench input curate: $vectors vectors of dim ${gen.dim} around ${gen.vecClusters} " +
      s"seeded centres, $queries held-out queries, k=$k; $nearDupDocs near-dup docs in planted " +
      s"clusters of 1-3 (${nearDupDocs / 6 * 4} true pairs)")
  }

  /** Per-operator recall floors, below half the lowest recall seen on
    * eight tuning seeds (lsh 0.947, simhash 0.187), so a seed does not
    * fall below its floor but an operator that returns empty, partial or
    * random results does.
    */
  private val RecallFloor = Map("ivf" -> 0.45, "ivf2" -> 0.45, "lsh" -> 0.45, "minhash" -> 0.45,
    "clusters" -> 0.45, "simhash" -> 0.09)
  /** The pair operators must return pairs, mostly inside planted clusters. */
  private val PairOps = Set("minhash", "simhash")
  private val PrecisionFloor = 0.5

  private def recallOf(rows: Array[Row]): Double = {
    val byQ = rows.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    truth.map { case (q, t) => byQ.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size }.sum / truth.size
  }

  private def annRows(op: String, rows: Array[Row]): Array[Row] = {
    val bad = rows.groupBy(_.getLong(0)).collect { case (q, rs) if rs.length > k => q }
    if (bad.nonEmpty || rows.exists(r => r.getLong(1) < 0 || r.getLong(1) >= vectors))
      malformed += s"$op returned more than k rows or unknown ids for queries ${bad.take(3).mkString(",")}"
    rows
  }

  /** (recall, precision) of near-duplicate pairs against the planted
    * clusters; precision is 0 for an empty result.
    */
  private def pairScore(pairs: Array[(Long, Long)]): (Double, Double) = {
    val intra = pairs.count { case (a, b) => gen.nearDupCluster(a) == gen.nearDupCluster(b) }
    (intra.toDouble / (nearDupDocs / 6 * 4), if (pairs.isEmpty) 0.0 else intra.toDouble / pairs.length)
  }

  private def timed(op: String)(f: => Double): Unit = timedPairs(op)((f, 1.0))

  private def timedPairs(op: String)(f: => (Double, Double)): Unit = {
    val t0 = System.nanoTime()
    val (recall, precision) = ctx.call("pipeline", op)(f)
    calls += Call(op, (System.nanoTime() - t0) / 1e6, recall, precision)
  }

  private def round(): Unit = {
    ctx.trace.newRequest()
    timed("ivf")(recallOf(annRows("ivf",
      Similarity.ivfCosineTopK(corpus, qs, k, corpusCount = vectors, iters = 4).collect())))
    timed("ivf2")(recallOf(annRows("ivf2",
      Similarity.ivfTwoLevelTopK(corpus, qs, k, corpusCount = vectors, iters = 4).collect())))
    timed("lsh")(recallOf(annRows("lsh",
      Similarity.lshCosineTopK(corpus, qs, k, corpusCount = vectors).collect())))
    var p: DataFrame = null
    timedPairs("minhash") {
      p = Dedup.minhashLshCandidates(docs, n = 3, numPerms = 16, threshold = 0.5)
        .filter(col("est_jaccard") >= 0.5).persist(StorageLevel.MEMORY_AND_DISK)
      pairScore(p.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))))
    }
    timed("clusters") {
      val clusters = Dedup.nearDupClusters(p).select(col("cluster")).distinct().count()
      if (clusters <= 0) malformed += "nearDupClusters found no cluster"
      // share of planted multi-doc clusters (2 per 6 docs) that were found
      math.min(1.0, clusters.toDouble / (nearDupDocs / 3))
    }
    p.unpersist()
    timedPairs("simhash")(pairScore(Dedup.simhashPairs(docs, maxHamming = 3).select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))))
  }

  /** Corpus rows one round reads: three ANN calls over the vectors and
    * two near-dup calls over the docs.
    */
  private def rowsPerRound: Double = 3.0 * vectors + 2.0 * nearDupDocs

  /** The unit op is one round: six calls, one per operator, so every
    * window holds the same mix. Its typical wall is the sum over the
    * operators of each operator's median call wall, so every median is
    * taken within one operator.
    */
  def measure(deadlineNs: Long): Phase = {
    val before = calls.size
    var rounds = 0
    val t0 = System.nanoTime()
    while (rounds == 0 || System.nanoTime() < deadlineNs) {
      round()
      rounds += 1
    }
    val cs = calls.drop(before).toSeq
    phases :+= cs
    val roundMs = cs.groupBy(_.op).values.map(c => Report.median(c.map(_.ms))).sum
    Phase(cs.size, roundMs, rounds, rounds * rowsPerRound, (System.nanoTime() - t0) / 1e9)
  }

  def check(): Unit = {
    val r = ctx.report
    // bruteCosineTopK against an exact top-k computed on the driver
    val vs = corpus.collect().map(x => (x.getLong(0), x.getSeq[Float](1).toArray)).sortBy(_._1)
    def norm(v: Array[Float]) = math.sqrt(v.map(x => x.toDouble * x).sum)
    val norms = vs.map(v => norm(v._2))
    (0 until queries).foreach { j =>
      val qv = gen.vector(vectors + j)
      val qn = norm(qv)
      val cos = vs.indices.map { i =>
        var d = 0.0; var t = 0
        while (t < qv.length) { d += qv(t).toDouble * vs(i)._2(t); t += 1 }
        (vs(i)._1, d / (qn * norms(i)))
      }.sortBy(x => (-x._2, x._1))
      val want = cos.take(k)
      val got = brute.filter(_.getLong(0) == vectors + j).map(x => (x.getLong(1), x.getDouble(2))).sortBy(x => (-x._2, x._1))
      val ok = got.length == k && got.zip(want).forall { case ((gi, gc), (wi, wc)) =>
        (gi == wi || math.abs(gc - wc) < 1e-9) && math.abs(gc - wc) < 1e-9 }
      r.check(ok, s"curate brute top-$k for query vector ${vectors + j}: got ${got.take(3).mkString(",")}, " +
        s"expected ${want.take(3).mkString(",")}")
    }
    malformed.foreach(m => r.check(ok = false, s"curate $m"))
    calls.groupBy(_.op).foreach { case (op, cs) =>
      r.put(s"recall_min.$op", cs.map(_.recall).min, "ratio", cs.size, s"lowest recall of a call, floor ${RecallFloor(op)}")
      if (PairOps(op))
        r.put(s"precision_min.$op", cs.map(_.precision).min, "ratio", cs.size,
          s"lowest share of pairs inside a planted cluster, floor $PrecisionFloor")
    }
    calls.foreach { c =>
      r.check(c.recall >= RecallFloor(c.op), f"curate ${c.op} recall ${c.recall}%.3f below its floor ${RecallFloor(c.op)}")
      if (PairOps(c.op)) r.check(c.precision >= PrecisionFloor, f"curate ${c.op} returned ${c.precision * 100}%.1f%% of pairs " +
        s"inside a planted cluster (floor ${PrecisionFloor * 100} %)")
    }
    val ph = phases.head
    val ann = ph.filter(c => Set("ivf", "ivf2", "lsh")(c.op))
    r.put("ann_qps", ann.size * queries / (ann.map(_.ms).sum / 1000), "1/s", ann.size,
      "query vectors / Σ wall of the IVF, two-level IVF and LSH calls")
    val nd = ph.filter(c => Set("minhash", "clusters", "simhash")(c.op))
    r.put("docs_per_s", ph.count(_.op == "simhash") * 2 * nearDupDocs / (nd.map(_.ms).sum / 1000), "docs/s", nd.size,
      "near-dup docs / near-dup wall")
    val scored = ph.filter(_.op != "clusters")
    r.put("recall", scored.map(_.recall).sum / scored.size, "ratio", scored.size,
      "mean of the per-operator recalls")
    corpus.unpersist(); docs.unpersist()
  }

  override def layerMetrics(ph: Phase): Unit = {
    val r = ctx.report
    val cs = phases.last
    def med(op: String) = Report.median(cs.filter(_.op == op).map(_.ms / 1000))
    def rec(op: String) = cs.filter(_.op == op).map(_.recall).sum / math.max(1, cs.count(_.op == op))
    val n = cs.count(_.op == "ivf")
    r.put("ann.brute_s", bruteS, "s", 1, "the truth, computed once in setup")
    r.put("ann.ivf_s", med("ivf"), "s", n)
    r.put("ann.ivf2_s", med("ivf2"), "s", n)
    r.put("ann.lsh_s", med("lsh"), "s", n)
    r.put("ann.ivf_recall", rec("ivf"), "ratio", n)
    r.put("ann.ivf2_recall", rec("ivf2"), "ratio", n)
    r.put("ann.lsh_recall", rec("lsh"), "ratio", n)
    val tr = ctx.trace
    val annSpans = tr.allSpans.filter(s => Set("ivf", "ivf2", "lsh")(s.name))
    r.put("ann.shuffle_mb", annSpans.map(s => tr.of(s).shuffleBytes / 1e6).sum / math.max(1, n), "MB", n,
      "per round")
    r.put("dedup.minhash_s", med("minhash"), "s", n)
    r.put("dedup.clusters_s", med("clusters"), "s", n)
    r.put("dedup.simhash_s", med("simhash"), "s", n)
    r.put("dedup.minhash_recall", rec("minhash"), "ratio", n)
    r.put("dedup.simhash_recall", rec("simhash"), "ratio", n)
    r.put("dedup.cap_drops", CapStats.all.map(_.droppedBuckets).sum, "count", CapStats.all.size,
      "CapStats.all, buckets dropped")
  }
}
