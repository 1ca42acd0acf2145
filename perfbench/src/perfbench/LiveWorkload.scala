package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import lucy.LucyStore
import lucy.fixtures.Page

/** `live`: one writer thread and `cores - 1` reader threads share one
  * store. The writer runs a seeded mutation stream against a
  * bootstrapped store: each batch puts new urls mixed with updates of
  * live urls and re-puts of deleted ones, then deletes a small url set;
  * every `compactEvery` batches it compacts. The readers run the serve
  * query stream in a closed loop until the writer stops. Every mutation
  * drops the engine caches, so this is the cache-miss workload, and the
  * only one with composite views, tombstones, the warm-behind thread
  * and compaction.
  */
final class LiveWorkload(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val gen = ctx.gen
  import spark.implicits._

  val bootstrapDocs = 12000L
  val newPerBatch = 240
  val updatesPerBatch = 48
  val reputsPerBatch = 8
  val deletesPerBatch = 16
  val compactEvery = 2

  private val root = ctx.dir.resolve("store").toString
  private val store = new LucyStore(spark, root)
  private val searchers = new Searchers(ctx, store, bootstrapDocs)

  // the store's expected contents: url ordinal → (content ordinal, batch)
  // of its latest put; batch -1 is the generator's original page
  private val alive = mutable.LinkedHashMap.empty[Long, (Long, Int)]
  private val aliveKeys = mutable.ArrayBuffer.empty[Long]
  private val aliveIdx = mutable.HashMap.empty[Long, Int]
  private val deleted = mutable.ArrayBuffer.empty[Long]
  private var nextFresh = gen.freshBase
  private var batch = 0
  private var draws = 0L
  private var putsSinceCompact = 0
  private var tombstones = 0
  @volatile private var partsNow = 1
  @volatile private var tombstonesNow = 0

  final case class Mut(kind: String, docs: Int, inputBytes: Long, startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }
  private val muts = mutable.ArrayBuffer.empty[Mut]
  private val manifests = mutable.ArrayBuffer.empty[lucy.index.BuildManifest]
  private var phases = Vector.empty[(Seq[Sample], Seq[Mut])]
  private val counts = mutable.LinkedHashMap("new" -> 0L, "update" -> 0L, "reput" -> 0L, "delete" -> 0L)

  private def pageOf(i: Long, v: (Long, Int)): Page =
    if (v._2 < 0) gen.page(i) else gen.updatedPage(i, v._1, v._2)

  private def setAlive(i: Long, v: (Long, Int)): Unit = {
    if (!alive.contains(i)) { aliveIdx(i) = aliveKeys.size; aliveKeys += i }
    alive(i) = v
  }
  private def removeAlive(i: Long): Unit = {
    alive.remove(i)
    val at = aliveIdx.remove(i).get
    val last = aliveKeys.remove(aliveKeys.size - 1)
    if (at < aliveKeys.size) { aliveKeys(at) = last; aliveIdx(last) = at }
  }
  private def draw(n: Int): Long = { draws += 1; Math.floorMod(gen.rndM(draws), n.toLong) }

  private def df(pages: Seq[Page]): DataFrame = spark.createDataset(pages).toDF()

  def setup(): Unit = {
    (0L until bootstrapDocs).foreach { i => if (gen.page(i).lang == "en") setAlive(i, (i, -1)) }
    Progress("bootstrap")(store.bootstrap(Gen.pages(spark, gen, 0L, bootstrapDocs, ctx.cores * 2)))
    Progress("warm-up")(searchers.warm())
  }

  private def timed(kind: String, docs: Int, bytes: Long)(f: => Unit): Unit = {
    ctx.trace.newRequest()
    val t0 = System.nanoTime()
    ctx.call("store", kind)(f)
    muts += Mut(kind, docs, bytes, t0, System.nanoTime())
  }

  /** One batch of the mutation stream. */
  private def step(): Unit = {
    val b = batch
    val pages = mutable.ArrayBuffer.empty[Page]
    val touched = mutable.HashSet.empty[Long]
    (0 until newPerBatch).foreach { _ =>
      val i = nextFresh; nextFresh += 1
      val p = gen.page(i)
      pages += p
      if (p.lang == "en") setAlive(i, (i, -1))
      counts("new") += 1
    }
    (0 until updatesPerBatch).foreach { _ =>
      val i = aliveKeys(draw(aliveKeys.size).toInt)
      if (touched.add(i)) {
        val v = (gen.freshBase + 10000000L + draws, b)
        pages += pageOf(i, v)
        setAlive(i, v)
        counts("update") += 1
      }
    }
    (0 until math.min(reputsPerBatch, deleted.size)).foreach { _ =>
      val i = deleted.remove(draw(deleted.size).toInt)
      if (touched.add(i)) {
        val v = (gen.freshBase + 10000000L + draws, b)
        pages += pageOf(i, v)
        setAlive(i, v)
        counts("reput") += 1
      } else deleted += i
    }
    val ps = pages.toSeq
    timed("put", ps.size, ps.map(p => p.html.length.toLong + Option(p.text).map(_.length).getOrElse(0)).sum) {
      store.put(df(ps), b.toLong)
    }
    putsSinceCompact += 1
    partsNow = 1 + putsSinceCompact

    val gone = (0 until deletesPerBatch).map(_ => aliveKeys(draw(aliveKeys.size).toInt)).distinct
      .filterNot(touched.contains)
    gone.foreach { i => removeAlive(i); deleted += i }
    counts("delete") += gone.size
    timed("delete", gone.size, 0L)(store.delete(gone.map(gen.url)))
    tombstones += gone.size
    tombstonesNow = tombstones

    batch += 1
    if (batch % compactEvery == 0) compact()
  }

  private def compact(): Unit = {
    timed("compact", 0, 0L)(manifests += store.compact())
    putsSinceCompact = 0; tombstones = 0
    partsNow = 1; tombstonesNow = 0
  }

  def measure(deadlineNs: Long): Phase = {
    val before = muts.size
    @volatile var writerDone = false
    val t0 = System.nanoTime()
    val writer = new Thread(() => {
      try { while (System.nanoTime() < deadlineNs) step() }
      catch { case e: Exception => ctx.report.error(s"mutation batch $batch", e) }
      finally writerDone = true
    }, "perfbench-writer")
    writer.start()
    val s = searchers.loop(ctx.cores - 1, () => writerDone)
    writer.join()
    val wall = (System.nanoTime() - t0) / 1e9
    val ms = muts.drop(before).toSeq
    phases :+= ((s, ms))
    Phase(s.size + ms.size, if (s.isEmpty) 0.0 else Report.median(s.map(_.ms)), s.size, s.size.toDouble, wall)
  }

  private def contents: DataFrame = df(alive.iterator.map { case (i, v) => pageOf(i, v) }.toSeq)

  def check(): Unit = {
    val r = ctx.report
    val (s0, m0) = phases.head
    val putDocs = math.max(1L, counts("new") + counts("update") + counts("reput")).toDouble
    println(s"perfbench input live: bootstrap $bootstrapDocs pages; mutations " +
      counts.map { case (k, v) => s"$k=$v" }.mkString(" ") +
      f" (shares of put docs: new ${counts("new") / putDocs}%.3f, update ${counts("update") / putDocs}%.3f" +
      f", re-put ${counts("reput") / putDocs}%.3f); ${muts.count(_.kind == "compact")} compactions")
    val df0 = store.view.termStats(spark).select("term", "df").collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    searchers.summary("live", df0)

    // before the final compaction: current contents, composite view
    val before = new Oracle(contents)
    Progress("oracle check before compact")(searchers.check(before, "live-before-compact", 0x11E0L))
    before.release()
    compact()
    ctx.report.ran(1)
    val after = new Oracle(contents)
    Progress("oracle check after compact")(searchers.check(after, "live-after-compact", 0x11E1L))
    // the compacted store holds exactly the live urls
    val got = store.view.docmap(spark).select("url").collect().map(_.getString(0)).toSet
    val want = after.urls
    r.check(got == want, s"live-after-compact contents: ${(want -- got).size} live urls missing " +
      s"(e.g. ${(want -- got).take(3).mkString(", ")}), ${(got -- want).size} unexpected")
    after.release()

    def p50(kind: String, ms: Seq[Mut]) = {
      val xs = ms.filter(_.kind == kind).map(_.ms)
      if (xs.nonEmpty) r.put(s"${kind}_p50_ms", Report.median(xs), "ms", xs.size)
    }
    p50("put", m0); p50("delete", m0)
    val compacts = (m0 :+ muts.last).filter(_.kind == "compact").map(_.ms / 1000)
    r.put("compact_s", Report.median(compacts), "s", compacts.size, "includes the final compaction")
    val puts = m0.filter(_.kind == "put")
    r.put("docs_per_s", puts.map(_.docs).sum / (puts.map(_.ms).sum / 1000), "docs/s", puts.size,
      "docs put / Σ put wall")
    r.put("bytes_per_doc", Disk.bytes(root).toDouble / want.size, "B/doc", 1,
      "store bytes after the final compaction / live docs")
    r.put("qps", r.metrics("work_per_s").value, "1/s", s0.size, "while the writer runs")
    Layers.searchLatency(ctx, s0)
    store.close()
  }

  override def layerMetrics(ph: Phase): Unit = {
    val r = ctx.report
    val (s, ms) = phases.last
    val tr = ctx.trace
    val spans = tr.allSpans.filter(_.module == "store")
    def sum(kind: String)(f: GroupCounters => Double) = spans.filter(_.name == kind).map(x => f(tr.of(x))).sum
    val nPut = ms.count(_.kind == "put")
    val nCompact = ms.count(_.kind == "compact")
    r.put("store.put_task_s", sum("put")(_.taskMs.get / 1000.0) / math.max(1, nPut), "s", nPut, "per put")
    r.put("store.put_out_mb", sum("put")(_.outputBytes.get / 1e6) / math.max(1, nPut), "MB", nPut, "per put")
    val inBytes = ms.map(_.inputBytes).sum
    val written = sum("put")(_.outputBytes.get.toDouble) + sum("compact")(_.outputBytes.get.toDouble)
    r.put("store.write_amp", if (inBytes == 0) 0.0 else written / inBytes, "ratio", ms.size,
      "bytes written by puts and compactions / input bytes put")
    r.put("store.compact_task_s", sum("compact")(_.taskMs.get / 1000.0) / math.max(1, nCompact), "s", nCompact,
      "per compaction")
    r.put("store.compact_shuffle_mb", sum("compact")(_.shuffleBytes / 1e6) / math.max(1, nCompact), "MB", nCompact)
    r.put("store.compact_spill_mb", sum("compact")(_.spillBytes.get / 1e6) / math.max(1, nCompact), "MB", nCompact)
    r.put("store.background_jobs", tr.background.jobs.get, "count", tr.background.jobs.get,
      "jobs outside every benchmark call: the warm-behind thread")
    r.put("store.background_task_s", tr.background.taskMs.get / 1000.0, "s", tr.background.tasks.get)
    r.put("store.dead_bytes_share", deadShare, "ratio", 1,
      "retired generations and folded deltas / store bytes, at the end of the phase")
    val ends = ms.map(_.endNs).sorted
    val firsts = ends.flatMap(t => s.filter(_.startNs >= t).sortBy(_.startNs).headOption).distinct
    if (firsts.nonEmpty)
      r.put("store.first_search_ms_p50", Report.median(firsts.map(_.ms)), "ms", firsts.size,
        "first search started after each mutation")
    val seen = searchState.asScala.toSeq
    r.put("store.parts_at_search", seen.map(_._1).sum / math.max(1, seen.size), "count",
      seen.size, "mean parts in the view when a search started")
    r.put("store.tombstones_at_search", seen.map(_._2).sum / math.max(1, seen.size), "count",
      seen.size, "mean live tombstones when a search started")
    val comp = ms.filter(_.kind == "compact")
    val during = s.filter(x => comp.exists(c => x.startNs < c.endNs && x.endNs > c.startNs)).map(_.ms)
    if (during.nonEmpty)
      r.put("store.search_during_compact_ms_p50", Report.median(during), "ms", during.size)
    Layers.query(ctx, s)
    Layers.index(ctx, "put")
    val cm = manifests.takeRight(math.max(1, nCompact))
    r.put("index.docmap_s", Report.median(cm.map(_.docmapMs / 1000.0).toSeq), "s", cm.size,
      "compaction BuildManifest, median")
    r.put("index.stats_s", Report.median(cm.map(_.statsMs / 1000.0).toSeq), "s", cm.size,
      "compaction BuildManifest, median")
    r.put("index.segments_s", Report.median(cm.map(_.segmentsMs / 1000.0).toSeq), "s", cm.size,
      "compaction BuildManifest, median")
    r.put("index.postings", cm.last.postings, "count", 1, "last compacted generation")
    r.put("index.blocks", cm.last.blocks, "count", 1, "last compacted generation")
    r.put("index.files", partsOf(store.view).map(Disk.files).sum, "count", 1, "data files in the live view")
  }

  // (parts, tombstones) seen by each search at its start; the writer
  // keeps both counts from the store's documented layout: one base
  // generation plus one delta per put since the last compaction
  private val searchState = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double)]()
  searchers.onStart = () => searchState.add((partsNow.toDouble, tombstonesNow.toDouble))

  private def deadShare: Double = {
    val total = Disk.bytes(root).toDouble
    val live = partsOf(store.view)
    val liveBytes = live.map(Disk.bytes).sum + Disk.bytes(s"$root/deletes") + Disk.bytes(s"$root/current")
    if (total == 0) 0.0 else math.max(0.0, total - liveBytes) / total
  }
  private def partsOf(v: lucy.index.SearchableIndex): Seq[String] = v match {
    case t: lucy.index.TombstonedIndex => partsOf(t.inner)
    case c: lucy.index.CompositeIndex => c.parts.map(_.dir)
    case l: lucy.index.LucyIndex => Seq(l.dir)
    case _ => Seq.empty
  }
}
