package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import lucy.{LucySpec, LucyStore}
import lucy.fixtures.PagesGen
import lucy.query.{QueryMode, Searcher}

/** One completed search. `req` links it to its trace spans. */
final case class Sample(q: Query, req: Long, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Closed-loop search clients over one store: each client sends its next
  * query only after the previous one returned. Queries are taken from
  * the seeded stream in order, so a run answers a prefix of it.
  */
final class Searchers(ctx: Ctx, store: LucyStore, corpusDocs: Long) {
  private val WarmupFrom = 1 << 24
  private val WarmupNs = 5000L * 1000 * 1000
  private val next = new AtomicInteger(0)
  val samples = new ConcurrentLinkedQueue[Sample]()

  def run(q: Query): Array[Row] =
    if (q.withUrls) ctx.call("query", "searchWithUrls")(store.searchWithUrls(q.text, q.mode, q.k).collect())
    else ctx.call("query", "search")(store.search(q.text, q.mode, q.k).collect())

  /** Runs `clients` threads until `stop` holds; returns this phase's samples. */
  def loop(clients: Int, stop: () => Boolean): Seq[Sample] = {
    val before = samples.size
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        while (!stop()) {
          val q = ctx.gen.query(next.getAndIncrement(), corpusDocs)
          val req = ctx.trace.newRequest()
          onStart()
          val t0 = System.nanoTime()
          try { run(q); samples.add(Sample(q, req, t0, System.nanoTime())) }
          catch { case e: Exception => ctx.report.error(s"search ${q.id}", e) }
        }
      }, s"perfbench-client-$c")
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach(_.join())
    samples.asScala.toSeq.drop(before)
  }

  /** The warm-up: every vocabulary term once, so all terms are gathered
    * into the engine's block cache before timing.
    */
  def warm(): Unit = {
    PagesGen.vocab.grouped(16).foreach(ts => store.search(ts.mkString(" "), QueryMode.Or, 10).collect())
    // then the clients themselves, on queries the timed window never sends;
    // with only 1 s of it, the timed window ran a quarter fewer searches per second
    val from = next.get
    next.set(WarmupFrom)
    val until = System.nanoTime() + WarmupNs
    loop(ctx.cores, () => System.nanoTime() >= until)
    samples.clear()
    next.set(from)
  }

  /** Called by each client just before it sends a query. */
  @volatile var onStart: () => Unit = () => ()

  /** Checks one seeded query of each class against `oracle`: a long-tail
    * query (the bucket exchange), a `searchWithUrls` query and a gathered
    * plain query. Each comes from the answered stream, or from the start
    * of the stream when the window answered none of its class.
    */
  def check(oracle: Oracle, label: String, salt: Long): Unit = {
    val answered = samples.asScala.map(_.q.id).toSeq.sorted.distinct
    val g = ctx.gen
    val classes = Seq[Int => Boolean](g.isLongTail, g.withUrls, id => !g.isLongTail(id) && !g.withUrls(id))
    classes.zipWithIndex.foreach { case (inClass, j) =>
      val ids = Some(answered.filter(inClass)).filter(_.nonEmpty)
        .getOrElse((0 until 4 * g.longTailEvery).filter(inClass))
      val q = g.query(ids(Math.floorMod(g.rndM(salt + j), ids.size.toLong).toInt), corpusDocs)
      try Progress(s"$label check of query ${q.id}")(Oracle.compare(ctx.report, label, q, run(q), oracle.expected(q)))
      catch { case e: Exception => ctx.report.error(s"$label check ${q.id}", e) }
    }
  }

  /** Input properties of the answered stream: mode mix, long tail, and
    * the share whose raw Σdf exceeds the gather cap (the exchange path).
    */
  def summary(label: String, df: Map[String, Long]): Unit = {
    val qs = samples.asScala.map(_.q).toSeq
    if (qs.isEmpty) return
    val cap = Searcher.defaultGatherMaxPostings
    def sumDf(q: Query): Long = q.mode match {
      case QueryMode.Prefix =>
        LucySpec.tokenize(q.text).headOption.toSeq.flatMap(p =>
          df.keys.toSeq.filter(_.startsWith(p)).sorted.take(LucySpec.maxPrefixExpand)).map(df).sum
      case _ => LucySpec.tokenize(q.text).distinct.map(t => df.getOrElse(t, 0L)).sum
    }
    val over = qs.count(q => sumDf(q) > cap)
    val tailDf = qs.filter(_.text.split(' ').length >= 32).map(sumDf).sorted
    val n = qs.size.toDouble
    val modes = QueryMode.values.toSeq.map(m => s"$m=${qs.count(_.mode == m)}").mkString(" ")
    println(f"perfbench input $label: ${qs.size} queries answered ($modes), " +
      f"k=100 share ${qs.count(_.k == 100) / n}%.3f, urls share ${qs.count(_.withUrls) / n}%.3f, " +
      f"long-tail share ${tailDf.size / n}%.3f, " +
      f"share with raw Σdf > 2^20: ${over / n}%.3f ($over; long-tail Σdf ${tailDf.headOption.getOrElse(0L)}" +
      s"..${tailDf.lastOption.getOrElse(0L)})")
  }
}

/** `serve`: `cores` closed-loop clients search a bootstrapped store that
  * receives no mutations. The index build and a warm-up pass over every
  * vocabulary term are setup, so the working set sits in the engine's
  * caches: short queries exercise the driver-side WAND kernel over
  * cached blocks, long head-term queries the Spark bucket exchange, and
  * one query in four the url join-back.
  */
final class ServeWorkload(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  val corpusDocs = 46000L
  private val root = ctx.dir.resolve("store").toString
  private val store = new LucyStore(spark, root)
  private val searchers = new Searchers(ctx, store, corpusDocs)
  private var phases = Vector.empty[Seq[Sample]]

  private def pages: DataFrame = Gen.pages(spark, ctx.gen, 0L, corpusDocs, ctx.cores * 2)

  def setup(): Unit = {
    val t0 = System.nanoTime()
    val m = Progress("bootstrap")(store.bootstrap(pages))
    ctx.report.put("bootstrap_docs_per_s", m.docs / ((System.nanoTime() - t0) / 1e9), "docs/s", 1,
      "the bootstrap build, part of setup")
    Progress("warm-up")(searchers.warm())
  }

  def measure(deadlineNs: Long): Phase = {
    val t0 = System.nanoTime()
    val s = searchers.loop(ctx.cores, () => System.nanoTime() >= deadlineNs)
    phases :+= s
    // the unit op is a plain search; url searches count in work_per_s
    val plain = s.filter(!_.q.withUrls).map(_.ms)
    Phase(s.size, Report.median(plain), plain.size, s.size.toDouble, (System.nanoTime() - t0) / 1e9)
  }

  def check(): Unit = {
    val df = store.view.termStats(spark).select("term", "df").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val segBytes = Disk.bytes(s"$root/base")
    println(f"perfbench input serve: $corpusDocs pages, index ${segBytes / 1e6}%.1f MB on disk " +
      f"vs the 256 MB block cache, ${df.size} terms")
    searchers.summary("serve", df)
    val oracle = new Oracle(pages)
    Progress("oracle check")(searchers.check(oracle, "serve", 0x5E7L))
    oracle.release()
    ctx.report.put("qps", ctx.report.metrics("work_per_s").value, "1/s", phases.head.size)
    Layers.searchLatency(ctx, phases.head)
    store.close()
  }

  override def layerMetrics(ph: Phase): Unit = Layers.query(ctx, phases.last)
}
