package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** What one measured phase of a workload produced: `ops` operations ran,
  * `opMs` is the typical wall of the workload's unit operation, from
  * `opSamples` samples, and `work` counts the units that `work_per_s`
  * divides by the phase wall.
  */
final case class Phase(ops: Int, opMs: Double, opSamples: Int, work: Double, wallS: Double)

/** Shared per-run state handed to a workload. */
final class Ctx(val spark: SparkSession, val gen: Gen, val seconds: Double,
                val dir: Path, val report: Report) {
  /** Disabled until the traced phase starts. */
  var trace: Trace = new Trace(spark.sparkContext)
  def call[T](module: String, name: String)(body: => T): T = trace.call(module, name)(body)
  val cores: Int = spark.sparkContext.defaultParallelism
}

/** A benchmark workload: set up once, then measure one or two phases of
  * `seconds` each, then check its outputs.
  */
trait Workload {
  def setup(): Unit
  def measure(deadlineNs: Long): Phase
  /** Output checks against independent oracles; runs after measuring. */
  def check(): Unit
  /** Workload-specific metrics of the last (traced, if any) phase. */
  def layerMetrics(ph: Phase): Unit = ()
}

/** `perfbench.Main --workload <serve|live|curate> --seed <n>
  *  --seconds <s> --trace <0|1> --dir <scratch dir>`
  *
  * Prints progress and every metric on its own line, then, as the last
  * line of stdout, one JSON object with the end-to-end metrics (trace 0)
  * or the per-layer metrics (trace 1) named in BENCHMARK.json.
  */
object Main {
  /** Spark runs `local[Cores]`: load comes from one process on a 4-core host. */
  val Cores = 4
  val EndToEnd = Seq("setup_s", "work_per_s", "op_p50_ms", "heap_peak_mb")
  val PerLayer = Seq(
    "spark.jobs_per_op", "spark.tasks_per_op", "spark.task_ms_per_op", "spark.wait_ms_per_op",
    "spark.shuffle_kb_per_op", "spark.spill_kb_per_op", "spark.background_jobs",
    "jvm.gc_s", "jvm.storage_mb", "trace.overhead", "trace.spans",
    "text.extract_ns_per_byte", "text.tokenize_ns_per_token", "text.tokens",
    "postings.decode_ns_per_posting", "postings.decoded",
    "wand.ns_per_posting", "wand.postings_per_search")

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val dir = Paths.get(opts("dir")).toAbsolutePath
    require(seconds > 0, "--seconds must be positive")

    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.default.parallelism", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the status store keeps this much history even without a UI; left
      // at its defaults it grows with the number of operations run
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val report = new Report
    val ctx = new Ctx(spark, new Gen(seed), seconds, dir.resolve("data"), report)
    val w: Workload = workload match {
      case "serve" => new ServeWorkload(ctx)
      case "live" => new LiveWorkload(ctx)
      case "curate" => new CurateWorkload(ctx)
      case other => sys.error(s"unknown workload '$other'")
    }
    val code =
      try { run(ctx, w, traced); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    spark.stop()
    sys.exit(code)
  }

  private def run(ctx: Ctx, w: Workload, traced: Boolean): Unit = {
    val r = ctx.report
    val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
    w.setup()
    r.put("setup_s", (System.currentTimeMillis() - startMs) / 1000.0, "s", 1,
      "process start to first timed op")
    val heap0 = liveHeapMb(ctx)

    val secNs = (ctx.seconds * 1e9).toLong
    val cpu0 = hostCpu
    val untraced = w.measure(System.nanoTime() + secNs)
    r.ran(untraced.ops)
    for (a <- cpu0; b <- hostCpu if b._2 > a._2)
      r.put("host.steal_share", (b._1 - a._1).toDouble / (b._2 - a._2), "ratio", 1,
        "share of CPU time the hypervisor took from this machine during the window")
    val heap1 = liveHeapMb(ctx)
    putEndToEnd(r, untraced)
    r.put("heap_peak_mb", math.max(heap0, heap1), "MB", 2,
      "heap in use after a full GC plus block-manager storage, max of after setup and after the window")

    if (traced) {
      val tr = new Trace(ctx.spark.sparkContext)
      ctx.trace = tr
      val gc0 = gcMs
      val t0 = System.nanoTime()
      tr.start()
      val ph = try w.measure(System.nanoTime() + secNs) finally tr.stop()
      r.ran(ph.ops)
      tr.write(ctx.dir.getParent.resolve("trace").resolve("spans.jsonl"), t0)
      putLayers(ctx, tr, ph, untraced, (gcMs - gc0) / 1000.0)
      w.layerMetrics(ph)
    }
    w.check()
    r.printAll()
    println(r.json(if (traced) PerLayer else EndToEnd))
  }

  private def putEndToEnd(r: Report, ph: Phase): Unit = {
    r.put("work_per_s", ph.work / ph.wallS, "1/s", ph.ops)
    r.put("op_p50_ms", ph.opMs, "ms", ph.opSamples)
  }

  private def putLayers(ctx: Ctx, tr: Trace, ph: Phase, untraced: Phase, gcS: Double): Unit = {
    val r = ctx.report
    val all = tr.total
    val n = ph.ops
    def perOp(name: String, v: Double, unit: String, note: String) = r.put(name, v / n, unit, n, note)
    perOp("spark.jobs_per_op", all.jobs.get, "count", "Spark jobs of the traced phase / ops")
    perOp("spark.tasks_per_op", all.tasks.get, "count", "tasks / ops")
    perOp("spark.task_ms_per_op", all.taskMs.get, "ms", "executor run time / ops")
    perOp("spark.wait_ms_per_op", all.waitMs.get, "ms", "Σ(task launch - stage submit) / ops")
    perOp("spark.shuffle_kb_per_op", all.shuffleBytes / 1e3, "kB", "shuffle read + write / ops")
    perOp("spark.spill_kb_per_op", all.spillBytes.get / 1e3, "kB", "memory + disk spill / ops")
    r.put("spark.background_jobs", tr.background.jobs.get, "count", tr.background.jobs.get,
      "jobs submitted outside every benchmark call")
    r.put("jvm.gc_s", gcS, "s", 1, "GC time during the traced phase")
    r.put("jvm.storage_mb", storageMb(ctx), "MB", 1, "block-manager storage in use at the end of the phase")
    r.put("trace.overhead", (untraced.work / untraced.wallS) / (ph.work / ph.wallS) - 1, "ratio",
      n, "untraced work_per_s / traced work_per_s - 1, untraced phase first")
    r.put("trace.spans", tr.allSpans.size, "count", tr.allSpans.size)
    Replay.run(ctx)
  }

  /** (steal, total) jiffies of all CPUs, where /proc/stat exists. */
  private def hostCpu: Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().split("\\s+").drop(1).map(_.toLong) finally src.close()
      Some((if (f.length > 7) f(7) else 0L, f.sum))
    } catch { case _: Exception => None }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  private def storageMb(ctx: Ctx): Double =
    ctx.spark.sparkContext.getExecutorMemoryStatus.values.map { case (max, rem) => max - rem }.sum / 1e6

  /** Heap in use after a full collection plus block-manager storage. */
  private def liveHeapMb(ctx: Ctx): Double = {
    // the first collection queues Spark's weakly held shuffle and broadcast
    // state for its cleaner thread; give it time, then collect what it freed
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(300) }
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    heap / 1e6 + storageMb(ctx)
  }
}
