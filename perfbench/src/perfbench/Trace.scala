package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One benchmark call into a module. `group` is the Spark job group the
  * call ran under; `req` ties the spans of one logical request together
  * (one search, one put, one build round).
  */
final case class Span(id: Long, parent: Long, req: Long, module: String, name: String,
                      startNs: Long, endNs: Long, group: String)

/** Spark-side counters of one job group (or of the background bucket). */
final class GroupCounters {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val taskMs = new AtomicLong
  val waitMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val shuffleReadBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val outputBytes = new AtomicLong
  val jobWallMs = new AtomicLong
  def add(o: GroupCounters): Unit = {
    jobs.addAndGet(o.jobs.get); tasks.addAndGet(o.tasks.get); taskMs.addAndGet(o.taskMs.get)
    waitMs.addAndGet(o.waitMs.get); shuffleWriteBytes.addAndGet(o.shuffleWriteBytes.get)
    shuffleReadBytes.addAndGet(o.shuffleReadBytes.get); spillBytes.addAndGet(o.spillBytes.get)
    outputBytes.addAndGet(o.outputBytes.get); jobWallMs.addAndGet(o.jobWallMs.get)
  }
  def shuffleBytes: Long = shuffleWriteBytes.get + shuffleReadBytes.get
}

/** Span recorder plus a SparkListener that aggregates jobs, tasks, task
  * time, scheduler wait, shuffle, spill and output bytes per job group.
  *
  * Every benchmark call into a module runs inside [[Trace.call]], which
  * opens a span and a unique job group. A job counts towards a span's
  * group only if it was submitted while that span was open; any other
  * job — one with no group, or one a library-owned thread submitted
  * under a group it inherited — counts as background. With tracing off,
  * `call` runs the body and records nothing, and no listener is
  * registered.
  */
final class Trace(sc: SparkContext) {
  private val JobGroupKey = "spark.jobGroup.id"
  private val JobDescKey = "spark.job.description"
  @volatile var enabled = false
  private val nextId = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val open = TrieMap[String, Long]() // groups of the calls in progress → start
  private val current = new ThreadLocal[Long] { override def initialValue(): Long = 0L }
  private val currentReq = new ThreadLocal[Long] { override def initialValue(): Long = 0L }

  // job id → (group it counts towards, "" = background)
  private val jobGroup = TrieMap[Int, String]()
  private val jobStartMs = TrieMap[Int, Long]()
  private val stageJob = TrieMap[Int, Int]()
  private val stageSubmitMs = TrieMap[(Int, Int), Long]()
  val byGroup = TrieMap[String, GroupCounters]()
  private def counters(g: String) = byGroup.getOrElseUpdate(g, new GroupCounters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty(JobGroupKey)))
        .filter(open.contains(_)).getOrElse("")
      jobGroup(e.jobId) = g
      jobStartMs(e.jobId) = e.time
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      counters(g).jobs.incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) {
      for (g <- jobGroup.get(e.jobId); t <- jobStartMs.get(e.jobId))
        counters(g).jobWallMs.addAndGet(math.max(0L, e.time - t))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val si = e.stageInfo
      stageSubmitMs((si.stageId, si.attemptNumber())) =
        si.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
      val g = stageJob.get(e.stageId).flatMap(jobGroup.get) match {
        case Some(x) => x
        case None => return
      }
      val c = counters(g)
      c.tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        c.taskMs.addAndGet(m.executorRunTime)
        c.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        c.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      }
      stageSubmitMs.get((e.stageId, e.stageAttemptId)).foreach { s =>
        c.waitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - s))
      }
    }
  }

  def start(): Unit = { sc.addSparkListener(listener); enabled = true }

  /** Stops recording; waits for the listener bus to drain first so the
    * last jobs' task-end events are counted.
    */
  def stop(): Unit = {
    drain()
    enabled = false
    sc.removeSparkListener(listener)
  }

  // the listener bus is asynchronous: a job's completion says nothing
  // about events still queued for this listener
  private def drain(): Unit = org.apache.spark.BusAccess.waitUntilEmpty(sc)

  /** A fresh request id; spans opened by this thread until the next call
    * carry it.
    */
  def newRequest(): Long = {
    val r = nextId.getAndIncrement()
    currentReq.set(r)
    r
  }

  /** Runs `body` as a call into `module`, recording a span and tagging
    * its Spark jobs when tracing is on.
    */
  def call[T](module: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val parent = current.get
      val group = s"pb-$id"
      val prevGroup = sc.getLocalProperty(JobGroupKey)
      val prevDesc = sc.getLocalProperty(JobDescKey)
      val t0 = System.nanoTime()
      open(group) = t0
      sc.setJobGroup(group, s"$module.$name")
      current.set(id)
      try body
      finally {
        val t1 = System.nanoTime()
        current.set(parent)
        if (prevGroup != null) sc.setJobGroup(prevGroup, prevDesc) else sc.clearJobGroup()
        spans.add(Span(id, parent, currentReq.get, module, name, t0, t1, group))
        // late jobs (launched by a thread that inherited this group after
        // the call returned) no longer match an open span → background
        open.remove(group)
      }
    }

  def allSpans: Seq[Span] = spans.asScala.toSeq

  def of(s: Span): GroupCounters = byGroup.getOrElse(s.group, new GroupCounters)

  def background: GroupCounters = byGroup.getOrElse("", new GroupCounters)

  def total: GroupCounters = {
    val out = new GroupCounters
    byGroup.values.foreach(out.add)
    out
  }

  /** Writes spans and per-group counters as JSON lines. */
  def write(path: java.nio.file.Path, t0Ns: Long): Unit = {
    val sb = new StringBuilder
    allSpans.sortBy(_.startNs).foreach { s =>
      val c = of(s)
      sb.append(f"""{"span":${s.id},"parent":${s.parent},"req":${s.req},"module":"${s.module}",""" +
        f""""name":"${s.name}","start_ms":${(s.startNs - t0Ns) / 1e6}%.3f,"end_ms":${(s.endNs - t0Ns) / 1e6}%.3f,""" +
        s""""jobs":${c.jobs.get},"tasks":${c.tasks.get},"task_ms":${c.taskMs.get},"wait_ms":${c.waitMs.get},""" +
        s""""job_wall_ms":${c.jobWallMs.get},"shuffle_bytes":${c.shuffleBytes},"spill_bytes":${c.spillBytes.get},"output_bytes":${c.outputBytes.get}}""")
      sb.append('\n')
    }
    val b = background
    sb.append(s"""{"background":true,"jobs":${b.jobs.get},"tasks":${b.tasks.get},"task_ms":${b.taskMs.get},""" +
      s""""wait_ms":${b.waitMs.get},"shuffle_bytes":${b.shuffleBytes},"spill_bytes":${b.spillBytes.get}}""")
    sb.append('\n')
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}
