package perfbench

/** Per-module numbers read off the traced phase's spans and listener
  * counters, plus the search-latency figures serve and live share.
  */
object Layers {
  private def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Report.median(xs)

  /** `index.*` over the traced calls named `name` that build an index. */
  def index(ctx: Ctx, name: String): Unit = {
    val r = ctx.report
    val cs = ctx.trace.allSpans.filter(_.name == name).map(ctx.trace.of)
    r.put("index.task_s", medianOr0(cs.map(_.taskMs.get / 1000.0)), "s", cs.size, "per build, median")
    r.put("index.wait_s", medianOr0(cs.map(_.waitMs.get / 1000.0)), "s", cs.size,
      "per build, median of Σ(task launch - stage submit)")
    r.put("index.shuffle_mb", medianOr0(cs.map(_.shuffleBytes / 1e6)), "MB", cs.size, "per build, median")
    r.put("index.spill_mb", medianOr0(cs.map(_.spillBytes.get / 1e6)), "MB", cs.size, "per build, median")
  }

  /** `query.*` over the traced searches. */
  def query(ctx: Ctx, samples: Seq[Sample]): Unit = {
    val r = ctx.report
    val byReq = ctx.trace.allSpans.filter(_.module == "query").map(s => s.req -> s).toMap
    val rows = samples.flatMap(s => byReq.get(s.req).map(sp => (s, ctx.trace.of(sp))))
    val n = rows.size
    if (n == 0) return
    val jobs = rows.map(_._2.jobs.get.toDouble)
    r.put("query.jobs_per_search", jobs.sum / n, "count", n)
    r.put("query.spark_ms_p50", Report.median(rows.map(_._2.jobWallMs.get.toDouble)), "ms", n,
      "in-job wall per search")
    r.put("query.driver_ms_p50", Report.median(rows.map { case (s, c) => s.ms - c.jobWallMs.get }), "ms", n,
      "search wall - in-job wall")
    r.put("query.cached_share", rows.count(_._2.jobs.get == 0).toDouble / n, "ratio", n,
      "searches that ran no Spark job")
    val plainRows = rows.filter(!_._1.q.withUrls)
    r.put("query.exchange_share", plainRows.count(_._2.shuffleBytes > 0).toDouble / math.max(1, plainRows.size),
      "ratio", plainRows.size, "searches without urls that shuffled: the bucket exchange")
    r.put("query.shuffle_kb_per_search", rows.map(_._2.shuffleBytes / 1e3).sum / n, "kB", n)
    val plain = rows.filter(!_._1.q.withUrls).map(_._1.ms)
    val urls = rows.filter(_._1.q.withUrls).map(_._1.ms)
    r.put("query.plain_ms_p50", medianOr0(plain), "ms", plain.size)
    r.put("query.urls_ms_p50", medianOr0(urls), "ms", urls.size)
  }

  /** search_p50_ms and search_tail_ms (with the percentile used), and
    * the median of each class of search.
    */
  def searchLatency(ctx: Ctx, samples: Seq[Sample]): Unit = {
    val r = ctx.report
    val ms = samples.map(_.ms)
    if (ms.isEmpty) return
    r.put("search_p50_ms", Report.median(ms), "ms", ms.size, "search and searchWithUrls")
    Report.tail(ms).foreach { case (p, v) => r.put("search_tail_ms", v, "ms", ms.size, s"p$p") }
    def cls(name: String, p: Query => Boolean): Unit = {
      val xs = samples.filter(s => p(s.q)).map(_.ms)
      if (xs.nonEmpty) r.put(s"search_${name}_p50_ms", Report.median(xs), "ms", xs.size)
    }
    cls("plain", q => !q.withUrls)
    cls("urls", _.withUrls)
    cls("longtail", q => ctx.gen.isLongTail(q.id))
  }
}

/** On-disk sizes. */
object Disk {
  private def walk(dir: String): Seq[java.nio.file.Path] = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) Seq.empty
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).toList
      } finally s.close()
    }
  }
  def bytes(dir: String): Long = walk(dir).map(java.nio.file.Files.size).sum
  /** Data files only: Spark's checksum and marker files are not index content. */
  def files(dir: String): Long = walk(dir).count { f =>
    val n = f.getFileName.toString
    !n.startsWith(".") && !n.startsWith("_")
  }
}
