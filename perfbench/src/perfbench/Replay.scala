package perfbench

import scala.collection.mutable
import lucy.{Hashing, LucySpec}
import lucy.index.PostingBlock
import lucy.query.{QueryMode, QueryPlan, Wand}
import lucy.text.HtmlText

/** Kernel replays with no Spark: `HtmlText` extraction and the LucySpec
  * tokenizer over the workload's own pages, `PostingBlock.decode` over
  * blocks packed from those pages with `PostingBlock.pack`, and
  * `Wand.topK` over the same blocks for the workload's AND and OR
  * queries. Each reports ns per unit with the unit count, so a kernel
  * change shows as a count and not only as a time.
  */
object Replay {
  val Pages = 3000
  val Queries = 200
  private val MinNs = 300L * 1000 * 1000

  /** Repeats `pass` until it has run for MinNs; ns per pass. */
  private def nsPerPass(pass: () => Unit): Double = {
    pass() // first pass is JIT warm-up
    var n = 0
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < MinNs || n < 3) { pass(); n += 1 }
    (System.nanoTime() - t0).toDouble / n
  }

  def run(ctx: Ctx): Unit = {
    val r = ctx.report
    val gen = ctx.gen
    val pages = (0L until Pages.toLong).map(gen.page).filter(_.lang == "en")
    val htmlBytes = pages.map(_.html.length.toLong).sum
    var sink = 0L
    val extractNs = nsPerPass(() => pages.foreach(p => sink += HtmlText.extractFromHtml(p.html).length))
    val texts = pages.map(p => HtmlText.textOf(p.html, p.text))
    val tokens = texts.map(t => LucySpec.tokenize(t))
    val nTokens = tokens.map(_.length.toLong).sum
    val tokNs = nsPerPass(() => texts.foreach(t => sink += LucySpec.tokenize(t).length))
    r.put("text.extract_ns_per_byte", extractNs / htmlBytes, "ns/B", htmlBytes, s"${pages.size} pages")
    r.put("text.tokenize_ns_per_token", tokNs / nTokens, "ns/token", nTokens)
    r.put("text.tokens", nTokens, "count", pages.size)

    // postings per term, docId-ascending, as the index build packs them
    val byTerm = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Long, Int, Int, Array[Byte])]]
    pages.zip(tokens).foreach { case (p, toks) =>
      val docId = LucySpec.docIdForUrl(p.url)
      val pos = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Int]]
      toks.indices.foreach(i => pos.getOrElseUpdate(toks(i), mutable.ArrayBuffer.empty) += i)
      pos.foreach { case (t, ps) =>
        byTerm.getOrElseUpdate(t, mutable.ArrayBuffer.empty) +=
          ((docId, ps.length, toks.length, PostingBlock.encodePositions(ps.toArray)))
      }
    }
    val blocks: Map[String, Array[PostingBlock]] = byTerm.map { case (t, ps) =>
      t -> PostingBlock.pack(Hashing.termHash(t), t, 0, ps.sortBy(_._1).iterator).toArray
    }.toMap
    val allBlocks = blocks.values.flatten.toArray
    val nPostings = allBlocks.map(_.count.toLong).sum
    val decNs = nsPerPass(() => allBlocks.foreach(b => sink += PostingBlock.decode(b).docIds.length))
    r.put("postings.decode_ns_per_posting", decNs / nPostings, "ns/posting", nPostings,
      s"${allBlocks.length} blocks")
    r.put("postings.decoded", nPostings, "count", allBlocks.length)

    val n = pages.size.toLong
    val avgdl = nTokens.toDouble / n
    val df = byTerm.map { case (t, ps) => t -> ps.size.toLong }
    val plans = (0 until Queries).map(i => gen.query(i, Pages.toLong))
      .filter(q => q.mode == QueryMode.And || q.mode == QueryMode.Or)
      .flatMap { q =>
        val terms = LucySpec.tokenize(q.text).distinct.sorted
        val present = terms.filter(df.contains)
        val conj = q.mode == QueryMode.And
        if (present.isEmpty || (conj && present.length < terms.length)) None
        else Some(QueryPlan(present, present.map(df), n, avgdl, conjunctive = conj, k = q.k) ->
          present.indices.map(ti => (ti, blocks(present(ti)))))
      }
    val scanned = plans.map(_._1.dfs.sum).sum
    val wandNs = nsPerPass(() => plans.foreach { case (plan, groups) =>
      sink += Wand.topK(plan, groups, 0L, Long.MaxValue).size
    })
    r.put("wand.ns_per_posting", wandNs / math.max(1L, scanned), "ns/posting", plans.size,
      "per posting of the query terms' lists")
    r.put("wand.postings_per_search", scanned.toDouble / math.max(1, plans.size), "count", plans.size)
    if (sink == 42) println() // keeps the replayed results alive
  }
}
