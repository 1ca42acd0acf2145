package perfbench

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import lucy.LucySpec
import lucy.fixtures.{NearDupGen, Page, PagesGen}
import lucy.query.QueryMode
import lucy.text.HtmlText

/** One generated search request. */
final case class Query(id: Int, text: String, mode: QueryMode.Value, k: Int, withUrls: Boolean)

/** Seeded input generators. Every input is a pure function of
  * (seed, ordinal): `PagesGen.page` and `NearDupGen.text` are pure in
  * their ordinal, so each seed owns a disjoint ordinal range, and the
  * query, mutation and vector streams draw from `LucySpec.rnd` keyed by
  * the seed. DocIds are url hashes, so a new seed is a new corpus.
  */
final class Gen(val seed: Long) extends Serializable {
  private val slot = java.lang.Math.floorMod(seed, 4096L)
  /** First page ordinal of this seed; ranges of different seeds never meet. */
  val pageBase: Long = slot * 50000000L
  private val streamKey = LucySpec.mix64(0x5EEDL ^ (seed * 0x9E3779B97F4A7C15L))
  private def rnd(stream: Long, i: Long): Long = LucySpec.rnd(streamKey ^ stream, i)
  private def unit(stream: Long, i: Long): Double = LucySpec.unitDouble(rnd(stream, i))

  // ---- pages -------------------------------------------------------------

  /** Page `i` of this seed's corpus (0-based within the seed). */
  def page(i: Long): Page = PagesGen.page(pageBase + i)
  def url(i: Long): String = page(i).url

  /** `PagesGen` pages carry warc_ts = 2024-01-01 + ordinal seconds; an
    * update of ordinal `i` in mutation batch `b` is strictly newer than
    * the original and than every earlier update of it.
    */
  def updatedPage(i: Long, contentOrdinal: Long, batch: Int): Page = {
    val orig = page(i)
    val body = page(contentOrdinal)
    Page(orig.url, new Timestamp(orig.warc_ts.getTime + (batch + 1) * 1000L),
      body.html, HtmlText.extractFromHtml(body.html), "en")
  }

  // ---- queries -----------------------------------------------------------

  private val QStream = 0x51L
  /** Every `longTailEvery`-th query is a long-tail query. */
  val longTailEvery = 32

  def isLongTail(i: Int): Boolean = i % longTailEvery == longTailEvery - 1
  /** One query in four goes through `searchWithUrls`; never a long-tail one. */
  def withUrls(i: Int): Boolean = i % 4 == 1

  private def zipfTerm(i: Long, j: Int): String =
    PagesGen.word(pageBase + 40000000L + i, 3000000L + j)

  /** Query `i` of this seed's stream. Every class of query comes at
    * fixed rates inside short blocks of the stream, so every window of
    * it has the same mix and the seed changes only the terms: each block
    * of ten holds AND:OR:phrase:prefix 4:4:1:1 in a seeded order; one
    * query in ten asks for k=100 and one in four for urls; one in
    * `longTailEvery` is an AND or OR query of 54–64 distinct vocabulary
    * words, whose raw Σdf is what crosses the gather cap. Other lengths
    * are seeded draws of 1–8 terms, drawn Zipf-weighted from
    * `PagesGen.vocab` (stopwords included), with an occasional absent
    * term. Phrases are windows of a corpus page body (`corpusDocs`
    * bounds which pages), so they match.
    */
  def query(i: Int, corpusDocs: Long): Query = {
    val block = i / 10
    val k = if (i % 10 == Math.floorMod(rnd(QStream, block * 16L + 10), 10L)) 100 else 10
    val longTail = isLongTail(i)
    val mode =
      if (longTail) { if ((i / longTailEvery) % 2 == 0) QueryMode.Or else QueryMode.And }
      else blockModes(block)(i % 10)
    val text = mode match {
      case QueryMode.Phrase =>
        val doc = Math.floorMod(rnd(QStream, i * 16L + 6), corpusDocs)
        val start = Math.floorMod(rnd(QStream, i * 16L + 7), 16L).toInt
        val n = 2 + Math.floorMod(rnd(QStream, i * 16L + 8), 3L).toInt
        (start until start + n).map(j => PagesGen.word(pageBase + doc, j)).mkString(" ")
      case QueryMode.Prefix =>
        zipfTerm(i, 0).take(2 + Math.floorMod(rnd(QStream, i * 16L + 9), 3L).toInt)
      case _ if longTail =>
        val len = 54 + Math.floorMod(rnd(QStream, i * 16L + 4), 11L).toInt
        val terms = scala.collection.mutable.LinkedHashSet.empty[String]
        var j = 0
        while (terms.size < len && j < 4096) { terms += zipfTerm(i, j); j += 1 }
        terms.mkString(" ")
      case _ =>
        val w = Array(0.20, 0.22, 0.18, 0.13, 0.10, 0.07, 0.05, 0.05)
        var x = unit(QStream, i * 16L + 3)
        var len = 1
        while (len < w.length && x >= w(len - 1)) { x -= w(len - 1); len += 1 }
        (0 until len).map { j =>
          if (unit(QStream, i * 1000003L + j) < 0.02) s"zq${Math.floorMod(rnd(QStream, i + j), 100000L)}x"
          else zipfTerm(i, j)
        }.mkString(" ")
    }
    Query(i, text, mode, k, withUrls(i))
  }

  private val tenModes = Array.fill(4)(QueryMode.And) ++ Array.fill(4)(QueryMode.Or) ++
    Array(QueryMode.Phrase, QueryMode.Prefix)

  /** The modes of block `b` of ten queries: `tenModes` in a seeded order. */
  private def blockModes(b: Int): Array[QueryMode.Value] = {
    val m = tenModes.clone()
    var j = m.length - 1
    while (j > 0) {
      val r = Math.floorMod(rnd(QStream ^ 0xB10CL, b * 16L + j), (j + 1).toLong).toInt
      val t = m(j); m(j) = m(r); m(r) = t
      j -= 1
    }
    m
  }

  // ---- store mutations ---------------------------------------------------

  private val MStream = 0x6DL

  /** Fresh page ordinals for puts of new urls, after the bootstrap range. */
  val freshBase: Long = 20000000L

  def rndM(i: Long): Long = rnd(MStream, i)

  // ---- vectors -----------------------------------------------------------

  private val VStream = 0x7EL
  val dim = 32
  val vecClusters = 64

  private def center(c: Int, d: Int): Double = unit(VStream ^ 0xC0L, c.toLong * 1024 + d) * 2 - 1

  /** Vector `id`: a point around one of `vecClusters` seeded centres. */
  def vector(id: Long): Array[Float] = {
    val c = Math.floorMod(rnd(VStream, id * 2), vecClusters.toLong).toInt
    Array.tabulate(dim)(d => (center(c, d) + 0.35 * (unit(VStream, id * 131 + d + 7) * 2 - 1)).toFloat)
  }

  // ---- near-duplicates ---------------------------------------------------

  /** First NearDupGen ordinal of this seed (a multiple of the 6-doc
    * cluster period, so planted clusters never straddle seeds).
    */
  val nearDupBase: Long = slot * 6L * 10000000L
  def nearDupText(i: Long): String = NearDupGen.text(nearDupBase + i)
  def nearDupCluster(i: Long): Long = NearDupGen.clusterOf(nearDupBase + i)
}

object Gen {
  /** Pages `from until until` of `gen`'s corpus as a DataFrame. */
  def pages(spark: SparkSession, gen: Gen, from: Long, until: Long, parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(from, until, 1L, parts).as[Long].map(i => gen.page(i)).toDF()
  }
}
