package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.storage.StorageLevel
import lucy.index.{Ingest, Stats}
import lucy.query.NaiveSearch

/** The independent BM25 oracle: `NaiveSearch` (plain DataFrame joins and
  * aggregations, no posting blocks, no WAND) over the same pages run
  * through `Ingest`. Top-k docIds and scores must be bit-equal.
  */
final class Oracle(pages: DataFrame) {
  private val cleaned = Ingest.cleanPages(pages).persist(StorageLevel.MEMORY_AND_DISK)
  private val docmap = Ingest.docmap(cleaned).persist(StorageLevel.MEMORY_AND_DISK)
  private val termTf = Ingest.termTf(cleaned).persist(StorageLevel.MEMORY_AND_DISK)
  private val tokPos = Ingest.tokPos(cleaned).persist(StorageLevel.MEMORY_AND_DISK)
  private val stats = Stats.corpusStats(docmap)

  /** Expected (docId, score, nTerms, url) rows, best first. */
  def expected(q: Query): Array[(Long, Double, Int, String)] = {
    val top = NaiveSearch.forQuery(termTf, tokPos, docmap, stats, q.text, q.mode, q.k)
    NaiveSearch.withUrls(top, docmap).collect().map(r =>
      (r.getLong(0), r.getDouble(1), r.getInt(2), r.getString(3)))
  }

  def urls: Set[String] = docmap.select("url").collect().map(_.getString(0)).toSet

  def release(): Unit = Seq(cleaned, docmap, termTf, tokPos).foreach(_.unpersist())
}

object Oracle {
  private def show(q: Query) = s"query ${q.id} [${q.mode} k=${q.k} urls=${q.withUrls}] '${q.text.take(80)}'"

  /** Compares engine rows (docId, score, nTerms[, url]) with the oracle,
    * recording one checked operation.
    */
  def compare(r: Report, label: String, q: Query, got: Array[Row],
              want: Array[(Long, Double, Int, String)]): Unit = {
    val g = got.map(x => (x.getLong(0), x.getDouble(1), x.getInt(2),
      if (q.withUrls) x.getString(3) else null))
    val w = want.map(x => (x._1, x._2, x._3, if (q.withUrls) x._4 else null))
    val same = g.length == w.length && g.indices.forall { i =>
      g(i)._1 == w(i)._1 && java.lang.Double.compare(g(i)._2, w(i)._2) == 0 &&
        g(i)._3 == w(i)._3 && g(i)._4 == w(i)._4
    }
    r.check(same, {
      val firstDiff = g.indices.find(i => i >= w.length || g(i) != w(i)).getOrElse(g.length)
      s"$label ${show(q)}: ${g.length} rows vs ${w.length} expected, first difference at rank $firstDiff " +
        s"(got ${g.lift(firstDiff)}, expected ${w.lift(firstDiff)})"
    })
  }
}
