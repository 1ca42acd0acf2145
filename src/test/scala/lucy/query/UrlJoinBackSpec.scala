package lucy.query

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.functions.{col, concat, lit}
import org.apache.spark.sql.types.StringType
import lucy.{LucySpec, SparkFunSuite}
import lucy.fixtures.PagesGen
import lucy.index._

/** `QueryEngine.searchWithUrls` (a docId probe of every part's docmap,
  * latest version picked on the driver) against the oracle join
  * `NaiveSearch.withUrls(engine.search(...), index.docmap(spark))`:
  * bit-equal rows in the same order, over the index shapes where
  * latest-wins matters. Each part's docmap urls carry a `#<part>` tag, so
  * a url names the version it came from.
  */
class UrlJoinBackSpec extends SparkFunSuite with AdaptiveSparkPlanHelper {

  private lazy val tmp = Files.createTempDirectory("lucy-urls").toString

  private def pages(lo: Long, hi: Long): DataFrame = {
    import spark.implicits._
    spark.range(lo, hi).as[Long].map(PagesGen.page _).toDF()
  }

  /** Builds `df` and tags its docmap urls; `nullTs` also nulls every
    * warc_ts there. (Built from null-warc_ts pages, the docs would have
    * no text: the builder's url dedup `max_by` returns null for them.)
    */
  private def part(tag: String, df: DataFrame, nullTs: Boolean = false): LucyIndex = {
    val dir = s"$tmp/$tag"
    IndexBuilder.build(df, dir)
    val dm = spark.read.parquet(s"$dir/docmap")
    (if (nullTs) dm.withColumn("warc_ts", lit(null).cast("timestamp")) else dm)
      .withColumn("url", concat(col("url"), lit(s"#$tag")))
      .write.parquet(s"$dir/docmap-tagged")
    deleteTree(Paths.get(s"$dir/docmap"))
    Files.move(Paths.get(s"$dir/docmap-tagged"), Paths.get(s"$dir/docmap"))
    LucyIndex(dir)
  }

  private def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p)) Files.list(p).toArray.foreach(c => deleteTree(c.asInstanceOf[Path]))
    Files.delete(p)
  }

  private lazy val base = part("base", PagesGen.pages(spark, 300))
  // recrawls of base docs 0..79 stamped OLDER than the base versions
  private lazy val stale = part("stale", PagesGen.recrawl(spark, 80, -1000000L))
  // null warc_ts: 280..299 contest base, 320..339 contest each other
  private lazy val nullA = part("nullA", pages(280, 340), nullTs = true)
  private lazy val nullB = part("nullB", pages(320, 360), nullTs = true)

  private lazy val staleComposite = CompositeIndex(Seq(base, stale))
  private lazy val nullComposite = CompositeIndex(Seq(base, nullA, nullB))
  private lazy val tombstoned = TombstonedIndex(staleComposite,
    (0L until 300L by 3).map(i => LucySpec.docIdForUrl(s"https://example.org/p/$i")).sorted.toArray)

  private val queries = Seq(
    ("spark shuffle", QueryMode.And),
    ("wand heap", QueryMode.Or),
    ("recrawl spark", QueryMode.Or),
    ("spark shuffle", QueryMode.Phrase),
    ("wa", QueryMode.Prefix))

  private def docId(i: Long) = LucySpec.docIdForUrl(s"https://example.org/p/$i")

  /** Checks parity on every query and k; returns (docId, url) of all hits. */
  private def assertParity(index: SearchableIndex, ctx: String): Seq[(Long, String)] = {
    val engine = new QueryEngine(spark, index)
    val docmap = index.docmap(spark)
    for ((q, m) <- queries; k <- Seq(10, 100)) yield {
      def rows(df: DataFrame) = df.collect().toSeq.map(r =>
        (r.getLong(0), java.lang.Double.doubleToLongBits(r.getDouble(1)), r.getInt(2), r.getString(3)))
      val got = engine.searchWithUrls(q, m, k)
      assert(got.schema("url").dataType === StringType)
      val g = rows(got)
      assert(g === rows(NaiveSearch.withUrls(engine.search(q, m, k), docmap)), s"$ctx [$q/$m k=$k]")
      assert(g.nonEmpty, s"$ctx [$q/$m k=$k] has no hits")
      g.map(r => (r._1, r._4))
    }
  }.flatten

  test("searchWithUrls == oracle join on a plain LucyIndex") {
    val hits = assertParity(base, "plain")
    assert(hits.forall(_._2.endsWith("#base")))
  }

  test("searchWithUrls == oracle join when a recrawl is older than the base version") {
    val hits = assertParity(staleComposite, "stale")
    val recrawled = (0L until 80L).map(docId).toSet
    assert(hits.exists(h => recrawled(h._1)), "no hit on a recrawled doc")
    assert(hits.forall(_._2.endsWith("#base")), "a stale version won")
  }

  test("searchWithUrls == oracle join with null warc_ts rows") {
    val hits = assertParity(nullComposite, "null-ts")
    def tagsOf(lo: Long, hi: Long) = {
      val ids = (lo until hi).map(docId).toSet
      hits.filter(h => ids(h._1)).map(h => h._2.substring(h._2.indexOf('#'))).toSet
    }
    assert(tagsOf(280, 300) === Set("#base"), "a null-ts row beat a timestamped one")
    assert(tagsOf(320, 340) === Set("#nullB"), "null-ts tie did not go to the later part")
  }

  test("searchWithUrls == oracle join on a TombstonedIndex view") {
    val hits = assertParity(tombstoned, "tombstoned")
    assert(hits.forall(h => java.util.Arrays.binarySearch(tombstoned.tombstoneIds, h._1) < 0))
  }

  test("the url probe is one exchange-free scan per part; the result is a LocalRelation") {
    val engine = new QueryEngine(spark, nullComposite)
    val ids = engine.search("spark", QueryMode.Or, 100).collect().map(_.getLong(0)).toSeq
    val probe = engine.urlProbe(ids)
    assert(probe.collect().length <= ids.length * nullComposite.parts.length)
    val plan = probe.queryExecution.executedPlan
    assert(collect(plan) { case e: ShuffleExchangeLike => e }.isEmpty, plan.toString)
    assert(collect(plan) { case e: BroadcastExchangeLike => e }.isEmpty, plan.toString)
    assert(collect(plan) { case s: FileSourceScanExec => s }.length === nullComposite.parts.length)
    val result = engine.searchWithUrls("spark", QueryMode.Or, 100)
    assert(result.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec])
  }
}
