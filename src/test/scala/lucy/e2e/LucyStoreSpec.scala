package lucy.e2e

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import lucy.{LucySpec, LucyStore, SparkFunSuite}
import lucy.fixtures.PagesGen
import lucy.index.{Ingest, Stats}
import lucy.query.{NaiveSearch, QueryMode, Searcher}

/** The full lucy.js store lifecycle through the one public facade:
  * bootstrap → put (add + update) → delete → search (all modes) →
  * compact — at every step search results are BIT-EQUAL to the naive
  * engine over a from-scratch view of the store's current contents.
  */
class LucyStoreSpec extends SparkFunSuite {

  private def naiveOver(pages: DataFrame, q: String, m: QueryMode.Value, k: Int): DataFrame = {
    val cleaned = Ingest.cleanPages(pages)
    val docmap = Ingest.docmap(cleaned)
    NaiveSearch.forQuery(Ingest.termTf(cleaned), Ingest.tokPos(cleaned), docmap,
      Stats.corpusStats(docmap), q, m, k)
  }

  private def assertSame(a: DataFrame, b: DataFrame, ctx: String): Unit = {
    val fa = a.collect().map(r => (r.getLong(0), java.lang.Double.doubleToLongBits(r.getDouble(1))))
    val fb = b.collect().map(r => (r.getLong(0), java.lang.Double.doubleToLongBits(r.getDouble(1))))
    assert(fa.toSeq === fb.toSeq, ctx)
  }

  private val probes = Seq(
    ("spark shuffle", QueryMode.And, 10),
    ("wand heap", QueryMode.Or, 10),
    ("spark shuffle", QueryMode.Phrase, 10),
    ("wa", QueryMode.Prefix, 10))

  test("store lifecycle: bootstrap, put, delete, search, compact") {
    import spark.implicits._
    val root = Files.createTempDirectory("lucy-store").toString + "/store"
    val store = new LucyStore(spark, root)

    // bootstrap 200 docs
    store.bootstrap(PagesGen.pages(spark, 200))
    probes.foreach { case (q, m, k) =>
      assertSame(store.search(q, m, k), naiveOver(PagesGen.pages(spark, 200), q, m, k),
        s"bootstrap[$q/$m]")
    }

    // put: 100 new docs + re-put is a no-op (exactly-once)
    val delta = spark.range(200, 300).as[Long].map(PagesGen.page _).toDF()
    store.put(delta, batchId = 0L)
    store.put(delta, batchId = 0L)
    val after300 = PagesGen.pages(spark, 300)
    probes.foreach { case (q, m, k) =>
      assertSame(store.search(q, m, k), naiveOver(after300, q, m, k), s"put[$q/$m]")
    }

    // delete 30 urls: masked view matches naive over survivors
    val delUrls = (0L until 300L by 10).map(i => s"https://example.org/p/$i")
    store.delete(delUrls)
    val survivors = after300.filter(!col("url").isin(delUrls.map(_.asInstanceOf[Any]): _*))
    probes.foreach { case (q, m, k) =>
      assertSame(store.search(q, m, k), naiveOver(survivors, q, m, k), s"deleted[$q/$m]")
    }

    // compact: same answers from the folded base
    store.compact()
    probes.foreach { case (q, m, k) =>
      assertSame(store.search(q, m, k), naiveOver(survivors, q, m, k), s"compacted[$q/$m]")
    }

    // searchWithUrls attaches display urls for the top hit
    val withUrls = store.searchWithUrls("spark shuffle", QueryMode.And, 3).collect()
    assert(withUrls.nonEmpty && withUrls.forall(_.getAs[String]("url").startsWith("https://")))
    // and the deleted url can come back
    store.put(spark.range(0, 1).as[Long].map(PagesGen.page _).toDF(), batchId = 1L)
    val back = store.search("spark", QueryMode.Or, 500).collect().map(_.getLong(0)).toSet
    assert(back.contains(LucySpec.docIdForUrl("https://example.org/p/0")))

    // ---- updated-url semantics probe (ADVICE r2): between compactions
    // the index is additive — a replaced version's stale postings may
    // still match; compact() restores exactness. This pins the facade
    // doc's claim to observed behavior.
    val p7Url = "https://example.org/p/7"
    val p7Id = LucySpec.docIdForUrl(p7Url)
    val newP7 = Seq(lucy.fixtures.Page(p7Url,
      java.sql.Timestamp.valueOf("2025-06-01 00:00:00"), null,
      "xylophone quartz zebra", "en")).toDF()
    store.put(newP7, batchId = 2L)
    val oldTok = LucySpec.tokenize(
      lucy.text.HtmlText.extractFromHtml(PagesGen.page(7).html)).head
    // stale posting of the replaced version still matches pre-compact…
    val pre = store.search(oldTok, QueryMode.Or, 1000).collect().map(_.getLong(0)).toSet
    assert(pre.contains(p7Id), s"pre-compact: additive index keeps stale '$oldTok' posting")
    // …while the new version's terms are live immediately
    val newHits = store.search("xylophone", QueryMode.Or, 10).collect().map(_.getLong(0)).toSet
    assert(newHits === Set(p7Id))
    // compaction merges the update: exact again vs a from-scratch view
    store.compact()
    val contents = survivors
      .union(spark.range(0, 1).as[Long].map(PagesGen.page _).toDF())
      .filter(col("url") =!= p7Url)
      .union(newP7)
    probes.foreach { case (q, m, k) =>
      assertSame(store.search(q, m, k), naiveOver(contents, q, m, k), s"updated[$q/$m]")
    }
    val post = store.search(oldTok, QueryMode.Or, 1000).collect().map(_.getLong(0)).toSet
    assert(!post.contains(p7Id), "post-compact: replaced version's postings are purged")
  }

  test("searchWithUrls on a live composite attaches each hit's own url") {
    import spark.implicits._
    val root = Files.createTempDirectory("lucy-store-urls").toString + "/store"
    val store = new LucyStore(spark, root)
    def pages(lo: Long, hi: Long) = spark.range(lo, hi).as[Long].map(PagesGen.page _).toDF()
    // base + two deltas (new docs; an update of an existing url), a
    // delete, and a delete -> re-put — all before any compaction
    store.bootstrap(PagesGen.pages(spark, 200))
    store.put(pages(200, 260), batchId = 0L)
    val p7Url = "https://example.org/p/7"
    store.put(Seq(lucy.fixtures.Page(p7Url, java.sql.Timestamp.valueOf("2025-06-01 00:00:00"),
      null, "spark shuffle wand heap", "en")).toDF(), batchId = 1L)
    store.delete((0L until 260L by 10).map(i => s"https://example.org/p/$i"))
    store.put(pages(20, 21), batchId = 2L)

    val rows = (probes :+ (("spark", QueryMode.Or, 100))).flatMap { case (q, m, k) =>
      val got = store.searchWithUrls(q, m, k).collect()
        .map(r => (r.getAs[Long]("docId"), r.getAs[Double]("score"), r.getAs[String]("url")))
      got.foreach { case (docId, _, url) =>
        assert(url != null, s"[$q/$m] docId $docId has no url")
        assert(LucySpec.docIdForUrl(url) === docId, s"[$q/$m] $url attached to docId $docId")
      }
      val direct = Searcher.searchWithUrls(spark, store.view, q, m, k).collect()
        .map(r => (r.getAs[Long]("docId"), r.getAs[Double]("score"), r.getAs[String]("url")))
      assert(direct.toSeq === got.toSeq, s"[$q/$m] Searcher.searchWithUrls over store.view")
      got
    }
    assert(rows.nonEmpty)
    store.close()
  }

  test("searchWithUrls keeps its schema when a query has no hits") {
    import org.apache.spark.sql.types.StringType
    val root = Files.createTempDirectory("lucy-store-empty").toString + "/store"
    val store = new LucyStore(spark, root)
    store.bootstrap(PagesGen.pages(spark, 100))
    val hit = store.searchWithUrls("spark", QueryMode.Or, 5)
    assert(hit.collect().nonEmpty)
    for ((q, m) <- Seq(("the and of", QueryMode.And), ("spark zzznotfound", QueryMode.And))) {
      val none = store.searchWithUrls(q, m, 10)
      assert(none.collect().isEmpty, s"[$q/$m]")
      assert(none.schema("url").dataType === StringType, s"[$q/$m]")
      assert(none.schema === hit.schema, s"[$q/$m]")
      // the oracle join types its empty url column the same way
      val oracle = NaiveSearch.withUrls(store.search(q, m, 10), store.view.docmap(spark))
      assert(oracle.schema("url").dataType === StringType, s"[$q/$m] oracle")
    }
    store.close()
  }
}
