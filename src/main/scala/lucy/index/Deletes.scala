package lucy.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Document deletion — the lucy.js `delete()` hook analog (SURVEY.md
  * §1.1: the reference keeps its index live under put/add/delete; adds
  * and updates are deltas + compaction, deletes are tombstones).
  *
  * Semantics (v1, exact): a tombstoned docId is masked EVERYWHERE in
  * the wrapped index until the next compaction physically purges it.
  * Query results are BIT-EQUAL to the naive engine over the surviving
  * corpus — which requires more than hiding docs:
  *
  *  - N and avgdl come from an aggregation over the SURVIVING docmap
  *    (same `agg(count, avg(docLen))` shape the builder uses, so the
  *    Double is the same exact long-sum/count division);
  *  - df per query term is the raw index df MINUS the term's postings
  *    that fall in the tombstone set (`deletedDf`: a pruned scan of the
  *    query terms' blocks only — never a corpus scan);
  *  - the WAND kernel skips tombstoned candidates before they can take
  *    a heap slot.
  *
  * Re-adding a deleted url is supported after a compaction (the
  * tombstone is purged with the doc); between delete and compaction the
  * tombstone wins. The sorted docId array ships in the query plan's
  * task closure — bounded by `maxTombstones`; a store accumulating more
  * deletes than that must compact first (the Lucene deleted-docs-ratio
  * analog).
  */
case class TombstonedIndex(inner: SearchableIndex, override val tombstoneIds: Array[Long])
    extends SearchableIndex {
  require(Deletes.isSorted(tombstoneIds), "tombstoneIds must be sorted ascending")
  require(tombstoneIds.length <= Deletes.maxTombstones,
    s"${tombstoneIds.length} tombstones exceed ${Deletes.maxTombstones}: compact first")

  def segments(spark: SparkSession): DataFrame = inner.segments(spark)

  def docmap(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val ts = spark.createDataset(tombstoneIds.toSeq).toDF("docId")
    inner.docmap(spark).join(broadcast(ts), Seq("docId"), "left_anti")
  }

  def termStats(spark: SparkSession): DataFrame = inner.termStats(spark) // raw; see lookupTerms

  // unmasked, like segments: a point lookup drops tombstoneIds itself
  def docmapParts(spark: SparkSession): Seq[DataFrame] = inner.docmapParts(spark)

  override def lookupTerms(spark: SparkSession, terms: Seq[String]): Map[String, TermStats] = {
    val raw = inner.lookupTerms(spark, terms)
    if (raw.isEmpty || tombstoneIds.isEmpty) return raw
    val deleted = Deletes.deletedDf(spark, inner.segments(spark), raw.keys.toSeq, tombstoneIds)
    raw.flatMap { case (t, st) =>
      val df2 = st.df - deleted.getOrElse(t, 0L)
      // rawDf keeps the pre-delete count: the scan/gather volume is the
      // physical blocks, tombstones included (routing, ADVICE r2)
      if (df2 <= 0) None else Some(t -> st.copy(df = df2, rawDf = st.df))
    }
  }

  override def corpusStats(spark: SparkSession): CorpusStats =
    Stats.corpusStats(docmap(spark))
}

object Deletes {

  /** Plan-closure ceiling for the tombstone set (8 MB of sorted longs). */
  val maxTombstones: Int = 1 << 20

  private[index] def isSorted(a: Array[Long]): Boolean = {
    var i = 1
    while (i < a.length) { if (a(i - 1) >= a(i)) return false; i += 1 }
    true
  }

  /** Per-term count of postings whose docId is tombstoned — a pruned
    * scan of ONLY the given terms' blocks (termHash isin pushdown), so
    * the cost scales with the query, not the corpus. Runs distributed;
    * returns a tiny per-term map.
    */
  def deletedDf(spark: SparkSession, segments: DataFrame, terms: Seq[String],
                sortedTombstones: Array[Long]): Map[String, Long] = {
    import spark.implicits._
    if (terms.isEmpty || sortedTombstones.isEmpty) return Map.empty
    val hashes = terms.map(t => lucy.Hashing.termHash(t).asInstanceOf[Any])
    val ts = sortedTombstones // task closure; bounded by maxTombstones
    segments
      .filter(col("termHash").isin(hashes: _*) &&
        col("term").isin(terms.map(_.asInstanceOf[Any]): _*))
      .drop("srcPart").withColumn("partId", lit(0)).as[SegmentRow]
      .mapPartitions { rows =>
        val acc = scala.collection.mutable.HashMap.empty[String, Long]
        rows.foreach { r =>
          val d = PostingBlock.decode(r.toBlock)
          var i = 0
          var n = 0L
          while (i < d.docIds.length) {
            if (java.util.Arrays.binarySearch(ts, d.docIds(i)) >= 0) n += 1
            i += 1
          }
          if (n > 0) acc.update(r.term, acc.getOrElse(r.term, 0L) + n)
        }
        acc.iterator
      }
      .groupBy(col("_1").as("term"))
      .agg(sum(col("_2")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }
}
