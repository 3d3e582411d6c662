package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** A seeded (doc_id, text) corpus for the search-serving specs, and the
  * index-free answers they compare the served ones against. Words are
  * `w0`…`w299`, drawn with a quadratic skew so low-numbered words are
  * frequent; documents hold 12–30 words. */
object SearchCorpus {

  def texts(ids: Seq[Long], seed: Long): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    ids.map { id =>
      val n = 12 + rnd.nextInt(19)
      id -> Seq.fill(n)(s"w${(300 * math.pow(rnd.nextDouble(), 2)).toInt}").mkString(" ")
    }
  }

  def frame(spark: SparkSession, rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  /** Write `rows` as the corpus of fixture directory `dir`. */
  def write(spark: SparkSession, dir: String, rows: Seq[(Long, String)]): Unit =
    frame(spark, rows).coalesce(2).write.mode("overwrite").parquet(s"$dir/documents.parquet")

  def sorted(rs: Array[Row]): Seq[String] = rs.map(_.toSeq.mkString("|")).toSeq.sorted

  /** The index-free BM25 answer over the live corpus `live`. */
  def bm25Replay(live: DataFrame, terms: Seq[String], k: Int = 10): Seq[String] =
    sorted(InvertedIndex.bm25FromPostings(
      InvertedIndex.postings(live).filter(col("term").isin(terms: _*)),
      InvertedIndex.corpusStats(live), k).collect())

  /** The index-free phrase answer over the live corpus `live`. */
  def phraseReplay(live: DataFrame, phrase: Seq[String], k: Int = 10): Seq[String] =
    sorted(InvertedIndex.phraseFromPositions(
      InvertedIndex.positions(live).filter(col("term").isin(phrase.distinct: _*)),
      phrase, k).collect())
}
