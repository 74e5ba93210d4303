package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded document corpus with the shape of the harness `documents`
  * table: 10-100 words over a 30-word vocabulary, five languages, 20
  * sources, monotonically growing ids, 5 % near-duplicates of an earlier
  * document (its text plus " dup") and 0.4 % exact copies.
  */
final class Docs(seed: Long) {
  private val Vocab: IndexedSeq[String] = ("spark window merge table column vector stream value data " +
    "small join filter big group hash customer sort order slow line part fast row the agg " +
    "key query a scan batch").split(" ").toIndexedSeq
  private val Langs = IndexedSeq("en", "en", "en", "zh", "es", "fr", "de")
  val schema: StructType = new StructType().add("doc_id", LongType).add("text", StringType)
    .add("lang", StringType).add("source", StringType).add("n_chars", LongType)

  private val r = new scala.util.Random(seed)
  private val texts = scala.collection.mutable.ArrayBuffer[String]()

  /** The next `n` documents (ids continue from the previous call). */
  def next(n: Int): Seq[Row] = (0 until n).map { _ =>
    val id = texts.size.toLong
    val p = r.nextInt(1000)
    val text =
      if (p < 50 && texts.nonEmpty) texts(r.nextInt(texts.size)).stripSuffix(" dup") + " dup"
      else if (p < 54 && texts.nonEmpty) texts(r.nextInt(texts.size))
      else Seq.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.size))).mkString(" ")
    texts += text
    Row(id, text, Langs(r.nextInt(Langs.size)), s"src${id % 20}", text.length.toLong)
  }

  def frame(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
}
