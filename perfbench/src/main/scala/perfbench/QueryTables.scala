package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession

final case class LineItem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
  l_linenumber: Int, l_quantity: Double, l_extendedprice: Double, l_discount: Double,
  l_tax: Double, l_returnflag: String, l_linestatus: String, l_shipdate: Timestamp)
final case class Event(event_id: Long, ts: Timestamp, user_id: Long, event_type: String,
  value: Double, props: String)
final case class Document(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
final case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)

/** The tables the headline queries read (`lineitem`, `events`, `documents`,
  * `embeddings`), in the schema of the repository's test fixtures, written
  * as parquet. Every row is a pure function of its id, so the tables — and
  * each query's row count — are the same in every run. */
object QueryTables {
  val LineItems = 120000
  val Events = 20000
  val Documents = 2000
  val Embeddings = 1000
  val Dim = 64

  private val Words = Array("data", "table", "join", "scan", "sort", "hash", "key", "row",
    "column", "query", "group", "batch", "stream", "window", "merge", "filter", "order",
    "line", "part", "value", "agg", "spark", "vector", "fast", "slow", "big", "small",
    "customer", "index", "page")
  private val Langs = Array("en", "de", "es", "fr", "zh")
  private val Markers = Map("en" -> Array("the", "and", "is", "a"),
    "de" -> Array("der", "und", "ist"), "es" -> Array("el", "la", "es"),
    "fr" -> Array("le", "et", "est"), "zh" -> Array.empty[String])
  private val EventTypes = Array("view", "click", "purchase", "signup", "error")

  private def rng(table: Int, id: Long) = new scala.util.Random(id * 1000003L + table)

  private def text(r: scala.util.Random, lang: String): String = {
    val markers = Markers(lang)
    Seq.fill(5 + r.nextInt(70)) {
      if (markers.nonEmpty && r.nextInt(6) == 0) markers(r.nextInt(markers.length))
      else Words(r.nextInt(Words.length))
    }.mkString(" ")
  }

  /** Every fourth document is a copy of an earlier one, source included,
    * with a few words replaced, so the dedup queries find clusters. */
  private def document(id: Long): Document = {
    val r = rng(3, id)
    if (id % 4 == 3) {
      val b = document(r.nextInt(id.toInt).toLong)
      val words = b.text.split(' ')
      (0 until 1 + r.nextInt(3)).foreach(_ => words(r.nextInt(words.length)) = Words(r.nextInt(Words.length)))
      val t = words.mkString(" ")
      b.copy(doc_id = id, text = t, n_chars = t.length.toLong)
    } else {
      val lang = Langs(r.nextInt(Langs.length))
      val t = text(r, lang)
      Document(id, t, lang, s"src${r.nextInt(20)}", t.length.toLong)
    }
  }

  def write(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val day = 86400000L
    val t1995 = Timestamp.valueOf("1995-01-01 00:00:00").getTime
    spark.range(LineItems).as[Long].map { id =>
      val r = rng(1, id)
      val qty = 1 + r.nextInt(50)
      val ship = t1995 + r.nextInt(2500) * day
      LineItem(id / 4, r.nextInt(20000).toLong, r.nextInt(1000).toLong, (id % 4).toInt + 1,
        qty.toDouble, math.round(qty * (900 + r.nextInt(100000)) / 100.0).toDouble,
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, "ANR".charAt(r.nextInt(3)).toString,
        if (ship < t1995 + 1300 * day) "F" else "O", new Timestamp(ship))
    }.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

    val t2024 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    spark.range(Events).as[Long].map { id =>
      val r = rng(2, id)
      Event(id, new Timestamp(t2024 + id * 180000L + r.nextInt(180000)), r.nextInt(300).toLong,
        EventTypes(r.nextInt(EventTypes.length)), r.nextInt(2000) / 100.0,
        s"""{"k": ${r.nextInt(100)}}""")
    }.write.mode("overwrite").parquet(s"$dir/events.parquet")

    spark.range(Documents).as[Long].map(document)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    spark.range(Embeddings).as[Long].map { id =>
      val label = (id % 10).toInt
      val centre = rng(4, label.toLong)
      val r = rng(5, id)
      Embedding(id, Array.fill(Dim)((centre.nextGaussian() + 0.3 * r.nextGaussian()).toFloat), label)
    }.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }
}
