package perfbench

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession

/** Seeded `documents` and `events` tables, the two inputs of the operator
  * slice, with the columns, value sets and ranges the SparkEntry operators
  * expect. Small: at this size an operator's cost is planning, scheduling
  * and derived-index work, not row volume.
  */
object TableGen {
  final case class Document(doc_id: Long, text: String, lang: String, source: String,
      n_chars: Long)
  final case class Event(event_id: Long, ts: Timestamp, user_id: Long, event_type: String,
      value: Double, props: String)

  val Words: Array[String] = Array("join", "hash", "row", "batch", "scan", "customer",
    "column", "filter", "small", "slow", "merge", "order", "vector", "line", "table",
    "data", "agg", "value", "key", "stream", "window", "spark", "a", "group", "part",
    "big", "sort", "query", "fast", "the")
  private val Langs = Array("en", "en", "en", "de", "fr", "es", "zh")
  private val EventTypes = Array("signup", "error", "click", "view", "purchase")
  private val Jan2024 = 1704067200000L

  private def pick[A](r: Rng, xs: Array[A]): A = xs(r.below(xs.length))

  def write(spark: SparkSession, seed: Long, dir: String): Unit = {
    import spark.implicits._
    val r = new Rng(seed ^ 0x7ab1eL)
    // about one doc in twenty carries the "dup" term the update and
    // expunge operators rewrite
    (0 until 600).map { i =>
      val words = Seq.fill(10 + r.below(90))(pick(r, Words)) ++
        (if (r.chance(0.05)) Seq.fill(1 + r.below(2))("dup") else Nil)
      val text = words.mkString(" ")
      Document(i, text, pick(r, Langs), s"src${i % 20}", text.length)
    }.toDS().coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    (0 until 1000).map { i =>
      Event(i, new Timestamp(Jan2024 + r.below(30 * 86400) * 1000L + r.below(1000)),
        r.below(150), pick(r, EventTypes), math.round((0.01 + r.uniform() * 490) * 100) / 100.0,
        s"""{"k": ${r.below(100)}}""")
    }.toDS().coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
  }
}
