package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** One generated record of the `events` schema (`ts` in epoch nanos, as the
  * engine reads it). */
final case class Event(eventId: Long, ts: Long, userId: Long, eventType: String,
                       value: Double, props: String)

/** Seeded generator of the `events` stream. Batch `b` is the `b`-th slice of
  * one sequential random stream, so the first `n` batches do not depend on
  * how many are generated, and the same seed always gives the same batches.
  *
  *  - `user_id` is Zipf-skewed over `keys` ids, so hot keys exist;
  *  - `event_type` takes four values with fixed, unequal weights;
  *  - `value` is uniform on [0, 100).
  */
object Gen {
  val EventTypes: Array[String] = Array("view", "click", "purchase", "share")
  private val TypeCdf = Array(0.55, 0.85, 0.97, 1.0)

  final case class Stream(keys: Int, zipfS: Double, batchRecords: Int, periodMs: Long)

  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", LongType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("props", StringType, nullable = false)))

  def zipfCdf(keys: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(keys)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  /** First index whose cumulative weight exceeds `u`. */
  private def draw(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i + 1 else -i - 1, cdf.length - 1)
  }

  def batches(seed: Long, count: Int, s: Stream): IndexedSeq[Array[Event]] = {
    val rnd = new SplittableRandom(seed)
    val cdf = zipfCdf(s.keys, s.zipfS)
    (0 until count).map { b =>
      Array.tabulate(s.batchRecords) { i =>
        val uid = draw(cdf, rnd.nextDouble()).toLong
        val et = EventTypes(draw(TypeCdf, rnd.nextDouble()))
        val v = rnd.nextDouble() * 100.0
        val tsMs = b * s.periodMs + i * s.periodMs / s.batchRecords
        Event(b.toLong * s.batchRecords + i, tsMs * 1000000L, uid, et, v,
          s"""{"shard":"${uid % 16}"}""")
      }
    }
  }

  def toDF(spark: SparkSession, events: Array[Event]): DataFrame = {
    val rows = new java.util.ArrayList[Row](events.length)
    events.foreach(e => rows.add(Row(e.eventId, e.ts, e.userId, e.eventType, e.value, e.props)))
    spark.createDataFrame(rows, schema)
  }
}
