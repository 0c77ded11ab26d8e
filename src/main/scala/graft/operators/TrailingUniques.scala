package graft.operators

import graft.agg.{BufSerde, SketchPartial, ThetaBuf, ThetaMergeEstimateAgg}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Trailing-window distinct counts ("7-day active users") — the sliding
 * COUNT(DISTINCT) that is notoriously expensive at scale, in the
 * bucketed-sketch shape that makes it cheap:
 *
 *   1. ONE corpus-sized pass reduces every event to a per-bucket theta
 *      sketch (`groupBy(bucket).agg(thetaPartial)`) — map-side-combined,
 *      O(2^lgK) state per bucket, the only stage that touches the data.
 *   2. The per-bucket sketch table (thousands of rows at most — days,
 *      hours) explodes each bucket's sketch onto the `window` target
 *      buckets it contributes to (`sequence` + explode: narrow, W rows per
 *      bucket) and re-merges per target. Theta unions are associative, so
 *      the trailing union equals the union over the raw window — no
 *      second corpus scan, no W-way event self-join (the naive plan
 *      shuffles the corpus W times; this shuffles it once).
 *
 * Contrast [[TimeSeries.cumulativeUniques]]: the first-seen collapse makes
 * the UNBOUNDED prefix exact in two shuffles, but it cannot express a
 * bounded trailing window (a key seen 10 buckets ago must leave the
 * 7-bucket count — first-seen has forgotten when it was last active).
 * Sketch-per-bucket is the standard scale answer for the bounded form.
 *
 * Exactness: theta sketches are EXACT below 2^lgK retained entries per
 * merged window; `requireExact = true` (the default here) makes the
 * crossover loud instead of silently degrading to an estimate — at true
 * 100 TB cardinalities callers drop it and accept the documented ~1.6%/
 * √2^(lgK-17) RSE.
 *
 * Output: one row per bucket PRESENT in the data — (bucket,
 * n_bucket = distinct keys in that bucket, n_trailing = distinct keys in
 * (bucket - window + 1 .. bucket]). Gap buckets (no events) are not
 * emitted; their sketches still flow into later windows they precede.
 */
object TrailingUniques {

  def trailingUniques(df: DataFrame, keyCol: String, tsCol: String,
                      bucketSize: Long, window: Int, lgK: Int = 17,
                      requireExact: Boolean = true): DataFrame = {
    require(bucketSize > 0, "bucketSize must be positive")
    require(window >= 1, "window must be >= 1 bucket")
    val merge = udaf(new ThetaMergeEstimateAgg(lgK, requireExact), Encoders.BINARY)

    // Stage 1 — the one corpus pass: per-bucket sketches.
    val daily = df.filter(col(tsCol).isNotNull && col(keyCol).isNotNull)
      .select(expr(s"CAST($tsCol AS BIGINT) div ${bucketSize}L").as("bucket"),
        col(keyCol).cast("string").as("__k"))
      .groupBy("bucket")
      .agg(SketchPartial.col(col("__k"), SketchPartial.Theta(lgK)).as("sk"))

    // Stage 2 — bucket-domain only. Each source bucket contributes to the
    // `window` targets [bucket, bucket + window - 1]; targets that exist
    // in the data survive the inner join back to `daily` (which also
    // carries the per-bucket count via a single-sketch merge).
    val contrib = daily
      .withColumn("tb", explode(sequence(col("bucket"),
        col("bucket") + lit(window - 1L))))
      .groupBy(col("tb").as("bucket"))
      .agg(merge(col("sk")).as("n_trailing"))
    daily.select(col("bucket"), col("sk"))
      .groupBy("bucket").agg(merge(col("sk")).as("n_bucket"))
      .join(contrib, "bucket")
      .select(col("bucket"), col("n_bucket").cast("long").as("n_bucket"),
        col("n_trailing").cast("long").as("n_trailing"))
  }

  /** One streaming observation: `key` active in `bucket`. */
  case class Obs(key: Long, bucket: Long)
  /** A touched target bucket's current trailing estimate. */
  case class TrailingUpdate(bucket: Long, nTrailing: Long)

  /**
   * STREAMING twin: the batch form avoids the W-fold corpus expansion
   * by merging in the bucket domain, but a stream's increment is small
   * — so here each arriving observation fans out to the `window` target
   * buckets it contributes to, and every target bucket carries ONE
   * theta sketch as keyed state (O(#buckets × 2^lgK) total — days ×
   * kilobytes, bounded by construction; production would additionally
   * drop buckets past the horizon). Each micro-batch emits the updated
   * trailing estimate for every touched bucket; once all sources ≤ a
   * bucket have arrived its last emission equals [[trailingUniques]]
   * (parity + checkpoint-restart pinned in TrailingUniquesSpec /
   * StreamingRestartSpec). Theta unions are associative and idempotent
   * per key, so replays across restarts cannot inflate counts.
   */
  def trailingUniquesStream(events: Dataset[Obs], window: Int,
                            lgK: Int = 17): Dataset[TrailingUpdate] = {
    require(window >= 1, "window must be >= 1 bucket")
    val spark = events.sparkSession
    import spark.implicits._
    events
      .flatMap(o => (o.bucket until o.bucket + window).map(tb => (tb, o.key)))
      .groupByKey(_._1)
      .flatMapGroupsWithState[Array[Byte], TrailingUpdate](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (bucket: Long, obs: Iterator[(Long, Long)], state: GroupState[Array[Byte]]) =>
          val buf = state.getOption.map(BufSerde.de[ThetaBuf])
            .getOrElse(new ThetaBuf(lgK))
          obs.foreach(t => buf.update(t._2.toString))
          state.update(BufSerde.ser(buf))
          Iterator(TrailingUpdate(bucket, Math.round(buf.result.getEstimate)))
      }
  }

  /**
   * Exact twin on the raw events — the oracle shape: every event joins
   * each of the `window` trailing targets, then COUNT(DISTINCT) per
   * target. W corpus shuffles; correct at any cardinality, priced for
   * verification and small data, not for 100 TB (that is what the sketch
   * form above is for).
   */
  def trailingUniquesExact(df: DataFrame, keyCol: String, tsCol: String,
                           bucketSize: Long, window: Int): DataFrame = {
    require(bucketSize > 0 && window >= 1, "bucketSize/window must be positive")
    val d = df.filter(col(tsCol).isNotNull && col(keyCol).isNotNull)
      .select(expr(s"CAST($tsCol AS BIGINT) div ${bucketSize}L").as("bucket"),
        col(keyCol).as("__k"))
    val perBucket = d.groupBy("bucket")
      .agg(count_distinct(col("__k")).as("n_bucket"))
    val expanded = d.withColumn("tb", explode(sequence(col("bucket"),
        col("bucket") + lit(window - 1L))))
      .groupBy(col("tb").as("bucket"))
      .agg(count_distinct(col("__k")).as("n_trailing"))
    perBucket.join(expanded, "bucket")
      .select(col("bucket"), col("n_bucket"), col("n_trailing"))
  }
}
