package graft.streaming

import graft.compile.ExprCompiler
import graft.model._
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues, ValueState}

/**
 * Scale-out RAW take-n on Spark 4's `transformWithState` — the flagged
 * alternative backend to the runner's driver-held [[AggState]]
 * (reference RAW semantics: JoinBoltTest.java:644-660 keeps an
 * arbitrary first-`size` subset of matching records).
 *
 * WHY a second backend: the default path renders each RAW query's
 * matches executor-side (`to_json` + capped collect) but holds the
 * taken records in driver memory — bounded at O(queries × cap), which
 * is exactly right for the reference's interactive sizes (RAW cap 5-100
 * × hundreds of queries) and wrong for pipeline-sized takes (10⁴
 * queries × 10⁴-record caps ≈ driver OOM). On this path the per-query
 * taken-count lives in RocksDB-backed `ValueState` keyed by query id,
 * the taken records flow straight to the sink without ever landing on
 * the driver, and a restart resumes from the committed per-query counts
 * (checkpointed state, pinned by `StreamingRestartSpec`-style restart in
 * the conformance spec).
 *
 * PARITY by construction with the driver path: record rendering is the
 * SAME compiled projection + `to_json(struct(...))` the runner's shared
 * pass builds (the RAW input of [[QueryRunner]]'s `JobAggregate`), and the per-query cap
 * is the SAME [[AggState.rawCap]]. What differs is only WHICH arbitrary
 * subset of >cap matches survives — the reference contract never
 * specified that either. `QueryRunnerSpec` pins the two backends equal
 * on counts always and record-for-record whenever matches ≤ cap.
 *
 * Scale shape: one scan per micro-batch feeds every query's filter
 * branch (union of gated projections — Spark collapses the branches
 * over the shared source), the only shuffle is the groupByKey on
 * query id (tiny: ≤ cap rows per query per batch survive the
 * pre-state `limit`-style gate below), and state per key is ONE int.
 * Requires the RocksDB state store provider
 * (`spark.sql.streaming.stateStore.providerClass`), set by [[drive]].
 */
object RawTws {

  /** (query_id, record) rows for one micro-batch/stream: each RAW
    * spec's compiled filter gates the SAME `to_json` record rendering
    * the driver path uses. N specs become N gated branches over one
    * source — at 1000 executors this is one shared pass, not N scans. */
  def rawRecords(stream: DataFrame, specs: Seq[QuerySpec]): Dataset[(String, String)] = {
    require(specs.nonEmpty, "no RAW specs")
    specs.foreach(s => require(s.aggregation.isInstanceOf[Raw],
      s"${s.id} is not a RAW query"))
    val schema = Some(stream.schema)
    val spark = stream.sparkSession
    import spark.implicits._
    val branches = specs.map { spec =>
      val gated = spec.filter match {
        case Some(f) => stream.filter(ExprCompiler.compile(f, schema))
        case None => stream
      }
      val recordStruct: Column = spec.projection match {
        case Some(fields) => struct(fields.map { case (nm, e) =>
          ExprCompiler.compile(e, schema).as(nm) }: _*)
        case None => struct(stream.schema.fieldNames.map(col).toIndexedSeq: _*)
      }
      gated.select(lit(spec.id).as("query_id"),
        to_json(recordStruct).as("record"))
    }
    branches.reduce(_ unionByName _).as[(String, String)]
  }

  /** Per-key take-n processor: state is ONE int (records taken so far);
    * rows past the cap are dropped and never reach the sink. */
  class TakeNProcessor(caps: Map[String, Int])
    extends StatefulProcessor[String, (String, String), (String, String)] {
    @transient private var taken: ValueState[Int] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      taken = getHandle.getValueState[Int]("taken", Encoders.scalaInt,
        TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[(String, String)],
                                 timers: TimerValues)
        : Iterator[(String, String)] = {
      val cap = caps.getOrElse(key, 0)
      val cur = if (taken.exists()) taken.get() else 0
      if (cur >= cap) Iterator.empty
      else {
        // materialize at most (cap - cur) rows — the iterator is
        // otherwise lazy and the state update must see the final count
        val out = rows.take(cap - cur).toVector
        taken.update(cur + out.size)
        out.iterator
      }
    }
  }

  /** The take-n operator: caps from [[AggState.rawCap]] so both
    * backends agree on the window-include interaction. */
  def takeN(records: Dataset[(String, String)],
            specs: Seq[QuerySpec]): Dataset[(String, String)] = {
    val caps = specs.map(s => s.id -> AggState.rawCap(s)).toMap
    val spark = records.sparkSession
    import spark.implicits._
    records.groupByKey(_._1)
      .transformWithState(new TakeNProcessor(caps),
        TimeMode.None(), OutputMode.Append())
  }

  /** Drive the flagged backend end to end: per-batch parquet under
    * `outPath/batch=<id>` with idempotent overwrite (the same sink
    * discipline as every streaming twin in this engine). Sets the
    * RocksDB provider the transformWithState operator requires. */
  def drive(stream: DataFrame, specs: Seq[QuerySpec],
            outPath: String, checkpoint: String): StreamingQuery = {
    val spark = stream.sparkSession
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    takeN(rawRecords(stream, specs), specs)
      .toDF("query_id", "record")
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
        ()
      }
      .start()
  }
}
