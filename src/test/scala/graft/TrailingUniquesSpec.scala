package graft

import graft.operators.TrailingUniques
import org.apache.spark.sql.functions._

/** Conformance for the sketch-merge trailing-window distinct counts:
  * the bucketed-sketch form must equal the exact W-way expansion on
  * every input while in the exact regime, including gap buckets. */
class TrailingUniquesSpec extends SparkTestBase {
  private val s = spark
  import s.implicits._

  private def run(rows: Seq[(Long, Long)], window: Int) = {
    val df = rows.toDF("user_id", "ts")
    def norm(d: org.apache.spark.sql.DataFrame) =
      d.select("bucket", "n_bucket", "n_trailing")
        .as[(Long, Long, Long)].collect().toSet
    val sk = norm(TrailingUniques.trailingUniques(df, "user_id", "ts",
      bucketSize = 10L, window = window))
    val ex = norm(TrailingUniques.trailingUniquesExact(df, "user_id", "ts",
      bucketSize = 10L, window = window))
    (sk, ex)
  }

  test("hand-computed: window slides keys out, gaps are skipped but still feed later windows") {
    // buckets: 0 -> {1,2}, 1 -> {2}, 3 -> {3}, 4 -> {1}
    val rows = Seq((1L, 1L), (2L, 5L), (2L, 12L), (3L, 33L), (1L, 44L))
    val (sk, ex) = run(rows, window = 2)
    assert(sk === ex)
    assert(sk === Set(
      (0L, 2L, 2L),  // {1,2}
      (1L, 1L, 2L),  // {2} trailing {1,2}
      (3L, 1L, 1L),  // bucket 2 empty: not emitted, and window(3)={2,3}->{3}
      (4L, 1L, 2L))) // {1} trailing {3,1}
  }

  test("window=1 degenerates to per-bucket uniques") {
    val rows = Seq((1L, 0L), (2L, 3L), (1L, 15L), (3L, 15L), (3L, 19L))
    val (sk, ex) = run(rows, window = 1)
    assert(sk === ex)
    assert(sk.forall { case (_, nb, nt) => nb == nt })
  }

  test("randomized: sketch form equals exact form across windows 1..5") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(400)((rnd.nextInt(25).toLong, rnd.nextInt(200).toLong))
    for (w <- 1 to 5) {
      val (sk, ex) = run(rows, w)
      assert(sk === ex, s"window=$w")
    }
  }

  test("a key active long ago leaves the trailing count (cumulative cannot express this)") {
    val rows = Seq((1L, 0L), (2L, 0L), (2L, 50L)) // key 1 only in bucket 0
    val (sk, ex) = run(rows, window = 3)
    assert(sk === ex)
    assert(sk.contains((5L, 1L, 1L))) // bucket 5 trailing {3,4,5} sees only key 2
  }

  test("streaming twin converges to the batch answer across micro-batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[TrailingUniques.Obs]
    val sq = TrailingUniques.trailingUniquesStream(mem.toDS(), window = 3)
      .writeStream.format("memory").queryName("tu_stream_out")
      .outputMode("update").start()
    val rows = Seq(
      TrailingUniques.Obs(1L, 0L), TrailingUniques.Obs(2L, 0L),
      TrailingUniques.Obs(2L, 1L), TrailingUniques.Obs(3L, 3L),
      TrailingUniques.Obs(1L, 4L), TrailingUniques.Obs(1L, 0L)) // replay dup
    try {
      mem.addData(rows.take(3)); sq.processAllAvailable()
      mem.addData(rows.drop(3)); sq.processAllAvailable()
    } finally sq.stop()
    // last update per bucket == batch sketch form on the same rows
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket").orderBy(col("__batch_order").desc)
    val streamed = spark.table("tu_stream_out")
      .withColumn("__batch_order", monotonically_increasing_id())
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("bucket", "nTrailing").as[(Long, Long)].collect().toMap
    val batch = TrailingUniques.trailingUniques(
        rows.map(o => (o.key, o.bucket * 10L)).toDF("user_id", "ts"),
        "user_id", "ts", bucketSize = 10L, window = 3)
      .select("bucket", "n_trailing").as[(Long, Long)].collect().toMap
    batch.foreach { case (b, n) =>
      assert(streamed.get(b).contains(n), s"bucket $b: $streamed vs $batch")
    }
  }

  test("streaming twin survives a third micro-batch touching the same bucket") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[TrailingUniques.Obs]
    val sq = TrailingUniques.trailingUniquesStream(mem.toDS(), window = 1)
      .writeStream.format("memory").queryName("tu_stream_three")
      .outputMode("update").start()
    try {
      (1L to 3L).foreach { k =>
        mem.addData(Seq(TrailingUniques.Obs(k, 0L))); sq.processAllAvailable()
      }
    } finally sq.stop()
    assert(sq.exception.isEmpty, sq.exception)
    val counts = spark.table("tu_stream_three").select("nTrailing").as[Long].collect()
    assert(counts.sorted.toSeq === Seq(1L, 2L, 3L))
  }

  test("requireExact trips when a merged window leaves the exact regime") {
    // lgK = 4 -> nominal 16 entries; 200 uniques in one window blows it
    val df = (1L to 200L).map(k => (k, 1L)).toDF("user_id", "ts")
    val e = intercept[Exception] {
      TrailingUniques.trailingUniques(df, "user_id", "ts", 10L, 2,
        lgK = 4, requireExact = true).collect()
    }
    assert(e.getMessage.contains("exact regime"))
    // and the estimating form still answers within theta's RSE
    val est = TrailingUniques.trailingUniques(df, "user_id", "ts", 10L, 2,
      lgK = 4, requireExact = false)
      .select("n_trailing").as[Long].collect().head
    assert(est > 100L && est < 400L)
  }
}
