package graft

import graft.agg._
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}

/**
 * Partial/final merge conformance: build two independently-updated partial
 * buffers, round-trip both through Java serialization (the shuffle boundary
 * our Aggregator buffer encoders use), merge, and assert exact results —
 * the contract the reference proves with its two-partial combine tests
 * (JoinBoltTest.java:696-893). The native [[SketchPartial]] cases run the
 * same contract through a real `df.agg` / `groupBy.agg` over four input
 * partitions, so Spark's partial → serialize → final path executes.
 */
class SketchMergeSpec extends SparkTestBase {

  private def roundTrip[T <: AnyRef](x: T): T = {
    val bos = new ByteArrayOutputStream()
    val oos = new ObjectOutputStream(bos)
    oos.writeObject(x); oos.close()
    val ois = new ObjectInputStream(new ByteArrayInputStream(bos.toByteArray))
    ois.readObject().asInstanceOf[T]
  }

  // --- Theta (COUNT_DISTINCT) — mirrors JoinBoltTest.java:696-735:
  // two overlapping sketches, exact regime, merged estimate is exact.
  test("ThetaBuf: two overlapping partials merge to exact distinct count") {
    val b1 = new ThetaBuf(12)
    val b2 = new ThetaBuf(12)
    (0 until 256).foreach(i => b1.update(s"k$i"))
    (128 until 384).foreach(i => b2.update(s"k$i")) // 128 overlap
    val merged = roundTrip(b1).merge(roundTrip(b2))
    assert(Math.round(merged.result.getEstimate) === 384L)
    assert(!merged.result.isEstimationMode)
  }

  test("ThetaBuf: serde round-trip preserves the estimate") {
    val b = new ThetaBuf(12)
    (0 until 100).foreach(i => b.update(s"x$i"))
    assert(Math.round(roundTrip(b).result.getEstimate) === 100L)
  }

  test("ThetaBuf: merging an empty partial is a no-op") {
    val b1 = new ThetaBuf(12)
    (0 until 10).foreach(i => b1.update(s"x$i"))
    val merged = b1.merge(roundTrip(new ThetaBuf(12)))
    assert(Math.round(merged.result.getEstimate) === 10L)
  }

  // --- KLL (DISTRIBUTION) — mirrors JoinBoltTest.java:789-844.
  test("KllBuf: two partials merge; quantiles exact while n <= k") {
    val b1 = new KllBuf(1024)
    val b2 = new KllBuf(1024)
    (1 to 300).foreach(i => b1.update(i.toDouble))
    (301 to 500).foreach(i => b2.update(i.toDouble))
    val s = roundTrip(b1).merge(roundTrip(b2)).result
    assert(s.getN === 500L)
    import org.apache.datasketches.quantilescommon.QuantileSearchCriteria.INCLUSIVE
    // INCLUSIVE == percentile_disc: smallest value with rank >= p
    assert(s.getQuantile(0.5, INCLUSIVE) === 250.0)
    assert(s.getQuantile(0.0, INCLUSIVE) === 1.0)
    assert(s.getQuantile(1.0, INCLUSIVE) === 500.0)
  }

  test("KllBuf: exact regime holds at the scale the oracle queries use") {
    // q_dist_* run on customer (15000 rows at sf0.1) with k=32768: every
    // update must stay in the level-0 buffer (no compaction → exact).
    val b = new KllBuf(32768)
    val rnd = new scala.util.Random(42)
    val xs = Array.fill(15000)(rnd.nextDouble() * 10000 - 1000)
    xs.foreach(b.update)
    val s = b.result
    val sorted = xs.sorted
    import org.apache.datasketches.quantilescommon.QuantileSearchCriteria.INCLUSIVE
    for (p <- Seq(0.25, 0.5, 0.75)) {
      val idx = Math.ceil(p * xs.length).toInt - 1 // percentile_disc index
      assert(s.getQuantile(p, INCLUSIVE) === sorted(idx))
    }
    assert(s.getPMF(Array(0.0), org.apache.datasketches.quantilescommon.QuantileSearchCriteria.EXCLUSIVE)(0)
      === sorted.count(_ < 0.0).toDouble / xs.length)
  }

  // --- FrequentItems (TOP_K) — mirrors JoinBoltTest.java:846-893.
  test("FreqItemsBuf: two partials merge to exact counts in exact regime") {
    val b1 = new FreqItemsBuf(64)
    val b2 = new FreqItemsBuf(64)
    (1 to 7).foreach(_ => b1.update("A"))
    (1 to 2).foreach(_ => b1.update("B"))
    (1 to 3).foreach(_ => b2.update("A"))
    (1 to 1).foreach(_ => b2.update("B"))
    val merged = roundTrip(b1).merge(roundTrip(b2))
    val sk = merged.result
    assert(sk.getEstimate("A") === 10L)
    assert(sk.getEstimate("B") === 3L)
  }

  test("FreqItemsTopKAgg finish: threshold filters, ties break by key") {
    val agg = new FreqItemsTopKAgg(k = 2, threshold = 2L, maxMapSize = 64)
    val b = new FreqItemsBuf(64)
    Seq("x", "x", "y", "y", "z").foreach(b.update)
    val rows = agg.finish(b)
    assert(rows.map(r => (r.key, r.count)) === Seq(("x", 2L), ("y", 2L)))
  }

  test("KLL PMF/CDF emit the sketch's own mass in estimation mode (n >> k)") {
    val points = Array(100.0, 500.0)
    val agg = new KllDistributionAgg("PMF", points, k = 8) // tiny k → estimation
    val buf = agg.zero
    (1 to 100000).foreach(i => buf.update(((i * 7919) % 1000).toDouble))
    val s = buf.result
    assert(s.isEstimationMode)
    val rows = agg.finish(buf)
    // probability IS getPMF's mass, not the rounded count re-divided
    val expect = s.getPMF(points,
      org.apache.datasketches.quantilescommon.QuantileSearchCriteria.EXCLUSIVE)
    assert(rows.map(_.probability) === expect.toSeq)
    assert(math.abs(rows.map(_.probability).sum - 1.0) < 1e-9)
    // counts remain the rounded masses
    assert(rows.map(_.count) === expect.toSeq.map(p => Math.round(p * s.getN)))
  }

  test("LINEAR distribution: QUANTILE ranks over [0,1], PMF splits from sketch min/max") {
    // QUANTILE numPoints 5 == explicit {0, .25, .5, .75, 1}
    val q = new KllDistributionAgg("QUANTILE", Array.empty, k = 1024, numPoints = 5)
    val qb = q.zero
    (1 to 100).foreach(i => qb.update(i.toDouble))
    assert(q.finish(qb).map(_.quantile) === Seq(0.0, 0.25, 0.5, 0.75, 1.0))
    // PMF numPoints 3 over values 0..100 → splits {0, 50, 100}: counts are
    // (-∞,0)=0, [0,50)=50, [50,100)=50, [100,∞)=1 — the reference's
    // generated-domain shape (FilterBoltTest.java:741-786)
    val p = new KllDistributionAgg("PMF", Array.empty, k = 1024, numPoints = 3)
    val pb = p.zero
    (0 to 100).foreach(i => pb.update(i.toDouble))
    val rows = p.finish(pb)
    assert(rows.map(_.range) === Seq("(-∞, 0.0)", "[0.0, 50.0)", "[50.0, 100.0)", "[100.0, +∞)"))
    assert(rows.map(_.count) === Seq(0L, 50L, 50L, 1L))
  }

  test("LINEAR PMF on a degenerate domain (min == max) collapses to one split") {
    val p = new KllDistributionAgg("PMF", Array.empty, k = 1024, numPoints = 3)
    val b = p.zero
    (1 to 5).foreach(_ => b.update(7.0)) // one distinct value
    val rows = p.finish(b) // duplicate splits would throw in getPMF
    assert(rows.map(_.range) === Seq("(-∞, 7.0)", "[7.0, +∞)"))
    assert(rows.map(_.count) === Seq(0L, 5L))
  }

  // --- SketchPartial: the native partial aggregate through Spark ---
  import SketchPartial.{Capped, FreqItems, Kll, Theta, col => partial}

  /** `n` rows over four partitions: (g = i % 3, s = "k" + (i % 500),
    * d = i, every 10th s and d null). */
  private def rows(n: Int): DataFrame =
    spark.range(n).repartition(4).select(
      (col("id") % 3).as("g"),
      when(col("id") % 10 =!= 7, concat(lit("k"), (col("id") % 500).cast("string")))
        .as("s"),
      when(col("id") % 10 =!= 7, col("id").cast("double")).as("d"))

  test("SketchPartial Theta: exact distinct counts through df.agg and groupBy.agg") {
    val df = rows(3000)
    val bytes = df.agg(partial(col("s"), Theta(12))).head().getAs[Array[Byte]](0)
    val sk = BufSerde.de[ThetaBuf](bytes).result
    assert(!sk.isEstimationMode)
    assert(Math.round(sk.getEstimate) === 450L) // k(j) for j < 500, j % 10 != 7
    // the bytes are BufSerde of the buffer, whatever the merge order
    val local = new ThetaBuf(12)
    (0 until 3000).filter(_ % 10 != 7).foreach(i => local.update(s"k${i % 500}"))
    assert(bytes.toSeq === BufSerde.ser(local).toSeq)
    val byG = df.groupBy("g").agg(partial(col("s"), Theta(12)).as("sk"))
      .collect().map(r => r.getLong(0) ->
        Math.round(BufSerde.de[ThetaBuf](r.getAs[Array[Byte]](1)).result.getEstimate)).toMap
    val expect = (0 until 3000).filter(_ % 10 != 7).groupBy(i => (i % 3).toLong)
      .map { case (g, is) => g -> is.map(_ % 500).distinct.size.toLong }
    assert(byG === expect)
  }

  test("SketchPartial KLL: quantiles exact in the exact regime, nulls skipped") {
    import org.apache.datasketches.quantilescommon.QuantileSearchCriteria.INCLUSIVE
    val df = rows(1000)
    val values = (0 until 1000).filter(_ % 10 != 7).map(_.toDouble).sorted
    def disc(vs: Seq[Double], p: Double) = vs(math.max(0, Math.ceil(p * vs.size).toInt - 1))
    val s = BufSerde.de[KllBuf](
      df.agg(partial(col("d"), Kll(2048))).head().getAs[Array[Byte]](0)).result
    assert(s.getN === values.size.toLong)
    for (p <- Seq(0.0, 0.1, 0.5, 0.9, 1.0))
      assert(s.getQuantile(p, INCLUSIVE) === disc(values, p))
    df.groupBy("g").agg(partial(col("d"), Kll(2048)).as("sk")).collect()
      .foreach { r =>
        val vs = values.filter(_.toLong % 3 == r.getLong(0))
        val gs = BufSerde.de[KllBuf](r.getAs[Array[Byte]](1)).result
        assert(gs.getN === vs.size.toLong)
        assert(gs.getQuantile(0.5, INCLUSIVE) === disc(vs, 0.5))
      }
  }

  test("SketchPartial FrequentItems: exact counts through df.agg and groupBy.agg") {
    val df = rows(3000).select(col("g"), substring(col("s"), 1, 2).as("s"))
    val expect = (0 until 3000).filter(_ % 10 != 7)
      .groupBy(i => s"k${i % 500}".take(2)).map { case (k, is) => k -> is.size.toLong }
    val sk = BufSerde.de[FreqItemsBuf](
      df.agg(partial(col("s"), FreqItems(64))).head().getAs[Array[Byte]](0)).result
    assert(sk.getNumActiveItems === expect.size)
    expect.foreach { case (k, n) => assert(sk.getEstimate(k) === n, k) }
    df.groupBy("g").agg(partial(col("s"), FreqItems(64)).as("sk")).collect()
      .foreach { r =>
        val g = BufSerde.de[FreqItemsBuf](r.getAs[Array[Byte]](1)).result
        val ge = (0 until 3000).filter(i => i % 10 != 7 && i % 3 == r.getLong(0))
          .groupBy(i => s"k${i % 500}".take(2)).map { case (k, is) => k -> is.size.toLong }
        ge.foreach { case (k, n) => assert(g.getEstimate(k) === n, k) }
      }
  }

  test("SketchPartial RAW: truncates at cap across merges") {
    val kind = Capped(3)
    def buf(xs: String*) = { val b = kind.zero(); xs.foreach(kind.update(b, _)); b }
    val merged = kind.merge(kind.deserialize(kind.serialize(buf("a", "b"))),
      kind.deserialize(kind.serialize(buf("c", "d", "e"))))
    assert(merged.n === 3)
    assert(kind.result(merged).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .numElements() === 3)
    // through Spark: 4 partial buffers, each capped, merged under the cap
    val df = rows(100)
    val all = df.agg(partial(col("s"), Capped(5))).head().getSeq[String](0)
    assert(all.size === 5)
    assert(all.forall(_ != null))
    assert(all.toSet.subsetOf((0 until 100).filter(_ % 10 != 7).map(i => s"k$i").toSet))
    val byG = df.groupBy("g").agg(partial(col("s"), Capped(40)).as("r"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    // 33 or 34 rows per group, a few of them null: under the cap, all kept
    byG.foreach { case (g, rs) =>
      assert(rs.sorted === (0 until 100).filter(i => i % 10 != 7 && i % 3 == g)
        .map(i => s"k$i").sorted)
    }
  }

  test("SketchPartial: the type check rejects an uncast input") {
    val e = intercept[AnalysisException] {
      spark.range(10).agg(partial(col("id"), Theta(12))).collect()
    }
    assert(e.getMessage.contains("needs a string input, got bigint"), e.getMessage)
    intercept[AnalysisException] {
      spark.range(10).agg(partial(col("id").cast("string"), Kll(64))).collect()
    }
  }
}
