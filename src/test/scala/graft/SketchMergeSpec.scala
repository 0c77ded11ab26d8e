package graft

import graft.agg._
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}

/**
 * Partial/final merge conformance: build two independently-updated partial
 * buffers, round-trip both through Java serialization (the form the
 * buffers take across the shuffle and in stored partials), merge, and
 * assert exact results — the contract the reference proves with its
 * two-partial combine tests (JoinBoltTest.java:696-893). The
 * [[SketchPartial]] cases run the same contract through a real `df.agg` /
 * `groupBy.agg` over four input partitions, so Spark's partial → serialize
 * → final path executes, for the partial kinds and for the finishing kinds
 * over raw input and over partial bytes.
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

  test("topKRows finish: threshold filters, ties break by key") {
    val b = new FreqItemsBuf(64)
    Seq("x", "x", "y", "y", "z").foreach(b.update)
    val rows = SketchAggregators.topKRows(b, k = 2, threshold = 2L)
    assert(rows.map(r => (r.key, r.count)) === Seq(("x", 2L), ("y", 2L)))
  }

  test("KLL PMF/CDF emit the sketch's own mass in estimation mode (n >> k)") {
    val points = Array(100.0, 500.0)
    val buf = new KllBuf(8) // tiny k → estimation
    (1 to 100000).foreach(i => buf.update(((i * 7919) % 1000).toDouble))
    val s = buf.result
    assert(s.isEstimationMode)
    val rows = SketchAggregators.distRows(buf, "PMF", points.toSeq)
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
    val qb = new KllBuf(1024)
    (1 to 100).foreach(i => qb.update(i.toDouble))
    assert(SketchAggregators.distRows(qb, "QUANTILE", Nil, numPoints = 5).map(_.quantile) ===
      Seq(0.0, 0.25, 0.5, 0.75, 1.0))
    // PMF numPoints 3 over values 0..100 → splits {0, 50, 100}: counts are
    // (-∞,0)=0, [0,50)=50, [50,100)=50, [100,∞)=1 — the reference's
    // generated-domain shape (FilterBoltTest.java:741-786)
    val pb = new KllBuf(1024)
    (0 to 100).foreach(i => pb.update(i.toDouble))
    val rows = SketchAggregators.distRows(pb, "PMF", Nil, numPoints = 3)
    assert(rows.map(_.range) === Seq("(-∞, 0.0)", "[0.0, 50.0)", "[50.0, 100.0)", "[100.0, +∞)"))
    assert(rows.map(_.count) === Seq(0L, 50L, 50L, 1L))
  }

  test("LINEAR PMF on a degenerate domain (min == max) collapses to one split") {
    val b = new KllBuf(1024)
    (1 to 5).foreach(_ => b.update(7.0)) // one distinct value
    // duplicate splits would throw in getPMF
    val rows = SketchAggregators.distRows(b, "PMF", Nil, numPoints = 3)
    assert(rows.map(_.range) === Seq("(-∞, 7.0)", "[7.0, +∞)"))
    assert(rows.map(_.count) === Seq(0L, 5L))
  }

  // --- SketchPartial: the native partial aggregate through Spark ---
  import SketchPartial.{Capped, FreqItems, Kll, Theta, col => partial}

  /** `n` rows over four partitions: (g = i % 3, s = "k" + (i % 500),
    * d = i, every 10th s and d null, id = i). */
  private def rows(n: Int): DataFrame =
    spark.range(n).repartition(4).select(
      (col("id") % 3).as("g"),
      when(col("id") % 10 =!= 7, concat(lit("k"), (col("id") % 500).cast("string")))
        .as("s"),
      when(col("id") % 10 =!= 7, col("id").cast("double")).as("d"),
      col("id"))

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

  // --- SketchPartial finishing kinds: raw input or partial bytes ---
  import SketchPartial.{FreqItemsTopK, KllDistribution, ThetaEstimate}

  /** The (group, value) rows of `df` as a map. */
  private def byGroup(df: DataFrame): Map[Long, Any] =
    df.collect().map(r => r.getLong(0) -> r.get(1)).toMap

  test("ThetaEstimate: exact distinct count from raw input and from partial bytes") {
    val df = rows(3000)
    assert(df.agg(partial(col("s"), ThetaEstimate(12))).head().getLong(0) === 450L)
    val parts = df.groupBy("g").agg(partial(col("s"), Theta(12)).as("sk"))
    assert(parts.agg(partial(col("sk"), ThetaEstimate(12))).head().getLong(0) === 450L)
    val expect = (0 until 3000).filter(_ % 10 != 7).groupBy(i => (i % 3).toLong)
      .map { case (g, is) => g -> is.map(_ % 500).distinct.size.toLong }
    assert(byGroup(df.groupBy("g").agg(partial(col("s"), ThetaEstimate(12)))) === expect)
    assert(byGroup(parts.groupBy("g").agg(partial(col("sk"), ThetaEstimate(12)))) === expect)
    // no input rows: the estimate finishes to 0
    assert(df.filter(lit(false)).agg(partial(col("s"), ThetaEstimate(12))).head().getLong(0) === 0L)
  }

  test("KllDistribution: QUANTILE/PMF/CDF rows equal the driver-side finish, raw and bytes") {
    val df = rows(1000)
    val local = new KllBuf(2048)
    (0 until 1000).filter(_ % 10 != 7).foreach(i => local.update(i.toDouble))
    val parts = df.groupBy("g").agg(partial(col("d"), Kll(2048)).as("sk"))
    def distRowsOf(df: DataFrame): Seq[DistRow] =
      df.head().getSeq[org.apache.spark.sql.Row](0).map(r =>
        DistRow(r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    val kinds = Seq(
      KllDistribution("QUANTILE", Seq(0.0, 0.1, 0.5, 0.9, 1.0), 2048),
      KllDistribution("QUANTILE", Nil, 2048, numPoints = 5),
      KllDistribution("PMF", Seq(100.0, 500.0), 2048),
      KllDistribution("PMF", Nil, 2048, numPoints = 4),
      KllDistribution("CDF", Seq(100.0, 500.0), 2048))
    kinds.foreach { kind =>
      val expect = SketchAggregators.distRows(local, kind.dtype, kind.points, kind.numPoints)
      assert(expect.nonEmpty)
      assert(distRowsOf(df.agg(partial(col("d"), kind))) === expect, kind)
      assert(distRowsOf(parts.agg(partial(col("sk"), kind))) === expect, kind)
    }
    // QUANTILE at explicit points is percentile_disc
    val values = (0 until 1000).filter(_ % 10 != 7).map(_.toDouble)
    assert(distRowsOf(df.agg(partial(col("d"), kinds.head))).map(_.value) ===
      Seq(0.0, 0.1, 0.5, 0.9, 1.0).map(p => values(math.max(0, Math.ceil(p * values.size).toInt - 1))))
    // no input rows: an empty distribution
    assert(distRowsOf(df.filter(lit(false)).agg(partial(col("d"), kinds.head))).isEmpty)
  }

  test("FreqItemsTopK: threshold and (-count, key) tie order, raw and bytes") {
    val items = Seq.fill(5)("a") ++ Seq.fill(3)("c") ++ Seq.fill(3)("b") ++
      Seq.fill(3)("e") ++ Seq("d") ++ Seq[String](null, null)
    val df = spark.createDataFrame(items.zipWithIndex.map { case (s, i) => (i % 3L, s) })
      .toDF("g", "s").repartition(4)
    val parts = df.groupBy("g").agg(partial(col("s"), FreqItems(64)).as("sk"))
    def topOf(df: DataFrame): Seq[(String, Long)] =
      df.head().getSeq[org.apache.spark.sql.Row](0).map(r => (r.getString(0), r.getLong(1)))
    val expect = Seq(("a", 5L), ("b", 3L), ("c", 3L))
    for ((in, c) <- Seq(df -> col("s"), parts -> col("sk"))) {
      assert(topOf(in.agg(partial(c, FreqItemsTopK(3, 2L, 64)))) === expect)
      assert(topOf(in.agg(partial(c, FreqItemsTopK(10, 4L, 64)))) === Seq(("a", 5L)))
    }
    val local = new FreqItemsBuf(64)
    items.filter(_ != null).foreach(local.update)
    assert(SketchAggregators.topKRows(local, 3, 2L).map(r => (r.key, r.count)) === expect)
    assert(topOf(df.filter(lit(false)).agg(partial(col("s"), FreqItemsTopK(3)))).isEmpty)
  }

  test("finishing kinds: bytes over two unioned partial frames equal raw input over the same rows") {
    val df = rows(3000)
    val (h0, h1) = (df.filter(col("id") % 2 === 0), df.filter(col("id") % 2 === 1))
    val s = col("s")
    val d = col("d")
    def parts(kind: SketchPartial.Kind[_ <: AnyRef], in: org.apache.spark.sql.Column) =
      h0.groupBy("g").agg(partial(in, kind).as("sk"))
        .unionByName(h1.groupBy("g").agg(partial(in, kind).as("sk")))
    val cases = Seq[(SketchPartial.Kind[_ <: AnyRef], SketchPartial.Kind[_ <: AnyRef],
        org.apache.spark.sql.Column)](
      (Theta(12), ThetaEstimate(12), s),
      (Kll(2048), KllDistribution("QUANTILE", Seq(0.25, 0.5, 0.75), 2048), d),
      (Kll(2048), KllDistribution("CDF", Seq(500.0, 2000.0), 2048), d),
      (FreqItems(1024), FreqItemsTopK(5), s))
    cases.foreach { case (p, f, in) =>
      val raw = byGroup(df.groupBy("g").agg(partial(in, f)))
      val merged = byGroup(parts(p, in).groupBy("g").agg(partial(col("sk"), f)))
      assert(raw.size === 3)
      assert(merged === raw, f)
    }
  }

  test("ThetaEstimate requireExact: a union that left the exact regime throws") {
    // two partials of 12 distinct keys each, both exact at lgK = 4
    // (16 nominal entries); their union holds 24
    val keys = (0 until 12).map(i => (0L, s"a$i")) ++ (0 until 12).map(i => (1L, s"b$i"))
    val parts = spark.createDataFrame(keys).toDF("g", "s").repartition(4)
      .groupBy("g").agg(partial(col("s"), Theta(4)).as("sk"))
    assert(byGroup(parts.groupBy("g").agg(partial(col("sk"), ThetaEstimate(4, requireExact = true)))) ===
      Map(0L -> 12L, 1L -> 12L))
    val e = intercept[Exception] {
      parts.agg(partial(col("sk"), ThetaEstimate(4, requireExact = true))).collect()
    }
    val msg = "requirement failed: theta union left the exact regime (lgK=4): the merged " +
      "distinct count is now an estimate. Raise lgK or drop requireExact."
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains(msg))), e.getMessage)
    // without the gate the same union finishes to an estimate
    assert(parts.agg(partial(col("sk"), ThetaEstimate(4))).head().getLong(0) > 0L)
  }

  test("finishing kinds: the type check rejects a wrong input type") {
    def rejected(in: org.apache.spark.sql.Column, kind: SketchPartial.Kind[_ <: AnyRef]): String =
      intercept[AnalysisException] {
        spark.range(10).agg(partial(in, kind)).collect()
      }.getMessage
    assert(rejected(col("id"), ThetaEstimate(12)).contains("needs a string or binary input, got bigint"))
    assert(rejected(col("id").cast("string"), KllDistribution("QUANTILE", Seq(0.5), 64))
      .contains("needs a double or binary input, got string"))
    assert(rejected(col("id").cast("double"), FreqItemsTopK(3))
      .contains("needs a string or binary input, got double"))
    // only the finishing kinds merge bytes: a partial kind takes raw input
    assert(rejected(col("id").cast("string").cast("binary"), Theta(12))
      .contains("needs a string input, got binary"))
  }

  test("every sketch finisher plans a native SketchPartial, never a ScalaAggregator") {
    import graft.compile.QueryCompiler
    import graft.model._
    import graft.operators._
    val df = rows(100)
    val frames = Seq(
      "COUNT DISTINCT" -> QueryCompiler.run(df, QuerySpec("cd", aggregation = CountDistinct(Seq("s")))),
      "DISTRIBUTION" -> QueryCompiler.run(df, QuerySpec("q", aggregation =
        Distribution("d", DistributionType.QUANTILE, Seq(0.5)))),
      "TOP K" -> QueryCompiler.run(df, QuerySpec("tk", aggregation = TopK(Seq("s" -> "s"), k = 2))),
      "GroupedCountDistinct" -> GroupedCountDistinct.countDistinct(df, Seq("g"), Seq("s")),
      "GroupedTopK" -> GroupedTopK.topK(df, Seq("g"), Seq("s" -> "s"), k = 2),
      "GroupedDistribution" -> GroupedDistribution.quantiles(df, Seq("g"), "d", Seq(0.5)),
      "mergedDistinct" -> SketchSetOps.mergedDistinct(SketchSetOps.thetaPartials(df, "g", Seq("s"))),
      "mergedQuantiles" -> SketchSetOps.mergedQuantiles(
        SketchSetOps.kllPartials(df, "g", "d"), Seq(0.5)),
      "mergedTopK" -> SketchSetOps.mergedTopK(SketchSetOps.freqPartials(df, "g", "s"), k = 2),
      "TrailingUniques" -> TrailingUniques.trailingUniques(df, "s", "id", 10L, 3))
    frames.foreach { case (site, f) =>
      val exprs = scala.collection.mutable.ArrayBuffer.empty[
        org.apache.spark.sql.catalyst.expressions.Expression]
      f.queryExecution.analyzed.foreach(_.expressions.foreach(_.foreach(exprs += _)))
      val udafs = exprs.collect {
        case a: org.apache.spark.sql.execution.aggregate.ScalaAggregator[_, _, _] => a.nodeName
      }
      assert(udafs.isEmpty, s"$site plans udaf(Aggregator) columns: $udafs")
      assert(exprs.exists(_.isInstanceOf[SketchPartial[_]]), s"$site plans no SketchPartial")
    }
  }
}
