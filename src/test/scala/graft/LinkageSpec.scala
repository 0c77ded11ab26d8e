package graft

import graft.operators.Linkage
import org.apache.spark.sql.functions._

/** Hand-computed conformance for the Fellegi–Sunter linkage scorer. */
class LinkageSpec extends SparkTestBase {
  private val s = spark
  import s.implicits._

  test("hand-computed weights: two fields, known m/u, fixed-order score") {
    // 4 blocked pairs, labels: 2 matches, 2 non-matches.
    // field a: agrees on both matches, one non-match -> m=(2+.5)/3, u=(1+.5)/3
    // field b: agrees on one match, no non-match  -> m=(1+.5)/3, u=(0+.5)/3
    val pairs = Seq(
      (1L, 1L, 1, 1, true),
      (2L, 2L, 1, 0, true),
      (1L, 2L, 1, 0, false),
      (2L, 1L, 0, 0, false)).toDF("l_id", "r_id", "agree_a", "agree_b", "is_match")
    val out = Linkage.score(pairs, Seq("a", "b"), "is_match")
      .select("l_id", "r_id", "score").as[(Long, Long, Double)].collect()
      .map { case (l, r, sc) => (l, r) -> sc }.toMap
    def l2(x: Double) = math.log(x) / math.log(2)
    val (ma, ua) = (2.5 / 3, 1.5 / 3)
    val (mb, ub) = (1.5 / 3, 0.5 / 3)
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out((1L, 1L)) === r4(l2(ma / ua) + l2(mb / ub)))
    assert(out((2L, 2L)) === r4(l2(ma / ua) + l2((1 - mb) / (1 - ub))))
    assert(out((1L, 2L)) === r4(l2(ma / ua) + l2((1 - mb) / (1 - ub))))
    assert(out((2L, 1L)) === r4(l2((1 - ma) / (1 - ua)) + l2((1 - mb) / (1 - ub))))
  }

  test("matches outscore non-matches on a planted fixture and blocking bounds the pairs") {
    val left = (1L to 40L).map(i => (i, i % 4, s"name$i", s"seg${i % 3}"))
      .toDF("l_id", "blk", "l_name", "l_seg")
    // right: same ids, name kept, seg perturbed for every 5th id
    val right = (1L to 40L).map(i =>
        (i, i % 4, s"name$i", if (i % 5 == 0) "segX" else s"seg${i % 3}"))
      .toDF("r_id", "blk", "r_name", "r_seg")
    val pairs = Linkage.blockedPairs(left, right, Seq("blk"), Seq(
        "name" -> Linkage.fieldEq("l_name", "r_name"),
        "seg" -> Linkage.fieldEq("l_seg", "r_seg")))
      .withColumn("is_match", col("l_id") === col("r_id"))
    assert(pairs.count() === 4L * 10 * 10) // 4 blocks of 10x10 — never 40x40
    val scored = Linkage.score(pairs, Seq("name", "seg"), "is_match")
    val minMatch = scored.filter(col("is_match"))
      .agg(min("score")).as[Double].head()
    val maxNon = scored.filter(!col("is_match"))
      .agg(max("score")).as[Double].head()
    assert(minMatch > maxNon,
      s"worst match $minMatch must outscore best non-match $maxNon")
  }

  test("blockedPairs is an equi-join on the block key — never a cartesian") {
    val left = Seq((1L, 1, "a")).toDF("l_id", "blk", "l_v")
    val right = Seq((1L, 1, "a")).toDF("r_id", "blk", "r_v")
    val plan = Linkage.blockedPairs(left, right, Seq("blk"),
        Seq("v" -> Linkage.fieldEq("l_v", "r_v")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    // the only nested-loop allowed anywhere in linkage is score()'s
    // one-row broadcast of the m/u counts
  }

  test("degenerate always-unique field stays finite via smoothing") {
    val pairs = Seq(
      (1L, 1L, 1, true), (2L, 2L, 1, true), (1L, 2L, 0, false))
      .toDF("l_id", "r_id", "agree_u", "is_match")
    val out = Linkage.score(pairs, Seq("u"), "is_match")
      .select("score").as[Double].collect()
    assert(out.forall(v => !v.isInfinite && !v.isNaN))
  }

  test("scoreBlockedByFrequency is bit-identical to blockedPairs+score (r14 single-pass rewrite)") {
    // nulls, a derived bucket key, unbalanced blocks, ids present on one
    // side only — every branch the frequency factorization must match
    val left = Seq[(java.lang.Long, Integer, String, java.lang.Double)](
      (1L, 1, "a", 100.0), (2L, 1, "b", 1100.0), (3L, 1, null, 2100.0),
      (4L, 2, "a", 950.0), (5L, 2, "a", null), (7L, 2, "c", 3100.0))
      .toDF("l_id", "blk", "l_name", "l_bal")
    val right = Seq[(java.lang.Long, Integer, String, java.lang.Double)](
      (1L, 1, "a", 140.0), (2L, 1, "x", 1900.0), (3L, 1, null, 2050.0),
      (4L, 2, "a", 80.0), (6L, 2, "a", 999.0), (5L, 2, null, 777.0))
      .toDF("r_id", "blk", "r_name", "r_bal")
    val fields = Seq(
      ("name", col("l_name"), col("r_name")),
      ("bal", floor(col("l_bal") / 1000), floor(col("r_bal") / 1000)))
    val viaPairs = Linkage.score(
      Linkage.blockedPairs(left, right, Seq("blk"), Seq(
          "name" -> Linkage.fieldEq("l_name", "r_name"),
          "bal" -> (col("l_bal").isNotNull && col("r_bal").isNotNull &&
            floor(col("l_bal") / 1000) === floor(col("r_bal") / 1000))))
        .withColumn("is_match", col("l_id") === col("r_id"))
        .select("l_id", "r_id", "agree_name", "agree_bal", "is_match"),
      Seq("name", "bal"), "is_match")
    val viaFreq = Linkage.scoreBlockedByFrequency(left, right, Seq("blk"),
      fields, "l_id", "r_id")
      .select("l_id", "r_id", "agree_name", "agree_bal", "is_match", "score")
    val a = viaPairs.select("l_id", "r_id", "agree_name", "agree_bal",
      "is_match", "score")
      .as[(Long, Long, Int, Int, Boolean, Double)].collect().sorted
    val b = viaFreq.as[(Long, Long, Int, Int, Boolean, Double)]
      .collect().sorted
    // exact equality, doubles included: the counts are the same integers
    // on both paths, so the weight math is bit-for-bit the same
    assert(a.toSeq === b.toSeq)
    assert(a.nonEmpty)
  }

  test("scoreBlockedByFrequency enforces its key-type contract") {
    val left = Seq((1L, 1, 1.5, 2L), (2L, 1, 2.5, 3L)).toDF("l_id", "blk", "l_x", "l_n")
    val right = Seq((1L, 1, 1.5, 2), (3L, 1, 2.5, 4)).toDF("r_id", "blk", "r_x", "r_n")
    def run(f: (String, org.apache.spark.sql.Column, org.apache.spark.sql.Column)) =
      Linkage.scoreBlockedByFrequency(left, right, Seq("blk"), Seq(f), "l_id", "r_id")
    // float and double keys: string forms are not equality-injective
    val dbl = intercept[IllegalArgumentException](run(("x", col("l_x"), col("r_x"))))
    assert(dbl.getMessage.contains("linkage key 'x' is double/double"), dbl.getMessage)
    val flt = intercept[IllegalArgumentException](
      run(("x", col("l_x").cast("float"), col("r_x").cast("float"))))
    assert(flt.getMessage.contains("float"), flt.getMessage)
    // left bigint against right int
    val mixed = intercept[IllegalArgumentException](run(("n", col("l_n"), col("r_n"))))
    assert(mixed.getMessage.contains("left type bigint but right type int"), mixed.getMessage)
    // decimals of two scales: 1.50 and 1.5 are one key, as in score()
    val lk = col("l_x").cast("decimal(10,2)")
    val rk = col("r_x").cast("decimal(10,1)")
    val viaFreq = run(("x", lk, rk))
      .select("l_id", "r_id", "agree_x", "is_match", "score")
      .as[(Long, Long, Int, Boolean, Double)].collect().sorted
    val viaPairs = Linkage.score(
      Linkage.blockedPairs(left, right, Seq("blk"), Seq("x" -> (lk === rk)))
        .withColumn("is_match", col("l_id") === col("r_id"))
        .select("l_id", "r_id", "agree_x", "is_match"),
      Seq("x"), "is_match")
      .select("l_id", "r_id", "agree_x", "is_match", "score")
      .as[(Long, Long, Int, Boolean, Double)].collect().sorted
    assert(viaFreq.toSeq === viaPairs.toSeq)
    assert(viaFreq.count(_._3 == 1) === 2)
  }
}
