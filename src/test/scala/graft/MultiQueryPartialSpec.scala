package graft

import graft.agg.MultiQueryPartial
import graft.agg.MultiQueryPartial._
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge.expression
import org.apache.spark.sql.types._

/**
 * Metric parity of [[MultiQueryPartial]] with the per-op columns it
 * replaces in the runner: for every op, each entry's state's value must
 * equal Spark's own `sum(when(g, 1L))`, `count(when(g, f))`,
 * `sum(when(g, f))`, `min(when(g, f))` and `max(when(g, f))` over the
 * same four-partition frame, in value AND Java class — the first batch's
 * value is stored as-is and rendered into clips.
 */
class MultiQueryPartialSpec extends SparkTestBase {

  private val valueCols = Seq("i", "l", "f", "d", "dec")
  private val gates = Seq("g1", "g2", "nulls", "none")

  /** 60 rows over int, long, float, double, decimal(10,2) and string
    * columns: nulls (every seventh row is null in every value column —
    * the `nulls` gate admits exactly those), NaN, −0.0 and 0.0. */
  private lazy val frame: DataFrame = {
    val schema = StructType(Seq(
      StructField("g1", BooleanType), StructField("g2", BooleanType),
      StructField("nulls", BooleanType), StructField("none", BooleanType),
      StructField("i", IntegerType), StructField("l", LongType),
      StructField("f", FloatType), StructField("d", DoubleType),
      StructField("dec", DecimalType(10, 2)), StructField("s", StringType)))
    val rows = (0 until 60).map { k =>
      val isNull = k % 7 == 3
      def v(x: Any): Any = if (isNull) null else x
      val d = k % 10 match {
        case 0 => Double.NaN
        case 1 => -0.0
        case 2 => 0.0
        case _ => k * 1.25
      }
      Row(if (k % 11 == 5) null else k % 2 == 0, k < 30, isNull, false,
        v(k - 20), v(k * 1000000007L), v((k * 0.5 - 3).toFloat), v(d),
        v(new java.math.BigDecimal(k * 317 - 5000).movePointLeft(2)), v(s"s${k % 13}"))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).repartition(4)
  }

  /** One entry per (gate, value column) with every op, plus one per gate
    * over the string column with the ops a string takes. */
  private case class Case(gate: Option[String], column: String, ops: Seq[Op.Value])

  private val cases: Seq[Case] = (gates.map(Some(_)) :+ None).flatMap { g =>
    valueCols.map(c => Case(g, c, Seq(Op.Count, Op.CountField, Op.Sum, Op.Min, Op.Max, Op.Avg))) :+
      Case(g, "s", Seq(Op.Count, Op.CountField, Op.Min, Op.Max))
  }

  /** The cases as one aggregate: gates first, then a raw and a SUM/AVG
    * input slot per column. */
  private def aggregate(df: DataFrame): MultiQueryPartial = {
    val cols = valueCols :+ "s"
    val raw = cols.zipWithIndex.toMap
    val numeric = valueCols.zipWithIndex.map { case (c, i) => c -> (cols.size + i) }.toMap
    val entries = cases.map { cs =>
      Entry(cs.gate.map(gates.indexOf(_)).getOrElse(-1), Metrics(cs.ops.map {
        case Op.Count            => Metric(Op.Count, -1)
        case op @ (Op.Sum | Op.Avg) => Metric(op, numeric(cs.column))
        case op                  => Metric(op, raw(cs.column))
      }))
    }
    MultiQueryPartial(
      (gates ++ cols ++ valueCols).map(c => expression(col(c))), gates.size, entries,
      ansi = spark.conf.get("spark.sql.ansi.enabled").toBoolean)
  }

  /** Today's columns for the cases, in the decoded order: per op its
    * column, and for AVG the sum then the count. */
  private def columns: Seq[Column] = cases.flatMap { cs =>
    val g = cs.gate.map(col).getOrElse(lit(true))
    val f = when(g, col(cs.column))
    sum(when(g, lit(1L))) +: cs.ops.flatMap {
      case Op.Count      => Seq(sum(when(g, lit(1L))))
      case Op.CountField => Seq(count(f))
      case Op.Sum        => Seq(sum(f))
      case Op.Min        => Seq(min(f))
      case Op.Max        => Seq(max(f))
      case Op.Avg        => Seq(sum(f), count(f))
    }
  }

  /** Each case's values in [[columns]]' order. */
  private def flat(parts: Array[State]): Seq[Any] = cases.zip(parts).flatMap { case (cs, p) =>
    val matched = if (p.matched == 0L) null else p.matched
    matched +: cs.ops.indices.flatMap(i => cs.ops(i) match {
      case Op.Count => Seq(matched)
      case Op.Avg   => Seq(p.accs(i).value, p.accs(i).n)
      case _        => Seq(p.accs(i).value)
    })
  }

  /** Equal value and class; NaN equals NaN and −0.0 equals 0.0, as in
    * Spark's ordering; decimals compare with their scale. */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: java.lang.Double, y: java.lang.Double) => x.isNaN && y.isNaN || x == y
    case (x: java.lang.Float, y: java.lang.Float)   => x.isNaN && y.isNaN || x == y
    case (x: AnyRef, y: AnyRef) => x.getClass == y.getClass && x == y
    case _ => false
  }

  private def assertParity(got: Seq[Any], want: Seq[Any], what: String): Unit = {
    assert(got.size === want.size)
    got.zip(want).zipWithIndex.foreach { case ((g, w), k) =>
      assert(same(g, w), s"$what, value $k: got $g (${Option(g).map(_.getClass)}), " +
        s"want $w (${Option(w).map(_.getClass)})")
    }
  }

  private def decodeOne(out: DataFrame): Array[State] =
    MultiQueryPartialSpec.in(out).deserialize(out.head().getAs[Array[Byte]](0))

  test("every op equals Spark's own column, in value and Java class") {
    val out = frame.agg(MultiQueryPartialSpec.column(aggregate(frame)))
    val want = frame.agg(columns.head, columns.tail: _*).head().toSeq
    assertParity(flat(decodeOne(out)), want, "df.agg")
    // the cases are not vacuous: NaN, −0.0 and an all-null group occur
    val d = flat(decodeOne(out))
    assert(d.exists { case x: java.lang.Double => x.isNaN; case _ => false })
    assert(cases.zip(decodeOne(out)).exists { case (cs, p) =>
      cs.gate.contains("nulls") && p.matched > 0 && p.accs(2).value == null })
  }

  test("grouped: every op equals Spark's own column per group") {
    val keyed = frame.withColumn("k", coalesce(col("i") % 3, lit(-1)))
    val out = keyed.groupBy("k").agg(MultiQueryPartialSpec.column(aggregate(keyed)))
    val fn = MultiQueryPartialSpec.in(out)
    val got = out.collect().map(r => r.getInt(0) -> flat(fn.deserialize(r.getAs[Array[Byte]](1)))).toMap
    val want = keyed.groupBy("k").agg(columns.head, columns.tail: _*).collect()
      .map(r => r.getInt(0) -> r.toSeq.tail).toMap
    assert(got.keySet === want.keySet)
    want.foreach { case (k, w) => assertParity(got(k), w, s"group $k") }
  }

  test("an empty batch gives Spark's empty-input values") {
    val empty = frame.filter(lit(false))
    val out = empty.agg(MultiQueryPartialSpec.column(aggregate(empty)))
    val want = empty.agg(columns.head, columns.tail: _*).head().toSeq
    assertParity(flat(decodeOne(out)), want, "empty")
  }

  test("a long SUM that overflows raises Spark's own error class under ANSI") {
    assume(spark.conf.get("spark.sql.ansi.enabled").toBoolean)
    val df = spark.range(0, 8, 1, 4).select(
      when(col("id") % 2 === 0, lit(Long.MaxValue - 3)).otherwise(col("id")).as("l"))
    def conditions(e: Throwable): Set[String] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .collect { case t: SparkThrowable if t.getCondition != null => t.getCondition }.toSet
    val fn = MultiQueryPartial(Seq(expression(col("l"))), 0,
      Seq(Entry(-1, Metrics(Seq(Metric(Op.Sum, 0))))), ansi = true)
    val mine = intercept[Exception](df.agg(MultiQueryPartialSpec.column(fn)).collect())
    val spark0 = intercept[Exception](df.agg(sum(col("l"))).collect())
    assert(conditions(spark0).contains("ARITHMETIC_OVERFLOW"), spark0)
    assert(conditions(mine).contains("ARITHMETIC_OVERFLOW"), mine)
  }

  test("the type check rejects a SUM it cannot coerce and a sketch input of the wrong type") {
    val df = spark.range(4).select(array(col("id")).as("a"), col("id"))
    val sumArray = MultiQueryPartial(Seq(expression(col("a"))), 0,
      Seq(Entry(-1, Metrics(Seq(Metric(Op.Sum, 0))))), ansi = true)
    intercept[AnalysisException](df.agg(MultiQueryPartialSpec.column(sumArray)).collect())
    val thetaLong = MultiQueryPartial(Seq(expression(col("id"))), 0,
      Seq(Entry(-1, Sketch(graft.agg.SketchPartial.Theta(12), 0))), ansi = true)
    val e = intercept[AnalysisException](df.agg(MultiQueryPartialSpec.column(thetaLong)).collect())
    assert(e.getMessage.contains("needs a string input, got bigint"), e.getMessage)
  }

  test("combine folds partials of differing numeric types in their wider type and rejects the rest") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.unsafe.types.UTF8String
    def one(dt: DataType, op: Op.Value, v: Any): State = {
      val fn = MultiQueryPartial(Seq(BoundReference(0, dt, nullable = true)), 0,
        Seq(Entry(-1, Metrics(Seq(Metric(op, 0))))), ansi = true)
      fn.update(fn.createAggregationBuffer(), InternalRow(v)).head
    }
    /** The states folded into a fresh one, as a query's state takes them. */
    def fold(parts: State*): Acc = {
      val st = new State(new Array[Acc](1), null)
      parts.foreach(mergeEntry(st, _, null))
      st.accs.head
    }
    val (i, d) = (one(IntegerType, Op.Sum, 3), one(DoubleType, Op.Sum, 0.5))
    assert(fold(i, d).value === 3.5 && fold(i, d).n === 2)
    assert(i.accs.head.value === 3L && d.accs.head.value === 0.5, "the merge changed its inputs")
    val least = fold(one(IntegerType, Op.Min, 3), one(LongType, Op.Min, 2L)).value
    assert(least === 2L && least.isInstanceOf[java.lang.Long])
    val e = intercept[IllegalArgumentException](
      fold(one(StringType, Op.Min, UTF8String.fromString("a")), one(IntegerType, Op.Min, 1)))
    assert(e.getMessage.contains("cannot combine a string partial with a int one"), e.getMessage)
  }

  test("a full capped buffer evaluates no more input, and still counts every admitted row") {
    import org.apache.spark.sql.catalyst.InternalRow
    val input = MultiQueryPartialSpec.Counting()
    val fn = MultiQueryPartial(Seq(input), 0,
      Seq(Entry(-1, Sketch(graft.agg.SketchPartial.Capped(2), 0))), ansi = true)
    val buf = fn.createAggregationBuffer()
    (0 until 100).foreach(_ => fn.update(buf, InternalRow.empty))
    assert(input.evals <= 2, s"the input was evaluated ${input.evals} times")
    assert(buf.head.matched === 100L)
    assert(buf.head.sketch.asInstanceOf[graft.agg.SketchPartial.CappedBuf].records === List("r1", "r2"))
  }
}

object MultiQueryPartialSpec {
  /** `fn` as an aggregate Column, for Spark to plan and run. */
  def column(fn: MultiQueryPartial): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(fn.toAggregateExpression())

  /** The analyzed (resolved and type-coerced) aggregate in `df`'s plan —
    * the instance that deserializes `df`'s values. */
  def in(df: DataFrame): MultiQueryPartial =
    df.queryExecution.analyzed.flatMap(_.expressions.flatMap(_.collect {
      case m: MultiQueryPartial => m
    })).head

  /** A string input that counts its evaluations: "r1", "r2", and so on. */
  final case class Counting() extends org.apache.spark.sql.catalyst.expressions.LeafExpression
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    var evals = 0
    override def dataType: DataType = StringType
    override def nullable: Boolean = false
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      evals += 1
      org.apache.spark.unsafe.types.UTF8String.fromString(s"r$evals")
    }
  }
}
