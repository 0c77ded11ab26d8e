package graft.agg

import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.{TypeCheckResult, TypeCoercion}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression, GenericInternalRow, ImplicitCastInputTypes, InterpretedUnsafeProjection, Literal, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Sum, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.util.{MathUtils, TypeUtils}
import org.apache.spark.sql.graft.SumBridge
import org.apache.spark.sql.types._

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

/**
 * Every per-batch partial of one runner job, as ONE native Catalyst
 * aggregate: the reference's filter stage tests each record against every
 * active query and emits one serialized partial for the combiner
 * (FilterBolt.java:148-151, :187-199). Each [[MultiQueryPartial.Entry]]
 * is one query class: a gate (a boolean child, or always), its matched
 * count, and either metric ops or one [[SketchPartial.Kind]] buffer, as
 * one [[MultiQueryPartial.State]]. The value is the serialized buffer
 * (BINARY). One entry merge, [[MultiQueryPartial.mergeEntry]], combines
 * the tasks' states and folds each batch's state into a query's own
 * (the reference's `querier.combine`, JoinBolt.java:154-155).
 *
 * Children are the job's distinct gates, then its distinct inputs, as the
 * queries' own expressions, unprojected. An update reads each gate once
 * per row and an input only when a class that needs it passed its gate,
 * so an input that can fail (an ANSI division by zero) is computed only
 * on rows a reading class admits. The runner's batch pass
 * ([[graft.streaming.BatchPass]]) takes the instance Spark's analyzer
 * resolved and coerced, and calls [[update]] and [[merge]] itself:
 * nothing is code-generated, so no query's literal reaches generated code
 * and a changed query set compiles nothing. Its children
 * must be deterministic, as none is initialized per partition.
 *
 * The metric values are exactly those of Spark's `sum(when(g, f))`,
 * `min`, `max`, `count` and `sum(when(g, 1L))`, in value and Java class:
 * SUM/AVG inputs take `Sum`'s implicit casts, and sum as `Sum` does (Long
 * with `addExact` under ANSI, Double, or decimal at `Sum`'s result
 * precision with its overflow rule); MIN/MAX compare with Spark's
 * physical ordering (NaN largest, −0.0 = 0.0) and keep the first of equal
 * values; [[Acc.value]] uses Catalyst's own to-Scala converter. An input
 * type outside these fails the type check.
 */
case class MultiQueryPartial(
    children: Seq[Expression],
    numGates: Int,
    entries: Seq[MultiQueryPartial.Entry],
    ansi: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[MultiQueryPartial.State]] with ImplicitCastInputTypes {
  import MultiQueryPartial._
  require(children.forall(_.deterministic), s"$prettyName needs deterministic children")

  private def inputType(j: Int): DataType = children(numGates + j).dataType

  override def inputTypes = {
    val numeric = entries.flatMap(_.part match {
      case Metrics(ms) => ms.collect { case Metric(Op.Sum | Op.Avg, j) => j }
      case _           => Nil
    }).toSet
    SumBridge.inputTypes(numGates, (0 until children.size - numGates).map(numeric))
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val checks = Iterator.single(super.checkInputDataTypes()) ++ entries.iterator.flatMap(_.part match {
      case Metrics(ms) => ms.iterator.map {
        case Metric(Op.Sum | Op.Avg, j) => sumType(inputType(j)) match {
          case LongType | DoubleType | _: DecimalType => TypeCheckSuccess
          case _ => TypeCheckFailure(
            s"$prettyName: SUM/AVG over ${inputType(j).simpleString} is not supported")
        }
        case Metric(Op.Min, j) => TypeUtils.checkForOrderingExpr(inputType(j), "min")
        case Metric(Op.Max, j) => TypeUtils.checkForOrderingExpr(inputType(j), "max")
        case _                 => TypeCheckSuccess
      }
      case Sketch(kind, j) => Iterator.single(
        if (inputType(j) == kind.inputType) TypeCheckSuccess
        else TypeCheckFailure(s"$prettyName($kind) needs a ${kind.inputType.simpleString} " +
          s"input, got ${inputType(j).simpleString}"))
    })
    checks.find(_.isFailure).getOrElse(TypeCheckSuccess)
  }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "multi_query_partial"

  // ---- the bound plan, built once per instance
  @transient private lazy val gateExprs: Array[Expression] = children.take(numGates).toArray
  @transient private lazy val inputExprs: Array[Expression] = children.drop(numGates).toArray
  @transient private lazy val gateOf: Array[Int] = entries.map(_.gate).toArray
  /** Per entry, per op (or the one sketch input): its input, −1 for COUNT. */
  @transient private lazy val inputsOf: Array[Array[Int]] = entries.map(_.part match {
    case Metrics(ms)  => ms.map(_.input).toArray
    case Sketch(_, j) => Array(j)
  }).toArray
  @transient private lazy val kindOf: Array[SketchPartial.Kind[AnyRef]] = entries.map(_.part match {
    case Sketch(kind, _) => kind.asInstanceOf[SketchPartial.Kind[AnyRef]]
    case _               => null
  }).toArray
  /** Per entry, per op: a fresh accumulator, or null for COUNT (which is
    * the matched count). */
  @transient private lazy val accMakers: Array[Array[() => Acc]] = entries.map(_.part match {
    case Metrics(ms) => ms.map(accMaker).toArray
    case _           => null
  }).toArray

  private def accMaker(m: Metric): () => Acc = m.op match {
    case Op.Count      => null
    case Op.CountField => () => new CountAcc
    case Op.Sum | Op.Avg =>
      val dt = sumType(inputType(m.input))
      () => sumAcc(dt, ansi)
    case Op.Min | Op.Max => extreme(inputType(m.input), m.op == Op.Min)
  }

  // ---- per-row scratch: gate results, and inputs loaded for this row
  @transient private lazy val gatePassed = new Array[Boolean](numGates)
  @transient private lazy val inputValue = new Array[Any](inputExprs.length)
  @transient private lazy val inputRow = new Array[Long](inputExprs.length)
  @transient private var rowNo = 0L

  private def inputAt(j: Int, row: InternalRow): Any = {
    if (inputRow(j) != rowNo) { inputValue(j) = inputExprs(j).eval(row); inputRow(j) = rowNo }
    inputValue(j)
  }

  private def newState(e: Int): State = accMakers(e) match {
    case null   => new State(null, kindOf(e).zero())
    case makers => new State(makers.map(mk => if (mk == null) null else mk()), null)
  }

  override def createAggregationBuffer(): Array[State] = Array.tabulate(entries.length)(newState)

  @transient private lazy val ungated: Boolean = gateOf.contains(-1)

  override def update(buf: Array[State], row: InternalRow): Array[State] = {
    admit(row)
    updateAdmitted(buf, row)
  }

  /** Evaluates every gate on `row`, for the [[updateAdmitted]] that
    * follows: true when some entry admits the row. */
  def admit(row: InternalRow): Boolean = {
    rowNo += 1
    var any = ungated
    var g = 0
    while (g < numGates) {
      val v = gateExprs(g).eval(row)
      val passed = v != null && v.asInstanceOf[Boolean]
      gatePassed(g) = passed
      any ||= passed
      g += 1
    }
    any
  }

  /** [[update]] with the gates [[admit]] evaluated on this `row`. */
  def updateAdmitted(buf: Array[State], row: InternalRow): Array[State] = {
    var e = 0
    while (e < buf.length) {
      val gi = gateOf(e)
      if (gi < 0 || gatePassed(gi)) {
        val st = buf(e)
        st.matched += 1
        val ins = inputsOf(e)
        if (st.accs == null) {
          // a full RAW buffer would drop the record: skip its to_json
          val k = kindOf(e)
          if (!k.isFull(st.sketch)) {
            val v = inputAt(ins(0), row)
            if (v != null) k.update(st.sketch, v)
          }
        } else {
          var i = 0
          while (i < ins.length) {
            val a = st.accs(i)
            if (a != null) {
              val v = inputAt(ins(i), row)
              if (v != null) a.add(v)
            }
            i += 1
          }
        }
      }
      e += 1
    }
    buf
  }

  /** Folds `other` into `buf` (and returns `buf`); `other` is only read. */
  override def merge(buf: Array[State], other: Array[State]): Array[State] = {
    var e = 0
    while (e < buf.length) { mergeEntry(buf(e), other(e), kindOf(e)); e += 1 }
    buf
  }

  /** The serialized buffer. A decimal SUM that overflowed raises here
    * under ANSI, as `Sum`'s final evaluation does. */
  override def eval(buf: Array[State]): Any = {
    buf.foreach(check)
    serialize(buf)
  }

  override def serialize(buf: Array[State]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    var e = 0
    while (e < buf.length) {
      val st = buf(e)
      out.writeLong(st.matched)
      if (st.accs == null) {
        val bytes = kindOf(e).serialize(st.sketch)
        out.writeInt(bytes.length)
        out.write(bytes)
      } else st.accs.foreach(a => if (a != null) a.write(out))
      e += 1
    }
    out.close()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Array[State] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    Array.tabulate(entries.length) { e =>
      val matched = in.readLong()
      val st = accMakers(e) match {
        case null =>
          val b = new Array[Byte](in.readInt())
          in.readFully(b)
          new State(null, kindOf(e).deserialize(b))
        case _ =>
          val s = newState(e)
          s.accs.foreach(a => if (a != null) a.read(in))
          s
      }
      st.matched = matched
      st
    }
  }

  override def withNewMutableAggBufferOffset(n: Int): MultiQueryPartial =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): MultiQueryPartial =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MultiQueryPartial = copy(children = newChildren)
}

object MultiQueryPartial {

  object Op extends Enumeration {
    val Count, CountField, Sum, Min, Max, Avg = Value
  }

  /** One metric op over input `input` (−1 for COUNT, which reads none). */
  final case class Metric(op: Op.Value, input: Int)

  sealed trait Part
  /** GROUP ops in the query's order; no ops is the matched count alone. */
  final case class Metrics(ops: Seq[Metric]) extends Part
  /** One sketch buffer (or capped RAW list) over input `input`. */
  final case class Sketch(kind: SketchPartial.Kind[_ <: AnyRef], input: Int) extends Part

  /** One query class: gate child `gate` (−1: every row) and its part. */
  final case class Entry(gate: Int, part: Part)

  /** One entry's running state: its matched count (COUNT's value is
    * `sum(when(g, 1L))`: null when 0), and per metric op its accumulator
    * (null for COUNT, and in a query's state until a partial has inputs), or
    * instead the sketch buffer ([[ThetaBuf]], [[KllBuf]], [[FreqItemsBuf]]
    * or [[SketchPartial.CappedBuf]]). */
  final class State(val accs: Array[Acc], var sketch: AnyRef) {
    var matched: Long = 0L
  }

  /** `Sum`'s own result type. */
  private def sumType(dt: DataType): DataType = Sum(Literal.create(null, dt)).dataType

  /** A SUM accumulator at `Sum`'s result type `dt`. */
  private def sumAcc(dt: DataType, ansi: Boolean): Acc = dt match {
    case LongType       => new LongSum(ansi)
    case DoubleType     => new DoubleSum
    case d: DecimalType => new DecimalSum(d, ansi)
    case t => throw new IllegalStateException(s"no SUM over $t")
  }

  /** MIN (or MAX) accumulators over `dt`, sharing one ordering and codec. */
  private def extreme(dt: DataType, min: Boolean): () => Acc = {
    val ord = TypeUtils.getInterpretedOrdering(dt)
    val io = new ValueIO(dt)
    () => new Extreme(dt, ord, min, io)
  }

  /** Folds entry state `b` into `a`, reading `b` only: the one entry merge,
    * of the tasks' states in [[MultiQueryPartial.merge]] and of a batch's
    * state into a query's own. `kind` is the entry's sketch kind (unused
    * for metrics); a `b` with no sketch and no ops (a full RAW query's
    * matched count) adds its count alone, and an accumulator of `b` with
    * no inputs adds nothing. An accumulator `a` lacks (a query's first
    * partial) starts as a copy of `b`'s; one whose input type differs from
    * `b`'s (a batch schema that changed) becomes a fresh one folding both
    * in their wider numeric type, cast as Spark casts; any other pair
    * raises. */
  def mergeEntry(a: State, b: State, kind: SketchPartial.Kind[AnyRef]): Unit = {
    a.matched += b.matched
    if (b.accs == null) a.sketch = kind.merge(a.sketch, b.sketch)
    else {
      var i = 0
      while (i < b.accs.length) {
        val y = b.accs(i)
        if (y != null && y.n > 0) {
          val x = a.accs(i)
          if (x != null && x.dataType == y.dataType) x.merge(y)
          else a.accs(i) = widened(x, y)
        }
        i += 1
      }
    }
  }

  /** Raises where a value would: a decimal SUM that overflowed, under ANSI. */
  def check(st: State): Unit = if (st.accs != null) st.accs.foreach(a => if (a != null) a.check())

  /** `x` (null: none) and `y` folded into a fresh accumulator of their
    * wider type; neither changes. */
  private def widened(x: Acc, y: Acc): Acc = {
    val dt = if (x == null) y.dataType else (x.dataType, y.dataType) match {
      case (p: NumericType, q: NumericType) => TypeCoercion.findWiderTypeForTwo(p, q).get
      case (p, q) => throw new IllegalArgumentException(
        s"cannot combine a ${p.simpleString} partial with a ${q.simpleString} one")
    }
    val c = y.at(dt)
    (Option(x).toSeq :+ y).foreach(p => c.merge(if (p.dataType == dt) p else {
      val q = p.at(dt)
      if (p.n > 0) {
        val v = Cast(Literal(p.result, p.dataType), q.dataType).eval()
        require(v != null, s"cannot widen an overflowed ${p.dataType.simpleString} partial")
        q.add(v)
        q.n = p.n
      }
      q
    }))
    c
  }

  /** One op's running state over its `n` non-null inputs. */
  sealed abstract class Acc {
    var n: Long = 0L
    def dataType: DataType
    /** `v` is a non-null Catalyst value. */
    def add(v: Any): Unit
    def merge(o: Acc): Unit
    def write(out: DataOutputStream): Unit
    def read(in: DataInputStream): Unit
    /** The Catalyst value, null when Spark's column would be null. */
    def result: Any
    /** [[result]] as Spark's column gives it to Scala. */
    def value: Any = CatalystTypeConverters.convertToScala(result, dataType)
    /** A fresh accumulator of this kind over `dt` (a SUM's result type). */
    def at(dt: DataType): Acc
    /** Raises where [[result]] would: a decimal SUM that overflowed, under ANSI. */
    def check(): Unit = ()
  }

  /** COUNT_FIELD: `count(f)`. */
  final class CountAcc extends Acc {
    def dataType: DataType = LongType
    def add(v: Any): Unit = n += 1
    def merge(o: Acc): Unit = n += o.n
    def write(out: DataOutputStream): Unit = out.writeLong(n)
    def read(in: DataInputStream): Unit = n = in.readLong()
    def result: Any = n
    def at(dt: DataType): Acc = new CountAcc
  }

  /** SUM and AVG (whose count is `n`) over an integral input: `Sum`'s Long. */
  final class LongSum(ansi: Boolean) extends Acc {
    var s = 0L
    private def plus(a: Long, b: Long) = if (ansi) MathUtils.addExact(a, b) else a + b
    def dataType: DataType = LongType
    def add(v: Any): Unit = { s = plus(s, v.asInstanceOf[Number].longValue); n += 1 }
    def merge(o: Acc): Unit = {
      val b = o.asInstanceOf[LongSum]
      if (b.n > 0) s = plus(s, b.s)
      n += b.n
    }
    def write(out: DataOutputStream): Unit = { out.writeLong(n); out.writeLong(s) }
    def read(in: DataInputStream): Unit = { n = in.readLong(); s = in.readLong() }
    def result: Any = if (n == 0) null else s
    def at(dt: DataType): Acc = sumAcc(dt, ansi)
  }

  /** Starts at 0.0 like `Sum` (`coalesce(sum, 0) + x`), so −0.0 alone sums to 0.0. */
  final class DoubleSum extends Acc {
    var s = 0.0
    def dataType: DataType = DoubleType
    def add(v: Any): Unit = { s += v.asInstanceOf[Number].doubleValue; n += 1 }
    def merge(o: Acc): Unit = {
      val b = o.asInstanceOf[DoubleSum]
      if (b.n > 0) s += b.s
      n += b.n
    }
    def write(out: DataOutputStream): Unit = { out.writeLong(n); out.writeDouble(s) }
    def read(in: DataInputStream): Unit = { n = in.readLong(); s = in.readDouble() }
    def result: Any = if (n == 0) null else s
    def at(dt: DataType): Acc = new DoubleSum // the wider of a double and any number
  }

  /** Decimal SUM at `Sum`'s result type `dt`: a partial or merge that
    * leaves `dt` overflows (as writing it to `Sum`'s buffer row does), and
    * an overflow raises under ANSI or gives null. */
  final class DecimalSum(dt: DecimalType, ansi: Boolean) extends Acc {
    var s: Decimal = null
    var overflow = false
    def dataType: DataType = dt
    def add(v: Any): Unit = {
      val d = v.asInstanceOf[Decimal]
      s = if (s == null) d.clone() else s + d
      n += 1
    }
    def merge(o: Acc): Unit = {
      val b = o.asInstanceOf[DecimalSum]
      overflow ||= b.overflow
      if (b.s != null) s = if (s == null) b.s else s + b.s
      if (s != null && SumBridge.fit(s, dt) == null) overflow = true
      n += b.n
    }
    def write(out: DataOutputStream): Unit = {
      if (s != null && SumBridge.fit(s, dt) == null) overflow = true
      out.writeLong(n)
      out.writeBoolean(overflow)
      val bd = if (overflow || s == null) null else s.toJavaBigDecimal
      out.writeBoolean(bd != null)
      if (bd != null) {
        val u = bd.unscaledValue.toByteArray
        out.writeInt(bd.scale)
        out.writeInt(u.length)
        out.write(u)
      }
    }
    def read(in: DataInputStream): Unit = {
      n = in.readLong()
      overflow = in.readBoolean()
      s = if (!in.readBoolean()) null else {
        val scale = in.readInt()
        val u = new Array[Byte](in.readInt())
        in.readFully(u)
        Decimal(new java.math.BigDecimal(new java.math.BigInteger(u), scale))
      }
      if (overflow) s = null
    }
    def result: Any = if (n == 0) null else SumBridge.finish(if (overflow) null else s, dt, ansi)
    override def check(): Unit = if (ansi && n > 0) SumBridge.finish(if (overflow) null else s, dt, ansi)
    def at(d: DataType): Acc = sumAcc(d, ansi)
  }

  /** MIN or MAX: the first value no later value beats, as `Least`/`Greatest`. */
  final class Extreme(val dataType: DataType, ord: Ordering[Any], min: Boolean, io: ValueIO)
      extends Acc {
    var v: Any = null
    private def beats(x: Any): Boolean = {
      val c = ord.compare(x, v)
      if (min) c < 0 else c > 0
    }
    def add(x: Any): Unit = {
      if (v == null || beats(x)) v = InternalRow.copyValue(x)
      n += 1
    }
    def merge(o: Acc): Unit = {
      val b = o.asInstanceOf[Extreme]
      if (b.v != null && (v == null || beats(b.v))) v = b.v
      n += b.n
    }
    def write(out: DataOutputStream): Unit = {
      out.writeLong(n)
      out.writeBoolean(v != null)
      if (v != null) io.write(out, v)
    }
    def read(in: DataInputStream): Unit = {
      n = in.readLong()
      v = if (in.readBoolean()) io.read(in) else null
    }
    def result: Any = v
    def at(dt: DataType): Acc = extreme(dt, min)()
  }

  /** One Catalyst value of type `dt` as bytes, through a one-field UnsafeRow. */
  final class ValueIO(dt: DataType) {
    private lazy val proj =
      InterpretedUnsafeProjection.createProjection(Seq(BoundReference(0, dt, nullable = true)))
    private lazy val row = new GenericInternalRow(1)
    def write(out: DataOutputStream, v: Any): Unit = {
      row.update(0, v)
      val b = proj(row).getBytes
      out.writeInt(b.length)
      out.write(b)
    }
    def read(in: DataInputStream): Any = {
      val b = new Array[Byte](in.readInt())
      in.readFully(b)
      val r = new UnsafeRow(1)
      r.pointTo(b, b.length)
      r.get(0, dt)
    }
  }
}
