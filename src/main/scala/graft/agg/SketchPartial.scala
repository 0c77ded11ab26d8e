package graft.agg

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.charset.StandardCharsets.UTF_8

/**
 * Every sketch aggregation, as ONE native Catalyst aggregate: each group's
 * input folds into a [[ThetaBuf]] / [[KllBuf]] / [[FreqItemsBuf]] (or a
 * capped record list), and the [[SketchPartial.Kind]] says what the value
 * is. The partial kinds emit that buffer's serialized bytes — the
 * reference's `byte[]` partial that the combiner keeps merging
 * (FilterBolt.java:187-199 → JoinBolt.java:154-155). The bytes are exactly
 * [[BufSerde]]`.ser` of the buffer, so the driver's `mergePartial`, the
 * finishing kinds and every stored sketch read them unchanged. The
 * finishing kinds emit the finished result (an estimate, distribution rows
 * or top-k rows) through the finish functions in [[SketchAggregators]],
 * and take either raw input or those bytes: a BINARY input row is a
 * partial, merged into the buffer.
 *
 * Native rather than a typed `Aggregator` UDAF: the node carries no
 * encoder and no closure, so the analyzer resolves nothing per column and
 * executors generate no per-column input or deserializer projection — the
 * input is the child's Catalyst value, read directly. A null input is
 * skipped.
 * Inputs are typed, never coerced: Theta, FrequentItems and the capped
 * collect take STRING, KLL takes DOUBLE; every caller casts first.
 */
case class SketchPartial[B <: AnyRef](
    child: Expression,
    kind: SketchPartial.Kind[B],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[B] with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == kind.inputType ||
        kind.mergesBytes && child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName($kind) needs a ${kind.inputType.simpleString}" +
        s"${if (kind.mergesBytes) " or binary" else ""} input, got ${child.dataType.simpleString}")

  override def dataType: DataType = kind.outputType
  override def nullable: Boolean = false
  override def prettyName: String = "sketch_partial"

  override def createAggregationBuffer(): B = kind.zero()
  override def update(buffer: B, input: InternalRow): B = {
    val v = child.eval(input)
    if (v != null) kind.update(buffer, v)
    buffer
  }
  override def merge(buffer: B, input: B): B = kind.merge(buffer, input)
  override def eval(buffer: B): Any = kind.result(buffer)
  override def serialize(buffer: B): Array[Byte] = kind.serialize(buffer)
  override def deserialize(bytes: Array[Byte]): B = kind.deserialize(bytes)

  override def withNewMutableAggBufferOffset(n: Int): SketchPartial[B] =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): SketchPartial[B] =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(newChild: Expression): SketchPartial[B] =
    copy(child = newChild)
}

object SketchPartial {

  /** What one column folds: its buffer, input type and value. */
  sealed abstract class Kind[B <: AnyRef] extends Serializable {
    def inputType: DataType
    /** Whether a BINARY input (this kind's partial bytes) is merged in. */
    def mergesBytes: Boolean = false
    def outputType: DataType
    def zero(): B
    /** `v` is the non-null Catalyst value of the input. */
    def update(b: B, v: Any): Unit
    def merge(a: B, b: B): B
    def serialize(b: B): Array[Byte]
    def deserialize(bytes: Array[Byte]): B
    def result(b: B): Any
  }

  /** The sketch kinds. By default the value IS the serialized buffer (the
    * partial kinds); a finishing kind overrides `outputType` and `result`
    * with its finish, and is [[Finishing]]. */
  sealed abstract class Sketch[B <: AnyRef with Serializable](val inputType: DataType)
      extends Kind[B] {
    def outputType: DataType = BinaryType
    def serialize(b: B): Array[Byte] = BufSerde.ser(b)
    def deserialize(bytes: Array[Byte]): B = BufSerde.de[B](bytes)
    def result(b: B): Any = serialize(b)
  }

  sealed abstract class ThetaSketch extends Sketch[ThetaBuf](StringType) {
    def lgK: Int
    def zero(): ThetaBuf = new ThetaBuf(lgK)
    def update(b: ThetaBuf, v: Any): Unit = b.update(v.toString)
    def merge(a: ThetaBuf, b: ThetaBuf): ThetaBuf = a.merge(b)
  }

  sealed abstract class KllSketch extends Sketch[KllBuf](DoubleType) {
    def k: Int
    def zero(): KllBuf = new KllBuf(k)
    def update(b: KllBuf, v: Any): Unit = b.update(v.asInstanceOf[Double])
    def merge(a: KllBuf, b: KllBuf): KllBuf = a.merge(b)
  }

  sealed abstract class FreqItemsSketch extends Sketch[FreqItemsBuf](StringType) {
    def maxMapSize: Int
    def zero(): FreqItemsBuf = new FreqItemsBuf(maxMapSize)
    def update(b: FreqItemsBuf, v: Any): Unit = b.update(v.toString)
    def merge(a: FreqItemsBuf, b: FreqItemsBuf): FreqItemsBuf = a.merge(b)
  }

  /** A finishing kind also takes its partial bytes (BINARY) as input: each
    * such row is deserialized and merged into the buffer. */
  sealed trait Finishing[B <: AnyRef] extends Kind[B] {
    override def mergesBytes: Boolean = true
    abstract override def update(b: B, v: Any): Unit = v match {
      case bytes: Array[Byte] => merge(b, deserialize(bytes))
      case _ => super.update(b, v)
    }
  }

  final case class Theta(lgK: Int) extends ThetaSketch
  final case class Kll(k: Int) extends KllSketch
  final case class FreqItems(maxMapSize: Int) extends FreqItemsSketch

  /** COUNT_DISTINCT: the rounded distinct estimate, a BIGINT. */
  final case class ThetaEstimate(lgK: Int, requireExact: Boolean = false)
      extends ThetaSketch with Finishing[ThetaBuf] {
    override def outputType: DataType = LongType
    override def result(b: ThetaBuf): Any =
      SketchAggregators.thetaEstimate(b, lgK, requireExact)
  }

  /** DISTRIBUTION: `array<struct<range,count,probability,quantile,value>>`,
    * one element per [[DistRow]]; QUANTILE rows fill (quantile, value),
    * PMF/CDF rows (range, count, probability). */
  final case class KllDistribution(dtype: String, points: Seq[Double], k: Int,
                                   numPoints: Int = 0)
      extends KllSketch with Finishing[KllBuf] {
    require(Set("QUANTILE", "PMF", "CDF")(dtype), s"unknown distribution type $dtype")
    override def outputType: DataType = ArrayType(StructType(Seq(
      StructField("range", StringType), StructField("count", LongType, nullable = false),
      StructField("probability", DoubleType, nullable = false),
      StructField("quantile", DoubleType, nullable = false),
      StructField("value", DoubleType, nullable = false))))
    override def result(b: KllBuf): Any = rows(
      SketchAggregators.distRows(b, dtype, points, numPoints).map(r =>
        InternalRow(UTF8String.fromString(r.range), r.count, r.probability, r.quantile, r.value)))
  }

  /** TOP_K: `array<struct<key,count>>` in (-count, key) order. */
  final case class FreqItemsTopK(k: Int, threshold: Long = 0L, maxMapSize: Int = 1024)
      extends FreqItemsSketch with Finishing[FreqItemsBuf] {
    override def outputType: DataType = ArrayType(StructType(Seq(
      StructField("key", StringType), StructField("count", LongType, nullable = false))))
    override def result(b: FreqItemsBuf): Any = rows(
      SketchAggregators.topKRows(b, k, threshold).map(r =>
        InternalRow(UTF8String.fromString(r.key), r.count)))
  }

  private def rows(rs: Seq[InternalRow]): GenericArrayData = new GenericArrayData(rs.toArray[Any])

  /** RAW: the first `cap` matched records (pre-serialized JSON strings),
    * as an `array<string>`. */
  final case class Capped(cap: Int) extends Kind[CappedBuf] {
    def inputType: DataType = StringType
    def outputType: DataType = ArrayType(StringType)
    def zero(): CappedBuf = new CappedBuf
    def update(b: CappedBuf, v: Any): Unit =
      if (b.n < cap) { b.n += 1; b.items = v.toString :: b.items }
    /** `a` keeps all its records; `b` fills the room left under the cap. */
    def merge(a: CappedBuf, b: CappedBuf): CappedBuf = {
      val keep = math.max(0, cap - a.n)
      a.n += math.min(b.n, keep)
      a.items = a.items ++ b.items.take(keep)
      a
    }
    def serialize(b: CappedBuf): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      out.writeInt(b.n)
      b.items.foreach { s =>
        val bytes = s.getBytes(UTF_8)
        out.writeInt(bytes.length); out.write(bytes)
      }
      out.close()
      bos.toByteArray
    }
    def deserialize(bytes: Array[Byte]): CappedBuf = {
      val in = new DataInputStream(new ByteArrayInputStream(bytes))
      val b = new CappedBuf
      b.n = in.readInt()
      b.items = List.fill(b.n) {
        val s = new Array[Byte](in.readInt())
        in.readFully(s)
        new String(s, UTF_8)
      }
      b
    }
    def result(b: CappedBuf): Any =
      new GenericArrayData(b.items.reverseIterator.map(UTF8String.fromString).toArray[Any])
  }

  /** Capped-collect buffer: `items` newest first, with its size carried
    * explicitly so a full buffer costs O(1) per further matched row. */
  final class CappedBuf {
    var n: Int = 0
    var items: List[String] = Nil
  }

  /** The `kind` aggregate of `input` (typed as `kind` requires) as a Column. */
  def col[B <: AnyRef](input: Column, kind: Kind[B]): Column = {
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    column(SketchPartial(expression(input), kind).toAggregateExpression())
  }
}
