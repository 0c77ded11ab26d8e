package graft.agg

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.charset.StandardCharsets.UTF_8

/**
 * The partial (filter-side) half of every sketch aggregation, as ONE
 * native Catalyst aggregate: each group's input folds into a
 * [[ThetaBuf]] / [[KllBuf]] / [[FreqItemsBuf]] (or a capped record
 * list), and the aggregate's value is that buffer's serialized bytes —
 * the reference's `byte[]` partial that the combiner keeps merging
 * (FilterBolt.java:187-199 → JoinBolt.java:154-155). The bytes are
 * exactly [[BufSerde]]`.ser` of the buffer, so the driver's
 * `mergePartial`, the persisted-sketch readers ([[ThetaMergeEstimateAgg]],
 * [[KllMergeQuantilesAgg]], [[FreqItemsMergeTopKAgg]]) and every stored
 * sketch read them unchanged.
 *
 * Native rather than `udaf(Aggregator)`: the node carries no encoder and
 * no closure, so the analyzer resolves nothing per column and executors
 * generate no per-column input or deserializer projection — the input is
 * the child's Catalyst value, read directly. A null input is skipped.
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
    if (child.dataType == kind.inputType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName($kind) needs a ${kind.inputType.simpleString} input, " +
        s"got ${child.dataType.simpleString}")

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

  /** What one partial column folds: its buffer, input type and value. */
  sealed abstract class Kind[B <: AnyRef] extends Serializable {
    def inputType: DataType
    def outputType: DataType
    def zero(): B
    /** `v` is the non-null Catalyst value of the input. */
    def update(b: B, v: Any): Unit
    def merge(a: B, b: B): B
    def serialize(b: B): Array[Byte]
    def deserialize(bytes: Array[Byte]): B
    def result(b: B): Any
  }

  /** The sketch kinds: the partial's value IS the serialized buffer. */
  sealed abstract class Sketch[B <: AnyRef with Serializable](val inputType: DataType)
      extends Kind[B] {
    def outputType: DataType = BinaryType
    def serialize(b: B): Array[Byte] = BufSerde.ser(b)
    def deserialize(bytes: Array[Byte]): B = BufSerde.de[B](bytes)
    def result(b: B): Any = serialize(b)
  }

  final case class Theta(lgK: Int) extends Sketch[ThetaBuf](StringType) {
    def zero(): ThetaBuf = new ThetaBuf(lgK)
    def update(b: ThetaBuf, v: Any): Unit = b.update(v.toString)
    def merge(a: ThetaBuf, b: ThetaBuf): ThetaBuf = a.merge(b)
  }

  final case class Kll(k: Int) extends Sketch[KllBuf](DoubleType) {
    def zero(): KllBuf = new KllBuf(k)
    def update(b: KllBuf, v: Any): Unit = b.update(v.asInstanceOf[Double])
    def merge(a: KllBuf, b: KllBuf): KllBuf = a.merge(b)
  }

  final case class FreqItems(maxMapSize: Int) extends Sketch[FreqItemsBuf](StringType) {
    def zero(): FreqItemsBuf = new FreqItemsBuf(maxMapSize)
    def update(b: FreqItemsBuf, v: Any): Unit = b.update(v.toString)
    def merge(a: FreqItemsBuf, b: FreqItemsBuf): FreqItemsBuf = a.merge(b)
  }

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

  /** The partial of `input` (typed as `kind` requires) as a Column. */
  def col[B <: AnyRef](input: Column, kind: Kind[B]): Column = {
    import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
    column(SketchPartial(expression(input), kind).toAggregateExpression())
  }
}
