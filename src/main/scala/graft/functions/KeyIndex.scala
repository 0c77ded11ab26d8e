package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.InterpretedOrdering
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types.DataType

/**
 * The sorted, distinct `keys` of a set of queries' literals — the runner's
 * query partitioner (the reference's SimpleEqualityPartitioner,
 * SimpleEqualityPartitioner.java:40-75, generalized from `field == v` to
 * `field >/>=/</<= v`): one binary search per row, whatever the number of
 * queries. Keys are Catalyst values of `types`' one type, or rows of
 * `types` for a tuple key, compared with Catalyst's interpreted ordering —
 * what `EqualTo` and `LessThan` evaluate. Over the entries
 * e_0 < … < e_{m-1}:
 *
 *   slot(k) = 2j + 1   when k == e_j              (a point slot)
 *   slot(k) = 2i       when e_{i-1} < k < e_i     (an interval slot)
 *
 * so `k = e_j` reads slot 2j+1, `k > e_j` reads the slots ≥ 2j+2, and so
 * on. The slots some query reads are marked with [[read]] before the index
 * is used; a tuple key with a null component, and a slot no query reads,
 * has no slot.
 */
final class KeyIndex(types: Seq[DataType], keys: Iterable[Any]) extends Serializable {
  private val tuple = types.size > 1
  @transient private lazy val ord: Ordering[AnyRef] = (if (tuple) InterpretedOrdering.forSchema(types)
    else TypeUtils.getInterpretedOrdering(types.head)).asInstanceOf[Ordering[AnyRef]]

  private val entries: Array[AnyRef] = {
    val sorted = keys.map(_.asInstanceOf[AnyRef]).toArray.sorted(ord)
    sorted.iterator.zipWithIndex
      .collect { case (k, i) if i == 0 || ord.compare(sorted(i - 1), k) != 0 => k }.toArray
  }
  private val reads = new java.util.BitSet(2 * entries.length + 1)

  /** The highest slot, above the last entry. */
  def top: Int = 2 * entries.length

  /** The point slot of `key`, one of the keys. */
  def pointOf(key: Any): Int =
    2 * java.util.Arrays.binarySearch(entries, key.asInstanceOf[AnyRef], ord) + 1

  /** Marks slots `lo` to `hi` read. */
  def read(lo: Int, hi: Int): Unit = reads.set(lo, hi + 1)

  /** `key`'s slot, or −1 when a component is null or no query reads it. */
  def slot(key: Any): Int =
    if (tuple && key.asInstanceOf[InternalRow].anyNull) -1 else {
      val j = java.util.Arrays.binarySearch(entries, key.asInstanceOf[AnyRef], ord)
      val s = if (j >= 0) 2 * j + 1 else -2 * (j + 1)
      if (reads.get(s)) s else -1
    }
}
