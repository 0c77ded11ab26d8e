package graft.streaming

import graft.agg.MultiQueryPartial
import graft.agg.MultiQueryPartial.State
import graft.functions.KeyIndex
import org.apache.spark.TaskContext
import org.apache.spark.sql.{classic, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, BindReferences, BoundReference, Expression, RuntimeReplaceable}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/**
 * The runner's one Spark job per micro-batch, in the reference's shape: a
 * filter pass per partition that tests each record against every query and
 * emits serialized partials (FilterBolt.java:148-151, :187-199), then a
 * combine of the partials (JoinBolt.java:154-155). [[run]] is one map-only
 * stage over the batch — no shuffle, no cached batch, no SQL execution —
 * whose tasks feed every row to every [[Job]]'s buffers and return each
 * job's serialized buffers; [[Job.merge]] merges them on the driver with
 * the aggregate's own `merge`, into the buffers the runner folds into its
 * queries' states. What reaches the driver is O(partitions × sketch) per
 * job, whatever the batch size.
 *
 * A [[Job]] reads columns by their position in the batch schema, so the
 * runner keeps one across the batches of that schema; [[run]] only maps
 * those positions to the columns it selects.
 */
object BatchPass {

  /** One job's share of the pass: its aggregate `fn` and `keys`, as Spark's
    * analyzer resolved them over the batch, in [[schemaBound]]'s form: they
    * read the batch's columns by their position in its schema, so one job
    * serves every batch of that schema. `R` is the job's merged result. */
  sealed abstract class Job[R] extends Serializable {
    def fn: MultiQueryPartial
    def keys: Seq[Expression]
    protected def withExpressions(fn: MultiQueryPartial, keys: Seq[Expression]): Job[R]
    /** The schema positions of the columns the job reads. */
    @transient lazy val reads: Seq[Int] =
      (fn +: keys).flatMap(_.collect { case b: BoundReference => b.ordinal }).distinct
    /** A fresh buffer for one task's rows. */
    def open(): Buffer
    /** The tasks' results, merged. A decimal SUM that overflowed raises
      * here under ANSI, as the aggregate's `eval` does. */
    def merge(parts: Seq[AnyRef]): R

    private[BatchPass] def bind(f: Expression => Expression): Job[R] =
      withExpressions(f(fn).asInstanceOf[MultiQueryPartial], keys.map(f))
    /** Serialized buffers merged into one, checked. */
    protected def merged(parts: Iterable[Array[Byte]]): Array[State] =
      checked(parts.foldLeft(fn.createAggregationBuffer())((b, p) => fn.merge(b, fn.deserialize(p))))
    protected def checked(buf: Array[State]): Array[State] = { buf.foreach(MultiQueryPartial.check); buf }
  }

  abstract class Buffer {
    def update(row: InternalRow): Unit
    def result: AnyRef
  }

  /** Every row into one buffer. Merged: that buffer. */
  final case class Shared(fn: MultiQueryPartial) extends Job[Array[State]] {
    def keys: Seq[Expression] = Nil
    protected def withExpressions(f: MultiQueryPartial, k: Seq[Expression]): Shared = Shared(f)
    def open(): Buffer = new Buffer {
      private val buf = fn.createAggregationBuffer()
      def update(row: InternalRow): Unit = fn.update(buf, row)
      def result: AnyRef = fn.serialize(buf)
    }
    def merge(parts: Seq[AnyRef]): Array[State] = merged(parts.map(_.asInstanceOf[Array[Byte]]))
  }

  /** Each row into the buffer of its `key`'s slot in `index`, one binary
    * search per row; a row in no slot a query reads is dropped. Merged:
    * the slots that have rows, ascending, each with its buffer. */
  final case class Indexed(fn: MultiQueryPartial, key: Expression, index: KeyIndex)
      extends Job[IndexedSeq[(Int, Array[State])]] {
    def keys: Seq[Expression] = Seq(key)
    protected def withExpressions(f: MultiQueryPartial, k: Seq[Expression]): Indexed = Indexed(f, k.head, index)
    def open(): Buffer = new Buffer {
      private val bufs = new Array[Array[State]](index.top + 1)
      def update(row: InternalRow): Unit = {
        val k = key.eval(row)
        val s = if (k == null) -1 else index.slot(k)
        if (s >= 0) {
          if (bufs(s) == null) bufs(s) = fn.createAggregationBuffer()
          fn.update(bufs(s), row)
        }
      }
      def result: AnyRef = bufs.indices.collect { case s if bufs(s) != null => s -> fn.serialize(bufs(s)) }.toArray
    }
    def merge(parts: Seq[AnyRef]): IndexedSeq[(Int, Array[State])] =
      parts.flatMap(_.asInstanceOf[Array[(Int, Array[Byte])]]).groupMap(_._1)(_._2).toIndexedSeq
        .sortBy(_._1).map { case (s, ps) => s -> merged(ps) }
  }

  /** Each row some entry admits into the buffer of its `keys`' strings
    * (never null), each task keeping only its `cap` smallest keys: a new key
    * evicts the largest kept one, or is dropped when it is larger than all
    * of them. A key that has `cap` smaller keys in one partition has at
    * least as many in the batch, so every key among the batch's `cap`
    * smallest is kept whole by every task, and the merge's first `cap`
    * groups are exactly `orderBy(keys).limit(cap)` over all the groups.
    * Merged: those groups, ascending, each with its buffer. */
  final case class Grouped(fn: MultiQueryPartial, keys: Seq[Expression], cap: Int)
      extends Job[Seq[(Seq[String], Array[State])]] {
    protected def withExpressions(f: MultiQueryPartial, k: Seq[Expression]): Grouped = Grouped(f, k, cap)
    def open(): Buffer = new Buffer {
      private val ks = keys.toArray
      private val groups = new java.util.TreeMap[Array[UTF8String], Array[State]](KeyOrder)
      private val probe = new Array[UTF8String](ks.length)
      def update(row: InternalRow): Unit = if (fn.admit(row)) {
        var i = 0
        while (i < ks.length) { probe(i) = ks(i).eval(row).asInstanceOf[UTF8String]; i += 1 }
        var buf = groups.get(probe)
        if (buf == null && (groups.size < cap || KeyOrder.compare(probe, groups.lastKey) < 0)) {
          if (groups.size >= cap) groups.pollLastEntry()
          buf = fn.createAggregationBuffer()
          groups.put(probe.map(_.clone()), buf) // the row's strings are reused
        }
        if (buf != null) fn.updateAdmitted(buf, row)
      }
      def result: AnyRef = groups.entrySet.asScala.map(e => e.getKey -> fn.serialize(e.getValue)).toArray
    }
    def merge(parts: Seq[AnyRef]): Seq[(Seq[String], Array[State])] = {
      val all = new java.util.TreeMap[Array[UTF8String], Array[State]](KeyOrder)
      parts.foreach(_.asInstanceOf[Array[(Array[UTF8String], Array[Byte])]].foreach { case (k, p) =>
        all.merge(k, fn.deserialize(p), (a, b) => fn.merge(a, b))
      })
      all.entrySet.asScala.iterator.take(cap).map(e => (e.getKey.toSeq.map(_.toString), checked(e.getValue))).toSeq
    }
  }

  /** Key strings in Spark's string order, field by field. */
  private object KeyOrder extends java.util.Comparator[Array[UTF8String]] with Serializable {
    def compare(a: Array[UTF8String], b: Array[UTF8String]): Int = {
      var i = 0
      var c = 0
      while (c == 0 && i < a.length) { c = a(i).compareTo(b(i)); i += 1 }
      c
    }
  }

  /** Runs `jobs` as ONE Spark job of one stage over the columns of `batch`
    * they read (a column no job reads is never computed); per job, its
    * tasks' results. The jobs ship inside the task, so each task
    * deserializes its own copy: a job's aggregate keeps per-row scratch,
    * which tasks sharing one instance would race on. */
  def run(batch: DataFrame, jobs: Seq[Job[_]]): Seq[Seq[AnyRef]] = if (jobs.isEmpty) Nil else {
    val columns = batch.queryExecution.analyzed.output
    val reads = jobs.flatMap(_.reads).distinct.sorted
    val input = batch.select(reads.map(i => ColumnBridge.column(columns(i))): _*)
    // each read column's position in `input`
    val at = new Array[Int](columns.size)
    reads.indices.foreach(p => at(reads(p)) = p)
    val bound = (if (reads.size == columns.size) jobs else jobs.map(_.bind(_.transform {
      case b: BoundReference => b.copy(ordinal = at(b.ordinal))
    }))).toArray
    val rdd = input.queryExecution.toRdd
    val parts = new Array[Array[AnyRef]](rdd.partitions.length)
    // the session's SQL settings reach the tasks, as in a Dataset action
    SQLExecution.withSQLConfPropagated(input.sparkSession.asInstanceOf[classic.SparkSession]) {
      rdd.sparkContext.runJob(rdd, new Task(bound), parts.indices, (p: Int, r: Array[AnyRef]) => parts(p) = r)
    }
    jobs.indices.map(j => parts.toSeq.map(_(j)))
  }

  /** One task: every row into every job's buffer, then each job's result.
    * A named class passed straight to `runJob`, not a lambda, so Spark's
    * closure cleaner has no closure to re-read on every pass. */
  private final class Task(jobs: Array[Job[_]])
      extends ((TaskContext, Iterator[InternalRow]) => Array[AnyRef]) with Serializable {
    def apply(ctx: TaskContext, rows: Iterator[InternalRow]): Array[AnyRef] = {
      val bufs = jobs.map(_.open())
      rows.foreach { row =>
        var j = 0
        while (j < bufs.length) { bufs(j).update(row); j += 1 }
      }
      bufs.map(_.result)
    }
  }

  /** Analyzed `e` over `columns`, a batch's output, in the form a job
    * holds: evaluable, reading each column by its position. */
  def schemaBound(e: Expression, columns: Seq[Attribute]): Expression =
    BindReferences.bindReference(evaluable(e), columns)

  /** `e` as a row-by-row evaluation runs it: no aliases, and runtime-
    * replaceable nodes replaced, as the optimizer does for a planned query
    * (the analyzed plan is the source: over a local batch, the optimizer
    * would evaluate a projection on the driver and rename grouping keys). */
  private def evaluable(e: Expression): Expression = {
    val r = e.transformDown { case Alias(c, _) => c; case x: RuntimeReplaceable => x.replacement }
    if (r.fastEquals(e)) r else evaluable(r)
  }
}
