package graft.agg

import org.apache.datasketches.common.ArrayOfStringsSerDe
import org.apache.datasketches.frequencies.{ErrorType, ItemsSketch}
import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.datasketches.quantilescommon.QuantileSearchCriteria
import org.apache.datasketches.theta.{CompactSketch, SetOperation, Union}
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

import java.io.{ObjectInputStream, ObjectOutputStream}

/**
 * Bounded-memory, mergeable sketch aggregations (SURVEY.md §2.4), built on
 * Apache DataSketches (already on the Spark classpath). The finishing
 * aggregations here are typed [[Aggregator]]s; the partial form that
 * emits a serialized buffer for a downstream combiner (the streaming
 * runner's driver state, persisted sketch tables) is the native Catalyst
 * aggregate [[SketchPartial]] over the same buffers. Catalyst splits both
 * into partial(update)/final(merge) around the shuffle — the exact
 * contract the reference proves with its two-partial combine tests
 * (JoinBoltTest.java:696-893).
 *
 * Buffers hold live sketch objects in memory; (de)serialization to the
 * sketches' compact binary form happens only at the partial→final shuffle
 * boundary (Java serialization hooks below), so per-row update cost is O(1)
 * with zero copying — this is what makes them viable at 100 TB: state is
 * O(sketch entries), never O(data).
 */
object SketchAggregators {
  /** Reference convention: missing/null grouped field stringifies to "null"
    * (FilterBoltTest.java:827-828). */
  val NullString = "null"

  /** Shared TOP_K finish: NO_FALSE_NEGATIVES rows, deterministic
    * (-count, key) order, truncated to k — one definition so the live
    * aggregator and the persisted-merge aggregator can never drift. */
  private[agg] def topKRows(b: FreqItemsBuf, k: Int, threshold: Long): Seq[TopKRow] =
    b.result.getFrequentItems(threshold, ErrorType.NO_FALSE_NEGATIVES)
      .toSeq
      .map(r => TopKRow(r.getItem, r.getEstimate))
      .sortBy(r => (-r.count, r.key))
      .take(k)
}

/** Serialize/deserialize sketch buffers — the `byte[]` intermediate form the
  * streaming runner ships from the shared micro-batch pass to the driver
  * combine stage (the reference's FilterBolt→JoinBolt contract,
  * FilterBolt.java:187-199 / JoinBolt.java:154-155). */
object BufSerde {
  def ser(x: Serializable): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new ObjectOutputStream(bos)
    oos.writeObject(x); oos.close()
    bos.toByteArray
  }
  def de[T](bytes: Array[Byte]): T = {
    val ois = new ObjectInputStream(new java.io.ByteArrayInputStream(bytes))
    ois.readObject().asInstanceOf[T]
  }
}

/** Re-merge PERSISTED theta partials (the bytes [[SketchPartial.Theta]]
  * emits) and finish to the rounded distinct estimate — the second half
  * of the save/restore contract: sketches written to a parquet binary
  * column in one run merge with fresh partials in the next, so history
  * is never re-scanned.
  *
  * `requireExact = true` turns the silent exact→estimate crossover into a
  * loud failure: a MERGED group whose union left the sketch's exact regime
  * (retained < nominal entries) throws instead of emitting an estimate —
  * the contract callers like [[graft.operators.TrailingUniques]] use when
  * the consumer (or the test oracle) needs exact distinct counts. */
final class ThetaMergeEstimateAgg(lgK: Int = 17, requireExact: Boolean = false)
    extends Aggregator[Array[Byte], ThetaBuf, java.lang.Long] {
  def zero: ThetaBuf = new ThetaBuf(lgK)
  def reduce(b: ThetaBuf, in: Array[Byte]): ThetaBuf =
    if (in == null) b else b.merge(BufSerde.de[ThetaBuf](in))
  def merge(b1: ThetaBuf, b2: ThetaBuf): ThetaBuf = b1.merge(b2)
  def finish(b: ThetaBuf): java.lang.Long = {
    val r = b.result
    if (requireExact) require(!r.isEstimationMode,
      s"theta union left the exact regime (lgK=$lgK): the merged distinct " +
        "count is now an estimate. Raise lgK or drop requireExact.")
    Math.round(r.getEstimate)
  }
  def bufferEncoder: Encoder[ThetaBuf] = Encoders.javaSerialization[ThetaBuf]
  def outputEncoder: Encoder[java.lang.Long] = Encoders.LONG
}

/** Re-merge PERSISTED KLL partials (the bytes [[SketchPartial.Kll]] emits)
  * and finish to the quantile values at `points` — the distribution
  * family's half of the save/restore contract, mirroring
  * [[ThetaMergeEstimateAgg]]: snapshots written to a parquet binary
  * column in one run merge with fresh partials in the next, quantiles
  * read from KBs of sketch bytes, history never re-scanned. INCLUSIVE
  * search (smallest value whose rank ≥ p) — percentile_disc parity,
  * same criterion as [[KllDistributionAgg]]'s QUANTILE. An empty merge
  * result finishes to an EMPTY pair list — the mergedQuantiles wrapper
  * turns it into one (seg, NULL, NULL) marker row via explode_outer
  * so a dead segment stays visible. */
final class KllMergeQuantilesAgg(points: Array[Double], k: Int = 2048)
    extends Aggregator[Array[Byte], KllBuf, Seq[(Double, Double)]] {
  def zero: KllBuf = new KllBuf(k)
  def reduce(b: KllBuf, in: Array[Byte]): KllBuf =
    if (in == null) b else b.merge(BufSerde.de[KllBuf](in))
  def merge(b1: KllBuf, b2: KllBuf): KllBuf = b1.merge(b2)
  // (quantile, value) PAIRS, not bare values: the wrapper explodes this
  // array, and recovering the rank from the row position via element_at
  // is unsafe — posexplode_outer's pos attribute is (wrongly, for the
  // outer variant) non-nullable, and Catalyst folds the lookup under
  // that assumption, resurrecting a rank for the empty-marker row
  def finish(b: KllBuf): Seq[(Double, Double)] = {
    val s = b.result
    if (s.isEmpty) Seq.empty
    else points.toSeq.map(p =>
      (p, s.getQuantile(p, QuantileSearchCriteria.INCLUSIVE)))
  }
  def bufferEncoder: Encoder[KllBuf] = Encoders.javaSerialization[KllBuf]
  def outputEncoder: Encoder[Seq[(Double, Double)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Double)]]()
}

/** Re-merge PERSISTED FrequentItems partials (the bytes
  * [[SketchPartial.FreqItems]] emits) and finish to the top-k rows — the
  * TOP_K family's half of the save/restore contract, completing the
  * trio with [[ThetaMergeEstimateAgg]] (count-distinct) and
  * [[KllMergeQuantilesAgg]] (distribution). Same finish semantics as
  * [[FreqItemsTopKAgg]]: NO_FALSE_NEGATIVES, optional threshold,
  * deterministic (-count, key) ordering. Zero-error while distinct keys
  * stay under the sketch purge load (~0.75 · maxMapSize) across ALL
  * merged snapshots. */
final class FreqItemsMergeTopKAgg(k: Int, threshold: Long = 0L,
                                  maxMapSize: Int = 1024)
    extends Aggregator[Array[Byte], FreqItemsBuf, Seq[TopKRow]] {
  def zero: FreqItemsBuf = new FreqItemsBuf(maxMapSize)
  def reduce(b: FreqItemsBuf, in: Array[Byte]): FreqItemsBuf =
    if (in == null) b else b.merge(BufSerde.de[FreqItemsBuf](in))
  def merge(b1: FreqItemsBuf, b2: FreqItemsBuf): FreqItemsBuf = b1.merge(b2)
  def finish(b: FreqItemsBuf): Seq[TopKRow] =
    SketchAggregators.topKRows(b, k, threshold)
  def bufferEncoder: Encoder[FreqItemsBuf] = Encoders.javaSerialization[FreqItemsBuf]
  def outputEncoder: Encoder[Seq[TopKRow]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[TopKRow]]()
}

// ---------------------------------------------------------------------------
// COUNT_DISTINCT — Theta sketch (exact ≤ 2^lgK entries, ~2% RSE beyond)
// Reference: ThetaSketchingStrategy, FilterBoltTest.java:680-710.
// ---------------------------------------------------------------------------

/** Serializable wrapper around a Theta Union; compact-form bytes cross the
  * shuffle, live gadget everywhere else. */
final class ThetaBuf(val lgK: Int) extends Serializable {
  @transient private var union: Union = _
  private def ensure(): Union = {
    if (union == null)
      union = SetOperation.builder().setNominalEntries(1 << lgK).buildUnion()
    union
  }
  def update(s: String): Unit = ensure().update(s)
  def merge(other: ThetaBuf): ThetaBuf = {
    if (other.union != null) ensure().union(other.union.getResult)
    this
  }
  def result: CompactSketch = ensure().getResult

  private def writeObject(out: ObjectOutputStream): Unit = {
    out.writeInt(lgK)
    val bytes = result.toByteArray
    out.writeInt(bytes.length)
    out.write(bytes)
  }
  // NB: constructor vals are NOT restored by custom readObject (no
  // defaultReadObject call) — use the locally-read value, never the field.
  private def readObject(in: ObjectInputStream): Unit = {
    val lg = in.readInt()
    val n = in.readInt()
    val bytes = new Array[Byte](n)
    in.readFully(bytes)
    union = SetOperation.builder().setNominalEntries(1 << lg).buildUnion()
    union.union(CompactSketch.wrap(Memory.wrap(bytes)))
  }
}

final class ThetaCountDistinctAgg(lgK: Int = 17)
    extends Aggregator[String, ThetaBuf, Long] {
  def zero: ThetaBuf = new ThetaBuf(lgK)
  def reduce(b: ThetaBuf, in: String): ThetaBuf = { if (in != null) b.update(in); b }
  def merge(b1: ThetaBuf, b2: ThetaBuf): ThetaBuf = b1.merge(b2)
  def finish(b: ThetaBuf): Long = Math.round(b.result.getEstimate)
  def bufferEncoder: Encoder[ThetaBuf] = Encoders.javaSerialization[ThetaBuf]
  def outputEncoder: Encoder[Long] = Encoders.scalaLong
}

// (Estimation detail — estimate/bounds/isEstimation — surfaces through the
// runner's Clip metadata: CountDistinctState.metaEntries in AggState.scala.)

// ---------------------------------------------------------------------------
// DISTRIBUTION — KLL doubles sketch; QUANTILE / PMF / CDF result shapes
// Reference: QuantileSketchingStrategy, FilterBoltTest.java:741-786.
// ---------------------------------------------------------------------------

final class KllBuf(val k: Int) extends Serializable {
  @transient private var sketch: KllDoublesSketch = _
  private def ensure(): KllDoublesSketch = {
    if (sketch == null) sketch = KllDoublesSketch.newHeapInstance(k)
    sketch
  }
  def update(d: Double): Unit = ensure().update(d)
  def merge(other: KllBuf): KllBuf = {
    if (other.sketch != null) ensure().merge(other.sketch)
    this
  }
  def result: KllDoublesSketch = ensure()

  private def writeObject(out: ObjectOutputStream): Unit = {
    out.writeInt(k)
    val bytes = result.toByteArray
    out.writeInt(bytes.length)
    out.write(bytes)
  }
  private def readObject(in: ObjectInputStream): Unit = {
    in.readInt()
    val n = in.readInt()
    val bytes = new Array[Byte](n)
    in.readFully(bytes)
    sketch = KllDoublesSketch.heapify(Memory.wrap(bytes))
  }
}

/** One row of a DISTRIBUTION result. QUANTILE rows use (quantile, value);
  * PMF/CDF rows use (range, count, probability). The query layer projects
  * the relevant columns per dtype. */
final case class DistRow(range: String, count: Long, probability: Double,
                         quantile: Double, value: Double)

/**
 * DISTRIBUTION aggregator. `points`: for QUANTILE, the rank points in [0,1];
 * for PMF/CDF, the split points. Search criterion is EXCLUSIVE so PMF bins
 * are left-closed right-open `[a, b)` — the reference's range convention
 * (FilterBoltTest.java:770-781); QUANTILE uses INCLUSIVE (smallest value
 * whose inclusive rank ≥ p — SQL percentile_disc semantics).
 */
final class KllDistributionAgg(dtype: String, explicitPoints: Array[Double],
                               k: Int = 2048, numPoints: Int = 0)
    extends Aggregator[java.lang.Double, KllBuf, Seq[DistRow]] {
  import SketchAggregators._
  def zero: KllBuf = new KllBuf(k)
  def reduce(b: KllBuf, in: java.lang.Double): KllBuf = {
    if (in != null) b.update(in.doubleValue); b
  }
  def merge(b1: KllBuf, b2: KllBuf): KllBuf = b1.merge(b2)

  /** LINEAR point generation (bullet-core LinearDistribution,
    * FilterBoltTest.java:747): QUANTILE ranks spread over [0, 1]; PMF/CDF
    * split points spread between the sketch's own min and max — data
    * dependent, only known at finish. */
  private def generatedPoints(s: KllDoublesSketch): Array[Double] =
    if (explicitPoints.nonEmpty || numPoints <= 0) explicitPoints
    else if (dtype == "QUANTILE") {
      if (numPoints == 1) Array(0.0)
      else Array.tabulate(numPoints)(i => i.toDouble / (numPoints - 1))
    } else {
      // degenerate domain (min == max, e.g. one distinct value) collapses
      // to a single split — getPMF/getCDF REQUIRE strictly increasing
      // points and throw on duplicates
      val (lo, hi) = (s.getMinItem, s.getMaxItem)
      if (numPoints == 1 || hi == lo) Array(lo)
      else Array.tabulate(numPoints)(i => lo + i * (hi - lo) / (numPoints - 1)).distinct
    }

  def finish(b: KllBuf): Seq[DistRow] = {
    val s = b.result
    if (s.isEmpty) return Seq.empty
    val n = s.getN
    val points = generatedPoints(s)
    dtype match {
      case "QUANTILE" =>
        points.toSeq.map { p =>
          DistRow(null, 0L, 0.0, p, s.getQuantile(p, QuantileSearchCriteria.INCLUSIVE))
        }
      // Probability is the sketch's own mass `p`. In estimation mode it is
      // emitted directly — deriving it from the rounded count (round(p·n)/n)
      // skews the mass by up to 0.5/n. In the exact regime p·n is an
      // integral count, so count/n IS the mass; dividing the integer count
      // matches an exact-SQL oracle to the last ULP (the sketch's internal
      // c_hi/n − c_lo/n ordering does not).
      case "PMF" =>
        val probs = s.getPMF(points, QuantileSearchCriteria.EXCLUSIVE)
        val ranges = pmfRanges(points)
        ranges.zip(probs.toSeq).map { case (r, p) =>
          val cnt = Math.round(p * n)
          DistRow(r, cnt, if (s.isEstimationMode) p else cnt.toDouble / n, 0.0, 0.0)
        }
      case "CDF" =>
        val probs = s.getCDF(points, QuantileSearchCriteria.EXCLUSIVE)
        val ranges = cdfRanges(points)
        ranges.zip(probs.toSeq).map { case (r, p) =>
          val cnt = Math.round(p * n)
          DistRow(r, cnt, if (s.isEstimationMode) p else cnt.toDouble / n, 0.0, 0.0)
        }
    }
  }

  /** `(-∞, s0)  [s0, s1) ... [sm, +∞)` — m+1 bins for m split points. */
  private def pmfRanges(sp: Array[Double]): Seq[String] = {
    val negInf = "(-∞"
    val posInf = "+∞)"
    val starts = negInf +: sp.map(p => s"[${fmt(p)}").toSeq
    val ends = sp.map(p => s"${fmt(p)})").toSeq :+ posInf
    starts.zip(ends).map { case (a, b) => s"$a, $b" }
  }
  /** CDF bins all start at -∞: `(-∞, s0) (-∞, s1) ... (-∞, +∞)`. */
  private def cdfRanges(sp: Array[Double]): Seq[String] =
    (sp.map(p => s"(-∞, ${fmt(p)})").toSeq :+ "(-∞, +∞)")

  private def fmt(d: Double): String = d.toString

  def bufferEncoder: Encoder[KllBuf] = Encoders.javaSerialization[KllBuf]
  def outputEncoder: Encoder[Seq[DistRow]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[DistRow]]()
}

// ---------------------------------------------------------------------------
// TOP_K — FrequentItems sketch (NO_FALSE_NEGATIVES; exact when map holds all)
// Reference: FrequentItemsSketchingStrategy, FilterBoltTest.java:789-832.
// ---------------------------------------------------------------------------

final class FreqItemsBuf(val maxMapSize: Int) extends Serializable {
  @transient private var sketch: ItemsSketch[String] = _
  private def ensure(): ItemsSketch[String] = {
    if (sketch == null) sketch = new ItemsSketch[String](maxMapSize)
    sketch
  }
  def update(s: String): Unit = ensure().update(s)
  def merge(other: FreqItemsBuf): FreqItemsBuf = {
    if (other.sketch != null) ensure().merge(other.sketch)
    this
  }
  def result: ItemsSketch[String] = ensure()

  private def writeObject(out: ObjectOutputStream): Unit = {
    out.writeInt(maxMapSize)
    val bytes = result.toByteArray(new ArrayOfStringsSerDe)
    out.writeInt(bytes.length)
    out.write(bytes)
  }
  private def readObject(in: ObjectInputStream): Unit = {
    in.readInt()
    val n = in.readInt()
    val bytes = new Array[Byte](n)
    in.readFully(bytes)
    sketch = ItemsSketch.getInstance(Memory.wrap(bytes), new ArrayOfStringsSerDe)
  }
}

final case class TopKRow(key: String, count: Long)

/**
 * TOP_K aggregator over a (concatenated) field tuple. Emits up to k items by
 * estimated frequency (NO_FALSE_NEGATIVES regime), optional minimum-count
 * threshold, deterministic tie-break by key string.
 */
final class FreqItemsTopKAgg(k: Int, threshold: Long = 0L, maxMapSize: Int = 1024)
    extends Aggregator[String, FreqItemsBuf, Seq[TopKRow]] {
  def zero: FreqItemsBuf = new FreqItemsBuf(maxMapSize)
  def reduce(b: FreqItemsBuf, in: String): FreqItemsBuf = {
    if (in != null) b.update(in); b
  }
  def merge(b1: FreqItemsBuf, b2: FreqItemsBuf): FreqItemsBuf = b1.merge(b2)
  def finish(b: FreqItemsBuf): Seq[TopKRow] =
    SketchAggregators.topKRows(b, k, threshold)
  def bufferEncoder: Encoder[FreqItemsBuf] = Encoders.javaSerialization[FreqItemsBuf]
  def outputEncoder: Encoder[Seq[TopKRow]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[TopKRow]]()
}
