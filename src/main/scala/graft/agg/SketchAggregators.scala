package graft.agg

import org.apache.datasketches.common.ArrayOfStringsSerDe
import org.apache.datasketches.frequencies.{ErrorType, ItemsSketch}
import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.datasketches.quantilescommon.QuantileSearchCriteria
import org.apache.datasketches.theta.{CompactSketch, SetOperation, Union}

import java.io.{ObjectInputStream, ObjectOutputStream}

/**
 * Bounded-memory, mergeable sketch aggregations (SURVEY.md §2.4), built on
 * Apache DataSketches (already on the Spark classpath): the buffers, their
 * byte form, and the finish functions. The aggregate over them is the one
 * native Catalyst aggregate [[SketchPartial]]: its partial kinds emit a
 * serialized buffer for a downstream combiner (the streaming runner's
 * driver state, persisted sketch tables), its finishing kinds call the
 * finish functions below, as does the runner's driver state
 * ([[graft.streaming.AggState]]). Catalyst splits every kind into
 * partial(update)/final(merge) around the shuffle — the exact contract the
 * reference proves with its two-partial combine tests
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

  /** COUNT_DISTINCT finish: the rounded Theta estimate (0 when empty).
    *
    * `requireExact = true` turns the silent exact→estimate crossover into a
    * loud failure: a union that left the sketch's exact regime (retained <
    * nominal entries) throws instead of emitting an estimate — the contract
    * callers like [[graft.operators.TrailingUniques]] use when the consumer
    * (or the test oracle) needs exact distinct counts. `lgK` is the
    * caller's: a deserialized buffer does not restore its own. */
  def thetaEstimate(b: ThetaBuf, lgK: Int, requireExact: Boolean = false): Long = {
    val r = b.result
    if (requireExact) require(!r.isEstimationMode,
      s"theta union left the exact regime (lgK=$lgK): the merged distinct " +
        "count is now an estimate. Raise lgK or drop requireExact.")
    Math.round(r.getEstimate)
  }

  /**
   * DISTRIBUTION finish (`dtype` QUANTILE, PMF or CDF); no rows when empty.
   * `points`: for QUANTILE, the rank points in [0,1]; for PMF/CDF, the
   * split points — or, when empty and `numPoints > 0`, generated LINEAR.
   * Search criterion is EXCLUSIVE so PMF bins are left-closed right-open
   * `[a, b)` — the reference's range convention (FilterBoltTest.java:770-781);
   * QUANTILE uses INCLUSIVE (smallest value whose inclusive rank ≥ p — SQL
   * percentile_disc semantics).
   */
  def distRows(b: KllBuf, dtype: String, points: Seq[Double],
               numPoints: Int = 0): Seq[DistRow] = {
    val s = b.result
    if (s.isEmpty) return Seq.empty
    val n = s.getN
    val ps = linearPoints(s, dtype, points.toArray, numPoints)
    dtype match {
      case "QUANTILE" =>
        ps.toSeq.map { p =>
          DistRow(null, 0L, 0.0, p, s.getQuantile(p, QuantileSearchCriteria.INCLUSIVE))
        }
      // Probability is the sketch's own mass `p`. In estimation mode it is
      // emitted directly — deriving it from the rounded count (round(p·n)/n)
      // skews the mass by up to 0.5/n. In the exact regime p·n is an
      // integral count, so count/n IS the mass; dividing the integer count
      // matches an exact-SQL oracle to the last ULP (the sketch's internal
      // c_hi/n − c_lo/n ordering does not).
      case "PMF" =>
        val probs = s.getPMF(ps, QuantileSearchCriteria.EXCLUSIVE)
        pmfRanges(ps).zip(probs.toSeq).map { case (r, p) =>
          val cnt = Math.round(p * n)
          DistRow(r, cnt, if (s.isEstimationMode) p else cnt.toDouble / n, 0.0, 0.0)
        }
      case "CDF" =>
        val probs = s.getCDF(ps, QuantileSearchCriteria.EXCLUSIVE)
        cdfRanges(ps).zip(probs.toSeq).map { case (r, p) =>
          val cnt = Math.round(p * n)
          DistRow(r, cnt, if (s.isEstimationMode) p else cnt.toDouble / n, 0.0, 0.0)
        }
    }
  }

  /** LINEAR point generation (bullet-core LinearDistribution,
    * FilterBoltTest.java:747): QUANTILE ranks spread over [0, 1]; PMF/CDF
    * split points spread between the sketch's own min and max — data
    * dependent, only known at finish. */
  private def linearPoints(s: KllDoublesSketch, dtype: String,
                           explicitPoints: Array[Double], numPoints: Int): Array[Double] =
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

  /** `(-∞, s0)  [s0, s1) ... [sm, +∞)` — m+1 bins for m split points. */
  private def pmfRanges(sp: Array[Double]): Seq[String] = {
    val starts = "(-∞" +: sp.map(p => s"[$p").toSeq
    val ends = sp.map(p => s"$p)").toSeq :+ "+∞)"
    starts.zip(ends).map { case (a, b) => s"$a, $b" }
  }
  /** CDF bins all start at -∞: `(-∞, s0) (-∞, s1) ... (-∞, +∞)`. */
  private def cdfRanges(sp: Array[Double]): Seq[String] =
    sp.map(p => s"(-∞, $p)").toSeq :+ "(-∞, +∞)"

  /** TOP_K finish: NO_FALSE_NEGATIVES rows at or above `threshold`,
    * deterministic (-count, key) order, truncated to k. */
  def topKRows(b: FreqItemsBuf, k: Int, threshold: Long): Seq[TopKRow] =
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
