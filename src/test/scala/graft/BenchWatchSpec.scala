package graft

import org.scalatest.funsuite.AnyFunSuite

/** Regression-watch categorization ([[Bench.categorize]]): the gate that
  * decides what ships inside `regressions` vs `suite_noise` vs
  * `unadjudicated`. The r11+r12 official runs shipped 97 flags with zero
  * true positives because the old path (a) let budget-skipped breaches
  * ride in `regressions` as `fresh:null` and (b) judged fresh re-times
  * against the SUITE's box factor even though they run in their own time
  * window — these tests replay both failure shapes plus the r12 tail.
  */
class BenchWatchSpec extends AnyFunSuite {
  import Bench.{AdjRow, breachAt, categorize, DegradedBoxFactor}

  private def row(name: String, sec: Double, best: Double,
                  min: Option[Double] = None): AdjRow =
    AdjRow(name, sec, best, min, min.map(_ * 1.2))

  test("breachAt: >25% over factor-scaled floor plus 0.25 s grace") {
    assert(!breachAt(best = 1.0, v = 1.45, factor = 1.0)) // inside 1.25+0.25
    assert(breachAt(best = 1.0, v = 1.55, factor = 1.0))
    // the same 1.55 is inside the envelope on a 1.3x-degraded box
    assert(!breachAt(best = 1.0, v = 1.55, factor = 1.3))
  }

  test("r12 tail replay: degraded window ships NOTHING in regressions") {
    // the r12 official file: 55 breaches at box_factor 1.707, ~47 never
    // re-timed (fresh None), the few re-times riding the same polluted
    // window (fresh mins ~2.5x their floors). The adjudication-time
    // canary in that window would have read ~1.7 -> degraded.
    val rows =
      (1 to 47).map(i => row(s"q_skipped_$i", sec = 2.0, best = 0.8)) ++
      Seq(
        // q_ts_anomaly's shape: floor 0.676-envelope, polluted fresh 1.5
        row("q_ts_anomaly", sec = 1.6, best = 0.34, min = Some(1.5)),
        row("q_cooccur_window", sec = 1.4, best = 0.45, min = Some(1.1)),
        // one entry whose fresh min reached the UNSCALED envelope even
        // on the slow box -- the strongest disproof, still honored
        row("q_calm_sample", sec = 2.0, best = 1.0, min = Some(1.2)))
    val (reg, noise, unadj) = categorize(rows, adjFactor = 1.7)
    assert(reg.isEmpty, "a degraded adjudication window must flag nothing")
    assert(noise.map(_.name) == Seq("q_calm_sample"))
    assert(unadj.size == 49)
    assert(unadj.exists(_.name == "q_ts_anomaly"))
  }

  test("calm window: reproduced breach flags, disproved ships as noise, " +
       "skipped ships unadjudicated (never in regressions)") {
    val rows = Seq(
      row("q_real_regression", sec = 6.0, best = 1.0, min = Some(5.8)),
      row("q_noise", sec = 6.0, best = 1.0, min = Some(1.1)),
      row("q_budget_skipped", sec = 6.0, best = 1.0, min = None))
    val (reg, noise, unadj) = categorize(rows, adjFactor = 1.0)
    assert(reg.map(_.name) == Seq("q_real_regression"))
    assert(noise.map(_.name) == Seq("q_noise"))
    assert(unadj.map(_.name) == Seq("q_budget_skipped"))
  }

  test("calm window: fresh mins judged against the adjudication factor, " +
       "not the suite's") {
    // fresh min 1.8 vs floor 1.0: breaches at factor 1.0 (1.8 > 1.5)
    // but is inside the envelope at adjFactor 1.2 (1.8 <= 1.75... no:
    // 1.0*1.25*1.2+0.25 = 1.75 < 1.8 -> still breaches; use 1.25)
    val r = row("q_border", sec = 3.0, best = 1.0, min = Some(1.7))
    val (regCalm, _, _) = categorize(Seq(r), adjFactor = 1.0)
    assert(regCalm.nonEmpty) // 1.7 > 1.5: reproduced on an idle box
    val (regWarm, noiseWarm, _) = categorize(Seq(r), adjFactor = 1.2)
    assert(regWarm.isEmpty && noiseWarm.nonEmpty) // 1.7 <= 1.75
  }

  test("baseline block: a degraded verdict re-emits from fresh probes, branded by source") {
    import Bench.{baselineBlock, baselineValues, BaselineTargets}
    // r13 replay: a burst window inflated the in-suite walls ~20x
    // (q_filter_project shipped at 27.89x) while fresh-JVM probes sat
    // near their floors
    val polluted = BaselineTargets.map { case (k, t) => k -> t * 20 }.toMap
    val fresh = BaselineTargets.map { case (k, t) => k -> t * 1.05 }.toMap
    // ok verdict: in-suite walls are the driver-comparable numbers
    val (v1, s1) = baselineValues(polluted, fresh, degraded = false)
    assert(s1 == "in_suite" && v1 == polluted)
    // degraded + full fresh coverage: every ratio comes from the probe
    val (v2, s2) = baselineValues(polluted, fresh, degraded = true)
    assert(s2 == "fresh")
    BaselineTargets.foreach { case (k, _) => assert(v2(k) == fresh(k)) }
    val block = baselineBlock(v2, s2, sfMatch = true, b8ok = true)
    assert(block.contains(""""source":"fresh""""), block)
    assert(block.contains(""""n_over_2x":0"""), block)
    // fresh values judge against the fresh-JVM population's targets —
    // a fresh probe on suite floors reads a structural 2-4x while
    // measuring nothing (the r14 validation run's phantom 2.61)
    assert(block.contains(""""targets_population":"benchone_med3""""), block)
    // degraded + partial fresh: fresh rows win, block brands the gap
    val (v3, s3) = baselineValues(polluted, fresh - "q_topk", degraded = true)
    assert(s3 == "fresh_partial" && v3("q_topk") == polluted("q_topk"))
    // degraded + probe failed entirely: polluted walls must never pass
    // under the plain in_suite brand
    val (_, s4) = baselineValues(polluted, Map.empty, degraded = true)
    assert(s4 == "in_suite_degraded")
    // and had the polluted walls been published, the block would have
    // carried the false n_over_2x signal this machinery exists to stop
    val pollutedBlock = baselineBlock(polluted, "in_suite", sfMatch = true,
      b8ok = true)
    assert(pollutedBlock.contains(s""""n_over_2x":${BaselineTargets.size}"""),
      pollutedBlock)
  }

  test("degraded threshold is the committed constant") {
    assert(DegradedBoxFactor == 1.3)
    // exactly at the threshold = degraded (>= semantics)
    val r = row("q", sec = 3.0, best = 1.0, min = Some(2.9))
    val (reg, _, unadj) = categorize(Seq(r), adjFactor = 1.3)
    assert(reg.isEmpty && unadj.nonEmpty)
  }

  test("compactLine: oversized inputs stay under the hard cap as valid JSON") {
    import Bench.{compactLine, jstr}
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def block(n: Int) = Seq.tabulate(n)(i => s""""k$i":$i.5""").mkString("{", ",", "}")
    val regRow = s"""{"name":${jstr("q_" + "x" * 200)},"sec":9.9,"best":1.0,""" +
      s""""fresh_min":null,"fresh_median":null}"""
    def fields(b7: String) = Seq(
      "metric" -> jstr("total"), "value" -> "123.456", "unit" -> jstr("sec"),
      "verdict" -> jstr("degraded\nbox"), "n_queries" -> "300", "n_errors" -> "0",
      "error_names" -> "[]", "b7" -> b7, "b11" -> block(10), "b8" -> block(4),
      "baseline" -> block(10), "n_regressions" -> "40",
      "regressions" -> Seq.fill(3)(regRow).mkString("[", ",", "]"),
      "jvm" -> block(5), "full" -> jstr("bench_full.json"))
    // compactLine's drop order
    val drop = Seq("regressions", "jvm", "baseline", "b8", "b11", "b7", "error_names")
    val queries = (1 to 300).map(i => s"q_entry_with_a_long_name_$i" -> (1000.0 / i))
    // the regression rows leave before any other field, n_regressions stays
    val fitWithoutRows = compactLine(fields(block(60)), queries, "/data/sf0.1")
    // a b7 block too large for any line: it and every field listed
    // before it leave, error_names (listed after it) stays
    val huge = compactLine(fields(block(400)), queries, "/data/sf0.1")
    for (line <- Seq(fitWithoutRows, huge)) {
      assert(line.length <= 1800, line.length)
      assert(line.startsWith("{\"metric\":\"total\""), line.take(40))
      val json = mapper.readTree(line)
      assert(json.get("n_regressions").asInt == 40)
      assert(json.get("sf").asText == "/data/sf0.1")
    }
    val fit = mapper.readTree(fitWithoutRows)
    assert(!fit.has("regressions") && fit.has("jvm") && fit.has("b7"))
    assert(fit.get("queries").size > 0)
    assert(fit.get("queries").fieldNames.next() == "q_entry_with_a_long_name_1")
    val bare = mapper.readTree(huge)
    assert(drop.init.forall(k => !bare.has(k)) && bare.has("error_names"))
    assert(bare.get("queries").size > 0)
    // small inputs keep every field and are cut only in queries
    val small = mapper.readTree(compactLine(fields(block(2)), queries, "/data/sf0.1"))
    assert(small.has("regressions") && small.get("regressions").size == 3)
  }
}
