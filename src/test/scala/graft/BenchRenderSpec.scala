package graft

import org.scalatest.funsuite.AnyFunSuite
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The bench stdout line is the driver's ONLY machine-readable bench
  * signal, captured from a 2000-char stdout tail — so its length cap and
  * JSON validity are correctness contracts, pinned here on pathological
  * inputs instead of discovered one round too late (BENCH_r03, BENCH_r07).
  */
class BenchRenderSpec extends AnyFunSuite {

  private def mk(n: Int, ok: Boolean = true) =
    (1 to n).map(i => (f"q$i%03d_some_rather_long_query_name", i * 0.123,
      i * 0.001, i % 7, ok))

  private def parse(line: String): JValue = JsonMethods.parse(line)

  private def check(line: String): JValue = {
    assert(line.length <= 1900, s"line ${line.length} chars exceeds the cap")
    parse(line) // throws on malformed JSON
  }

  test("current registry size fits and parses") {
    val line = Bench.renderLine(
      SparkEntry.queries.keys.toSeq.sorted.zipWithIndex
        .map { case (k, i) => (k, i * 0.05, 0.01, 3, true) },
      0, "/root/testdata/sf0.1", "BENCH_LOCAL.json")
    val j = check(line)
    assert((j \ "metric") == JString("total"))
    assert((j \ "value").values.toString.nonEmpty)
    assert((j \ "queries").isInstanceOf[JObject])
  }

  test("pathological sizes stay under the cap and parse") {
    for (n <- Seq(0, 1, 50, 105, 300, 1000)) {
      val j = check(Bench.renderLine(mk(n), 0, "/sf", "out.json"))
      val kept = (j \ "queries").asInstanceOf[JObject].obj.length
      val omitted = (j \ "queries_omitted") match {
        case JInt(x) => x.toInt
        case _ => 0
      }
      assert(kept + omitted == n, s"n=$n: kept=$kept omitted=$omitted")
    }
  }

  test("the kept entries are the slowest queries") {
    val j = check(Bench.renderLine(mk(300), 0, "/sf", "out.json"))
    val kept = (j \ "queries").asInstanceOf[JObject].obj.map(_._1)
    assert(kept.nonEmpty)
    // mk() makes later names slower; the kept set must be a suffix by index.
    val keptIdx = kept.map(_.take(4).drop(1).toInt).sorted
    assert(keptIdx.head == 300 - kept.length + 1 && keptIdx.last == 300)
  }

  test("an all-failed run is loud but still fits") {
    val j = check(Bench.renderLine(mk(500, ok = false), 7, "/sf", "out.json"))
    assert((j \ "failed_n") == JInt(500))
    assert((j \ "failed").asInstanceOf[JArray].arr.length == 5)
    assert((j \ "warmup_failed_n") == JInt(7))
  }

  test("empty results render a valid healthy-but-empty line") {
    val j = check(Bench.renderLine(Nil, 0, "/sf", "out.json"))
    assert((j \ "value") == JDouble(0.0))
  }

  test("calibration inflation: geomean of the pair, sf0.1-only, self-flagging") {
    val committed = Bench.refMedians()
    val refs = Bench.calibrationRefs(committed)
    assert(refs.keySet == Bench.calibrationBasket)
    // Exactly the reference values -> 1.0.
    val at = Bench.calibrationInflation(refs.toSeq, "/data/sf0.1",
      committed)
    assert(at.exists(c => math.abs(c - 1.0) < 1e-9))
    // A 2.5x-degraded environment (the BENCH_r9/r10 driver-run shape)
    // flags itself.
    val hot = Bench.calibrationInflation(
      refs.view.mapValues(_ * 2.5).toSeq, "/data/sf0.1/", committed)
    assert(hot.exists(c => math.abs(c - 2.5) < 1e-6))
    // One query of the pair is enough; a foreign SF or no calibration query
    // yields no field rather than a misleading number.
    assert(Bench.calibrationInflation(
      Seq("q76_line_dedup" -> refs("q76_line_dedup") * 2.0),
      "/data/sf0.1", committed).exists(c => math.abs(c - 2.0) < 1e-6))
    assert(Bench.calibrationInflation(
      refs.toSeq, "/data/sf0.01", committed).isEmpty)
    assert(Bench.calibrationInflation(
      Seq("q02_market_metrics" -> 0.2), "/data/sf0.1",
      committed).isEmpty)
  }

  test("calibration is absent without a readable committed detail or a basket query") {
    val run = Seq("q76_line_dedup" -> 0.4, "q01_pricing_summary" -> 0.2)
    val unreadable = Bench.refMedians(Seq("/nonexistent/BENCH_LOCAL_DETAIL.json"))
    assert(unreadable.isEmpty)
    assert(Bench.calibrationInflation(run, "/data/sf0.1",
      unreadable).isEmpty)
    // A detail that lacks one basket query yields no refs at all, not a
    // re-weighted geomean over the rest.
    val partial = Bench.refMedians() - "q81_pack_sequences"
    assert(Bench.calibrationRefs(partial).isEmpty)
    assert(Bench.calibrationInflation(run, "/data/sf0.1",
      partial).isEmpty)
    // The line keeps its shape and omits the field.
    val j = check(Bench.renderLine(mk(3), 0, "/data/sf0.1",
      "out.json", Bench.calibrationInflation(run, "/data/sf0.1",
        unreadable)))
    assert((j \ "calibration_inflation") == JNothing)
    assert((j \ "value") != JNothing)
  }

  test("calibration field lands in the line and the line still fits") {
    val j = check(Bench.renderLine(mk(300), 0, "/root/testdata/sf0.1",
      "out.json", Some(2.47)))
    assert((j \ "calibration_inflation") == JDouble(2.47))
    // Omitted when None (the historical line shape is unchanged).
    val j2 = check(Bench.renderLine(mk(3), 0, "/sf", "out.json"))
    assert((j2 \ "calibration_inflation") == JNothing)
  }

  test("value bounds bracket raw and corrected in BOTH host regimes") {
    val res = mk(4)
    val raw = res.map(_._2).sum
    // Degraded host (calibration > 1): corrected is the low end.
    val j = check(Bench.renderLine(res, 0, "/sf", "out.json", Some(2.0)))
    val (JDouble(lo), JDouble(hi)) = ((j \ "value_lo"), (j \ "value_hi"))
    assert(math.abs(lo - raw / 2.0) < 0.01 && math.abs(hi - raw) < 0.01)
    // Single-thread-friendly host (calibration < 1, the RUNLOG_r15 §6
    // over-correction regime): RAW is the low end — the bounds sort.
    val j2 = check(Bench.renderLine(res, 0, "/sf", "out.json", Some(0.8)))
    val (JDouble(lo2), JDouble(hi2)) = ((j2 \ "value_lo"), (j2 \ "value_hi"))
    assert(math.abs(lo2 - raw) < 0.01 && math.abs(hi2 - raw / 0.8) < 0.01)
    // No calibration -> no bounds.
    assert((check(Bench.renderLine(res, 0, "/sf", "out.json")) \
      "value_lo") == JNothing)
  }

  test("per-query inflation stats ride in the line; absent when unavailable") {
    val j = check(Bench.renderLine(mk(10), 0, "/sf", "out.json", None,
      Some((1.05, 3.2, 9))))
    assert((j \ "infl_p50") == JDouble(1.05))
    assert((j \ "infl_max") == JDouble(3.2))
    assert((j \ "infl_n") == JInt(9))
    assert((check(Bench.renderLine(mk(3), 0, "/sf", "out.json")) \
      "infl_p50") == JNothing)
  }

  test("inflationStats: order statistics separate bursty from uniform hosts") {
    assert(Bench.inflationStats(Nil).isEmpty)
    assert(Bench.inflationStats(Seq(Double.NaN, -1.0)).isEmpty)
    // Bursty (r15 driver shape): p50 flat, the max carries the spike.
    val bursty = Bench.inflationStats(
      Seq(1.0, 1.0, 0.9, 1.1, 1.0, 1.0, 1.0, 1.0, 1.0, 4.8)).get
    assert(bursty._1 == 1.0 && bursty._2 == 4.8 && bursty._3 == 10)
    // Uniformly degraded: both lift together.
    val uniform = Bench.inflationStats(Seq.fill(10)(2.5)).get
    assert(uniform._1 == 2.5 && uniform._2 == 2.5)
  }

  test("gc flag names allocation-heavy queries, ignores sub-floor noise") {
    val res = Seq(
      ("q001_healthy", 2.0, 0.05, 3, true),   // 2.5% of wall — under the line
      ("q002_gc_heavy", 2.0, 0.5, 3, true),   // 25% — flagged
      ("q003_tiny", 0.3, 0.2, 3, true))       // below the 0.5 s wall floor
    val j = check(Bench.renderLine(res, 0, "/sf", "out.json"))
    assert((j \ "gc_flag_n") == JInt(1))
    assert((j \ "gc_flag").asInstanceOf[JArray].arr ==
      List(JString("q002_gc_heavy")))
    val clean = check(Bench.renderLine(mk(5), 0, "/sf", "out.json"))
    assert((clean \ "gc_flag_n") == JNothing)
  }

  test("adjusted total = raw / inflation rides in the same headline") {
    val res = mk(4)
    val raw = res.map(_._2).sum
    val j = check(Bench.renderLine(res, 0, "/root/testdata/sf0.1",
      "out.json", Some(2.0)))
    val adjusted = (j \ "value_est_corrected") match {
      case JDouble(x) => x
      case other => fail(s"value_est_corrected missing/odd: $other")
    }
    assert(math.abs(adjusted - raw / 2.0) < 0.01)
    // No calibration -> no adjusted field (and never a divide-by-zero).
    assert((check(Bench.renderLine(res, 0, "/sf", "out.json")) \
      "value_est_corrected") == JNothing)
    assert((check(Bench.renderLine(res, 0, "/root/testdata/sf0.1",
      "out.json", Some(0.0))) \ "value_est_corrected") == JNothing)
  }

  test("composite label + session count ride in the head; absent on single sessions") {
    val j = check(Bench.renderLine(mk(4), 0, "/sf", "out.json",
      compositeSessions = Some(3)))
    assert((j \ "composite") == JBool(true))
    assert((j \ "sessions") == JInt(3))
    // The single-session path is unchanged: no composite fields.
    val single = check(Bench.renderLine(mk(4), 0, "/sf", "out.json"))
    assert((single \ "composite") == JNothing)
    assert((single \ "sessions") == JNothing)
    // The label survives the degraded large-registry renders (it must
    // never be truncated away — that's the masquerade the field prevents).
    val big = check(Bench.renderLine(mk(1000), 0, "/sf", "out.json",
      compositeSessions = Some(5)))
    assert((big \ "composite") == JBool(true))
  }

  test("parseDetail reads Bench's own detail format, with and without infl") {
    val detail = """{"q01_a":{"sec":0.500,"gc_sec":0.01,"jobs":4,"ok":true,""" +
      """"infl":1.02,"reps":[0.5,0.6]},""" +
      """"q02_b":{"sec":2.000,"gc_sec":0.00,"jobs":-1,"ok":false,"reps":[2.0]}}"""
    val got = Bench.parseDetail(detail)
    assert(got == Map(
      "q01_a" -> Bench.SessionEntry(0.5, 0.01, 4, true),
      "q02_b" -> Bench.SessionEntry(2.0, 0.0, -1, false)))
  }

  test("compositeEntries: cross-session median over OK sessions, attributable diagnostics") {
    def e(sec: Double, jobs: Int = 1, ok: Boolean = true) =
      Bench.SessionEntry(sec, 0.0, jobs, ok)
    val s1 = Map("q1" -> e(1.0, jobs = 10), "q2" -> e(5.0))
    val s2 = Map("q1" -> e(9.0, jobs = 20), "q2" -> e(4.0, ok = false))
    val s3 = Map("q1" -> e(2.0, jobs = 30), "q3" -> e(7.0))
    val got = Bench.compositeEntries(Seq(s1, s2, s3))
      .map { case (k, en, n, secs) => k -> ((en, n, secs)) }.toMap
    // q1: median of (1,9,2) = 2 — and the 2.0 SESSION's jobs ride along.
    assert(got("q1")._1 == e(2.0, jobs = 30) && got("q1")._2 == 3)
    assert(got("q1")._3 == Seq(1.0, 9.0, 2.0))
    // q2: the failed session's time-to-throw is EXCLUDED from the median
    // basis (5.0 wins, not 4.0) but still poisons ok.
    assert(got("q2")._1.sec == 5.0 && !got("q2")._1.ok && got("q2")._2 == 2)
    // q3: present in one session only — median is that session, count says so.
    assert(got("q3")._1 == e(7.0) && got("q3")._2 == 1)
  }

  test("compositeEntries: an even basis averages the two middle walls, attributes conservatively") {
    def e(sec: Double, jobs: Int = 1, ok: Boolean = true) =
      Bench.SessionEntry(sec, 0.0, jobs, ok)
    // ADVICE-r17: the lower-middle of an even basis is the FASTER of the
    // two central sessions — systematically optimistic on a host whose
    // noise only ever adds time. Four sessions (1,9,2,6): middles 2 and 6
    // -> reported wall 4.0, with the SLOWER middle's jobs riding along.
    val got = Bench.compositeEntries(Seq(
      Map("q1" -> e(1.0, jobs = 10)), Map("q1" -> e(9.0, jobs = 20)),
      Map("q1" -> e(2.0, jobs = 30)), Map("q1" -> e(6.0, jobs = 40))))
      .map { case (k, en, n, secs) => k -> ((en, n, secs)) }.toMap
    assert(got("q1")._1.sec == 4.0)
    assert(got("q1")._1.jobs == 40, "diagnostics from the slower middle")
    assert(got("q1")._2 == 4)
    // Two sessions: plain average (the n=2 case the advice called out).
    val two = Bench.compositeEntries(Seq(
      Map("q1" -> e(1.0)), Map("q1" -> e(3.0))))
    assert(two.head._2.sec == 2.0)
    // Odd counts are untouched: exact middle element.
    val three = Bench.compositeEntries(Seq(
      Map("q1" -> e(1.0)), Map("q1" -> e(9.0)), Map("q1" -> e(2.0))))
    assert(three.head._2.sec == 2.0)
  }

  test("ratio_vs_oracle + denominator + its HEAD ride in the line head, absent without an oracle") {
    val res = mk(4)
    val raw = res.map(_._2).sum
    val j = check(Bench.renderLine(res, 0, "/root/testdata/sf0.1",
      "out.json", oracle = Some((raw * 4, Some("abc1234")))))
    assert((j \ "ratio_vs_oracle") == JDouble(0.25))
    assert((j \ "oracle_total_sec") == JDouble(
      BigDecimal(raw * 4).setScale(1, BigDecimal.RoundingMode.HALF_UP).toDouble))
    assert((j \ "oracle_head") == JString("abc1234"))
    // Pre-r18 oracle artifact (no head field): ratio still renders.
    val noHead = check(Bench.renderLine(res, 0, "/root/testdata/sf0.1",
      "out.json", oracle = Some((raw * 4, None))))
    assert((noHead \ "ratio_vs_oracle") == JDouble(0.25))
    assert((noHead \ "oracle_head") == JNothing)
    // No oracle / degenerate denominator: no fields, never NaN/Infinity.
    assert((check(Bench.renderLine(res, 0, "/sf", "out.json")) \
      "ratio_vs_oracle") == JNothing)
    assert((check(Bench.renderLine(res, 0, "/sf", "out.json",
      oracle = Some((0.0, None)))) \ "ratio_vs_oracle") == JNothing)
    // Head fields survive the degraded large-registry renders — the ratio
    // is the round-over-round signal and must never truncate away.
    val big = check(Bench.renderLine(mk(1000), 0, "/root/testdata/sf0.1",
      "out.json", oracle = Some((100.0, Some("abc1234"))),
      compositeSessions = Some(3)))
    assert((big \ "ratio_vs_oracle") != JNothing)
    assert((big \ "composite") == JBool(true))
  }

  test("oracleTotal parses check.py's timing artifact, tolerates missing head and files") {
    val dir = java.nio.file.Files.createTempDirectory("bench-oracle")
    def write(name: String, text: String): String = {
      val p = dir.resolve(name); java.nio.file.Files.writeString(p, text)
      p.toString
    }
    val withHead = write("o1.json",
      """{"head": "f21b888", "queries": {"q1": 1.5}, "total_sec": 329.297}""")
    assert(Bench.oracleTotal(Seq(withHead)) ==
      Some((329.297, Some("f21b888"))))
    val noHead = write("o2.json", """{"queries": {}, "total_sec": 12.5}""")
    assert(Bench.oracleTotal(Seq(noHead)) == Some((12.5, None)))
    // Resolution order: first readable artifact with a positive total wins;
    // unreadable paths and zero totals are skipped, an empty list is None.
    val zero = write("o3.json", """{"total_sec": 0.0}""")
    assert(Bench.oracleTotal(Seq(
      dir.resolve("absent.json").toString, zero, withHead)) ==
      Some((329.297, Some("f21b888"))))
    assert(Bench.oracleTotal(Nil).isEmpty)
  }

  test("runComposite merges detail files end-to-end and refuses bad input") {
    val dir = java.nio.file.Files.createTempDirectory("bench-composite")
    def write(name: String, text: String): String = {
      val p = dir.resolve(name)
      java.nio.file.Files.writeString(p, text)
      p.toString
    }
    val a = write("a.json",
      """{"q1_x":{"sec":1.000,"gc_sec":0.01,"jobs":3,"ok":true,"reps":[1.0]}}""")
    val b = write("b.json",
      """{"q1_x":{"sec":3.000,"gc_sec":0.02,"jobs":3,"ok":true,"reps":[3.0]}}""")
    val c = write("c.json",
      """{"q1_x":{"sec":2.000,"gc_sec":0.03,"jobs":3,"ok":true,"reps":[2.0]}}""")
    val out = dir.resolve("comp.json").toString
    val rc = Bench.runComposite(Seq(a, b, c), "/sf", out)
    assert(rc == 0)
    val line = parse(java.nio.file.Files.readString(dir.resolve("comp.json")))
    assert((line \ "composite") == JBool(true))
    assert((line \ "sessions") == JInt(3))
    assert((line \ "queries" \ "q1_x") == JDouble(2.0))
    val det = parse(java.nio.file.Files.readString(
      dir.resolve("comp_DETAIL.json")))
    assert((det \ "q1_x" \ "sec") == JDouble(2.0))
    assert((det \ "q1_x" \ "sessions") == JInt(3))
    assert((det \ "q1_x" \ "session_secs").asInstanceOf[JArray].arr.length == 3)
    // Loud refusal: fewer than two sessions, or an unreadable/empty file.
    assert(Bench.runComposite(Seq(a), "/sf", out) == 2)
    assert(Bench.runComposite(Seq(a, dir.resolve("nope.json").toString),
      "/sf", out) == 2)
  }
}
