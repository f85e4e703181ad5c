package graft

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":…,"queries":{…}}.
  *
  * A warmup pass over the smallest scale factor runs first (untimed): a
  * single shared JVM otherwise charges all JIT/codegen warmup to whichever
  * query happens to run first, making per-query numbers meaningless.
  * Queries are timed in sorted name order, one action (count) each.
  *
  * Self-diagnostics: each query also records its JVM GC-time delta and its
  * Spark job count (via a per-query job group), so a wall-clock outlier in a
  * degraded environment is attributable — GC pressure shows as gc ≈ sec,
  * scheduler amplification shows as a high job count. The stdout line stays
  * under the driver's 2000-char tail-buffer cap BY CONSTRUCTION: totals,
  * gc/jobs, failure counts and the top-5 GC offenders always fit, and
  * per-query entries are admitted slowest-first only while they fit a hard
  * budget ("queries_omitted" counts the rest). The full per-query detail
  * always goes to the file sink.
  *
  * SPARK_GRAFT_BENCH_REPS=N (default 1) times each query N times
  * back-to-back and reports the MEDIAN in the headline (the stdout format
  * is unchanged); the detail file carries every rep, so a single
  * environment hiccup is self-evident instead of requiring a judge rerun.
  * SPARK_GRAFT_BENCH_ONLY=q43_minhash_lsh,q70_minhash_components (FULL
  * query names, comma-separated) restricts the run for local iteration; a
  * filter matching nothing aborts loudly instead of printing an empty
  * healthy-looking line.
  *
  * SPARK_GRAFT_BENCH_COMPOSITE=detail1.json,detail2.json,… switches to
  * COMPOSITE mode: no Spark session runs — the listed single-session
  * detail files (Bench's own output format) are merged into one artifact
  * whose per-query figure is the MEDIAN of the sessions' medians, labeled
  * `"composite":true` with per-query session counts. Rationale
  * (VERDICT-r16 #1): the build host suffers hypervisor-neighbor CPU-steal
  * bursts, and landing ONE burst-free session took a six-run lottery in
  * r16 — a cross-session median converts that retry loop into an
  * averaging problem, because a burst inflates different queries in
  * different sessions. The single-session path is unchanged; a composite
  * is always labeled so it can never masquerade as a measured session.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sys.env.get("SPARK_GRAFT_BENCH_COMPOSITE").foreach { paths =>
      sys.exit(runComposite(paths.split(",").map(_.trim).filter(_.nonEmpty),
        sfDir,
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/BENCH_COMPOSITE.json")))
    }
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "1").toInt.max(1)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // ERROR, not WARN: the function-replaced warning from idempotent
    // expression re-registration otherwise lands next to the JSON line and
    // breaks line-oriented parsers. Conf rationale lives in GraftSession.
    val spark = GraftSession.create(defaultCpus = "4", logLevel = "ERROR")

    def gcMillis: Long =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

    val ordered = SparkEntry.all.map(r => r.name -> r.run).sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    only.foreach { o =>
      val unknown = o -- SparkEntry.all.map(_.name)
      if (ordered.isEmpty || unknown.nonEmpty) {
        System.err.println(
          s"SPARK_GRAFT_BENCH_ONLY entries not matching any query: " +
            s"${unknown.mkString(", ")} (use full names like q43_minhash_lsh)")
        if (ordered.isEmpty) { spark.stop(); sys.exit(2) }
      }
    }
    val warmDir = {
      val d = "/root/testdata/sf0.001"
      if (new java.io.File(d).isDirectory && d != sfDir) d else sfDir
    }
    // Warmup failures are counted and surfaced (stderr + a field in the
    // JSON line): a silently-swallowed all-queries-broken warmup otherwise
    // reads as a healthy-but-slow timed pass.
    val warmFailed = ordered.flatMap { case (name, fn) =>
      try { fn(spark, warmDir).count(); None }
      catch { case t: Throwable =>
        System.err.println(s"warmup failed: $name — ${t.getClass.getSimpleName}: " +
          String.valueOf(t.getMessage).linesIterator.nextOption().getOrElse(""))
        Some(name)
      }
    }

    // One timed run; job count via a per-(query, rep) group so reps don't
    // accumulate into each other's figures.
    def timeOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                rep: Int): (Double, Double, Int, Boolean) = {
      val group = s"$name#$rep"
      spark.sparkContext.setJobGroup(group, group)
      val g0 = gcMillis
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
      catch { case _: Throwable => false }
      val sec = (System.nanoTime() - t0) / 1e9
      val gcSec = (gcMillis - g0) / 1e3
      spark.sparkContext.clearJobGroup()
      // Best-effort: the status store ingests job events asynchronously, so
      // a backlogged listener bus can make this undercount — treat it as a
      // floor, not an exact figure.
      val jobs = try spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
      catch { case _: Throwable => -1 }
      // Bench hygiene, OUTSIDE the timed window: queries that lazy-persist
      // a shared frame (Materialize.lazyCache) would otherwise leave it in
      // the cache manager, and the NEXT rep's identical canonicalized plan
      // would silently read it instead of recomputing — reps 2..N measure a
      // cache hit, not the query. Dropping the cache between reps keeps
      // every rep a cold, honest end-to-end run (and keeps cached blocks
      // from accumulating across the 200-query registry).
      try spark.catalog.clearCache() catch { case _: Throwable => () }
      (sec, gcSec, jobs, ok)
    }

    // name -> (median seconds, gc of median rep, jobs of median rep,
    //          all reps ok, every rep's seconds)
    val results = ordered.map { case (name, fn) =>
      val runs = (1 to reps).map(r => timeOne(name, fn, r))
      // Median by wall time; its rep's gc/jobs keep the diagnostics
      // attributable to the reported number.
      val med = runs.sortBy(_._1).apply((runs.length - 1) / 2)
      (name, med._1, med._2, med._3, runs.forall(_._4), runs.map(_._1))
    }
    // Default OUT lives outside the working tree: the committed
    // BENCH_LOCAL_DETAIL.json is adjudication-grade evidence from a
    // calibration-≈1.0 session, and a default-path run (e.g. the driver's
    // own per-round bench, historically ~1.5× inflated) used to overwrite
    // it in place — where the round-end auto-commit would then replace the
    // clean committed copy with the contaminated one (the r12/r13
    // artifact-hygiene nit). Committing fresh numbers is now a deliberate
    // act: SPARK_GRAFT_BENCH_OUT=BENCH_LOCAL.json (or cp from /tmp).
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/BENCH_LOCAL.json")
    // Per-query inflation vs the committed reference medians (VERDICT-r15
    // #3: the r15 driver JSON looked like a 4-5× regression on two
    // shingle-pair heavies and needed the runlog to refute — with a
    // per-query ratio in the SAME artifact, a one-sided host spike
    // adjudicates itself). Refs are sf0.1 medians, so the ratios only
    // render on an sf0.1 run.
    val refs =
      if (sfDir.replaceAll("/+$", "").endsWith("sf0.1")) refMedians()
      else Map.empty[String, Double]
    def inflOf(name: String, sec: Double): Option[Double] =
      refs.get(name).filter(_ > 0).filter(_ => sec > 0).map(sec / _)
    val json = renderLine(
      results.map { case (k, v, g, j, ok, _) => (k, v, g, j, ok) },
      warmFailed.length, sfDir, outFile,
      // Failed reps are excluded: a throwing calibration query records its
      // tiny time-to-throw, which would read as a BETTER-than-judge-grade
      // environment — the exact misleading adjudication the field exists
      // to prevent.
      calibrationInflation(results.collect {
        case (k, v, _, _, ok, _) if ok => (k, v) }, sfDir, refs),
      inflationStats(results.collect {
        case (k, v, _, _, ok, _) if ok => inflOf(k, v) }.flatten),
      // Ratio only on full sf0.1 runs: the denominator is the whole-suite
      // oracle, so a BENCH_ONLY subset's "ratio" would be meaningless.
      oracle = if (only.isEmpty &&
          sfDir.replaceAll("/+$", "").endsWith("sf0.1")) oracleTotal()
        else None)
    // The JSON goes BOTH to stdout (last line, machine-clean — sbt is
    // configured with StdoutOutput so no [info] prefix) and to a known
    // file, so a parser that sees interleaved launcher noise still has an
    // uncontaminated copy. Full per-query diagnostics (sec/gc/jobs, plus
    // infl = sec / committed-ref-median where a ref exists) go to a
    // sibling detail file with no length constraint.
    val detail = results.map { case (k, v, g, j, ok, rs) =>
      val repsArr = rs.map(num(_, 3)).mkString("[", ",", "]")
      val infl = inflOf(k, v)
        .map(r => s""","infl":${num(r, 2)}""").getOrElse("")
      "\"" + k + s"""":{"sec":${num(v, 3)},"gc_sec":${num(g, 2)},"jobs":$j,""" +
        s""""ok":$ok$infl,"reps":$repsArr}"""
    }.mkString("{", ",", "}")
    try {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json + "\n")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outFile.stripSuffix(".json") + "_DETAIL.json"),
        detail + "\n")
    } catch { case _: Throwable => () }
    println(json)
    spark.stop()
  }

  private[graft] def num(v: Double, dp: Int): String =
    s"%.${dp}f".formatLocal(java.util.Locale.ROOT, v)

  /** One query's record in a single-session detail file. */
  private[graft] case class SessionEntry(sec: Double, gcSec: Double,
                                         jobs: Int, ok: Boolean)

  /** Parses a single-session detail file (Bench's OWN single-line format —
    * the regex is safe for the same reason [[refMedians]]'s is: Bench
    * itself writes it). Unknown/extra fields (`infl`, `reps`) pass through
    * unparsed. */
  private[graft] def parseDetail(text: String): Map[String, SessionEntry] = {
    val re = ("\"(q[^\"]+)\":\\{\"sec\":([0-9.]+),\"gc_sec\":([0-9.eE+-]+)," +
      "\"jobs\":(-?\\d+),\"ok\":(true|false)").r
    re.findAllMatchIn(text).map { m =>
      m.group(1) -> SessionEntry(m.group(2).toDouble, m.group(3).toDouble,
        m.group(4).toInt, m.group(5) == "true")
    }.toMap
  }

  /** Cross-session merge: per query, the MEDIAN of the sessions' (already
    * per-rep-median) seconds, taken over OK sessions when any exist (a
    * throwing session records its time-to-throw, which would drag the
    * median toward a fake fast reading — same exclusion rationale as the
    * calibration basket's). The median SESSION's gc/jobs ride along so the
    * diagnostics stay attributable to the reported figure; `ok` is true
    * only when EVERY contributing session was ok, so one bad session still
    * flags the query. An EVEN basis averages the two middle walls
    * (ADVICE-r17: the lower-middle alone is systematically optimistic —
    * host interference only ever ADDS time, so the faster middle is the
    * flattering end); its gc/jobs ride from the SLOWER middle so the
    * diagnostics still describe one real session, read conservatively.
    * Returns (name, medianEntry, nSessions, allSecs). */
  private[graft] def compositeEntries(
      sessions: Seq[Map[String, SessionEntry]])
      : Seq[(String, SessionEntry, Int, Seq[Double])] = {
    sessions.flatMap(_.keys).distinct.sorted.map { name =>
      val es = sessions.flatMap(_.get(name))
      val basis = { val ok = es.filter(_.ok); if (ok.nonEmpty) ok else es }
      val sorted = basis.sortBy(_.sec)
      val n = sorted.length
      val med =
        if (n % 2 == 1) sorted(n / 2)
        else {
          val lo = sorted(n / 2 - 1); val hi = sorted(n / 2)
          hi.copy(sec = (lo.sec + hi.sec) / 2)
        }
      (name, med.copy(ok = es.forall(_.ok)), es.length, es.map(_.sec))
    }
  }

  /** Composite mode (SPARK_GRAFT_BENCH_COMPOSITE): merge N session detail
    * files, write the composite line + detail, print the line. Returns the
    * process exit code (loud on unreadable/empty inputs — a silently-empty
    * composite would read as a healthy 0-second suite). */
  private[graft] def runComposite(paths: Seq[String], sfDir: String,
                                  outFile: String): Int = {
    val sessions = paths.map { p =>
      val parsed =
        try parseDetail(java.nio.file.Files.readString(
          java.nio.file.Paths.get(p)))
        catch { case t: Throwable =>
          System.err.println(s"composite: cannot read $p — $t")
          Map.empty[String, SessionEntry]
        }
      if (parsed.isEmpty)
        System.err.println(s"composite: no query entries parsed from $p")
      parsed
    }
    if (paths.length < 2 || sessions.exists(_.isEmpty)) {
      System.err.println("composite: need >= 2 readable session detail " +
        s"files, got ${sessions.count(_.nonEmpty)} of ${paths.length}")
      return 2
    }
    val entries = compositeEntries(sessions)
    val results = entries.map { case (k, e, _, _) =>
      (k, e.sec, e.gcSec, e.jobs, e.ok) }
    val refs =
      if (sfDir.replaceAll("/+$", "").endsWith("sf0.1")) refMedians()
      else Map.empty[String, Double]
    val json = renderLine(results, 0, sfDir, outFile,
      calibrationInflation(results.collect {
        case (k, v, _, _, ok) if ok => (k, v) }, sfDir, refs),
      inflationStats(results.collect { case (k, v, _, _, ok)
        if ok && refs.get(k).exists(_ > 0) && v > 0 => v / refs(k) }),
      compositeSessions = Some(paths.length),
      // Composites only ever merge full sf0.1 sessions (the committed
      // evidence path), so the suite denominator applies whenever the
      // artifact is at sf0.1.
      oracle = if (sfDir.replaceAll("/+$", "").endsWith("sf0.1"))
          oracleTotal()
        else None)
    val detail = entries.map { case (k, e, n, secs) =>
      val infl = refs.get(k).filter(_ > 0).filter(_ => e.sec > 0)
        .map(r => s""","infl":${num(e.sec / r, 2)}""").getOrElse("")
      "\"" + k + s"""":{"sec":${num(e.sec, 3)},"gc_sec":${num(e.gcSec, 2)},""" +
        s""""jobs":${e.jobs},"ok":${e.ok}$infl,"sessions":$n,""" +
        s""""session_secs":${secs.map(num(_, 3)).mkString("[", ",", "]")}}"""
    }.mkString("{", ",", "}")
    try {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outFile), json + "\n")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outFile.stripSuffix(".json") + "_DETAIL.json"),
        detail + "\n")
    } catch { case t: Throwable =>
      System.err.println(s"composite: write failed — $t"); return 2
    }
    println(json)
    0
  }

  /** The calibration BASKET: cheap, stable queries whose committed sf0.1
    * medians anchor the environment-inflation reading. Their job is to
    * make an environment-contaminated run flag ITSELF: driver single-rep
    * benches have arrived ~2.5× inflated two rounds running (BENCH_r9
    * 412.7 s vs judge 132.0 s; BENCH_r10 361.1 s vs 138.4 s), and
    * adjudicating that required a judge re-run each time.
    *
    * The basket deliberately spans workload regimes, because environment
    * inflation is workload-dependent (GC-, IO-, and CPU-bound queries
    * inflate differently — a two-query basket extrapolated a whole-suite
    * correction from one regime): q01 parquet scan + wide agg (IO+agg),
    * q76 text line dedup (CPU + shuffle), q50 pivot + correlation matrix
    * (join/shuffle), q03 calendar rollup (agg), q81 sequence packing
    * (window + cumsum).
    *
    * Since r16 the reference VALUES come from the committed
    * BENCH_LOCAL_DETAIL.json — the same artifact the verify-skill bench
    * envelope is stamped from — via [[refMedians]], so a query whose
    * shape legitimately changes gets its ref refreshed the moment the
    * post-change session is committed, and ≈1.0 stays the judge-grade
    * reading by construction (ADVICE-r15: a hand-maintained ref drifted
    * 8% above the committed median and silently deflated calibration to
    * ~0.9). Without a readable committed detail that holds every basket
    * query, the calibration field is absent. */
  private[graft] val calibrationBasket: Set[String] = Set(
    "q76_line_dedup", "q01_pricing_summary", "q50_corr_matrix",
    "q03_daily_summary", "q81_pack_sequences")

  /** Candidate locations of the committed reference detail:
    * `SPARK_GRAFT_BENCH_REF` override, the working directory (tools/run.sh
    * and the driver both run from the repo root), then the canonical repo
    * path. */
  private def refDetailCandidates: Seq[String] =
    sys.env.get("SPARK_GRAFT_BENCH_REF").toSeq ++
      Seq("BENCH_LOCAL_DETAIL.json", "/root/repo/BENCH_LOCAL_DETAIL.json")

  /** Per-query reference medians parsed from the committed
    * BENCH_LOCAL_DETAIL.json (our own single-line format — the regex is
    * safe because Bench itself writes it: `"name":{"sec":N,...}`).
    * Empty when no committed detail is readable. */
  private[graft] def refMedians(paths: Seq[String] = refDetailCandidates)
      : Map[String, Double] = {
    val re = """"(q[^"]+)":\{"sec":([0-9.]+)""".r
    paths.iterator.flatMap { p =>
      try {
        val f = java.nio.file.Paths.get(p)
        if (!java.nio.file.Files.isReadable(f)) None
        else Some(re.findAllMatchIn(java.nio.file.Files.readString(f))
          .map(m => m.group(1) -> m.group(2).toDouble).toMap)
      } catch { case _: Throwable => None }
    }.find(_.nonEmpty).getOrElse(Map.empty)
  }

  /** Candidate locations of the committed sf0.1 oracle denominator
    * (`SPARK_GRAFT_BENCH_ORACLE` override, then the repo-root artifact —
    * same resolution order rationale as [[refDetailCandidates]]). */
  private def oracleCandidates: Seq[String] =
    sys.env.get("SPARK_GRAFT_BENCH_ORACLE").toSeq ++
      Seq("ORACLE_TIMING_sf0.1.json", "/root/repo/ORACLE_TIMING_sf0.1.json")

  /** (total_sec, generation HEAD) parsed from the committed
    * ORACLE_TIMING_sf0.1.json (check.py --timing's own format — trusted
    * for the same reason [[refMedians]]'s regex is). The HEAD field is
    * stamped by check.py since r18; older artifacts yield None and the
    * ratio still renders. None when no readable artifact has a positive
    * total — the ratio fields are then simply absent, never 0/NaN. */
  private[graft] def oracleTotal(paths: Seq[String] = oracleCandidates)
      : Option[(Double, Option[String])] = {
    val totRe = """"total_sec":\s*([0-9.]+)""".r
    val headRe = """"head":\s*"([0-9a-f]+)"""".r
    paths.iterator.flatMap { p =>
      try {
        val f = java.nio.file.Paths.get(p)
        if (!java.nio.file.Files.isReadable(f)) None
        else {
          val s = java.nio.file.Files.readString(f)
          totRe.findFirstMatchIn(s).map(m =>
            (m.group(1).toDouble, headRe.findFirstMatchIn(s).map(_.group(1))))
        }
      } catch { case _: Throwable => None }
    }.find(_._1 > 0)
  }

  /** Basket refs out of `refs` (the [[refMedians]] of the committed
    * detail) when ALL basket queries are present there; empty otherwise —
    * a partial artifact would silently re-weight the geomean. */
  private[graft] def calibrationRefs(refs: Map[String, Double])
      : Map[String, Double] =
    if (calibrationBasket.forall(k => refs.get(k).exists(_ > 0)))
      refs.filter { case (k, _) => calibrationBasket(k) }
    else Map.empty

  /** (p50, max, n) over the per-query inflation ratios — the suite-wide
    * complement of the basket geomean: a healthy session reads p50 ≈ max
    * ≈ 1, a uniformly degraded host lifts both, and a bursty host (the
    * r15 driver shape: TWO queries of 203 at 4-5×, the rest flat) shows
    * as p50 ≈ 1 with a high max — a 2-in-203 spike sits beyond any fixed
    * percentile, so the tail statistic is the MAX, attributable by name
    * via the detail file's per-query `infl`. None when no ratio is
    * available. */
  private[graft] def inflationStats(ratios: Seq[Double])
      : Option[(Double, Double, Int)] = {
    val s = ratios.filter(r => r > 0 && !r.isInfinite && !r.isNaN).sorted
    if (s.isEmpty) None
    else Some((s((s.length - 1) / 2), s.last, s.length))
  }

  /** Geometric-mean wall-clock inflation of this run's calibration-query
    * medians vs the [[calibrationRefs]] of `refs` — ≈1.0 on a judge-grade
    * session, ≫1 in a degraded environment. None when the run isn't at the
    * sf0.1 the references were measured on, when `refs` lacks a basket
    * query, or when no calibration query ran. */
  private[graft] def calibrationInflation(results: Seq[(String, Double)],
                                          sfDir: String,
                                          refs: Map[String, Double])
      : Option[Double] = {
    val basket = calibrationRefs(refs)
    if (!sfDir.replaceAll("/+$", "").endsWith("sf0.1")) None
    else {
      val ratios = results.collect {
        case (k, v) if basket.contains(k) && v > 0 => v / basket(k)
      }
      if (ratios.isEmpty) None
      else Some(math.exp(ratios.map(math.log).sum / ratios.length))
    }
  }

  /** The stdout JSON line, BUILT TO FIT the driver's 2000-char stdout tail
    * capture: a line longer than that loses its HEAD — including the
    * "total" field — and fails to parse (BENCH_r03 at 71 queries, then
    * BENCH_r07 when 100 queries outgrew even a 1-dp full map: 100 ×
    * ~25-char entries ≈ 2.5 kB before the envelope). The full per-query
    * map therefore never goes to stdout: the line carries totals +
    * diagnostics + the SLOWEST queries only, as many as fit a hard budget,
    * with "queries_omitted" making the truncation explicit. Every query's
    * sec/gc/jobs/ok/reps still lands in the detail file.
    *
    * Pure function of the per-query medians — BenchRenderSpec asserts the
    * ≤1900 cap and JSON validity on pathological inputs (many queries,
    * all-failed runs, long names), so the next growth of the query registry
    * cannot silently re-break the driver's parser.
    *
    * @param results (name, median sec, gc sec, jobs, all-reps-ok) per query
    */
  private[graft] def renderLine(results: Seq[(String, Double, Double, Int, Boolean)],
                                warmFailedN: Int, sfDir: String,
                                outFile: String,
                                calibration: Option[Double] = None,
                                inflStats: Option[(Double, Double, Int)] = None,
                                compositeSessions: Option[Int] = None,
                                oracle: Option[(Double, Option[String])] = None)
      : String = {
    val total = results.map(_._2).sum
    val gcTotal = results.map(_._3).sum
    val jobsTotal = results.map(_._4.max(0)).sum
    val failed = results.filterNot(_._5).map(_._1)
    val gcTop = results.sortBy(-_._3).take(5).filter(_._3 >= 0.005)
      .map { case (k, _, g, _, _) => "\"" + k + "\":" + num(g, 2) }
      .mkString("{", ",", "}")
    // Allocation-regression tripwire (VERDICT-r15 #8): a query whose GC
    // time exceeds 5% of its wall is flagged BY NAME, so a real
    // allocation regression (e.g. in an islands or mask core) cannot
    // hide behind "host noise" — on the builder host every query today
    // reads well under the line. The 0.5 s wall floor keeps sub-second
    // queries' quantization noise (gc is ms-granular) out of the flag.
    val gcFlagged = results.collect {
      case (k, v, g, _, _) if v >= 0.5 && g > 0.05 * v => k }
    def render(dp: Int, withGcTop: Boolean): String = {
      val top = if (withGcTop) s""","gc_top":$gcTop""" else ""
      // "failed" appears only when something failed — a throwing query
      // otherwise records a fast wall-time and reads as healthy. Only the
      // first 5 names are listed (a catastrophic all-fail run would blow
      // the line cap); failed_n carries the true count and the detail file
      // flags every query.
      val fl = if (failed.isEmpty) ""
        else s""","failed_n":${failed.length},"failed":""" +
          failed.take(5).mkString("[\"", "\",\"", "\"]")
      val wf = if (warmFailedN == 0) "" else s""","warmup_failed_n":$warmFailedN"""
      // ≈1.0 on a judge-grade session; ≫1 self-flags an environment-
      // degraded run (no judge re-run needed to adjudicate the totals).
      val cal = calibration.map(c => s""","calibration_inflation":${num(c, 2)}""")
        .getOrElse("")
      // The raw total has arrived ~1.5-2.5× inflated from contaminated
      // driver sessions three rounds running; value_est_corrected =
      // value / inflation puts the environment-corrected figure in the
      // SAME line the driver parses. The name says ESTIMATE on purpose:
      // it extrapolates a five-query calibration basket to the whole
      // suite and must never be read as a measured total — "value" (raw)
      // stays primary, and judge-grade sessions have calibration ≈ 1.0
      // where the two coincide. (Renamed from r13's "value_adjusted" per
      // ADVICE-r13.)
      val adj = calibration.filter(_ > 0)
        .map(c => s""","value_est_corrected":${num(total / c, dp)}""").getOrElse("")
      // Raw AND corrected are each one-sided: raw over-reads on a
      // degraded host, est-corrected over-corrects on a single-thread-
      // friendly one (RUNLOG_r15 §6). The bounds field carries both ends
      // sorted, so a reader gets the honest interval without knowing
      // which regime the session ran in.
      val bounds = calibration.filter(_ > 0).map { c =>
        val lo = math.min(total, total / c); val hi = math.max(total, total / c)
        s""","value_lo":${num(lo, dp)},"value_hi":${num(hi, dp)}"""
      }.getOrElse("")
      // Suite-wide per-query inflation order statistics (p50/max over
      // sec/committed-ref): a bursty host self-flags as p50≈1 + high max.
      val infl = inflStats.map { case (p50, mx, n) =>
        s""","infl_p50":${num(p50, 2)},"infl_max":${num(mx, 2)},"infl_n":$n"""
      }.getOrElse("")
      val gcf = if (gcFlagged.isEmpty) ""
        else s""","gc_flag_n":${gcFlagged.length},"gc_flag":""" +
          gcFlagged.take(3).mkString("[\"", "\",\"", "\"]")
      // A merged artifact must never masquerade as a measured session: the
      // label rides in the head (always fits), with the session count.
      val comp = compositeSessions
        .map(n => s""","composite":true,"sessions":$n""").getOrElse("")
      // Self-adjudicating suite ratio (VERDICT-r17 #1): value / the
      // committed same-scale DuckDB denominator, with the denominator and
      // the HEAD it was generated at riding along, so the round-over-round
      // signal the runlog reads no longer needs hand-computation from two
      // artifacts. RAW-over-oracle on purpose — the ratio inherits the
      // session's environment, which calibration_inflation/infl_* already
      // adjudicate in the same line.
      val orc = oracle.filter(_._1 > 0).map { case (osec, ohead) =>
        s""","ratio_vs_oracle":${num(total / osec, 3)}""" +
          s""","oracle_total_sec":${num(osec, 1)}""" +
          ohead.map(h => s""","oracle_head":"$h"""").getOrElse("")
      }.getOrElse("")
      val head =
        s"""{"metric":"total","value":${num(total, dp)},"unit":"sec"$comp$orc$adj$bounds$infl""" +
          s""","gc_sec":${num(gcTotal, 1)},"jobs":$jobsTotal$top$fl$wf$cal$gcf""" +
          s""","sf":"$sfDir","detail":"${outFile.stripSuffix(".json")}_DETAIL.json""""
      // Budget whatever the envelope left for per-query entries, slowest
      // first (the informative ones for a perf reader; the sum is "value").
      val entries = results.sortBy(-_._2)
        .map { case (k, v, _, _, _) => "\"" + k + "\":" + num(v, dp) }
      val budget = 1900 - head.length - 60 // envelope + omitted-count slack
      val kept = entries.foldLeft((Vector.empty[String], 0)) {
        case ((acc, n), e) =>
          if (n + e.length + 1 <= budget) (acc :+ e, n + e.length + 1) else (acc, n)
      }._1
      val om = if (kept.length == entries.length) ""
        else s""","queries_omitted":${entries.length - kept.length}"""
      head + s""","queries":${kept.mkString("{", ",", "}")}$om}"""
    }
    Seq(render(3, true), render(2, true), render(2, false), render(1, false))
      .find(_.length <= 1900).getOrElse(render(1, false))
  }
}
