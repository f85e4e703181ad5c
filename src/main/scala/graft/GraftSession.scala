package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** The ONE place session defaults live. Every entry point (`Main`,
  * `Analyze`, `Verify`, `Bench`, `Explain`, `ScaleUp`, `UpsertBench`)
  * builds its session here, so a conf a bench A/B proved out (the 64 kB
  * AQE coalesce floor) reaches production entry points instead of living
  * only in `Bench` — the r13 verdict's consistency gap. RegistryDocSpec
  * pins "no `SparkSession.builder()` outside this file" at the source
  * level, so the next entry point cannot quietly re-diverge.
  */
object GraftSession {

  /** Confs every graft session carries, with the measurement or contract
    * behind each:
    *
    *  - `timeZone=UTC`: the oracle contract — every calendar-part and
    *    epoch function must agree with DuckDB's UTC arithmetic.
    *  - `nanosAsLong=true`: `events.ts` has shipped as TIMESTAMP(NANOS)
    *    in some testdata generations; without the flag the scan throws.
    *    `Tables.load` normalizes the resulting long back to a timestamp.
    *  - `ui.enabled=false`: headless mains; the UI thread pool and its
    *    event-log retention are pure overhead here.
    *  - `adaptive.enabled=true`: explicit (it is the Spark default) so a
    *    future default flip cannot silently change every plan.
    *  - `coalescePartitions.minPartitionSize=64k`: AQE's byte-based
    *    coalescing assumes byte-proportional CPU; text scoring violates
    *    that (a 5k-doc post-window exchange coalesced to ONE task
    *    serialized q79's CPU-heavy cache fill behind a single thread).
    *    64 kB keeps those stages at core-count parallelism; at production
    *    shuffle sizes partitions are MBs+ and the floor is inert.
    *    Measured A/B over the CPU-heavy family: −7 % total, no query
    *    regressed (advisoryPartitionSizeInBytes=1m tried and rejected:
    *    −1.6 % only, and it also retargets skew-join splitting).
    *  - `locality.wait=0`: all these mains run `local[n]` where every
    *    block is PROCESS_LOCAL, so the wait can only ever stall; on a
    *    real cluster deployment this is the one knob to revisit.
    *  - `codegen.cache.maxEntries=4000`: Spark's generated-code cache
    *    (static, read once per JVM; default 100) must hold what a session
    *    reuses, or every repeated query recompiles with Janino. Counted
    *    under an effectively unbounded cache (plans/codegen_cache/): one
    *    pass over all 203 queries at sf0.001 makes 1,783 entries (the
    *    driver-side and task-side compiles of one source are two) and
    *    ~35 more per further pass; perfbench's `registry` run makes 260,
    *    its `pipeline` run 434. 4,000 is 1.8× the 203-query pass plus
    *    `pipeline` (2,217): Guava splits the bound over 4 segments that
    *    each evict on their own. A second 203-query pass then spends 0.5 s in Janino instead
    *    of 31.7 s (2 % of the first pass's 26.3 s), for ~14 MB more
    *    metaspace and ~90 MB more live heap (sources are the keys).
    *  - `extensions=graft.GraftExtensions`: the engine's ten custom
    *    expressions ([[graft.plans.Expressions]]) exist in a session only
    *    through this extension, which Spark applies once per built session
    *    (`newSession()` and cloned sessions included). The conf is static:
    *    a context created without it has no way to gain the functions, and
    *    every dedup, ANN and top-k plan would then fail at analysis. So
    *    [[checkStaticConfs]] pins it like Kryo, and such a context fails in
    *    [[create]] instead.
    */
  val sharedConfs: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
    "spark.locality.wait" -> "0",
    // Kryo for RDD shuffle/broadcast payloads (SQL exchanges use the
    // UnsafeRow serializer regardless — this reaches RDD shuffles,
    // persist spills and broadcasts app-wide, e.g. the CC rounds'
    // primitive-block shuffles and persisted round state; validated on the
    // CC family + the full test suite). Measured on the CC contraction at
    // 1M edges (r18, when its RDD rounds still shuffled one boxed
    // (Long, Long) per edge): under the default JavaSerializer those rounds
    // ran ~25% SLOWER than the Catalyst rounds of the time, under Kryo ~30%
    // FASTER (warm A/B 22.7 s vs 32.8 s).
    // Takes effect at SparkContext creation, so it must ride the builder,
    // not a post-hoc conf.set.
    "spark.serializer" -> "org.apache.spark.serializer.KryoSerializer",
    // Never use the bypass-merge shuffle writer (r19, guide §2.2 "many
    // small blocks"): for a non-aggregating shuffle with R ≤ this
    // threshold (default 200) Spark writes R separate partition files
    // per map task, concatenates them (FileChannel map/transferTo), and
    // commits index+checksum under a per-shuffle lock — jstack on the
    // 32-thread sf0.1 bench showed executor threads convoyed exactly
    // there (13/33 in the synchronized writeMetadataFileAndCommit,
    // more in map0/unmap0), which made 32 cores run the shingle/join
    // cluster ~2× SLOWER than 8 cores (the r18 "negative scaling"
    // mystery). With the threshold at 0 those shuffles take the
    // serialized-sort path instead: ONE spill file per map task,
    // in-memory partition sort. Measured (5-rep medians, quiet host,
    // local[32]): q111 3.06→1.32 s, q133 1.47→0.65, q76 0.53→0.24,
    // 10-query cluster total 18.4→10.9 s; local[8] A/B/A neutral
    // (4.07/4.11/4.33 s). Scale-safe by construction: production
    // shuffles have R ≫ 200, where the bypass writer never engages and
    // this conf is inert — it only changes the small-R tail, where the
    // single-file writer wins on any disk-backed local dir.
    "spark.shuffle.sort.bypassMergeThreshold" -> "0",
    "spark.sql.codegen.cache.maxEntries" -> "4000",
    "spark.sql.extensions" -> classOf[GraftExtensions].getName)

  /** Thread count: `SPARK_GRAFT_CPUS` env, else the caller's default
    * (mains differ — Bench wants many, Analyze is modest). */
  def cpus(default: String): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  /** Build-or-get the session: `local[cpus]`, `shuffle.partitions=cpus`
    * (local mode — one shuffle task per core; a cluster deployment sizes
    * this to data volume instead), [[sharedConfs]], log level, then the
    * `SPARK_GRAFT_CONF_a_b=c` env passthrough (underscores become dots —
    * the A/B knob for conf-gated behaviors, now uniform across mains).
    * Env confs ride the BUILDER as well as the post-create set: static
    * confs (`spark.shuffle.*`, `spark.serializer`, `spark.local.dir`)
    * only take effect at SparkContext creation and the runtime `conf.set`
    * rejects them — without the builder pass they were un-A/B-able
    * (discovered in r19 when the shuffle-writer experiment needed one). */
  def create(defaultCpus: String, logLevel: String = "WARN"): SparkSession = {
    val c = cpus(defaultCpus)
    val b = SparkSession.builder()
      .master(s"local[$c]")
      .config("spark.sql.shuffle.partitions", c)
    val spark = (sharedConfs ++ envConfs).foldLeft(b) {
      case (bb, (k, v)) => bb.config(k, v) }
      .getOrCreate()
    afterCreate(spark, logLevel)
    applyEnvConfs(spark)
    spark
  }

  /** What every graft session gets once `getOrCreate` returns, whether
    * [[create]] or the test suite's fixed local[4] session built it:
    * [[checkStaticConfs]], the log level, and the `WindowExec` logger at
    * ERROR. WindowExec warns "No Partition Defined" once per unpartitioned
    * window it plans (203 lines in one sf0.001 Verify). Every such window
    * in the registry sits over an aggregate or a global top-k, never a raw
    * scan (plans/one_topk/unpartitioned_windows.md); PlanAuditSpec pins
    * that set, so a new one fails a test instead of a log line. */
  private[graft] def afterCreate(spark: SparkSession, logLevel: String): Unit = {
    checkStaticConfs(spark.sparkContext.getConf)
    spark.sparkContext.setLogLevel(logLevel)
    Configurator.setLevel("org.apache.spark.sql.execution.window.WindowExec",
      Level.ERROR)
  }

  /** Confs that only take effect at SparkContext creation. */
  private val staticKeys = Seq("spark.serializer",
    "spark.shuffle.sort.bypassMergeThreshold", "spark.sql.codegen.cache.maxEntries",
    "spark.sql.extensions")

  /** Fails loudly when a running context does not carry the static confs
    * [[create]] asked for ([[sharedConfs]], then `SPARK_GRAFT_CONF_*`
    * overrides). `getOrCreate` returns a pre-existing session (a shell, a
    * test-order leak) as is, and its builder confs are then silently
    * dropped: such a session would run the JavaSerializer, the
    * bypass-merge shuffle writer and a 100-entry generated-code cache
    * while every measurement assumed otherwise, and it would lack the
    * engine's custom functions.
    *
    * Values compare as verbatim strings: an override must spell a static
    * conf exactly as the running context stores it. A second spelling of
    * the same value (`TRUE` for `true`, `064` for `64`) fails here loudly
    * rather than being normalized. */
  private[graft] def checkStaticConfs(conf: org.apache.spark.SparkConf): Unit = {
    val want = (sharedConfs ++ envConfs).toMap
    val wrong = staticKeys.filterNot(k => conf.getOption(k) == want.get(k))
    if (wrong.nonEmpty) throw new IllegalStateException(
      "the running SparkContext was created without graft's static confs: " +
        wrong.map(k => s"$k=${conf.getOption(k).getOrElse("<unset>")} " +
          s"(want ${want(k)})").mkString(", ") +
        "; stop the existing session before GraftSession.create (values " +
        "compare as verbatim strings, so spell each override exactly as " +
        "the running context reports it)")
  }

  /** `SPARK_GRAFT_CONF_*` env overrides as (dotted key, value) pairs. */
  private[graft] def envConfs: Seq[(String, String)] =
    sys.env.toSeq.collect {
      case (k, v) if k.startsWith("SPARK_GRAFT_CONF_") =>
        k.stripPrefix("SPARK_GRAFT_CONF_").replace("_", ".") -> v
    }

  /** Apply `SPARK_GRAFT_CONF_*` env overrides to an existing session.
    * A static conf the builder already carries (same value) is tolerated —
    * the runtime set would throw CANNOT_MODIFY_CONFIG even for a no-op
    * re-set; a static conf the running context does NOT carry still throws
    * loudly (a silent skip would fake a measured A/B). "Same value" means
    * the same verbatim string: `TRUE` against a running `true`, or `64k`
    * against `65536`, rethrows Spark's CANNOT_MODIFY_CONFIG error rather
    * than being normalized. */
  def applyEnvConfs(spark: SparkSession): Unit =
    envConfs.foreach { case (k, v) =>
      try spark.conf.set(k, v)
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          if (!spark.conf.getOption(k).contains(v)) throw e
      }
    }
}

/** The session extension every graft session is built with (named by
  * `spark.sql.extensions` in [[GraftSession.sharedConfs]]): it injects the
  * custom expressions of [[graft.plans.Expressions]] under their SQL
  * names, so the Column helpers resolve in any session of the context. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    graft.plans.Expressions.functions.foreach(ext.injectFunction)
}
