package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftSession

/** JVM side of the benchmark: one workload per process, driven by run.py.
  *
  * Arguments are `key=value`: workload, seed, seconds, trace (0|1), root (the
  * per-run scratch root), inputs (generated inputs), bench (the benchmark's
  * own directory), out (the JSON record this process writes). The record
  * holds set-up times, one entry per op, the checks, the per-layer counters
  * and, when tracing, the spans; run.py turns it into the metrics line.
  */
object Harness {
  val Setups = 3

  final class Ctx(val args: Map[String, String]) {
    val workload: String = args("workload")
    val seed: Long = args("seed").toLong
    val seconds: Double = args("seconds").toDouble
    val tracer = new Tracer(args("trace") == "1")
    val root: String = args("root")
    val inputs: String = args.getOrElse("inputs", "")
    val bench: String = args("bench")
    val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      sys.error("SPARK_GRAFT_CPUS must name the core count"))
    val jobs = new JobLog
    val plans = new PlanLog
    val record = mutable.LinkedHashMap.empty[String, Any]
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
    val layer = mutable.LinkedHashMap.empty[String, Double]

    def check(name: String, ok: Boolean, detail: String = ""): Unit =
      checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
  }

  def main(args: Array[String]): Unit = {
    val ctx = new Ctx(args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap)
    val spark = ctx.workload match {
      case "registry" => Registry.run(ctx)
      case "pipeline" => Pipeline.run(ctx)
      case "goldens" => Registry.goldens(ctx); null
      case w => sys.error(s"unknown workload $w")
    }
    if (spark != null) spark.stop()
    ctx.record("ops") = ctx.ops.toList
    ctx.record("checks") = ctx.checks.toList
    ctx.record("layer") = ctx.layer.toMap
    ctx.record("peak_rss_mb") = peakRssMb
    if (ctx.tracer.on) ctx.record("spans") = ctx.tracer.all.map(s => Map(
      "id" -> s.id, "parent" -> (if (s.parent == 0) null else s.parent), "name" -> s.name,
      "op" -> s.op, "start" -> s.startMs / 1e3, "end" -> s.endMs / 1e3))
    Files.writeString(Paths.get(ctx.args("out")), Json(ctx.record.toMap))
  }

  /** Peak resident set of this process (VmHWM) in MB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  /** Builds the session `Setups` times (stopping the previous one), each time
    * followed by `warm`, and returns the last session with the benchmark's
    * listeners attached when tracing. Records create and warm-up seconds of
    * every set-up; the median is the set-up figure. */
  def setUp(ctx: Ctx)(warm: (SparkSession, Int) => Unit): SparkSession = {
    var spark: SparkSession = null
    val times = (1 to Setups).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = ctx.tracer.span("GraftSession.create", s"setup$i") {
        GraftSession.create(ctx.cpus, logLevel = "ERROR")
      }
      val t1 = System.nanoTime()
      checkConfs(ctx, spark)
      ctx.tracer.span("warmup", s"setup$i") { warm(spark, i) }
      spark.catalog.clearCache()
      val t2 = System.nanoTime()
      Map("create_s" -> (t1 - t0) / 1e9, "warmup_s" -> (t2 - t1) / 1e9)
    }
    ctx.record("setups") = times.toList
    if (ctx.tracer.on) {
      spark.sparkContext.addSparkListener(ctx.jobs)
      spark.listenerManager.register(ctx.plans)
    }
    spark
  }

  /** Fails the run when the session does not carry GraftSession's static
    * confs: a session created earlier elsewhere would otherwise run the
    * benchmark silently on other settings. */
  private def checkConfs(ctx: Ctx, spark: SparkSession): Unit = {
    val sc = spark.sparkContext.getConf
    val want = GraftSession.sharedConfs.toMap.filter { case (k, _) =>
      k == "spark.serializer" || k == "spark.shuffle.sort.bypassMergeThreshold" } ++
      Map("spark.master" -> s"local[${ctx.cpus}]")
    want.foreach { case (k, v) =>
      val got = sc.getOption(k)
      if (!got.contains(v))
        throw new IllegalStateException(s"session conf $k is ${got.getOrElse("unset")}, want $v")
    }
  }

  /** Order-free content fingerprint: row count and the XOR of a 64-bit hash
    * of every row, each column cast to string (nulls mapped to a marker so
    * that a null never hashes like an absent column). */
  def fingerprintFrame(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.columns.toSeq.map(c => coalesce(col(c).cast("string"), lit("\u0000null")))
    named.agg(count(lit(1)).as("n"),
      coalesce(bit_xor(xxhash64(cols: _*)), lit(0L)).as("h"))
  }

  def fingerprint(df: DataFrame): (Long, Long) = {
    val r = fingerprintFrame(df).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  def shuffled[A](xs: Seq[A], seed: Long): Seq[A] =
    new scala.util.Random(seed).shuffle(xs)

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Exec counters of a selection of jobs, under the names per_layer uses. */
  def execLayer(ctx: Ctx, prefix: String, sum: Map[String, Double], planS: Double): Unit = {
    val l = ctx.layer
    def add(k: String, v: Double): Unit = l(prefix + k) = l.getOrElse(prefix + k, 0.0) + v
    add("plan.s", planS)
    add("exec.jobs", sum("jobs"))
    add("exec.stages", sum("stages"))
    add("exec.tasks", sum("tasks"))
    add("exec.single_task_stages", sum("single_task_stages"))
    add("exec.task_run_s", sum("task_run_s"))
    add("exec.task_cpu_s", sum("task_cpu_s"))
    add("exec.gc_s", sum("gc_s"))
    add("exec.driver_gap_s", sum("wall_s") - sum("busy_s"))
    add("exec.op_wall_s", sum("wall_s"))
    add("shuffle.write_bytes", sum("shuffle_write_bytes"))
    add("shuffle.read_bytes", sum("shuffle_read_bytes"))
    add("shuffle.write_s", sum("shuffle_write_s"))
    add("shuffle.fetch_wait_s", sum("fetch_wait_s"))
    add("exec.spill_bytes", sum("spill_bytes"))
  }
}

/** Minimal JSON rendering for the record (maps, sequences, numbers, strings). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
