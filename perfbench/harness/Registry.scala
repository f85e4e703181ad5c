package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.{GraftSession, SparkEntry}
import Harness._

/** `registry`: a closed loop of one registry query at a time over the
  * committed corpus. One op = build the query's frame through
  * `SparkEntry.queries`, plan its fingerprint, run the fingerprint action and
  * compare it with the golden. After an untimed warm-up pass, passes over
  * the seed-permuted list repeat for about `seconds`; no cache survives an
  * op. */
object Registry {
  final case class Q(name: String, stratum: String)

  def tsv(path: String): Seq[Array[String]] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t"))

  def queries(ctx: Ctx): Seq[Q] = tsv(s"${ctx.bench}/registry/queries.tsv").map(a => Q(a(0), a(1)))

  def corpus(ctx: Ctx): String = s"${ctx.bench}/corpus/sf0.01"

  def run(ctx: Ctx): SparkSession = {
    val qs = queries(ctx)
    val golden = tsv(s"${ctx.bench}/registry/goldens.tsv")
      .map(a => a(0) -> (a(1).toLong, a(2).toLong)).toMap
    val dir = corpus(ctx)
    qs.foreach(q => require(SparkEntry.queries.contains(q.name) && golden.contains(q.name),
      s"${q.name}: not in the registry or without a golden"))
    val spark = setUp(ctx) { (s, _) => fingerprint(SparkEntry.queries(qs.head.name)(s, dir)) }
    // Warm-up pass, part of set-up: every query once, so the timed passes
    // find JIT-compiled code paths and each query's generated code cached,
    // whatever order the seed picks.
    val w0 = System.nanoTime()
    ctx.tracer.span("warmup", "warm-pass") {
      qs.foreach { q => fingerprint(SparkEntry.queries(q.name)(spark, dir)); spark.catalog.clearCache() }
    }
    ctx.record("warm_pass_s") = (System.nanoTime() - w0) / 1e9
    val sc = spark.sparkContext
    val order = shuffled(qs, ctx.seed)
    val t0 = System.nanoTime()
    val passes = scala.collection.mutable.ArrayBuffer.empty[Double]
    // Whole passes, so every query runs equally often, until 60 % of
    // `seconds` have gone: two passes at the list's size.
    while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < 0.6 * ctx.seconds) {
      val p = passes.length
      val ps = System.nanoTime()
      order.foreach { q =>
        val id = s"p$p:${q.name}"
        sc.setJobGroup(id, id)
        val w0 = ctx.tracer.nowMs
        val s0 = System.nanoTime()
        var spans = Map.empty[String, (Double, Double)]
        def timed[A](name: String)(body: => A): A = {
          val a = ctx.tracer.nowMs
          try ctx.tracer.span(name, id)(body)
          finally spans += name -> (a, ctx.tracer.nowMs)
        }
        val got = try ctx.tracer.span("op", id) {
          val df = timed("SparkEntry.build")(SparkEntry.queries(q.name)(spark, dir))
          val fp = fingerprintFrame(df)
          timed("plan")(fp.queryExecution.executedPlan)
          val r = timed("exec.action")(fp.collect()(0))
          Right((r.getLong(0), r.getLong(1)))
        } catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        val ms = (System.nanoTime() - s0) / 1e6
        val w1 = ctx.tracer.nowMs
        sc.clearJobGroup()
        spark.catalog.clearCache()
        val ok = got == Right(golden(q.name))
        ctx.ops += Map("name" -> q.name, "stratum" -> q.stratum, "ms" -> ms, "ok" -> ok,
          "detail" -> (if (ok) "" else s"got $got want ${golden(q.name)}"),
          "group" -> id, "window" -> Seq(w0, w1), "spans" -> spans.map { case (k, v) => k -> Seq(v._1, v._2) })
      }
      passes += (System.nanoTime() - ps) / 1e9
    }
    ctx.record("passes") = passes.toList
    ctx.record("wall_s") = median(passes.toSeq)
    if (ctx.tracer.on) layers(ctx, spark)
    spark
  }

  /** Per-layer counters, summed over ops and split by stratum. */
  private def layers(ctx: Ctx, spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val l = ctx.layer
    def add(k: String, v: Double): Unit = l(k) = l.getOrElse(k, 0.0) + v
    ctx.ops.foreach { op =>
      val group = op("group").asInstanceOf[String]
      val stratum = op("stratum").asInstanceOf[String]
      val w = op("window").asInstanceOf[Seq[Double]]
      val spans = op("spans").asInstanceOf[Map[String, Seq[Double]]]
      def dur(n: String) = spans.get(n).map(s => (s(1) - s(0)) / 1e3).getOrElse(0.0)
      val sum = ctx.jobs.summary(_ == group, (w(0), w(1)))
      val build = spans.get("SparkEntry.build")
      val buildJobs = build.map(b =>
        ctx.jobs.jobStarts(_ == group).count(t => t >= b(0) && t <= b(1)).toDouble).getOrElse(0.0)
      Seq("", s"registry.$stratum.").foreach { pre =>
        add(pre + "SparkEntry.build_s", dur("SparkEntry.build"))
        add(pre + "SparkEntry.build_jobs", buildJobs)
        add(pre + "exec.action_s", dur("exec.action"))
        execLayer(ctx, pre, sum, dur("plan"))
      }
      if (stratum == "cc") add("SparkEntry.cc_build_s", dur("SparkEntry.build"))
    }
  }

  /** Writes `name<TAB>rows<TAB>hash` for every listed query from a directory
    * of per-query parquet results (the `graft.Verify` output layout). */
  def goldens(ctx: Ctx): Unit = {
    val spark = GraftSession.create(ctx.cpus, logLevel = "ERROR")
    val src = ctx.args("verify_out")
    val lines = queries(ctx).map(_.name).sorted.map { n =>
      val (rows, h) = fingerprint(spark.read.parquet(s"$src/$n"))
      s"$n\t$rows\t$h"
    }
    Files.writeString(Paths.get(s"${ctx.bench}/registry/goldens.tsv"),
      "# query\trows\tfingerprint (from graft.Verify output checked by tools/check.py)\n" +
        lines.mkString("", "\n", "\n"))
    spark.stop()
  }
}
