package graft

import org.apache.spark.sql.SparkSession

/** Plan inspector: prints the formatted physical plan (and optionally runs)
  * named SparkEntry queries.
  * Usage: Explain <sfDir> [--run] [--profile] [query ...]
  *
  * `--profile` (implies running) warms the query, then times one
  * execution under a listener and prints per-job wall durations plus the
  * DRIVER-SIDE GAPS between jobs — catalyst analysis/optimization time,
  * invisible to stage metrics, which dominated q79 before its r12 eager
  * checkpoint (0.63 s of planning on a 2.5 s query). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val profile = args.contains("--profile")
    val run = args.contains("--run")
    val names = args.drop(1).filterNot(a => a == "--run" || a == "--profile")
    val spark = GraftSession.create(defaultCpus = "8")
    // Pure plan inspection: keep the queries fully lazy so shared-stage
    // materialization (localCheckpoint in q42/q69/q70) neither runs a job
    // at construction time nor collapses its subtree to an ExistingRDD
    // scan. With --run the queries execute with their production shape.
    if (!run && !profile) spark.conf.set("graft.materialize", "false")
    val targets = if (names.nonEmpty) names.toSeq else SparkEntry.all.map(_.name).sorted
    targets.foreach { name =>
      println(s"\n========== $name ==========")
      if (!profile) {
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.explain("formatted")
        if (run) {
          val t0 = System.nanoTime()
          val n = df.count()
          println(f"rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2fs")
        }
      } else profileOne(spark, name, sfDir)
    }
    spark.stop()
  }

  private def profileOne(spark: SparkSession, name: String, sfDir: String): Unit = {
    import org.apache.spark.scheduler._
    // Warm: JIT + codegen caches, so the timed run isolates plan shape.
    (1 to 2).foreach { _ =>
      SparkEntry.queries(name)(spark, sfDir).count(); spark.catalog.clearCache()
    }
    val jobs = scala.collection.mutable.LinkedHashMap[Int, (Long, Long)]()
    val stages = scala.collection.mutable.LinkedHashMap[Int, (String, Long, Int)]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs(e.jobId) = (System.nanoTime(), 0L)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach(v => jobs(e.jobId) = (v._1, System.nanoTime()))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        stages(i.stageId) = (i.name.split(" at ").last,
          i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L),
          i.numTasks)
      }
    }
    spark.sparkContext.addSparkListener(l)
    val t0 = System.nanoTime()
    val n = SparkEntry.queries(name)(spark, sfDir).count()
    val total = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.removeSparkListener(l)
    spark.catalog.clearCache()
    Thread.sleep(300) // listener bus drain
    println(f"rows=$n total=$total%.3f s  jobs=${jobs.size}")
    var prevEnd = t0
    jobs.toSeq.sortBy(_._1).foreach { case (id, (s, e)) =>
      println(f"  job $id%3d start+${(s - t0) / 1e9}%6.3f dur=${(e - s) / 1e9}%6.3f driver-gap-before=${(s - prevEnd) / 1e9}%6.3f")
      prevEnd = math.max(prevEnd, e)
    }
    stages.toSeq.sortBy(_._1).foreach { case (id, (nm, ms, tasks)) =>
      println(f"  stage $id%3d ${ms / 1e3}%7.3f s tasks=$tasks%3d  ${nm.take(50)}")
    }
  }
}
