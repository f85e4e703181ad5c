package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskStart}
import org.scalatest.funsuite.AnyFunSuite

/** Fault-tolerance drill for the materialization strategy the product
  * runs: MaterializeSpec proves `graft.materialize` true/false agree on
  * RESULTS; this spec proves the default (localCheckpoint) SURVIVES losing
  * work mid-run. A listener kills live task attempts
  * (`SparkContext.killTaskAttempt`) while the q79/q87 composite pipelines
  * execute — kills are rescheduled WITHOUT counting toward
  * spark.task.maxFailures (TaskKilled.countTowardsTaskFailures = false) —
  * and the outputs must hash-match the undisturbed baseline.
  *
  * Tasks at the fixture scale are short, so any single kill can race a
  * task's natural completion; the drill retries the whole query until at
  * least one kill LANDED (the API confirms delivery), and fails loudly if
  * none ever does rather than passing vacuously. */
class FaultDrillSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"
  private val probes = Seq("q79_curation_pipeline", "q87_pretraining_pipeline")

  private def rows(q: String): Seq[String] =
    SparkEntry.queries(q)(spark, sfDir).collect().map(_.toString).toSeq

  test("default materialization survives mid-run task kills with green hashes") {
    val sc = spark.sparkContext
    val baseline = probes.map(q => q -> rows(q)).toMap
    assert(baseline.values.forall(_.nonEmpty))

    val landed = new AtomicInteger(0)
    val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val killer = new SparkListener {
      override def onTaskStart(t: SparkListenerTaskStart): Unit =
        if (armed.get()) {
          // Deliver at most a few kills per run — the drill needs A fault,
          // not a kill storm that starves 4 local cores of progress.
          if (landed.get() < 3 &&
              (try sc.killTaskAttempt(t.taskInfo.taskId, interruptThread = false,
                reason = "graft fault drill") catch { case _: Exception => false }))
            landed.incrementAndGet()
        }
    }
    sc.addSparkListener(killer)
    try {
      probes.foreach { q =>
        var got: Seq[String] = null
        var attempts = 0
        while (attempts < 5 && (got == null || landed.get() == 0)) {
          landed.set(0)
          armed.set(true)
          got = try rows(q) finally armed.set(false)
          attempts += 1
        }
        assert(landed.get() > 0,
          s"$q: no kill ever landed in $attempts runs — the drill is vacuous; " +
            "slow the fixture down or raise the attempt cap")
        assert(got == baseline(q),
          s"$q diverged after ${landed.get()} task kills")
      }
    } finally {
      sc.removeSparkListener(killer)
      spark.catalog.clearCache()
    }
  }
}
