package graft

import org.scalatest.funsuite.AnyFunSuite

/** The materialization contract: both `graft.materialize` settings
  * (localCheckpoint / fully lazy) yield IDENTICAL results for a composite
  * query that materializes shared state — the switch only decides whether
  * plans stay inspectable, never the semantics. */
class MaterializeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  /** q70 exercises the full mat() surface: a materialized signature frame
    * feeding banding + the iterative connected-components loop. q31 covers
    * the scalar two-reference shape. */
  private val probes = Seq("q70_minhash_components", "q31_robust_z")

  private def runAll(mode: String): Map[String, Seq[String]] = {
    spark.conf.set("graft.materialize", mode)
    try probes.map { q =>
      q -> SparkEntry.queries(q)(spark, sfDir).collect().map(_.toString).toSeq
    }.toMap
    finally spark.conf.unset("graft.materialize")
  }

  test("true and false materialization produce identical results") {
    val checkpointed = runAll("true") // the default
    assert(checkpointed.values.forall(_.nonEmpty))
    val lazyPlans = runAll("false")
    probes.foreach { q =>
      assert(lazyPlans(q) == checkpointed(q),
        s"$q under graft.materialize=false diverged from true")
    }
  }

  test("unknown materialize modes fail loudly, not silently non-fault-tolerant") {
    import spark.implicits._
    // `disk` was a mode once: a stale setting must not quietly become
    // localCheckpoint, on either entry point.
    spark.conf.set("graft.materialize", "disk")
    try {
      val e = intercept[IllegalArgumentException] {
        Materialize(Seq(1).toDF("x"))
      }
      assert(e.getMessage.contains("disk"))
      intercept[IllegalArgumentException] {
        Materialize.lazyCache(Seq(1).toDF("x"))
      }
    } finally spark.conf.unset("graft.materialize")
  }

  test("lazyCache persists lazily, keeps lineage, and is identity under false") {
    import spark.implicits._
    try {
      // Default mode: persisted at MEMORY_AND_DISK, no lineage truncation,
      // and NO eager job — laziness shows as storageLevel set before any
      // action ran while the cache is still unmaterialized.
      val df = Seq(1, 2, 3).toDF("x")
      val out = Materialize.lazyCache(df)
      assert(out.storageLevel == org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      assert(!out.queryExecution.optimizedPlan.toString.contains("LogicalRDD"))
      assert(out.count() == 3)
      out.unpersist()
      // Fully-lazy mode: identity (plans stay inspectable, nothing cached).
      spark.conf.set("graft.materialize", "false")
      val lazyOut = Materialize.lazyCache(Seq(1, 2).toDF("x"))
      assert(lazyOut.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      assert(lazyOut.count() == 2)
    } finally spark.conf.unset("graft.materialize")
  }
}
