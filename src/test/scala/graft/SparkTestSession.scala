package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole (forked) test JVM — fixed at 4
  * threads for determinism (no SPARK_GRAFT_CPUS), but carrying the same
  * [[GraftSession.sharedConfs]] the production entry points run with, so
  * specs exercise production plan shapes (notably the AQE coalesce floor),
  * and set up by the same [[GraftSession.afterCreate]] (static-conf check,
  * quiet `WindowExec` logger). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
    val s = GraftSession.sharedConfs
      .foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }.getOrCreate()
    GraftSession.afterCreate(s, "WARN")
    s
  }
  val sf = "/root/testdata/sf0.001"
}
