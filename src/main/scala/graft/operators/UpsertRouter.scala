package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Forwarding alias of [[UpsertWriter.read]]. The benchmark harness under
  * `perfbench/harness/` reads warehouse tables through this name and is
  * built unchanged against every revision it compares, so the name stays;
  * program and test code call [[UpsertWriter.read]] directly. */
object UpsertRouter {
  def read(spark: SparkSession, tableDir: String): Option[DataFrame] =
    UpsertWriter.read(spark, tableDir)
}
