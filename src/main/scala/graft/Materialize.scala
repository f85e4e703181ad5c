package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Materialization of frames a downstream plan references more than once
  * (self-join sides, iterative-loop state, the shared base of a composed
  * pipeline): [[SparkEntry]]'s `mat`, Coverage's greedy rounds, PageRank's
  * degree frame, Ann's cell assignment.
  *
  * The strategy is `localCheckpoint()`: executor-local blocks with the
  * lineage truncated. Every session is `local[n]` ([[GraftSession]]), so
  * the executor lives in the driver JVM and losing it ends the
  * application; no recompute path or durable checkpoint could outlive it.
  *
  * One boolean conf, `graft.materialize` (default `true`), turns it off:
  * `false` keeps plans fully lazy and inspectable (Explain). Any other
  * value fails loudly. */
object Materialize {

  def apply(df: DataFrame): DataFrame =
    if (enabled(df.sparkSession)) df.localCheckpoint() else df

  /** Lazy compute-once sharing for SMALL frames on a query's hot path:
    * `persist(MEMORY_AND_DISK)` — no eager materialization job (the cache
    * populates during the first downstream stage that needs it), full
    * lineage retained (fault-tolerant: a lost block recomputes), and every
    * plan branch referencing the frame reads the one cached copy via the
    * cache manager. Prefer this over [[apply]] when the shared frame is a
    * few scalar columns (its memory footprint is trivial) and the consumer
    * is a single query — the eager checkpoint job [[apply]] runs is pure
    * scheduling overhead there. Honors `graft.materialize=false` (identity)
    * so Explain-mode plans stay fully lazy and inspectable. */
  def lazyCache(df: DataFrame): DataFrame =
    if (enabled(df.sparkSession)) df.persist(StorageLevel.MEMORY_AND_DISK)
    else df

  private def enabled(spark: SparkSession): Boolean =
    spark.conf.getOption("graft.materialize").getOrElse("true") match {
      case "true"  => true
      case "false" => false
      case other => throw new IllegalArgumentException(
        s"unknown graft.materialize value '$other' (expected true | false)")
    }
}
