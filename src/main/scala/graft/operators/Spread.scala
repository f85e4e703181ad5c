package graft.operators

import org.apache.spark.sql.DataFrame

/** Input-parallelism guard for CPU-heavy per-row stages (shingling,
  * winnowing, per-doc hashing): a corpus that arrives in FEWER splits than
  * the session's parallelism — one small parquet file, one unsplittable
  * row group, exactly the small-SF bench reality of a table that is
  * thousands of splits at production scale — would otherwise run its whole
  * projection on one thread while the rest of the cluster idles behind it.
  *
  * `Spread(df)` repartitions to the default parallelism ONLY in that
  * regime. The exchange it adds moves the COMPACT raw rows (by definition a
  * small input; the expensive exploded/hashed form is what the spread
  * exists to parallelize downstream), and at scale — input splits ≥
  * parallelism — it is the identity, so no production plan ever pays a
  * gratuitous corpus shuffle. Round-robin repartitioning is
  * task-retry-deterministic (Spark sorts within the source partition before
  * distributing), and every consumer of these operators aggregates
  * order-insensitively, so results are unchanged in all regimes. */
object Spread {
  def apply(df: DataFrame): DataFrame =
    spreadWith(df, want => df.repartition(want))

  /** [[apply]], but the spread exchange HASH-partitions on `keys` instead
    * of round-robin — for producers whose first downstream shuffle would
    * re-cluster on (a superset of) a key already present on the compact
    * raw rows. Hash partitioning on `keys` satisfies any clustered
    * distribution over a superset of `keys`, so that downstream aggregate
    * plans WITHOUT its own exchange: the spread's one exchange does double
    * duty (TfIdf: spread by doc_id ⇒ the (doc_id, token) tf aggregate over
    * the exploded rows is partition-local). Only safe when `keys` spread
    * the small input evenly — a per-document id does; a skewed category
    * would funnel the spread it exists to provide. */
  def byKey(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame =
    spreadWith(df, want => df.repartition(want, keys: _*))

  private def spreadWith(df: DataFrame,
                         re: Int => DataFrame): DataFrame = {
    // Streaming frames have no static partition count to inspect (.rdd on
    // one throws the batch-execution analysis error) and their micro-batch
    // parallelism is the source's to decide — pass them through untouched.
    if (df.isStreaming) df
    else {
      val want = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions < want) re(want) else df
    }
  }
}
