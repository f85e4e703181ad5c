package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for training pipelines: lay documents end-to-end in a
  * deterministic order and chunk the concatenated token stream into
  * fixed-budget bins (the "concat-and-chunk" packing that turns a curated
  * corpus into fixed-length training sequences). Each row gets the bin its
  * FIRST token lands in and its token offset within that bin; a document
  * whose tokens straddle a boundary spills into the next bin — exactly the
  * semantics of packing a concatenated stream, and the reason the output
  * is (bin, bin_offset) rather than a per-bin row list.
  *
  * Order is md5(id) — the same cross-engine-deterministic shuffle key as
  * [[Mixture]], which doubles as the "global shuffle before training" step
  * (hash order is uniform, so bins mix sources/documents).
  *
  * Scale shape: the offset is a GLOBAL running sum — naively one
  * unsplittable window over the whole corpus. Like [[Mixture]] it runs as
  * an exact two-phase cumulative sum on the md5 key's 3-hex-char prefix
  * (4096 buckets): per-bucket sums (map-side-combined groupBy), a tiny
  * cumulative over the ≤4096 bucket rows to seed each bucket's starting
  * offset, then per-row windows WITHIN each bucket — 4096 independent
  * tasks of ~1/4096th of the corpus each. Because the bucket is a prefix
  * of the ordering key, bucket order and row order agree and the result is
  * bit-identical to the naive global window.
  */
object Packing {

  private val reserved = Seq("__k", "__b", "__bw", "__cum", "__start", "__run")

  /** Assign each row the bin and in-bin offset of its first token when the
    * corpus is concatenated in md5(id) order and chunked every `binBudget`
    * tokens. `weight` must be non-null and non-negative (token counts
    * are). Output: `df`'s columns + `binCol` (0-based long) + `offsetCol`
    * (long in [0, binBudget)).
    */
  def packBins(df: DataFrame, weight: Column, idExpr: Column, binBudget: Long,
               binCol: String = "bin", offsetCol: String = "bin_offset"): DataFrame = {
    require(binBudget > 0, s"binBudget must be positive, got $binBudget")
    val outClash = df.columns.toSet.intersect(Set(binCol, offsetCol))
    require(outClash.isEmpty,
      s"packBins would overwrite existing column(s) ${outClash.mkString(", ")}")

    // Shared md5-key/3-hex-prefix scaffolding — see Mixture.md5Bucketed for
    // the prefix-order argument both bit-identity proofs rest on.
    val keyed = Mixture.md5Bucketed(df, idExpr, reserved, "packBins")

    // Phase 1+2: per-bucket sums, then a cumulative over ≤4096 tiny rows.
    // The single-partition window is deliberate — it runs over the
    // aggregated bucket frame (≤4096 rows), not the corpus. The partition
    // key is a constant derived from a column (pmod(__b, 1) ≡ 0) rather
    // than a bare literal: Catalyst folds a literal partition key to an
    // empty spec, which re-triggers WindowExec's all-data-to-one-partition
    // warning — alarming in logs for what is a ≤4096-row frame.
    val bucketW = Window.partitionBy(pmod(col("__b"), lit(1))).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val starts = keyed.groupBy(col("__b")).agg(sum(weight).as("__bw"))
      .withColumn("__cum", sum(col("__bw")).over(bucketW))
      .withColumn("__start", col("__cum") - col("__bw"))
      .select(col("__b"), col("__start"))

    // Phase 3: per-row running offset within each bucket, seeded by the
    // bucket's start — the window partitions by bucket, so every task
    // holds ~1/4096th of the corpus regardless of total size.
    val inBucketW = Window.partitionBy(col("__b")).orderBy(col("__k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    keyed.join(broadcast(starts), Seq("__b"))
      .withColumn("__run", col("__start") + sum(weight).over(inBucketW) - weight)
      .withColumn(binCol, expr(s"__run div $binBudget"))
      .withColumn(offsetCol, pmod(col("__run"), lit(binBudget)))
      .drop("__k", "__b", "__start", "__run")
  }
}
