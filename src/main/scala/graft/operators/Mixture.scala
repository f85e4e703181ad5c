package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mixture sampling for training-data pipelines: fill per-domain TOKEN
  * budgets (not row quotas) with a deterministic, cross-engine-reproducible
  * draw — the "sample 30B tokens of web, 5B of code" step that turns a
  * curated corpus into a training mix.
  *
  * Semantics: within each stratum, rows are ordered by md5(id) and kept
  * while the running weight total (inclusive of the current row) stays at
  * or under the stratum's budget — exactly a windowed cumulative sum, which
  * is what the oracle mirrors.
  *
  * Scale shape: the naive single window per stratum is one unsplittable
  * task holding an entire domain — at 100 TB a "web" stratum IS most of the
  * corpus. Instead the cumulative sum runs in two exact phases on the md5
  * key's 3-hex-char prefix (4096 buckets):
  *   1. per-(stratum, bucket) weight sums — a map-side-combined groupBy,
  *      fully splittable;
  *   2. a cumulative sum over the ≤4096 bucket rows per stratum (tiny
  *      window), classifying each bucket as kept-whole (bucket cum ≤
  *      budget), dropped-whole (previous cum > budget), or boundary;
  *   3. ONLY the single boundary bucket per stratum — ~1/4096th of the
  *      stratum — pays a per-row window, seeded with the cum of all
  *      preceding buckets.
  * Because the bucket is a PREFIX of the ordering key, bucket order and
  * row order agree and the result is bit-identical to the naive window.
  */
object Mixture {

  private val reserved = Seq("__k", "__b", "__bw", "__cum", "__before",
    "__budget", "__run", "__whole")

  /** Shared scaffolding of the two-phase exact cumulative sum ([[Mixture]]
    * and [[Packing]]): `__k` = md5(id) — the deterministic ordering key —
    * and `__b` = its first 3 hex chars as an int (4096 buckets). The
    * bucket is a PREFIX of the ordering key, so bucket order and row order
    * agree — the single fact both operators' bit-identity proofs rest on;
    * any change to the key or prefix width must happen HERE, for both.
    * Rejects inputs whose columns collide with the operator's reserved
    * working names. */
  private[operators] def md5Bucketed(df: DataFrame, idExpr: Column,
                                     reservedNames: Seq[String],
                                     op: String): DataFrame = {
    val clash = df.columns.toSet.intersect(reservedNames.toSet)
    require(clash.isEmpty, s"$op reserves ${reservedNames.mkString(", ")}; " +
      s"input already has ${clash.mkString(", ")}")
    df.withColumn("__k", md5(idExpr.cast("string")))
      .withColumn("__b", conv(substring(col("__k"), 1, 3), 16, 10).cast("int"))
  }

  /** Keep rows of `df` up to a per-stratum weight budget, in md5(id) order.
    *
    * `budgets` is a (stratumCol, budget) frame — typically a handful of
    * rows, joined broadcast. Strata absent from it contribute no rows.
    * `weight` must be non-null and non-negative on every row (token counts
    * are; a null would silently vanish from the sums).
    *
    * Output: `df`'s rows (original columns) that fit the budget. The
    * running total is intentionally NOT emitted — producing it for
    * kept-whole buckets would force the per-row window everywhere and
    * reintroduce the giant-stratum task this exists to avoid.
    */
  def tokenBudgetSample(df: DataFrame, stratumCol: String, weight: Column,
                        idExpr: Column, budgets: DataFrame): DataFrame = {
    require(budgets.columns.contains(stratumCol) && budgets.columns.contains("budget"),
      s"budgets frame needs ($stratumCol, budget) columns, has ${budgets.columns.mkString(", ")}")
    val bs = broadcast(budgets.select(col(stratumCol), col("budget").as("__budget")))
    budgetCore(df, stratumCol, weight, idExpr, _.join(bs, Seq(stratumCol)))
  }

  /** Uniform-budget overload: every stratum present in `df` gets the same
    * `budget` (an expression over the bucket rows — usually a literal).
    * Skips the budgets frame entirely: no distinct() to derive strata, no
    * broadcast join — the budget is a projected column on the ≤4096
    * bucket rows per stratum. Semantically identical to passing a budgets
    * frame listing every stratum of `df` with that constant. */
  def tokenBudgetSample(df: DataFrame, stratumCol: String, weight: Column,
                        idExpr: Column, budget: Column): DataFrame =
    budgetCore(df, stratumCol, weight, idExpr, _.withColumn("__budget", budget))

  private def budgetCore(df: DataFrame, stratumCol: String, weight: Column,
                         idExpr: Column,
                         attachBudget: DataFrame => DataFrame): DataFrame = {
    val keyed = md5Bucketed(df, idExpr, reserved, "tokenBudgetSample")

    // Phase 1+2: bucket sums, tiny per-stratum cumulative, classification.
    val bucketW = Window.partitionBy(stratumCol).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // A zero-weight row keeps its running total flat, so __before == budget
    // is still (barely) alive — only __before > budget is surely dead.
    // Live buckets carry a kept-whole/boundary flag so the corpus joins the
    // classification ONCE: one broadcast exchange feeds both branches
    // (ReusedExchange), where separate keepWhole/boundary frames would
    // compute the bucket-sum subtree twice and broadcast twice.
    val live = attachBudget(keyed.groupBy(col(stratumCol), col("__b"))
      .agg(sum(weight).as("__bw"))
      .withColumn("__cum", sum(col("__bw")).over(bucketW))
      .withColumn("__before", col("__cum") - col("__bw")))
      .where(col("__before") <= col("__budget"))
      .select(col(stratumCol), col("__b"),
        (col("__cum") <= col("__budget")).as("__whole"),
        col("__before"), col("__budget"))
    val joined = keyed.join(broadcast(live), Seq(stratumCol, "__b"))

    // Phase 3: per-row window ONLY inside boundary buckets.
    val inBucketW = Window.partitionBy(col(stratumCol), col("__b"))
      .orderBy(col("__k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val keptBoundary = joined.where(!col("__whole"))
      .withColumn("__run", col("__before") + sum(weight).over(inBucketW))
      .where(col("__run") <= col("__budget"))
      .drop("__run")

    joined.where(col("__whole"))
      .unionByName(keptBoundary)
      .drop("__k", "__b", "__whole", "__before", "__budget")
  }

  /** Temperature-scaled mixture sampling at T = 2 — the data-mixing rule
    * that UPWEIGHTS small sources relative to their natural share (mT5 /
    * multilingual-sampling shape): sampling a source with probability
    * ∝ share^(1/T) means accepting each of its rows with probability
    * ∝ share^(1/T − 1) = 1/√share at T = 2, normalized so the SMALLEST
    * stratum keeps everything: p(s) = √(n_min / n_s).
    *
    * T is fixed at 2 deliberately: √ is the one fractional power IEEE 754
    * guarantees correctly rounded, so `floor(1e6 · √(n_min/n_s))` is
    * bit-identical in every engine and the draw oracles exactly. A general
    * `pow(x, 1/T)` is only faithfully rounded (libm-dependent) — a
    * threshold landing on the rounding boundary would silently diverge
    * between engines, which is precisely the non-reproducibility this
    * engine's deterministic draws exist to rule out.
    *
    * Scale: one map-side-combined count per stratum (tiny dim), its global
    * min via a 1-row broadcast cross join, acceptance thresholds broadcast
    * back, and the draw itself is the same per-row md5 filter as
    * [[graft.operators.WindowOps.importanceSample]] — fully pushed down,
    * no shuffle of the corpus.
    *
    * Output: the kept rows with `keep_ppm` (the stratum's parts-per-million
    * acceptance threshold) attached. */
  def temperatureSample(df: DataFrame, stratumCol: String,
                        idExpr: Column): DataFrame = {
    require(!df.columns.contains("keep_ppm"),
      "column keep_ppm already exists on the input")
    val counts = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("__n"))
    val nMin = counts.agg(min(col("__n")).as("__nmin"))
    val thresholds = counts.crossJoin(broadcast(nMin))
      .select(col(stratumCol),
        floor(lit(1000000.0d) *
          sqrt(col("__nmin").cast("double") / col("__n").cast("double")))
          .cast("long").as("keep_ppm"))
    df.join(broadcast(thresholds), Seq(stratumCol))
      .where(graft.functions.Draws.md5Draw(idExpr, 1000000L) < col("keep_ppm"))
  }
}
