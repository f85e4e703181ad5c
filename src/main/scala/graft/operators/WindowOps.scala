package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window-function operators (reference §2.6 W1–W5).
  *
  * All frames are ROWS-based, matching the reference exactly. Every window
  * here partitions by a group key, so at scale each partition's state is
  * bounded by that group's row count — no global sort. Tiebreaker columns
  * are threaded through every `orderBy` so results are deterministic even
  * with duplicate timestamps.
  */
object WindowOps {

  private def w(part: Seq[Column], order: Seq[Column]) =
    Window.partitionBy(part: _*).orderBy(order: _*)

  /** W1 (`binance_analysis.py:220`): per-group time-ordered lag difference
    * (log-return shape): out = value − lag(value, 1); first row null. */
  def lagDiff(df: DataFrame, part: Seq[Column], order: Seq[Column],
              value: Column, out: String): DataFrame =
    df.withColumn(out, value - lag(value, 1).over(w(part, order)))

  /** W2 (`binance_analysis.py:232-239`): rolling sample-stddev over the
    * trailing `window` ROWS with a `minPeriods` gate (null until enough
    * observations), scaled by sqrt(window) — the rolling-volatility shape.
    * Frame is (−(window−1), 0) — the off-by-one trap of SURVEY §7.5. */
  def rollingStd(df: DataFrame, part: Seq[Column], order: Seq[Column],
                 value: Column, window: Int, minPeriods: Int, out: String): DataFrame = {
    val frame = w(part, order).rowsBetween(-(window - 1), 0)
    df.withColumn(out,
      when(count(value).over(frame) >= minPeriods,
           round(stddev_samp(value).over(frame) * sqrt(lit(window.toDouble)), 6)))
  }

  /** W3/P24 (`binance_analysis.py:404-415`): forward values k rows ahead and
    * the forward log-return ln(lead/current); null past the partition end
    * and null when either endpoint is non-positive (log-returns are only
    * defined on positive prices — the explicit guard keeps engines that
    * THROW on ln(0), rather than returning null, oracle-comparable). */
  def forwardReturns(df: DataFrame, part: Seq[Column], order: Seq[Column],
                     value: Column, horizons: Seq[Int]): DataFrame =
    horizons.foldLeft(df) { (d, k) =>
      val led = lead(value, k).over(w(part, order))
      d.withColumn(s"lead_$k", led)
        .withColumn(s"fwd_ret_$k",
          when(led > 0 && value > 0, round(log(led / value), 6)))
    }

  /** W4 (`binance_analysis.py:490-494`): per-partition level numbering
    * (row_number), ordering direction supplied by the caller (bids desc /
    * asks asc in the reference). */
  def levelNumbers(df: DataFrame, part: Seq[Column], order: Seq[Column],
                   out: String): DataFrame =
    df.withColumn(out, row_number().over(w(part, order)))

  /** W5/O2/O3 (`binance_analysis.py:418,701`): global top-k by sort key.
    * `orderBy(...).limit(k)` compiles to TakeOrderedAndProject — each
    * partition keeps only k rows, the driver merges k·p rows: no full sort,
    * no full shuffle, scale-safe for small k. */
  def topK(df: DataFrame, order: Seq[Column], k: Int): DataFrame =
    df.orderBy(order: _*).limit(k)

  /** Per-group top-k (rank window ≤ k), the general form: Spark plans
    * `row_number() <= k` as a Partial `WindowGroupLimit` before the
    * exchange and a Final one after it, so each map task ships at most k
    * rows per group and a hot group reaches its reducer pre-pruned. */
  def topKPerGroup(df: DataFrame, part: Seq[Column], order: Seq[Column], k: Int,
                   out: String = "rank"): DataFrame =
    df.withColumn(out, row_number().over(w(part, order))).where(col(out) <= k)

  /** Per-group top-k via the THRESHOLD-PREFILTER pattern — the variant for
    * when the ranking value is one column: pass 1 computes each group's
    * k-th largest value with a bounded-heap aggregate
    * ([[graft.plans.Expressions.KthLargest]]: O(k) memory per task,
    * map-side combinable, the corpus streams through heap-min checks
    * instead of SORTING); pass 2 broadcast-joins the ≤|groups| thresholds
    * back and ranks ONLY the rows at-or-above their group's threshold —
    * a ties-inclusive superset of the true top-k, typically ≈ k·|groups|
    * rows. [[topKPerGroup]]'s partial limit sorts every input partition
    * first; this never sorts the corpus. Measured at sf0.1, where
    * lineitem is one parquet row group: q14/q18 ran 1.9–2.2× slower on
    * the plain rank (`plans/one_topk/`).
    *
    * Tradeoff: the input is consumed twice (threshold pass + filter pass) —
    * right when it's a table scan or a cheap projection; for an expensive
    * upstream, materialize it first. The threshold join is null-safe, so a
    * null group key ranks as its own group, as in [[topKPerGroup]].
    * Contract: `value` rows ranked DESC NULLS LAST with `tiebreak`
    * completing a total order. A group with fewer than k non-null values
    * gets a NULL threshold = keep-everything (its rank column still caps
    * at k). Output: input columns + `out` = 1-based rank, rows with
    * rank ≤ k — identical to [[topKPerGroup]] on the same ordering. */
  def thresholdedTopKPerGroup(df: DataFrame, part: Seq[String], value: Column,
                              tiebreak: Seq[Column], k: Int,
                              out: String = "rank"): DataFrame = {
    graft.plans.Expressions.ensureRegistered(df.sparkSession)
    val keys = part.indices.map(i => s"__g$i")
    val thr = df.groupBy(part.zip(keys).map { case (p, g) => col(p).as(g) }: _*)
      .agg(graft.plans.Expressions.kthLargest(value, k).as("__thr"))
    df.join(broadcast(thr),
        part.zip(keys).map { case (p, g) => col(p) <=> col(g) }.reduce(_ && _))
      .where(col("__thr").isNull || value >= col("__thr"))
      .withColumn(out, row_number().over(
        w(part.map(col), value.desc +: tiebreak)))
      .where(col(out) <= k)
      .drop(keys :+ "__thr": _*)
  }

  /** Global top-k under a per-group cap — "the best k docs overall, but no
    * more than `perGroup` from any one source": the diversified selection a
    * curation pipeline uses so one high-quality domain cannot monopolize
    * the kept set. Phase 1 prunes to the per-group top-`perGroup` with
    * [[topKPerGroup]]; phase 2's global top-k then runs over
    * ≤ groups·perGroup rows and compiles to TakeOrderedAndProject
    * (per-partition k, no full sort). Deterministic iff `order` is a total
    * order — pass a unique tiebreak. Output keeps `out` = the within-group
    * rank (1-based). */
  def diversifiedTopK(df: DataFrame, group: Seq[Column], order: Seq[Column],
                      perGroup: Int, k: Int,
                      out: String = "group_rank"): DataFrame =
    topKPerGroup(df, group, order, perGroup, out = out)
      .orderBy(order: _*).limit(k)

  /** O4 (`binance_analysis.py:713`): deterministic exact-n sample. Contract
    * is "deterministic given seed", not "same rows as numpy" (SURVEY §7.5);
    * keying on md5 of the row id makes it reproducible across engines too. */
  def deterministicSample(df: DataFrame, idExpr: Column, n: Int): DataFrame =
    df.orderBy(md5(idExpr.cast("string"))).limit(n)

  /** Stratified exact-quota sampling: up to `nPerGroup` rows per stratum,
    * chosen by md5-of-id rank — the corpus-mixing primitive of a
    * training-data pipeline (rebalance languages/sources/domains to target
    * counts) with a cross-engine-reproducible draw. One shuffle on the
    * stratum key, carrying at most `nPerGroup` rows per stratum per map
    * task ([[topKPerGroup]]); `sampleBy` gives probabilistic fractions,
    * this gives exact deterministic quotas. */
  def stratifiedSample(df: DataFrame, strata: Seq[Column], idExpr: Column,
                       nPerGroup: Int, out: String = "rank"): DataFrame =
    topKPerGroup(df, strata, Seq(md5(idExpr.cast("string"))), nPerGroup,
      out = out)

  /** Deterministic importance sampling: keep a row iff its md5-derived
    * pseudo-uniform draw in [0, 1000) falls below `weightMilli` — soft
    * quality filtering (keep a 900‰-quality doc with p ≈ 0.9, garbage at
    * 100‰ with p ≈ 0.1) instead of a hard threshold, the shape modern
    * curation pipelines prefer because hard cutoffs throw away the
    * mid-quality mass that still teaches the model.
    *
    * Integer-only and seeded by row identity: the same row draws the same
    * fate in every engine and every run (the md5-hex-chunk idiom of
    * [[graft.dedup.Dedup.minhashSlotHash]]), so the sample is reproducible
    * and oracle-checkable. A pure per-row filter — fully pushed down, no
    * shuffle, trivially parallel at any scale. */
  def importanceSample(df: DataFrame, idExpr: Column, weightMilli: Column): DataFrame =
    df.where(graft.functions.Draws.md5Draw(idExpr, 1000L) < weightMilli)
}
