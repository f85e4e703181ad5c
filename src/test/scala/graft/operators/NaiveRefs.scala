package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference formulations that the scalable operators are property-tested
  * against: each holds a whole stratum (or the whole corpus) in one
  * unsplittable task or iterates on the driver, which is exactly why the
  * production paths bucket on the md5 key or run one distributed job
  * instead. */
object NaiveRefs {

  /** [[Packing.packBins]] as one global md5-ordered running sum. */
  def packBinsNaive(df: DataFrame, weight: Column, idExpr: Column, binBudget: Long,
                    binCol: String = "bin", offsetCol: String = "bin_offset"): DataFrame = {
    val w = Window.orderBy(md5(idExpr.cast("string")))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__run", sum(weight).over(w) - weight)
      .withColumn(binCol, expr(s"__run div $binBudget"))
      .withColumn(offsetCol, pmod(col("__run"), lit(binBudget)))
      .drop("__run")
  }

  /** `Mixture.tokenBudgetSample` as one md5-ordered window per stratum. */
  def tokenBudgetSampleNaive(df: DataFrame, stratumCol: String, weight: Column,
                             idExpr: Column, budgets: DataFrame): DataFrame = {
    val w = Window.partitionBy(stratumCol).orderBy(md5(idExpr.cast("string")))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.join(broadcast(budgets.select(col(stratumCol), col("budget").as("__budget"))),
        Seq(stratumCol))
      .withColumn("__run", sum(weight).over(w))
      .where(col("__run") <= col("__budget"))
      .drop("__run", "__budget")
  }

  /** Guardrail on the driver-iterated round count of [[greedyCover]]: each
    * round is TWO driver jobs (winner collect + covered_cum count), so cost
    * is k × fixed job latency regardless of cluster size. */
  val DefaultMaxK = 1000

  /** Strict greedy max-coverage, one driver-iterated round per pick — the
    * reference [[Coverage.greedyCoverExactSmall]] must equal row-for-row and
    * [[Coverage.greedyCoverApprox]] is measured against. Each round: one
    * LEFT-ANTI join against the covered keys, one `groupBy(id).count` for
    * the gains, `orderBy(gain desc, id).limit(1)` for the winner, and the
    * covered set re-materialized so the next round plans one flat scan.
    *
    * @param postings (id, key) rows; duplicates are collapsed
    * @param k        number of documents to select (driver-iterated)
    * @param maxK     loud-failure ceiling on k (see [[DefaultMaxK]])
    * @return k rows (round, doc_id, gain, covered_cum): the pick of each
    *         round, its marginal gain, and the cumulative distinct keys
    *         covered; fewer than k rows when the corpus is exhausted
    */
  def greedyCover(postings: DataFrame, idCol: String, keyCol: String,
                  k: Int, maxK: Int = DefaultMaxK): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(k <= maxK,
      s"greedyCover: k=$k exceeds maxK=$maxK — each round is two driver " +
        "jobs, so this loop costs k x fixed job latency at ANY cluster " +
        "size; pass maxK explicitly if the 2k-job bill is intended")
    val spark = postings.sparkSession
    import spark.implicits._
    def mat(df: DataFrame): DataFrame = graft.Materialize(df)
    // Null tripwire (the Splits.assignSplit convention): a null key never
    // matches the covered set through the anti-join, so it would re-count
    // toward its doc's gain EVERY round — and the oracle's NOT-IN mirror
    // excludes it from round 2 on, silently desynchronizing the engines.
    // A null id would NPE at the winner collect. Fail loudly instead.
    val p = mat(postings
      .select(
        when(col(idCol).isNull, raise_error(
          lit("greedyCover: null id in postings"))).otherwise(col(idCol))
          .cast("long").as("id"),
        when(col(keyCol).isNull, raise_error(
          lit("greedyCover: null key in postings"))).otherwise(col(keyCol))
          .as("sh"))
      .distinct())
    var covered: DataFrame = null
    val picks = scala.collection.mutable.ArrayBuffer[(Int, Long, Long, Long)]()
    var r = 1
    var exhausted = false
    while (r <= k && !exhausted) {
      val remaining =
        if (covered == null) p else p.join(covered, Seq("sh"), "left_anti")
      val top = remaining.groupBy(col("id")).agg(count(lit(1)).as("gain"))
        .orderBy(col("gain").desc, col("id")).limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val id = top(0).getLong(0)
        val gain = top(0).getLong(1)
        val newCov = p.where(col("id") === id).select(col("sh"))
        val prev = covered
        covered = mat(
          if (covered == null) newCov
          else covered.union(newCov).distinct())
        // covered_cum forces the new round's materialization; only THEN is
        // the superseded round released. The eager release matters in the
        // disk/lazy-persist modes (unpersist drops the cache-manager entry;
        // without it the union chain either recomputes or leaks one cached
        // corpus-scale frame per round). Under the default localCheckpoint
        // mode unpersist is a no-op — checkpoint blocks are not
        // cache-manager entries and are reclaimed by the ContextCleaner
        // once the superseded frame is unreferenced, which the `prev`
        // handoff below guarantees.
        picks += ((r, id, gain, covered.count()))
        if (prev != null) prev.unpersist(blocking = false)
        r += 1
      }
    }
    val out = picks.toSeq.toDF("round", "doc_id", "gain", "covered_cum")
    // The result is a driver-local LocalRelation — nothing downstream reads
    // p or the final covered frame, so release them before returning.
    if (covered != null) covered.unpersist(blocking = false)
    p.unpersist(blocking = false)
    out
  }
}
