package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Single-window reference formulations that the bucketed operators are
  * property-tested against: each holds a whole stratum (or the whole
  * corpus) in one unsplittable task, which is exactly why the production
  * paths bucket on the md5 key instead. */
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
}
