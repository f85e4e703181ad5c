package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.registry.{CorpusQueries, Query, RelationalQueries}

/** Driver contract: the query registry, one [[Query]] record per
  * implemented operator from SURVEY.md §2, each holding its Spark program
  * next to its DuckDB oracle SQL. The records live in two family files:
  * `registry/CorpusQueries.scala` (programs that read `documents` or
  * `embeddings`) and `registry/RelationalQueries.scala` (the rest). */
object SparkEntry {

  /** Flagship: multi-join regional revenue (TPC-H Q5 shape) on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    queries("q22_regional_revenue")(spark, "/root/testdata/sf0.001")

  /** Every registered query; a repeated name fails here, on first use. */
  val all: Seq[Query] = Query.distinct(RelationalQueries.all ++ CorpusQueries.all)

  /** name → program, derived from [[all]]. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.run).toMap
}
