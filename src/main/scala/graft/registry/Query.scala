package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry query: its Spark program (`run(spark, sfDir)`) and the
  * DuckDB SQL that checks it. Column names/aliases match the SQL exactly;
  * every query ends in a deterministic ORDER BY (unique sort keys) so row
  * order is reproducible across engines.
  *
  * Floating-point policy: per-row arithmetic (+,-,*,/) is IEEE-identical in
  * Spark and DuckDB and stays unrounded; anything order-dependent (sums,
  * stddev, corr) or transcendental (log) is rounded — 6 dp for ~unit-scale
  * values, 2 dp for large sums — so accumulation-order ulp noise can't flip
  * the hash compare.
  *
  * Integer-sum policy: DuckDB's sum(<integer col>) returns HUGEINT, which
  * pandas renders as float ('2098.0') while Spark writes int64 ('2098') —
  * the driver hash then differs on value-identical rows. Any oracle OUTPUT
  * column that sums/multiplies integers must be CAST(... AS BIGINT).
  * (count(*) is already BIGINT; sums wrapped in round(...) are DOUBLE.) */
final case class Query(name: String, run: (SparkSession, String) => DataFrame,
                       oracleSql: String)

object Query {

  /** `qs` unchanged, after checking that no name repeats: a second record
    * under one name would silently replace the first in
    * [[graft.SparkEntry.queries]]. */
  def distinct(qs: Seq[Query]): Seq[Query] = {
    val repeated = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(repeated.isEmpty,
      s"duplicate query names: ${repeated.toSeq.sorted.mkString(", ")}")
    qs
  }
}
