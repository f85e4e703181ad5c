package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The helpers both query families use: table loading and eager frame
  * sharing. */
private[graft] object QueryHelpers {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Materialize a frame that the downstream plan references more than once
    * ([[Materialize]]: localCheckpoint). `graft.materialize=false` keeps
    * plans fully lazy and inspectable: `Explain` without `--run` sets it so
    * the shared stage shows as its real operator tree instead of an
    * ExistingRDD scan (and no job runs at plan time). */
  def mat(df: DataFrame): DataFrame = Materialize(df)
}
