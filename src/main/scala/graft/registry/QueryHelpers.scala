package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The helpers both query families use: table loading and eager frame
  * sharing. */
private[graft] object QueryHelpers {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Materialize a frame that the downstream plan references more than once.
    * Strategy is the session-wide `graft.materialize` conf (see
    * [[Materialize]]): localCheckpoint by default, persist(DISK)/reliable
    * checkpoint for fault-tolerant cluster runs, or `false` to keep plans
    * fully lazy and inspectable: `Explain` without `--run` sets it so the
    * shared stage shows as its real operator tree instead of an
    * ExistingRDD scan (and no job runs at plan time). */
  def mat(df: DataFrame): DataFrame = Materialize(df)
}
