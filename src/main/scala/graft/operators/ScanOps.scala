package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Prefix-scan operators — linear recurrences (EWMA and friends) that no
  * built-in Spark construct expresses per-row: window functions have no
  * position-weighted frame, and higher-order `aggregate` folds to the LAST
  * value only (Spark has no `scanl`). The naive sum formulation
  * y_i = a·Σ x_j·c^(i−j) = a·c^i·Σ x_j·c^(−j) overflows DOUBLE past a few
  * thousand rows (c^(−j) explodes), so a real scan is required.
  *
  * Recurrence (pandas `ewm(alpha).mean()` with `adjust=False`):
  *   y_0 = x_0;  y_i = (1−a)·y_{i−1} + a·x_i
  *
  * [[ewmaPerKey]] runs many independent series, each bounded (per-symbol /
  * per-user time series). ONE hash shuffle on the key collects each
  * series as a sorted in-row array; the fold then runs sequentially
  * inside the row, so per-key work is linear and BIT-EXACT vs a
  * single-threaded reference — results are oracle-comparable. The typed
  * `map` is the deliberate (d)-tier escape hatch: it breaks codegen for
  * exactly one project, because no Catalyst expression can scan.
  * State per task is one series array — the same bound any per-key
  * window operator carries.
  */
object ScanOps {

  /** Per-key exact EWMA. Returns (keys..., order..., valueOut, out) — one
    * row per input row, the fold running in `order` within each key.
    *
    * @param keys     grouping columns (the series identity)
    * @param order    in-series sort columns — must be a deterministic total
    *                 order within each key (thread a unique tiebreaker)
    * @param value    the observed series (cast to double)
    * @param alpha    smoothing factor in (0, 1]
    * @param valueOut output name for the observed value column
    * @param out      output name for the EWMA column
    */
  def ewmaPerKey(df: DataFrame, keys: Seq[String], order: Seq[String],
                 value: Column, alpha: Double,
                 valueOut: String, out: String): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1], got $alpha")
    require(order.nonEmpty, "order columns are required")
    val c = 1.0 - alpha
    // A struct array sorts lexicographically field-by-field, so sorting
    // (order..., __v) structs orders each series by the order columns with
    // the value along for the ride. collect_list is unordered across tasks;
    // array_sort makes the series deterministic.
    val series = struct((order.map(col) :+ value.cast("double").as("__v")): _*)
    val grouped = df.groupBy(keys.map(col): _*)
      .agg(array_sort(collect_list(series)).as("__series"))
    val seriesIdx = grouped.schema.length - 1
    val vIdx = order.length // __v is the last struct field
    val scanned = grouped.map { row =>
      val s = row.getSeq[Row](seriesIdx)
      val ewma = new Array[Double](s.length)
      var y = 0.0
      var i = 0
      s.foreach { r =>
        val x = r.getDouble(vIdx)
        y = if (i == 0) x else c * y + alpha * x
        ewma(i) = y
        i += 1
      }
      Row.fromSeq(row.toSeq :+ ewma.toSeq)
    }(Encoders.row(grouped.schema.add("__ewma", ArrayType(DoubleType, containsNull = false))))
    // arrays_zip pairs each series struct with its scan value positionally;
    // explode restores one row per observation.
    scanned
      .select((keys.map(col) :+
        explode(arrays_zip(col("__series"), col("__ewma"))).as("__z")): _*)
      .select((keys.map(col) ++
        order.map(o => col("__z.__series").getField(o).as(o)) :+
        col("__z.__series.__v").as(valueOut) :+
        col("__z.__ewma").as(out)): _*)
  }
}
