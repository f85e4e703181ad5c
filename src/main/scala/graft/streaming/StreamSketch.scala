package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Sketches

/** Live frequency sketching — the streaming counterpart of the batch
  * Count-Min Sketch ([[graft.functions.Sketches]], q117): per event-time
  * window, the depth×width counter table of a key stream, and per-window
  * point estimates for a fixed watchlist of keys.
  *
  * Why a sketch and not exact windowed counts: the per-(window, key) exact
  * aggregate carries state proportional to the DISTINCT-KEY cardinality of
  * every open window — for a token/URL/user-agent stream that is unbounded.
  * The CMS holds exactly depth×width counters per open window regardless of
  * cardinality, and the emitted counter rows merge across shards/streams by
  * plain addition (the CMS merge law, spec-tested batch-side).
  *
  * Shape: one watermarked tumbling-window aggregation over the ×depth
  * bucket explode — partial-merged map-side, state O(open windows × depth ×
  * width), append-mode finalize-once. Estimation is a SECOND aggregation
  * keyed on the same event-time window (chained window aggregations)
  * over a broadcast watchlist join: min over the
  * depth counters each watched key hashes into. Bucket hashing is the
  * portable md5 idiom, so live counters are bit-comparable with a batch
  * [[Sketches.cmsTable]] over the same rows (parity spec-tested).
  */
object StreamSketch {

  /** Windowed CMS counter stream: one row per (window, seed, bucket) with
    * the window's occurrence total. Works on batch frames too (window()
    * without watermark) — the parity tests run both paths. */
  def windowedCms(stream: DataFrame, keyCol: String, tsCol: String,
                  depth: Int, width: Int, windowDur: String,
                  watermark: String): DataFrame = {
    require(depth >= 1 && width >= 2, s"degenerate CMS $depth x $width")
    stream
      .withWatermark(tsCol, watermark)
      .select(col(tsCol), posexplode(array((0 until depth).map(s =>
        Sketches.cmsBucket(col(keyCol), s, width)): _*)).as(Seq("seed", "bucket")))
      .groupBy(window(col(tsCol), windowDur), col("seed"), col("bucket"))
      .agg(count(lit(1)).as("total"))
  }

  /** Per-window estimates for a small fixed watchlist (broadcast): min over
    * the depth counters each watched key hashes into. Chained on the same
    * window grouping, so append mode emits each (window, key) exactly once
    * when the watermark closes the window.
    *
    * Sparse-counter law: the counter stream only carries TOUCHED (seed,
    * bucket) cells — an absent row is a ZERO counter. A key that did occur
    * has all `depth` of its cells present (each holds ≥ its own count), so
    * requiring exactly `depth` matches before taking the min is equivalent
    * to min-with-zeros: fewer matches ⇒ some counter is 0 ⇒ estimate 0.
    * Skipping the guard would silently inflate non-occurring watched keys
    * whose remaining cells absorbed other keys' traffic. Keys estimating 0
    * emit no row at all (append-mode chains can't left-join the watchlist
    * per window; callers read absence as 0, spec-pinned). */
  def windowedEstimates(cms: DataFrame, watchlist: DataFrame, keyCol: String,
                        depth: Int, width: Int): DataFrame = {
    val probes = watchlist.select(col(keyCol),
      posexplode(array((0 until depth).map(s =>
        Sketches.cmsBucket(col(keyCol), s, width)): _*)).as(Seq("seed", "bucket")))
    cms.join(broadcast(probes), Seq("seed", "bucket"))
      .groupBy(col("window"), col(keyCol))
      .agg(min(col("total")).as("__minPresent"), count(lit(1)).as("__cells"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col(keyCol),
        when(col("__cells") === depth, col("__minPresent")).otherwise(lit(0L))
          .as("est"))
      .where(col("est") > 0)
  }
}
