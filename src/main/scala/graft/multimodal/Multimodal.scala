package graft.multimodal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: opaque `binary` payloads + typed metadata,
  * all pure `Column` expressions (codegen'd, no UDF, no decode). The real
  * container-header fields come from [[MediaHeaders]]; a pixel/sample
  * decoder (JNI/FFI or subprocess, e.g. for video) would sit at a
  * `mapPartitions` boundary after [[sampleFrameIndexes]], so codec init
  * cost amortizes across the partition like an Arrow-batched UDF.
  */
object Multimodal {

  /** Wrap a string column as the opaque binary payload + byte length —
    * the ingestion shape for media blobs arriving via parquet. */
  def withPayload(df: DataFrame, srcCol: String): DataFrame =
    df.withColumn("payload", col(srcCol).cast("binary"))
      .withColumn("byte_len", octet_length(col(srcCol)))

  /** Pure-Column metadata derivation (oracle-portable variant): dimensions
    * as exact integer arithmetic on the byte length. */
  def fakeMetaColumns(df: DataFrame): DataFrame =
    df.withColumn("width", (lit(64) + col("byte_len") % 512).cast("int"))
      .withColumn("height", (lit(64) + (col("byte_len") * 7) % 512).cast("int"))
      .withColumn("channels", lit(3))

  /** Uniform frame sampling: one row per kept frame index (0, stride,
    * 2·stride, …) of each clip. Pure-column `sequence` + `explode` — scan-
    * local, no shuffle; rows expand by ⌈n_frames/stride⌉, which at video
    * scale is exactly the fan-out a frame-level training pipeline wants to
    * pay, and nothing more (the payload column is carried, not sliced). */
  def sampleFrameIndexes(df: DataFrame, nFramesCol: String,
                         stride: Int): DataFrame = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    require(!df.columns.contains("frame_idx"),
      "column frame_idx already exists on the input")
    // Guarded: sequence(0, -1, +stride) THROWS at runtime (illegal
    // boundaries), so a corrupt clip with n_frames <= 0 (or null) must
    // short-circuit to an empty array — explode then simply drops the
    // clip, instead of one bad row failing the whole job.
    val n = col(nFramesCol).cast("int")
    df.withColumn("frame_idx",
      explode(when(n >= 1, sequence(lit(0), n - 1, lit(stride)))
        .otherwise(array().cast("array<int>"))))
  }

  /** Stub batch resize: rewrites the metadata columns to the target box
    * (aspect-preserving fit, integer arithmetic) WITHOUT touching payload
    * bytes — the pure-column half of a resize stage; the byte transform
    * itself belongs at a `mapPartitions` decode boundary. The
    * scale-down factor is ⌈max(w,h)/target⌉-style exact integer math so an
    * oracle can reproduce it. */
  def resizeMetaTo(df: DataFrame, target: Int): DataFrame = {
    require(target >= 1, s"target must be >= 1, got $target")
    val longSide = greatest(col("width"), col("height"))
    // Column `/` is DOUBLE division; floor() keeps it exact here (pixel
    // dims ≪ 2^53, so the double round-trip cannot lose integer precision).
    val fit = when(longSide <= target, lit(1L))
      .otherwise(floor((longSide + lit(target) - 1) / lit(target)).cast("long"))
    df.withColumn("resized_width",
        floor(col("width") / fit).cast("int"))
      .withColumn("resized_height",
        floor(col("height") / fit).cast("int"))
  }
}
