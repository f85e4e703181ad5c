package graft.multimodal

import java.io.ByteArrayInputStream
import javax.imageio.ImageIO
import scala.util.Try
import org.apache.spark.sql.Row

/** Reference media reader for the [[MediaHeaders]] specs: the pure-JDK
  * decoders (`javax.imageio` for images, `javax.sound.sampled` for audio)
  * that the Column-level header parse is cross-checked against, with a
  * deterministic stub for payloads no JDK reader understands. A row is
  * (width, height, channels, n_frames); audio rows are (sample_rate, 0,
  * channels, n_audio_frames). */
object JvmCodec {

  /** Deterministic fake codec — the fallback for payloads no real reader
    * understands. Derives plausible dimensions from the payload bytes so
    * the result stays reproducible. */
  object StubCodec {
    def decode(payload: Array[Byte]): Row = {
      val n = payload.length
      var h = 1469598103934665603L
      var i = 0
      while (i < math.min(n, 64)) { h ^= payload(i); h *= 1099511628211L; i += 1 }
      val w = 64 + (Math.floorMod(h, 512L)).toInt
      Row(w, 64 + Math.floorMod(n, 512), 3, 1 + Math.floorMod(n, 16))
    }
  }

  /** Run `f` over an image reader positioned on the payload, if any JDK
    * reader claims the format. */
  private def withImageReader[A](payload: Array[Byte])
                                (f: javax.imageio.ImageReader => A): Option[A] = {
    val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(payload))
    try {
      val readers = ImageIO.getImageReaders(iis)
      if (!readers.hasNext) None
      else {
        val r = readers.next()
        r.setInput(iis)
        try Some(f(r)) finally r.dispose()
      }
    } finally iis.close()
  }

  private def decodeImage(payload: Array[Byte]): Option[Row] =
    Try(withImageReader(payload) { r =>
      val channels = Try {
        val types = r.getImageTypes(0)
        if (types.hasNext) types.next().getColorModel.getNumComponents else 3
      }.getOrElse(3)
      // allowSearch=true walks the container index — how animated GIFs
      // report their frame count; single-image formats report 1.
      val frames = Try(r.getNumImages(true)).getOrElse(1)
      Row(r.getWidth(0), r.getHeight(0), channels, math.max(frames, 1))
    }).toOption.flatten

  private def decodeAudio(payload: Array[Byte]): Option[Row] =
    Try {
      val aff = javax.sound.sampled.AudioSystem
        .getAudioFileFormat(new ByteArrayInputStream(payload))
      val fmt = aff.getFormat
      val frames = if (aff.getFrameLength > 0) aff.getFrameLength else 1
      Row(math.round(fmt.getSampleRate), 0, fmt.getChannels.toInt, frames)
    }.toOption

  /** (width, height, channels, n_frames); real decode where a JDK reader
    * exists, [[StubCodec]] fake otherwise, all-zero for null/empty
    * payloads (degrade, never crash). */
  def decode(payload: Array[Byte]): Row =
    if (payload == null || payload.isEmpty) Row(0, 0, 0, 0)
    else decodeImage(payload).orElse(decodeAudio(payload))
      .getOrElse(StubCodec.decode(payload))
}
