package graft.multimodal

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Real container-header parsing for media binary columns — pure `Column`
  * byte arithmetic over `hex(payload)` (codegen'd, no UDF, no native
  * libraries): magic-number detection for PNG/GIF/WAV/JPEG/BMP/AIFF plus
  * width/height/channels/sample-rate extraction where the container keeps
  * them at a FIXED offset — PNG (IHDR, big-endian), GIF (logical screen,
  * little-endian), BMP (BITMAPINFOHEADER, little-endian), WAV (RIFF fmt
  * chunk, little-endian). JPEG dims and AIFF rate are variable-position /
  * non-integer fields, so those report kind only.
  *
  * MultimodalSpec cross-checks every field against a pure-JDK reader
  * (javax.imageio / javax.sound.sampled) on real container bytes.
  * Parsing the fixed-offset header fields is exact byte arithmetic, which
  * is precisely what a Column expression does best: it runs inside
  * whole-stage codegen and never leaves the scan's projection.
  */
object MediaHeaders {

  /** Hex of only the header prefix — all parsed fields live in the first
    * 28 bytes, so never hex-encode a multi-megabyte payload to peek at
    * fixed offsets (hex(bin) alone would be O(payload) work and a
    * 2×-size string per evaluation). */
  private def hdr(bin: Column): Column = hex(substring(bin, 1, 32))

  /** Numeric value of the byte at 1-based offset `off`. */
  private def byteAt(bin: Column, off: Int): Column =
    conv(substring(hdr(bin), off * 2 - 1, 2), 16, 10).cast("long")

  /** Big-endian 4-byte unsigned int at 1-based byte offset. */
  private def beInt(bin: Column, off: Int): Column =
    conv(substring(hdr(bin), off * 2 - 1, 8), 16, 10).cast("long")

  /** Little-endian 2-byte unsigned at 1-based byte offset. */
  private def leShort(bin: Column, off: Int): Column =
    byteAt(bin, off + 1) * 256 + byteAt(bin, off)

  /** Little-endian 4-byte unsigned at 1-based byte offset. */
  private def leInt(bin: Column, off: Int): Column =
    ((byteAt(bin, off + 3) * 256 + byteAt(bin, off + 2)) * 256 +
      byteAt(bin, off + 1)) * 256 + byteAt(bin, off)

  private def hexAt(bin: Column, off: Int, hexLit: String): Column =
    substring(hdr(bin), off * 2 - 1, hexLit.length) === hexLit

  /** Field-presence gate: a header truncated MID-FIELD must report null,
    * not a misparse — substring past the payload end yields a SHORTER hex
    * string, and conv() would happily parse the partial field as a small
    * (wrong) number (a PNG cut inside its width bytes would otherwise
    * read as width 0). Every fixed-offset field below is gated on the
    * payload actually containing its last byte. */
  private def has(bin: Column, lastByte: Int): Column =
    octet_length(bin) >= lastByte

  def isPng(bin: Column): Column = hexAt(bin, 1, "89504E470D0A1A0A")
  def isGif(bin: Column): Column = hexAt(bin, 1, "474946")
  def isWav(bin: Column): Column =
    hexAt(bin, 1, "52494646") && hexAt(bin, 9, "57415645")
  def isJpeg(bin: Column): Column = hexAt(bin, 1, "FFD8FF")
  def isBmp(bin: Column): Column = hexAt(bin, 1, "424D")
  def isAiff(bin: Column): Column =
    hexAt(bin, 1, "464F524D") && hexAt(bin, 9, "41494646")

  /** Container kind by magic number; "unknown" for anything else. */
  def kind(bin: Column): Column =
    when(isPng(bin), "png").when(isGif(bin), "gif").when(isWav(bin), "wav")
      .when(isJpeg(bin), "jpeg").when(isBmp(bin), "bmp")
      .when(isAiff(bin), "aiff")
      .otherwise("unknown")

  /** Pixel width (PNG: IHDR bytes 17-20 BE; GIF: screen bytes 7-8 LE;
    * BMP: BITMAPINFOHEADER bytes 19-22 LE, gated on DIB size ≥ 40 so the
    * ancient fixed-width BITMAPCOREHEADER variant reports null rather than
    * a misread); null for audio/unknown. JPEG dims are NOT a fixed-offset
    * field (they live in a variable-position SOF marker segment), so JPEG
    * reports kind only — same for AIFF's 80-bit extended-float sample
    * rate. */
  def width(bin: Column): Column =
    when(isPng(bin) && has(bin, 20), beInt(bin, 17))
      .when(isGif(bin) && has(bin, 8), leShort(bin, 7))
      .when(isBmp(bin) && has(bin, 22) && leInt(bin, 15) >= 40, leInt(bin, 19))

  /** Pixel height (PNG bytes 21-24 BE; GIF bytes 9-10 LE; BMP bytes 23-26
    * LE — positive bottom-up rows assumed, the only layout JDK writers
    * emit). */
  def height(bin: Column): Column =
    when(isPng(bin) && has(bin, 24), beInt(bin, 21))
      .when(isGif(bin) && has(bin, 10), leShort(bin, 9))
      .when(isBmp(bin) && has(bin, 26) && leInt(bin, 15) >= 40, leInt(bin, 23))

  /** Audio channel count (WAV fmt bytes 23-24 LE); null for images. */
  def channels(bin: Column): Column =
    when(isWav(bin) && has(bin, 24), leShort(bin, 23))

  /** Audio sample rate (WAV fmt bytes 25-28 LE); null for images. */
  def sampleRate(bin: Column): Column =
    when(isWav(bin) && has(bin, 28), leInt(bin, 25))
}
