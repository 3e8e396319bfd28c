package graft.multimodal

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** REAL audio container-header parsing in pure JVM — no codec library:
  * `(format, channels, sample_rate, bits_per_sample, n_frames)` from the
  * leading bytes of a WAV (RIFF `fmt `/`data` chunks) or FLAC
  * (STREAMINFO metadata block). The audio companion of [[ImageHeaders]]:
  * stream parameters live in the container header by spec, so
  * extracting them needs byte slicing only — the sample decoder itself
  * is [[Multimodal.decodeAudio]].
  *
  * Format references (public specs):
  *  - WAV (RIFF, Microsoft/IBM 1991; WAVEFORMATEX docs): `RIFF`
  *    size(4,LE) `WAVE`, then chunks `id(4) size(4,LE) data[size]`
  *    padded to even length. The `fmt ` chunk carries
  *    audio_format(2,LE) channels(2,LE) sample_rate(4,LE)
  *    byte_rate(4,LE) block_align(2,LE) bits_per_sample(2,LE); the
  *    `data` chunk's declared size / block_align is the frame count.
  *  - FLAC (xiph.org spec): `fLaC`, then metadata blocks
  *    `flags(1: last<<7 | type) length(3,BE) data`; block type 0 is
  *    STREAMINFO (34 bytes), whose bytes 10..17 bit-pack
  *    sample_rate(20b) channels-1(3b) bits_per_sample-1(5b)
  *    total_samples(36b).
  *
  * Unrecognized / truncated / corrupt input decodes to null (never
  * throws) — same crawl-garbage contract as [[ImageHeaders]]. Frame
  * counts come from the declared header fields (a truncated payload
  * still reports what the header promises — at crawl scale the header
  * is the metadata of record; payload integrity is a checksum concern).
  */
object AudioHeaders {

  private def u8(a: Array[Byte], i: Int): Int = a(i) & 0xff

  private def le16(a: Array[Byte], i: Int): Int =
    u8(a, i) | (u8(a, i + 1) << 8)

  private def le32(a: Array[Byte], i: Int): Long =
    u8(a, i).toLong | (u8(a, i + 1).toLong << 8) |
      (u8(a, i + 2).toLong << 16) | (u8(a, i + 3).toLong << 24)

  private def be24(a: Array[Byte], i: Int): Int =
    (u8(a, i) << 16) | (u8(a, i + 1) << 8) | u8(a, i + 2)

  /** `(channels, sample_rate, bits_per_sample, n_frames)` */
  private def wavMeta(b: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    val n = b.length
    if (n < 12) return None
    if (u8(b, 0) != 'R' || u8(b, 1) != 'I' || u8(b, 2) != 'F' ||
        u8(b, 3) != 'F') return None
    if (u8(b, 8) != 'W' || u8(b, 9) != 'A' || u8(b, 10) != 'V' ||
        u8(b, 11) != 'E') return None
    // Long walk index: a chunk may legally declare a multi-GiB size
    // (full 32-bit field) — the hop must not overflow Int, and a huge
    // declared size simply ends the walk past the buffer rather than
    // failing a parse whose fmt/data metadata may already be in hand
    var i = 12L
    var fmt: Option[(Int, Int, Int, Int)] = None // ch, sr, bits, blockAlign
    var dataSize = -1L
    // walk chunk headers; a data chunk's PAYLOAD may legally be the file
    // tail, so its declared size is read from the header even when the
    // blob is truncated mid-payload
    while (i + 8 <= n && (fmt.isEmpty || dataSize < 0)) {
      val j = i.toInt // i + 8 <= n keeps this exact
      val size = le32(b, j + 4)
      if (u8(b, j) == 'f' && u8(b, j + 1) == 'm' && u8(b, j + 2) == 't' &&
          u8(b, j + 3) == ' ') {
        // PCM fmt is 16 bytes; WAVEFORMATEX variants append cbSize etc.
        if (size < 16 || j + 8 + 16 > n) return None
        val ch = le16(b, j + 10)
        val sr = le32(b, j + 12)
        val ba = le16(b, j + 20)
        val bits = le16(b, j + 22)
        if (ch < 1 || sr < 1 || sr > Int.MaxValue || bits < 1 || ba < 1)
          return None
        fmt = Some((ch, sr.toInt, bits, ba))
      } else if (u8(b, j) == 'd' && u8(b, j + 1) == 'a' &&
          u8(b, j + 2) == 't' && u8(b, j + 3) == 'a') {
        dataSize = size
      }
      // chunks are padded to even length
      i += 8L + size + (size & 1L)
    }
    fmt match {
      case Some((ch, sr, bits, ba)) if dataSize >= 0 =>
        Some((ch, sr, bits, dataSize / ba))
      case _ => None
    }
  }

  /** STREAMINFO must be the first metadata block (spec) — bytes 10..17
    * of its data bit-pack the stream parameters. */
  private def flacMeta(b: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    if (b.length < 8 + 34) return None
    if (u8(b, 0) != 'f' || u8(b, 1) != 'L' || u8(b, 2) != 'a' ||
        u8(b, 3) != 'C') return None
    if ((u8(b, 4) & 0x7f) != 0) return None // first block must be type 0
    if (be24(b, 5) != 34) return None       // STREAMINFO is 34 bytes
    val d = 8 // streaminfo data offset
    val sr = (u8(b, d + 10) << 12) | (u8(b, d + 11) << 4) |
      (u8(b, d + 12) >> 4)
    val ch = ((u8(b, d + 12) >> 1) & 0x7) + 1
    val bits = (((u8(b, d + 12) & 1) << 4) | (u8(b, d + 13) >> 4)) + 1
    val total = ((u8(b, d + 13) & 0xf).toLong << 32) |
      (u8(b, d + 14).toLong << 24) | (u8(b, d + 15).toLong << 16) |
      (u8(b, d + 16).toLong << 8) | u8(b, d + 17).toLong
    if (sr < 1) None // sample_rate 0 is invalid by spec
    else Some((ch, sr, bits, total))
  }

  /** `(format, channels, sample_rate, bits_per_sample, n_frames)`, or
    * None if the bytes are not a recognizable WAV/FLAC header. */
  def decode(bytes: Array[Byte]): Option[(String, Int, Int, Int, Long)] =
    if (bytes == null) None
    else wavMeta(bytes).map(m => ("wav", m._1, m._2, m._3, m._4))
      .orElse(flacMeta(bytes).map(m => ("flac", m._1, m._2, m._3, m._4)))

  private val fmtUtf8 = Map(
    "wav" -> UTF8String.fromString("wav"),
    "flac" -> UTF8String.fromString("flac"))

  /** Codegen entry point: null when unrecognized. */
  def decodeRow(bytes: Array[Byte]): InternalRow = decode(bytes) match {
    case Some((f, ch, sr, bits, frames)) =>
      new GenericInternalRow(Array[Any](fmtUtf8(f), ch, sr, bits, frames))
    case None => null
  }
}

/** `graft_audio_meta(content BINARY) -> STRUCT<format, channels,
  * sample_rate, bits_per_sample, n_frames>`, null for unrecognized
  * bytes — [[AudioHeaders.decode]] inlined into whole-stage codegen
  * (one static call per row; the parse reads a bounded prefix plus
  * chunk-header hops, so cost is independent of payload size).
  */
case class AudioMeta(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_audio_meta expects BINARY, got ${other.sql}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("bits_per_sample", IntegerType, nullable = false),
    StructField("n_frames", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "graft_audio_meta"

  override protected def nullSafeEval(input: Any): Any =
    AudioHeaders.decodeRow(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.multimodal.AudioHeaders.decodeRow($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): AudioMeta =
    copy(child = newChild)
}

object AudioMeta {
  def col(c: Column): Column =
    GraftColumnShim.column(AudioMeta(GraftColumnShim.expression(c)))
}
