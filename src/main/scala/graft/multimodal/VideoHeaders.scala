package graft.multimodal

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** REAL video container-header parsing in pure JVM — no codec library:
  * `(format, timescale, duration, width, height, n_tracks)` from the box
  * structure of an ISO base-media file (MP4/MOV). Completes the
  * image/audio/video header triad ([[ImageHeaders]], [[AudioHeaders]]):
  * presentation parameters live in `moov` metadata by spec, so
  * extracting them is a box walk, not a frame decode (that is
  * [[Multimodal.videoFrames]], for MJPEG).
  *
  * Format reference (public spec ISO/IEC 14496-12):
  *  - a file is a sequence of boxes `size(4,BE) type(4) payload`;
  *    `size == 1` means a 64-bit largesize follows, `size == 0` means
  *    the box runs to EOF;
  *  - `moov` (a pure container) holds `mvhd` — version(1) flags(3),
  *    then v0: creation(4) modification(4) timescale(4) duration(4) /
  *    v1: creation(8) modification(8) timescale(4) duration(8);
  *  - each `trak` holds `tkhd` — after version/flags and times, the box
  *    ends with width(4) and height(4) as 16.16 fixed-point; audio
  *    tracks carry 0x0 there, so the presentation size is the max over
  *    tracks.
  *
  * The walk HOPS payload boxes (`mdat` etc.) by their declared size, so
  * cost is O(box count), independent of payload bytes — and `moov` is
  * found wherever the muxer put it (faststart or trailing). Garbage,
  * truncation, and size lies decode to null, never throw.
  */
object VideoHeaders {

  private def u8(a: Array[Byte], i: Int): Int = a(i) & 0xff

  private def be32(a: Array[Byte], i: Int): Long =
    (u8(a, i).toLong << 24) | (u8(a, i + 1) << 16) |
      (u8(a, i + 2) << 8) | u8(a, i + 3)

  private def be64(a: Array[Byte], i: Int): Long =
    (be32(a, i) << 32) | be32(a, i + 4)

  private def typ(a: Array[Byte], i: Int): String =
    new String(a, i, 4, "US-ASCII")

  /** Walk sibling boxes in [from, to); invoke f(boxType, payloadStart,
    * payloadEnd). Returns false on structural corruption. */
  private def walk(b: Array[Byte], from: Int, to: Int)(
      f: (String, Int, Int) => Boolean): Boolean = {
    var i = from
    while (i + 8 <= to) {
      val size32 = be32(b, i)
      var payload = i + 8
      val end: Long = size32 match {
        case 0L => to.toLong // runs to end of enclosing space
        case 1L =>
          if (i + 16 > to) return false
          payload = i + 16
          i + be64(b, i + 8)
        case s => i + s
      }
      if (end < payload || end > to) return false
      if (!f(typ(b, i + 4), payload, end.toInt)) return false
      i = end.toInt
    }
    true
  }

  private final class Acc {
    var timescale = -1L
    var duration = -1L
    var width = 0
    var height = 0
    var nTracks = 0
    var sawMoov = false
  }

  private def parseMvhd(b: Array[Byte], from: Int, to: Int, acc: Acc): Boolean = {
    if (from + 4 > to) return false
    val v = u8(b, from)
    if (v == 0) {
      if (from + 20 > to) return false
      acc.timescale = be32(b, from + 12)
      acc.duration = be32(b, from + 16)
    } else if (v == 1) {
      if (from + 32 > to) return false
      acc.timescale = be32(b, from + 20)
      acc.duration = be64(b, from + 24)
    } else return false
    acc.timescale >= 1
  }

  private def parseTkhd(b: Array[Byte], from: Int, to: Int, acc: Acc): Boolean = {
    val v = if (from < to) u8(b, from) else return false
    // v0 tkhd payload is 84 bytes, v1 is 96; width/height are the LAST
    // 8 bytes either way (16.16 fixed point)
    val need = if (v == 0) 84 else if (v == 1) 96 else return false
    if (from + need > to) return false
    val w = (be32(b, from + need - 8) >> 16).toInt
    val h = (be32(b, from + need - 4) >> 16).toInt
    acc.nTracks += 1
    // audio/hint tracks carry 0x0; presentation size = max over tracks
    if (w > acc.width) acc.width = w
    if (h > acc.height) acc.height = h
    true
  }

  /** `(format, timescale, duration, width, height, n_tracks)`, or None
    * if the bytes are not a recognizable ISO-BMFF stream with a moov. */
  def decode(bytes: Array[Byte]): Option[(String, Long, Long, Int, Int, Int)] = {
    if (bytes == null || bytes.length < 16) return None
    // anchor on a leading ftyp (every conformant file starts with one;
    // anything else — text, other containers — bails immediately)
    if (typ(bytes, 4) != "ftyp") return None
    val acc = new Acc
    val ok = walk(bytes, 0, bytes.length) { (t, s, e) =>
      if (t == "moov") {
        acc.sawMoov = true
        walk(bytes, s, e) { (t2, s2, e2) =>
          if (t2 == "mvhd") parseMvhd(bytes, s2, e2, acc)
          else if (t2 == "trak")
            walk(bytes, s2, e2) { (t3, s3, e3) =>
              if (t3 == "tkhd") parseTkhd(bytes, s3, e3, acc) else true
            }
          else true
        }
      } else true // hop ftyp/mdat/free/... by declared size
    }
    if (!ok || !acc.sawMoov || acc.timescale < 1 || acc.duration < 0) None
    else Some(("mp4", acc.timescale, acc.duration, acc.width, acc.height,
      acc.nTracks))
  }

  private val mp4Utf8 = UTF8String.fromString("mp4")

  /** Codegen entry point: null when unrecognized. */
  def decodeRow(bytes: Array[Byte]): InternalRow = decode(bytes) match {
    case Some((_, ts, dur, w, h, n)) =>
      new GenericInternalRow(Array[Any](mp4Utf8, ts, dur, w, h, n))
    case None => null
  }
}

/** `graft_video_meta(content BINARY) -> STRUCT<format, timescale,
  * duration, width, height, n_tracks>`, null for unrecognized bytes —
  * [[VideoHeaders.decode]] inlined into whole-stage codegen (the box
  * walk hops payloads by declared size, so cost is O(box count),
  * independent of payload bytes).
  */
case class VideoMeta(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_video_meta expects BINARY, got ${other.sql}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("timescale", LongType, nullable = false),
    StructField("duration", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_tracks", IntegerType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "graft_video_meta"

  override protected def nullSafeEval(input: Any): Any =
    VideoHeaders.decodeRow(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.multimodal.VideoHeaders.decodeRow($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): VideoMeta =
    copy(child = newChild)
}

object VideoMeta {
  def col(c: Column): Column =
    GraftColumnShim.column(VideoMeta(GraftColumnShim.expression(c)))
}
