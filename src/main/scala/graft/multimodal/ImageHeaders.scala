package graft.multimodal

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** REAL image container-header parsing in pure JVM — no codec library:
  * `(format, width, height)` from the first bytes of a PNG (IHDR chunk),
  * JPEG (marker walk to an SOF frame header), or GIF (logical screen
  * descriptor). This replaces the declared "deterministic fake" for the
  * dimension-extraction step of the multimodal family — dimensions live
  * in the container header by spec, so extracting them needs byte
  * slicing only, not a pixel decoder (that is
  * [[Multimodal.decodeImages]]).
  *
  * Format references (public specs):
  *  - PNG (RFC 2083 / W3C): 8-byte signature `89 50 4E 47 0D 0A 1A 0A`,
  *    then chunks; IHDR must be first — length(4,BE) type("IHDR")
  *    width(4,BE) height(4,BE) ...
  *  - JPEG (ITU T.81 / JFIF): `FF D8` (SOI), then marker segments
  *    `FF mm len(2,BE) payload`; the frame header (SOFn, `C0..CF` minus
  *    `C4` DHT / `C8` JPG / `CC` DAC) carries precision(1) height(2,BE)
  *    width(2,BE). Standalone markers (`D0..D9`, `01`) have no length.
  *  - GIF (GIF87a/89a spec): 6-byte signature, then the logical screen
  *    descriptor — width(2,LE) height(2,LE).
  *
  * Unrecognized / truncated / corrupt input decodes to null (never
  * throws): at corpus scale a crawl's media column always contains
  * garbage, and a scan-side expression must not kill the job on it.
  */
object ImageHeaders {

  private def u8(a: Array[Byte], i: Int): Int = a(i) & 0xff

  private def be16(a: Array[Byte], i: Int): Int =
    (u8(a, i) << 8) | u8(a, i + 1)

  private def le16(a: Array[Byte], i: Int): Int =
    u8(a, i) | (u8(a, i + 1) << 8)

  private def be32(a: Array[Byte], i: Int): Long =
    (u8(a, i).toLong << 24) | (u8(a, i + 1) << 16) |
      (u8(a, i + 2) << 8) | u8(a, i + 3)

  private val PngSig =
    Array[Int](0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)

  private def pngDims(b: Array[Byte]): Option[(Int, Int)] = {
    if (b.length < 24) return None
    var i = 0
    while (i < 8) { if (u8(b, i) != PngSig(i)) return None; i += 1 }
    // IHDR must be the first chunk: 4-byte length (always 13), "IHDR"
    if (be32(b, 8) != 13L) return None
    if (u8(b, 12) != 'I' || u8(b, 13) != 'H' ||
        u8(b, 14) != 'D' || u8(b, 15) != 'R') return None
    val w = be32(b, 16)
    val h = be32(b, 20)
    // spec: 1 .. 2^31-1
    if (w < 1 || h < 1 || w > Int.MaxValue || h > Int.MaxValue) None
    else Some((w.toInt, h.toInt))
  }

  private def gifDims(b: Array[Byte]): Option[(Int, Int)] = {
    if (b.length < 10) return None
    if (u8(b, 0) != 'G' || u8(b, 1) != 'I' || u8(b, 2) != 'F' ||
        u8(b, 3) != '8' || (u8(b, 4) != '7' && u8(b, 4) != '9') ||
        u8(b, 5) != 'a') return None
    val w = le16(b, 6)
    val h = le16(b, 8)
    if (w < 1 || h < 1) None else Some((w, h))
  }

  /** SOFn frame markers carry the dimensions; C4/C8/CC are in the C0-CF
    * block but are NOT frame headers. */
  private def isSof(m: Int): Boolean =
    m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc

  private def jpegDims(b: Array[Byte]): Option[(Int, Int)] = {
    val n = b.length
    if (n < 4 || u8(b, 0) != 0xff || u8(b, 1) != 0xd8) return None
    var i = 2
    while (i + 1 < n) {
      if (u8(b, i) != 0xff) return None // marker misalignment: corrupt
      // fill bytes: any number of FFs may pad before the marker id
      var j = i + 1
      while (j < n && u8(b, j) == 0xff) j += 1
      if (j >= n) return None
      val m = u8(b, j)
      if (isSof(m)) {
        // len(2) precision(1) height(2) width(2) — last byte read is
        // j + 7, so exactly n == j + 8 bytes suffice
        if (j + 8 > n) return None
        val h = be16(b, j + 4)
        val w = be16(b, j + 6)
        return if (w < 1 || h < 1) None else Some((w, h))
      }
      if (m == 0xd9 || m == 0xda) return None // EOI / SOS before any SOF
      if ((m >= 0xd0 && m <= 0xd7) || m == 0x01) {
        i = j + 1 // standalone marker, no length field
      } else {
        if (j + 2 >= n) return None
        val len = be16(b, j + 1)
        if (len < 2) return None
        i = j + 1 + len
      }
    }
    None
  }

  private def le24(a: Array[Byte], i: Int): Int =
    u8(a, i) | (u8(a, i + 1) << 8) | (u8(a, i + 2) << 16)

  /** WebP (RIFF container, Google's public spec): `RIFF size WEBP`,
    * then the first chunk decides the variant — `VP8X` (extended:
    * 24-bit LE canvas dims minus one at payload 4/7), `VP8 ` (lossy:
    * keyframe start code 9D 01 2A, then 14-bit LE dims), `VP8L`
    * (lossless: 0x2F signature, then 14+14 bits LSB-first). */
  private def webpDims(b: Array[Byte]): Option[(Int, Int)] = {
    if (b.length < 20) return None
    if (u8(b, 0) != 'R' || u8(b, 1) != 'I' || u8(b, 2) != 'F' ||
        u8(b, 3) != 'F') return None
    if (u8(b, 8) != 'W' || u8(b, 9) != 'E' || u8(b, 10) != 'B' ||
        u8(b, 11) != 'P') return None
    val p = 20 // first chunk's payload
    val tag = new String(b, 12, 4, "US-ASCII")
    tag match {
      case "VP8X" =>
        if (b.length < p + 10) return None
        Some((le24(b, p + 4) + 1, le24(b, p + 7) + 1))
      case "VP8 " =>
        // 3-byte frame tag (keyframe has bit0 == 0), start code, dims
        if (b.length < p + 10) return None
        if ((u8(b, p) & 1) != 0) return None // interframe can't lead
        if (u8(b, p + 3) != 0x9d || u8(b, p + 4) != 0x01 ||
            u8(b, p + 5) != 0x2a) return None
        val w = le16(b, p + 6) & 0x3fff
        val h = le16(b, p + 8) & 0x3fff
        if (w < 1 || h < 1) None else Some((w, h))
      case "VP8L" =>
        if (b.length < p + 5) return None
        if (u8(b, p) != 0x2f) return None
        val w = 1 + (u8(b, p + 1) | ((u8(b, p + 2) & 0x3f) << 8))
        val h = 1 + (((u8(b, p + 2) >> 6) & 0x3) | (u8(b, p + 3) << 2) |
          ((u8(b, p + 4) & 0xf) << 10))
        Some((w, h))
      case _ => None
    }
  }

  /** `(format, width, height)`, or None if the bytes are not a
    * recognizable PNG/JPEG/GIF/WebP header. */
  def decode(bytes: Array[Byte]): Option[(String, Int, Int)] =
    if (bytes == null) None
    else pngDims(bytes).map(d => ("png", d._1, d._2))
      .orElse(jpegDims(bytes).map(d => ("jpeg", d._1, d._2)))
      .orElse(gifDims(bytes).map(d => ("gif", d._1, d._2)))
      .orElse(webpDims(bytes).map(d => ("webp", d._1, d._2)))

  private val fmtUtf8 = Map(
    "png" -> UTF8String.fromString("png"),
    "jpeg" -> UTF8String.fromString("jpeg"),
    "gif" -> UTF8String.fromString("gif"),
    "webp" -> UTF8String.fromString("webp"))

  /** Codegen entry point: null when unrecognized. */
  def decodeRow(bytes: Array[Byte]): InternalRow = decode(bytes) match {
    case Some((f, w, h)) => new GenericInternalRow(Array[Any](fmtUtf8(f), w, h))
    case None => null
  }
}

/** `graft_image_dims(content BINARY) -> STRUCT<format, width, height>`,
  * null for unrecognized bytes — [[ImageHeaders.decode]] inlined into
  * whole-stage codegen (one static call per row; the header parse reads
  * a bounded prefix, so cost is independent of payload size).
  */
case class ImageDims(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_image_dims expects BINARY, got ${other.sql}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "graft_image_dims"

  override protected def nullSafeEval(input: Any): Any =
    ImageHeaders.decodeRow(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.multimodal.ImageHeaders.decodeRow($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): ImageDims =
    copy(child = newChild)
}

object ImageDims {
  def col(c: Column): Column =
    GraftColumnShim.column(ImageDims(GraftColumnShim.expression(c)))
}
