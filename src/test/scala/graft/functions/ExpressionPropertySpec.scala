package graft.functions

import scala.util.Random

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Property checks for the native expressions against independent
  * reference implementations, over deterministic pseudo-random inputs
  * (fixed seed — no Spark session needed, pure JVM).
  */
class ExpressionPropertySpec extends AnyFunSuite {

  private val rnd = new Random(42)
  private def randomText(): String = {
    val words = (0 until rnd.nextInt(40)).map(_ =>
      (0 until (1 + rnd.nextInt(8))).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
    // odd spacing: single, double, leading/trailing spaces
    val sep = Seq(" ", "  ", "   ")
    val body = words.mkString(sep(rnd.nextInt(3)))
    (if (rnd.nextBoolean()) " " else "") + body + (if (rnd.nextBoolean()) " " else "")
  }

  private def tokens(s: String): Seq[String] =
    s.split(" +").filter(_.nonEmpty).toSeq

  test("WordShingles matches a split-based reference on 300 random texts") {
    for (_ <- 1 to 300) {
      val t = randomText()
      val n = 1 + rnd.nextInt(4)
      val toks = tokens(t)
      val expected =
        if (toks.isEmpty) Seq("")
        else if (toks.length < n) Seq(toks.mkString(" "))
        else toks.sliding(n).map(_.mkString(" ")).toSeq
      val actual = WordShingles.compute(UTF8String.fromString(t), n)
        .toObjectArray(org.apache.spark.sql.types.StringType)
        .map(_.asInstanceOf[UTF8String].toString).toSeq
      assert(actual === expected, s"text=${t.replace(" ", "_")} n=$n")
    }
  }

  test("MinHashSig matches the (h1 + j*h2) mod p brute force") {
    val P = MinHashSig.P
    for (_ <- 1 to 100) {
      val shingles = (0 until (1 + rnd.nextInt(50))).map(_ => randomText().trim)
      val k = 1 + rnd.nextInt(64)
      val arr = new GenericArrayData(shingles.map(UTF8String.fromString).toArray[Any])
      val actual = MinHashSig.compute(arr, k)
        .toLongArray().toSeq
      val expected = (0 until k).map { j =>
        val vals = shingles.map { s =>
          val u = UTF8String.fromString(s)
          val h1 = Math.floorMod(org.apache.spark.sql.catalyst.expressions.XXH64
            .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L), P)
          val h2 = Math.floorMod(org.apache.spark.sql.catalyst.expressions.XXH64
            .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 1L), P)
          (h1 + j.toLong * h2) % P
        }
        if (vals.isEmpty) P else vals.min
      }
      assert(actual === expected)
    }
  }

  test("CosineSim matches an index-order fold exactly") {
    for (_ <- 1 to 200) {
      val dim = 1 + rnd.nextInt(128)
      val a = Array.fill(dim)(rnd.nextFloat() * 2 - 1)
      val b = Array.fill(dim)(rnd.nextFloat() * 2 - 1)
      val actual = CosineSim.compute(
        new GenericArrayData(a.map(x => x: Any)), false,
        new GenericArrayData(b.map(x => x: Any)), false)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- 0 until dim) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      val expected = dot / (math.sqrt(na) * math.sqrt(nb))
      assert(actual === expected) // bit-for-bit: same accumulation order
    }
  }

  test("GramStats equals aggregating the WordShingles stream on 300 random texts") {
    for (_ <- 1 to 300) {
      val text = randomText()
      for (n <- Seq(1, 2, 3)) {
        val grams = WordShingles.compute(UTF8String.fromString(text), n)
          .toArray[UTF8String](org.apache.spark.sql.types.StringType)
          .map(_.toString).toSeq
        val freq = grams.groupBy(identity).map(_._2.size)
        val row = GramStats.compute(UTF8String.fromString(text), n)
        assert(row.getLong(0) === grams.size.toLong, s"n=$n total for '$text'")
        assert(row.getLong(1) === freq.size.toLong, s"n=$n distinct for '$text'")
        assert(row.getLong(2) === freq.max.toLong, s"n=$n max for '$text'")
      }
    }
  }

  test("CosineSim rejects mismatched embedding dimensions") {
    val a = new GenericArrayData(Array.fill(64)(rnd.nextDouble()).map(x => x: Any))
    val b = new GenericArrayData(Array.fill(32)(rnd.nextDouble()).map(x => x: Any))
    intercept[IllegalArgumentException](CosineSim.compute(a, true, b, true))
  }

  test("SimHashSig bit votes match a per-bit reference") {
    for (_ <- 1 to 100) {
      val toks = (0 until (1 + rnd.nextInt(30))).map(_ => randomText().trim)
      val arr = new GenericArrayData(toks.map(UTF8String.fromString).toArray[Any])
      val actual = SimHashSig.compute(arr)
      val votes = new Array[Int](64)
      toks.foreach { t =>
        val u = UTF8String.fromString(t)
        val h = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
        for (b <- 0 until 64)
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
      }
      val expected = (0 until 64).foldLeft(0L)((acc, b) =>
        if (votes(b) > 0) acc | (1L << b) else acc)
      assert(actual === expected)
    }
  }

  test("PortableMinHashSig matches the hex-substring md5 reference") {
    val P = 2147483647L
    for (_ <- 1 to 200) {
      val k = 1 + rnd.nextInt(64)
      val shingles = (0 until (1 + rnd.nextInt(30))).map(_ => randomText())
      val actual = PortableMinHashSig.compute(
        new GenericArrayData(shingles.map(UTF8String.fromString(_): Any).toArray), k)
      // reference path: full hex string + parseLong, the exact shape of
      // the SQL conv(substring(md5(x), 1|16, 15), 16, 10) % p oracle
      val md = java.security.MessageDigest.getInstance("MD5")
      val expected = Array.fill(k)(P)
      for (s <- shingles) {
        val hex = md.digest(s.getBytes("UTF-8"))
          .map(b => f"${b & 0xFF}%02x").mkString
        val h1 = java.lang.Long.parseLong(hex.substring(0, 15), 16) % P
        val h2 = java.lang.Long.parseLong(hex.substring(15, 30), 16) % P
        for (j <- 0 until k) {
          val v = (h1 + j * h2) % P
          if (v < expected(j)) expected(j) = v
        }
      }
      assert(actual.toLongArray().toSeq === expected.toSeq)
    }
  }

  test("PortableBandHashes matches a string-built md5-hex reference") {
    for (_ <- 1 to 200) {
      val bands = 1 + rnd.nextInt(8)
      val r = 1 + rnd.nextInt(8)
      val sig = Array.fill(bands * r)(rnd.nextLong().abs % 2147483647L)
      val actual = PortableBandHashes.compute(
        new GenericArrayData(sig.map(x => x: Any)), bands)
      val md = java.security.MessageDigest.getInstance("MD5")
      val expected = (0 until bands).map { b =>
        val joined = sig.slice(b * r, (b + 1) * r).mkString(",")
        md.digest(joined.getBytes("UTF-8"))
          .map(x => f"${x & 0xFF}%02x").mkString
      }
      assert((0 until bands).map(actual.getUTF8String(_).toString) === expected)
    }
  }

  test("LshBucket sign bits match a recomputed-plane reference") {
    for (_ <- 1 to 100) {
      val dim = 1 + rnd.nextInt(64)
      val bits = 1 + rnd.nextInt(16)
      val v = Array.fill(dim)(rnd.nextFloat() * 2 - 1)
      val actual = LshBucket.compute(
        new GenericArrayData(v.map(x => x: Any)), false, bits, 0)
      val expected = (0 until bits).foldLeft(0L) { (acc, p) =>
        var dot = 0.0
        for (d <- 0 until dim) {
          val s = UTF8String.fromString(s"${p}_${d}")
          val h = org.apache.spark.sql.catalyst.expressions.XXH64
            .hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
          val w = Math.floorMod(h, 2000L).toDouble / 1000.0 - 1.0
          dot += v(d).toDouble * w
        }
        if (dot >= 0) acc | (1L << p) else acc
      }
      assert(actual === expected)
    }
  }

  test("BandHashes matches Spark's own xxhash64 over sliced signature arrays") {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.{ArrayType, LongType}
    for (_ <- 1 to 200) {
      val bands = 1 + rnd.nextInt(16)
      val r = 1 + rnd.nextInt(8)
      val sig = Array.fill(bands * r)(rnd.nextLong())
      val actual = BandHashes.compute(
        new GenericArrayData(sig.map(x => x: Any)), bands).toLongArray().toSeq
      val expected = (0 until bands).map { b =>
        XxHash64Function.hash(
          new GenericArrayData(sig.slice(b * r, (b + 1) * r).map(x => x: Any)),
          ArrayType(LongType), 42L)
      }
      assert(actual === expected)
    }
  }

  test("BandHashes rejects signature lengths not divisible into bands") {
    val sig = new GenericArrayData(Array.fill(10)(rnd.nextLong()).map(x => x: Any))
    intercept[IllegalArgumentException](BandHashes.compute(sig, 3))
    intercept[IllegalArgumentException](BandHashes.compute(sig, 16))
    intercept[IllegalArgumentException](BandHashes.compute(sig, 0))
    assert(BandHashes.compute(sig, 5).numElements() === 5)
  }

  test("SigAgreement rejects signatures of different lengths") {
    val a = new GenericArrayData(Array.fill(8)(rnd.nextLong()).map(x => x: Any))
    val b = new GenericArrayData(Array.fill(16)(rnd.nextLong()).map(x => x: Any))
    intercept[IllegalArgumentException](SigAgreement.compute(a, b))
  }

  test("JaccardSim matches the set-based intersect/union reference") {
    for (_ <- 1 to 300) {
      val a = (0 until rnd.nextInt(40)).map(_ => randomText().trim)
      val b = (0 until rnd.nextInt(40)).map(_ => randomText().trim) ++
        (if (rnd.nextBoolean() && a.nonEmpty) a.take(rnd.nextInt(a.length)) else Nil)
      val actual = JaccardSim.compute(
        new GenericArrayData(a.map(UTF8String.fromString).toArray[Any]),
        new GenericArrayData(b.map(UTF8String.fromString).toArray[Any]))
      val (sa, sb) = (a.toSet, b.toSet)
      val union = (sa ++ sb).size
      val expected =
        if (union == 0) 0.0 else (sa & sb).size.toDouble / union
      assert(actual === expected)
    }
  }

  test("SigAgreement is the fraction of equal components") {
    for (_ <- 1 to 300) {
      val n = rnd.nextInt(64)
      val a = Array.fill(n)(rnd.nextInt(8).toLong)
      val b = Array.fill(n)(rnd.nextInt(8).toLong)
      val actual = SigAgreement.compute(
        new GenericArrayData(a.map(x => x: Any)),
        new GenericArrayData(b.map(x => x: Any)))
      val expected =
        if (n == 0) 0.0
        else a.zip(b).count { case (x, y) => x == y }.toDouble / n
      assert(actual === expected)
    }
  }

  test("TrigramLangScore(raw) scores lower(raw) under both case-mapping settings") {
    // The kernel lowers its own input. Reference: Spark's `Lower` over the
    // raw value, then the per-profile overlapping-count argmax over the
    // lowered bytes — what the kernel computed when it was fed lower(raw).
    import org.apache.spark.sql.catalyst.expressions.{Literal, Lower}
    import org.apache.spark.sql.internal.SQLConf
    import org.apache.spark.sql.types.StringType
    // mixed-case ASCII, characters that lowercase to ASCII (U+0130 I with
    // dot above, U+212A Kelvin sign), final sigma, capital sharp s,
    // dotless i, and the lowered forms profiles can match
    val pieces = Seq("a", "b", "i", "k", "s", "A", "B", "I", "K", "S", " ",
      "\u0130", "\u212A", "\u0131", "\u00DF", "\u1E9E", "\u039F\u0394\u039F\u03A3",
      "\u03C3", "\u03C2", "\u00C9", "\u00E9", "\u0307")
    val patterns = Seq("a", "ab", "i", "i\u0307", "k", "s ", " i", "ss",
      "\u00DF", "\u03C2", "\u03BF\u03B4", "\u03BF\u03C2", "\u00E9", "\u0131")
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    def countOverlap(t: Array[Byte], p: Array[Byte]): Int =
      if (p.length > t.length) 0
      else (0 to t.length - p.length).count(i => p.indices.forall(j => t(i + j) == p(j)))
    def reference(lowered: Array[Byte], profiles: Seq[(String, String, Double)]) =
      profiles.map(_._1).distinct.sorted.map { l =>
        val s = profiles.filter(_._1 == l)
          .map { case (_, p, w) => countOverlap(lowered, p.getBytes(utf8)) * w }
          .foldLeft(0.0)(_ + _)
        (s, l)
      }.maxBy { case (s, l) => (s, l) } // ties: largest language
    val texts: Seq[Array[Byte]] = Seq(null, Array.emptyByteArray) ++
      (1 to 300).map { k =>
        val t = (0 until rnd.nextInt(30)).map(_ => pieces(rnd.nextInt(pieces.length)))
          .mkString.getBytes(utf8)
        if (k % 5 != 0 || t.isEmpty) t
        else t.patch(rnd.nextInt(t.length), // invalid UTF-8: lone bytes
          Seq(Seq(0xFF), Seq(0x80), Seq(0xC3), Seq(0xE2, 0x82))(rnd.nextInt(4))
            .map(_.toByte), 0)
      }
    for (bytes <- texts; icu <- Seq(true, false)) {
      val profiles = Seq("aa", "bb", "cc").flatMap { l =>
        (0 until (1 + rnd.nextInt(4))).map(_ =>
          (l, patterns(rnd.nextInt(patterns.length)), rnd.nextDouble() * 2))
      }
      val conf = new SQLConf
      conf.setConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED, icu)
      SQLConf.withExistingConf(conf) {
        val raw = Literal.create(
          if (bytes == null) null else UTF8String.fromBytes(bytes), StringType)
        val row = TrigramLangScore(raw, profiles).eval(null)
          .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
        val lowered = Lower(raw).eval(null).asInstanceOf[UTF8String]
        val what = s"icu=$icu text=${Option(bytes).map(_.map(b => f"$b%02x").mkString(" "))}" +
          s" profiles=$profiles"
        if (bytes == null) assert(row == null && lowered == null, what)
        else {
          val (score, lang) = reference(lowered.getBytes, profiles)
          assert(row.getDouble(0) === score, what)
          assert(row.getUTF8String(1).toString === lang, what)
        }
      }
    }
  }

  test("RollingFingerprint equals brute-force window minimum on random bytes") {
    for (_ <- 1 to 200) {
      val t = randomText()
      val w = 1 + rnd.nextInt(12)
      val bytes = t.getBytes("UTF-8")
      val expected = if (bytes.isEmpty) 0L else {
        val win = math.min(w, bytes.length)
        (0 to bytes.length - win).map { i =>
          bytes.slice(i, i + win).foldLeft(0L)((h, b) => h * 1000003L + (b & 0xffL))
        }.min
      }
      assert(RollingFingerprint.compute(UTF8String.fromString(t), w) === expected)
    }
  }

  test("BloomContainsLong equality is content-based (expression dedup works)") {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.LongType
    import org.apache.spark.util.sketch.BloomFilter
    def freshBytes(): Array[Byte] = {
      val bf = BloomFilter.create(1000L, 0.01)
      (1L to 100L).foreach(bf.putLong)
      BloomContains.serialize(bf)
    }
    val child = BoundReference(0, LongType, nullable = false)
    val a = BloomContainsLong(child, freshBytes())
    val b = BloomContainsLong(child, freshBytes()) // distinct array, same content
    assert(a == b, "identical serialized filters must compare equal")
    assert(a.hashCode() === b.hashCode())
    assert(a.semanticEquals(b), "semanticEquals must see the predicates as one")
    val other = BloomFilter.create(1000L, 0.01)
    other.putLong(424242L)
    val c = BloomContainsLong(child, BloomContains.serialize(other))
    assert(a != c, "different filters must not compare equal")
  }
}
