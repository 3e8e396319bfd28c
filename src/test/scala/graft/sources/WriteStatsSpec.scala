package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.util.sketch.BloomFilter

import graft.SparkSuite

/** The manifest statistics IcebergLite's write tasks collect while they
  * write (row counts, sizes, partition values, column bounds, Bloom
  * bits): edge-case bounds pinned byte for byte, and every entry of
  * transform-partitioned tables checked against Spark's own aggregates
  * over the file it names. */
class WriteStatsSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_wstats").toString + "/t"

  /** The records of one avro file under the table's metadata dir (the
    * tables here have one snapshot: manifest-00001 / bloom-00001). */
  private def avro(dir: String, name: String): Seq[GenericRecord] = {
    val r = new DataFileReader[GenericRecord](
      new java.io.File(s"$dir/metadata/$name"),
      new GenericDatumReader[GenericRecord]())
    try r.iterator().asScala.toVector finally r.close()
  }

  private def dataFiles(dir: String): Seq[GenericRecord] =
    avro(dir, "manifest-00001.avro")
      .map(_.get("data_file").asInstanceOf[GenericRecord])

  private def lengthOf(path: String): Long = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p).getLen
  }

  private def bytes(b: Any): Seq[Byte] = {
    val d = b.asInstanceOf[java.nio.ByteBuffer].duplicate()
    val a = new Array[Byte](d.remaining()); d.get(a)
    a.toSeq
  }

  private def bounds(d: GenericRecord, field: String): Map[Int, Seq[Byte]] =
    d.get(field).asInstanceOf[java.util.List[GenericRecord]].asScala
      .map(r => r.get("key").asInstanceOf[Int] -> bytes(r.get("value")))
      .toMap

  private def le(v: Long, w: Int): Seq[Byte] =
    (0 until w).map(i => ((v >> (8 * i)) & 0xff).toByte)
  private def utf8(s: String): Seq[Byte] = s.getBytes("UTF-8").toSeq

  test("edge-case bounds: code-point truncation, U+10FFFF, NaN / -0.0, all-null") {
    val max = new String(Character.toChars(0x10FFFF))
    val smile = new String(Character.toChars(0x1F600))
    val next = new String(Character.toChars(0x1F601))
    // one file, rows in this order (Spark keeps the FIRST of equal
    // values: -0.0 and 0.0 compare equal; NaN sorts above every number)
    val rows = Seq(
      (max * 17, smile * 20, Double.NaN, -0.0f, null.asInstanceOf[String]),
      (max * 16 + "a", "a" * 15 + smile * 3, -0.0, Float.NaN, null),
      ("", "bbb", 0.0, 1.0f, null),
      ("short", "bbb", 1.5, -1.0f, null))
    val dir = tmp()
    IcebergLite.createTable(spark,
      rows.toDF("s", "s2", "d", "f", "nul").coalesce(1), dir)
    val Seq(d) = dataFiles(dir)
    assert(d.get("record_count") === 4L)
    assert(d.get("file_size_in_bytes") === lengthOf(d.get("file_path").toString))
    val lo = bounds(d, "lower_bounds")
    val hi = bounds(d, "upper_bounds")
    // s: lower "" (empty bytes); the max's 16-point prefix is all
    // U+10FFFF, which has no increment: NO upper bound
    assert(lo(1) === Seq.empty[Byte])
    assert(!hi.contains(1))
    // s2: a supplementary character is ONE code point
    assert(lo(2) === utf8("a" * 15 + smile))
    assert(hi(2) === utf8(smile * 15 + next))
    // d: min -0.0 (the first of the equal -0.0 / 0.0), max NaN
    assert(lo(3) === le(java.lang.Double.doubleToLongBits(-0.0), 8))
    assert(hi(3) === le(java.lang.Double.doubleToLongBits(Double.NaN), 8))
    assert(lo(4) === le(java.lang.Float.floatToIntBits(-1.0f) & 0xffffffffL, 4))
    assert(hi(4) === le(java.lang.Float.floatToIntBits(Float.NaN) & 0xffffffffL, 4))
    // the all-null column records no bound at all
    assert(!lo.contains(5) && !hi.contains(5))

    // 0.0 first: it is both the min and the max the later -0.0 ties with
    val dir2 = tmp()
    IcebergLite.createTable(spark,
      Seq((0.0, 1L), (-0.0, 2L)).toDF("d", "id").coalesce(1), dir2)
    val Seq(d2) = dataFiles(dir2)
    assert(bounds(d2, "lower_bounds")(1) === le(0L, 8))
    assert(bounds(d2, "upper_bounds")(1) === le(0L, 8))
  }

  test("every entry of a transform-partitioned table matches Spark over its file") {
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 10:15:00").getTime
    // ~40 files per table: each file is checked with its own Spark jobs
    val rows = (0 until 300).map { i =>
      (i.toLong, if (i % 11 == 0) null else s"k${i % 5}-${"x" * (i % 20)}",
        new java.sql.Timestamp(t0 + (i % 10) * 10800000L + i * 1000L),
        if (i % 7 == 0) null else s"g${i % 3}")
    }
    val src = rows.toDF("id", "s", "ts", "grp")
    Seq(Seq("bucket[4]:id", "truncate[3]:s"), Seq("day:ts", "hour:ts"),
        Seq("grp")).foreach { spec =>
      val dir = tmp()
      IcebergLite.createTable(spark, src.repartition(3), dir,
        partitionBy = spec, bloomFor = Seq("id", "s"))
      val files = dataFiles(dir)
      val blooms = avro(dir, "bloom-00001.avro").map(r =>
        (r.get("file_path").toString, r.get("field_id").asInstanceOf[Int]) ->
          bytes(r.get("bits"))).toMap
      assert(files.map(_.get("record_count").asInstanceOf[Long]).sum === 300L)
      files.foreach { d =>
        val path = d.get("file_path").toString
        val part = d.get("partition").asInstanceOf[GenericRecord]
        // an identity column lives in the directory, not the file
        val f = spark.read.parquet(path)
        val back =
          if (spec == Seq("grp"))
            f.withColumn("grp", lit(Option(part.get("grp")).map(_.toString)
              .orNull).cast(StringType))
          else f
        assert(back.count() === d.get("record_count"), path)
        assert(d.get("file_size_in_bytes") === lengthOf(path), path)
        // partition values: the Column face of each transform over the
        // file's rows gives exactly one value — the manifest's
        spec.map(IcebergTransforms.parse).filter(_.transform != "identity")
          .foreach { pf =>
            val vs = back.select(IcebergTransforms.column(spark, pf.transform,
              col(pf.sourceCol), back.schema(pf.sourceCol).dataType))
              .distinct().collect().map(_.get(0))
            val recorded = Option(part.get(pf.name)).map {
              case u: org.apache.avro.util.Utf8 => u.toString
              case other => other
            }.orNull
            assert(vs.toSeq === Seq(recorded), s"$path ${pf.name}")
          }
        // bounds: Spark's min/max over the file (strings compare on
        // their 17-code-point prefixes)
        val Seq(agg) = back.agg(min("id"), max("id"),
          min(substring(col("s"), 1, 17)), max(substring(col("s"), 1, 17)),
          min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
          .collect().toSeq
        val lo = bounds(d, "lower_bounds")
        val hi = bounds(d, "upper_bounds")
        assert(lo(1) === le(agg.getLong(0), 8) && hi(1) === le(agg.getLong(1), 8))
        if (agg.isNullAt(2)) assert(!lo.contains(2) && !hi.contains(2))
        else {
          // ASCII values: the 16-prefix, and the 16-prefix with its last
          // character incremented when the max was truncated
          val (l, h) = (agg.getString(2), agg.getString(3))
          assert(lo(2) === utf8(l.take(16)), path)
          assert(hi(2) === utf8(
            if (h.length <= 16) h else h.take(15) + (h.charAt(15) + 1).toChar),
            path)
        }
        assert(lo(3) === le(agg.getLong(4), 8) && hi(3) === le(agg.getLong(5), 8))
        // Bloom bits: the filter of exactly the file's values
        Seq((1, "id"), (2, "s")).foreach { case (fid, c) =>
          val bf = BloomFilter.create(100000L, 0.03)
          back.select(c).collect().foreach { r =>
            if (!r.isNullAt(0)) r.get(0) match {
              case s: String => bf.putString(s)
              case n: java.lang.Long => bf.putLong(n)
            }
          }
          val bo = new java.io.ByteArrayOutputStream()
          bf.writeTo(bo)
          assert(blooms((path, fid)) === bo.toByteArray.toSeq, s"$path $c")
        }
      }
    }
    val e = intercept[IllegalArgumentException](IcebergLite.createTable(spark,
      src.select(col("ts")), tmp(), bloomFor = Seq("ts")))
    assert(e.getMessage.contains("int/long/string only"))
  }

  test("null and empty partition values share the default partition") {
    val dir = tmp()
    val rows = Seq((1L, "a"), (2L, null), (3L, "a"), (4L, ""))
    IcebergLite.createTable(spark, rows.toDF("id", "p"), dir,
      partitionBy = Seq("p"))
    val parts = dataFiles(dir).map(d =>
      Option(d.get("partition").asInstanceOf[GenericRecord].get("p"))
        .map(_.toString) -> d.get("record_count").asInstanceOf[Long]).toMap
    // an empty string lands in NULL's directory and reads back NULL, so
    // the manifest records NULL for it too
    assert(parts === Map(Some("a") -> 2L, None -> 2L))
    val back = IcebergLite.readTable(spark, dir)
    assert(back.filter(col("p").isNull).count() === 2L)
    assert(back.filter(col("p") === "a").select("id").as[Long].collect()
      .toSet === Set(1L, 3L))
  }

  test("the writer closes a partition's file as soon as the partition changes") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val dir = tmp()
    val schema = new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("p", "string")
    val factory = GraftDataWriterFactory.forTable(spark, new Path(dir), schema,
      Seq(IcebergTransforms.parse("p")), Map("id" -> 1, "p" -> 2), Nil)
    val w = factory.createWriter(0, 0L)
    def write(id: Long, p: String): Unit =
      w.write(InternalRow(id, UTF8String.fromString(p)))
    // the finished files of a partition directory (a parquet file ends
    // with its footer's magic only once it is closed)
    def closed(p: String): Int =
      Option(new java.io.File(s"$dir/p=$p").listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet")).count { f =>
          val b = java.nio.file.Files.readAllBytes(f.toPath)
          b.length > 8 && new String(b.takeRight(4), "US-ASCII") == "PAR1"
        }
    write(1L, "a"); write(2L, "a")
    assert(closed("a") === 0)
    write(3L, "b")
    assert(closed("a") === 1 && closed("b") === 0)
    // a partition that comes back after its file closed gets a new file
    write(4L, "a")
    assert(closed("b") === 1 && closed("a") === 1)
    val files = w.commit().asInstanceOf[GraftWriteCommit].files
    w.close()
    assert(closed("a") === 2)
    assert(files.map(f => (f.partition, f.rowCount)) ===
      Seq((Seq("a"), 2L), (Seq("b"), 1L), (Seq("a"), 1L)))
  }
}
