package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WARC/WET web-crawl ingestion — the Common Crawl interchange format,
  * the raw front door of every web-curation pipeline in this repo
  * (`TrainingDataPipeline.curateWeb` and the URL/domain family consume
  * exactly what this source emits).
  *
  * Spark-first shape: records are framed by the text source's `lineSep`
  * option set to the `WARC/1.0` version line — no custom InputFormat,
  * no UDF; header fields and the body split out as codegen'd
  * `regexp_extract`/`substring` expressions in the same scan. Gzipped
  * members read transparently through the codec; a `.wet.gz` member is
  * one task (gzip is unsplittable), and Common-Crawl-style corpora get
  * their parallelism from many members per listing — the standard
  * layout (one segment = tens of thousands of files).
  *
  * Body framing notes: records are delimiter-framed (everything after
  * the first blank line, with exactly one trailing CRLF-CRLF record
  * terminator stripped — body-final newlines survive) rather than
  * sliced to `Content-Length` octets — equivalent for well-formed WET
  * output. The one framing failure delimiter splitting cannot detect
  * on its own is a BODY that itself contains the `WARC/1.0` version
  * line at a line start (a page quoting a WARC file): the record
  * splits there and the remainder parses as a phantom record. The
  * `length_ok` audit column (`octet_length(text) = content_length`)
  * catches exactly this — both fragments fail the length check — so
  * corpus builds should quarantine `length_ok = false` records, the
  * `CorpusIO` corrupt-record discipline.
  */
object WarcIO {

  private val CRLF = "\r\n"
  private val RecordDelim = "WARC/1.0" + CRLF

  /** The record parse as pure column expressions over a framed-record
    * frame — ONE definition serving batch and stream (the
    * `webGateExprs`/`curateStreamGates` structural-parity pattern).
    * Output: `warc_type`, `url`, `warc_date`, `content_length`, `text`
    * (NULL when no blank line — the corrupt-record audit, mirroring
    * `CorpusIO.readJsonlDocs`), `source_file`, `length_ok`. */
  private def parseRecords(framed: DataFrame): DataFrame = {
    val bodyStart = locate(CRLF + CRLF, col("rec"))
    framed
      .filter(col("rec") =!= "")
      .select(
        regexp_extract(col("rec"), "WARC-Type: ([^\r\n]+)", 1).as("warc_type"),
        regexp_extract(col("rec"), "WARC-Target-URI: ([^\r\n]+)", 1).as("url"),
        regexp_extract(col("rec"), "WARC-Date: ([^\r\n]+)", 1).as("warc_date"),
        // guarded cast: a delimiter-collision fragment may carry no
        // Content-Length header at all (ANSI mode errors on '')
        when(regexp_extract(col("rec"), "Content-Length: ([0-9]+)", 1) =!= "",
          regexp_extract(col("rec"), "Content-Length: ([0-9]+)", 1)
            .cast("long")).as("content_length"),
        when(bodyStart > 0,
          // strip exactly the record terminator, never body newlines
          regexp_replace(col("rec").substr(bodyStart + 4, length(col("rec"))),
            "\r\n\r\n$", ""))
          .as("text"),
        col("source_file"))
      .withColumn("length_ok",
        coalesce(col("text").isNotNull &&
          octet_length(col("text")) === col("content_length"), lit(false)))
  }

  private def conversionDocs(records: DataFrame): DataFrame =
    records
      .filter(col("warc_type") === "conversion")
      .select(xxhash64(col("url"), col("warc_date")).as("doc_id"),
        col("url"), col("warc_date"), col("content_length"), col("text"),
        col("length_ok"))

  def readWetRecords(spark: SparkSession, path: String): DataFrame =
    parseRecords(spark.read
      .option("lineSep", RecordDelim)
      .text(path)
      .select(col("value").as("rec"), col("_metadata.file_path").as("source_file")))

  /** Conversion records only (the text documents), with a deterministic
    * `doc_id` = xxhash64(url, date) for downstream dedup/curation. */
  def wetCorpus(spark: SparkSession, path: String): DataFrame =
    conversionDocs(readWetRecords(spark, path))

  /** Unbounded twin: new WET members landing under `path` parse through
    * the IDENTICAL expressions (structural batch parity) — compose with
    * `TrainingDataPipeline.curateStreamWeb` for the live crawl front
    * end. File-source semantics: one member = one atomic unit, so a
    * half-written member never half-parses. */
  def streamWetCorpus(spark: SparkSession, path: String): DataFrame =
    conversionDocs(parseRecords(spark.readStream
      .option("lineSep", RecordDelim)
      .text(path)
      .select(col("value").as("rec"), col("_metadata.file_path").as("source_file"))))

  /** FULL-WARC capture parsing: `response` records carry an HTTP
    * message as their body (status line, headers, blank line, payload).
    * This splits it with the same expression discipline — `http_status`
    * (integer), `content_type` (lowercased, parameters stripped), and
    * `payload` (everything past the HTTP blank line) — turning raw
    * Common Crawl WARC (not just WET conversions) into rows
    * `TextAnalysis.htmlStrip` + `curateWeb` can consume directly. Rows
    * whose body is not an HTTP message (no status line) keep NULL
    * status and the body as payload. */
  def warcResponses(spark: SparkSession, path: String): DataFrame = {
    val records = readWetRecords(spark, path)
      .filter(col("warc_type") === "response")
    val httpBlank = locate(CRLF + CRLF, col("text"))
    val status = regexp_extract(col("text"),
      "^HTTP/[0-9.]+ ([0-9]{3})", 1)
    records.select(
      xxhash64(col("url"), col("warc_date")).as("doc_id"),
      col("url"), col("warc_date"),
      when(status =!= "", status.cast("int")).as("http_status"),
      lower(regexp_extract(col("text"),
        "(?i)\r\nContent-Type: ([^;\r\n]+)", 1)).as("content_type"),
      when(status =!= "" && httpBlank > 0,
        col("text").substr(httpBlank + 4, length(col("text"))))
        .otherwise(when(status === "", col("text")))
        .as("payload"),
      col("length_ok"))
  }

  // ---- writer (fixtures + interchange export) ---------------------------

  private def appendRecord(sb: StringBuilder,
                           headers: Seq[(String, String)],
                           body: String): Unit = {
    sb.append("WARC/1.0").append(CRLF)
    headers.foreach { case (k, v) =>
      sb.append(k).append(": ").append(v).append(CRLF)
    }
    sb.append("Content-Length: ")
      .append(body.getBytes("UTF-8").length).append(CRLF)
    sb.append(CRLF).append(body).append(CRLF).append(CRLF)
  }

  /** Serialize records as a WET member. `records` = (url, date, text);
    * a leading warcinfo record is emitted like real crawls carry. */
  def wetBytes(records: Seq[(String, String, String)],
               warcinfo: String = "software: graft-wet-writer/1.0"): Array[Byte] = {
    val sb = new StringBuilder
    appendRecord(sb, Seq("WARC-Type" -> "warcinfo",
      "Content-Type" -> "application/warc-fields"), warcinfo)
    records.foreach { case (url, date, text) =>
      appendRecord(sb, Seq(
        "WARC-Type" -> "conversion",
        "WARC-Target-URI" -> url,
        "WARC-Date" -> date,
        "Content-Type" -> "text/plain"), text)
    }
    sb.toString.getBytes("UTF-8")
  }

  /** Serialize full-WARC `response` captures: `records` =
    * (url, date, httpStatus, contentType, payload) — the body is the
    * HTTP message [[warcResponses]] splits back apart. */
  def warcResponseBytes(
      records: Seq[(String, String, Int, String, String)]): Array[Byte] = {
    val sb = new StringBuilder
    appendRecord(sb, Seq("WARC-Type" -> "warcinfo",
      "Content-Type" -> "application/warc-fields"),
      "software: graft-warc-writer/1.0")
    records.foreach { case (url, date, status, contentType, payload) =>
      val http = s"HTTP/1.1 $status OK" + CRLF +
        s"Content-Type: $contentType; charset=utf-8" + CRLF +
        s"Content-Length: ${payload.getBytes("UTF-8").length}" + CRLF +
        CRLF + payload
      appendRecord(sb, Seq(
        "WARC-Type" -> "response",
        "WARC-Target-URI" -> url,
        "WARC-Date" -> date,
        "Content-Type" -> "application/http; msgtype=response"), http)
    }
    sb.toString.getBytes("UTF-8")
  }

  def writeWarcFile(path: java.nio.file.Path,
                    records: Seq[(String, String, Int, String, String)]): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, warcResponseBytes(records))
  }

  def writeWetFile(path: java.nio.file.Path,
                   records: Seq[(String, String, String)],
                   gzip: Boolean = false): Unit = {
    val bytes = wetBytes(records)
    val out =
      if (!gzip) bytes
      else {
        val bos = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(bos)
        gz.write(bytes); gz.close()
        bos.toByteArray
      }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, out)
  }
}

/** Deterministic WET fixture corpus for the `wet_ingest` oracle — the
  * NexusFixtures pattern: every record derives from its index, so the
  * DuckDB oracle REBUILDS the expected relation arithmetically (urls,
  * byte lengths, md5 of the reconstructed text) without parsing WARC.
  *
  * Record i ∈ 0..39:
  *   url  = https://site{i mod 7}.example.com/page{i}
  *   date = 2024-03-0{1 + i mod 9}T00:00:00Z
  *   text = "Document {i} line one." ⏎ "Line two with token{(17i) mod 100}."
  * (ASCII bodies, so Content-Length = character length.)
  */
object WetFixtures {
  val N = 40

  def url(i: Int): String = s"https://site${i % 7}.example.com/page$i"
  def date(i: Int): String = s"2024-03-0${1 + i % 9}T00:00:00Z"
  def text(i: Int): String =
    s"Document $i line one.\nLine two with token${(17 * i) % 100}."

  def records: Seq[(String, String, String)] =
    (0 until N).map(i => (url(i), date(i), text(i)))

  /** Fixed path so the oracle SQL can reference nothing but formulas —
    * the file only exists for Spark's side of the compare. */
  def oracleCorpus(): String = synchronized {
    val p = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_wet_oracle", "corpus.wet")
    if (!java.nio.file.Files.exists(p))
      WarcIO.writeWetFile(p, records)
    p.getParent.toString
  }

  // ---- full-WARC response fixtures (the warc_responses oracle) ----------
  // Record i ∈ 0..29:
  //   url     = https://cap{i mod 5}.example.org/r{i}
  //   status  = 404 when i mod 10 = 0 else 200
  //   type    = text/html when i mod 2 = 0 else text/plain
  //   payload = "<p>Capture {i} body {(13i) mod 97}</p>"

  val NResp = 30
  def respUrl(i: Int): String = s"https://cap${i % 5}.example.org/r$i"
  def respStatus(i: Int): Int = if (i % 10 == 0) 404 else 200
  def respType(i: Int): String = if (i % 2 == 0) "text/html" else "text/plain"
  def respPayload(i: Int): String =
    s"<p>Capture $i body ${(13 * i) % 97}</p>"

  def responseRecords: Seq[(String, String, Int, String, String)] =
    (0 until NResp).map(i =>
      (respUrl(i), date(i), respStatus(i), respType(i), respPayload(i)))

  def oracleResponseCorpus(): String = synchronized {
    val p = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_warc_oracle", "corpus.warc")
    if (!java.nio.file.Files.exists(p))
      WarcIO.writeWarcFile(p, responseRecords)
    p.getParent.toString
  }
}
