package graft.sources

import java.io.{BufferedInputStream, ByteArrayInputStream, EOFException, InputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPInputStream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WARC (ISO 28500) reader — the native container of web crawls and the
  * ingest format the crawl pipeline family (htmlExtract → lineDedup →
  * crawl_e2e) starts from. Beyond the reference (openeo-processes has no
  * crawl surface); the format itself is the public Common Crawl / Internet
  * Archive standard.
  *
  * Scale shape: a 100-TB crawl is ~100k independent `.warc.gz` files of
  * ~1 GB, so the unit of parallelism is the FILE — the path list is
  * driver-side metadata (kilobytes), fanned across executors one task per
  * file, and each task STREAMS its file through a gzip member chain →
  * record iterator without ever materializing the file in memory. No
  * shuffle anywhere: the scan is the plan.
  *
  * Record grammar (WARC/1.0-1.1): `WARC/1.x CRLF`, named header fields,
  * blank line, exactly `Content-Length` block bytes, `CRLF CRLF`.
  * `.warc.gz` files hold one gzip member per record; `GZIPInputStream`
  * walks concatenated members natively. `response` records carry an HTTP
  * message in the block: status line + headers + CRLF CRLF + payload.
  */
object WarcReader {

  /** One WARC record: envelope headers + raw block. For `response`
    * records the HTTP layer is parsed (status, Content-Type, payload
    * offset); other types leave status 0 and the block as the body.
    */
  final case class WarcRecord(
      file: String,
      recordType: String,
      url: String,
      warcDate: String,
      recordId: String,
      httpStatus: Int,
      httpContentType: String,
      body: Array[Byte])

  private val CRLF = "\r\n"

  /** Read one header line (terminated by CRLF or bare LF; returns None at
    * clean EOF before any byte). WARC headers are ASCII per spec.
    */
  private def readLine(in: InputStream): Option[String] = {
    val sb = new java.lang.StringBuilder(96)
    var b = in.read()
    if (b < 0) return None
    while (b >= 0 && b != '\n') {
      if (b != '\r') sb.append(b.toChar)
      b = in.read()
    }
    Some(sb.toString)
  }

  private def readFully(in: InputStream, n: Long): Array[Byte] = {
    require(n <= Int.MaxValue, s"WarcUnsupported: record block of $n bytes")
    val buf = new Array[Byte](n.toInt)
    var off = 0
    while (off < buf.length) {
      val r = in.read(buf, off, buf.length - off)
      if (r < 0) throw new EOFException(
        s"WarcCorrupt: truncated record block ($off of $n bytes)")
      off += r
    }
    buf
  }

  /** De-chunk a `Transfer-Encoding: chunked` HTTP payload (RFC 9112 §7.1):
    * hex-size line, that many bytes, CRLF, …, terminated by a 0-size chunk
    * (trailers ignored). Lenient — any grammar violation returns the bytes
    * as-is rather than failing the record.
    */
  private[graft] def dechunk(body: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(body.length)
    var i = 0
    while (i < body.length) {
      // read the chunk-size line (strip any ;ext, tolerate bare LF)
      val lineEnd = body.indexOf('\n'.toByte, i)
      if (lineEnd < 0) return body
      val line = new String(body, i, lineEnd - i, StandardCharsets.ISO_8859_1)
        .trim.takeWhile(_ != ';')
      val size = try java.lang.Long.parseLong(line, 16)
        catch { case _: NumberFormatException => return body }
      if (size == 0) return out.toByteArray // trailers, if any, are dropped
      if (size < 0 || lineEnd + 1 + size > body.length) return body
      out.write(body, lineEnd + 1, size.toInt)
      i = lineEnd + 1 + size.toInt
      // consume the CRLF after the chunk data
      if (i < body.length && body(i) == '\r') i += 1
      if (i < body.length && body(i) == '\n') i += 1
    }
    body // no terminating 0-chunk: pass through untouched
  }

  /** Inflate a `Content-Encoding: gzip`/`deflate` payload. Lenient — a
    * corrupt stream returns the raw bytes (a truncated page is still a
    * page; a hard error would kill the whole shard's task).
    */
  private[graft] def inflate(body: Array[Byte], encoding: String): Array[Byte] =
    try {
      val in: InputStream = encoding match {
        case "gzip" | "x-gzip" =>
          new GZIPInputStream(new ByteArrayInputStream(body), 1 << 16)
        case "deflate" =>
          // the web's "deflate" is ambiguously zlib-wrapped or raw; sniff
          // the zlib header (0x78 CMF) and fall back to raw
          val raw = (body.length < 2) || (body(0) & 0xff) != 0x78
          new java.util.zip.InflaterInputStream(new ByteArrayInputStream(body),
            new java.util.zip.Inflater(raw), 1 << 16)
        case _ => return body
      }
      val out = new java.io.ByteArrayOutputStream(math.max(64, body.length * 4))
      val buf = new Array[Byte](1 << 16)
      var r = in.read(buf)
      while (r > 0) { out.write(buf, 0, r); r = in.read(buf) }
      out.toByteArray
    } catch { case _: java.io.IOException => body }

  /** Parse the HTTP response message inside a block: (status, Content-Type,
    * payload). The payload is the MESSAGE BODY a browser would see:
    * `Transfer-Encoding: chunked` framing is removed and `Content-Encoding:
    * gzip`/`deflate` is inflated — Common Crawl stores raw wire bytes, so
    * both appear constantly in real crawls. Lenient — an unparsable block
    * yields (0, "", whole block) so one malformed server response never
    * kills a 100-TB pass.
    */
  private[graft] def parseHttp(block: Array[Byte]): (Int, String, Array[Byte]) = {
    // header section ends at the first CRLF CRLF (or LF LF)
    var i = 0
    var headerEnd = -1
    var bodyStart = -1
    while (headerEnd < 0 && i < block.length) {
      if (block(i) == '\n') {
        var j = i + 1
        if (j < block.length && block(j) == '\r') j += 1
        if (j < block.length && block(j) == '\n') { headerEnd = i; bodyStart = j + 1 }
      }
      i += 1
    }
    if (headerEnd < 0) return (0, "", block)
    val head = new String(block, 0, headerEnd, StandardCharsets.ISO_8859_1)
    val lines = head.split("\r?\n")
    val status = lines.headOption
      .filter(_.toUpperCase.startsWith("HTTP/"))
      .flatMap(_.split(" ", 3).lift(1)).flatMap(_.toIntOption)
    if (status.isEmpty) return (0, "", block)
    def header(name: String): String = lines.drop(1).collectFirst {
      case l if l.toLowerCase.startsWith(name + ":") =>
        l.substring(name.length + 1).trim
    }.getOrElse("")
    var body = java.util.Arrays.copyOfRange(block, bodyStart, block.length)
    // wire framing first, then content coding — the reverse of how the
    // server applied them
    if (header("transfer-encoding").toLowerCase.contains("chunked"))
      body = dechunk(body)
    val enc = header("content-encoding").toLowerCase
    if (enc.nonEmpty && enc != "identity") body = inflate(body, enc)
    (status.get, header("content-type"), body)
  }

  /** Streaming record iterator over one open WARC stream. Lazy: each
    * `next()` reads exactly one record; the caller owns the stream.
    */
  def records(file: String, in0: InputStream): Iterator[WarcRecord] =
    new Iterator[WarcRecord] {
      private val in = new BufferedInputStream(in0, 1 << 16)
      private var nextRec: WarcRecord = _
      private var done = false

      private def advance(): Unit = {
        // skip inter-record CRLFs, find the version line
        var line = readLine(in)
        while (line.exists(_.isEmpty)) line = readLine(in)
        line match {
          case None => done = true
          case Some(v) if !v.startsWith("WARC/") =>
            throw new IllegalArgumentException(
              s"WarcCorrupt: expected version line, got '${v.take(40)}'")
          case Some(_) =>
            val headers = scala.collection.mutable.Map.empty[String, String]
            var h = readLine(in).getOrElse(throw new EOFException(
              "WarcCorrupt: EOF in record headers"))
            while (h.nonEmpty) {
              val c = h.indexOf(':')
              if (c > 0) headers += h.substring(0, c).trim.toLowerCase ->
                h.substring(c + 1).trim
              h = readLine(in).getOrElse(throw new EOFException(
                "WarcCorrupt: EOF in record headers"))
            }
            val len = headers.getOrElse("content-length",
              throw new IllegalArgumentException(
                "WarcCorrupt: record without Content-Length")).toLong
            val block = readFully(in, len)
            val rtype = headers.getOrElse("warc-type", "")
            val (status, ctype, body) =
              if (rtype == "response") parseHttp(block) else (0, "", block)
            nextRec = WarcRecord(file, rtype,
              // angle brackets around WARC-Target-URI appear in some
              // writers (an early-spec ambiguity); strip them
              headers.getOrElse("warc-target-uri", "").stripPrefix("<").stripSuffix(">"),
              headers.getOrElse("warc-date", ""),
              headers.getOrElse("warc-record-id", ""),
              status, ctype, body)
        }
      }

      advance()
      override def hasNext: Boolean = !done
      override def next(): WarcRecord = {
        if (done) throw new NoSuchElementException("WARC iterator exhausted")
        val r = nextRec
        advance()
        r
      }
    }

  /** Open a WARC path, transparently un-gzipping (`GZIPInputStream` walks
    * the per-record concatenated members of a `.warc.gz` natively).
    */
  def open(path: String): InputStream = {
    val raw = new BufferedInputStream(
      java.nio.file.Files.newInputStream(
        java.nio.file.Paths.get(path.stripPrefix("file://"))), 1 << 16)
    raw.mark(2)
    val b0 = raw.read(); val b1 = raw.read()
    raw.reset()
    if (b0 == 0x1f && b1 == 0x8b) new GZIPInputStream(raw, 1 << 16) else raw
  }

  /** All records of a set of WARC files as a DataFrame — one task per
    * file, each task streaming its file end to end. Columns: `file,
    * record_type, url, warc_date, record_id, http_status,
    * http_content_type, body(binary)`.
    */
  def load(spark: SparkSession, paths: Seq[String]): DataFrame = {
    import spark.implicits._
    val n = math.max(1, math.min(paths.size,
      spark.sparkContext.defaultParallelism))
    spark.createDataset(paths).repartition(n)
      .mapPartitions { files =>
        // one open stream at a time per task; the completion listener
        // closes whatever is still open when the task ends EARLY (limit/
        // take/downstream exception) — a fully drained iterator closes
        // eagerly and nulls the slot, so the listener is a no-op then
        var current: InputStream = null
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null) tc.addTaskCompletionListener[Unit] { _ =>
          if (current != null) { current.close(); current = null }
        }
        files.flatMap { f =>
          val in = open(f)
          current = in
          new Iterator[WarcRecord] {
            private val it = records(f, in)
            override def hasNext: Boolean = {
              val h = it.hasNext
              if (!h) { in.close(); if (current eq in) current = null }
              h
            }
            override def next(): WarcRecord = it.next()
          }
        }
      }
      .toDF("file", "record_type", "url", "warc_date", "record_id",
        "http_status", "http_content_type", "body")
  }

  /** The crawl-ingest projection: HTTP `response` records only, payload
    * decoded as UTF-8 text (malformed bytes replaced — body stays useful,
    * never throws), plus the canonical URL and PSL registered domain the
    * downstream dedup/quota stages key on. This is the frame
    * `htmlExtract` → `lineDedup` → `crawl_e2e` consume.
    */
  def loadResponses(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val t = graft.pipeline.TextAnalysis
    load(spark, paths)
      .where(col("record_type") === "response")
      // binary→string cast is the lenient UTF-8 read (bytes pass through
      // unvalidated) — Spark 4's decode() errors on malformed input, and a
      // crawl always contains malformed pages
      .withColumn("text", col("body").cast("string"))
      .withColumn("canonical_url", t.canonicalizeUrl(col("url")))
      .withColumn("domain", t.registeredDomain(t.urlHost(col("canonical_url"))))
      .drop("record_type", "body")
  }
}
