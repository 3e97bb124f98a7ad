package graft

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets.UTF_8

import graft.sources.WarcReader
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** WARC (ISO 28500) crawl ingest: envelope grammar, gzip member chain,
  * HTTP parse leniency, and the Spark fan-out over the driver fixture.
  */
class WarcReaderSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  private def rec(rtype: String, uri: String, block: Array[Byte]): Array[Byte] = {
    val head = s"WARC/1.0\r\nWARC-Type: $rtype\r\n" +
      (if (uri.nonEmpty) s"WARC-Target-URI: $uri\r\n" else "") +
      s"WARC-Record-ID: <urn:uuid:1>\r\nWARC-Date: 2024-01-01T00:00:00Z\r\n" +
      s"Content-Length: ${block.length}\r\n\r\n"
    head.getBytes(UTF_8) ++ block ++ "\r\n\r\n".getBytes(UTF_8)
  }

  test("record iterator walks envelopes and parses HTTP responses") {
    val http = ("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n" +
      "hello body").getBytes(UTF_8)
    val bytes = rec("warcinfo", "", "software: x\r\n".getBytes(UTF_8)) ++
      rec("response", "<https://a.example/x>", http) ++
      rec("request", "https://a.example/x", "GET / HTTP/1.1\r\n\r\n".getBytes(UTF_8))
    val rs = WarcReader.records("f", new ByteArrayInputStream(bytes)).toList
    assert(rs.map(_.recordType) == List("warcinfo", "response", "request"))
    val r = rs(1)
    // angle-bracketed WARC-Target-URI (early-spec writers) is stripped
    assert(r.url == "https://a.example/x")
    assert(r.httpStatus == 200 && r.httpContentType == "text/plain")
    assert(new String(r.body, UTF_8) == "hello body")
    // non-response records carry the raw block, no HTTP parse
    assert(rs(0).httpStatus == 0 && rs(2).httpStatus == 0)
  }

  test("HTTP parse is lenient: unparsable blocks keep the whole payload") {
    val (s1, c1, b1) = WarcReader.parseHttp("no status line here".getBytes(UTF_8))
    assert(s1 == 0 && c1 == "" && new String(b1, UTF_8) == "no status line here")
    // bare-LF header section (sloppy servers) still parses
    val (s2, c2, b2) = WarcReader.parseHttp(
      "HTTP/1.0 404 Not Found\nContent-Type: text/html\n\nbody".getBytes(UTF_8))
    assert(s2 == 404 && c2 == "text/html" && new String(b2, UTF_8) == "body")
  }

  test("truncated block and missing Content-Length raise typed errors") {
    val bad = ("WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 9999\r\n\r\n" +
      "short").getBytes(UTF_8)
    val e1 = intercept[java.io.EOFException] {
      WarcReader.records("f", new ByteArrayInputStream(bad)).toList
    }
    assert(e1.getMessage.contains("WarcCorrupt"))
    val noLen = "WARC/1.0\r\nWARC-Type: response\r\n\r\n".getBytes(UTF_8)
    val e2 = intercept[IllegalArgumentException] {
      WarcReader.records("f", new ByteArrayInputStream(noLen)).toList
    }
    assert(e2.getMessage.contains("Content-Length"))
  }

  test("fixture gzip member chain loads; responses project with canonical+PSL") {
    val fix = graft.queries.WarcFixture.ensure()
    val all = WarcReader.load(spark, Seq(fix))
    // 1 warcinfo + 2 requests + 6 responses, each its own gzip member
    assert(all.count() == 9)
    assert(all.groupBy("record_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("warcinfo" -> 1L, "request" -> 2L, "response" -> 6L))
    val resp = WarcReader.loadResponses(spark, Seq(fix))
    assert(resp.count() == 6)
    // the tracking-param URL-variant pair collapses on the canonical key
    assert(resp.select("canonical_url").distinct().count() == 5)
    // PSL: gov.uk host registers at three labels
    assert(resp.where(col("url").contains("data.gov.uk"))
      .select("domain").head().getString(0) == "data.gov.uk")
    // lenient UTF-8: the non-ASCII body round-trips
    assert(resp.where(col("http_status") === 404).count() == 1)
    assert(resp.where(col("text").contains("Café Ünïcode ✓")).count() == 1)
  }

  test("chunked transfer framing is removed from response payloads") {
    val chunked = "7\r\nhello, \r\n6\r\nworld!\r\n0\r\n\r\n"
    val http = ("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n" +
      "Transfer-Encoding: chunked\r\n\r\n" + chunked).getBytes(UTF_8)
    val (s, c, b) = WarcReader.parseHttp(http)
    assert(s == 200 && c == "text/plain")
    assert(new String(b, UTF_8) == "hello, world!")
    // chunk-size extensions and trailers are tolerated
    val ext = "5;name=v\r\nhello\r\n0\r\nX-Trailer: t\r\n\r\n"
    assert(new String(WarcReader.dechunk(ext.getBytes(UTF_8)), UTF_8) == "hello")
    // malformed framing passes bytes through instead of failing the record
    val bad = "ZZZ\r\nhello".getBytes(UTF_8)
    assert(WarcReader.dechunk(bad).sameElements(bad))
    val noTerm = "5\r\nhello\r\n".getBytes(UTF_8)
    assert(WarcReader.dechunk(noTerm).sameElements(noTerm))
  }

  test("content-encoding gzip/deflate payloads inflate; corrupt ones pass through") {
    val text = "compressed page body Café ✓ " * 10
    val gz = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(text.getBytes(UTF_8)); g.close(); bos.toByteArray
    }
    val http = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
      "Content-Encoding: gzip\r\n\r\n").getBytes(UTF_8) ++ gz
    val (s, _, b) = WarcReader.parseHttp(http)
    assert(s == 200 && new String(b, UTF_8) == text)
    // zlib-wrapped AND raw deflate both decode (the web's "deflate" ambiguity)
    def deflate(raw: Boolean): Array[Byte] = {
      val d = new java.util.zip.Deflater(6, raw)
      d.setInput(text.getBytes(UTF_8)); d.finish()
      val buf = new Array[Byte](1 << 16)
      val n = d.deflate(buf); d.end(); java.util.Arrays.copyOf(buf, n)
    }
    assert(new String(WarcReader.inflate(deflate(false), "deflate"), UTF_8) == text)
    assert(new String(WarcReader.inflate(deflate(true), "deflate"), UTF_8) == text)
    // corrupt stream: lenient pass-through
    val junk = "not gzip at all".getBytes(UTF_8)
    assert(WarcReader.inflate(junk, "gzip").sameElements(junk))
    // chunked + gzip together (the common real-crawl stack): framing first
    val chunkedGz = {
      val bos = new java.io.ByteArrayOutputStream()
      bos.write("%x".format(gz.length).getBytes(UTF_8))
      bos.write("\r\n".getBytes(UTF_8)); bos.write(gz)
      bos.write("\r\n0\r\n\r\n".getBytes(UTF_8)); bos.toByteArray
    }
    val http2 = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
      "Transfer-Encoding: chunked\r\nContent-Encoding: gzip\r\n\r\n")
      .getBytes(UTF_8) ++ chunkedGz
    assert(new String(WarcReader.parseHttp(http2)._3, UTF_8) == text)
  }

  test("writer round-trips: writeResponses shards re-ingest byte-identically") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_warc_w").toString
    val in = (0 until 37).map { i =>
      (s"https://site${i % 3}.example/p/$i", s"2024-02-0${i % 9 + 1}T00:00:00Z",
        s"<urn:uuid:w-$i>", if (i % 7 == 0) 404 else 200,
        if (i % 5 == 0) "application/json" else "text/html; charset=utf-8",
        s"body $i Café ✓ " + ("x" * (i * 13 % 97)))
    }.toDF("url", "warc_date", "record_id", "http_status",
      "http_content_type", "text").repartition(6)
    val shards = graft.sources.WarcWriter.writeResponses(in, dir)
    // one shard per non-empty partition, executor-written
    assert(shards.nonEmpty && shards.size <= 6)
    assert(shards.forall(_.endsWith(".warc.gz")))
    val back = WarcReader.loadResponses(spark, shards)
      .select("url", "warc_date", "record_id", "http_status",
        "http_content_type", "text")
    val a = back.collect().map(_.toSeq).sortBy(_.head.toString)
    val b = in.select("url", "warc_date", "record_id", "http_status",
      "http_content_type", "text").collect().map(_.toSeq).sortBy(_.head.toString)
    assert(a.toSeq == b.toSeq)
  }

  test("writer fills crawl-sensible defaults from a bare url+text frame") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_warc_d").toString
    val in = Seq(("https://d.example/one", "payload one"),
      ("https://d.example/two", "payload two")).toDF("url", "text")
    val shards = graft.sources.WarcWriter.writeResponses(in.coalesce(1), dir)
    val back = WarcReader.loadResponses(spark, shards).orderBy("url").collect()
    assert(back.length == 2)
    val r = back.head
    assert(r.getAs[Int]("http_status") == 200)
    assert(r.getAs[String]("http_content_type") == "text/html; charset=utf-8")
    assert(r.getAs[String]("record_id").startsWith("<urn:graft:"))
    assert(r.getAs[String]("warc_date").nonEmpty)
    assert(r.getAs[String]("text") == "payload one")
  }

  test("writer raises a typed error on a null url instead of serializing 'null'") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_warc_nu").toString
    val in = Seq((Option("https://ok.example/a"), "body a"),
      (Option.empty[String], "body b")).toDF("url", "text")
    val e = intercept[Exception] {
      graft.sources.WarcWriter.writeResponses(in.coalesce(1), dir)
    }
    // the task failure wraps the writer's IllegalArgumentException; the
    // typed message must survive the cause chain
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(c =>
      Option(c.getMessage).exists(_.contains("WarcWriter: null url"))), e.toString)
  }

  test("writer coalesces present-but-null optionals to the column defaults") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_warc_no").toString
    // all optional columns PRESENT but null — must behave exactly like the
    // bare url+text frame, not serialize the literal string "null"
    val in = Seq(("https://n.example/x", "payload n",
        null: String, null: String, null: String))
      .toDF("url", "text", "warc_date", "record_id", "http_content_type")
      .withColumn("http_status", lit(null).cast("int"))
    val shards = graft.sources.WarcWriter.writeResponses(in.coalesce(1), dir)
    val r = WarcReader.loadResponses(spark, shards).head()
    assert(r.getAs[Int]("http_status") == 200)
    assert(r.getAs[String]("http_content_type") == "text/html; charset=utf-8")
    assert(r.getAs[String]("record_id").startsWith("<urn:graft:"))
    assert(r.getAs[String]("warc_date") == "2024-01-01T00:00:00Z")
    assert(r.getAs[String]("text") == "payload n")
  }

  test("early-terminated scan closes its file handle (completion listener)") {
    assume(new java.io.File("/proc/self/fd").isDirectory) // Linux probe
    def fdsFor(substr: String): Int =
      new java.io.File("/proc/self/fd").listFiles().count { f =>
        try java.nio.file.Files.readSymbolicLink(f.toPath)
          .toString.contains(substr)
        catch { case _: Exception => false }
      }
    // private copy of the fixture so no concurrent suite holds it open
    val src = java.nio.file.Paths.get(graft.queries.WarcFixture.ensure())
    val dir = java.nio.file.Files.createTempDirectory("graft_fd_probe")
    val probe = dir.resolve("probe.warc.gz")
    java.nio.file.Files.copy(src, probe)
    // limit(1) ends the task after one of nine records: only the
    // TaskCompletionListener can close the still-open stream
    val one = WarcReader.load(spark, Seq(probe.toString)).limit(1).collect()
    assert(one.length == 1)
    assert(fdsFor("graft_fd_probe") == 0, "early-terminated task leaked a handle")
    // fully drained scans close eagerly through the iterator itself
    assert(WarcReader.load(spark, Seq(probe.toString)).count() == 9)
    assert(fdsFor("graft_fd_probe") == 0, "drained scan leaked a handle")
  }

  test("corpus fixture is content-keyed: same count, changed text => rebuild") {
    import spark.implicits._
    val sfDir = java.nio.file.Files.createTempDirectory("graft_sf_fx").toString
    def writeDocs(suffix: String): Unit =
      Seq((0L, s"alpha document body $suffix"), (1L, s"beta document body $suffix"))
        .toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$sfDir/documents.parquet")
    def corpusDir: java.nio.file.Path = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"),
      s"graft_warc_corpus_${java.lang.Integer.toHexString(sfDir.hashCode)}_v1")
    def marker: String = corpusDir.toFile.listFiles()
      .map(_.getName).filter(_.startsWith("done-")).sorted.mkString
    writeDocs("v1")
    val shards1 = graft.queries.WarcFixture.ensureCorpus(spark, sfDir)
    val m1 = marker
    // unchanged content + warm memo: second build is a no-op (same marker)
    assert(graft.queries.WarcFixture.ensureCorpus(spark, sfDir) == shards1)
    assert(marker == m1)
    // same row count, changed text, fresh JVM (memo dropped): the content
    // fingerprint must differ => stale shards cleared, new marker written
    writeDocs("v2")
    graft.queries.WarcFixture.synchronized {
      graft.queries.WarcFixture.corpusFp.remove(sfDir)
    }
    val shards2 = graft.queries.WarcFixture.ensureCorpus(spark, sfDir)
    val m2 = marker
    assert(m2 != m1, "changed content must produce a new marker")
    assert(shards2.nonEmpty)
    val texts = WarcReader.loadResponses(spark, shards2)
      .select("text").as[String].collect()
    assert(texts.forall(_.contains("v2")), "shards must hold the new content")
  }

  test("ingest feeds the crawl family: extract + line dedup run downstream") {
    val fix = graft.queries.WarcFixture.ensure()
    val resp = WarcReader.loadResponses(spark, Seq(fix))
      .where(col("http_content_type").startsWith("text/html") &&
        col("http_status") === 200)
    val clean = resp.select(col("canonical_url"),
      graft.pipeline.TextAnalysis.htmlExtract(col("text")).as("clean"))
    val rows = clean.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows("http://www.example.co.uk/Path/page1?a=1&b=2") ==
      "Page one\nCafé Ünïcode ✓ text.")
  }
}
