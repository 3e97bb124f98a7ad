package graft.queries

import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.GZIPOutputStream

/** Deterministic `.warc.gz` fixture for the driver-green `warc_load`
  * query (the synthesize-at-query-build discipline of `pii_redact` /
  * `line_dedup` / `stac_load`): one WARC file in the standard
  * gzip-member-per-record layout holding a `warcinfo` record, two
  * `request` records (both must be FILTERED by the response projection)
  * and six `response` records whose URLs exercise the canonicalization +
  * PSL path — mixed-case host with default port and tracking params, a
  * port-stripped empty path, a 404, a `gov.uk` public-suffix host with a
  * JSON (non-HTML) payload, and a tracking-param URL-variant pair that
  * collapses to one canonical form with byte-identical bodies.
  *
  * The expected canonical URL and registered domain are FROZEN literals
  * (hand-derived from RFC 3986 + the PSL snapshot, not computed by the
  * code under test); text length and md5 are computed here from the same
  * body constants the writer serializes, so the oracle checks the whole
  * gzip → WARC envelope → HTTP parse → UTF-8 decode chain.
  */
object WarcFixture {

  /** (rawUrl, httpStatus, contentType, body, frozenCanonicalUrl,
    * frozenRegisteredDomain)
    */
  final case class Page(url: String, status: Int, ctype: String,
      body: String, canon: String, domain: String)

  val pages: Seq[Page] = Seq(
    Page("HTTP://WWW.Example.co.uk:80/Path/page1?utm_source=x&b=2&a=1#frag",
      200, "text/html; charset=utf-8",
      "<html><body><h1>Page one</h1><p>Café Ünïcode ✓ text.</p></body></html>",
      "http://www.example.co.uk/Path/page1?a=1&b=2", "example.co.uk"),
    Page("https://blog.example.com:443", 200, "text/html",
      "<html><body><p>Root page body.</p></body></html>",
      "https://blog.example.com/", "example.com"),
    Page("https://news.site.org/articles/today", 404, "text/html",
      "<html><body>not found</body></html>",
      "https://news.site.org/articles/today", "site.org"),
    Page("http://data.gov.uk/api/items?fbclid=abc", 200, "application/json",
      """{"id": 4, "items": [1, 2, 3]}""",
      "http://data.gov.uk/api/items", "data.gov.uk"),
    Page("https://example.com/dup?gclid=z", 200, "text/html",
      "<html><body><p>Duplicate landing page.</p></body></html>",
      "https://example.com/dup", "example.com"),
    Page("https://example.com/dup", 200, "text/html",
      "<html><body><p>Duplicate landing page.</p></body></html>",
      "https://example.com/dup", "example.com"))

  private def record(headers: Seq[(String, String)], block: Array[Byte]): Array[Byte] = {
    val head = new StringBuilder("WARC/1.0\r\n")
    (headers :+ ("Content-Length" -> block.length.toString)).foreach {
      case (k, v) => head.append(k).append(": ").append(v).append("\r\n")
    }
    head.append("\r\n")
    head.toString.getBytes(UTF_8) ++ block ++ "\r\n\r\n".getBytes(UTF_8)
  }

  private def httpResponse(p: Page): Array[Byte] = {
    val body = p.body.getBytes(UTF_8)
    val reason = if (p.status == 200) "OK" else "Not Found"
    (s"HTTP/1.1 ${p.status} $reason\r\nContent-Type: ${p.ctype}\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n").getBytes(UTF_8) ++ body
  }

  /** Write (or rewrite — content is deterministic) the fixture and return
    * the `.warc.gz` path.
    */
  def ensure(): String = synchronized {
    val dir = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft_warc_fixture_v1")
    java.nio.file.Files.createDirectories(dir)
    val path = dir.resolve("sample.warc.gz")
    val out = java.nio.file.Files.newOutputStream(path)
    try {
      def member(rec: Array[Byte]): Unit = {
        val gz = new GZIPOutputStream(out, 1 << 14, true)
        gz.write(rec); gz.finish()
      }
      member(record(Seq(
        "WARC-Type" -> "warcinfo",
        "WARC-Record-ID" -> "<urn:uuid:00000000-0000-0000-0000-000000000000>",
        "WARC-Date" -> "2024-03-01T00:00:00Z",
        "Content-Type" -> "application/warc-fields"),
        "software: graft-fixture\r\n".getBytes(UTF_8)))
      pages.zipWithIndex.foreach { case (p, i) =>
        if (i < 2) // a request twin for the first two pages, filtered out
          member(record(Seq(
            "WARC-Type" -> "request",
            "WARC-Target-URI" -> p.url,
            "WARC-Record-ID" -> f"<urn:uuid:aaaaaaaa-0000-0000-0000-${i}%012d>",
            "WARC-Date" -> f"2024-03-01T00:00:${i}%02dZ",
            "Content-Type" -> "application/http; msgtype=request"),
            s"GET ${p.url} HTTP/1.1\r\nHost: x\r\n\r\n".getBytes(UTF_8)))
        member(record(Seq(
          "WARC-Type" -> "response",
          "WARC-Target-URI" -> p.url,
          "WARC-Record-ID" -> f"<urn:uuid:bbbbbbbb-0000-0000-0000-${i}%012d>",
          "WARC-Date" -> f"2024-03-01T00:00:${i}%02dZ",
          "Content-Type" -> "application/http; msgtype=response"),
          httpResponse(p)))
      }
    } finally out.close()
    path.toString
  }

  /** The id-derived page wrap shared (verbatim) with the `warc_extract`
    * oracle mirror: URL over the domain_stats TLD mix (plain org, co.uk,
    * com.au, and the wildcard *.bd rule) and the html_extract page shell.
    */
  def corpusUrl(id: Long, tld: String): String =
    (if (id % 2 == 0) "https" else "http") +
      s"://crawl${id % 5}.example${id % 3}.$tld/docs/$id"

  def corpusTld(id: Long): String = (id % 4) match {
    case 0 => "org"
    case 1 => "co.uk"
    case 2 => "com.au"
    case _ => "bd"
  }

  def corpusHtml(id: Long, text: String): String =
    "<html><head><title>t</title><style>p {color: red}</style>" +
      "<script type=\"text/javascript\">var x = \"<b>bold</b>\";</script></head>" +
      s"<body><!-- id $id --><h1>Doc &quot;$id&quot;</h1><p>" +
      text.substring(0, math.min(120, text.length)) +
      "</p><ul><li>first &amp; second</li><li>10 &lt; 20</li></ul>" +
      "<div>tail&nbsp;words</div></body></html>"

  /** Per-JVM memo of the corpus content fingerprint, keyed by sf dir: the
    * source parquet cannot change under a running JVM, so the full-corpus
    * md5 aggregation runs once — not once per query build (bench times
    * every build; r7 paid this job on each timed `warc_extract` run).
    * Guarded by the object lock `ensureCorpus` already holds.
    */
  private[graft] val corpusFp =
    scala.collection.mutable.HashMap[String, (Long, String)]()

  /** Write (idempotently, keyed by doc count + content fingerprint) a
    * sharded WARC corpus — one page per `documents` row, hash-partitioned
    * into up to 4 `.warc.gz` shard files by `pmod(doc_id, 4)` (hash
    * partitioning of the pmod value: a near-uniform spread, not strict
    * round-robin; empty partitions write no shard) — and return the shard
    * paths. This is the fixture-scale twin of a real crawl: the
    * `warc_extract` query reads it back through the full ingest (gzip →
    * envelope → HTTP → UTF-8) and must reproduce exactly what a DuckDB CTE
    * computes from the parquet directly.
    */
  def ensureCorpus(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): Seq[String] = synchronized {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text")
    // content-keyed idempotence: an order-independent fingerprint over
    // (doc_id, md5(text)) — a changed-content same-count corpus gets a new
    // marker; the driver sees one aggregate row, never the table
    val (nDocs, fp) = corpusFp.getOrElseUpdate(sfDir, {
      val fpRow = docs
        .select(conv(substring(md5(concat_ws(":",
            col("doc_id").cast("string"), md5(col("text").cast("binary")))),
            1, 15), 16, 10).cast("decimal(38,0)").as("h"))
        .agg(count(lit(1)).as("n"), sum(col("h")).as("fp")).first()
      (fpRow.getLong(0), Option(fpRow.getDecimal(1))
        .map(_.toBigInteger.toString(16)).getOrElse("0"))
    })
    val tag = java.lang.Integer.toHexString(sfDir.hashCode)
    val dir = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"graft_warc_corpus_${tag}_v1")
    java.nio.file.Files.createDirectories(dir)
    val marker = dir.resolve(s"done-$nDocs-$fp")
    // Files.list holds a directory handle until closed — try/finally, so
    // repeated fixture builds don't leak descriptors
    def listDir[A](f: java.util.Iterator[java.nio.file.Path] => A): A = {
      val s = java.nio.file.Files.list(dir)
      try f(s.iterator()) finally s.close()
    }
    def shardPaths(): Seq[String] = listDir { it =>
      val b = Seq.newBuilder[String]
      while (it.hasNext) { val p = it.next()
        if (p.getFileName.toString.endsWith(".warc.gz")) b += p.toString }
      b.result().sorted
    }
    if (!java.nio.file.Files.exists(marker)) {
      // clear stale shards/markers from any previous corpus content
      listDir { it =>
        while (it.hasNext) { val p = it.next()
          val n = p.getFileName.toString
          if (n.endsWith(".warc.gz") || n.startsWith("done-"))
            java.nio.file.Files.delete(p) }
      }
      // shards are written EXECUTOR-side through the library's own WARC
      // sink (the page constants stay these exact JVM functions, shared
      // verbatim with the oracle generator)
      import spark.implicits._
      val nShards = 4
      val pages = docs.as[(Long, String)]
        .repartition(nShards, pmod(col("doc_id"), lit(nShards)))
        .sortWithinPartitions("doc_id")
        .map { case (id, text) =>
          (corpusUrl(id, corpusTld(id)), corpusHtml(id, text),
            s"<urn:uuid:doc-$id>", "2024-01-01T00:00:00Z", "text/html")
        }
        .toDF("url", "text", "record_id", "warc_date", "http_content_type")
      graft.sources.WarcWriter.writeResponses(pages, dir.toString)
      java.nio.file.Files.write(marker, Array.emptyByteArray)
    }
    shardPaths()
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
      .map(b => f"$b%02x").mkString

  /** Frozen-VALUES oracle generated from the same page constants the
    * writer serializes (md5/char-count computed independently of the
    * reader under test).
    */
  val oracleSql: String = {
    val rows = pages.map { p =>
      val chars = p.body.codePointCount(0, p.body.length)
      s"('${p.url.replace("'", "''")}', ${p.status}, '${p.ctype}', " +
        s"'${p.canon}', '${p.domain}', $chars, '${md5Hex(p.body)}')"
    }.mkString(",\n")
    s"""SELECT u AS url, CAST(s AS INT) AS http_status,
       |       c AS http_content_type, k AS canonical_url, d AS domain,
       |       CAST(n AS INT) AS text_chars, m AS text_md5
       |FROM (VALUES
       |$rows) t(u, s, c, k, d, n, m)""".stripMargin
  }
}
