package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenisation, quality scoring, language identification, document
  * fingerprinting. All pure Column expressions — codegen'd, no UDFs, no
  * driver round-trips — so they stream through a 100 TB corpus at scan
  * speed.
  */
object TextAnalysis {

  /** Whitespace tokens of the trimmed, lower-cased text. */
  def tokens(text: Column): Column = split(trim(lower(text)), "\\s+")

  /** Word count. Empty/blank text → 0. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, 0).otherwise(size(tokens(text)))

  /** BPE-ish subword count estimate: alpha runs, digit runs and single
    * non-alnum marks each count as one piece — a cheap, deterministic proxy
    * for a byte-pair tokeniser's piece count. RE2-compatible patterns only
    * (no lookarounds), so the oracle can mirror it verbatim.
    */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+"), lit(0))) +
      size(regexp_extract_all(lower(text), lit("[0-9]+"), lit(0))) +
      size(regexp_extract_all(lower(text), lit("[^a-z0-9\\s]"), lit(0)))

  /** Share of tokens that are in the (tiny, fixed) English stopword list —
    * a standard quality signal.
    */
  val stopwords: Seq[String] = Seq("the", "a", "an", "of", "to", "in", "and",
    "is", "on", "for", "with", "by", "at", "or")

  def stopwordRatio(text: Column): Column = {
    val t = tokens(text)
    val hits = size(filter(t, w => w.isin(stopwords: _*)))
    when(size(t) === 0, 0.0).otherwise(hits / size(t).cast("double"))
  }

  /** Composite quality score in [0, 1]: length band + mean word length band
    * + stopword presence. Deterministic arithmetic, identical across
    * engines.
    */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text)
    val meanLen = when(nTok === 0, 0.0)
      .otherwise(length(regexp_replace(trim(text), "\\s+", "")).cast("double") / nTok)
    val lenScore = least(nTok.cast("double") / 50.0, lit(1.0))
    val wordScore = when(meanLen >= 3 && meanLen <= 10, 1.0).otherwise(0.5)
    val stopScore = least(stopwordRatio(text) * 5.0, lit(1.0))
    (lenScore * 0.4 + wordScore * 0.3 + stopScore * 0.3)
  }

  /** Marker-word lists per language for the n-gram/function-word heuristic
    * language ID. Tiny on purpose: the mechanism (per-language hit counting,
    * deterministic argmax) is what scales; richer lists drop in freely.
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "pas"),
    "es" -> Seq("el", "los", "las", "es", "una", "que", "no"))

  /** Predict the language as the marker list with the most token hits;
    * ties and zero hits → "unknown". Tie-break: language name ascending —
    * fully deterministic.
    */
  def langId(text: Column): Column = {
    val t = tokens(text)
    // argmax over (hits, alphabetically-first language wins ties): encode
    // each candidate as (hits, -alphaRank, lang) and take array_max — struct
    // ordering compares fields left to right, so equal hit counts fall back
    // to the smallest alphaRank, i.e. the first language alphabetically.
    val ranked = langMarkers.keys.toSeq.sorted.zipWithIndex.toMap
    val scored = langMarkers.toSeq.sortBy(_._1).map { case (lang, words) =>
      val hits = size(filter(t, w => w.isin(words: _*)))
      struct(hits.as("hits"), lit(-ranked(lang)).as("nrank"), lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("hits") === 0, "unknown").otherwise(best.getField("lang"))
  }

  /** Bag-of-words document fingerprint: md5 over the sorted distinct token
    * set — invariant to word order and duplication, the classic
    * "fingerprint dedup" key.
    */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))).cast("binary"))

  /** Deterministic 64-bit-ish rolling content hash (polynomial over bytes,
    * mod 2^61-1) of the raw text — cheap near-identity key for exact-ish
    * chunk dedup. Expressed over the md5 hex to stay engine-portable.
    */
  def contentHash(text: Column): Column = md5(text.cast("binary"))

  /** PII patterns for corpus scrubbing, ordered: each later pattern runs on
    * the residue of the earlier ones (an SSN must be taken before the
    * phone pattern can swallow its digit groups). RE2-compatible — no
    * lookarounds, no backreferences — so Spark's Java regex engine and the
    * DuckDB oracle's RE2 agree on every match (all patterns here are also
    * unambiguous under greedy-vs-leftmost-longest).
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b" -> "<SSN>",
    "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b" -> "<IP>",
    "\\+?[0-9][0-9() -]{6,}[0-9]" -> "<PHONE>")

  /** Redact emails, SSNs, IPv4 addresses and phone-like digit runs —
    * the standard scrub pass before a corpus becomes training data. A
    * chain of codegen'd `regexp_replace`, so it runs at scan speed with
    * zero shuffles.
    */
  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (pat, repl)) =>
      regexp_replace(c, pat, repl)
    }

  /** Count of matches of one [[piiPatterns]] class in the raw text. */
  def piiCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  /** HTML → text extraction rules, applied IN ORDER (each later rule runs
    * on the residue of the earlier ones): drop script/style payloads and
    * comments wholesale, turn block-closing tags and `<br>` into newlines,
    * strip remaining tags, decode the common entities (`&amp;` LAST so
    * `&amp;lt;` decodes to the literal `&lt;`, not `<`), then normalize
    * whitespace. RE2-compatible like [[piiPatterns]] — no backreferences
    * (script and style are separate rules for exactly that reason) — so
    * the DuckDB oracle mirrors the chain verbatim. A replacement of
    * `"\n"` means one literal newline (the oracle splices `chr(10)`).
    */
  val htmlRules: Seq[(String, String)] = Seq(
    "(?is)<script[^>]*>.*?</script>" -> " ",
    "(?is)<style[^>]*>.*?</style>" -> " ",
    "(?s)<!--.*?-->" -> " ",
    "(?i)</(p|div|li|h[1-6]|tr|table|ul|ol|blockquote)>" -> "\n",
    "(?i)<br[^>]*>" -> "\n",
    "<[^>]*>" -> " ",
    "&nbsp;" -> " ",
    "&lt;" -> "<",
    "&gt;" -> ">",
    "&quot;" -> "\"",
    "&#39;" -> "'",
    "&amp;" -> "&",
    "[ \\t]+" -> " ",
    " ?\\n ?" -> "\n",
    "\\n{2,}" -> "\n")

  /** Extract readable text from an HTML document — the boilerplate-removal
    * step a web-crawl ingest runs before any quality filter sees the text.
    * The one-pass [[graft.functions.HtmlExtract]] expression: zero
    * shuffles, zero regex machinery, batch and streaming alike. Identical
    * to the [[htmlExtractChain]] reference form (ScalaCheck-pinned on
    * adversarial tag/entity soup); the DuckDB oracle mirrors the chain.
    */
  def htmlExtract(html: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      graft.functions.HtmlExtract(ColumnBridge.expression(html)))
  }

  /** Unicode NFC via the codegen'd [[graft.functions.NfcNormalize]]
    * expression (ASCII rows never leave UTF8String; Spark has no built-in
    * normalizer and a UDF would break whole-stage codegen).
    */
  def nfc(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      graft.functions.NfcNormalize(ColumnBridge.expression(text)))
  }

  /** Model-ready text canonicalization — the normalization pass a
    * training pipeline runs before hashing/dedup/tokenization so equal
    * text has ONE byte representation: NFC (composed accents), control
    * (Cc) and format (Cf — zero-width spaces, BiDi marks, soft hyphens)
    * removal, whitespace collapse, trim. One scan-stage Column tree
    * (expression + two codegen'd regex passes), zero shuffles; the
    * DuckDB oracle mirrors each step in the same order
    * (`nfc_normalize` + the same RE2-compatible classes).
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(nfc(text), "[\\p{Cc}\\p{Cf}]", ""),
      "\\s+", " "))

  /** Reference form of [[htmlExtract]]: the [[htmlRules]] regexp_replace
    * chain, verbatim — 15 sequential regex passes (~15× the string traffic
    * of the expression). Kept as the spec-pinned semantics definition and
    * the shape the SQL oracle mirrors.
    */
  def htmlExtractChain(html: Column): Column =
    trim(htmlRules.foldLeft(html) { case (c, (pat, repl)) =>
      regexp_replace(c, pat, repl)
    }, " \n") // plain trim() strips spaces only; block closers leave \n

  /** URL component patterns (RE2-compatible, shared verbatim with the
    * oracle): scheme per RFC 3986, host = authority up to the first
    * `/ ? # :` (so ports and paths never leak in), path up to query or
    * fragment. `regexp_extract` returns "" on both engines when a string
    * is not a URL — non-URLs group under the empty domain rather than
    * erroring a 100-TB pass.
    */
  val urlSchemePattern = "^([a-zA-Z][a-zA-Z0-9+.-]*)://"
  val urlHostPattern = "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#:]+)"
  val urlPathPattern = "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)"

  def urlScheme(url: Column): Column = regexp_extract(url, urlSchemePattern, 1)
  def urlHost(url: Column): Column = regexp_extract(url, urlHostPattern, 1)
  def urlPath(url: Column): Column = regexp_extract(url, urlPathPattern, 1)

  /** Query parameters that never identify content — the standard tracking
    * params a crawl strips before URL-level dedup. RE2-compatible, shared
    * verbatim with the oracle.
    */
  val trackingParamPattern: String =
    "^(utm_[a-z]+|fbclid|gclid|msclkid|mc_eid|mc_cid|igshid|ref_src)="

  /** Canonical URL — the dedup key for crawl frontiers and URL-level
    * dedup: scheme and authority lowercased, default ports stripped
    * (`:80` for http, `:443` for https), empty path normalized to `/`,
    * tracking parameters removed and the remaining query params SORTED
    * (param order never identifies content), fragment dropped. Non-URLs
    * yield `""` — never an error on a 100-TB pass. Pure Column program:
    * codegen'd, zero shuffles, streaming-safe; mirror with
    * [[canonicalizeUrlSql]].
    */
  def canonicalizeUrl(url: Column): Column = {
    val scheme = lower(urlScheme(url))
    val auth = lower(regexp_extract(url, urlHostPattern.replace("[^/?#:]", "[^/?#]"), 1))
    val authNoPort = when(scheme === "http", regexp_replace(auth, ":80$", ""))
      .when(scheme === "https", regexp_replace(auth, ":443$", ""))
      .otherwise(auth)
    val path = urlPath(url)
    val pathNorm = when(path === "", lit("/")).otherwise(path)
    val query = regexp_extract(url, "\\?([^#]*)", 1)
    val params = array_sort(filter(split(query, "&"),
      p => !(p.rlike(trackingParamPattern) || p === "")))
    val qNorm = concat_ws("&", params)
    when(scheme === "", lit("")).otherwise(concat(
      scheme, lit("://"), authNoPort, pathNorm,
      when(qNorm === "", lit("")).otherwise(concat(lit("?"), qNorm))))
  }

  /** The exact SQL mirror of [[canonicalizeUrl]] over a URL column
    * reference, for DuckDB oracles.
    */
  def canonicalizeUrlSql(u: String): String = {
    val authPat = urlHostPattern.replace("[^/?#:]", "[^/?#]")
    s"""CASE WHEN regexp_extract($u, '$urlSchemePattern', 1) = '' THEN ''
       | ELSE lower(regexp_extract($u, '$urlSchemePattern', 1)) || '://' ||
       |  (CASE WHEN lower(regexp_extract($u, '$urlSchemePattern', 1)) = 'http'
       |     THEN regexp_replace(lower(regexp_extract($u, '$authPat', 1)), ':80$$', '')
       |   WHEN lower(regexp_extract($u, '$urlSchemePattern', 1)) = 'https'
       |     THEN regexp_replace(lower(regexp_extract($u, '$authPat', 1)), ':443$$', '')
       |   ELSE lower(regexp_extract($u, '$authPat', 1)) END) ||
       |  (CASE WHEN regexp_extract($u, '$urlPathPattern', 1) = '' THEN '/'
       |   ELSE regexp_extract($u, '$urlPathPattern', 1) END) ||
       |  (CASE WHEN array_to_string(list_sort(list_filter(
       |      string_split(regexp_extract($u, '\\?([^#]*)', 1), '&'),
       |      p -> NOT regexp_matches(p, '${trackingParamPattern.replace("$", "$$")}') AND p <> '')), '&') = ''
       |   THEN ''
       |   ELSE '?' || array_to_string(list_sort(list_filter(
       |      string_split(regexp_extract($u, '\\?([^#]*)', 1), '&'),
       |      p -> NOT regexp_matches(p, '${trackingParamPattern.replace("$", "$$")}') AND p <> '')), '&')
       |  END)
       |END""".stripMargin
  }

  /** Naive registered domain: the host's last two labels. Kept as the
    * fallback/reference form; [[registeredDomain]] is PSL-backed and is
    * what domain quotas should use (`shop.example.co.uk` must group under
    * `example.co.uk`, not `co.uk`).
    */
  def registeredDomainNaive(host: Column): Column =
    regexp_extract(host, "([^.]+\\.[^.]+)$", 1)

  /** The full public-suffix list (`resources/graft/public_suffix_list.dat`
    * — the Mozilla PSL every browser and crawl toolchain ships, ICANN +
    * private sections, ~9.5k rules), parsed once into rule sets GROUPED BY
    * LABEL COUNT: plain suffixes (1–5 labels), wildcard rule bases
    * (`*.base`, base 1–4 labels), exception hosts (`!host`, 2–3 labels).
    * IDN u-label rules (`公司.cn`) additionally emit their punycode
    * A-label twins (`xn--55qx5d.cn`) so hosts match in whichever form the
    * crawl recorded them.
    *
    * 1-label plain rules (the bare TLDs) are parsed but NOT embedded in
    * the lookup: the PSL's implicit default rule (`*` — every unlisted
    * TLD is a suffix) makes the listed and unlisted TLD cases compute the
    * same answer, so the fallthrough branch covers both and the hot
    * expression carries ~1.5k fewer literals.
    */
  final case class PslRules(plain: Map[Int, Seq[String]],
      wildBase: Map[Int, Seq[String]], exception: Map[Int, Seq[String]]) {
    /** Longest effective public-suffix length any rule can produce. */
    val maxSuffixLen: Int =
      (plain.keySet ++ wildBase.keySet.map(_ + 1) ++ exception.keySet).max
  }

  lazy val psl: PslRules = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/graft/public_suffix_list.dat"), "UTF-8")
    val lines =
      try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("//")).toList
      finally src.close()
    // u-label rules also match as punycode (hosts usually arrive A-label)
    def forms(rule: String): Seq[String] =
      if (rule.forall(_ < 128)) Seq(rule)
      else Seq(rule) ++ scala.util.Try(java.net.IDN.toASCII(rule)).toOption
    def byLen(rs: Seq[String]): Map[Int, Seq[String]] =
      rs.flatMap(forms).distinct.groupBy(_.count(_ == '.') + 1)
        .map { case (k, v) => k -> v.sorted }
    val (exc, rest) = lines.partition(_.startsWith("!"))
    val (wild, plain) = rest.partition(_.startsWith("*."))
    PslRules(byLen(plain.filterNot(_ == "*")),
      byLen(wild.map(_.stripPrefix("*."))), byLen(exc.map(_.stripPrefix("!"))))
  }

  /** Regex capturing the last `k` dot-separated labels of a host (empty
    * when the host has fewer) — RE2-compatible, shared verbatim with the
    * SQL mirror.
    */
  private def lastLabelsPattern(k: Int): String =
    if (k == 1) "([^.]+)$" else s"([^.]+(?:\\.[^.]+){${k - 1}})$$"

  /** eTLD+1 registered domain under the full PSL — the grouping key
    * domain-level curation stats and per-domain quotas use. Longest-match
    * semantics over ARBITRARY label counts, per the publicsuffix.org
    * algorithm: exception rules beat everything (the exception host is
    * itself registrable); otherwise the matching rule with the most
    * labels prevails, where a wildcard `*.base` contributes base+1
    * labels; the implicit default rule (every unlisted TLD is a suffix)
    * is the fallthrough. A host that IS a public suffix, or has fewer
    * than two labels, yields `""` (no registrable domain) — never an
    * error, so a 100-TB pass can't die on junk hosts.
    *
    * Shape: pure Column program — per-k `regexp_extract` label slices
    * probed against literal IN-lists that Catalyst converts to hash-set
    * `InSet` (plan-audited), codegen'd, zero shuffles, no rule-table
    * join. Mirror the exact CASE into SQL with [[registeredDomainSql]].
    */
  def registeredDomain(host: Column): Column = {
    val l: Map[Int, Column] = (1 to psl.maxSuffixLen + 1)
      .map(k => k -> regexp_extract(host, lastLabelsPattern(k), 1)).toMap
    val start = when(l(2) === "", lit(""))
    val withExc = psl.exception.keys.toSeq.sorted.reverse
      .foldLeft(start)((c, k) => c.when(l(k).isin(psl.exception(k): _*), l(k)))
    val withSuffix = (psl.maxSuffixLen to 2 by -1).foldLeft(withExc) { (c, k) =>
      val conds =
        psl.plain.get(k).map(rs => l(k).isin(rs: _*)).toSeq ++
          psl.wildBase.get(k - 1).map(rs => l(k - 1).isin(rs: _*))
      if (conds.isEmpty) c
      else c.when(conds.reduce(_ || _),
        when(l(k + 1) === "", lit("")).otherwise(l(k + 1)))
    }
    withSuffix.otherwise(l(2))
  }

  /** The exact SQL mirror of [[registeredDomain]] over a host column
    * reference — same regex label extraction, same branch order, same
    * literal rule lists (all ~9.5k of them inline) — for DuckDB/ANSI
    * oracles.
    */
  def registeredDomainSql(hostRef: String): String = {
    def inList(xs: Seq[String]) =
      xs.map(s => s"'${s.replace("'", "''")}'").mkString("(", ",", ")")
    def lk(k: Int) =
      s"regexp_extract($hostRef, '${lastLabelsPattern(k)}', 1)"
    val excBranches = psl.exception.keys.toSeq.sorted.reverse.map(k =>
      s" WHEN ${lk(k)} IN ${inList(psl.exception(k))} THEN ${lk(k)}")
    val suffixBranches = (psl.maxSuffixLen to 2 by -1).flatMap { k =>
      val conds =
        psl.plain.get(k).map(rs => s"${lk(k)} IN ${inList(rs)}").toSeq ++
          psl.wildBase.get(k - 1).map(rs => s"${lk(k - 1)} IN ${inList(rs)}")
      if (conds.isEmpty) None
      else Some(s" WHEN ${conds.mkString(" OR ")}" +
        s" THEN (CASE WHEN ${lk(k + 1)} = '' THEN '' ELSE ${lk(k + 1)} END)")
    }
    (s"CASE WHEN ${lk(2)} = '' THEN ''" +:
      (excBranches ++ suffixBranches :+ s" ELSE ${lk(2)} END"))
      .mkString("\n")
  }
}

/** Context-window document chunking: split each document into overlapping
  * token windows (`window` tokens every `stride`), the step that turns a
  * raw corpus into training sequences. One narrow pass — tokenize, generate
  * chunk starts arithmetically, explode — no shuffle, no self-join; a
  * document's chunks are produced by the task that holds the document.
  */
object Chunking {
  import org.apache.spark.sql.DataFrame

  /** One row per (doc, chunk): `idCol, chunk_id, chunk`. A doc with ≤
    * `window` tokens yields exactly one chunk; otherwise chunks start every
    * `stride` tokens and the LAST chunk may be short (it still starts <
    * n tokens in, per ceil((n−window)/stride)+1).
    */
  def chunkDocs(df: DataFrame, idCol: String, text: Column, window: Int,
      stride: Int): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    val t = col("_toks")
    val n = size(t)
    val nChunks = when(n <= window, lit(1)).otherwise(
      floor((n - window + stride - 1).cast("double") / stride).cast("int") + 1)
    df.withColumn("_toks", TextAnalysis.tokens(text))
      .withColumn("_chunks", transform(sequence(lit(0), nChunks - 1),
        i => concat_ws(" ", slice(t, i * stride + 1, lit(window)))))
      .select(col(idCol), posexplode(col("_chunks")))
      .select(col(idCol), col("pos").cast("long").as("chunk_id"),
        col("col").as("chunk"))
  }
}
