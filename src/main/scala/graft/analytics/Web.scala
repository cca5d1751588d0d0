package graft.analytics

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Web-scale ingestion (r10): the two operators that sit at the FRONT
  * of every web-derived training corpus (CCNet / C4 / FineWeb all
  * start here) and were the last missing tier of the LLM-pipeline
  * story:
  *
  *  - WARC shard parsing — Common Crawl publishes crawl data as
  *    WARC/1.0 files (ISO 28500): records framed by a version line,
  *    case-insensitive named headers, a Content-Length'd payload, and
  *    a blank-line terminator. Both sides are hand-rolled against the
  *    public spec (the JDK has no WARC support): the writer emits
  *    warcinfo + per-fetch request/response records with shuffled
  *    header order, the parser re-frames strictly (version line,
  *    header fold, exact Content-Length, CRLFCRLF trailer) and
  *    rejects corruption loudly. The DuckDB oracle replays record
  *    counts, response payload bytes, and a position-weighted
  *    checksum arithmetically — a framing slip of even one byte
  *    shifts the checksum.
  *
  *  - HTML main-text extraction — boilerplate removal (the
  *    trafilatura/jusText step): drop script/style and nav/header/
  *    footer/aside chrome, strip tags, decode entities, collapse
  *    whitespace. The synthesized page hides the real document text
  *    inside <p> blocks in <main> surrounded by adversarial chrome (a
  *    script containing bare `<`/`>`, a footer containing its own
  *    <p>, entities in the nav), so the extracted text sha-matches
  *    the original document IFF the extractor does real block-level
  *    removal, not naive tag stripping.
  *
  * Scale design: both are MAP-ONLY — zero exchanges at any corpus
  * size; the extraction chain is entirely codegen'd built-in
  * expressions (`regexp_replace`/`split`/`transform`/`slice`), so it
  * stays inside one WholeStageCodegen span, and the WARC walk is the
  * same per-partition iterator pattern as the tar/AVI parsers
  * (codec-init-free, partition-local).
  */
object Web {

  // ---------------------------------------------------------------
  // WARC/1.0 shard: writer + strict parser
  // ---------------------------------------------------------------

  /** Fetches per shard and per-fetch response payload sizes/bytes —
    * the same arithmetic-rule style as the tar/mp4 constructions. */
  private def warcFetches(id: Long): Int = 1 + (id % 3).toInt
  private def warcPayloadSize(id: Long, r: Int): Int =
    20 + ((id * 31L + r * 7L) % 180L).toInt
  private def warcPayloadByte(id: Long, r: Int, i: Int): Int =
    ((id * 17L + r * 5L + i * 13L) % 251L).toInt
  private def warcUri(id: Long, r: Int): String =
    s"https://example.com/doc$id/$r"

  private val CRLF = "\r\n"

  /** One record: version line + headers + blank + payload + blank. */
  private def warcRecord(headers: Seq[(String, String)],
      payload: Array[Byte]): Array[Byte] = {
    val head = new StringBuilder("WARC/1.0").append(CRLF)
    headers.foreach { case (k, v) => head.append(k).append(": ").append(v).append(CRLF) }
    head.append("Content-Length: ").append(payload.length).append(CRLF)
    head.append(CRLF)
    head.toString.getBytes("US-ASCII") ++ payload ++
      (CRLF + CRLF).getBytes("US-ASCII")
  }

  /** Deterministic urn:uuid record id (shape only — parsers treat it
    * as an opaque token). */
  private def recordId(id: Long, r: Int, kind: Int): String =
    f"<urn:uuid:${id}%08x-0000-4000-8000-${r * 16 + kind}%012x>"

  /** A full shard: warcinfo, then (request, response) per fetch. The
    * three record types carry their headers in DIFFERENT orders and
    * mixed case — the spec says header names are case-insensitive and
    * order-free, and a positional parser must fail here. */
  private[graft] def warcBytes(id: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream
    val info = ("software: graft\r\nformat: WARC File Format 1.0\r\n")
      .getBytes("US-ASCII")
    out.write(warcRecord(Seq(
      "WARC-Type" -> "warcinfo",
      "WARC-Date" -> "2026-01-01T00:00:00Z",
      "WARC-Record-ID" -> recordId(id, 0, 0),
      "Content-Type" -> "application/warc-fields"), info))
    (0 until warcFetches(id)).foreach { r =>
      val uri = warcUri(id, r)
      val req = s"GET /doc$id/$r HTTP/1.1\r\nHost: example.com\r\n\r\n"
        .getBytes("US-ASCII")
      out.write(warcRecord(Seq(
        "WARC-Record-ID" -> recordId(id, r, 1),
        "warc-type" -> "request", // case-insensitivity probe
        "WARC-Target-URI" -> uri,
        "WARC-Date" -> "2026-01-01T00:00:00Z",
        "Content-Type" -> "application/http; msgtype=request"), req))
      val body = Array.tabulate(warcPayloadSize(id, r))(i =>
        warcPayloadByte(id, r, i).toByte)
      out.write(warcRecord(Seq(
        "WARC-Date" -> "2026-01-01T00:00:00Z",
        "Content-Type" -> "application/http; msgtype=response",
        "WARC-Type" -> "response",
        "WARC-Target-URI" -> uri,
        "WARC-Record-ID" -> recordId(id, r, 2)), body))
    }
    out.toByteArray
  }

  /** The strict framing walk shared by every WARC consumer: yields one
    * (warc-type, target-uri, payloadStart, payloadLen) per record,
    * enforcing the version line, header well-formedness, exact
    * Content-Length, and the CRLFCRLF terminator. Any framing damage
    * rejects loudly. */
  private[graft] def warcRecords(bytes: Array[Byte]): Seq[(String, String, Int, Int)] = {
    val out = Seq.newBuilder[(String, String, Int, Int)]
    var p = 0
    def line(): String = {
      val nl = {
        var q = p
        while (q + 1 < bytes.length &&
          !(bytes(q) == '\r' && bytes(q + 1) == '\n')) q += 1
        require(q + 1 < bytes.length, s"unterminated line at $p")
        q
      }
      val s = new String(bytes, p, nl - p, "US-ASCII")
      p = nl + 2
      s
    }
    while (p < bytes.length) {
      require(line() == "WARC/1.0", "bad WARC version line")
      var tpe = ""; var uri = ""; var len = -1L
      var h = line()
      while (h.nonEmpty) {
        val c = h.indexOf(':')
        require(c > 0, s"malformed header '$h'")
        val k = h.substring(0, c).trim.toLowerCase
        val v = h.substring(c + 1).trim
        k match {
          case "warc-type"       => tpe = v
          case "warc-target-uri" => uri = v
          case "content-length"  => len = v.toLong
          case _                 => () // unknown headers skip (spec)
        }
        h = line()
      }
      require(len >= 0, "missing Content-Length")
      require(tpe.nonEmpty, "missing WARC-Type")
      require(p + len + 4 <= bytes.length, s"truncated payload at $p")
      out += ((tpe, uri, p, len.toInt))
      p += len.toInt
      require(bytes(p) == '\r' && bytes(p + 1) == '\n' &&
        bytes(p + 2) == '\r' && bytes(p + 3) == '\n',
        s"missing record terminator at $p")
      p += 4
    }
    out.result()
  }

  /** Strict re-frame: (nRecords, nResponses, nRequests, sumPayload,
    * sumUriLen, checksum). Response payloads feed sum/positional
    * checksum; URI lengths come from the parsed WARC-Target-URI
    * header. */
  private[graft] def parseWarc(bytes: Array[Byte]): (Long, Long, Long, Long, Long, Long) = {
    var nRec = 0L; var nResp = 0L; var nReq = 0L
    var sumPayload = 0L; var sumUri = 0L; var ck = 0L
    warcRecords(bytes).foreach { case (tpe, uri, start, len) =>
      nRec += 1
      tpe match {
        case "response" =>
          nResp += 1; sumPayload += len; sumUri += uri.length
          val r = nResp // 1-based fetch index — matches the oracle's r+1
          var i = 0
          while (i < len) {
            ck += r * (i + 1) * (bytes(start + i) & 0xff)
            i += 1
          }
        case "request"  => nReq += 1
        case _          => ()
      }
    }
    (nRec, nResp, nReq, sumPayload, sumUri, ck)
  }

  // ---------------------------------------------------------------
  // gzip'd WARC members (r11): the REAL Common Crawl layout — a .warc
  // .gz file is not one gzip stream but a CONCATENATION of per-record
  // gzip members (ISO 28500 annex; it's what makes byte-offset random
  // access into a crawl shard possible). The writer gzips each record
  // separately and concatenates; the parser walks the gzip container
  // member-by-member BY HAND (header flags, raw-deflate body via
  // Inflater(nowrap), CRC32 + ISIZE trailer verified per member — a
  // transparent GZIPInputStream would hide exactly the member framing
  // this format exists for), then strictly re-frames the recovered
  // records with the same parseWarc.
  // ---------------------------------------------------------------

  /** One gzip member per WARC record, concatenated (JDK
    * GZIPOutputStream per record — real DEFLATE, real CRC trailer). */
  private[graft] def warcGzipBytes(id: Long): Array[Byte] = {
    val plain = warcBytes(id)
    val out = new java.io.ByteArrayOutputStream
    // record spans come from the SAME strict walker every consumer
    // uses (a second hand-rolled framing walk here could drift): each
    // record runs from the previous record's end to payload end + the
    // CRLFCRLF terminator; gzip each separately — member count ==
    // record count by construction, which the parser must reproduce
    var start = 0
    warcRecords(plain).foreach { case (_, _, payloadStart, len) =>
      val end = payloadStart + len + 4
      // close() finishes the member AND releases the native Deflater
      // (ByteArrayOutputStream.close is a no-op, so out survives)
      val gz = new java.util.zip.GZIPOutputStream(out)
      try gz.write(plain, start, end - start) finally gz.close()
      start = end
    }
    out.toByteArray
  }

  /** Walk the gzip container member-by-member: returns the
    * concatenated decompressed bytes and the member count. Each
    * member's CRC32 and ISIZE trailer is verified — bit-rot inside
    * any member rejects loudly here, before WARC re-framing. */
  private[graft] def gunzipMembers(bytes: Array[Byte]): (Array[Byte], Long) = {
    val out = new java.io.ByteArrayOutputStream
    var members = 0L
    var p = 0
    while (p < bytes.length) {
      require(p + 10 <= bytes.length, s"truncated gzip header at $p")
      require((bytes(p) & 0xff) == 0x1f && (bytes(p + 1) & 0xff) == 0x8b,
        s"bad gzip magic at $p")
      require(bytes(p + 2) == 8, "unsupported compression method")
      val flg = bytes(p + 3) & 0xff
      p += 10 // fixed header (magic, CM, FLG, MTIME, XFL, OS)
      // every optional-field walk is BOUNDS-CHECKED so truncation
      // inside a field rejects with the same loud require as every
      // other corruption path, never an ArrayIndexOutOfBounds
      if ((flg & 4) != 0) { // FEXTRA: 2-byte little-endian length
        require(p + 2 <= bytes.length, s"truncated FEXTRA length at $p")
        val xlen = (bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8)
        p += 2 + xlen
        require(p <= bytes.length, s"truncated FEXTRA field at $p")
      }
      def zeroTerminated(field: String): Unit = {
        while (p < bytes.length && bytes(p) != 0) p += 1
        require(p < bytes.length, s"truncated $field at $p")
        p += 1
      }
      if ((flg & 8) != 0) zeroTerminated("FNAME")
      if ((flg & 16) != 0) zeroTerminated("FCOMMENT")
      if ((flg & 2) != 0) { // FHCRC
        p += 2
        require(p <= bytes.length, "truncated FHCRC")
      }
      require(p < bytes.length, s"gzip member $members has no body")
      val inf = new java.util.zip.Inflater(true) // raw deflate body
      val crc = new java.util.zip.CRC32
      var memberLen = 0L
      try {
        inf.setInput(bytes, p, bytes.length - p)
        val buf = new Array[Byte](8192)
        while (!inf.finished()) {
          // a corrupted DEFLATE stream surfaces as the checked
          // DataFormatException — rethrown as the same loud
          // IllegalArgumentException every other corruption path
          // uses, so callers match ONE rejection contract
          val n = try inf.inflate(buf) catch {
            case e: java.util.zip.DataFormatException =>
              throw new IllegalArgumentException(
                s"corrupt deflate body in gzip member $members: ${e.getMessage}", e)
          }
          require(n > 0 || inf.finished(), s"truncated deflate body at $p")
          out.write(buf, 0, n)
          crc.update(buf, 0, n)
          memberLen += n
        }
        p += inf.getBytesRead.toInt
      } finally inf.end()
      require(p + 8 <= bytes.length, s"truncated gzip trailer at $p")
      def le32(o: Int): Long =
        ((bytes(o) & 0xffL)) | ((bytes(o + 1) & 0xffL) << 8) |
          ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
      require(le32(p) == crc.getValue, s"gzip CRC mismatch in member $members")
      require(le32(p + 4) == (memberLen & 0xffffffffL),
        s"gzip ISIZE mismatch in member $members")
      p += 8
      members += 1
    }
    (out.toByteArray, members)
  }

  /** Synthesize → per-record-gzip → member walk → strict WARC
    * re-frame. Output adds the member count, which must equal the
    * record count (one record per member — the random-access
    * contract); the remaining columns replay the same arithmetic as
    * warc_parse, so the oracle pins that compression changed NOTHING
    * about the recovered content. */
  def warcGzip(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Multimodal.fannedIds(s, d)
      .mapPartitions(_.map { id =>
        val (plain, members) = gunzipMembers(warcGzipBytes(id))
        val (nr, nresp, nreq, sp, su, ck) = parseWarc(plain)
        require(members == nr, s"member count $members != record count $nr")
        (id, members, nr, nresp, nreq, sp, su, ck)
      })
      .toDF("asset_id", "n_members", "n_records", "n_responses",
        "n_requests", "sum_payload", "sum_uri_len", "checksum")
  }

  /** Synthesize → strictly re-frame a WARC shard per document. */
  def warcParse(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // fan the 8-byte id stream to full width before the parse loop —
    // at test SF the corpus is ONE parquet split and the synth+parse
    // work would serialize on a single task (the multimodal_mjpeg
    // finding; one shared policy in Multimodal.fannedIds)
    Multimodal.fannedIds(s, d)
      .mapPartitions(_.map { id =>
        val (nr, nresp, nreq, sp, su, ck) = parseWarc(warcBytes(id))
        (id, nr, nresp, nreq, sp, su, ck)
      })
      .toDF("asset_id", "n_records", "n_responses", "n_requests",
        "sum_payload", "sum_uri_len", "checksum")
  }

  // ---------------------------------------------------------------
  // HTML main-text extraction
  // ---------------------------------------------------------------

  /** Words per <p> block. */
  private val WordsPerPara = 12

  /** ceil(nWords / WordsPerPara) — ONE definition shared by the page
    * synthesis and the n_paras output column, so the reported count
    * can never drift from the page actually synthesized. (Column./ is
    * DOUBLE division — floor+cast for the integral ceil-div that
    * sequence() needs.) */
  private def nParasOf(textCol: Column): Column =
    floor((size(split(textCol, " ")) + lit(WordsPerPara - 1)) /
      lit(WordsPerPara)).cast("int")

  /** Page synthesis: the real document text split into <p> blocks
    * inside <main>, wrapped in adversarial chrome — a <script> with
    * bare `<`/`>` (tags-only strippers corrupt on it), a <footer>
    * containing its own <p> (block removal must precede paragraph
    * harvesting), entities in the nav/footer, an HTML comment that
    * CONTAINS tags and an entity (r10 verdict: the `<[^>]*>` strip
    * alone eats `<!-- <p>` as one tag and leaks the comment text), a
    * conditional comment, a CDATA section holding raw `<`/`>`/`&`,
    * and every inter-word space inside the paragraphs spelled as a
    * NUMERIC character reference (`&#32;` on even paragraphs,
    * `&#x20;` on odd) — bit-exact recovery now requires real
    * comment/CDATA removal and a real decimal+hex reference decoder,
    * not just the five named entities. */
  private[graft] def htmlOf(idCol: Column, textCol: Column,
      langCol: Column, srcCol: Column): Column = {
    val words = split(textCol, " ")
    val nParas = nParasOf(textCol)
    val paras = array_join(
      transform(sequence(lit(0), nParas - 1), i =>
        concat(lit("<p>"),
          regexp_replace(
            array_join(slice(words, i * WordsPerPara + 1, lit(WordsPerPara)), " "),
            lit(" "),
            when(i % 2 === 0, lit("&#32;")).otherwise(lit("&#x20;"))),
          lit("</p>"))), "")
    // head metadata (r12): the real document attributes a crawl
    // pipeline keys language/domain decisions off — lang on <html>,
    // <title>, description = the first five words, og:title — plus a
    // DECOY description inside a head comment BEFORE the real one, so
    // a metadata extractor that skips comment removal returns the
    // decoy and fails the oracle (the main-text discipline applied to
    // the head)
    concat(
      lit("<!DOCTYPE html><html lang=\""), langCol,
      lit("\"><head><title>Doc "), idCol,
      lit("</title>" +
        "<!-- <meta name=\"description\" content=\"decoy must not win\"> -->" +
        "<meta name=\"description\" content=\""),
      array_join(slice(words, 1, 5), " "),
      lit("\"><meta property=\"og:title\" content=\"doc "), idCol,
      lit(" @ "), srcCol,
      lit("\"><!--[if IE]><link rel=\"x\" href=\"/ie.css\"><![endif]-->" +
        "<style>body{color:#000;font-size:14px}</style>" +
        "<script>var x=1&amp;&amp;2;if(x<3){x=4>2?1:0;}</script>" +
        "</head><body><nav><ul><li><a href=\"/\">home &gt; docs</a>" +
        "</li></ul></nav><header><h1>doc "), idCol,
      lit("</h1></header>" +
        "<!-- <p>commented-out boilerplate &#65; must not leak</p> -->" +
        "<main>"), paras,
      lit("</main><![CDATA[ raw < junk > &#66; & more ]]>" +
        "<footer><p>&copy; 2026 example&nbsp;corp &amp; " +
        "partners</p></footer></body></html>"))
  }

  /** SINGLE-PASS character-reference decode — named (the common five)
    * and numeric (decimal + hex, full Unicode via
    * [[graft.functions.codepointChar]]; Spark's own `chr()` wraps code
    * points at 256) in ONE split-and-stitch: a zero-width-lookahead
    * split puts every `&` at a segment head, each segment decodes AT
    * MOST its head reference, and decoded output is NEVER rescanned —
    * the browser contract. Sequential regexp_replace passes cannot do
    * this: with numeric-then-named, `&#38;lt;` (browser: the literal
    * text `&lt;`) double-decodes to `<`; with named-then-numeric,
    * `&amp;#65;` (browser: `&#65;`) double-decodes to `A`. Here both
    * come out browser-correct, because the tail of a decoded segment
    * passes through verbatim. Leading zeros are stripped before the
    * digit-count bound, so any-length zero padding decodes the way a
    * browser accepts it (`&#0000065;` → `A`, `&#x0010FFFF;` works);
    * `&nbsp;` decodes to the real U+00A0 (extractMainText's
    * whitespace collapse includes   in its class, so main-text
    * nbsp still normalizes). Malformed or out-of-range references
    * (no digits, missing `;`, surrogate, past U+10FFFF, unknown name)
    * survive unchanged: the lenient-browser contract. */
  private[graft] def decodeEntities(c: Column): Column = {
    val segs = split(c, "(?=&)")
    array_join(transform(segs, seg => {
      val dec = regexp_extract(seg, "^&#0*([0-9]{1,7});", 1)
      val hex = regexp_extract(seg, "^&#[xX]0*([0-9a-fA-F]{1,6});", 1)
      val code = when(dec =!= "", dec.cast("int"))
        .when(hex =!= "", conv(hex, 16, 10).cast("int"))
      val numValid = code.isNotNull && code <= lit(0x10FFFF) &&
        !(code >= lit(0xD800) && code <= lit(0xDFFF))
      val numWhole = regexp_extract(seg,
        "^&#(?:0*[0-9]{1,7}|[xX]0*[0-9a-fA-F]{1,6});", 0)
      def named(entity: String, repl: String): (Column, Column) =
        (startswith(seg, lit(entity)), concat(lit(repl),
          seg.substr(lit(entity.length + 1), length(seg))))
      val cases = Seq(
        named("&lt;", "<"), named("&gt;", ">"), named("&amp;", "&"),
        named("&nbsp;", " "), named("&copy;", "©"))
      cases.foldLeft(
        when(numValid,
          concat(graft.functions.codepointChar(code),
            seg.substr(length(numWhole) + 1, length(seg))))) {
        case (acc, (cond, repl)) => acc.when(cond, repl)
      }.otherwise(seg)
    }), "")
  }

  /** The extractor: comment/CDATA removal, block-level boilerplate
    * removal, tag strip, entity decode (named + numeric), whitespace
    * collapse. Pure codegen'd built-ins plus one native codegen
    * Expression (codepoint_char). */
  private[graft] def extractMainText(html: Column): Column = {
    // 0. comments and CDATA sections die FIRST — a comment may contain
    //    tags (`<!-- <p>x</p> -->`): the bare tag strip would eat
    //    `<!-- <p>` as ONE tag and leak "x</p> -->" into the text; a
    //    CDATA section may contain bare < > & that would corrupt every
    //    later stage. (Assumes comments don't nest inside scripts —
    //    true of the synthesized page; a full HTML5 tokenizer is out
    //    of scope by design.)
    val noComments = regexp_replace(html,
      "(?s)<!--.*?-->|<!\\[CDATA\\[.*?\\]\\]>", " ")
    // 1. script/style bodies are NOT text — drop whole blocks
    val noScript = regexp_replace(noComments,
      "(?s)<script\\b[^>]*>.*?</script>|<style\\b[^>]*>.*?</style>", " ")
    // 2. the whole <head> (title text is NOT page text — the classic
    //    naive-stripper leak) and chrome blocks are boilerplate; the
    //    \b keeps <head…> from also swallowing <header…> prefixes
    val noChrome = regexp_replace(noScript,
      "(?s)<head\\b[^>]*>.*?</head>|<nav\\b[^>]*>.*?</nav>" +
        "|<header\\b[^>]*>.*?</header>|<footer\\b[^>]*>.*?</footer>" +
        "|<aside\\b[^>]*>.*?</aside>", " ")
    // 3. remaining tags become whitespace (so adjacent <p> blocks
    //    don't glue their words together)
    val noTags = regexp_replace(noChrome, "<[^>]*>", " ")
    // 4. named + numeric character references in ONE single-pass
    //    decode (see decodeEntities: sequential replace passes
    //    double-decode one direction or the other)
    val decoded = decodeEntities(noTags)
    // 5. whitespace collapse + trim — the class includes U+00A0 so a
    //    decoded &nbsp; (or a genuine no-break space in the source)
    //    normalizes like every other space; Java's \s alone is ASCII
    trim(regexp_replace(decoded, "[\\s\\u00A0]+", " "))
  }

  /** documents → synthesized page → extracted main text; the sha
    * pins bit-exact recovery of the original text. */
  def htmlExtract(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val html = htmlOf(col("doc_id"), col("text"), col("lang"), col("source"))
    val extracted = extractMainText(html)
    docs.select(
      col("doc_id"),
      nParasOf(col("text")).cast("long").as("n_paras"),
      length(extracted).cast("long").as("n_chars"),
      sha2(extracted, 256).as("extracted_sha"))
  }

  /** Structured-metadata extraction (r12) — the head fields a crawl
    * pipeline keys language/domain/routing decisions off BEFORE any
    * main-text work: <html lang>, <title>, <meta name="description">,
    * <meta property="og:title">. Comments die first (the synthesized
    * head carries a decoy description inside a comment BEFORE the
    * real tag — a regex extractor that skips comment removal returns
    * the decoy and hash-fails), then each field is one anchored
    * codegen'd regexp_extract. Map-only, zero exchanges; the oracle
    * states all four fields from the construction rules literally. */
  def htmlMetadata(s: SparkSession, d: String): DataFrame = {
    val html = htmlOf(col("doc_id"), col("text"), col("lang"), col("source"))
    val clean = regexp_replace(html,
      "(?s)<!--.*?-->|<!\\[CDATA\\[.*?\\]\\]>", " ")
    documents(s, d).select(
      col("doc_id"),
      regexp_extract(clean, "<html lang=\"([a-z]+)\"", 1).as("meta_lang"),
      regexp_extract(clean, "<title>([^<]*)</title>", 1).as("title"),
      regexp_extract(clean,
        "<meta name=\"description\" content=\"([^\"]*)\"", 1).as("description"),
      regexp_extract(clean,
        "<meta property=\"og:title\" content=\"([^\"]*)\"", 1).as("og_title"))
  }

  // ---------------------------------------------------------------
  // WET extraction (r11): WARC → text, the actual composition
  // ---------------------------------------------------------------

  /** WET extraction — the step Common Crawl's WET files ARE: a WARC
    * shard whose response payloads hold fetched HTML is re-framed,
    * each response payload is taken, and boilerplate removal recovers
    * the plain text. Exercises the two r10/r11 web operators as one
    * PIPELINE rather than in isolation: codegen'd page+shard synthesis
    * (the response payload is the full adversarial HTML page, framed
    * with a BYTE-exact Content-Length — octet_length, not char
    * length, or any multi-byte char breaks the framing) → strict
    * per-partition WARC re-frame (the shared walker) → codegen'd
    * extraction. The sha oracle pins bit-exact recovery of the
    * document text through the WHOLE chain; n_records pins the
    * framing. Map-only aside from the gated single-split fan-out. */
  def warcWet(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val info = "software: graft\r\n"
    val html = htmlOf(col("doc_id"), col("text"), col("lang"), col("source"))
    val response = concat(
      lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: " +
        "https://example.com/doc"),
      col("doc_id").cast("string"),
      lit("\r\nContent-Type: text/html\r\nContent-Length: "),
      octet_length(html).cast("string"),
      lit("\r\n\r\n"), html, lit("\r\n\r\n"))
    val shard = concat(
      lit("WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: " +
        s"${info.getBytes("UTF-8").length}\r\n\r\n$info\r\n\r\n"),
      response)
    val src = documents(s, d)
      .select(col("doc_id"), shard.as("shard")).as[(Long, String)]
    // gated full-width fan-out before the parse loop (this shuffle
    // carries the shard payload; shared gate: Multimodal.fanWhenNarrow)
    val parsed = Multimodal.fanWhenNarrow(s, src)
      .mapPartitions(_.map { case (id, sh) =>
        val bytes = sh.getBytes("UTF-8")
        val recs = warcRecords(bytes)
        val resp = recs.filter(_._1 == "response")
        require(resp.size == 1, s"expected 1 response, got ${resp.size}")
        val (_, _, start, len) = resp.head
        (id, recs.size.toLong, new String(bytes, start, len, "UTF-8"))
      })
      .toDF("doc_id", "n_records", "payload")
    val wet = extractMainText(col("payload"))
    parsed.select(col("doc_id"), col("n_records"),
      length(wet).cast("long").as("n_chars"),
      sha2(wet, 256).as("wet_sha"))
  }

  // ---------------------------------------------------------------
  // URL canonicalization dedup
  // ---------------------------------------------------------------

  /** RFC 3986 §2.3 unreserved characters — the ONLY percent-escapes a
    * canonicalizer may decode (decoding a reserved escape like %2F
    * would change which resource the URL names). */
  private def isUnreserved(code: Column): Column =
    (code >= 48 && code <= 57) || (code >= 65 && code <= 90) ||
      (code >= 97 && code <= 122) ||
      code.isin(45, 46, 95, 126) // - . _ ~

  /** Percent-encoding normalization (RFC 3986 §6.2.2.1–2): decode
    * escapes of UNRESERVED characters (`%41`→`A`, `%7E`→`~` — they
    * never needed encoding), uppercase the hex of every other escape
    * (`%2f`→`%2F` — reserved escapes stay escaped but get one
    * spelling). Same zero-width-lookahead split-and-stitch as the
    * numeric-entity decoder; stray `%` not followed by two hex digits
    * passes through verbatim. */
  private[graft] def pctNormalize(c: Column): Column = {
    val segs = split(c, "(?=%)")
    array_join(transform(segs, seg => {
      val hx = upper(regexp_extract(seg, "^%([0-9a-fA-F]{2})", 1))
      val rest = seg.substr(lit(4), length(seg))
      when(hx === "", seg).otherwise({
        val code = conv(hx, 16, 10).cast("int")
        when(isUnreserved(code),
          concat(graft.functions.codepointChar(code), rest))
          .otherwise(concat(lit("%"), hx, rest))
      })
    }), "")
  }

  /** The FIRST dedup a web pipeline runs — long before any content
    * hashing: the same resource arrives under many URL spellings
    * (mixed-case host, explicit default port, unsorted query params,
    * trailing slash, fragments, percent-escape variants, bare `?`),
    * and canonicalizing before grouping collapses them for free. Per
    * document a messy variant is synthesized (the variants co-rotate
    * on doc_id moduli), then genuinely normalized with codegen'd
    * string surgery: fragment strip, host lowercase, default-port
    * strip, trailing-slash strip, percent-encoding normalization
    * (unreserved decode + uppercase hex, r11), empty-query strip
    * (r11), query-param SORT. Groups on the canonical key — ONE
    * exchange at any scale, and the key is the short canonical URL,
    * never the document payload. If any normalization step breaks, a
    * group splits and both its count and its min-doc keeper shift. */
  def urlCanonDedup(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val messy = concat(
      lit("https://"),
      when(id % 2 === 0, lit("ExAmple.COM")).otherwise(lit("example.com")),
      when(id % 3 === 0, lit(":443")).otherwise(lit("")),
      // %41 = 'A' (unreserved — must DECODE, hex case co-rotates);
      // %2f = '/' (reserved — must stay escaped, hex must UPPERCASE);
      // %7e = '~' (unreserved, the classic home-dir variant)
      when(id % 2 === 0, lit("/d%41ta/")).otherwise(lit("/dAta/")),
      (id % 50).cast("string"),
      when(id % 5 === 0, lit("/x%2fy")).otherwise(lit("/x%2Fy")),
      when(id % 3 === 0, lit("/%7e"))
        .when(id % 3 === 1, lit("/%7E")).otherwise(lit("/~")),
      when(id % 5 === 0, lit("/")).otherwise(lit("")),
      // the bare-? class canonicalizes to NO query — its own groups
      when(id % 13 === 0, lit("?"))
        .when(id % 2 === 0, lit("?b=2&a=1")).otherwise(lit("?a=1&b=2")),
      when(id % 7 === 0, lit("#sec")).otherwise(lit("")))
    val noFrag = regexp_replace(messy, "#.*$", "")
    val host = lower(regexp_extract(noFrag, "^[a-z]+://([^/?#]+)", 1))
    val hostNoPort = regexp_replace(host, ":443$", "")
    val path = regexp_extract(noFrag, "^[a-z]+://[^/?#]+([^?#]*)", 1)
    val pathNorm = pctNormalize(regexp_replace(path, "/$", ""))
    val query = regexp_extract(noFrag, "\\?(.*)$", 1)
    val qNorm = when(query === "", lit("")).otherwise(
      concat(lit("?"),
        array_join(sort_array(split(pctNormalize(query), "&")), "&")))
    val canon = concat(lit("https://"), hostNoPort, pathNorm, qNorm)
    documents(s, d)
      .select(id, canon.as("canon_url"))
      .groupBy(col("canon_url"))
      .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keeper"))
  }

  // ---------------------------------------------------------------
  // Per-registered-domain document caps (PSL mechanics)
  // ---------------------------------------------------------------

  /** PSL-lite public-suffix set: enough to exercise the real
    * mechanics — a 2-level ccTLD suffix (`co.uk`, where the naive
    * "last two labels" rule returns the WRONG registered domain) and
    * a private-section entry (`blogspot.com`, where every user
    * subdomain is its own registrant — the exact case domain caps
    * exist to get right: capping all of blogspot as one site would
    * throw away unrelated authors). */
  private val PublicSuffixes = Seq("com", "org", "uk", "co.uk", "blogspot.com")

  /** Registered domain (eTLD+1): longest public suffix matching the
    * host's tail, plus one label. Pure codegen'd array surgery —
    * negative-index slice takes the last j labels, the longest match
    * wins by the when-chain order. Hosts fold to lower case FIRST
    * (DNS names are case-insensitive; URLs legally carry mixed-case
    * hosts), so `WWW.Sample.CO.UK` reaches the same registrant as
    * `www.sample.co.uk` instead of falling through to the identity
    * fallback — idempotent for callers that already lowercased. */
  private[graft] def registeredDomain(host: Column): Column = {
    val h = lower(host)
    val labels = split(h, "\\.")
    def lastJ(j: Int): Column = array_join(slice(labels, -j, j), ".")
    val widths = PublicSuffixes.map(_.count(_ == '.') + 1).distinct
      .sorted(Ordering[Int].reverse) // longest suffix first
    val matched = widths.foldLeft(lit(null).cast("string")) { (acc, j) =>
      coalesce(acc,
        when(size(labels) > j &&
          array_contains(typedlit(PublicSuffixes), lastJ(j)), lastJ(j + 1)))
    }
    // a host that matches no suffix (or IS a bare suffix) stands for
    // itself — the PSL's own fallback rule
    coalesce(matched, h)
  }

  /** Per-registered-domain document caps — the C4/Dolma curation rule
    * that stops one crawl-heavy site from dominating the corpus:
    * group documents by eTLD+1 (NOT raw host — `a.example.com` and
    * `b.example.com` are one site; `x0.blogspot.com` and
    * `x1.blogspot.com` are NOT), rank within the domain by doc_id,
    * keep the first `cap`. Output is per-domain: total, kept, the
    * keeper, and the LAST kept id (pins that the kept set is the cap
    * lowest ids, i.e. the ordering semantics, not just the count).
    * One exchange on the registered domain; the window reuses that
    * partitioning. Skew note for 100 TB: a mega-domain makes the
    * per-domain rank a single-reducer hotspot — the skew-safe
    * spelling is the engine's TopKPerKey operator (plans/TopKPerKey,
    * board id `topk_per_key`), which keeps only `cap` rows per key in
    * each partial before the shuffle; at board SF the window is the
    * right cost. */
  def urlDomainCap(s: SparkSession, d: String, cap: Int = 5): DataFrame = {
    val id = col("doc_id")
    val host = when(id % 6 === 0,
        concat(lit("a"), (id % 7).cast("string"), lit(".example.com")))
      .when(id % 6 === 1, lit("www.sample.co.uk"))
      .when(id % 6 === 2, lit("b.news.sample.co.uk"))
      .when(id % 6 === 3, lit("cdn.photos.org"))
      .when(id % 6 === 4, lit("photos.org"))
      // % 5 is coprime to the % 6 class rotation, so all five
      // blogspot registrants actually occur (id % 3 would collapse to
      // one: class-5 ids are ≡ 5 mod 6, hence ≡ 2 mod 3)
      .otherwise(concat(lit("x"), (id % 5).cast("string"), lit(".blogspot.com")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("rd")).orderBy(col("doc_id"))
    documents(s, d)
      .select(id, registeredDomain(host).as("rd"))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("rd").as("registered_domain"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rn") <= cap, 1L).otherwise(0L)).as("n_kept"),
        min(col("doc_id")).as("keeper"),
        max(when(col("rn") <= cap, col("doc_id"))).as("last_kept"))
  }

  // ---------------------------------------------------------------
  // robots.txt exclusion filter (RFC 9309)
  // ---------------------------------------------------------------

  /** The crawl-policy rule set: (rule-as-written, allow?) pairs. One
    * Allow overriding a Disallow prefix, an equal-length Allow/
    * Disallow tie (Allow must win, RFC 9309 §2.2.2), a `*` wildcard
    * rule, and a `$` end-anchor rule — the four matching behaviors a
    * real robots.txt exercises. */
  private val RobotsRules: Seq[(String, Int)] = Seq(
    "/private"    -> 0,
    "/private/ok" -> 1,
    "/tmp"        -> 0,
    "/equal"      -> 0,
    "/equal"      -> 1, // same length as the Disallow — Allow wins ties
    "/img/*.bin"  -> 0,
    "/exact$"     -> 0)

  /** RFC 9309 rule → anchored regex: `*` is any run, `$` (final only)
    * pins the path end, everything else is literal; without `$` the
    * rule is a PREFIX match (path may continue). */
  private def robotsRegex(rule: String): String = {
    val anchored = rule.endsWith("$")
    val core = if (anchored) rule.dropRight(1) else rule
    val esc = core.flatMap {
      case '*'                                  => ".*"
      case c if "\\.[]{}()+-^$|?".contains(c)   => "\\" + c
      case c                                    => c.toString
    }
    "^" + esc + (if (anchored) "$" else "")
  }

  /** robots.txt exclusion filter — the crawl-POLICY gate that runs
    * between URL canonicalization and fetch (a pipeline that ignores
    * it ships data it was asked not to take). Longest-match-wins per
    * RFC 9309 (§2.2.2: most octets of the rule as written; Allow wins
    * an equal-length tie), spelled as a verdict KEY — 2·len + allow —
    * folded with greatest() over the static rule list, so the whole
    * decision is one codegen'd expression chain per row: zero
    * exchanges, zero UDFs, rule regexes compiled once at plan time.
    * Nine co-rotating path classes cover every rule interaction
    * (override, tie, wildcard, end-anchor, anchor-miss, no-match
    * default-allow); the oracle states each class's verdict and
    * matched-rule length literally. */
  def urlRobotsFilter(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val k = (id % 10).cast("string")
    val cls = id % 9
    val path = when(cls === 0, concat(lit("/public/a"), k))
      .when(cls === 1, concat(lit("/private/x"), k))
      .when(cls === 2, concat(lit("/private/ok/y"), k))
      .when(cls === 3, concat(lit("/tmp/z"), k))
      .when(cls === 4, lit("/"))
      .when(cls === 5, concat(lit("/equal/w"), k))
      .when(cls === 6, concat(lit("/img/p"), k, lit(".bin")))
      .when(cls === 7, lit("/exact"))
      .otherwise(lit("/exactish"))
    documents(s, d)
      .select(id, path.as("path"))
      .withColumn("verdict_key",
        RobotsRules.foldLeft(lit(-1)) { case (acc, (rule, allow)) =>
          greatest(acc,
            when(col("path").rlike(robotsRegex(rule)),
              lit(rule.length * 2 + allow)).otherwise(lit(-1)))
        })
      .select(id, col("path"),
        when(col("verdict_key") < 0, lit(1L))
          .otherwise(pmod(col("verdict_key"), lit(2)).cast("long"))
          .as("allowed"),
        when(col("verdict_key") < 0, lit(0L))
          .otherwise(expr("verdict_key div 2")).as("match_len"))
  }

  val registry: Map[String, QueryDef] = Map(
    // the WARC construction replayed arithmetically: record counts
    // from the fetch rule, response payload sums/bytes from the size/
    // byte rules, URI lengths from the string rule, and a (fetch,
    // position)-weighted checksum a one-byte framing slip shifts
    "warc_parse" -> QueryDef(warcParse _,
      """WITH a AS (
          SELECT doc_id, 1 + doc_id % 3 AS nf FROM documents),
        f AS (
          SELECT a.doc_id, u.r,
            20 + (a.doc_id * 31 + u.r * 7) % 180 AS sz,
            length('https://example.com/doc' || a.doc_id || '/' || u.r)
              AS ulen
          FROM a, unnest(generate_series(0, a.nf - 1)) AS u(r)),
        ff AS (
          SELECT doc_id, count(*) AS nresp, sum(sz) AS sp,
            sum(ulen) AS su
          FROM f GROUP BY doc_id),
        bb AS (
          SELECT f.doc_id,
            sum((f.r + 1) * (v.i + 1)
              * ((f.doc_id * 17 + f.r * 5 + v.i * 13) % 251)) AS ck
          FROM f, unnest(generate_series(0, f.sz - 1)) AS v(i)
          GROUP BY f.doc_id)
        SELECT ff.doc_id AS asset_id,
          CAST(1 + 2 * ff.nresp AS BIGINT) AS n_records,
          CAST(ff.nresp AS BIGINT) AS n_responses,
          CAST(ff.nresp AS BIGINT) AS n_requests,
          CAST(ff.sp AS BIGINT) AS sum_payload,
          CAST(ff.su AS BIGINT) AS sum_uri_len,
          CAST(bb.ck AS BIGINT) AS checksum
        FROM ff JOIN bb ON bb.doc_id = ff.doc_id"""),
    // the gzip'd layout replays the SAME arithmetic as warc_parse —
    // compression must change nothing about the recovered records —
    // plus n_members == n_records (one gzip member per record, the
    // random-access contract the parser `require`s)
    "warc_gzip" -> QueryDef(warcGzip _,
      """WITH a AS (
          SELECT doc_id, 1 + doc_id % 3 AS nf FROM documents),
        f AS (
          SELECT a.doc_id, u.r,
            20 + (a.doc_id * 31 + u.r * 7) % 180 AS sz,
            length('https://example.com/doc' || a.doc_id || '/' || u.r)
              AS ulen
          FROM a, unnest(generate_series(0, a.nf - 1)) AS u(r)),
        ff AS (
          SELECT doc_id, count(*) AS nresp, sum(sz) AS sp,
            sum(ulen) AS su
          FROM f GROUP BY doc_id),
        bb AS (
          SELECT f.doc_id,
            sum((f.r + 1) * (v.i + 1)
              * ((f.doc_id * 17 + f.r * 5 + v.i * 13) % 251)) AS ck
          FROM f, unnest(generate_series(0, f.sz - 1)) AS v(i)
          GROUP BY f.doc_id)
        SELECT ff.doc_id AS asset_id,
          CAST(1 + 2 * ff.nresp AS BIGINT) AS n_members,
          CAST(1 + 2 * ff.nresp AS BIGINT) AS n_records,
          CAST(ff.nresp AS BIGINT) AS n_responses,
          CAST(ff.nresp AS BIGINT) AS n_requests,
          CAST(ff.sp AS BIGINT) AS sum_payload,
          CAST(ff.su AS BIGINT) AS sum_uri_len,
          CAST(bb.ck AS BIGINT) AS checksum
        FROM ff JOIN bb ON bb.doc_id = ff.doc_id"""),
    // the WET pipeline end-to-end: framing pinned by n_records,
    // extraction pinned by bit-exact recovery of the document text
    // through synth -> WARC framing -> re-frame -> extraction
    "warc_wet" -> QueryDef(warcWet _,
      """SELECT doc_id,
          CAST(2 AS BIGINT) AS n_records,
          CAST(length(text) AS BIGINT) AS n_chars,
          sha256(text) AS wet_sha
        FROM documents"""),
    // bit-exact recovery: the extractor must hand back EXACTLY the
    // original document text (sha + length), and the paragraph count
    // replays the 12-words-per-<p> synthesis rule. CORPUS
    // PRECONDITION (spec-guarded in AnalyticsSpec): doc text contains
    // no '<' '>' '&' and no repeated/non-space whitespace — otherwise
    // the synth/extract round trip is not the identity and the sha
    // mismatch would be a corpus artifact, not an extractor bug
    // every messy variant of path-group k canonicalizes to ONE fixed
    // spelling — the oracle states that spelling literally (unreserved
    // escapes decoded, reserved escape %2F uppercased-but-kept, ~
    // decoded, bare-? docs in their own no-query groups), so a broken
    // normalization step splits a group and fails all three columns
    // eTLD+1 grouping stated literally per host class (the co.uk
    // 2-level suffix folds two host classes into one registrant;
    // blogspot subdomains stay separate registrants); last_kept pins
    // the kept set is the cap lowest doc_ids, not just the count
    "url_domain_cap" -> QueryDef(urlDomainCap(_, _),
      """WITH u AS (
          SELECT doc_id,
            CASE CAST(doc_id % 6 AS INT)
              WHEN 0 THEN 'example.com'
              WHEN 1 THEN 'sample.co.uk'
              WHEN 2 THEN 'sample.co.uk'
              WHEN 3 THEN 'photos.org'
              WHEN 4 THEN 'photos.org'
              ELSE 'x' || (doc_id % 5) || '.blogspot.com' END AS rd
          FROM documents),
        r AS (
          SELECT doc_id, rd,
            row_number() OVER (PARTITION BY rd ORDER BY doc_id) AS rn
          FROM u)
        SELECT rd AS registered_domain,
          CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(CASE WHEN rn <= 5 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_kept,
          CAST(min(doc_id) AS BIGINT) AS keeper,
          CAST(max(CASE WHEN rn <= 5 THEN doc_id END) AS BIGINT)
            AS last_kept
        FROM r GROUP BY rd"""),
    // every path class's verdict and matched-rule length stated
    // literally: override (class 2: Allow /private/ok beats Disallow
    // /private), equal-length tie (5: Allow wins), wildcard (6),
    // end-anchor hit (7) and miss (8), default-allow (0, 4)
    "url_robots_filter" -> QueryDef(urlRobotsFilter _,
      """SELECT doc_id,
          CASE CAST(doc_id % 9 AS INT)
            WHEN 0 THEN '/public/a' || (doc_id % 10)
            WHEN 1 THEN '/private/x' || (doc_id % 10)
            WHEN 2 THEN '/private/ok/y' || (doc_id % 10)
            WHEN 3 THEN '/tmp/z' || (doc_id % 10)
            WHEN 4 THEN '/'
            WHEN 5 THEN '/equal/w' || (doc_id % 10)
            WHEN 6 THEN '/img/p' || (doc_id % 10) || '.bin'
            WHEN 7 THEN '/exact'
            ELSE '/exactish' END AS path,
          CAST(CASE CAST(doc_id % 9 AS INT)
            WHEN 1 THEN 0 WHEN 3 THEN 0 WHEN 6 THEN 0 WHEN 7 THEN 0
            ELSE 1 END AS BIGINT) AS allowed,
          CAST(CASE CAST(doc_id % 9 AS INT)
            WHEN 1 THEN 8 WHEN 2 THEN 11 WHEN 3 THEN 4 WHEN 5 THEN 6
            WHEN 6 THEN 10 WHEN 7 THEN 7 ELSE 0 END AS BIGINT)
            AS match_len
        FROM documents"""),
    "url_canon_dedup" -> QueryDef(urlCanonDedup _,
      """SELECT 'https://example.com/dAta/' || (doc_id % 50)
            || '/x%2Fy/~'
            || CASE WHEN doc_id % 13 = 0 THEN '' ELSE '?a=1&b=2' END
            AS canon_url,
          CAST(count(*) AS BIGINT) AS n_dups,
          CAST(min(doc_id) AS BIGINT) AS keeper
        FROM documents GROUP BY doc_id % 50, doc_id % 13 = 0"""),
    "text_html_extract" -> QueryDef(htmlExtract _,
      """SELECT doc_id,
          CAST((array_length(string_split(text, ' ')) + 11) // 12
            AS BIGINT) AS n_paras,
          CAST(length(text) AS BIGINT) AS n_chars,
          sha256(text) AS extracted_sha
        FROM documents"""),
    // all four head fields stated from the construction rules —
    // including the description (first five words), which the decoy
    // comment forces the extractor to recover via real comment
    // removal, not first-regex-match luck
    "html_metadata" -> QueryDef(htmlMetadata _,
      """SELECT doc_id,
          lang AS meta_lang,
          'Doc ' || doc_id AS title,
          array_to_string(string_split(text, ' ')[1:5], ' ')
            AS description,
          'doc ' || doc_id || ' @ ' || source AS og_title
        FROM documents"""),
  )
}
