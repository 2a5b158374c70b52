package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** WARC ingest — the front door of a real crawl pipeline (ISO 28500 /
  * the published WARC 1.0/1.1 record layout, the format Common-Crawl-
  * style corpora ship in). A WARC file is a concatenation of records:
  *
  * {{{
  *   WARC/1.0\r\n
  *   <name>: <value>\r\n ...          (WARC-Type, WARC-Target-URI,
  *   \r\n                              Content-Type, Content-Length)
  *   <Content-Length payload bytes>
  *   \r\n\r\n
  * }}}
  *
  * optionally with each record its own GZIP MEMBER (RFC 1952 header +
  * deflate body + crc/isize trailer — the `.warc.gz` convention). A
  * `response` record's payload is an HTTP/1.1 message whose body is the
  * page the text pipeline consumes: [[extract]] walks the records,
  * inflates gzip members, parses the HTTP envelope of the first
  * complete response, and hands the HTML body to the existing
  * `html_extract` chain ([[warcExtractQuery]]).
  *
  * Scale posture: the walk is ROW-LOCAL (same mapPartitions byte-walk
  * discipline as [[Multimodal.decode]] — reference semantics
  * `dataforge-core` has no crawl ingest; this is §2.11 extension
  * surface): binary never crosses an exchange, only the small parsed
  * struct survives projection — zero shuffles, scan-bound
  * (PlanShapeSpec pin). Malformed input NEVER throws: garbage files
  * yield zero counts and null fields; a record whose declared
  * Content-Length overruns the buffer counts as truncated and ends the
  * walk (the standard tail-corruption mode of a crawl shard).
  */
object Warc {

  // ------------------------------------------------------------ fixture
  // Shared page literals — the oracle arithmetic is GENERATED from these
  // (the plant-contract discipline: the engine parses real bytes, the
  // oracle recomputes expected outputs from the generation contract).

  private[graft] val p1a = "<html><head><title>d"
  private[graft] val p1b = "</title></head><body>"
  private[graft] val linkTexts =
    Seq("home page link", "about the team pages", "contact and support desk")
  private[graft] val navHtml =
    "<div class=\"nav\"><a href=\"/a\">" + linkTexts(0) +
      "</a> <a href=\"/about\">" + linkTexts(1) +
      "</a> <a href=\"/contact\">" + linkTexts(2) + "</a></div>"
  private[graft] val navText = linkTexts.mkString(" ")
  private[graft] val footerText = "&copy; 2031 example site"
  private[graft] val footerHtml =
    "<div class=\"footer\">" + footerText + "</div></body></html>"
  private[graft] def enSentence: String =
    graft.functions.StopwordProfiles.sentence("en")

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** The response page for one document: title (short — drops), a
    * link-saturated nav (drops: link density), the en profile sentence
    * (keeps: 10/10 stopwords), one `<p>` per raw text line
    * (entity-escaped; kept by the standard length+stopword rules), the
    * short footer (drops: length).
    */
  private[graft] def pageHtml(id: Long, text: String): String = {
    val sb = new java.lang.StringBuilder()
    sb.append(p1a).append(id).append(p1b).append(navHtml)
    sb.append("<p>").append(enSentence).append("</p>")
    text.split("\n", -1).foreach { l =>
      sb.append("<p>").append(esc(l)).append("</p>")
    }
    sb.append(footerHtml)
    sb.toString
  }

  private val crlf2 = "\r\n\r\n".getBytes("US-ASCII")

  private def recordBytes(typ: String, id: Long, uri: Option[String],
      ctype: String, payload: Array[Byte]): Array[Byte] = {
    val sb = new java.lang.StringBuilder()
    sb.append("WARC/1.0\r\n")
    sb.append("WARC-Type: ").append(typ).append("\r\n")
    sb.append("WARC-Record-ID: <urn:graft:").append(id).append(':')
      .append(typ).append(">\r\n")
    sb.append("WARC-Date: 2031-01-01T00:00:00Z\r\n")
    uri.foreach(u => sb.append("WARC-Target-URI: ").append(u).append("\r\n"))
    sb.append("Content-Type: ").append(ctype).append("\r\n")
    sb.append("Content-Length: ").append(payload.length).append("\r\n\r\n")
    val head = sb.toString.getBytes("UTF-8")
    val out = new Array[Byte](head.length + payload.length + 4)
    System.arraycopy(head, 0, out, 0, head.length)
    System.arraycopy(payload, 0, out, head.length, payload.length)
    System.arraycopy(crlf2, 0, out, head.length + payload.length, 4)
    out
  }

  private def gzip(bytes: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(bytes); g.close()
    bos.toByteArray
  }

  /** doc_id-arithmetic synthetic WARC fixture: per document a mini WARC
    * file of [warcinfo, request, response, metadata] records — the
    * response gzip-membered when doc_id%3==0, its HTTP status 404 when
    * doc_id%7==1 — plus a TRUNCATED response record at the tail when
    * doc_id%5==0 (declared Content-Length 4096, 10 bytes present);
    * doc_id%11==4 rows are garbage non-WARC bytes (the degrade-to-null
    * path). Every downstream field is derivable from doc_id and the raw
    * text by arithmetic BOTH engines can run ([[warcOracleSql]]).
    */
  def syntheticWarcFromDocs(docs: DataFrame): DataFrame = {
    val idIdx = docs.schema.fieldIndex("doc_id")
    val txtIdx = docs.schema.fieldIndex("text")
    val out = StructType(Seq(
      StructField("doc_id", docs.schema("doc_id").dataType),
      StructField("warc", BinaryType)))
    docs.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        val text = if (r.isNullAt(txtIdx)) "" else r.getString(txtIdx)
        val bos = new java.io.ByteArrayOutputStream()
        if (id % 11 == 4) {
          bos.write(s"NOT-A-WARC-FILE $id payload of plain bytes"
            .getBytes("UTF-8"))
        } else {
          val uri = s"http://example.com/doc/$id"
          bos.write(recordBytes("warcinfo", id, None,
            "application/warc-fields",
            "software: graft-crawler/1.0\r\n".getBytes("UTF-8")))
          bos.write(recordBytes("request", id, Some(uri),
            "application/http;msgtype=request",
            s"GET /doc/$id HTTP/1.1\r\nHost: example.com\r\n\r\n"
              .getBytes("UTF-8")))
          val body = pageHtml(id, text).getBytes("UTF-8")
          val status = if (id % 7 == 1) "404 Not Found" else "200 OK"
          val http = (s"HTTP/1.1 $status\r\n" +
            "Content-Type: text/html; charset=utf-8\r\n" +
            s"Content-Length: ${body.length}\r\n\r\n").getBytes("UTF-8") ++ body
          val resp = recordBytes("response", id, Some(uri),
            "application/http;msgtype=response", http)
          bos.write(if (id % 3 == 0) gzip(resp) else resp)
          bos.write(recordBytes("metadata", id, Some(uri),
            "application/warc-fields",
            "fetchTimeMs: 5\r\n".getBytes("UTF-8")))
          if (id % 5 == 0) {
            // truncated tail: header declares 4096 payload bytes, the
            // file ends after 10 — the standard torn-shard corruption
            bos.write(("WARC/1.0\r\nWARC-Type: response\r\n" +
              s"WARC-Target-URI: $uri\r\n" +
              "Content-Type: application/http;msgtype=response\r\n" +
              "Content-Length: 4096\r\n\r\n0123456789").getBytes("UTF-8"))
          }
        }
        Row(id, bos.toByteArray)
      }
    }(RowEncoder.encoderFor(out))
  }

  // ------------------------------------------------------------- parser

  /** One gzip member (RFC 1952): returns (inflated, bytesConsumed) or
    * null when the member is malformed. Handles the optional FEXTRA /
    * FNAME / FCOMMENT / FHCRC header fields real .warc.gz writers emit.
    */
  private def gunzipMember(buf: Array[Byte], off: Int): (Array[Byte], Int) = {
    val n = buf.length
    if (off + 10 > n || buf(off) != 0x1f.toByte || buf(off + 1) != 0x8b.toByte
        || buf(off + 2) != 8) return null
    val flg = buf(off + 3) & 0xff
    var p = off + 10
    if ((flg & 4) != 0) { // FEXTRA
      if (p + 2 > n) return null
      val xlen = (buf(p) & 0xff) | ((buf(p + 1) & 0xff) << 8)
      p += 2 + xlen
    }
    if ((flg & 8) != 0) { while (p < n && buf(p) != 0) p += 1; p += 1 } // FNAME
    if ((flg & 16) != 0) { while (p < n && buf(p) != 0) p += 1; p += 1 } // FCOMMENT
    if ((flg & 2) != 0) p += 2 // FHCRC
    if (p >= n) return null
    val inf = new java.util.zip.Inflater(true)
    try {
      inf.setInput(buf, p, n - p)
      val bos = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](8192)
      while (!inf.finished()) {
        val k = inf.inflate(tmp)
        if (k > 0) bos.write(tmp, 0, k)
        else if (inf.needsInput() || inf.needsDictionary()) return null
      }
      val consumed = p - off + inf.getBytesRead.toInt + 8 // + crc32/isize
      if (off + consumed > n) null else (bos.toByteArray, consumed)
    } catch {
      case _: java.util.zip.DataFormatException => null
    } finally inf.end()
  }

  /** A parsed record: `end` = offset just past the record (including
    * the optional \r\n\r\n separator); `truncated` = the declared
    * Content-Length overran the buffer; `ok` = header parse succeeded.
    */
  private final case class Rec(end: Int, typ: String, uri: String,
      payStart: Int, payLen: Int, truncated: Boolean, ok: Boolean)

  private def ascii(buf: Array[Byte], off: Int, s: String): Boolean = {
    if (off + s.length > buf.length) return false
    var i = 0
    while (i < s.length) {
      if (buf(off + i) != s.charAt(i).toByte) return false
      i += 1
    }
    true
  }

  /** Parse one WARC record at `off` in `buf` (already-inflated bytes). */
  private def parseRecord(buf: Array[Byte], off: Int): Rec = {
    val n = buf.length
    if (!ascii(buf, off, "WARC/")) return Rec(off, null, null, 0, 0, false, false)
    // header block runs to the first \r\n\r\n
    var he = off
    while (he + 3 < n && !(buf(he) == '\r' && buf(he + 1) == '\n' &&
      buf(he + 2) == '\r' && buf(he + 3) == '\n')) he += 1
    if (he + 3 >= n) return Rec(off, null, null, 0, 0, false, false)
    val head = new String(buf, off, he - off, "UTF-8")
    var typ: String = null; var uri: String = null; var clen = -1L
    head.split("\r\n").iterator.drop(1).foreach { line =>
      val c = line.indexOf(':')
      if (c > 0) {
        val name = line.substring(0, c).trim.toLowerCase(java.util.Locale.ROOT)
        val v = line.substring(c + 1).trim
        name match {
          case "warc-type" => typ = v
          case "warc-target-uri" => uri = v
          case "content-length" =>
            clen = try v.toLong catch { case _: NumberFormatException => -1L }
          case _ => ()
        }
      }
    }
    if (clen < 0 || typ == null) return Rec(off, null, null, 0, 0, false, false)
    val ps = he + 4
    if (ps + clen > n) return Rec(n, typ, uri, ps, 0, true, true)
    var end = ps + clen.toInt
    if (end + 4 <= n && buf(end) == '\r' && buf(end + 1) == '\n' &&
      buf(end + 2) == '\r' && buf(end + 3) == '\n') end += 4
    Rec(end, typ, uri, ps, clen.toInt, false, true)
  }

  /** HTTP response envelope parse within a record payload: returns
    * (status, contentType, bodyString) with nulls on malformation.
    */
  private def parseHttp(buf: Array[Byte], off: Int, len: Int)
      : (Integer, String, String) = {
    val n = off + len
    if (!ascii(buf, off, "HTTP/")) return (null, null, null)
    var he = off
    while (he + 3 < n && !(buf(he) == '\r' && buf(he + 1) == '\n' &&
      buf(he + 2) == '\r' && buf(he + 3) == '\n')) he += 1
    if (he + 3 >= n) return (null, null, null)
    val head = new String(buf, off, he - off, "UTF-8")
    val lines = head.split("\r\n")
    val parts = lines(0).split(" ", 3)
    val status: Integer =
      if (parts.length >= 2)
        try Integer.valueOf(parts(1)) catch { case _: NumberFormatException => null }
      else null
    var ctype: String = null
    lines.iterator.drop(1).foreach { line =>
      val c = line.indexOf(':')
      if (c > 0 && line.substring(0, c).trim
          .equalsIgnoreCase("content-type"))
        ctype = line.substring(c + 1).trim
    }
    (status, ctype, new String(buf, he + 4, n - (he + 4), "UTF-8"))
  }

  /** Walk one WARC file's bytes. Returns (n_records, n_responses,
    * n_requests, n_truncated, n_gzip, http_status, content_type,
    * target_uri, payload) — string fields from the FIRST complete
    * response record; a garbage/malformed prefix ends the walk with
    * whatever was counted so far.
    */
  def parseWarc(bytes: Array[Byte])
      : (Int, Int, Int, Int, Int, Integer, String, String, String) = {
    var p = 0
    val n = bytes.length
    var nRec = 0; var nResp = 0; var nReq = 0; var nTrunc = 0; var nGzip = 0
    var status: Integer = null; var ctype: String = null
    var uri: String = null; var payload: String = null
    var done = false
    while (!done && p < n) {
      var buf = bytes; var off = p; var consumed = 0
      if (p + 1 < n && bytes(p) == 0x1f.toByte && bytes(p + 1) == 0x8b.toByte) {
        gunzipMember(bytes, p) match {
          case null => done = true
          case (inflated, c) => buf = inflated; off = 0; consumed = c; nGzip += 1
        }
      }
      if (!done) {
        val r = parseRecord(buf, off)
        if (!r.ok) done = true
        else if (r.truncated) { nTrunc += 1; done = true }
        else {
          nRec += 1
          r.typ match {
            case "response" =>
              nResp += 1
              if (payload == null) {
                val (s, c, b) = parseHttp(buf, r.payStart, r.payLen)
                status = s; ctype = c; payload = b
                if (uri == null) uri = r.uri
              }
            case "request" => nReq += 1
            case _ => ()
          }
          p = if (consumed > 0) p + consumed else r.end
        }
      }
    }
    (nRec, nResp, nReq, nTrunc, nGzip, status, ctype, uri, payload)
  }

  // ----------------------------------------------------------- operator

  /** Record-walk projection: (doc_id, warc BINARY) → parsed stats +
    * the first response's HTML payload. Row-local, zero shuffles.
    */
  def extract(warcs: DataFrame, idCol: String = "doc_id",
      warcCol: String = "warc"): DataFrame = {
    val idIdx = warcs.schema.fieldIndex(idCol)
    val wIdx = warcs.schema.fieldIndex(warcCol)
    val out = StructType(Seq(
      StructField("doc_id", warcs.schema(idCol).dataType),
      StructField("n_records", IntegerType, nullable = false),
      StructField("n_responses", IntegerType, nullable = false),
      StructField("n_requests", IntegerType, nullable = false),
      StructField("n_truncated", IntegerType, nullable = false),
      StructField("n_gzip", IntegerType, nullable = false),
      StructField("http_status", IntegerType),
      StructField("content_type", StringType),
      StructField("target_uri", StringType),
      StructField("payload", StringType)))
    warcs.mapPartitions { rows =>
      rows.map { r =>
        val bytes =
          if (r.isNullAt(wIdx)) Array.emptyByteArray
          else r.getAs[Array[Byte]](wIdx)
        val (nRec, nResp, nReq, nTrunc, nGzip, st, ct, uri, pay) =
          parseWarc(bytes)
        Row(r.get(idIdx), nRec, nResp, nReq, nTrunc, nGzip, st, ct, uri, pay)
      }
    }(RowEncoder.encoderFor(out))
  }

  /** The q_warc_extract driver query: fixture → record walk → HTTP
    * envelope → `html_extract` over the response body — the complete
    * crawl front door in one zero-shuffle projection chain.
    */
  def warcExtractQuery(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    extract(syntheticWarcFromDocs(docs))
      .withColumn("__hx", expr("html_extract(payload, 25, 300, 100, 200)"))
      .select(col("doc_id"), col("n_records"), col("n_responses"),
        col("n_requests"), col("n_truncated"), col("n_gzip"),
        col("http_status"), col("content_type"), col("target_uri"),
        expr("CAST(length(payload) AS BIGINT)").as("payload_chars"),
        col("__hx.text_extracted").as("text_extracted"),
        col("__hx.n_blocks").as("n_blocks"),
        col("__hx.n_kept").as("n_kept"),
        col("__hx.chars_raw").as("chars_raw"),
        col("__hx.chars_kept").as("chars_kept"),
        col("__hx.link_chars").as("link_chars"))
  }
}

