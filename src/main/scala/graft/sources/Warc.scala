package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** WARC (ISO 28500) record parsing — the web-archive container Common
  * Crawl ships, i.e. THE source format a 100 TB LLM corpus pipeline
  * ingests. A WARC file is a concatenation of records, each a
  * `WARC/1.0` version line, CRLF-terminated `Name: value` headers
  * (Content-Length gives the payload's exact byte count), a blank
  * line, the payload bytes, and a CRLF CRLF separator.
  *
  * [[decode]] is a strict single-pass walk: it returns every COMPLETE
  * well-formed record up to the first malformation (truncated header,
  * missing Content-Length, short payload, broken separator) and stops
  * there — the quarantine-not-throw contract of the multimodal
  * parsers, applied to a container of many records: a corrupt tail
  * costs the tail, never the stage. [[records]] is the operator form:
  * one output row per parsed record, typed `mapPartitions` (no
  * `.rdd`).
  *
  * The reference has no archive ingestion (its sources are REST/HTML,
  * SURVEY.md §2.1); this is a north-star addition like the rest of the
  * LLM-pipeline family.
  */
object Warc {

  private val Crlf = "\r\n"

  /** One record: type, target URI, date (header echoes), payload. */
  final case class WarcRecord(warcType: String, targetUri: String,
                              date: String, payload: Array[Byte])

  /** Serialize records to WARC/1.0 bytes (the encode side, used by the
    * round-trip oracle fixture and anywhere valid WARC must be
    * emitted).
    */
  def encode(recs: Seq[WarcRecord]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    recs.foreach { r =>
      val hdr = new StringBuilder()
        .append("WARC/1.0").append(Crlf)
        .append("WARC-Type: ").append(r.warcType).append(Crlf)
        .append("WARC-Target-URI: ").append(r.targetUri).append(Crlf)
        .append("WARC-Date: ").append(r.date).append(Crlf)
        .append("Content-Length: ").append(r.payload.length).append(Crlf)
        .append(Crlf)
      out.write(hdr.toString.getBytes("UTF-8"))
      out.write(r.payload)
      out.write((Crlf + Crlf).getBytes("UTF-8"))
    }
    out.toByteArray
  }

  /** Parse every complete record; stop at the first malformation. */
  def decode(bytes: Array[Byte]): Seq[WarcRecord] = {
    val n = bytes.length
    val out = Seq.newBuilder[WarcRecord]
    var i = 0
    var done = false
    // next CRLF at/after `from`, or -1
    def lineEnd(from: Int): Int = {
      var j = from
      while (j + 1 < n && !(bytes(j) == '\r' && bytes(j + 1) == '\n')) j += 1
      if (j + 1 < n) j else -1
    }
    while (!done && i < n) {
      // header block: version line then Name: value lines to a blank
      var j = i
      var ok = true
      var warcType = ""
      var uri = ""
      var date = ""
      var len = -1L
      val ve = lineEnd(j)
      if (ve < 0 ||
          !new String(bytes, j, ve - j, "UTF-8").startsWith("WARC/")) {
        ok = false
      } else {
        j = ve + 2
        var headersDone = false
        while (ok && !headersDone) {
          val he = lineEnd(j)
          if (he < 0) ok = false
          else if (he == j) { headersDone = true; j += 2 } // blank line
          else {
            val line = new String(bytes, j, he - j, "UTF-8")
            val sep = line.indexOf(':')
            if (sep < 0) ok = false
            else {
              // Locale.ROOT: a Turkish-locale JVM lowercases 'I' to a
              // dotless ı and every header name would silently mis-key
              val k = line.substring(0, sep).trim
                .toLowerCase(java.util.Locale.ROOT)
              val v = line.substring(sep + 1).trim
              k match {
                case "warc-type"       => warcType = v
                case "warc-target-uri" => uri = v
                case "warc-date"       => date = v
                case "content-length"  =>
                  len = v.toLongOption.getOrElse(-1L)
                case _                 => () // other headers tolerated
              }
              j = he + 2
            }
          }
        }
      }
      // `len > n - j` (not `j + len > n`): an adversarial
      // Content-Length near Long.MaxValue would overflow the sum and
      // slip past the bound, then crash the copy — quarantine instead
      if (!ok || len < 0 || len > n - j) done = true
      else {
        val payload = java.util.Arrays.copyOfRange(bytes, j, (j + len).toInt)
        j = (j + len).toInt
        // record separator: CRLF CRLF (EOF right after the payload also
        // ends a well-formed final record)
        if (j == n) { out += WarcRecord(warcType, uri, date, payload); done = true }
        else if (j + 4 <= n && bytes(j) == '\r' && bytes(j + 1) == '\n' &&
                 bytes(j + 2) == '\r' && bytes(j + 3) == '\n') {
          out += WarcRecord(warcType, uri, date, payload)
          i = j + 4
        } else done = true // malformed separator: drop this record too
      }
    }
    out.result()
  }

  /** Typed output row of [[records]] (column names/order are the q81
    * oracle contract).
    */
  final case class WarcRow(doc_id: Long, rec_idx: Int, warc_type: String,
                           target_uri: String, content_length: Long,
                           payload: Array[Byte], payload_text: String)

  /** One row per parsed record of each (idCol: long, payloadCol:
    * binary) WARC blob — table-generating, per-partition streaming,
    * batch- and stream-legal. A NULL or corrupt blob contributes its
    * complete prefix of records (possibly none); the payload rides as
    * both raw bytes and UTF-8 text (web archives are overwhelmingly
    * text payloads — HTML — and the text form feeds the corpus
    * operators directly).
    */
  def records(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    import df.sparkSession.implicits._
    // a NULL id cannot be attributed to any blob: decoding it into the
    // primitive-Long tuple would NPE the whole stage (violating the
    // never-throw contract) — such rows are dropped, loudly documented
    df.filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, b) =>
        Option(b).map(decode).getOrElse(Nil).zipWithIndex.map {
          case (r, idx) =>
            WarcRow(id, idx, r.warcType, r.targetUri,
              r.payload.length.toLong, r.payload,
              new String(r.payload, "UTF-8"))
        }
      }).toDF()
  }
}
