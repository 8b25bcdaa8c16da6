package graft.io

import java.io.{BufferedInputStream, ByteArrayInputStream, ByteArrayOutputStream, EOFException, InputStream, PushbackInputStream}
import java.util.zip.{GZIPInputStream, GZIPOutputStream, Inflater, InflaterInputStream}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** WARC (ISO 28500) web-archive source and sink — the container
  * format large web corpora actually arrive in (crawl dumps ship as
  * directories of ~100 MB–1 GB `.warc.gz` segment files, each a
  * concatenation of per-record gzip members). From-spec
  * implementation of the record framing plus the HTTP/1.1 payload
  * conventions a `response` record carries (status line + headers,
  * `Transfer-Encoding: chunked` de-chunking, `Content-Encoding:
  * gzip`/`deflate` payload decompression); gzip/deflate byte
  * decompression itself is delegated to the JDK, as everywhere else
  * in this engine.
  *
  * Scale shape: parallelism is per FILE — a `.warc.gz` is not
  * splittable at arbitrary offsets (gzip members carry no index), so
  * the unit of work is one segment per task, the layout crawl dumps
  * are published in precisely so that a file list IS the work queue.
  * Each task streams its file through O(one record) memory: headers
  * are read line-wise off the (decompressing) stream and the content
  * block is read by its exact `Content-Length`, so a 1 GB segment
  * never materializes in the executor. Reads go through the Hadoop
  * `FileSystem` API (any registered scheme), never a POSIX
  * assumption; the sink writes attempt-unique temp objects renamed on
  * commit so speculative/retried tasks cannot interleave (ADVICE r8).
  */
object Warc {

  /** One parsed WARC record. `http_status`/`http_content_type` are
    * populated for `response` records carrying `application/http`;
    * `payload` is then the DECODED response body (de-chunked,
    * de-gzipped) and `payload_encoding` is None — unless the capture
    * used a content coding this decoder does not speak (`br`, ...),
    * in which case the wire bytes are kept and the coding is surfaced
    * here for explicit quarantine. For every other record type
    * `payload` is the raw content block. `digest_ok` verifies a
    * `WARC-Payload-Digest: sha1:<base32>` header when present
    * (computed over the transfer-decoded, still content-coded body —
    * the convention crawl writers use), None when the record carries
    * no digest; a mismatch is a QUARANTINE value, not an exception.
    */
  case class WarcRecord(
      warc_file: String,
      warc_type: String,
      record_id: String,
      target_uri: Option[String],
      warc_date: String,
      content_type: Option[String],
      content_length: Long,
      http_status: Option[Int],
      http_content_type: Option[String],
      payload: Array[Byte],
      payload_encoding: Option[String],
      digest_ok: Option[Boolean])

  // guards: fail loudly on garbage rather than allocate unboundedly
  private val MaxHeaderLine = 1 << 20      // 1 MiB header line
  private val MaxContentLength = 1L << 30  // 1 GiB record block

  // ---------------------------------------------------------- parse

  /** Reads one CRLF-terminated line as ISO-8859-1 (header lines are
    * ASCII per spec; bytes are preserved 1:1 for anything else), or
    * null at EOF before any byte.
    */
  private def readLine(in: InputStream): String = {
    val buf = new ByteArrayOutputStream(96)
    var b = in.read()
    if (b < 0) return null
    while (b >= 0 && b != '\n') {
      buf.write(b)
      require(buf.size <= MaxHeaderLine, "WARC header line exceeds 1 MiB")
      b = in.read()
    }
    val arr = buf.toByteArray
    val len = if (arr.nonEmpty && arr(arr.length - 1) == '\r') arr.length - 1 else arr.length
    new String(arr, 0, len, java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  private def readFully(in: InputStream, n: Long, what: String): Array[Byte] = {
    require(n <= MaxContentLength, s"$what: Content-Length $n exceeds 1 GiB guard")
    val out = new Array[Byte](n.toInt)
    var off = 0
    while (off < n) {
      val k = in.read(out, off, (n - off).toInt)
      if (k < 0) throw new EOFException(s"$what: EOF after $off of $n content bytes")
      off += k
    }
    out
  }

  /** Header block: `Name: value` lines until a blank line, names
    * lower-cased (field names are case-insensitive per spec §4),
    * continuation lines (leading SP/HT) folded onto the previous
    * value with a single space.
    */
  private def readHeaders(in: InputStream, what: String,
                          strict: Boolean = true): collection.mutable.LinkedHashMap[String, String] = {
    val hs = collection.mutable.LinkedHashMap.empty[String, String]
    var last: String = null
    var line = readLine(in)
    while (line != null && line.nonEmpty) {
      if ((line.charAt(0) == ' ' || line.charAt(0) == '\t') && last != null) {
        hs(last) = hs(last) + " " + line.trim
      } else {
        val c = line.indexOf(':')
        if (c > 0) {
          last = line.substring(0, c).trim.toLowerCase(java.util.Locale.ROOT)
          hs(last) = line.substring(c + 1).trim
        } else if (strict) {
          // WARC framing headers: corruption here means record
          // boundaries are unknowable — fail the file loudly
          throw new IllegalArgumentException(
            s"$what: malformed header line '${line.take(80)}'")
        } else {
          // HTTP payload headers are server-emitted DATA — real
          // captures contain colon-less garbage lines; skip them
          last = null
        }
      }
      line = readLine(in)
    }
    hs
  }

  /** Parses a (possibly multi-member-gzip) WARC stream lazily, one
    * record per `next()` — O(record) memory. The stream is closed on
    * clean EOF and on any parse failure; callers that may stop early
    * (limits, downstream exceptions) must also close `raw` themselves
    * — [[readWarc]] registers a task-completion listener for exactly
    * that.
    */
  def parseStream(raw: InputStream, file: String): Iterator[WarcRecord] = {
    val pb = new PushbackInputStream(new BufferedInputStream(raw, 1 << 16), 2)
    val b0 = pb.read(); val b1 = pb.read()
    if (b1 >= 0) pb.unread(b1)
    if (b0 >= 0) pb.unread(b0)
    val in: InputStream =
      if (b0 == 0x1f && b1 == 0x8b)
        // JDK GZIPInputStream consumes concatenated members natively —
        // exactly the per-record-member layout of a .warc.gz
        new BufferedInputStream(new GZIPInputStream(pb, 1 << 16), 1 << 16)
      else pb

    new Iterator[WarcRecord] {
      private var nextRec: WarcRecord = null
      private var done = false

      private def advance(): Unit = try advanceInner() catch {
        case e: Throwable =>
          done = true
          try in.close() catch { case _: Throwable => () }
          throw e
      }

      private def advanceInner(): Unit = {
        if (done) return
        // skip inter-record blank lines (the \r\n\r\n trailer of the
        // previous record, tolerant of extras)
        var line = readLine(in)
        while (line != null && line.isEmpty) line = readLine(in)
        if (line == null) { done = true; in.close(); return }
        require(line.startsWith("WARC/"),
          s"$file: expected WARC version line, got '${line.take(40)}'")
        val hs = readHeaders(in, file)
        val len = hs.getOrElse("content-length",
          throw new IllegalArgumentException(s"$file: record without Content-Length")).toLong
        val block = readFully(in, len, file)
        val wtype = hs.getOrElse("warc-type", "")
        val ctype = hs.get("content-type")
        val isHttpResponse = wtype == "response" &&
          ctype.exists(_.toLowerCase(java.util.Locale.ROOT).startsWith("application/http"))
        val digestHeader = hs.get("warc-payload-digest")
        // only a response's payload digest is verifiable here: for
        // request/revisit records the digest covers a payload this
        // reader does not reconstruct (HTTP request body / the
        // ORIGINAL record) — no claim, never a false quarantine
        val (status, httpCt, payload, residual, digestOk) =
          if (isHttpResponse) parseHttpResponse(block, file, digestHeader)
          else (None, None, block, None, None)
        nextRec = WarcRecord(
          warc_file = file,
          warc_type = wtype,
          record_id = hs.getOrElse("warc-record-id", ""),
          target_uri = hs.get("warc-target-uri"),
          warc_date = hs.getOrElse("warc-date", ""),
          content_type = ctype,
          content_length = len,
          http_status = status,
          http_content_type = httpCt,
          payload = payload,
          payload_encoding = residual,
          digest_ok = digestOk)
      }

      advance()
      override def hasNext: Boolean = !done || nextRec != null
      override def next(): WarcRecord = {
        val r = nextRec
        if (r == null) throw new NoSuchElementException
        nextRec = null
        if (!done) advance()
        r
      }
    }
  }

  // ------------------------------------------------- HTTP payload

  /** Splits an `application/http; msgtype=response` block into
    * (status, content-type, decoded body, residual coding): status
    * line + headers up to the first blank line (malformed payload
    * header lines are server-emitted DATA and are skipped, not
    * fatal), then the body de-chunked if `Transfer-Encoding: chunked`
    * and decompressed if `Content-Encoding: gzip|x-gzip|deflate` (in
    * that order, per RFC 9112 §6.1: Transfer-Encoding is hop framing,
    * Content-Encoding is representation coding). A coding this
    * decoder does not speak (`br`, multi-codings) is NOT an error —
    * the wire bytes are returned and the coding is surfaced in
    * `payload_encoding` so pipelines can quarantine those rows
    * explicitly (the corrupt-line-column pattern of [[DocSource]]).
    */
  private[io] def parseHttpResponse(block: Array[Byte], what: String,
                                    digestHeader: Option[String] = None)
      : (Option[Int], Option[String], Array[Byte], Option[String], Option[Boolean]) = {
    val in = new ByteArrayInputStream(block)
    val statusLine = readLine(in)
    if (statusLine == null || !statusLine.startsWith("HTTP/"))
      return (None, None, block, None, digestHeader.map(d => digestMatches(d, block)))
    val parts = statusLine.split(" ", 3)
    val status = if (parts.length >= 2) parts(1).toIntOption else None
    val hs = readHeaders(in, what, strict = false)
    var body = {
      val rest = new ByteArrayOutputStream(in.available())
      val buf = new Array[Byte](1 << 14)
      var k = in.read(buf)
      while (k >= 0) { rest.write(buf, 0, k); k = in.read(buf) }
      rest.toByteArray
    }
    if (hs.get("transfer-encoding").exists(_.toLowerCase(java.util.Locale.ROOT).contains("chunked")))
      body = dechunk(body, what)
    // WARC-Payload-Digest covers the transfer-decoded, still
    // content-coded body (the crawl-writer convention)
    val digestOk = digestHeader.map(d => digestMatches(d, body))
    val coding = hs.get("content-encoding").map(_.trim.toLowerCase(java.util.Locale.ROOT))
      .filter(c => c.nonEmpty && c != "identity" && c != "none")
    val residual = coding match {
      case Some("gzip") | Some("x-gzip") => body = gunzip(body, what); None
      case Some("deflate") => body = inflate(body, what); None
      case Some("br") => // RFC 7932 via the from-spec decoder (round 12)
        val d = graft.ext.Brotli.decodeOrNull(body)
        if (d == null) throw new java.io.IOException(s"$what: malformed brotli body")
        body = d; None
      case other => other // undecoded wire bytes, surfaced to the row
    }
    (status, hs.get("content-type"), body, residual, digestOk)
  }

  /** RFC 4648 base32 (no padding variance: labelled digests in the
    * wild omit '='), uppercase.
    */
  private[graft] def base32(b: Array[Byte]): String = {
    val alphabet = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"
    val sb = new StringBuilder((b.length * 8 + 4) / 5)
    var acc = 0L; var bits = 0
    b.foreach { x =>
      acc = (acc << 8) | (x & 0xFFL); bits += 8
      while (bits >= 5) { bits -= 5; sb.append(alphabet(((acc >> bits) & 31).toInt)) }
    }
    if (bits > 0) sb.append(alphabet(((acc << (5 - bits)) & 31).toInt))
    sb.toString
  }

  /** Verifies a labelled digest (`sha1:<base32>`, the common crawl
    * form; md5/sha256, base32 or hex encodings). A digest this reader
    * cannot interpret — unknown algorithm, unrecognized encoding —
    * makes NO claim (reporting false would quarantine good records);
    * a header with no label at all is a real mismatch.
    */
  private[graft] def digestMatches(header: String, body: Array[Byte]): Boolean = {
    val c = header.indexOf(':')
    if (c <= 0) return false // malformed digest header: quarantine
    val algo = header.substring(0, c).trim.toLowerCase(java.util.Locale.ROOT)
    val value = header.substring(c + 1).trim
      .replaceAll("=+$", "") // canonical base32 padding is 1-6 '='
      .toUpperCase(java.util.Locale.ROOT)
    val md = algo match {
      case "sha1" | "sha-1" => java.security.MessageDigest.getInstance("SHA-1")
      case "md5" => java.security.MessageDigest.getInstance("MD5")
      case "sha256" | "sha-256" => java.security.MessageDigest.getInstance("SHA-256")
      case _ => return true // unknown algorithm: no verification claim
    }
    val digest = md.digest(body)
    val b32Len = (digest.length * 8 + 4) / 5
    if (value.length == b32Len && value.forall(ch =>
        (ch >= 'A' && ch <= 'Z') || (ch >= '2' && ch <= '7')))
      base32(digest) == value
    else if (value.length == digest.length * 2 && value.forall(ch =>
        (ch >= '0' && ch <= '9') || (ch >= 'A' && ch <= 'F')))
      digest.map(b => f"$b%02X").mkString == value
    else true // unrecognized encoding: no claim
  }

  /** RFC 9112 §7.1 chunked coding: `hex-size[;ext]CRLF data CRLF`
    * repeated, a `0` chunk, then optional trailer headers up to a
    * blank line.
    */
  private[io] def dechunk(body: Array[Byte], what: String): Array[Byte] = {
    val in = new ByteArrayInputStream(body)
    val out = new ByteArrayOutputStream(body.length)
    var sizeLine = readLine(in)
    while (sizeLine != null) {
      val hex = sizeLine.split(";", 2)(0).trim
      val n = java.lang.Long.parseLong(if (hex.isEmpty) "0" else hex, 16)
      require(n >= 0 && n <= MaxContentLength, s"$what: chunk size $n out of range")
      if (n == 0) {
        // trailer section: headers until blank line, discarded
        var t = readLine(in)
        while (t != null && t.nonEmpty) t = readLine(in)
        return out.toByteArray
      }
      out.write(readFully(in, n, what))
      val sep = readLine(in) // the CRLF after the chunk data
      require(sep != null && sep.isEmpty, s"$what: missing CRLF after chunk")
      sizeLine = readLine(in)
    }
    throw new EOFException(s"$what: chunked body without terminating 0 chunk")
  }

  private def gunzip(b: Array[Byte], what: String): Array[Byte] =
    Codecs.gunzipAll(b)

  /** `deflate` in the wild is zlib-wrapped (RFC 9110 §8.4.1.2); some
    * servers send raw DEFLATE — try zlib first, fall back raw.
    */
  private def inflate(b: Array[Byte], what: String): Array[Byte] = {
    def run(nowrap: Boolean): Array[Byte] = {
      val in = new InflaterInputStream(new ByteArrayInputStream(b), new Inflater(nowrap))
      val out = new ByteArrayOutputStream(b.length * 2 + 64)
      val buf = new Array[Byte](1 << 14)
      var k = in.read(buf)
      while (k >= 0) { out.write(buf, 0, k); k = in.read(buf) }
      out.toByteArray
    }
    try run(nowrap = false)
    catch { case _: java.util.zip.ZipException => run(nowrap = true) }
  }

  // --------------------------------------------------------- source

  /** Reads every WARC record under `pattern` (a path, directory, or
    * glob on any Hadoop filesystem scheme) as a DataFrame. One task
    * per file (see object scaladoc for why that is the right
    * granularity); `parallelism` caps the partition count (0 = one
    * partition per file up to the default parallelism).
    */
  def readWarc(spark: SparkSession, pattern: String, parallelism: Int = 0): DataFrame = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(pattern)
    val fs = p.getFileSystem(conf)
    val matches = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
    val files: Seq[String] = matches.flatMap { st =>
      if (st.isDirectory)
        fs.listStatus(st.getPath).toSeq.filter(_.isFile).map(_.getPath.toString)
      else Seq(st.getPath.toString)
    }.filter { f =>
      val base = f.substring(f.lastIndexOf('/') + 1)
      // Hadoop hidden-file convention (in-flight attempts, checksums)
      !base.startsWith(".") && !base.startsWith("_") &&
        (base.endsWith(".warc") || base.endsWith(".warc.gz"))
    }.sorted
    require(files.nonEmpty, s"readWarc: no .warc/.warc.gz files match $pattern")
    val nPart = if (parallelism > 0) math.min(parallelism, files.size)
                else math.min(files.size, spark.sparkContext.defaultParallelism)
    val box = new org.apache.spark.util.SerializableConfiguration(conf)
    spark.createDataset(files).repartition(nPart)
      .mapPartitions { paths =>
        // parseStream closes on clean EOF and on parse failure; the
        // listener covers early termination (limits, downstream
        // errors) so no HDFS/S3 connection outlives its task
        val open = new java.util.ArrayList[java.io.InputStream]()
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null) tc.addTaskCompletionListener[Unit] { _ =>
          open.forEach(s => try s.close() catch { case _: Throwable => () })
        }
        paths.flatMap { f =>
          val hp = new org.apache.hadoop.fs.Path(f)
          val stream = hp.getFileSystem(box.value).open(hp)
          open.add(stream)
          parseStream(stream, f)
        }
      }
      .toDF()
  }

  /** The `response` records with an HTTP payload, the rows a curation
    * pipeline actually consumes.
    */
  def responses(warc: DataFrame): DataFrame =
    warc.where(warc("warc_type") === "response" && warc("http_status").isNotNull)

  // ----------------------------------------------------------- sink

  /** Hand-assembled WARC/1.0 record bytes (never produced by a WARC
    * library — the same fixture discipline as every other container
    * writer in this repo).
    */
  private[graft] def recordBytes(warcType: String, recordId: String,
                                 targetUri: Option[String], date: String,
                                 contentType: String, content: Array[Byte],
                                 payloadDigest: Option[String] = None): Array[Byte] = {
    val sb = new StringBuilder
    sb.append("WARC/1.0\r\n")
    sb.append("WARC-Type: ").append(warcType).append("\r\n")
    sb.append("WARC-Record-ID: ").append(recordId).append("\r\n")
    targetUri.foreach(u => sb.append("WARC-Target-URI: ").append(u).append("\r\n"))
    sb.append("WARC-Date: ").append(date).append("\r\n")
    payloadDigest.foreach(d => sb.append("WARC-Payload-Digest: ").append(d).append("\r\n"))
    sb.append("Content-Type: ").append(contentType).append("\r\n")
    sb.append("Content-Length: ").append(content.length).append("\r\n")
    sb.append("\r\n")
    val head = sb.toString.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val out = new ByteArrayOutputStream(head.length + content.length + 4)
    out.write(head); out.write(content)
    out.write('\r'); out.write('\n'); out.write('\r'); out.write('\n')
    out.toByteArray
  }

  /** RFC 9112 §7.1 chunked framing, 512-byte chunks. */
  private[io] def chunkEncode(body: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(body.length + 64)
    val cs = java.nio.charset.StandardCharsets.ISO_8859_1
    var off = 0
    while (off < body.length) {
      val n = math.min(512, body.length - off)
      out.write(java.lang.Integer.toHexString(n).getBytes(cs))
      out.write('\r'); out.write('\n')
      out.write(body, off, n)
      out.write('\r'); out.write('\n')
      off += n
    }
    out.write("0\r\n\r\n".getBytes(cs))
    out.toByteArray
  }

  private[io] def gzipBytes(b: Array[Byte]): Array[Byte] = gzipMember(b)

  private[io] def zlibBytes(b: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater() // default = zlib-wrapped
    d.setInput(b); d.finish()
    val out = new ByteArrayOutputStream(b.length / 2 + 64)
    val buf = new Array[Byte](1 << 14)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  private def gzipMember(b: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(b.length / 2 + 64)
    val gz = new GZIPOutputStream(out)
    gz.write(b); gz.close()
    out.toByteArray
  }

  /** Writes `(uri: String, date: String, content_type: String,
    * body: Array[Byte])` rows as `.warc.gz` segments, one file per
    * partition, each record its own gzip member wrapping a
    * `response` record with an HTTP/1.1 200 head. Tasks write to an
    * attempt-unique temp object and rename on success so a
    * speculative duplicate can never interleave with the winner.
    *
    * With `wireVariants` the HTTP body of record `i` in each segment
    * cycles through the wire forms a capture-faithful crawl archive
    * actually contains — identity / `Transfer-Encoding: chunked` /
    * `Content-Encoding: gzip` / `Content-Encoding: deflate` — so a
    * reader must de-frame and decode to recover the payload (q132
    * gates exactly that).
    */
  def writeWarcGz(rows: Dataset[(String, String, String, Array[Byte])], dir: String,
                  wireVariants: Boolean = false): Unit = {
    val spark = rows.sparkSession
    val box = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fsDriver = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsDriver.mkdirs(dirPath)
    rows.foreachPartition { (it: Iterator[(String, String, String, Array[Byte])]) =>
      if (it.hasNext) {
        val tc = org.apache.spark.TaskContext.get()
        val part = tc.partitionId()
        val fs = dirPath.getFileSystem(box.value)
        val finalPath = new org.apache.hadoop.fs.Path(dir, f"segment-$part%05d.warc.gz")
        val tmpPath = new org.apache.hadoop.fs.Path(dir,
          f".segment-$part%05d.warc.gz.attempt-${tc.taskAttemptId()}")
        val out = fs.create(tmpPath, true)
        try {
          var i = 0
          it.foreach { case (uri, date, ctype, body) =>
            val variant = if (wireVariants) i % 5 else 0
            val (framing, wireBody) = variant match {
              // chunked carries no Content-Length (RFC 9112 §6.2);
              // coded bodies state the WIRE length
              case 1 => ("Transfer-Encoding: chunked\r\n", chunkEncode(body))
              case 2 =>
                val wb = gzipBytes(body)
                ("Content-Encoding: gzip\r\nContent-Length: " + wb.length + "\r\n", wb)
              case 3 =>
                val wb = zlibBytes(body)
                ("Content-Encoding: deflate\r\nContent-Length: " + wb.length + "\r\n", wb)
              case 4 => // brotli (null-compression metablocks, round 12)
                val wb = graft.ext.Brotli.encodeRaw(body)
                ("Content-Encoding: br\r\nContent-Length: " + wb.length + "\r\n", wb)
              case _ => ("Content-Length: " + body.length + "\r\n", body)
            }
            val httpHead = ("HTTP/1.1 200 OK\r\nContent-Type: " + ctype +
              "\r\n" + framing + "\r\n")
              .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
            val http = new ByteArrayOutputStream(httpHead.length + wireBody.length)
            http.write(httpHead); http.write(wireBody)
            // digest over the transfer-decoded body: the coded bytes
            // for the content-coding variants, the plain body otherwise
            val digestBody = if (variant >= 2) wireBody else body
            val sha1 = java.security.MessageDigest.getInstance("SHA-1")
            val rec = recordBytes("response",
              s"<urn:graft:$part-$i>", Some(uri), date,
              "application/http; msgtype=response", http.toByteArray,
              payloadDigest = Some("sha1:" + base32(sha1.digest(digestBody))))
            out.write(gzipMember(rec))
            i += 1
          }
        } finally out.close()
        if (!fs.rename(tmpPath, finalPath)) {
          // rename refusal is only legitimate when a speculative twin
          // already committed the identical segment — anything else
          // (permissions, transient store error) must NOT silently
          // drop this partition's records
          require(fs.exists(finalPath),
            s"writeWarcGz: rename $tmpPath -> $finalPath failed with no committed twin")
          fs.delete(tmpPath, false)
        }
      }
      ()
    }
  }
}
