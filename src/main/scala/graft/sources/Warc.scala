package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** WARC ingest — the Common Crawl entry point: parse WARC/1.x archive
  * files (plain or gzip) into one row per record, distributed at FILE
  * grain.
  *
  * Why file-grain parallelism is the right scale unit: Common Crawl
  * ships `.warc.gz` as per-record gzip MEMBERS concatenated into
  * ~1 GB files — the format is not block-splittable without a
  * specialized decoder, and a crawl is ~64-90k files, far more than
  * any cluster's cores. One task per file, records streamed (never
  * whole-file materialization), payloads truncated at
  * `maxPayloadBytes` (oversize payloads are SKIPPED THROUGH by
  * length, so one 2 GB video response cannot OOM a task).
  *
  * Record framing follows Content-Length EXACTLY — never delimiter
  * splitting — so a payload containing the literal bytes `WARC/1.0`
  * cannot break parsing. JDK GZIPInputStream reads concatenated
  * members transparently, which is precisely the Common Crawl layout.
  *
  * Output: (warc_file, record_type, target_uri, warc_date,
  * content_type, content_length, http_status, payload) — for
  * `response` records `payload` is the HTTP BODY (headers stripped,
  * status surfaced); for every other type it is the raw block.
  * Malformed tails fail SOFT per file (the parsed prefix survives, a
  * stderr line reports the cut) — a crawl shard with one truncated
  * file must not kill the job.
  */
object Warc {

  private val MaxHeaderBytes = 64 * 1024

  def read(spark: SparkSession, pathGlob: String,
           maxPayloadBytes: Int = 1 << 20): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("warc_file",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("record_type",
        org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("target_uri",
        org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("warc_date",
        org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("content_type",
        org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("content_length",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("http_status",
        org.apache.spark.sql.types.IntegerType, nullable = true),
      org.apache.spark.sql.types.StructField("payload",
        org.apache.spark.sql.types.StringType, nullable = true)))
    // ONE TASK PER FILE, explicitly — not binaryFiles: its goal-size
    // grouping packs small archives into very few splits (its per-core
    // budget counts a 4 MB open-cost the packing then ignores;
    // measured: 32 small shards on 32 cores parsed as ONE partition,
    // by ScaleCheckWarc at commit 2375eab). The glob listing is one
    // driver metadata call — the same listing binaryFiles performs —
    // and a 90k-shard crawl becomes 90k tasks, the format's natural
    // parallelism unit.
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(pathGlob.replaceFirst("[*?\\[{].*$", "")),
      spark.sparkContext.hadoopConfiguration)
    val matched = Option(fs.globStatus(
      new org.apache.hadoop.fs.Path(pathGlob)))
      .map(_.toSeq).getOrElse(Nil)
    val files = matched.flatMap { st =>
      if (st.isFile) Seq(st.getPath.toString)
      else fs.listStatus(st.getPath).filter(_.isFile).map(_.getPath.toString).toSeq
    }.sorted
    require(files.nonEmpty, s"Warc.read: no files match $pathGlob")
    val hconf = new org.apache.spark.SerializableWritable(
      spark.sparkContext.hadoopConfiguration)
    val rows = spark.sparkContext
      .parallelize(files, files.length)
      .flatMap { file =>
        val p = new org.apache.hadoop.fs.Path(file)
        val raw = p.getFileSystem(hconf.value).open(p)
        val in: java.io.InputStream =
          if (file.endsWith(".gz"))
            new java.util.zip.GZIPInputStream(
              new java.io.BufferedInputStream(raw, 1 << 16))
          else new java.io.BufferedInputStream(raw, 1 << 16)
        recordIterator(file, in, maxPayloadBytes)
      }
    spark.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row(r._1, r._2, r._3, r._4, r._5,
        r._6, r._7, r._8)), schema)
  }

  /** The STREAMING half: parse records out of a frame shaped like the
    * stock `binaryFile` source (`path`, `content`) — so
    * `spark.readStream.format("binaryFile")` over an arriving crawl
    * directory feeds `foreachBatch { Warc.parse(_) ... appendBatch }`
    * for exactly-once WARC → TxLog ingest. Same record walk, same
    * soft-tail contract as [[read]]; the binaryFile source already
    * materializes `content`, so parsing streams off the byte array. */
  def parse(files: DataFrame, maxPayloadBytes: Int = 1 << 20): DataFrame = {
    val spark = files.sparkSession
    val schema = files.select("path", "content").schema
    require(schema.fields.map(_.name).toSeq == Seq("path", "content"),
      "Warc.parse: expected binaryFile-source columns (path, content)")
    import spark.implicits._
    files.select("path", "content").as[(String, Array[Byte])]
      .flatMap { case (file, bytes) =>
        val raw = new java.io.ByteArrayInputStream(bytes)
        val in: java.io.InputStream =
          if (file.endsWith(".gz")) new java.util.zip.GZIPInputStream(raw)
          else raw
        recordIterator(file, in, maxPayloadBytes).map(r =>
          (r._1, r._2, r._3, r._4, r._5, r._6,
            Option(r._7).map(_.intValue), r._8))
      }
      .toDF("warc_file", "record_type", "target_uri", "warc_date",
        "content_type", "content_length", "http_status", "payload")
  }

  // ---- streaming record walk -----------------------------------------

  /** Read one CRLF-terminated header line; None at clean EOF. */
  private def readLine(in: java.io.InputStream): Option[String] = {
    val buf = new java.io.ByteArrayOutputStream(128)
    var b = in.read()
    if (b < 0) return None
    while (b >= 0 && b != '\n') {
      buf.write(b)
      if (buf.size > MaxHeaderBytes)
        throw new java.io.IOException("WARC header line exceeds 64KB")
      b = in.read()
    }
    val s = buf.toString("UTF-8")
    Some(if (s.endsWith("\r")) s.substring(0, s.length - 1) else s)
  }

  private def readFully(in: java.io.InputStream, out: Array[Byte],
                        n: Int): Int = {
    var off = 0
    while (off < n) {
      val k = in.read(out, off, n - off)
      if (k < 0) return off
      off += k
    }
    off
  }

  private def skipFully(in: java.io.InputStream, n: Long): Boolean = {
    var left = n
    val junk = new Array[Byte](1 << 16)
    while (left > 0) {
      val k = in.read(junk, 0, math.min(left, junk.length.toLong).toInt)
      if (k < 0) return false
      left -= k
    }
    true
  }

  private type Rec =
    (String, String, String, String, String, Long, Integer, String)

  /** Stream records off `in`: header block → Content-Length payload →
    * trailing CRLFCRLF. Soft-fails on a malformed tail. */
  private def recordIterator(file: String, in: java.io.InputStream,
                             maxPayloadBytes: Int): Iterator[Rec] =
    new Iterator[Rec] {
      private var nextRec: Rec = _
      private var done = false
      advance()

      private def advance(): Unit = {
        nextRec = null
        if (done) return
        try {
          // seek the record marker (tolerates leading blank lines)
          var line = readLine(in)
          while (line.exists(l => l.isEmpty)) line = readLine(in)
          line match {
            case Some(l) if l.startsWith("WARC/") =>
              // WARC named headers until the blank separator
              var t: String = null; var uri: String = null
              var date: String = null; var ctype: String = null
              var clen: Long = -1L
              var h = readLine(in)
              while (h.exists(_.nonEmpty)) {
                val s = h.get
                val i = s.indexOf(':')
                if (i > 0) {
                  val k = s.substring(0, i).trim.toLowerCase
                  val v = s.substring(i + 1).trim
                  k match {
                    case "warc-type" => t = v
                    case "warc-target-uri" => uri = v
                    case "warc-date" => date = v
                    case "content-type" => ctype = v
                    case "content-length" => clen = v.toLong
                    case _ =>
                  }
                }
                h = readLine(in)
              }
              if (clen < 0)
                throw new java.io.IOException(s"record without Content-Length")
              val keep = math.min(clen, maxPayloadBytes.toLong).toInt
              val block = new Array[Byte](keep)
              val got = readFully(in, block, keep)
              if (got < keep)
                throw new java.io.EOFException("truncated payload")
              if (!skipFully(in, clen - keep))
                throw new java.io.EOFException("truncated payload tail")
              // HTTP response blocks split at the first blank line:
              // status surfaced, body is the payload a pipeline wants
              var status: Integer = null
              var payload = new String(block, 0, got,
                java.nio.charset.StandardCharsets.UTF_8)
              if (t == "response" && payload.startsWith("HTTP/")) {
                val sp = payload.indexOf(' ')
                if (sp > 0 && payload.length >= sp + 4)
                  status = scala.util.Try(
                    payload.substring(sp + 1, sp + 4).toInt)
                    .toOption.map(Integer.valueOf).orNull
                val bodyAt = payload.indexOf("\r\n\r\n")
                if (bodyAt >= 0) payload = payload.substring(bodyAt + 4)
              }
              nextRec = (file, t, uri, date, ctype, clen, status, payload)
            case Some(other) =>
              throw new java.io.IOException(s"expected WARC/ marker, got '$other'")
            case None =>
              done = true
              in.close()
          }
        } catch {
          // NonFatal, not just IOException: a malformed Content-Length
          // value (NumberFormatException) or a corrupt gzip member must
          // degrade to the same parsed-prefix contract — one bad shard
          // in a 90k-file crawl must never kill the job
          case scala.util.control.NonFatal(e) =>
            System.err.println(
              s"Warc: $file cut short (${e.getClass.getSimpleName}: " +
                s"${e.getMessage}) — parsed prefix kept")
            done = true
            scala.util.Try(in.close())
        }
      }

      override def hasNext: Boolean = nextRec != null
      override def next(): Rec = {
        val r = nextRec
        advance()
        r
      }
    }

  /** Write `(doc_id, text)` rows as WARC `response` records — the
    * round-trip half used by tests and the driver gate (one file per
    * partition, plain or .gz by extension of `dir`'s `compress`
    * flag). Returns the number of files written. */
  def write(df: DataFrame, dir: String, compress: Boolean = false): Int = {
    val spark = df.sparkSession
    val n = df.rdd.getNumPartitions
    df.select("doc_id", "text").rdd.mapPartitionsWithIndex { (i, it) =>
      val conf = new org.apache.hadoop.conf.Configuration()
      val ext = if (compress) ".warc.gz" else ".warc"
      val p = new org.apache.hadoop.fs.Path(dir, f"part-$i%05d$ext")
      val fs = p.getFileSystem(conf)
      val raw = fs.create(p, true)
      val out: java.io.OutputStream =
        if (compress) new java.util.zip.GZIPOutputStream(raw) else raw
      var count = 0
      it.foreach { r =>
        val id = r.get(0).toString
        val body = r.getString(1)
        val http = "HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n" + body
        val block = http.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val hdr = ("WARC/1.0\r\n" +
          s"WARC-Type: response\r\n" +
          s"WARC-Target-URI: https://example.org/doc/$id\r\n" +
          "WARC-Date: 2024-01-01T00:00:00Z\r\n" +
          "Content-Type: application/http; msgtype=response\r\n" +
          s"Content-Length: ${block.length}\r\n\r\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        out.write(hdr); out.write(block); out.write("\r\n\r\n".getBytes)
        count += 1
      }
      out.close()
      Iterator.single(count)
    }.sum().toInt
    n
  }
}
