package graft.sources

import java.io.{BufferedInputStream, ByteArrayOutputStream, EOFException, File, InputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** WARC (ISO 28500) — the container web crawls actually arrive in
  * (Common Crawl and every Heritrix-descended crawler): a stream of
  * records, each a `WARC/1.x` version line, header lines
  * (`Name: value`), a blank line, `Content-Length` payload bytes, and a
  * blank-line separator. `response` records carry an HTTP message whose
  * body is the crawled document — the input to [[graft.operators.Html]]
  * and everything downstream. Implemented from the public spec in pure
  * JVM (header parse + exact-length payload reads + multi-member gzip
  * via `GZIPInputStream`, which concatenates members — the `.warc.gz`
  * convention is one gzip member per record or file).
  *
  * Scale posture — identical contract to [[Sqlite.scanGlob]]: gzip is
  * not splittable and records are length-prefixed, so parallelism is
  * ONE TASK PER FILE, which matches how crawl data ships (Common Crawl
  * segments are ~1 GB files, thousands per crawl). The glob expands on
  * the driver; every file is opened, streamed and parsed INSIDE its own
  * executor task (the driver never sees a record); files above
  * `maxFileBytes` fail the pre-flight loudly instead of becoming
  * stragglers. The effective hadoop conf ships to the tasks as plain
  * entries (object-store credentials survive).
  *
  * No reference counterpart — bearysta ingests CSV/SQLite; this extends
  * the engine to the crawl first mile: WARC -> HTML -> text.
  */
object Warc {

  final case class WarcError(msg: String) extends Exception(msg)

  /** One parsed record: lowercased WARC header map + raw payload. */
  final case class Record(headers: Map[String, String], payload: Array[Byte])

  // ---------------------------------------------------------------- parse

  /** Read one CRLF (or LF) terminated line as ISO-8859-1; None at EOF.
    * Capped at 64 KB — far above any legal WARC header line — so a
    * mis-globbed binary blob with no newlines raises the loud WarcError
    * instead of buffering the whole file into task memory. */
  private def readLine(in: InputStream): Option[String] = {
    val buf = new ByteArrayOutputStream(96)
    var b = in.read()
    if (b < 0) return None
    while (b >= 0 && b != '\n') {
      if (buf.size() >= (1 << 16))
        throw WarcError("header line exceeds 64 KB — not a WARC stream")
      buf.write(b); b = in.read()
    }
    val bytes = buf.toByteArray
    val n = if (bytes.nonEmpty && bytes(bytes.length - 1) == '\r')
      bytes.length - 1 else bytes.length
    Some(new String(bytes, 0, n, StandardCharsets.ISO_8859_1))
  }

  /** Read up to `n` bytes; returns the buffer and how many actually
    * arrived (short only at EOF). A truncated GZIP member makes
    * `GZIPInputStream.read` THROW EOFException rather than return -1 —
    * the single most common damage in shipped crawl files — so that is
    * folded into the same short-read signal (the caller decides loud vs
    * tolerant); genuine corruption (ZipException etc.) still
    * propagates. */
  private def readUpTo(in: InputStream, n: Int): (Array[Byte], Int) = {
    val out = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val k = try in.read(out, off, n - off) catch {
        case _: EOFException => -1
      }
      if (k < 0) return (out, off)
      off += k
    }
    (out, n)
  }

  /** Streaming record iterator over a (possibly multi-member gzip)
    * WARC stream. Blank lines between records are skipped; a version
    * line other than WARC/0.x-1.x fails loudly (a corrupt offset never
    * silently resyncs), as do a duplicate or non-numeric Content-Length
    * (either can silently desynchronize the stream into a confusing
    * error far from the cause). A payload cut short by EOF throws
    * unless `tolerateTruncation` — then the partial record is emitted
    * with a `warc-truncated: length` header (ISO 28500's reason code
    * for length cuts) so the damage is visible, not silent. */
  def readRecords(raw: InputStream,
                  tolerateTruncation: Boolean = false): Iterator[Record] =
    new Iterator[Record] {
    private val in = new BufferedInputStream(raw, 1 << 16)
    private var nextRec: Record = _
    private var eof = false

    /** Tolerant mode also survives a gzip member truncated mid-HEADER
      * (GZIPInputStream throws EOFException from inside readLine): the
      * half-parsed record is dropped and the stream ends — corruption
      * (WarcError, ZipException) still fails loudly either way. */
    private def advance(): Unit = {
      if (eof) return
      try advanceInner() catch {
        case _: EOFException if tolerateTruncation =>
          eof = true; nextRec = null
      }
    }

    private def advanceInner(): Unit = {
      var line = readLine(in)
      while (line.exists(_.isEmpty)) line = readLine(in) // inter-record blanks
      line match {
        case None => eof = true; nextRec = null
        case Some(v) if v.startsWith("WARC/") =>
          var headers = Map.empty[String, String]
          var h = readLine(in).getOrElse(throw WarcError("EOF in headers"))
          while (h.nonEmpty) {
            val i = h.indexOf(':')
            if (i <= 0) throw WarcError(s"malformed header line '$h'")
            val k = h.substring(0, i).trim.toLowerCase
            if (k == "content-length" && headers.contains(k))
              throw WarcError("duplicate Content-Length header — refusing " +
                "to guess which one frames the payload")
            headers += (k -> h.substring(i + 1).trim)
            h = readLine(in).getOrElse(throw WarcError("EOF in headers"))
          }
          val lenStr = headers.getOrElse("content-length",
            throw WarcError("record without Content-Length"))
          val lenL = lenStr.toLongOption.getOrElse(
            throw WarcError(s"bad Content-Length '$lenStr'"))
          if (lenL < 0) throw WarcError(s"negative Content-Length $lenL")
          // one record materializes in task memory: bound it loudly (a
          // >2 GB record also can't be a JVM byte array)
          if (lenL > (Int.MaxValue - 8).toLong) throw WarcError(
            s"record Content-Length $lenL exceeds the single-record bound " +
              "(records materialize per task; split oversized payloads upstream)")
          val (buf, got) = readUpTo(in, lenL.toInt)
          if (got < lenL && !tolerateTruncation)
            throw new EOFException(s"payload truncated at $got/$lenL")
          val hs = headers + ("warc-version" -> v)
          nextRec =
            if (got < lenL)
              Record(hs + ("warc-truncated" ->
                headers.getOrElse("warc-truncated", "length")),
                java.util.Arrays.copyOf(buf, got))
            else Record(hs, buf)
        case Some(other) =>
          throw WarcError(s"expected WARC/ version line, got '${other.take(40)}'")
      }
    }

    advance()
    override def hasNext: Boolean = nextRec != null
    override def next(): Record = {
      val r = nextRec; advance(); r
    }
  }

  /** Split an `application/http` payload into (status, body): the HTTP
    * header block ends at the first CRLFCRLF — or bare LFLF, or the
    * mixed LF+CRLF form ("…\nX: y\n\r\nbody"), all of which
    * noncompliant servers in every large crawl emit and whose verbatim
    * bytes WARC preserves (an LF-terminated header block must not
    * silently become an empty document). The status code is the second
    * token of the status line. A payload without any terminator is all
    * headers (empty body); a non-HTTP payload is all body (null
    * status). */
  private[sources] def httpSplit(contentType: String,
                                 payload: Array[Byte]): (Option[Int], Array[Byte]) = {
    if (contentType == null || !contentType.startsWith("application/http"))
      return (None, payload)
    var i = 0
    var split = -1
    var sepLen = 0
    while (split < 0 && i + 1 < payload.length) {
      if (payload(i) == '\r' && i + 3 < payload.length &&
        payload(i + 1) == '\n' &&
        payload(i + 2) == '\r' && payload(i + 3) == '\n') {
        split = i; sepLen = 4
      } else if (payload(i) == '\n' && i + 2 < payload.length &&
        payload(i + 1) == '\r' && payload(i + 2) == '\n') {
        split = i; sepLen = 3
      } else if (payload(i) == '\n' && payload(i + 1) == '\n') {
        split = i; sepLen = 2
      }
      i += 1
    }
    val headBytes = if (split < 0) payload else payload.take(split)
    val body = if (split < 0) Array.emptyByteArray
      else payload.drop(split + sepLen)
    val status = new String(headBytes, StandardCharsets.ISO_8859_1)
      .linesIterator.toSeq.headOption
      .flatMap(_.split(" ").lift(1)).flatMap(_.toIntOption)
    (status, body)
  }

  // ----------------------------------------------------------------- scan

  private val Schema = StructType(Seq(
    StructField("warc_type", StringType),
    StructField("target_uri", StringType),
    StructField("warc_date", StringType),
    StructField("content_type", StringType),
    StructField("http_status", IntegerType),
    StructField("warc_truncated", StringType),
    StructField("body", BinaryType),
    StructField("Path", StringType, nullable = false),
    StructField("File", StringType, nullable = false)))

  /** Distributed WARC scan: one executor task per matched file, records
    * parsed off the stream (gzip sniffed by magic bytes), `response`
    * HTTP payloads split into status + document body. `warc_truncated`
    * surfaces the WARC-Truncated reason code (crawler-declared cuts —
    * Common Crawl stamps `length` on its 1 MB captures); with
    * `tolerateTruncation` a file that ENDS mid-payload also yields its
    * partial last record flagged `length` instead of killing the task —
    * the read-what-survives mode for damaged archives. Default remains
    * fail-loud. */
  def readWarc(spark: SparkSession, pattern: String,
               maxFileBytes: Long = 4L << 30,
               tolerateTruncation: Boolean = false): DataFrame = {
    val matches = Shards.list(spark, pattern, WarcError(_), maxFileBytes,
      "readWarc runs ONE task per file (gzip is unsplittable) — ship " +
        "crawl segments as bounded files or raise maxFileBytes explicitly")
      .map(_.getPath.toString)
    val rdd = Shards.perFile(spark, matches) { (conf, pathStr) =>
      val hp = new Path(pathStr)
      val in0 = new BufferedInputStream(hp.getFileSystem(conf).open(hp), 1 << 16)
      // gzip sniff: 1f 8b magic
      in0.mark(2)
      val m1 = in0.read(); val m2 = in0.read()
      in0.reset()
      val in = if (m1 == 0x1f && m2 == 0x8b) new GZIPInputStream(in0, 1 << 16)
        else in0
      val fname = new File(hp.toUri.getPath).getName
      Shards.closing(in)(readRecords(in, tolerateTruncation))
        .map(rowOf(_, pathStr, fname))
    }
    spark.createDataFrame(rdd, Schema)
  }

  /** A record as a [[Schema]] row, `provenance` last. */
  private def rowOf(r: Record, provenance: String*): Row = {
    val ct = r.headers.getOrElse("content-type", null)
    val (status, body) = httpSplit(ct, r.payload)
    Row.fromSeq(Seq(r.headers.getOrElse("warc-type", null),
      r.headers.getOrElse("warc-target-uri", null),
      r.headers.getOrElse("warc-date", null),
      ct, status.map(Int.box).orNull,
      r.headers.getOrElse("warc-truncated", null), body) ++ provenance)
  }

  // ---------------------------------------------------------------- write

  /** Serialize `response` records (uri, date, html body) into one WARC
    * byte stream (spec layout: version line, headers, CRLF, payload,
    * CRLFCRLF). The HTTP message wraps the body with a 200 status.
    * The uri and date land VERBATIM inside header lines, so control
    * characters in them would corrupt record framing (a CR/LF pair ends
    * the header block early) or inject headers that override
    * Content-Length on read — both fail loudly here instead, matching
    * the reader's no-silent-resync posture. */
  private[sources] def renderResponses(
      recs: Iterator[(String, String, Array[Byte])]): Array[Byte] =
    render(recs, "response", "application/http;msgtype=response",
      ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n")
        .getBytes(StandardCharsets.ISO_8859_1))

  /** Serialize extracted-text records in the WET convention (ISO 28500
    * `conversion` records, `Content-Type: text/plain`, no HTTP message —
    * the body IS the text). Same framing and control-character
    * rejection as [[renderResponses]]. */
  private[sources] def renderConversions(
      recs: Iterator[(String, String, Array[Byte])]): Array[Byte] =
    render(recs, "conversion", "text/plain", Array.emptyByteArray)

  /** One `warcType` record per (uri, date, body); the payload is
    * `prefix` followed by the body. */
  private def render(recs: Iterator[(String, String, Array[Byte])], warcType: String,
                     contentType: String, prefix: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(1 << 16)
    def w(s: String): Unit = out.write(s.getBytes(StandardCharsets.ISO_8859_1))
    def clean(v: String, what: String): Unit = {
      if (v == null) throw WarcError(s"null WARC $what")
      if (v.exists(Character.isISOControl)) throw WarcError(
        s"control character in WARC $what '${v.take(60)}' — would corrupt " +
          "record framing / inject headers; sanitize upstream")
    }
    for ((uri, date, body) <- recs) {
      clean(uri, "Target-URI"); clean(date, "Date")
      w("WARC/1.0\r\n")
      w(s"WARC-Type: $warcType\r\n")
      w(s"WARC-Target-URI: $uri\r\n")
      w(s"WARC-Date: $date\r\n")
      w(s"Content-Type: $contentType\r\n")
      w(s"Content-Length: ${prefix.length + body.length}\r\n")
      w("\r\n")
      out.write(prefix)
      out.write(body)
      w("\r\n\r\n")
    }
    out.toByteArray
  }

  /** Distributed WARC SINK: `df`'s (uri STRING, body STRING) rows as at
    * most `files` gzipped WARC response shards under `path` — the
    * export format for handing a curated page corpus back to
    * crawl-side tooling, and [[readWarc]]'s round-trip partner (q130 is
    * the oracle-checked loop). Rows salt into shards by uri (an upper
    * bound, like the JSONL writer's); each shard streams through ONE
    * gzip member written inside its own executor task — the driver
    * never sees a record. `date` is caller-provided (a corpus export is
    * stamped once, not per-JVM-clock). Shards commit by temp + rename
    * ([[Shards.Shard.commit]] holds the protocol). */
  def writeWarc(df: DataFrame, uriCol: String, bodyCol: String,
                path: String, files: Int, date: String): Unit =
    writeRecordShards(df, uriCol, bodyCol, path, files) { (uri, body) =>
      renderResponses(Iterator((uri, date, body)))
    }

  /** Distributed WET SINK — the extracted-TEXT shard format crawls
    * publish next to their WARCs (Common Crawl's `.warc.wet.gz`):
    * `WARC-Type: conversion` records with `Content-Type: text/plain`
    * bodies, one per page. The natural export of the engine's
    * WARC → HTML → text mile, and [[readWarc]] reads it back
    * (`warc_type = 'conversion'`, `http_status` null — there is no HTTP
    * message to split). Same shard/commit machinery as [[writeWarc]]. */
  def writeWet(df: DataFrame, uriCol: String, textCol: String,
               path: String, files: Int, date: String): Unit =
    writeRecordShards(df, uriCol, textCol, path, files) { (uri, body) =>
      renderConversions(Iterator((uri, date, body)))
    }

  /** Distributed WARC sink in the RANDOM-ACCESS convention: ONE GZIP
    * MEMBER PER RECORD (what Common Crawl actually ships) plus a CDX
    * index sidecar per shard (`part-NNNNN.cdx.gz`: one JSON line per
    * record with the public CDXJ payload fields `url`/`offset`/
    * `length`/`filename`, offset+length in COMPRESSED bytes). A
    * member-per-record archive lets a consumer fetch one document with
    * one ranged read — the access pattern CDX exists for — while
    * [[readWarc]] still streams the whole shard (multi-member gzip
    * concatenates). Same salt/temp+rename machinery as [[writeWarc]];
    * the data shard commits BEFORE its index, so a visible index always
    * points at complete data. */
  def writeWarcIndexed(df: DataFrame, uriCol: String, bodyCol: String,
                       path: String, files: Int, date: String): Unit =
    Shards.write(uriBody(df, uriCol, bodyCol), path, files, "u",
        WarcError(_)) { (shard, rows) =>
      val fname = shard.name("warc.gz")
      val index = new scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
      shard.commit(fname) { os =>
        var offset = 0L
        rows.foreach { r =>
          val uri = r.getString(0)
          val member = new ByteArrayOutputStream(1 << 14)
          val gz = new GZIPOutputStream(member, 1 << 14)
          gz.write(renderResponses(Iterator((uri, date,
            r.getString(1).getBytes(StandardCharsets.UTF_8)))))
          gz.finish()
          val bytes = member.toByteArray
          os.write(bytes)
          index += ((uri, offset, bytes.length.toLong))
          offset += bytes.length
        }
      }
      shard.commit(shard.name("cdx.gz")) { os =>
        val gz = new GZIPOutputStream(os, 1 << 14)
        def jesc(s: String): String = s.flatMap {
          case '"' => "\\\""
          case '\\' => "\\\\"
          case c if c < ' ' => f"\\u${c.toInt}%04x"
          case c => c.toString
        }
        index.foreach { case (uri, off, len) =>
          gz.write((s"""{"url":"${jesc(uri)}","offset":$off,""" +
            s""""length":$len,"filename":"$fname"}""" + "\n")
            .getBytes(StandardCharsets.UTF_8))
        }
        gz.finish()
      }
    }

  private val CdxSchema = StructType(Seq(
    StructField("url", StringType),
    StructField("offset", LongType, nullable = false),
    StructField("length", LongType, nullable = false),
    StructField("filename", StringType, nullable = false)))

  /** Scan the CDX sidecars under `dir` into (url, offset, length,
    * filename) — the lookup table in front of [[fetchRecords]]. */
  def readCdx(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.schema(StructType(CdxSchema.map(_.copy(nullable = true))))
      .json(s"$dir/part-*.cdx.gz")
      .select(col("url"), col("offset").cast("long").as("offset"),
        col("length").cast("long").as("length"), col("filename"))
  }

  /** RANDOM-ACCESS record fetch: for each (filename, offset, length)
    * row of a CDX selection, seek into the shard and decompress just
    * that member — the point-read path a 100 TB archive needs when a
    * consumer wants 0.1% of documents (streaming every shard would read
    * 1000× the bytes). Rows group by shard (one open per file per
    * task), offsets read in ascending order (forward seeks only).
    * Returns the same (warc_type, target_uri, warc_date, content_type,
    * http_status, body) row shape as [[readWarc]]. */
  def fetchRecords(cdx: DataFrame, warcDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val rows = cdx
      .select(col("filename").cast("string"), col("offset").cast("long"),
        col("length").cast("long"))
      .repartition(col("filename"))
      .sortWithinPartitions("filename", "offset")
    val schema = StructType(Schema.dropRight(2) :+
      StructField("File", StringType, nullable = false))
    val rdd = Shards.mapWithConf(rows.rdd) { (conf, it) =>
      var curName: String = null
      var in: org.apache.hadoop.fs.FSDataInputStream = null
      var open: Shards.Once = null
      it.map { r =>
        val (fname, off, len) = (r.getString(0), r.getLong(1), r.getLong(2))
        if (fname != curName) {
          if (open != null) open.close()
          val p = new Path(warcDir, fname)
          in = p.getFileSystem(conf).open(p)
          open = new Shards.Once(in)
          curName = fname
        }
        if (len > (64L << 20)) throw WarcError(
          s"CDX length $len for $fname@$off exceeds the 64 MiB single-member " +
            "bound — not a per-record member")
        val buf = new Array[Byte](len.toInt)
        in.readFully(off, buf) // positioned read: no backward-seek hazard
        val recs = readRecords(new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(buf))).toSeq
        if (recs.size != 1) throw WarcError(
          s"member $fname@$off holds ${recs.size} records — a CDX entry " +
            "must address exactly one")
        rowOf(recs.head, fname)
      }
    }
    cdx.sparkSession.createDataFrame(rdd, schema)
  }

  /** The (u, b) string pair every WARC sink salts by `u`. */
  private def uriBody(df: DataFrame, uriCol: String, bodyCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.select(col(uriCol).cast("string").as("u"), col(bodyCol).cast("string").as("b"))
  }

  /** Shared sink machinery of [[writeWarc]] and [[writeWet]]: salt rows
    * into at most `files` gzip shards by `uriCol`, render each row with
    * `renderOne` inside its own executor task, one gzip member a
    * shard. */
  private def writeRecordShards(df: DataFrame, uriCol: String,
                                bodyCol: String, path: String, files: Int)(
      renderOne: (String, Array[Byte]) => Array[Byte]): Unit =
    Shards.write(uriBody(df, uriCol, bodyCol), path, files, "u",
        WarcError(_)) { (shard, rows) =>
      shard.commit(shard.name("warc.gz")) { os =>
        val gz = new GZIPOutputStream(os, 1 << 16)
        try rows.foreach { r =>
          gz.write(renderOne(r.getString(0),
            r.getString(1).getBytes(StandardCharsets.UTF_8)))
        } finally gz.close()
      }
    }

  /** The q125 synthetic pages of `docs` as (uri, html). */
  private[graft] def syntheticPages(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.operators.Html.syntheticPages(docs)
      .select(concat(lit("https://corpus.local/"), col("lang"), lit("/"),
        col("doc_id")).as("uri"), col("html"))
  }

  /** Test/bench fixture: the synthetic pages exported once per sf dir
    * in the per-record-gzip + CDX convention via [[writeWarcIndexed]]. */
  def ensureIndexedPagesFixture(spark: SparkSession, sfDir: String,
                                files: Int = 4): String =
    Shards.fixture(s"graft_warccdx_v1_${Shards.sfTag(sfDir)}") { dir =>
      writeWarcIndexed(syntheticPages(graft.Tables(spark, sfDir, "documents")),
        "uri", "html", dir, files, date = "2026-01-01T00:00:00Z")
    }

  /** Test/bench fixture: the synthetic pages' EXTRACTED TEXT exported
    * once per sf dir as gzipped WET shards via [[writeWet]]. */
  def ensureWetFixture(spark: SparkSession, sfDir: String,
                       files: Int = 4): String =
    Shards.fixture(s"graft_wet_v1_${Shards.sfTag(sfDir)}") { dir =>
      import org.apache.spark.sql.functions.col
      val wet = syntheticPages(graft.Tables(spark, sfDir, "documents"))
        .select(col("uri"), graft.operators.Html.extractText(col("html")).as("txt"))
      writeWet(wet, "uri", "txt", dir, files, date = "2026-01-01T00:00:00Z")
    }

  /** Test/bench fixture: the q125 synthetic pages exported once per sf
    * dir as gzipped WARC shards via [[writeWarc]] — WARC-scan queries
    * exercise the real crawl-ingest path while the oracle rebuilds the
    * same pages from parquet. */
  def ensurePagesFixture(spark: SparkSession, sfDir: String,
                         files: Int = 4): String =
    Shards.fixture(s"graft_warc_v3_${Shards.sfTag(sfDir)}") { dir =>
      writeWarc(syntheticPages(graft.Tables(spark, sfDir, "documents")),
        "uri", "html", dir, files, date = "2026-01-01T00:00:00Z")
    }
}
