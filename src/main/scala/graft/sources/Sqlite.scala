package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer

/** Read-only scan of a SQLite database file, implemented directly against
  * the public SQLite file format (https://www.sqlite.org/fileformat2.html)
  * — no JDBC driver needed. Covers what the reference's S4 source does
  * (bearysta aggregate.py:295-314: `SELECT * FROM {table}` via sqlite3 +
  * Path/File/Directory provenance): full table scan of one rowid table,
  * including interior-page b-tree traversal and overflow-page chains.
  *
  * SQLite databases are single files written by a single process — the
  * right Spark altitude is a driver-side parse materialized as a local
  * relation (exactly what pandas `DataFrame.from_records` does in the
  * reference), after which Catalyst treats it like any other small input
  * (broadcastable, prunable). Multi-GB analytics data does not arrive as
  * SQLite; when it does, it is many small .db files, which parallelize
  * across this reader per file.
  *
  * Not supported (loud errors, not garbage): WAL-mode journals with
  * unmerged frames, non-UTF8 text encodings, WITHOUT ROWID tables,
  * indexes (we never need them for a full scan).
  */
object Sqlite {

  final case class SqliteError(msg: String) extends RuntimeException(msg)

  /** One decoded table: column names and typed row values
    * (null | Long | Double | String | Array[Byte]). */
  final case class Table(columns: Seq[String], rows: Seq[Array[Any]])

  // ---------------------------------------------------------------- bytes

  private final class Bytes(val b: Array[Byte]) {
    def u8(i: Int): Int = b(i) & 0xff
    def u16(i: Int): Int = ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
    def u32(i: Int): Long =
      ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
        ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)
    def i64(i: Int, n: Int): Long = {
      // n-byte big-endian two's complement
      var v: Long = if ((b(i) & 0x80) != 0) -1L else 0L
      var k = 0
      while (k < n) { v = (v << 8) | (b(i + k) & 0xffL); k += 1 }
      v
    }
    /** (value, bytesConsumed) of a SQLite varint at offset i. */
    def varint(i: Int): (Long, Int) = {
      var v = 0L
      var k = 0
      while (k < 8) {
        val c = b(i + k)
        if ((c & 0x80) == 0) return ((v << 7) | (c & 0x7fL), k + 1)
        v = (v << 7) | (c & 0x7fL)
        k += 1
      }
      (((v << 8) | (b(i + 8) & 0xffL)), 9)
    }
  }

  // ------------------------------------------------------------- file read

  private def readAll(spark: SparkSession, path: String): Array[Byte] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val len = fs.getFileStatus(p).getLen
    if (len > Int.MaxValue - 8)
      throw SqliteError(s"SQLite file too large to materialize: $path ($len bytes)")
    val out = new Array[Byte](len.toInt)
    val in = fs.open(p)
    try in.readFully(0, out) finally in.close()
    out
  }

  // ------------------------------------------------------------- the parse

  private final class Db(raw: Array[Byte]) {
    val bytes = new Bytes(raw)
    if (raw.length < 100 ||
        !new String(raw, 0, 16, "ISO-8859-1").startsWith("SQLite format 3\u0000"))
      throw SqliteError("not a SQLite 3 database (bad magic)")
    val pageSize: Int = { val s = bytes.u16(16); if (s == 1) 65536 else s }
    private val reserved = bytes.u8(20)
    val usable: Int = pageSize - reserved
    if (bytes.u32(56) != 1L)
      throw SqliteError(s"unsupported text encoding ${bytes.u32(56)} (only UTF-8)")

    private def pageOff(page: Long): Int = ((page - 1) * pageSize).toInt

    /** Full payload of a table-leaf cell, following the overflow chain. */
    private def cellPayload(payloadLen: Long, inlineAt: Int): Array[Byte] = {
      val u = usable
      val x = u - 35
      if (payloadLen <= x) {
        java.util.Arrays.copyOfRange(raw, inlineAt, inlineAt + payloadLen.toInt)
      } else {
        val m = (u - 12) * 32 / 255 - 23
        val k = m + ((payloadLen - m) % (u - 4)).toInt
        val local = if (k <= x) k else m
        val out = new Array[Byte](payloadLen.toInt)
        System.arraycopy(raw, inlineAt, out, 0, local)
        var got = local
        var over = bytes.u32(inlineAt + local)
        while (over != 0L && got < payloadLen) {
          val po = pageOff(over)
          val n = math.min(u - 4, payloadLen.toInt - got)
          System.arraycopy(raw, po + 4, out, got, n)
          got += n
          over = bytes.u32(po)
        }
        if (got != payloadLen)
          throw SqliteError(s"truncated overflow chain (got $got of $payloadLen bytes)")
        out
      }
    }

    /** Depth-first walk of a table b-tree, emitting (rowid, record bytes). */
    def walkTable(rootPage: Long)(emit: (Long, Array[Byte]) => Unit): Unit = {
      val off = pageOff(rootPage)
      val hdr = off + (if (rootPage == 1L) 100 else 0)
      bytes.u8(hdr) match {
        case 0x05 => // interior table page
          val nCells = bytes.u16(hdr + 3)
          val ptrs = hdr + 12
          var c = 0
          while (c < nCells) {
            val cell = off + bytes.u16(ptrs + 2 * c)
            walkTable(bytes.u32(cell))(emit)
            c += 1
          }
          walkTable(bytes.u32(hdr + 8))(emit)
        case 0x0d => // leaf table page
          val nCells = bytes.u16(hdr + 3)
          val ptrs = hdr + 8
          var c = 0
          while (c < nCells) {
            var p = off + bytes.u16(ptrs + 2 * c)
            val (payloadLen, n1) = bytes.varint(p); p += n1
            val (rowid, n2) = bytes.varint(p); p += n2
            emit(rowid, cellPayload(payloadLen, p))
            c += 1
          }
        case t =>
          throw SqliteError(f"unexpected b-tree page type 0x$t%02x on page $rootPage " +
            "(index page in a table walk, or corrupt file)")
      }
    }

    /** Decode one record (header of serial types + body) into values. */
    def decodeRecord(rec: Array[Byte]): Array[Any] = {
      val rb = new Bytes(rec)
      val (hdrLen, n0) = rb.varint(0)
      var hp = n0
      val types = ArrayBuffer.empty[Long]
      while (hp < hdrLen) {
        val (t, n) = rb.varint(hp); types += t; hp += n
      }
      var bp = hdrLen.toInt
      val out = new Array[Any](types.length)
      var i = 0
      while (i < types.length) {
        types(i) match {
          case 0 => out(i) = null
          case 1 => out(i) = rb.i64(bp, 1); bp += 1
          case 2 => out(i) = rb.i64(bp, 2); bp += 2
          case 3 => out(i) = rb.i64(bp, 3); bp += 3
          case 4 => out(i) = rb.i64(bp, 4); bp += 4
          case 5 => out(i) = rb.i64(bp, 6); bp += 6
          case 6 => out(i) = rb.i64(bp, 8); bp += 8
          case 7 =>
            out(i) = java.lang.Double.longBitsToDouble(rb.i64(bp, 8)); bp += 8
          case 8 => out(i) = 0L
          case 9 => out(i) = 1L
          case t if t >= 12 && t % 2 == 0 =>
            val len = ((t - 12) / 2).toInt
            out(i) = java.util.Arrays.copyOfRange(rec, bp, bp + len); bp += len
          case t if t >= 13 =>
            val len = ((t - 13) / 2).toInt
            out(i) = new String(rec, bp, len, "UTF-8"); bp += len
          case t => throw SqliteError(s"reserved serial type $t")
        }
        i += 1
      }
      out
    }
  }

  // ------------------------------------------------- schema (CREATE TABLE)

  /** Column names from a CREATE TABLE statement, plus the index of the
    * INTEGER PRIMARY KEY rowid-alias column if any (its record value is
    * NULL; the rowid must be substituted). */
  private[sources] def parseCreateTable(sql: String): (Seq[String], Option[Int]) = {
    val open = sql.indexOf('(')
    val close = sql.lastIndexOf(')')
    if (open < 0 || close <= open)
      throw SqliteError(s"cannot parse CREATE TABLE: $sql")
    val body = sql.substring(open + 1, close)
    // split on top-level commas (parens nest in CHECK(...), types like NUMERIC(10,2))
    val parts = ArrayBuffer.empty[String]
    var depth = 0
    var last = 0
    var inQuote: Char = 0
    var i = 0
    while (i < body.length) {
      val c = body.charAt(i)
      if (inQuote != 0) { if (c == inQuote) inQuote = 0 }
      else c match {
        case '\'' | '"' | '`' => inQuote = c
        case '[' => inQuote = ']'
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 => parts += body.substring(last, i); last = i + 1
        case _ =>
      }
      i += 1
    }
    parts += body.substring(last)
    val constraintKw = Set("primary", "unique", "check", "foreign", "constraint")
    val cols = ArrayBuffer.empty[String]
    var rowidAlias: Option[Int] = None
    for (part <- parts.map(_.trim) if part.nonEmpty) {
      val (name, rest) = part.charAt(0) match {
        case '"' | '\'' | '`' =>
          val q = part.charAt(0)
          val end = part.indexOf(q, 1)
          (part.substring(1, end), part.substring(end + 1))
        case '[' =>
          val end = part.indexOf(']', 1)
          (part.substring(1, end), part.substring(end + 1))
        case _ =>
          val end = part.indexWhere(ch => ch.isWhitespace || ch == '(')
          if (end < 0) (part, "") else (part.substring(0, end), part.substring(end))
      }
      if (!constraintKw.contains(name.toLowerCase)) {
        if (rest.toLowerCase.replaceAll("\\s+", " ").contains("integer primary key"))
          rowidAlias = Some(cols.length)
        cols += name
      }
    }
    (cols.toSeq, rowidAlias)
  }

  // ------------------------------------------------------------ public API

  /** Decode one table of a SQLite file into column names + rows. */
  def readTable(spark: SparkSession, path: String, table: String): Table =
    decodeTable(readAll(spark, path), table, path)

  /** The Spark-free core of [[readTable]] — runs anywhere bytes are in
    * hand, including inside executor tasks ([[scanGlob]]). */
  def decodeTable(raw: Array[Byte], table: String, path: String): Table = {
    val db = new Db(raw)
    // sqlite_master lives in the b-tree rooted at page 1:
    // (type, name, tbl_name, rootpage, sql)
    var root: Long = -1
    var createSql: String = null
    db.walkTable(1L) { (_, rec) =>
      val v = db.decodeRecord(rec)
      if (v.length >= 5 && v(0) == "table" && v(1) == table) {
        root = v(3) match { case l: Long => l; case _ => -1 }
        createSql = v(4) match { case s: String => s; case _ => null }
      }
    }
    if (root <= 0 || createSql == null)
      throw SqliteError(s"table '$table' not found in $path")
    if (createSql.toLowerCase.replaceAll("\\s+", " ").contains("without rowid"))
      throw SqliteError(s"WITHOUT ROWID table '$table' is not supported")
    val (cols, rowidAlias) = parseCreateTable(createSql)
    val rows = ArrayBuffer.empty[Array[Any]]
    db.walkTable(root) { (rowid, rec) =>
      val v = db.decodeRecord(rec)
      // records may have fewer columns than the schema (ALTER TABLE ADD
      // COLUMN does not rewrite old rows) — missing trailing cols are null
      val full = if (v.length >= cols.length) v
        else java.util.Arrays.copyOf(v.asInstanceOf[Array[AnyRef]], cols.length)
          .asInstanceOf[Array[Any]]
      rowidAlias.foreach(i => if (full(i) == null) full(i) = rowid)
      rows += full
    }
    Table(cols, rows.toSeq)
  }

  /** Column-wise Spark type promotion over SQLite's dynamic typing:
    * all-Long -> LongType, Long+Double -> DoubleType, any text -> String
    * (numbers rendered), blob-only -> Binary, all-null -> String. */
  private def promote(rows: Seq[Array[Any]], i: Int): DataType = {
    var hasLong, hasDouble, hasString, hasBlob = false
    rows.foreach { r =>
      r(i) match {
        case null =>
        case _: Long => hasLong = true
        case _: Double => hasDouble = true
        case _: String => hasString = true
        case _: Array[Byte] => hasBlob = true
        case other => throw SqliteError(s"unexpected value class ${other.getClass}")
      }
    }
    if (hasString) StringType
    else if (hasBlob && !hasLong && !hasDouble) BinaryType
    else if (hasBlob) StringType // mixed blob+numeric: degrade to string
    else if (hasDouble) DoubleType
    else if (hasLong) LongType
    else StringType
  }

  private def coerce(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (l: Long, DoubleType) => l.toDouble
    case (l: Long, StringType) => l.toString
    case (d: Double, StringType) => d.toString
    case (b: Array[Byte], StringType) => new String(b, "UTF-8")
    case (x, _) => x
  }

  /** Full `SELECT * FROM table` scan as a DataFrame with Path/File/
    * Directory provenance (bearysta aggregate.py:306-314). */
  def scan(spark: SparkSession, path: String, table: String): DataFrame = {
    val t = readTable(spark, path, table)
    val schema = StructType(t.columns.zipWithIndex.map { case (c, i) =>
      StructField(c, promote(t.rows, i), nullable = true)
    })
    val rows = t.rows.map { r =>
      Row.fromSeq(r.indices.map(i => coerce(r(i), schema(i).dataType)))
    }
    val f = new java.io.File(path)
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, math.max(1, rows.length / 50000)),
        schema)
      .withColumn("Path", lit(path))
      .withColumn("File", lit(f.getName))
      .withColumn("Directory", lit(Option(f.getParent).getOrElse(".")))
  }

  /** DISTRIBUTED multi-file SQLite scan — the shape SQLite data actually
    * arrives in at scale (one .db per device / per day / per export,
    * thousands of small files): the glob expands on the driver, ONE
    * schema is fixed by decoding the first file there, then every file
    * is fetched, b-tree-walked and decoded INSIDE its own executor task
    * (the pure-Scala [[decodeTable]] needs only bytes) — the driver
    * never materializes any rows. Files must carry the same CREATE
    * TABLE column list (loud error otherwise); per-column values coerce
    * under the first file's promoted types, so a file whose `price`
    * column happens to hold only integers still reads as double.
    * Provenance columns (Path/File/Directory) are stamped per file,
    * exactly like the CSV source's.
    *
    * SIZE CONTRACT (enforced): parallelism is ONE TASK PER FILE — the
    * b-tree walk is inherently sequential per file, so a single huge .db
    * serializes onto one core and materializes whole in that task's
    * memory. Files above `maxFileBytes` (default 1 GiB) fail the
    * pre-flight loudly instead of silently becoming a straggler; export
    * big databases as many per-shard files (the shape SQLite data
    * arrives in at scale anyway) or raise the cap deliberately. */
  def scanGlob(spark: SparkSession, pattern: String, table: String,
               maxFileBytes: Long = 1L << 30): DataFrame = {
    val matches = Shards.list(spark, pattern, SqliteError(_), maxFileBytes,
      "scanGlob runs ONE task per .db file (sequential b-tree walk, " +
        "full in-task materialization) — split the export into per-shard " +
        "files or raise maxFileBytes explicitly to accept the straggler")
      .map(_.getPath.toString)
    // schema contract from the first file (driver-side, header-sized work)
    val first = readTable(spark, matches.head, table)
    val cols = first.columns
    val schema = StructType(cols.zipWithIndex.map { case (c, i) =>
      StructField(c, promote(first.rows, i), nullable = true)
    })
    val dataTypes = schema.fields.map(_.dataType)
    val rdd = Shards.perFile(spark, matches) { (conf, pathStr) =>
      val hp = new Path(pathStr)
      val pfs = hp.getFileSystem(conf)
      val len = pfs.getFileStatus(hp).getLen
      if (len > Int.MaxValue - 8)
        throw SqliteError(s"SQLite file too large to materialize: $pathStr")
      val raw = new Array[Byte](len.toInt)
      val in = pfs.open(hp)
      try in.readFully(0, raw) finally in.close()
      val t = decodeTable(raw, table, pathStr)
      if (t.columns != cols)
        throw SqliteError(
          s"schema mismatch in $pathStr: ${t.columns} vs $cols")
      val f = new java.io.File(hp.toUri.getPath)
      val dir = Option(f.getParent).getOrElse(".")
      t.rows.iterator.map { r =>
        val vals = r.indices.map { i =>
          val c = coerce(r(i), dataTypes(i))
          // a later file wider than the first file's promotion (e.g.
          // doubles where file 1 held only ints) must fail loudly,
          // not corrupt the relation — order the widest file first
          (c, dataTypes(i)) match {
            case (null, _) | (_: Long, LongType) | (_: Double, DoubleType) |
                 (_: String, StringType) | (_: Array[Byte], BinaryType) => ()
            case (bad, dt) => throw SqliteError(
              s"$pathStr column ${cols(i)}: ${bad.getClass.getSimpleName} " +
                s"does not fit first-file type $dt — widest file first")
          }
          c
        }
        Row.fromSeq(vals ++ Seq(pathStr, f.getName, dir))
      }
    }
    spark.createDataFrame(rdd, StructType(schema.fields ++ Seq(
      StructField("Path", StringType, nullable = false),
      StructField("File", StringType, nullable = false),
      StructField("Directory", StringType, nullable = false))))
  }
}
