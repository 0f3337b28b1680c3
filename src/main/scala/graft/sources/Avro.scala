package graft.sources

import java.io.{ByteArrayOutputStream, EOFException, InputStream}
import java.nio.charset.StandardCharsets
import java.nio.{ByteBuffer, ByteOrder}
import java.security.MessageDigest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Apache Avro Object Container Files, hand-rolled from the PUBLISHED
  * specification (the "Object Container Files" + "Binary Encoding"
  * sections of the Avro 1.11 spec), pure JVM — no avro jar:
  *
  *   - header: magic `Obj\x01`, a file-metadata map (avro map binary
  *     encoding: count-prefixed blocks, zero-terminated) carrying
  *     `avro.schema` (JSON) and `avro.codec`, then a 16-byte sync
  *     marker;
  *   - data blocks: `[long count][long byteSize][serialized objects]
  *     [sync]`, where longs are ZIGZAG VARINTS and the object bytes are
  *     optionally compressed — `null` and `deflate` codecs (deflate =
  *     RFC 1951 raw, no zlib wrapper, per the spec);
  *   - record encoding: fields in schema order; int/long zigzag
  *     varints, string/bytes length-prefixed, float/double LE,
  *     boolean one byte, `["null",T]` unions as a long branch index,
  *     arrays as count-prefixed blocks with a zero terminator.
  *
  * The schema subset (DECLARED, total for what [[write]] emits): a
  * record of string/bytes/int/long/float/double/boolean fields, each
  * optionally nullable (`["null",T]`), plus arrays of those
  * primitives. Anything else in an embedded schema fails loudly at
  * plan time — silent coercion corrupts a corpus.
  *
  * Scale shape — the reason Avro earns a place beside TFRecord/JSONL:
  * the 16-byte sync marker makes a container SPLITTABLE. [[read]]
  * plans `splitBytes`-sized sub-file splits; a task that does not own
  * the header SCANS FORWARD to the next sync (the published
  * DataFileReader#sync algorithm) and a block belongs to the split
  * where its first byte lies, so every block is read exactly once and
  * a single 10 GB shard fans out across executors — the one-task-per-
  * file ceiling of the gzip family doesn't apply. Writes shard through
  * [[Shards.write]] (salt-routed, temp+rename commit) with a
  * per-shard sync marker derived deterministically from schema+shard
  * (two builds of one corpus are byte-identical). */
object Avro {

  final case class AvroError(msg: String) extends RuntimeException(msg)

  private val Magic: Array[Byte] = Array('O'.toByte, 'b'.toByte, 'j'.toByte, 1)

  // ------------------------------------------------------------ schema

  /** The supported Avro type subset. */
  sealed trait AvType
  case object ABool extends AvType
  case object AInt extends AvType
  case object ALong extends AvType
  case object AFloat extends AvType
  case object ADouble extends AvType
  case object AString extends AvType
  case object ABytes extends AvType
  /** `["null", inner]` — Avro's nullable idiom. */
  final case class ANullable(inner: AvType) extends AvType
  /** `{"type":"array","items":prim}` (element never null). */
  final case class AArray(items: AvType) extends AvType

  private def primOf(dt: DataType): Option[AvType] = dt match {
    case BooleanType => Some(ABool)
    case IntegerType => Some(AInt)
    case LongType => Some(ALong)
    case FloatType => Some(AFloat)
    case DoubleType => Some(ADouble)
    case StringType => Some(AString)
    case BinaryType => Some(ABytes)
    case _ => None
  }

  /** Spark schema → field plan. Nullable fields map to `["null",T]`. */
  private[sources] def fieldsOf(schema: StructType): Seq[(String, AvType)] =
    schema.fields.toSeq.map { f =>
      def bad(): Nothing = throw AvroError(
        s"avro write: unsupported type ${f.dataType.simpleString} for " +
          s"column ${f.name} — supported: boolean/int/long/float/double/" +
          "string/binary and arrays of those")
      val base = f.dataType match {
        case ArrayType(et, containsNull) =>
          if (containsNull) throw AvroError(
            s"avro write: array column ${f.name} allows null elements — " +
              "the declared array schema is non-null items")
          AArray(primOf(et).getOrElse(bad()))
        case dt => primOf(dt).getOrElse(bad())
      }
      (f.name, if (f.nullable) ANullable(base) else base)
    }

  private def jsonEscape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  private def typeJson(t: AvType): String = t match {
    case ABool => "\"boolean\""
    case AInt => "\"int\""
    case ALong => "\"long\""
    case AFloat => "\"float\""
    case ADouble => "\"double\""
    case AString => "\"string\""
    case ABytes => "\"bytes\""
    case ANullable(inner) => s"""["null",${typeJson(inner)}]"""
    case AArray(items) => s"""{"type":"array","items":${typeJson(items)}}"""
    case _: ARecordMarker | ANullMarker =>
      throw AvroError("internal markers never serialize")
  }

  /** The canonical schema JSON [[write]] embeds. */
  private[sources] def schemaJson(fields: Seq[(String, AvType)]): String =
    fields.map { case (n, t) =>
      s"""{"name":"${jsonEscape(n)}","type":${typeJson(t)}}"""
    }.mkString(
      """{"type":"record","name":"graft_row","fields":[""", ",", "]}")

  /** Parse the embedded schema back (the [[schemaJson]] subset; a
    * foreign container using other types fails loudly). Tolerates
    * whitespace and extra record attributes like `namespace`/`doc`. */
  private[sources] def parseSchemaJson(json: String): Seq[(String, AvType)] = {
    var i = 0
    val n = json.length
    def fail(msg: String): Nothing =
      throw AvroError(s"avro schema json: $msg at offset $i")
    def ws(): Unit =
      while (i < n && Character.isWhitespace(json.charAt(i))) i += 1
    def peek(): Char = { ws(); if (i >= n) fail("unexpected end"); json.charAt(i) }
    def expect(c: Char): Unit = {
      if (peek() != c) fail(s"expected '$c'"); i += 1
    }
    def parseString(): String = {
      expect('"')
      val sb = new java.lang.StringBuilder()
      while (i < n && json.charAt(i) != '"') {
        val c = json.charAt(i)
        if (c == '\\') {
          i += 1
          if (i >= n) fail("dangling escape")
          json.charAt(i) match {
            case '"' => sb.append('"')
            case '\\' => sb.append('\\')
            case '/' => sb.append('/')
            case 'b' => sb.append('\b')
            case 'f' => sb.append('\f')
            case 'n' => sb.append('\n')
            case 'r' => sb.append('\r')
            case 't' => sb.append('\t')
            case 'u' =>
              if (i + 4 >= n) fail("truncated \\u escape")
              sb.append(Integer.parseInt(json.substring(i + 1, i + 5), 16).toChar)
              i += 4
            case other => fail(s"bad escape \\$other")
          }
        } else sb.append(c)
        i += 1
      }
      if (i >= n) fail("unterminated string")
      i += 1
      sb.toString
    }
    def skipValue(): Unit = peek() match {
      case '"' => parseString()
      case '[' =>
        expect('[')
        if (peek() == ']') { i += 1 }
        else {
          var done = false
          while (!done) {
            skipValue()
            if (peek() == ',') i += 1 else { expect(']'); done = true }
          }
        }
      case '{' =>
        expect('{')
        if (peek() == '}') { i += 1 }
        else {
          var done = false
          while (!done) {
            parseString(); expect(':'); skipValue()
            if (peek() == ',') i += 1 else { expect('}'); done = true }
          }
        }
      case _ =>
        while (i < n && "-+.eE0123456789truefalsnl".indexOf(json.charAt(i)) >= 0)
          i += 1
    }
    def primByName(s: String): AvType = s match {
      case "null" => ANullMarker
      case "boolean" => ABool
      case "int" => AInt
      case "long" => ALong
      case "float" => AFloat
      case "double" => ADouble
      case "string" => AString
      case "bytes" => ABytes
      case other => fail(s"unsupported avro type '$other'")
    }
    def parseType(): AvType = peek() match {
      case '"' => primByName(parseString())
      case '[' => // ["null", T] — the only union shape in the subset
        expect('[')
        val first = parseType()
        if (first != ANullMarker) fail("union must lead with \"null\"")
        expect(',')
        val second = parseType()
        expect(']')
        second match {
          case ABool | AInt | ALong | AFloat | ADouble | AString | ABytes |
               _: AArray =>
            ANullable(second)
          case _ => fail("union branch must be a primitive or array")
        }
      case '{' => // {"type":"array","items":T, ...} or a record wrapper
        expect('{')
        var typ: String = null
        var items: AvType = null
        var fields: Seq[(String, AvType)] = null
        var done = false
        while (!done) {
          val key = parseString(); expect(':')
          key match {
            case "type" => typ = parseString()
            case "items" => items = parseType()
            case "fields" => fields = parseFields()
            case _ => skipValue()
          }
          if (peek() == ',') i += 1 else { expect('}'); done = true }
        }
        typ match {
          case "array" =>
            if (items == null) fail("array without items")
            items match {
              case _: ANullable | _: AArray => fail("array items must be primitive")
              case t => AArray(t)
            }
          case "record" =>
            if (fields == null) fail("record without fields")
            ARecordMarker(fields)
          case other => fail(s"unsupported complex type '$other'")
        }
      case c => fail(s"unexpected '$c' where a type was expected")
    }
    def parseFields(): Seq[(String, AvType)] = {
      expect('[')
      val out = Seq.newBuilder[(String, AvType)]
      if (peek() == ']') { i += 1; return out.result() }
      var done = false
      while (!done) {
        expect('{')
        var name: String = null
        var t: AvType = null
        var fdone = false
        while (!fdone) {
          val key = parseString(); expect(':')
          key match {
            case "name" => name = parseString()
            case "type" =>
              // "null" can only appear as a union branch; a field typed
              // bare "null" is rejected by primByName
              if (peek() == '"') {
                val s = parseString()
                t = if (s == "null") fail("bare null field type")
                    else primByName(s)
              } else t = parseType()
            case _ => skipValue()
          }
          if (peek() == ',') i += 1 else { expect('}'); fdone = true }
        }
        if (name == null || t == null) fail("field missing name/type")
        t match {
          case _: ARecordMarker | ANullMarker =>
            fail(s"field $name: nested records / bare null not in the subset")
          case _ => ()
        }
        out += name -> t
        if (peek() == ',') i += 1 else { expect(']'); done = true }
      }
      out.result()
    }
    parseType() match {
      case ARecordMarker(fs) => fs
      case _ => fail("top-level schema must be a record")
    }
  }

  /** Internal marker so parseType can return a record's fields. */
  private final case class ARecordMarker(fields: Seq[(String, AvType)])
    extends AvType

  /** Internal marker for the "null" token inside a union. */
  private case object ANullMarker extends AvType

  // --------------------------------------------------- binary encoding

  private[sources] def writeZigZag(out: ByteArrayOutputStream, n: Long): Unit = {
    var v = (n << 1) ^ (n >> 63)
    while ((v & ~0x7FL) != 0) { out.write(((v & 0x7F) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  private def writeLenBytes(out: ByteArrayOutputStream, b: Array[Byte]): Unit = {
    writeZigZag(out, b.length.toLong); out.write(b, 0, b.length)
  }

  private def writeValue(out: ByteArrayOutputStream, t: AvType, v: Any): Unit =
    t match {
      case ANullable(inner) =>
        if (v == null) writeZigZag(out, 0L)
        else { writeZigZag(out, 1L); writeValue(out, inner, v) }
      case _ if v == null =>
        throw AvroError("null value in a non-nullable avro field")
      case ABool => out.write(if (v.asInstanceOf[Boolean]) 1 else 0)
      case AInt => writeZigZag(out, v.asInstanceOf[Int].toLong)
      case ALong => writeZigZag(out, v.asInstanceOf[Long])
      case AFloat =>
        val bits = java.lang.Float.floatToRawIntBits(v.asInstanceOf[Float])
        out.write(bits & 0xFF); out.write((bits >> 8) & 0xFF)
        out.write((bits >> 16) & 0xFF); out.write((bits >> 24) & 0xFF)
      case ADouble =>
        val bits = java.lang.Double.doubleToRawLongBits(v.asInstanceOf[Double])
        var k = 0
        while (k < 8) { out.write(((bits >>> (8 * k)) & 0xFF).toInt); k += 1 }
      case AString =>
        writeLenBytes(out, v.asInstanceOf[String].getBytes(StandardCharsets.UTF_8))
      case ABytes => writeLenBytes(out, v.asInstanceOf[Array[Byte]])
      case AArray(items) =>
        val seq = v.asInstanceOf[scala.collection.Seq[Any]]
        if (seq.nonEmpty) {
          writeZigZag(out, seq.length.toLong)
          seq.foreach(x => writeValue(out, items, x))
        }
        writeZigZag(out, 0L)
      case _: ARecordMarker | ANullMarker =>
        throw AvroError("nested records are not in the declared subset")
    }

  // ---------------------------------------------------- binary decoding

  /** Counting reader over an InputStream; EOFException surfaces only
    * from [[tryReadByte]] probes at block boundaries. */
  private final class ByteReader(in: InputStream) {
    var pos: Long = 0L
    def readByte(): Int = {
      val b = in.read()
      if (b < 0) throw new EOFException("unexpected EOF")
      pos += 1; b
    }
    /** -1 at clean EOF. */
    def tryReadByte(): Int = {
      val b = in.read()
      if (b >= 0) pos += 1
      b
    }
    def readFully(n: Int): Array[Byte] = {
      val buf = new Array[Byte](n)
      var off = 0
      while (off < n) {
        val r = in.read(buf, off, n - off)
        if (r < 0) throw new EOFException("unexpected EOF")
        off += r
      }
      pos += n
      buf
    }
  }

  private def readZigZag(r: ByteReader): Long = {
    var shift = 0; var v = 0L
    var done = false
    while (!done) {
      val b = r.readByte()
      v |= (b & 0x7FL) << shift
      if ((b & 0x80) == 0) done = true
      else {
        shift += 7
        if (shift > 63) throw AvroError("varint overflow")
      }
    }
    (v >>> 1) ^ -(v & 1)
  }

  private def readValue(r: ByteReader, t: AvType): Any = t match {
    case ANullable(inner) => readZigZag(r) match {
      case 0 => null
      case 1 => readValue(r, inner)
      case other => throw AvroError(s"union branch $other out of range")
    }
    case ABool => r.readByte() match {
      case 0 => false
      case 1 => true
      case other => throw AvroError(s"bad boolean byte $other")
    }
    case AInt =>
      val v = readZigZag(r)
      if (v < Int.MinValue || v > Int.MaxValue)
        throw AvroError(s"int value $v out of range")
      v.toInt
    case ALong => readZigZag(r)
    case AFloat =>
      val b = r.readFully(4)
      ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).getFloat
    case ADouble =>
      val b = r.readFully(8)
      ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).getDouble
    case AString =>
      val n = readZigZag(r)
      if (n < 0 || n > Int.MaxValue) throw AvroError(s"bad string length $n")
      new String(r.readFully(n.toInt), StandardCharsets.UTF_8)
    case ABytes =>
      val n = readZigZag(r)
      if (n < 0 || n > Int.MaxValue) throw AvroError(s"bad bytes length $n")
      r.readFully(n.toInt)
    case AArray(items) =>
      val out = Seq.newBuilder[Any]
      var count = readZigZag(r)
      while (count != 0) {
        if (count < 0) {
          // negative block count: abs items preceded by a byte size
          // (the spec's skippable-block form) — size consumed, ignored
          readZigZag(r)
          count = -count
        }
        var k = 0L
        while (k < count) { out += readValue(r, items); k += 1 }
        count = readZigZag(r)
      }
      out.result()
    case _: ARecordMarker | ANullMarker =>
      throw AvroError("nested records are not in the declared subset")
  }

  private def sparkTypeOf(t: AvType): (DataType, Boolean) = t match {
    case ANullable(inner) => (sparkTypeOf(inner)._1, true)
    case ABool => (BooleanType, false)
    case AInt => (IntegerType, false)
    case ALong => (LongType, false)
    case AFloat => (FloatType, false)
    case ADouble => (DoubleType, false)
    case AString => (StringType, false)
    case ABytes => (BinaryType, false)
    case AArray(items) =>
      (ArrayType(sparkTypeOf(items)._1, containsNull = false), false)
    case _: ARecordMarker | ANullMarker => throw AvroError("nested record")
  }

  // ----------------------------------------------------------- codecs

  private def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(
      java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    try {
      d.setInput(data); d.finish()
      val out = new ByteArrayOutputStream(data.length / 2 + 64)
      val buf = new Array[Byte](1 << 14)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }

  private def inflate(data: Array[Byte]): Array[Byte] = {
    val inf = new java.util.zip.Inflater(true)
    try {
      inf.setInput(data)
      val out = new ByteArrayOutputStream(data.length * 3 + 64)
      val buf = new Array[Byte](1 << 14)
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n == 0 && inf.needsInput())
          throw AvroError("deflate block truncated")
        out.write(buf, 0, n)
      }
      out.toByteArray
    } finally inf.end()
  }

  // ------------------------------------------------------------ write

  /** Deterministic per-shard sync marker: 16 bytes of MD5 over the
    * schema + shard id (effectively random, rerun-stable). */
  private[sources] def syncFor(schema: String, shard: Int): Array[Byte] =
    MessageDigest.getInstance("MD5")
      .digest(s"graft.avro.sync:$shard:$schema".getBytes(StandardCharsets.UTF_8))

  private def headerBytes(schema: String, codec: String,
                          sync: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(schema.length + 64)
    out.write(Magic, 0, 4)
    writeZigZag(out, 2L) // metadata map: one block of two entries
    writeLenBytes(out, "avro.codec".getBytes(StandardCharsets.UTF_8))
    writeLenBytes(out, codec.getBytes(StandardCharsets.UTF_8))
    writeLenBytes(out, "avro.schema".getBytes(StandardCharsets.UTF_8))
    writeLenBytes(out, schema.getBytes(StandardCharsets.UTF_8))
    writeZigZag(out, 0L) // map terminator
    out.write(sync, 0, 16)
    out.toByteArray
  }

  /** Write `df` as `files` Avro object-container shards
    * (`part-NNNNN.avro`), salt-routed on `saltCol`, temp+rename
    * committed ([[Shards.write]]). `codec` ∈ {"null", "deflate"}.
    * Rows buffer into blocks of ≤ `blockRows` rows / ~`blockBytes`
    * uncompressed bytes, whichever binds first — bounded memory per
    * task, many sync points per shard (what makes the read side
    * splittable). */
  def write(df: DataFrame, path: String, files: Int, saltCol: String,
            codec: String = "deflate", blockRows: Int = 4096,
            blockBytes: Int = 1 << 18): Unit = {
    require(codec == "null" || codec == "deflate",
      s"codec must be null|deflate, got $codec")
    require(blockRows >= 1 && blockBytes >= 1, "block bounds must be positive")
    val fields = fieldsOf(df.schema)
    val schema = schemaJson(fields)
    Shards.write(df, path, files, saltCol, AvroError(_)) { (shard, it) =>
      val sync = syncFor(schema, shard.id)
      shard.commit(shard.name("avro")) { os =>
        os.write(headerBytes(schema, codec, sync))
        val block = new ByteArrayOutputStream(blockBytes + 1024)
        var rows = 0
        def flush(): Unit = if (rows > 0) {
          val raw = block.toByteArray
          val payload = if (codec == "deflate") deflate(raw) else raw
          val head = new ByteArrayOutputStream(20)
          writeZigZag(head, rows.toLong)
          writeZigZag(head, payload.length.toLong)
          os.write(head.toByteArray)
          os.write(payload)
          os.write(sync, 0, 16)
          block.reset(); rows = 0
        }
        it.foreach { r =>
          fields.zipWithIndex.foreach { case ((_, t), iCol) =>
            writeValue(block, t, if (r.isNullAt(iCol)) null else r.get(iCol))
          }
          rows += 1
          if (rows >= blockRows || block.size() >= blockBytes) flush()
        }
        flush()
      }
    }
  }

  // ------------------------------------------------------------- read

  private final case class FileHead(path: String, len: Long,
                                    headerEnd: Long, codec: String,
                                    schema: String, sync: Array[Byte])

  private def readHeader(r: ByteReader, name: String): (String, String, Array[Byte]) = {
    val magic = r.readFully(4)
    if (!java.util.Arrays.equals(magic, Magic))
      throw AvroError(s"$name: not an avro object container (bad magic)")
    var schema: String = null
    var codec = "null"
    var count = readZigZag(r)
    while (count != 0) {
      if (count < 0) { readZigZag(r); count = -count }
      var k = 0L
      while (k < count) {
        val keyLen = readZigZag(r)
        if (keyLen < 0 || keyLen > (1 << 20))
          throw AvroError(s"$name: absurd metadata key length $keyLen")
        val key = new String(r.readFully(keyLen.toInt), StandardCharsets.UTF_8)
        val valLen = readZigZag(r)
        if (valLen < 0 || valLen > (1 << 26))
          throw AvroError(s"$name: absurd metadata value length $valLen")
        val value = r.readFully(valLen.toInt)
        key match {
          case "avro.schema" => schema = new String(value, StandardCharsets.UTF_8)
          case "avro.codec" => codec = new String(value, StandardCharsets.UTF_8)
          case _ => () // unknown metadata tolerated (spec: app-defined pairs)
        }
        k += 1
      }
      count = readZigZag(r)
    }
    if (schema == null) throw AvroError(s"$name: header missing avro.schema")
    if (codec != "null" && codec != "deflate")
      throw AvroError(s"$name: unsupported codec '$codec' (null|deflate)")
    val sync = r.readFully(16)
    (schema, codec, sync)
  }

  /** Scan forward from the current position for a 16-byte sync marker
    * ENDING before `end` (a match ending at p means a block starts at
    * p, and a block is ours only if its first byte lies before the
    * range end). Returns true positioned exactly at that block start;
    * false at EOF or once no in-range match can exist. The published
    * DataFileReader#sync move — exact ring compare. */
  private def scanToSync(r: ByteReader, sync: Array[Byte], end: Long): Boolean = {
    val ring = new Array[Byte](16)
    var filled = 0
    var startIdx = 0
    while (r.pos < end) {
      val b = r.tryReadByte()
      if (b < 0) return false
      if (filled < 16) { ring((startIdx + filled) % 16) = b.toByte; filled += 1 }
      else { ring(startIdx) = b.toByte; startIdx = (startIdx + 1) % 16 }
      if (filled == 16) {
        var k = 0
        var ok = true
        while (ok && k < 16) { ok = ring((startIdx + k) % 16) == sync(k); k += 1 }
        if (ok) return r.pos < end
      }
    }
    false
  }

  /** Read Avro container shards matching `pattern` as a DataFrame with
    * the embedded schema (plus a leading `file` column). Containers
    * are SPLIT into `splitBytes` ranges: the split owning the header
    * starts at the first block; later splits sync-scan forward; a
    * block belongs to the split where its first byte lies. All shards
    * must embed the same schema (loud error otherwise — silent
    * unionByName across drifting schemas corrupts a corpus). */
  def read(spark: SparkSession, pattern: String,
           splitBytes: Long = 32L << 20): DataFrame = {
    require(splitBytes >= (1L << 16),
      s"splitBytes must be >= 64 KiB, got $splitBytes")
    val stats = Shards.list(spark, pattern, AvroError(_))
    val fs = stats.head.getPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val heads = stats.map { st =>
      val in = fs.open(st.getPath)
      try {
        val r = new ByteReader(in)
        val (schema, codec, sync) = readHeader(r, st.getPath.getName)
        FileHead(st.getPath.toString, st.getLen, r.pos, codec, schema, sync)
      } finally in.close()
    }
    val schema0 = heads.head.schema
    for (h <- heads.tail if h.schema != schema0) throw AvroError(
      s"schema drift across shards: ${heads.head.path} vs ${h.path}")
    val fields = parseSchemaJson(schema0)
    val outSchema = StructType(
      StructField("file", StringType, nullable = false) +:
        fields.map { case (nm, t) =>
          val (dt, nullable) = sparkTypeOf(t)
          StructField(nm, dt, nullable)
        })
    // (path, start, end, headerEnd, codec, syncHex) splits
    val splits = heads.flatMap { h =>
      val starts = (h.headerEnd until h.len by splitBytes).toSeq
      starts.map(s => (h.path, s, math.min(s + splitBytes, h.len),
        h.headerEnd, h.codec, h.sync))
    }
    val rdd = Shards.perFile(spark, splits) { (conf, split) =>
      val (pathStr, start, end, headerEnd, codec, sync) = split
      val hp = new Path(pathStr)
      val in = hp.getFileSystem(conf).open(hp)
      val fname = new java.io.File(hp.toUri.getPath).getName
      Shards.closing(in) {
        // seek BEFORE wrapping in a buffer (a post-wrap seek would
        // leave stale buffered bytes). A mid-file split starts its
        // sync scan 16 bytes early so a marker ending exactly at
        // `start` (block first byte == start, ours by the ownership
        // rule) is visible; the preceding split stops at start-1.
        val scanFrom =
          if (start == headerEnd) start else math.max(headerEnd, start - 16)
        in.seek(scanFrom)
        val r = new ByteReader(new java.io.BufferedInputStream(in, 1 << 16))
        r.pos = scanFrom
        val aligned =
          if (start == headerEnd) true else scanToSync(r, sync, end)
        new Iterator[Row] {
          private var pending: Iterator[Row] = Iterator.empty
          private var exhausted = !aligned
          private def loadBlock(): Unit = {
            // block ownership: its first byte must lie in [start, end)
            if (r.pos >= end) { exhausted = true; return }
            val probe = r.tryReadByte()
            if (probe < 0) { exhausted = true; return }
            // un-consume semantics: varint first byte already read
            var v = (probe & 0x7FL)
            var shift = 7
            var b = probe
            while ((b & 0x80) != 0) {
              b = r.readByte()
              v |= (b & 0x7FL) << shift
              shift += 7
              if (shift > 70) throw AvroError(s"$fname: varint overflow")
            }
            val count = (v >>> 1) ^ -(v & 1)
            if (count <= 0 || count > (1 << 28))
              throw AvroError(s"$fname: bad block count $count")
            val size = readZigZag(r)
            if (size <= 0 || size > Int.MaxValue - 16)
              throw AvroError(s"$fname: bad block size $size")
            val payload = r.readFully(size.toInt)
            val marker = r.readFully(16)
            if (!java.util.Arrays.equals(marker, sync))
              throw AvroError(s"$fname: sync marker mismatch after block " +
                "(corrupt container)")
            val raw = if (codec == "deflate") inflate(payload) else payload
            val br = new ByteReader(new java.io.ByteArrayInputStream(raw))
            val rows = new Array[Row](count.toInt)
            var k = 0
            while (k < count) {
              val cols = fields.map { case (_, t) => readValue(br, t) }
              rows(k) = Row.fromSeq(fname +: cols)
              k += 1
            }
            if (br.tryReadByte() >= 0)
              throw AvroError(s"$fname: trailing bytes after $count records " +
                "in block (count/size disagree)")
            pending = rows.iterator
          }
          override def hasNext: Boolean = {
            while (!exhausted && !pending.hasNext) loadBlock()
            pending.hasNext
          }
          override def next(): Row = {
            if (!hasNext) throw new NoSuchElementException
            pending.next()
          }
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Test/bench fixture: `documents` exported once per sf dir as 4
    * Avro shards — two deflate, two null-codec (both read paths over
    * one glob), small blocks so the split reader crosses real sync
    * points. `score` is NULL on doc_id % 7 == 0 (exercises the
    * `["null",double]` union) and k/8-exact otherwise; `marks` is
    * 0..3 longs (exercises arrays incl. empty). Marker-cached. */
  def ensureDocumentsFixture(spark: SparkSession, sfDir: String): String =
    Shards.fixture(s"graft_avro_v1_${Shards.sfTag(sfDir)}") { dir =>
      import org.apache.spark.sql.functions._
      val docs = graft.Tables(spark, sfDir, "documents")
        .select(col("doc_id"), col("lang"), col("text"),
          when(col("doc_id") % 7 === 0, lit(null).cast("double"))
            .otherwise((col("doc_id") % 97).cast("double") / lit(8d))
            .as("score"),
          // 0..3 leading elements of [1,2,3] — slice, not sequence,
          // because sequence(1, 0) counts DOWN instead of going empty
          slice(sequence(lit(1L), lit(3L)), lit(1),
            (col("doc_id") % 4).cast("int")).as("marks"))
      write(docs.filter(col("doc_id") % 2 === 0), s"$dir/d",
        files = 2, saltCol = "doc_id", codec = "deflate",
        blockRows = 256, blockBytes = 1 << 15)
      write(docs.filter(col("doc_id") % 2 =!= 0), s"$dir/n",
        files = 2, saltCol = "doc_id", codec = "null",
        blockRows = 256, blockBytes = 1 << 15)
    }
}
