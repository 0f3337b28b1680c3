package graft.sources

import java.io.{BufferedInputStream, ByteArrayOutputStream, File}
import java.nio.charset.StandardCharsets
import java.nio.{ByteBuffer, ByteOrder}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** TFRecord — the TensorFlow trainer-shard container — plus
  * `tf.train.Example`, both hand-rolled from the PUBLISHED specs (the
  * TFRecord framing documented in TensorFlow's `tf.data.TFRecordDataset`
  * /`io/record_writer.cc` docs; `example.proto`/`feature.proto` from the
  * public TensorFlow repo), pure JVM — no TF, no protobuf library:
  *
  *   - record framing: `[uint64 LE length][uint32 LE masked-crc32c of
  *     the 8 length bytes][data][uint32 LE masked-crc32c of data]`,
  *     `mask(c) = ((c >>> 15) | (c << 17)) + 0xa282ead8` (the CRC mask
  *     TF inherited from LevelDB). CRC32C is the JDK's
  *     `java.util.zip.CRC32C`. Both CRCs are VERIFIED on read — a
  *     flipped bit fails loudly, never parses as garbage;
  *   - each record's data is one `tf.train.Example`: protobuf wire
  *     format with `Features = map<string, Feature>` (repeated entry
  *     messages) and the three feature kinds — `BytesList` (field 1),
  *     `FloatList` (field 2, f32), `Int64List` (field 3). The writer
  *     emits packed scalar lists (the proto3 default TF ships); the
  *     reader accepts packed AND unpacked (required of conformant
  *     parsers) and skips unknown fields by wire type.
  *
  * Type mapping (DECLARED, the TF convention): string/binary →
  * bytes_list; int/long → int64_list; float/double → float_list —
  * float_list IS f32 in the published proto, so doubles are DOWNCAST
  * on write and come back as floats (the same contract Safetensors'
  * F32 path declares); arrays of those map to multi-value lists.
  *
  * Scale shape: TFRecord has NO sync marker, so a file is not
  * splittable — the published convention shards into MANY files and so
  * does [[write]] (`files` shards, salt-routed, temp+rename commits);
  * [[read]] runs one task per file behind a `maxFileBytes` pre-flight
  * (both from [[Shards]]). A 100 TB corpus is
  * thousands of bounded shards read in parallel, never one giant
  * record stream. */
object TfRecord {

  final case class TfRecordError(msg: String) extends RuntimeException(msg)

  // ---- CRC32C + the LevelDB/TF mask ----

  private def crc32c(bytes: Array[Byte], off: Int, len: Int): Int = {
    val c = new java.util.zip.CRC32C
    c.update(bytes, off, len)
    c.getValue.toInt
  }

  /** The published mask: rotate right 15, add the magic. All in i32
    * two's-complement (the published C++ uses u32; wraparound agrees). */
  private[sources] def maskCrc(crc: Int): Int =
    ((crc >>> 15) | (crc << 17)) + 0xa282ead8

  // ---- protobuf wire-format primitives ----

  private def writeVarint(out: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7FL) != 0) { out.write(((v & 0x7F) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  private def keyOf(field: Int, wire: Int): Int = (field << 3) | wire

  private def writeLenDelim(out: ByteArrayOutputStream, field: Int,
                            bytes: Array[Byte]): Unit = {
    writeVarint(out, keyOf(field, 2))
    writeVarint(out, bytes.length)
    out.write(bytes)
  }

  /** One Feature message for a typed value list. Exactly one kind set. */
  private def featureBytes(kind: Int, values: Seq[Any]): Array[Byte] = {
    val inner = new ByteArrayOutputStream(64)
    kind match {
      case 1 => // BytesList: repeated bytes value = 1
        values.foreach(v => writeLenDelim(inner, 1, v.asInstanceOf[Array[Byte]]))
      case 2 => // FloatList: repeated float value = 1 [packed]
        if (values.nonEmpty) {
          val bb = ByteBuffer.allocate(4 * values.length)
            .order(ByteOrder.LITTLE_ENDIAN)
          values.foreach(v => bb.putFloat(v.asInstanceOf[Float]))
          writeLenDelim(inner, 1, bb.array())
        }
      case 3 => // Int64List: repeated int64 value = 1 [packed]
        if (values.nonEmpty) {
          val pk = new ByteArrayOutputStream(values.length * 2)
          values.foreach(v => writeVarint(pk, v.asInstanceOf[Long]))
          writeLenDelim(inner, 1, pk.toByteArray)
        }
    }
    val out = new ByteArrayOutputStream(inner.size() + 8)
    writeLenDelim(out, kind, inner.toByteArray)
    out.toByteArray
  }

  /** One Example message from (name, kind, values) features, in the
    * given order (map entries; parsers treat order as irrelevant but a
    * deterministic writer byte-stabilizes reruns). */
  private[sources] def exampleBytes(feats: Seq[(String, Int, Seq[Any])]): Array[Byte] = {
    val features = new ByteArrayOutputStream(256)
    for ((name, kind, values) <- feats) {
      val entry = new ByteArrayOutputStream(128)
      writeLenDelim(entry, 1, name.getBytes(StandardCharsets.UTF_8))
      writeLenDelim(entry, 2, featureBytes(kind, values))
      writeLenDelim(features, 1, entry.toByteArray) // map entry
    }
    val ex = new ByteArrayOutputStream(features.size() + 8)
    writeLenDelim(ex, 1, features.toByteArray) // Example.features = 1
    ex.toByteArray
  }

  /** One framed TFRecord for `data`. */
  private[sources] def frame(data: Array[Byte]): Array[Byte] = {
    val out = ByteBuffer.allocate(8 + 4 + data.length + 4)
      .order(ByteOrder.LITTLE_ENDIAN)
    val lenBytes = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      .putLong(data.length.toLong).array()
    out.put(lenBytes)
    out.putInt(maskCrc(crc32c(lenBytes, 0, 8)))
    out.put(data)
    out.putInt(maskCrc(crc32c(data, 0, data.length)))
    out.array()
  }

  // ---- proto parse (tolerant: unknown fields skipped by wire type) ----

  private final class ProtoReader(val buf: Array[Byte], var pos: Int, val end: Int) {
    def hasMore: Boolean = pos < end
    def varint(): Long = {
      var shift = 0; var v = 0L
      while (true) {
        if (pos >= end) throw TfRecordError("truncated varint")
        val b = buf(pos); pos += 1
        v |= (b & 0x7FL) << shift
        if ((b & 0x80) == 0) return v
        shift += 7
        if (shift > 63) throw TfRecordError("varint overflow")
      }
      v
    }
    def slice(len: Int): ProtoReader = {
      if (pos + len > end) throw TfRecordError("truncated length-delimited field")
      val r = new ProtoReader(buf, pos, pos + len); pos += len; r
    }
    def skip(wire: Int): Unit = wire match {
      case 0 => varint()
      case 1 => pos += 8
      case 2 => val n = varint().toInt; pos += n
      case 5 => pos += 4
      case w => throw TfRecordError(s"unsupported wire type $w")
    }
  }

  /** Parse one Example into name → (kind, values). */
  private[sources] def parseExample(data: Array[Byte])
      : Map[String, (Int, Vector[Any])] = {
    val out = Map.newBuilder[String, (Int, Vector[Any])]
    val ex = new ProtoReader(data, 0, data.length)
    while (ex.hasMore) {
      val key = ex.varint().toInt
      if ((key >> 3) == 1 && (key & 7) == 2) { // Example.features
        val features = ex.slice(ex.varint().toInt)
        while (features.hasMore) {
          val fk = features.varint().toInt
          if ((fk >> 3) == 1 && (fk & 7) == 2) { // map entry
            val entry = features.slice(features.varint().toInt)
            var name: String = null
            var kind = 0
            var values = Vector.empty[Any]
            while (entry.hasMore) {
              val ek = entry.varint().toInt
              (ek >> 3, ek & 7) match {
                case (1, 2) =>
                  val s = entry.slice(entry.varint().toInt)
                  name = new String(s.buf, s.pos, s.end - s.pos,
                    StandardCharsets.UTF_8)
                case (2, 2) => // Feature
                  val f = entry.slice(entry.varint().toInt)
                  while (f.hasMore) {
                    val k = f.varint().toInt
                    (k >> 3, k & 7) match {
                      case (fieldNo, 2) if fieldNo >= 1 && fieldNo <= 3 =>
                        kind = fieldNo
                        val list = f.slice(f.varint().toInt)
                        while (list.hasMore) {
                          val lk = list.varint().toInt
                          (lk >> 3, lk & 7, fieldNo) match {
                            case (1, 2, 1) => // bytes value
                              val b = list.slice(list.varint().toInt)
                              values :+= java.util.Arrays
                                .copyOfRange(b.buf, b.pos, b.end)
                            case (1, 2, 2) => // packed floats
                              val b = list.slice(list.varint().toInt)
                              val bb = ByteBuffer.wrap(b.buf, b.pos, b.end - b.pos)
                                .order(ByteOrder.LITTLE_ENDIAN)
                              while (bb.remaining() >= 4) values :+= bb.getFloat()
                            case (1, 5, 2) => // unpacked float
                              val bb = ByteBuffer.wrap(list.buf, list.pos, 4)
                                .order(ByteOrder.LITTLE_ENDIAN)
                              values :+= bb.getFloat(); list.pos += 4
                            case (1, 2, 3) => // packed int64s
                              val b = list.slice(list.varint().toInt)
                              while (b.hasMore) values :+= b.varint()
                            case (1, 0, 3) => // unpacked int64
                              values :+= list.varint()
                            case (_, w, _) => list.skip(w)
                          }
                        }
                      case (_, w) => f.skip(w)
                    }
                  }
                case (_, w) => entry.skip(w)
              }
            }
            if (name != null) out += name -> ((kind, values))
          } else features.skip(fk & 7)
        }
      } else ex.skip(key & 7)
    }
    out.result()
  }

  // ---- distributed write ----

  /** Write every row of `df` as one `tf.train.Example` per record into
    * `files` TFRecord shards (`part-NNNNN.tfrecord`), salt-routed on
    * `saltCol`, temp+rename committed ([[Shards.Shard.commit]]: losers
    * of a concurrent attempt accept the winner's complete shard). Every
    * column becomes a feature named after it; supported Spark types:
    * string, binary, int, long, float, double, and arrays of each
    * (others fail loudly at plan time — silent drops corrupt training
    * data). */
  def write(df: DataFrame, path: String, files: Int, saltCol: String): Unit = {
    val schema = df.schema
    val plans: Seq[(String, Int, Any => Seq[Any])] = schema.fields.toSeq.map { f =>
      def bad() = throw TfRecordError(
        s"tfrecord write: unsupported type ${f.dataType.simpleString} for " +
          s"column ${f.name} — supported: string/binary/int/long/float/" +
          "double and arrays of each")
      def one(dt: DataType): (Int, Any => Any) = dt match {
        case StringType =>
          (1, v => v.asInstanceOf[String].getBytes(StandardCharsets.UTF_8))
        case BinaryType => (1, v => v.asInstanceOf[Array[Byte]])
        case IntegerType => (3, v => v.asInstanceOf[Int].toLong)
        case LongType => (3, v => v.asInstanceOf[Long])
        case FloatType => (2, v => v.asInstanceOf[Float])
        case DoubleType => (2, v => v.asInstanceOf[Double].toFloat)
        case _ => bad()
      }
      f.dataType match {
        case ArrayType(et, _) =>
          val (kind, conv) = one(et)
          (f.name, kind, (v: Any) =>
            v.asInstanceOf[scala.collection.Seq[Any]].toSeq
              .map(x => if (x == null) bad() else conv(x)))
        case dt =>
          val (kind, conv) = one(dt)
          (f.name, kind, (v: Any) => Seq(conv(v)))
      }
    }
    Shards.write(df, path, files, saltCol, TfRecordError(_)) { (shard, rows) =>
      shard.commit(shard.name("tfrecord")) { os =>
        rows.foreach { r =>
          val feats = plans.zipWithIndex.map { case ((name, kind, conv), i) =>
            (name, kind, if (r.isNullAt(i)) Seq.empty[Any] else conv(r.get(i)))
          }
          os.write(frame(exampleBytes(feats)))
        }
      }
    }
  }

  // ---- distributed read ----

  /** Read TFRecord shards matching `pattern` as a DataFrame: one row
    * per record, one ARRAY column per requested feature (`features`:
    * name → kind in {"bytes", "float", "int64"}) plus `file`. A
    * feature absent from a record yields an empty array (TF's
    * missing-key behavior is caller policy; empty is the loud-enough
    * default since lengths are queryable). Both framing CRCs are
    * verified per record. One task per file — TFRecord is not
    * splittable; shard small, read wide (the TF convention). */
  def read(spark: SparkSession, pattern: String,
           features: Seq[(String, String)],
           maxFileBytes: Long = 4L << 30): DataFrame = {
    require(features.nonEmpty, "need at least one feature to read")
    val kinds = features.map { case (n, k) =>
      val kind = k match {
        case "bytes" => 1
        case "float" => 2
        case "int64" => 3
        case other => throw TfRecordError(
          s"unknown feature kind '$other' for $n (bytes|float|int64)")
      }
      (n, kind)
    }
    val matches = Shards.list(spark, pattern, TfRecordError(_), maxFileBytes,
      "tfrecord runs ONE task per file (no sync marker) — shard into " +
        "bounded files or raise maxFileBytes explicitly")
      .map(_.getPath.toString)
    val rdd = Shards.perFile(spark, matches) { (conf, pathStr) =>
      val hp = new Path(pathStr)
      val in = new BufferedInputStream(hp.getFileSystem(conf).open(hp), 1 << 16)
      val fname = new File(hp.toUri.getPath).getName
      def readFully(n: Int): Option[Array[Byte]] = {
        val buf = new Array[Byte](n)
        var off = 0
        while (off < n) {
          val r = in.read(buf, off, n - off)
          if (r < 0) {
            if (off == 0) return None
            throw TfRecordError(s"$fname: truncated record (EOF mid-frame)")
          }
          off += r
        }
        Some(buf)
      }
      // a frame is [u64 len][masked crc32c of len][data][masked crc32c of data]
      Shards.closing(in)(Iterator.continually(readFully(12)).takeWhile(_.isDefined).map { h =>
        val head = h.get
        val bb = ByteBuffer.wrap(head).order(ByteOrder.LITTLE_ENDIAN)
        val len = bb.getLong()
        val lenCrc = bb.getInt()
        if (maskCrc(crc32c(head, 0, 8)) != lenCrc)
          throw TfRecordError(s"$fname: length CRC mismatch")
        if (len < 0 || len > Int.MaxValue - 16)
          throw TfRecordError(s"$fname: absurd record length $len")
        val data = readFully(len.toInt + 4).getOrElse(
          throw TfRecordError(s"$fname: truncated record body"))
        val dataCrc = ByteBuffer.wrap(data, len.toInt, 4)
          .order(ByteOrder.LITTLE_ENDIAN).getInt
        if (maskCrc(crc32c(data, 0, len.toInt)) != dataCrc)
          throw TfRecordError(s"$fname: data CRC mismatch")
        val parsed = parseExample(java.util.Arrays.copyOfRange(data, 0, len.toInt))
        val cols: Seq[Any] = kinds.map { case (n, kind) =>
          parsed.get(n) match {
            case Some((k, vs)) if k == kind => vs
            case Some((k, _)) => throw TfRecordError(
              s"$fname: feature $n has kind $k, expected $kind")
            case None => Vector.empty[Any]
          }
        }
        Row.fromSeq(fname +: cols)
      })
    }
    val schema = StructType(
      StructField("file", StringType, nullable = false) +:
        kinds.map { case (n, kind) =>
          val et: DataType = kind match {
            case 1 => BinaryType
            case 2 => FloatType
            case 3 => LongType
          }
          StructField(n, ArrayType(et, containsNull = false), nullable = false)
        })
    spark.createDataFrame(rdd, schema)
  }

  /** Test/bench fixture: `documents` exported once per sf dir as 4
    * TFRecord shards (doc_id int64, lang/text bytes, a derived f32
    * score), built once by [[Shards.fixture]]. */
  def ensureDocumentsFixture(spark: SparkSession, sfDir: String,
                             files: Int = 4): String =
    Shards.fixture(s"graft_tfrec_v1_${Shards.sfTag(sfDir)}") { dir =>
      import org.apache.spark.sql.functions._
      val docs = graft.Tables(spark, sfDir, "documents")
        .select(col("doc_id"), col("lang"), col("text"),
          // f32-exact by construction: k/8 for k < 2^20
          (col("doc_id") % 97).cast("float") / 8f as "score")
      write(docs, dir, files, saltCol = "doc_id")
    }
}
