package graft.sources

import java.io.IOException
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.avro.{AvroRuntimeException, InvalidAvroMagicException, Schema}
import org.apache.avro.file.{CodecFactory, DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Apache Avro Object Container Files through the Avro library Spark
  * ships (`org.apache.avro`: `DataFileWriter`/`DataFileReader`, the
  * generic datum reader/writer, `mapred.FsInput` for seekable Hadoop-FS
  * input). This object only maps Spark schemas to Avro schemas and back.
  *
  * The schema subset (DECLARED, total for what [[write]] emits): a
  * record of string/bytes/int/long/float/double/boolean fields, each
  * optionally nullable (`["null",T]`), plus arrays of those
  * primitives. Anything else in an embedded schema fails loudly at
  * plan time — silent coercion corrupts a corpus.
  *
  * Scale shape — the reason Avro earns a place beside TFRecord/JSONL:
  * the 16-byte sync marker makes a container SPLITTABLE. [[read]]
  * plans `splitBytes`-sized sub-file splits and each task follows the
  * library's own `AvroRecordReader` protocol (`sync(start)`, then read
  * until `pastSync(end)`): a block belongs to the split where the sync
  * marker before it starts, so every block is read exactly once and a
  * single 10 GB shard fans out across executors — the one-task-per-
  * file ceiling of the gzip family doesn't apply. Writes shard through
  * [[Shards.write]] (salt-routed, temp+rename commit) with a
  * per-shard sync marker derived deterministically from schema+shard
  * (two builds of one corpus are byte-identical). */
object Avro {

  final case class AvroError(msg: String) extends RuntimeException(msg)

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

  /** Each primitive with its Spark and Avro types. */
  private val prims: Seq[(AvType, DataType, Schema.Type)] = Seq(
    (ABool, BooleanType, Schema.Type.BOOLEAN),
    (AInt, IntegerType, Schema.Type.INT),
    (ALong, LongType, Schema.Type.LONG),
    (AFloat, FloatType, Schema.Type.FLOAT),
    (ADouble, DoubleType, Schema.Type.DOUBLE),
    (AString, StringType, Schema.Type.STRING),
    (ABytes, BinaryType, Schema.Type.BYTES))

  private def primOf(dt: DataType): Option[AvType] =
    prims.collectFirst { case (t, `dt`, _) => t }

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

  private def avroType(t: AvType): Schema = t match {
    case ANullable(inner) =>
      Schema.createUnion(Schema.create(Schema.Type.NULL), avroType(inner))
    case AArray(items) => Schema.createArray(avroType(items))
    case p => Schema.create(prims.collectFirst { case (`p`, _, at) => at }.get)
  }

  /** The canonical schema JSON [[write]] embeds. */
  private[sources] def schemaJson(fields: Seq[(String, AvType)]): String =
    try Schema.createRecord("graft_row", null, null, false,
      fields.map { case (n, t) => new Schema.Field(n, avroType(t)) }.asJava).toString
    catch { case e: AvroRuntimeException => throw AvroError(s"avro write: ${e.getMessage}") }

  /** Parse an embedded schema back into the declared subset (a foreign
    * container using other types fails loudly). Extra record attributes
    * like `namespace`/`doc` are ignored. */
  private[sources] def parseSchemaJson(json: String): Seq[(String, AvType)] =
    subsetOf(try new Schema.Parser().parse(json) catch {
      case e: AvroRuntimeException => throw AvroError(s"avro schema json: ${e.getMessage}")
    })

  private def subsetOf(schema: Schema): Seq[(String, AvType)] = {
    def fail(msg: String): Nothing = throw AvroError(s"avro schema: $msg")
    def prim(s: Schema): Option[AvType] =
      prims.collectFirst { case (t, _, at) if at == s.getType => t }
    def typ(s: Schema): AvType = s.getType match {
      case Schema.Type.UNION => s.getTypes.asScala.toSeq match {
        case Seq(n, t) if n.getType == Schema.Type.NULL => ANullable(typ(t))
        case _ => fail(s"union must lead with \"null\" plus one branch: $s")
      }
      case Schema.Type.ARRAY =>
        AArray(prim(s.getElementType).getOrElse(fail(s"array items must be primitive: $s")))
      case Schema.Type.NULL => fail("bare null field type")
      case other => prim(s).getOrElse(fail(s"unsupported complex type '${other.getName}'"))
    }
    if (schema.getType != Schema.Type.RECORD)
      fail(s"top-level schema must be a record, got ${schema.getType.getName}")
    schema.getFields.asScala.toSeq.map(f => f.name -> typ(f.schema))
  }

  private def sparkType(t: AvType): DataType = t match {
    case ANullable(inner) => sparkType(inner)
    case AArray(items) => ArrayType(sparkType(items), containsNull = false)
    case p => prims.collectFirst { case (`p`, dt, _) => dt }.get
  }

  /** Spark value → generic-writer value (`t` already non-null). */
  private def toAvro(t: AvType): Any => Any = t match {
    case ANullable(inner) => toAvro(inner)
    case ABytes => v => ByteBuffer.wrap(v.asInstanceOf[Array[Byte]])
    case AArray(items) =>
      val f = toAvro(items)
      v => v.asInstanceOf[scala.collection.Seq[Any]].map(f).asJava
    case _ => identity
  }

  /** Generic-reader value → Spark value. */
  private def fromAvro(t: AvType): Any => Any = t match {
    case ANullable(inner) =>
      val f = fromAvro(inner)
      v => if (v == null) null else f(v)
    case AString => _.toString // Utf8
    case ABytes => v =>
      val b = v.asInstanceOf[ByteBuffer].duplicate()
      val out = new Array[Byte](b.remaining)
      b.get(out)
      out
    case AArray(items) =>
      val f = fromAvro(items)
      v => v.asInstanceOf[java.util.List[Any]].asScala.map(f).toSeq
    case _ => identity
  }

  // ------------------------------------------------------------ write

  /** Deterministic per-shard sync marker: 16 bytes of MD5 over the
    * schema + shard id (effectively random, rerun-stable). */
  private[sources] def syncFor(schema: String, shard: Int): Array[Byte] =
    MessageDigest.getInstance("MD5")
      .digest(s"graft.avro.sync:$shard:$schema".getBytes(StandardCharsets.UTF_8))

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
    val json = schemaJson(fields)
    val puts = fields.map(f => toAvro(f._2)).toArray
    Shards.write(df, path, files, saltCol, AvroError(_)) { (shard, it) =>
      val schema = new Schema.Parser().parse(json)
      shard.commit(shard.name("avro")) { os =>
        val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
          .setCodec(CodecFactory.fromString(codec))
          // the library accepts sync intervals in [32, 2^30]
          .setSyncInterval(math.min(math.max(blockBytes, 32), 1 << 30))
        w.setFlushOnEveryBlock(false)
        w.create(schema, os, syncFor(json, shard.id))
        val rec = new GenericData.Record(schema)
        var rows = 0L
        it.foreach { r =>
          var i = 0
          while (i < puts.length) {
            rec.put(i, if (r.isNullAt(i)) null else puts(i)(r.get(i)))
            i += 1
          }
          w.append(rec)
          rows += 1
          if (rows % blockRows == 0) w.sync()
        }
        w.close()
      }
    }
  }

  // ------------------------------------------------------------- read

  /** Library failures as [[AvroError]]s naming the file. */
  private def guard[A](name: String)(body: => A): A =
    try body catch {
      case _: InvalidAvroMagicException =>
        throw AvroError(s"$name: not an avro object container (bad magic)")
      case e @ (_: IOException | _: AvroRuntimeException) =>
        val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .map(c => String.valueOf(c.getMessage))
        val err =
          if (msgs.exists(_.contains("Invalid sync")))
            AvroError(s"$name: sync marker mismatch after block (corrupt container)")
          else AvroError(s"$name: ${e.getMessage}")
        err.initCause(e)
        throw err
    }

  private def open(in: FsInput, name: String): DataFileReader[GenericRecord] =
    guard(name)(new DataFileReader[GenericRecord](in, new GenericDatumReader[GenericRecord]()))

  /** Read Avro container shards matching `pattern` as a DataFrame with
    * the embedded schema (plus a leading `file` column). Containers
    * are SPLIT into `splitBytes` ranges. All shards must embed the
    * same schema (loud error otherwise — silent unionByName across
    * drifting schemas corrupts a corpus). */
  def read(spark: SparkSession, pattern: String,
           splitBytes: Long = 32L << 20): DataFrame = {
    require(splitBytes >= (1L << 16),
      s"splitBytes must be >= 64 KiB, got $splitBytes")
    val stats = Shards.list(spark, pattern, AvroError(_))
    val conf = spark.sparkContext.hadoopConfiguration
    val schemas = stats.map { st =>
      val in = new FsInput(st.getPath, conf)
      try open(in, st.getPath.getName).getSchema finally in.close()
    }
    for ((st, s) <- stats.zip(schemas).tail if s != schemas.head) throw AvroError(
      s"schema drift across shards: ${stats.head.getPath} vs ${st.getPath}")
    val fields = subsetOf(schemas.head)
    val outSchema = StructType(
      StructField("file", StringType, nullable = false) +:
        fields.map { case (nm, t) => StructField(nm, sparkType(t), t.isInstanceOf[ANullable]) })
    val gets = fields.map(f => fromAvro(f._2)).toArray
    val splits = stats.flatMap { st =>
      (0L until st.getLen by splitBytes).map(s =>
        (st.getPath.toString, s, math.min(s + splitBytes, st.getLen)))
    }
    val rdd = Shards.perFile(spark, splits) { (conf, split) =>
      val (pathStr, start, end) = split
      val hp = new Path(pathStr)
      val fname = hp.getName
      val in = new FsInput(hp, conf)
      Shards.closing(in) {
        val reader = open(in, fname)
        guard(fname)(reader.sync(start))
        new Iterator[Row] {
          // a block is ours while the sync marker before it starts
          // before `end`; running out of blocks before that point means
          // the container ends inside a block
          override def hasNext: Boolean = guard(fname) {
            !reader.pastSync(end) && (reader.hasNext ||
              (throw AvroError(s"$fname: container ends inside a block (truncated)")))
          }
          override def next(): Row = {
            if (!hasNext) throw new NoSuchElementException
            val rec = guard(fname)(reader.next())
            Row.fromSeq(fname +: gets.indices.map(i => gets(i)(rec.get(i))))
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
