package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.{CodecFactory, DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Avro object-container files through the Avro library: schema JSON
  * round trip, write/read round trips over both codecs incl. nulls and
  * arrays, SPLIT-read equivalence at every split size (the sync-marker
  * scale path), interop with plain library writers and readers both
  * ways, and the loud-failure matrix. */
class AvroSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("schema json round-trips the full declared subset") {
    val schema = StructType(Seq(
      StructField("s", StringType, nullable = false),
      StructField("sn", StringType, nullable = true),
      StructField("i", IntegerType, nullable = false),
      StructField("l", LongType, nullable = true),
      StructField("f", FloatType, nullable = false),
      StructField("d", DoubleType, nullable = true),
      StructField("b", BooleanType, nullable = false),
      StructField("y", BinaryType, nullable = false),
      StructField("al", ArrayType(LongType, containsNull = false),
        nullable = false),
      StructField("as", ArrayType(StringType, containsNull = false),
        nullable = true)))
    val fields = Avro.fieldsOf(schema)
    val json = Avro.schemaJson(fields)
    assert(Avro.parseSchemaJson(json) == fields)
    // foreign-writer whitespace + extra attributes tolerated
    val decorated = json
      .replace("{\"type\":\"record\"",
        "{ \"namespace\" : \"x.y\", \"doc\": \"hi\", \"type\":\"record\"")
      .replace(",", " , ")
    assert(Avro.parseSchemaJson(decorated) == fields)
  }

  test("schema parser rejects what the subset excludes, loudly") {
    def bad(json: String, frag: String): Unit = {
      val e = intercept[Avro.AvroError](Avro.parseSchemaJson(json))
      assert(e.getMessage.contains(frag), s"msg=${e.getMessage}")
    }
    bad("""{"type":"record","name":"r","fields":[
            {"name":"m","type":{"type":"map","values":"long"}}]}""",
      "unsupported complex type")
    bad("""{"type":"record","name":"r","fields":[
            {"name":"e","type":{"type":"enum","name":"E","symbols":["A"]}}]}""",
      "unsupported complex type")
    bad("""{"type":"record","name":"r","fields":[
            {"name":"u","type":["string","long"]}]}""",
      "union must lead")
    bad(""""long"""", "must be a record")
  }

  private def roundTripDf() = {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = true),
      StructField("w", DoubleType, nullable = true),
      StructField("f", FloatType, nullable = false),
      StructField("ok", BooleanType, nullable = false),
      StructField("blob", BinaryType, nullable = false),
      StructField("xs", ArrayType(LongType, containsNull = false),
        nullable = false)))
    val rows = (0 until 500).map { i =>
      Row(i.toLong,
        if (i % 5 == 0) null else s"name-$i é中",
        if (i % 7 == 0) null else i / 8.0,
        i / 4.0f,
        i % 2 == 0,
        Array.tabulate[Byte](i % 5)(k => (i + k).toByte),
        (0L until (i % 4).toLong).toSeq)
    }
    spark.createDataFrame(rows.asJava, schema)
  }

  private def canon(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.select(col("id"), col("name"), col("w"), col("f"), col("ok"),
        hex(col("blob")).as("blob"),
        concat_ws("|", col("xs").cast("array<string>")).as("xs"))
      .collect()
      .map(_.toString)
      .toSet

  for (codec <- Seq("null", "deflate"))
    test(s"write/read round-trips values, nulls, arrays ($codec codec)") {
      val dir = Files.createTempDirectory(s"avro_rt_$codec").toString
      val df = roundTripDf()
      Avro.write(df, dir, files = 3, saltCol = "id", codec = codec,
        blockRows = 64)
      val back = Avro.read(spark, s"$dir/*.avro")
      assert(back.columns.toSeq ==
        Seq("file", "id", "name", "w", "f", "ok", "blob", "xs"))
      assert(canon(back.drop("file")) == canon(df))
    }

  test("split reads agree with the whole-file read at every split size " +
    "and actually fan out") {
    val dir = Files.createTempDirectory("avro_split").toString
    // one shard, many small blocks -> many sync points inside one file
    val df = roundTripDf()
    Avro.write(df.withColumn("pad",
        concat_ws("", array_repeat(lit("x"), 400))),
      dir, files = 1, saltCol = "id", codec = "null", blockRows = 8)
    val whole = Avro.read(spark, s"$dir/*.avro", splitBytes = 1L << 30)
    assert(whole.rdd.getNumPartitions == 1)
    val split = Avro.read(spark, s"$dir/*.avro", splitBytes = 1L << 16)
    assert(split.rdd.getNumPartitions > 1,
      "a 200+ KB shard at 64 KiB splits must plan multiple tasks")
    assert(canon(split.drop("file", "pad")) == canon(df))
    assert(split.count() == 500 && whole.count() == 500)
  }

  test("mixed-codec shards read through one glob") {
    val dir = Files.createTempDirectory("avro_mixed").toString
    val df = roundTripDf()
    Avro.write(df.filter(col("id") % 2 === 0), s"$dir/a", files = 1,
      saltCol = "id", codec = "deflate", blockRows = 32)
    Avro.write(df.filter(col("id") % 2 =!= 0), s"$dir/b", files = 1,
      saltCol = "id", codec = "null", blockRows = 32)
    val back = Avro.read(spark, s"$dir/*/part-*.avro")
    assert(canon(back.drop("file")) == canon(df))
  }

  test("loud failures: bad magic, schema drift, unsupported write type, " +
    "corrupt sync") {
    val dir = Files.createTempDirectory("avro_bad").toString
    val df = roundTripDf()
    Avro.write(df, s"$dir/ok", files = 1, saltCol = "id", blockRows = 64)
    val shard = Paths.get(s"$dir/ok/part-00000.avro")

    // not a container
    val junk = Paths.get(s"$dir/junk.avro")
    Files.write(junk, "PAR1 not avro".getBytes)
    val e1 = intercept[Avro.AvroError](Avro.read(spark, junk.toString))
    assert(e1.getMessage.contains("bad magic"))

    // schema drift across shards
    Avro.write(df.select(col("id")), s"$dir/drift", files = 1, saltCol = "id")
    val e2 = intercept[Avro.AvroError](
      Avro.read(spark, s"$dir/{ok,drift}/part-*.avro"))
    assert(e2.getMessage.contains("schema drift"))

    // unsupported column type is a plan-time refusal
    val e3 = intercept[Avro.AvroError](
      Avro.write(df.select(struct(col("id")).as("s")), s"$dir/nested",
        files = 1, saltCol = "s"))
    assert(e3.getMessage.contains("unsupported type"))

    // flip one byte of the first block's sync marker -> loud corruption
    val bytes = Files.readAllBytes(shard)
    val sync = Avro.syncFor(
      Avro.schemaJson(Avro.fieldsOf(df.schema)), 0)
    // header ends with the first occurrence of sync; the NEXT
    // occurrence terminates block 1 — corrupt that one
    def indexOf(hay: Array[Byte], needle: Array[Byte], from: Int): Int = {
      var i = from
      while (i <= hay.length - needle.length) {
        var k = 0
        while (k < needle.length && hay(i + k) == needle(k)) k += 1
        if (k == needle.length) return i
        i += 1
      }
      -1
    }
    val h = indexOf(bytes, sync, 0)
    val b1 = indexOf(bytes, sync, h + 16)
    assert(h >= 0 && b1 > h)
    bytes(b1 + 3) = (bytes(b1 + 3) ^ 0x5A).toByte
    val corrupt = Paths.get(s"$dir/corrupt.avro")
    Files.write(corrupt, bytes)
    val e4 = intercept[org.apache.spark.SparkException](
      Avro.read(spark, corrupt.toString).count())
    assert(e4.getMessage.contains("sync marker mismatch") ||
      Option(e4.getCause).exists(_.getMessage.contains("sync marker mismatch")))
  }

  test("a foreign container (namespace, doc, deflate, small sync interval) " +
    "reads the same rows at 64 KiB splits as whole") {
    val schema = new Schema.Parser().parse(
      """{"type": "record", "name": "Doc", "namespace": "org.example.corpus",
        | "doc": "written by another tool",
        | "fields": [
        |   {"name": "id", "type": "long", "doc": "row id"},
        |   {"name": "name", "type": ["null", "string"], "default": null},
        |   {"name": "w", "type": "double"},
        |   {"name": "tags", "type": {"type": "array", "items": "string"}}]}
        |""".stripMargin)
    val file = Files.createTempDirectory("avro_foreign").resolve("foreign.avro").toFile
    val rnd = new scala.util.Random(7)
    val expected = Seq.newBuilder[String]
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
      .setCodec(CodecFactory.deflateCodec(6)).setSyncInterval(2048)
    w.create(schema, file)
    for (i <- 0 until 5000) {
      val name = if (i % 3 == 0) null else s"n$i"
      val tags = Seq.fill(i % 3)(rnd.alphanumeric.take(40).mkString)
      val r = new GenericData.Record(schema)
      r.put("id", i.toLong)
      r.put("name", name)
      r.put("w", i / 4.0)
      r.put("tags", tags.asJava)
      w.append(r)
      expected += Row(i.toLong, name, i / 4.0, tags.mkString("|")).toString
    }
    w.close()
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("id"), col("name"), col("w"), concat_ws("|", col("tags")))
        .collect().map(_.toString).sorted.toSeq
    val whole = Avro.read(spark, file.getPath, splitBytes = 1L << 30)
    val split = Avro.read(spark, file.getPath, splitBytes = 1L << 16)
    assert(split.rdd.getNumPartitions > 1,
      s"a ${file.length} byte container at 64 KiB splits must plan multiple tasks")
    assert(split.columns.toSeq == Seq("file", "id", "name", "w", "tags"))
    assert(rows(whole) == expected.result().sorted)
    assert(rows(split) == rows(whole))
  }

  test("a shard written by Avro.write reads back through a plain DataFileReader") {
    val dir = Files.createTempDirectory("avro_plain").toString
    val df = roundTripDf()
    Avro.write(df, dir, files = 1, saltCol = "id", codec = "deflate", blockRows = 64)
    val shard = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".avro")).head
    val reader = new DataFileReader[GenericRecord](shard, new GenericDatumReader[GenericRecord]())
    val back = try {
      assert(reader.getSchema.toString == Avro.schemaJson(Avro.fieldsOf(df.schema)))
      reader.iterator().asScala.map { r =>
        val blob = r.get("blob").asInstanceOf[java.nio.ByteBuffer]
        Row(r.get("id"), Option(r.get("name")).map(_.toString).orNull, r.get("w"),
          r.get("f"), r.get("ok"),
          (blob.position() until blob.limit()).map(i => f"${blob.get(i)}%02X").mkString,
          r.get("xs").asInstanceOf[java.util.List[_]].asScala.mkString("|")).toString
      }.toSeq
    } finally reader.close()
    assert(back.sorted == canon(df).toSeq.sorted)
  }

  test("a truncated container fails loudly instead of reading short") {
    val dir = Files.createTempDirectory("avro_trunc").toString
    Avro.write(roundTripDf(), s"$dir/ok", files = 1, saltCol = "id", codec = "null",
      blockRows = 8)
    val bytes = Files.readAllBytes(Paths.get(s"$dir/ok/part-00000.avro"))
    // cut the final sync marker and part of the last block's records
    val cut = Paths.get(s"$dir/cut.avro")
    Files.write(cut, bytes.take(bytes.length - 40))
    val e = intercept[org.apache.spark.SparkException](Avro.read(spark, cut.toString).count())
    assert(e.getMessage.contains("truncated"), e.getMessage)
  }
}
