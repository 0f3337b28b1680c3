package graft.sources

import java.io.{BufferedInputStream, File}
import java.nio.{ByteBuffer, ByteOrder}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** safetensors — the public tensor-interchange file format (HuggingFace
  * spec): 8 bytes LE u64 = header length, a JSON header mapping tensor
  * name -> `{"dtype", "shape", "data_offsets"}` (plus an optional
  * `__metadata__` string map), then one contiguous little-endian
  * C-order byte buffer the offsets index into. The format embedding
  * stores and model pipelines exchange vectors in — this is how a
  * corpus's embedding column leaves (and re-enters) the engine without
  * a conversion pass.
  *
  * Shard contract (this writer's, validated loudly by the reader):
  * three tensors per file — `ids` I64 `[n]`, `labels` I32 `[n]`,
  * `embeddings` F32 `[n, d]` — all `n`s equal, one `d` per dataset.
  * F32/I64/I32 bytes round-trip BIT-EXACTLY (no re-encoding), so two
  * builds of one corpus are byte-identical files.
  *
  * Scale posture — the [[Shards]] contract: shards write one per
  * executor task (attempt-unique temp + rename), read one task per
  * file with a `maxFileBytes` pre-flight; rows salt by id
  * and sort within the shard; the driver never sees a vector.
  *
  * No reference counterpart — bearysta has no tensor I/O; this extends
  * the engine to the embedding-store handoff.
  */
object Safetensors {

  final case class SafetensorsError(msg: String) extends Exception(msg)

  // ------------------------------------------------------------- header io

  /** One parsed header entry. */
  final case class TensorMeta(dtype: String, shape: Seq[Long],
                              begin: Long, end: Long)

  /** Minimal JSON parser for the safetensors header: an object whose
    * values are objects with string / integer-array members. Complete
    * for the format (string escapes incl. \\uXXXX, arbitrary
    * whitespace, nested one level); loud errors with offsets. The
    * `__metadata__` entry (string map) is parsed and ignored. */
  private[sources] def parseHeader(json: String): Map[String, TensorMeta] = {
    var i = 0
    val n = json.length
    def fail(msg: String): Nothing =
      throw SafetensorsError(s"header json: $msg at offset $i")
    def ws(): Unit =
      while (i < n && Character.isWhitespace(json.charAt(i))) i += 1
    def expect(c: Char): Unit = {
      ws()
      if (i >= n || json.charAt(i) != c) fail(s"expected '$c'")
      i += 1
    }
    def parseString(): String = {
      ws()
      if (i >= n || json.charAt(i) != '"') fail("expected string")
      i += 1
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
    def parseLong(): Long = {
      ws()
      val start = i
      if (i < n && json.charAt(i) == '-') i += 1
      while (i < n && Character.isDigit(json.charAt(i))) i += 1
      if (start == i) fail("expected integer")
      json.substring(start, i).toLong
    }
    def parseLongArray(): Seq[Long] = {
      expect('[')
      ws()
      if (i < n && json.charAt(i) == ']') { i += 1; return Nil }
      val out = Seq.newBuilder[Long]
      var done = false
      while (!done) {
        out += parseLong()
        ws()
        if (i < n && json.charAt(i) == ',') i += 1
        else { expect(']'); done = true }
      }
      out.result()
    }
    def skipStringMap(): Unit = { // __metadata__: {"k": "v", ...}
      expect('{')
      ws()
      if (i < n && json.charAt(i) == '}') { i += 1; return }
      var done = false
      while (!done) {
        parseString(); expect(':'); parseString()
        ws()
        if (i < n && json.charAt(i) == ',') i += 1
        else { expect('}'); done = true }
      }
    }
    val out = Map.newBuilder[String, TensorMeta]
    expect('{')
    ws()
    if (i < n && json.charAt(i) == '}') return Map.empty
    var done = false
    while (!done) {
      val name = parseString()
      expect(':')
      ws()
      if (name == "__metadata__") skipStringMap()
      else {
        expect('{')
        var dtype: String = null
        var shape: Seq[Long] = null
        var offs: Seq[Long] = null
        var innerDone = false
        while (!innerDone) {
          val k = parseString()
          expect(':')
          k match {
            case "dtype" => dtype = parseString()
            case "shape" => shape = parseLongArray()
            case "data_offsets" => offs = parseLongArray()
            case other => fail(s"unknown tensor field '$other'")
          }
          ws()
          if (i < n && json.charAt(i) == ',') i += 1
          else { expect('}'); innerDone = true }
        }
        if (dtype == null || shape == null || offs == null || offs.length != 2)
          fail(s"tensor '$name' missing dtype/shape/data_offsets")
        out += name -> TensorMeta(dtype, shape, offs.head, offs(1))
      }
      ws()
      if (i < n && json.charAt(i) == ',') i += 1
      else { expect('}'); done = true }
    }
    out.result()
  }

  private def renderHeader(entries: Seq[(String, TensorMeta)]): Array[Byte] = {
    val body = entries.map { case (name, m) =>
      s""""$name":{"dtype":"${m.dtype}","shape":[${m.shape.mkString(",")}],""" +
        s""""data_offsets":[${m.begin},${m.end}]}"""
    }.mkString("{", ",", "}")
    // pad with spaces to 8-byte alignment (the spec's convention, keeps
    // the buffer aligned for mmap consumers)
    val pad = (8 - (body.length + 8) % 8) % 8
    val padded = body + (" " * pad)
    val out = ByteBuffer.allocate(8 + padded.length).order(ByteOrder.LITTLE_ENDIAN)
    out.putLong(padded.length.toLong)
    out.put(padded.getBytes("UTF-8"))
    out.array()
  }

  // ---------------------------------------------------------------- write

  /** Write `df` — `idCol` LONG, `labelCol` INT, `vecCol`
    * ARRAY&lt;FLOAT&gt; — as at most `files` `part-NNNNN.safetensors`
    * shards under `path`. Every vector must share one dimension
    * (enforced loudly — ragged embeddings are upstream bugs, not data);
    * rows salt by id and sort within the shard. */
  def writeEmbeddings(df: DataFrame, idCol: String, labelCol: String,
                      vecCol: String, path: String, files: Int): Unit = {
    import org.apache.spark.sql.functions.col
    val cols = df.select(col(idCol).cast("long").as("i"),
      col(labelCol).cast("int").as("l"),
      col(vecCol).cast("array<float>").as("v"))
    Shards.write(cols, path, files, "i", SafetensorsError(_),
        sortBySalt = true) { (shard, it) =>
      // the shard materializes per task (ids/labels buffer while the
      // vector bytes stream through a growing buffer) — bounded by
      // the same per-task sizing discipline as the parquet writers
      val ids = new scala.collection.mutable.ArrayBuffer[Long]()
      val labels = new scala.collection.mutable.ArrayBuffer[Int]()
      val vecBytes = new java.io.ByteArrayOutputStream(1 << 20)
      var dim = -1
      it.foreach { r =>
        if (r.isNullAt(2)) throw SafetensorsError(
          s"null embedding at id=${r.getLong(0)} — filter nulls upstream")
        // the shard buffers per task: bound LOUDLY (a declared
        // limit beats an allocator OOM) — 1 GiB of vector bytes or
        // 64 M rows, whichever first; raise `files` to shrink shards
        if (vecBytes.size() > (1 << 30) || ids.length >= (1 << 26))
          throw SafetensorsError(
            s"shard ${ids.length} rows / ${vecBytes.size()} vector " +
              "bytes exceeds the per-task buffer bound — write more " +
              "shards (raise files)")
        val v = r.getSeq[Float](2)
        if (dim < 0) dim = v.length
        else if (v.length != dim) throw SafetensorsError(
          s"ragged embeddings: id=${r.getLong(0)} has dim ${v.length}, " +
            s"shard started at $dim — one dimension per dataset")
        ids += r.getLong(0)
        labels += r.getInt(1)
        val bb = ByteBuffer.allocate(v.length * 4).order(ByteOrder.LITTLE_ENDIAN)
        var j = 0
        while (j < v.length) { bb.putFloat(v(j)); j += 1 }
        vecBytes.write(bb.array())
      }
      val n = ids.length
      val idsEnd = n.toLong * 8
      val labelsEnd = idsEnd + n.toLong * 4
      val vecsEnd = labelsEnd + vecBytes.size().toLong
      val header = renderHeader(Seq(
        "ids" -> TensorMeta("I64", Seq(n.toLong), 0L, idsEnd),
        "labels" -> TensorMeta("I32", Seq(n.toLong), idsEnd, labelsEnd),
        "embeddings" -> TensorMeta("F32", Seq(n.toLong, dim.toLong),
          labelsEnd, vecsEnd)))
      shard.commit(shard.name("safetensors")) { os =>
        os.write(header)
        val ib = ByteBuffer.allocate(n * 8).order(ByteOrder.LITTLE_ENDIAN)
        ids.foreach(ib.putLong)
        os.write(ib.array())
        val lb = ByteBuffer.allocate(n * 4).order(ByteOrder.LITTLE_ENDIAN)
        labels.foreach(lb.putInt)
        os.write(lb.array())
        vecBytes.writeTo(os)
      }
    }
  }

  // ----------------------------------------------------------------- read

  private val Schema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("label", IntegerType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false),
      nullable = false),
    StructField("Path", StringType, nullable = false),
    StructField("File", StringType, nullable = false)))

  /** Distributed scan of `.safetensors` embedding shards matched by
    * `pattern`: one executor task per file, vectors streamed row by row
    * off the `embeddings` tensor. Header, dtypes, shapes, offsets and
    * buffer length are all validated LOUDLY against this writer's
    * contract and the file's actual size. */
  def readEmbeddings(spark: SparkSession, pattern: String,
                     maxFileBytes: Long = 4L << 30): DataFrame = {
    val matches = Shards.list(spark, pattern, SafetensorsError(_), maxFileBytes,
      "readEmbeddings runs ONE task per file — write more/smaller shards " +
        "or raise maxFileBytes explicitly")
      .map(s => (s.getPath.toString, s.getLen))
    val rdd = Shards.perFile(spark, matches) { case (conf, (pathStr, fileLen)) =>
      val hp = new Path(pathStr)
      val in = new BufferedInputStream(hp.getFileSystem(conf).open(hp), 1 << 16)
      Shards.closing(in) {
        def bad(msg: String): Nothing =
          throw SafetensorsError(s"$pathStr: $msg")
        val lenBytes = Shards.readFully(in, 8, s"$pathStr header length")
        val headerLen = ByteBuffer.wrap(lenBytes)
          .order(ByteOrder.LITTLE_ENDIAN).getLong
        if (headerLen <= 0 || headerLen > (100L << 20))
          bad(s"implausible header length $headerLen")
        val header = parseHeader(new String(
          Shards.readFully(in, headerLen.toInt, s"$pathStr header"), "UTF-8"))
        def tensor(name: String, dtype: String, rank: Int): TensorMeta = {
          val m = header.getOrElse(name, bad(s"missing tensor '$name'"))
          if (m.dtype != dtype) bad(s"tensor '$name' is ${m.dtype}, expected $dtype")
          if (m.shape.length != rank)
            bad(s"tensor '$name' has rank ${m.shape.length}, expected $rank")
          if (m.begin < 0 || m.end < m.begin) bad(s"tensor '$name' bad offsets")
          m
        }
        val mi = tensor("ids", "I64", 1)
        val ml = tensor("labels", "I32", 1)
        val mv = tensor("embeddings", "F32", 2)
        val n = mi.shape.head
        if (ml.shape.head != n || mv.shape.head != n)
          bad(s"tensor row counts disagree: ids=$n labels=${ml.shape.head} " +
            s"embeddings=${mv.shape.head}")
        if (n > Int.MaxValue) bad(s"implausible row count $n")
        val dim = mv.shape(1)
        if (mi.end - mi.begin != n * 8) bad("ids offsets disagree with shape")
        if (ml.end - ml.begin != n * 4) bad("labels offsets disagree with shape")
        if (mv.end - mv.begin != n * dim * 4)
          bad("embeddings offsets disagree with shape")
        // this writer's layout: ids, labels, embeddings contiguous
        if (mi.begin != 0 || ml.begin != mi.end || mv.begin != ml.end)
          bad("tensors are not in this writer's contiguous layout " +
            "(ids, labels, embeddings)")
        if (fileLen != 8 + headerLen + mv.end)
          bad(s"file is $fileLen bytes, header expects ${8 + headerLen + mv.end}")
        val nI = n.toInt
        val dimI = dim.toInt
        val ids = ByteBuffer.wrap(Shards.readFully(in, nI * 8, s"$pathStr ids"))
          .order(ByteOrder.LITTLE_ENDIAN)
        val labels = ByteBuffer.wrap(Shards.readFully(in, nI * 4, s"$pathStr labels"))
          .order(ByteOrder.LITTLE_ENDIAN)
        val fname = new File(hp.toUri.getPath).getName
        (0 until nI).iterator.map { r =>
          val vb = ByteBuffer.wrap(
            Shards.readFully(in, dimI * 4, s"$pathStr embedding row $r"))
            .order(ByteOrder.LITTLE_ENDIAN)
          val vec = new Array[AnyRef](dimI)
          var j = 0
          while (j < dimI) { vec(j) = Float.box(vb.getFloat); j += 1 }
          Row(ids.getLong(r * 8), labels.getInt(r * 4),
            scala.collection.immutable.ArraySeq.unsafeWrapArray(vec),
            pathStr, fname)
        }
      }
    }
    spark.createDataFrame(rdd, Schema)
  }

  /** Test/bench fixture: the `embeddings` table exported once per sf dir
    * through [[writeEmbeddings]], built once by [[Shards.fixture]]. */
  def ensureEmbeddingsFixture(spark: SparkSession, sfDir: String,
                              files: Int = 4): String =
    Shards.fixture(s"graft_safet_v1_${Shards.sfTag(sfDir)}") { dir =>
      writeEmbeddings(graft.Tables(spark, sfDir, "embeddings"),
        "vec_id", "label", "embedding", dir, files)
    }
}
