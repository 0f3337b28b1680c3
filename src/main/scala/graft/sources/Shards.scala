package graft.sources

import java.io.{BufferedOutputStream, Closeable, EOFException, File, IOException, InputStream, OutputStream}
import java.nio.file.Files

import scala.reflect.ClassTag

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}

/** Shard IO shared by the file-format sources ([[Warc]], [[Avro]],
  * [[TfRecord]], [[Safetensors]], [[IndexedTokens]],
  * [[Sqlite.scanGlob]]), which keep only their encode/decode: the
  * listing guard ([[list]]), the per-file task reader ([[perFile]],
  * [[closing]]), the salted temp+rename shard writer ([[write]]) and
  * the marker-cached test/bench fixtures ([[fixture]]). */
private[graft] object Shards {

  // -------------------------------------------------------------- listing

  /** The files matching `pattern` (ending with `suffix`), sorted by path
    * — the row order of every one-task-per-file scan. Fails through
    * `err` when nothing matches, and when a file is above
    * `maxFileBytes`: those scans run ONE task per file, so a huge file
    * is a loud pre-flight error instead of a silent straggler; `why`
    * completes that message. */
  def list(spark: SparkSession, pattern: String, err: String => Exception,
           maxFileBytes: Long = Long.MaxValue, why: String = "",
           suffix: String = ""): Seq[FileStatus] = {
    val p = new Path(pattern)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stats = Option(fs.globStatus(p)).fold(Seq.empty[FileStatus])(_.toSeq)
      .filter(s => s.isFile && s.getPath.getName.endsWith(suffix))
      .sortBy(_.getPath.toString)
    if (stats.isEmpty) throw err(
      s"no ${if (suffix.isEmpty) "" else s"$suffix "}files match $pattern")
    for (s <- stats if s.getLen > maxFileBytes) throw err(
      s"${s.getPath} is ${s.getLen} bytes > maxFileBytes=$maxFileBytes: $why")
    stats
  }

  // ---------------------------------------------------------------- tasks

  /** `rdd.mapPartitions` with the driver's effective hadoop conf rebuilt
    * once per partition. `Configuration` is not Java-serializable and
    * Spark's SerializableConfiguration is spark-private, so the conf
    * ships as plain entries, snapshotted once per scan: object-store
    * credentials and endpoints survive into the tasks. */
  def mapWithConf[T, R: ClassTag](rdd: RDD[T])(
      f: (Configuration, Iterator[T]) => Iterator[R]): RDD[R] = {
    val entries = confEntries(rdd.sparkContext)
    rdd.mapPartitions(it => f(rebuild(entries), it))
  }

  /** One task per item (a file, or one split of a file), in order. */
  def perFile[T: ClassTag, R: ClassTag](spark: SparkSession, items: Seq[T])(
      read: (Configuration, T) => Iterator[R]): RDD[R] =
    mapWithConf(spark.sparkContext.parallelize(items, math.max(1, items.length)))(
      (conf, it) => it.flatMap(read(conf, _)))

  /** `rows` read off `in`, with `in` closed exactly once: when the rows
    * drain (thousands of files over a long-lived executor would
    * otherwise exhaust fds / object-store connections) or at task end
    * (parse failure, task kill, an early limit), whichever comes first.
    * `rows` is built after the task-end hook is in place, so a header
    * that fails to parse still releases the stream. */
  def closing[A](in: Closeable)(rows: => Iterator[A]): Iterator[A] = {
    val once = new Once(in)
    val base = rows
    new Iterator[A] {
      override def hasNext: Boolean = {
        val h = base.hasNext
        if (!h) once.close()
        h
      }
      override def next(): A = base.next()
    }
  }

  /** Closes `in` exactly once, quietly: on [[close]] or at the end of
    * the running task, whichever comes first. */
  final class Once(in: Closeable) {
    private var open = true
    Option(TaskContext.get()).foreach(
      _.addTaskCompletionListener[Unit](_ => close()))
    def close(): Unit = if (open) {
      open = false
      try in.close() catch { case _: Exception => () }
    }
  }

  /** Exactly `n` bytes of `in`; EOF before them is an error naming `what`. */
  def readFully(in: InputStream, n: Int, what: String): Array[Byte] = {
    val out = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val k = in.read(out, off, n - off)
      if (k < 0) throw new EOFException(s"EOF reading $what ($off/$n bytes)")
      off += k
    }
    out
  }

  private def confEntries(sc: SparkContext): Array[(String, String)] = {
    val it = sc.hadoopConfiguration.iterator()
    val buf = Array.newBuilder[(String, String)]
    while (it.hasNext) { val e = it.next(); buf += ((e.getKey, e.getValue)) }
    buf.result()
  }

  private def rebuild(entries: Array[(String, String)]): Configuration = {
    val conf = new Configuration(false)
    entries.foreach { case (k, v) => conf.set(k, v) }
    conf
  }

  // ---------------------------------------------------------------- write

  /** Writes `df` as at most `files` shards under `path`. Rows salt into
    * partitions by `pmod(xxhash64(salt), files)` — an upper bound: two
    * salt values whose hashes collide mod `files` share a shard, so
    * never more files, maybe fewer — optionally sorted by `salt` within
    * the shard (a deterministic layout: two builds of the same data are
    * byte-identical). Every non-empty partition runs `task` inside its
    * own executor task; the driver never sees a row. */
  def write(df: DataFrame, path: String, files: Int, salt: String,
            err: String => Exception, sortBySalt: Boolean = false)(
      task: (Shard, Iterator[Row]) => Unit): Unit = {
    require(files >= 1, s"files must be >= 1, got $files")
    val sc = df.sparkSession.sparkContext
    val entries = confEntries(sc)
    val out = new Path(path)
    out.getFileSystem(sc.hadoopConfiguration).mkdirs(out)
    val salted = df.repartition(files, pmod(xxhash64(col(salt)), lit(files.toLong)))
    (if (sortBySalt) salted.sortWithinPartitions(salt) else salted)
      .foreachPartition { (it: Iterator[Row]) =>
        if (it.hasNext) {
          val tc = TaskContext.get()
          task(new Shard(path, rebuild(entries), tc.partitionId(),
            tc.taskAttemptId(), err), it)
        }
      }
  }

  /** One shard-writing task; the partition id numbers its files. */
  final class Shard private[Shards] (dir: String, conf: Configuration,
                                     val id: Int, attempt: Long,
                                     err: String => Exception) {

    /** `part-NNNNN.<ext>`. */
    def name(ext: String): String = f"part-$id%05d.$ext"

    /** Writes file `name` of this shard through `write` (a buffered
      * stream, closed here).
      *
      * Commit protocol: the bytes go to an attempt-unique
      * `.<name>.attempt-M.tmp`, which is RENAMED into place on success —
      * a task that dies mid-write leaves only a dot-ignored temp
      * (removed on its own failure path), never a truncated shard.
      * Concurrent attempts of the same partition (speculation, zombies)
      * race on the delete+rename pair; the loser detects a complete
      * sibling shard already in place and accepts it (same partition
      * data — last complete writer wins), so neither attempt fails a
      * healthy write. Note the replace is delete-then-rename, not one
      * atomic op — on copy-based object stores (S3A) a reader globbing
      * DURING the replace can see the shard missing; publish to a fresh
      * directory when readers overlap writers. A shard of two files
      * commits them in call order, so committing data before its index
      * means a visible index always points at complete data. */
    def commit(name: String)(write: OutputStream => Unit): Unit = {
      val dest = new Path(dir, name)
      val tmp = new Path(dir, s".$name.attempt-$attempt.tmp")
      val fs = dest.getFileSystem(conf)
      try {
        val os = new BufferedOutputStream(fs.create(tmp, true), 1 << 16)
        try write(os) finally os.close()
        if (fs.exists(dest)) fs.delete(dest, false)
        // rename-failed + shard-present = a concurrent attempt of this
        // same partition committed a complete shard first; accept it
        // (the finally clears this attempt's temp)
        if (!fs.rename(tmp, dest) && !fs.exists(dest))
          throw err(s"could not commit $tmp -> $dest")
      } finally fs.delete(tmp, false) // no-op once renamed away
    }
  }

  // ------------------------------------------------------------- fixtures

  /** `sfDir`'s name as a fixture-name component. */
  def sfTag(sfDir: String): String =
    new File(sfDir).getName.replaceAll("[^A-Za-z0-9.]", "_")

  /** A test/bench fixture directory `<java.io.tmpdir>/<name>`, built once
    * and reused across JVMs through its `.complete` marker. Crash-safe
    * order: `build` fills `<name>.tmp`, that is renamed to `<name>`, and
    * only then is the marker written — a JVM killed mid-build leaves no
    * marker, so the next one rebuilds from scratch instead of reading a
    * half-written tree. Bump a version suffix in `name` whenever the
    * content changes. */
  def fixture(name: String)(build: String => Unit): String = synchronized {
    val root = new File(sys.props("java.io.tmpdir"), name)
    val marker = new File(root, ".complete")
    if (!marker.isFile) {
      val tmp = new File(root.getParent, s"$name.tmp")
      deleteRecursively(tmp)
      tmp.mkdirs()
      build(tmp.getPath)
      deleteRecursively(root)
      if (!tmp.renameTo(root))
        throw new IOException(s"could not move $tmp to $root")
      Files.write(marker.toPath, Array.emptyByteArray)
    }
    root.getPath
  }

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      f.listFiles().foreach(deleteRecursively)
    f.delete()
  }
}
