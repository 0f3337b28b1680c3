package graft.sources

import java.io.Closeable
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[Shards]]: the listing guard, the per-file task reader and the
  * temp+rename shard committer, pinned once for every file-format
  * source that uses them. */
class ShardsSpec extends AnyFunSuite {
  import ShardsSpec._

  private lazy val spark = TestSpark.spark

  private def names(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).iterator().asScala.map(_.getFileName.toString).toSeq.sorted

  private def text(dir: String, name: String): String =
    new String(Files.readAllBytes(Paths.get(dir, name)), StandardCharsets.UTF_8)

  /** Writes ids 0 until n as one `id` line per row into `.txt` shards. */
  private def writeIds(dir: String, n: Int, files: Int): Unit =
    Shards.write(spark.range(n).toDF("id"), dir, files, "id", ShardError(_)) {
      (shard, rows) =>
        shard.commit(shard.name("txt")) { os =>
          rows.foreach(r => os.write(s"${r.getLong(0)}\n".getBytes(StandardCharsets.UTF_8)))
        }
    }

  test("listing fails loudly on no match and on a file above maxFileBytes") {
    val dir = Files.createTempDirectory("graft_shards_list").toString
    Files.write(Paths.get(dir, "a.bin"), new Array[Byte](10))
    val none = intercept[ShardError](Shards.list(spark, s"$dir/none*", ShardError(_)))
    assert(none.msg == s"no files match $dir/none*")
    val none2 = intercept[ShardError](
      Shards.list(spark, s"$dir/*", ShardError(_), suffix = ".idx"))
    assert(none2.msg == s"no .idx files match $dir/*")
    val big = intercept[ShardError](
      Shards.list(spark, s"$dir/*", ShardError(_), maxFileBytes = 9, why = "one task per file"))
    assert(big.msg.endsWith("a.bin is 10 bytes > maxFileBytes=9: one task per file"), big.msg)
    assert(Shards.list(spark, s"$dir/*", ShardError(_), maxFileBytes = 10).size == 1)
  }

  test("files are read in sorted path order, one task each") {
    val dir = Files.createTempDirectory("graft_shards_read").toString
    for (n <- Seq("c", "a", "b"))
      Files.write(Paths.get(dir, s"$n.txt"), s"$n-1\n$n-2\n".getBytes(StandardCharsets.UTF_8))
    Files.createDirectory(Paths.get(dir, "d.txt")) // directories never match
    val paths = Shards.list(spark, s"$dir/*.txt", ShardError(_)).map(_.getPath.toString)
    val rdd = Shards.perFile(spark, paths) { (conf, p) =>
      val hp = new Path(p)
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        hp.getFileSystem(conf).open(hp), StandardCharsets.UTF_8))
      val task = TaskContext.getPartitionId()
      Shards.closing(in)(Iterator.continually(in.readLine()).takeWhile(_ != null)
        .map(line => (task, line)))
    }
    assert(rdd.getNumPartitions == 3)
    assert(rdd.collect().toSeq == Seq(
      0 -> "a-1", 0 -> "a-2", 1 -> "b-1", 1 -> "b-2", 2 -> "c-1", 2 -> "c-2"))
  }

  test("a drained stream is closed exactly once, an abandoned one at task end") {
    val drained = spark.sparkContext.parallelize(Seq(0), 1).mapPartitions { _ =>
      val c: Closeable = () => { closes.incrementAndGet(); () }
      Shards.closing(c)(Iterator(1, 2, 3))
    }
    closes.set(0)
    assert(drained.collect().toSeq == Seq(1, 2, 3))
    assert(closes.get == 1)
    closes.set(0)
    val e = intercept[org.apache.spark.SparkException](
      drained.map(x => if (x == 2) throw ShardError("mid-stream") else x).collect())
    assert(e.getMessage.contains("mid-stream"))
    assert(closes.get == 1)
  }

  test("a write commits every shard and leaves no temp file") {
    val dir = Files.createTempDirectory("graft_shards_write").toString
    writeIds(dir, 100, files = 3)
    val files = names(dir)
    assert(!files.exists(_.contains(".tmp")), files)
    // at most `files` shards: salt values can hash-merge into one
    val shards = files.filter(_.startsWith("part-"))
    assert(shards.nonEmpty && shards.forall(_.matches("part-0000[0-2]\\.txt")), shards)
    val ids = shards.flatMap(text(dir, _).split("\n")).map(_.toLong).sorted
    assert(ids == (0L until 100L))
  }

  test("a pre-existing shard is replaced") {
    val dir = Files.createTempDirectory("graft_shards_replace").toString
    Files.write(Paths.get(dir, "part-00000.txt"), "stale\n".getBytes(StandardCharsets.UTF_8))
    writeIds(dir, 3, files = 1)
    assert(text(dir, "part-00000.txt").split("\n").sorted.toSeq == Seq("0", "1", "2"))
  }

  test("an encoder that throws mid-shard leaves neither a shard nor a temp file") {
    val dir = Files.createTempDirectory("graft_shards_fail").toString
    val e = intercept[org.apache.spark.SparkException](
      Shards.write(spark.range(100).toDF("id"), dir, 1, "id", ShardError(_)) {
        (shard, rows) =>
          shard.commit(shard.name("txt")) { os =>
            rows.foreach { r =>
              os.write(s"${r.getLong(0)}\n".getBytes(StandardCharsets.UTF_8))
              if (r.getLong(0) == 50) throw ShardError("encoder failed mid-shard")
            }
          }
      })
    assert(e.getMessage.contains("encoder failed mid-shard"))
    assert(names(dir).isEmpty, names(dir))
  }

  test("a fixture is built once, in a temp dir renamed into place") {
    val name = s"graft_shards_fixture_${System.nanoTime}"
    val builds = new AtomicInteger
    def ensure() = Shards.fixture(name) { dir =>
      builds.incrementAndGet()
      assert(dir.endsWith(s"$name.tmp"))
      Files.write(Paths.get(dir, "x"), Array[Byte](1))
    }
    val root = ensure()
    assert(ensure() == root && builds.get == 1)
    assert(names(root) == Seq(".complete", "x"))
    assert(!Files.exists(Paths.get(s"$root.tmp")))
  }
}

object ShardsSpec {
  final case class ShardError(msg: String) extends RuntimeException(msg)
  val closes = new AtomicInteger
}
