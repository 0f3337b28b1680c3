package graft.recipe

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The reference corpus' 3-layer convention (raw -> indicators ->
  * summary, doc/GETTING_STARTED.md:233-248) end-to-end on synthetic
  * benchmark logs: regex line carving + .meta sidecars at the raw layer,
  * ratio_of at the indicators layer, geomean rollup at the summary
  * layer. Children contribute NORMALIZED (per-row) data, so the summary
  * geomean runs over raw-row-level ratios — exactly the reference's
  * semantics (aggregate.py:86).
  */
class ThreeLayerDagSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The RDD blocks the block manager stored while `f` ran. */
  private def rddBlocksStoredBy(f: => Unit): Seq[String] = {
    val stored = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onBlockUpdated(e: org.apache.spark.scheduler.SparkListenerBlockUpdated): Unit =
        if (e.blockUpdatedInfo.blockId.isRDD && e.blockUpdatedInfo.storageLevel.isValid)
          stored.add(e.blockUpdatedInfo.blockId.name)
    }
    org.apache.spark.GraftBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      f
      org.apache.spark.GraftBusDrain(spark.sparkContext)
      stored.toArray(Array.empty[String]).toSeq
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("raw -> indicators -> summary DAG with geomean rollup") {
    val dir: Path = Files.createTempDirectory("graft_dag")
    def w(name: String, content: String): Unit = {
      val p = dir.resolve(name)
      Files.createDirectories(p.getParent)
      Files.writeString(p, content)
    }

    // raw benchmark logs: free-text lines carved by regex; Prefix via .meta
    w("runs/r1/env1/bench.out",
      """starting benchmark suite
        |RESULT op=erf n=100 mops=10.0
        |RESULT op=erf n=100 mops=20.0
        |RESULT op=exp n=100 mops=40.0
        |teardown ok
        |""".stripMargin)
    w("runs/r1/env1/bench.out.meta", "Prefix: base\n")
    w("runs/r1/env2/bench.out",
      """RESULT op=erf n=100 mops=30.0
        |RESULT op=exp n=100 mops=60.0
        |""".stripMargin)
    w("runs/r1/env2/bench.out.meta", "Prefix: fast\n")

    w("raw_mops.yml",
      s"""input:
         |  path: "$dir/runs/*/*/*.out"
         |  csv-header: "op, n, mops"
         |  filter:
         |    'RESULT op=(\\w+) n=(\\d+) mops=([\\d.]+)': '\\1,\\2,\\3'
         |aggregation: mean
         |values: [mops]
         |series: [Prefix]
         |axis: [op, n]
         |""".stripMargin)

    w("indicators.yml",
      s"""input:
         |  config: [raw_mops.yml]
         |aggregation: mean
         |precomputed:
         |  Ratio: "ratio_of('mops', Prefix='base')"
         |values: [Ratio]
         |series: [Prefix]
         |axis: [op, n]
         |""".stripMargin)

    w("summary.yml",
      s"""input:
         |  config: [indicators.yml]
         |aggregation: geomean
         |values: [Ratio]
         |series: [Prefix]
         |""".stripMargin)

    val bench = Benchmark(spark, dir.resolve("summary.yml").toString)
    val out = bench.getAggregatedData()
    val m = out.collect().map(r =>
      r.getAs[Any]("Prefix").toString -> r.getAs[Double]("Ratio")).toMap

    // base rows carry Ratio=1 (3 raw rows) -> geomean 1.
    // fast: erf ratio = 30 / mean(10,20) = 2; exp ratio = 60/40 = 1.5;
    // normalized child data has one row per RAW row -> geomean(2, 1.5).
    assert(math.abs(m("base") - 1.0) < 1e-9)
    assert(math.abs(m("fast") - math.sqrt(2.0 * 1.5)) < 1e-9)

    // File column of the summary's input was stamped with the child name
    assert(out.collect().forall(_.getAs[String]("File") == "indicators"))

    // intermediate check: indicators layer aggregates to per-op ratios
    val ind = Benchmark(spark, dir.resolve("indicators.yml").toString)
      .getAggregatedData()
    val indM = ind.collect().map(r =>
      (r.getAs[Any]("Prefix").toString, r.getAs[Any]("op").toString) ->
        r.getAs[Double]("Ratio")).toMap
    assert(indM(("fast", "erf")) == 2.0 && indM(("fast", "exp")) == 1.5)
    assert(indM(("base", "erf")) == 1.0 && indM(("base", "exp")) == 1.0)
  }

  test("one evaluation of a distributed-layout recipe DAG reads every frame it pinned from its cache") {
    // two sibling indicators share one memoized raw child, as q46's
    // daal4py and sklearn indicators share raw/sklearn; the raw log is
    // above the one-partition size rule, so the DAG pins its frames in
    // the cache. A parent plan that misses a pinned frame's cache entry
    // recomputes the frame's lineage inside its own jobs and leaves the
    // entry unfilled
    val dir: Path = Files.createTempDirectory("graft_dag_big")
    val log = new StringBuilder
    var i = 0
    while (log.length < (5 << 18)) { // 1.25 MB
      log.append(s"RESULT op=op${i % 7} n=${100 * (1 + i % 3)} mops=${1 + i % 11}.0\n")
      i += 1
    }
    for ((env, prefix) <- Seq("env1" -> "base", "env2" -> "fast")) {
      Files.createDirectories(dir.resolve(s"runs/$env"))
      Files.writeString(dir.resolve(s"runs/$env/bench.out"), log.toString)
      Files.writeString(dir.resolve(s"runs/$env/bench.out.meta"), s"Prefix: $prefix\n")
    }
    Files.writeString(dir.resolve("raw_mops.yml"),
      s"""input:
         |  path: "$dir/runs/*/*.out"
         |  csv-header: "op, n, mops"
         |  filter:
         |    'RESULT op=(\\w+) n=(\\d+) mops=([\\d.]+)': '\\1,\\2,\\3'
         |aggregation: mean
         |values: [mops]
         |series: [Prefix]
         |axis: [op, n]
         |""".stripMargin)
    for ((name, fn) <- Seq("ratio" -> "ratio_of", "percent" -> "percent_of"))
      Files.writeString(dir.resolve(s"$name.yml"),
        s"""input:
           |  config: [raw_mops.yml]
           |aggregation: mean
           |precomputed:
           |  Ratio: "$fn('mops', Prefix='base')"
           |values: [Ratio]
           |series: [Prefix]
           |axis: [op, n]
           |""".stripMargin)
    Files.writeString(dir.resolve("summary.yml"),
      """input:
        |  config: [ratio.yml, percent.yml]
        |aggregation: geomean
        |values: [Ratio]
        |series: [Prefix]
        |""".stripMargin)
    val bench = Benchmark(spark, dir.resolve("summary.yml").toString)
    try {
      // every log line of both environments has the same mops: each
      // ratio is 1 and each percentage 100, so the geomean over both
      // indicators' rows is 10 for either prefix
      var rows: Array[org.apache.spark.sql.Row] = null
      val stored = rddBlocksStoredBy { rows = bench.getAggregatedData().collect() }
      val m = rows.map(r => r.getAs[Any]("Prefix").toString -> r.getAs[Double]("Ratio")).toMap
      assert(stored.nonEmpty)
      assert(m.keySet == Set("base", "fast") && m.values.forall(v => math.abs(v - 10.0) < 1e-9),
        m.toString)
      assert(!bench.onePartition)
      val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sharedState.cacheManager
      val pinned = bench.pinnedFrames
      val unread = pinned.filterNot(f =>
        cache.lookupCachedData(f.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
          .exists(_.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded))
      // the raw parse, the raw child frame (once, shared), two indicator
      // frames and their two ratio groups
      assert(pinned.size >= 6, s"${pinned.size} pinned frames")
      assert(unread.isEmpty, s"${unread.size} of ${pinned.size} pinned frames never filled:\n" +
        unread.map(_.columns.mkString(", ")).mkString("\n"))
    } finally bench.unpersist()
  }

  test("one evaluation of the corpus summary DAG in the one-partition layout stores no RDD block") {
    // q46's DAG is below the size rule: its materializations are local
    // relations on the driver, so nothing is cached and no block is
    // written, where the distributed layout pins 48 frames
    val root = graft.corpus.ReferenceCorpus.ensure(spark, TestSpark.sfDir)
    val bench = Benchmark(spark, s"$root/summary_indicators.yml")
    try {
      val stored = rddBlocksStoredBy(assert(bench.getAggregatedData().collect().nonEmpty))
      assert(bench.onePartition)
      assert(bench.pinnedFrames.isEmpty, s"${bench.pinnedFrames.size} frames pinned in the cache")
      assert(stored.isEmpty, s"RDD blocks stored: ${stored.mkString(", ")}")
    } finally bench.unpersist()
  }
}
