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

  test("one evaluation of the corpus summary DAG reads every frame it pinned from its cache") {
    // q46's DAG: sibling indicators share memoized raw children (daal4py
    // and sklearn both read raw/sklearn). A parent plan that misses a
    // pinned frame's cache entry recomputes the frame's lineage inside its
    // own jobs and leaves the entry unfilled
    val root = graft.corpus.ReferenceCorpus.ensure(spark, TestSpark.sfDir)
    val bench = Benchmark(spark, s"$root/summary_indicators.yml")
    try {
      assert(bench.getAggregatedData().collect().nonEmpty)
      val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sharedState.cacheManager
      val pinned = bench.pinnedFrames
      val unread = pinned.filterNot(f =>
        cache.lookupCachedData(f.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
          .exists(_.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded))
      assert(pinned.size > 24, s"${pinned.size} pinned frames")
      assert(unread.isEmpty, s"${unread.size} of ${pinned.size} pinned frames never filled:\n" +
        unread.map(_.columns.mkString(", ")).mkString("\n"))
    } finally bench.unpersist()
  }
}
