package graft.recipe

import java.nio.file.{Files, Path}

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftBusDrain
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** End-to-end recipe runs over synthetic log fixtures written to a temp
  * dir: scan (glob, header imposition, line filter, .meta), normalize
  * (rename, filters, precomputed incl. ratio_of), aggregate, sinks.
  * Golden values are computed by hand.
  */
class RecipePipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmpDir(): Path = Files.createTempDirectory("graft_recipe")

  private def write(dir: Path, name: String, content: String): Path = {
    val p = dir.resolve(name)
    Files.writeString(p, content)
    p
  }

  /** `f`'s result and every query execution a listener registered on the
    * caller's session saw while `f` ran. */
  private def queriesOf[A](f: => A): (A, Seq[QueryExecution]) = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    GraftBusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val r = f
      GraftBusDrain(spark.sparkContext)
      (r, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Exchanges and adaptive stages of `p`, cached relations' plans included. */
  private def distributedNodes(p: SparkPlan): Seq[String] = p.collectWithSubqueries {
    case e: ShuffleExchangeLike => Seq(e.nodeName)
    case b: BroadcastExchangeLike => Seq(b.nodeName)
    case a: AdaptiveSparkPlanExec => Seq(a.nodeName)
    case m: InMemoryTableScanExec => distributedNodes(m.relation.cachedPlan)
  }.flatten

  /** Joins of logical plan `p`, cached relations' plans included. */
  private def joins(p: LogicalPlan): Seq[Join] = p.collectWithSubqueries {
    case j: Join => Seq(j)
    case m: InMemoryRelation => joins(m.cacheBuilder.logicalPlan)
  }.flatten

  private val perfCsv =
    """Prefix, size, Time
      |native, 100, 1.0
      |native, 100, 3.0
      |intel, 100, 4.0
      |native, 200, 10.0
      |intel, 200, 5.0
      |""".stripMargin

  /** A two-level DAG over `data`: a raw child recipe and a parent with a
    * `ratio_of` over it (the indicator shape). */
  private def ratioDag(dir: Path, data: String): String = {
    write(dir, "perf.csv", data)
    write(dir, "child.yml",
      s"""input:
         |  path: "${dir}/perf.csv"
         |aggregation: mean
         |values: [Time]
         |series: [Prefix]
         |axis: [size]
         |""".stripMargin)
    """input:
      |  config:
      |  - child.yml
      |aggregation: mean
      |precomputed:
      |  Ratio: "ratio_of('Time', Prefix='native')"
      |values: [Ratio]
      |series: [Prefix]
      |axis: [size]
      |""".stripMargin
  }

  private def ratios(rows: Array[org.apache.spark.sql.Row]): Map[(String, Long), Double] =
    rows.map(r => (r.getAs[Any]("Prefix").toString, r.getAs[Long]("size")) ->
      r.getAs[Double]("Ratio")).toMap

  test("CSV scan with headered files, rename, filter, mean aggregation") {
    val dir = tmpDir()
    write(dir, "a.csv",
      """impl, size, time
        |numpy, 100, 2.0
        |numpy, 200, 4.0
        |numba, 100, 1.0
        |""".stripMargin)
    write(dir, "b.csv",
      """impl, size, time
        |numba, 200, 3.0
        |numba, 200, 5.0
        |""".stripMargin)
    val recipe =
      s"""input:
         |  path: "${dir}/*.csv"
         |rename:
         |  impl: Prefix
         |aggregation: mean
         |values: [time]
         |series: [Prefix]
         |axis: [size]
         |""".stripMargin
    val bench = Benchmark.fromString(spark, recipe)
    val out = bench.getAggregatedData()
    val rows = out.collect().map(r =>
      (r.getAs[Any]("Prefix").toString, r.getAs[Long]("size"), r.getAs[Double]("time"))).toSet
    assert(rows == Set(("numpy", 100L, 2.0), ("numpy", 200L, 4.0),
      ("numba", 100L, 1.0), ("numba", 200L, 4.0)))
    // provenance survived (first-aggregated)
    assert(out.columns.contains("File"))
  }

  test("a 120-file glob stays O(1) Spark jobs (one scan, not one per file)") {
    val dir = tmpDir()
    for (i <- 0 until 120)
      write(dir, f"part_$i%03d.csv",
        s"""impl,size,time
           |numpy,${100 * (i % 3 + 1)},${1.0 + i % 7}
           |numba,${100 * (i % 3 + 1)},${2.0 + i % 5}
           |""".stripMargin)
    val recipe =
      s"""input:
         |  path: "${dir}/*.csv"
         |aggregation: mean
         |values: [time]
         |series: [impl]
         |axis: [size]
         |""".stripMargin
    val (out, jobs) = graft.obs.QueryJobs.of(spark)(
      Benchmark.fromString(spark, recipe).getAggregatedData().collect())
    assert(out.length == 6) // 2 impls x 3 sizes
    // driver-side header peeks are plain file reads, not Spark jobs; the
    // data path is ONE multi-file csv scan + inference + aggregate —
    // far fewer jobs than files
    assert(jobs.size <= 12, s"120-file recipe launched ${jobs.size} jobs")
  }

  test("the reference's 'precompute:' typo key is silently ignored (quirk parity)") {
    // examples/aggregations/sklearn.yml writes `precompute:` (no 'd');
    // the reference treats unknown keys as no-ops (aggregate.py:123-131)
    import spark.implicits._
    val df = Seq(("a", 1.0), ("b", 2.0)).toDF("Prefix", "Ratio")
    val recipe =
      """aggregation: median
        |precompute:
        |  Ratio: "np.max(df['Ratio'], 0.01)"
        |values: [Ratio]
        |series: [Prefix]
        |""".stripMargin
    val out = Benchmark.fromString(spark, recipe).getAggregatedData(df0 = Some(df))
      .orderBy("Prefix").collect()
    // values untouched: the typo'd precompute never ran
    assert(out.map(_.getAs[Double]("Ratio")).toSeq == Seq(1.0, 2.0))
  }

  test("a child recipe listed twice evaluates once (shared DAG memo)") {
    val dir = tmpDir()
    write(dir, "data.csv", "impl,time\nnumpy,2.0\nnumba,4.0\n")
    write(dir, "child.yml",
      s"""input:
         |  path: "${dir}/data.csv"
         |aggregation: mean
         |values: [time]
         |series: [impl]
         |""".stripMargin)
    val parent =
      s"""input:
         |  config:
         |  - ${dir}/child.yml
         |  - ${dir}/./child.yml
         |aggregation: mean
         |values: [time]
         |series: [impl]
         |""".stripMargin
    val bench = Benchmark.fromString(spark, parent, baseDir = dir.toString)
    val frames = bench.childFrames
    assert(frames.size == 2)
    // same canonical path -> same memoized frame instance, one evaluation
    assert(frames(0) eq frames(1))
    // the doubled child doubles the rows, like the reference's concat
    assert(bench.getRawData().count() == 4)
  }

  test("csv-header imposition when the file has no header") {
    val dir = tmpDir()
    write(dir, "raw.csv", "numpy, 100, 2.5\nnumba, 100, 1.25\n")
    val recipe =
      s"""input:
         |  path: "${dir}/raw.csv"
         |  csv-header: "impl, size, time"
         |aggregation: min
         |values: [time]
         |series: [impl]
         |""".stripMargin
    val out = Benchmark.fromString(spark, recipe).getAggregatedData()
    val m = out.collect().map(r => r.getAs[Any]("impl").toString -> r.getAs[Double]("time")).toMap
    assert(m == Map("numpy" -> 2.5, "numba" -> 1.25))
  }

  test("csv-header field count uses the scan's own CSV rule (backslash-escaped quote)") {
    // `"num\"py",100,2.5` is 3 fields to the scan (escape `\`) but 1 to an
    // RFC-4180-only split, which would fail the csv-header count check
    val dir = tmpDir()
    write(dir, "raw.csv", "\"num\\\"py\",100,2.5\nnumba,100,1.25\n")
    val recipe =
      s"""input:
         |  path: "${dir}/raw.csv"
         |  csv-header: "impl, size, time"
         |aggregation: min
         |values: [time]
         |series: [impl]
         |""".stripMargin
    val out = Benchmark.fromString(spark, recipe).getAggregatedData()
    val m = out.collect().map(r => r.getAs[Any]("impl").toString -> r.getAs[Double]("time")).toMap
    assert(m == Map("num\"py" -> 2.5, "numba" -> 1.25))
  }

  test("regex line filter extracts fields from log lines") {
    val dir = tmpDir()
    write(dir, "bench.log",
      """starting up...
        |RESULT impl=numpy size=100 time=2.0
        |some noise line
        |RESULT impl=numba size=100 time=0.5
        |done
        |""".stripMargin)
    val recipe =
      s"""input:
         |  path: "${dir}/bench.log"
         |  csv-header: "impl, size, time"
         |  filter:
         |    'RESULT impl=(\\w+) size=(\\d+) time=([\\d.]+)': '\\1,\\2,\\3'
         |aggregation: max
         |values: [time]
         |series: [impl]
         |axis: [size]
         |""".stripMargin
    val out = Benchmark.fromString(spark, recipe).getAggregatedData()
    val m = out.collect().map(r => r.getAs[Any]("impl").toString -> r.getAs[Double]("time")).toMap
    assert(m == Map("numpy" -> 2.0, "numba" -> 0.5))
  }

  test("a bare mid-line CR ends the line alike on both CSV scan paths") {
    // the reference reads with universal newlines, so a lone CR is a line
    // break: the native reader (Hadoop LineRecordReader) and the filtered
    // wholetext path (linesIterator) must both split there, and no CR may
    // reach a parsed value
    val dir = tmpDir()
    write(dir, "cr.csv", "impl, time\nnumpy, 1.0\rnumba, 2.0\r\nscipy, 3.0\n")
    def raw(filter: String): Set[(String, String)] = {
      val bench = Benchmark.fromString(spark,
        s"""input:
           |  path: "${dir}/cr.csv"
           |$filter
           |aggregation: mean
           |values: [time]
           |series: [impl]
           |""".stripMargin)
      try bench.getRawData().select("impl", "time").collect()
        .map(r => (r.get(0).toString, r.get(1).toString)).toSet
      finally bench.unpersist()
    }
    val native = raw("")
    assert(native == Set(("numpy", "1.0"), ("numba", "2.0"), ("scipy", "3.0")))
    assert(raw("  filter:\n    ',': null") == native)
  }

  test(".meta sidecar adds constant columns") {
    val dir = tmpDir()
    write(dir, "r.csv", "impl, time\nnumpy, 1.0\n")
    write(dir, "r.csv.meta", "Hostname: node01\nThreads: 8\n")
    val recipe =
      s"""input:
         |  path: "${dir}/r.csv"
         |aggregation: mean
         |values: [time]
         |series: [impl]
         |""".stripMargin
    val out = Benchmark.fromString(spark, recipe).getAggregatedData()
    val r = out.collect()(0)
    assert(r.getAs[Any]("Hostname") == "node01")
    assert(r.getAs[Any]("Threads") == 8L)
  }

  test("per-file constants: provenance and typed .meta values alike on both scan paths") {
    val dir = tmpDir()
    val odd = dir.resolve("a b#c%d")
    Files.createDirectories(odd)
    Files.createDirectories(dir.resolve("x"))
    val header = "impl, size, shared\n"
    write(dir, "x/one.csv", header + "numpy, 1, c1\n")
    write(dir, "x/one.csv.meta", "n: 1\nd: 1.5\nb: true\nmix: 2\nnul: null\nshared: 7\n")
    write(dir, "x/two.csv", header + "numba, 2, c2\n")
    write(dir, "x/two.csv.meta", "n: 3\nd: 2.5\nb: false\nmix: 2.5\nnul: null\n")
    write(odd, "three.csv", header + "scipy, 3, c3\n")
    write(odd, "three.csv.meta", "n: 5\nshared: 9\nextra: hi\n")
    val cols = Seq("Path", "File", "Directory", "impl", "size", "shared",
      "n", "d", "b", "mix", "nul", "extra")
    def raw(filter: String): (Map[String, String], Set[Seq[Any]]) = {
      val bench = Benchmark.fromString(spark,
        s"""input:
           |  path: "${dir}/*/*.csv"
           |$filter
           |aggregation: mean
           |values: [size]
           |series: [impl]
           |""".stripMargin)
      try {
        val df = bench.getRawData()
        (cols.map(c => c -> df.schema(c).dataType.simpleString).toMap,
          df.select(cols.map(c => col(s"`$c`")): _*).collect().map(_.toSeq).toSet)
      } finally bench.unpersist()
    }
    def row(d: Path, f: String, impl: String, size: String, shared: String,
            metas: Any*): Seq[Any] =
      Seq(d.resolve(f).toString, f, d.toString, impl, size, shared) ++ metas
    val x = dir.resolve("x")
    val native = raw("")
    // a meta key that is also a CSV column keeps the CSV's string type
    // and its value where the sidecar lacks the key (df.assign)
    assert(native == (Map("Path" -> "string", "File" -> "string", "Directory" -> "string",
      "impl" -> "string", "size" -> "string", "shared" -> "string", "n" -> "bigint",
      "d" -> "double", "b" -> "boolean", "mix" -> "double", "nul" -> "string",
      "extra" -> "string"), Set(
      row(x, "one.csv", "numpy", "1", "7", 1L, 1.5, true, 2.0, null, null),
      row(x, "two.csv", "numba", "2", "c2", 3L, 2.5, false, 2.5, null, null),
      row(odd, "three.csv", "scipy", "3", "9", 5L, null, null, null, null, "hi"))))
    assert(raw("  filter:\n    ',': null") == native)
  }

  test("listed files whose names hold glob characters are read literally") {
    // `run?1?` lists `run[1]` only; read back as a glob, `run[1]` would
    // name `run1` instead
    val dir = tmpDir()
    for ((d, impl) <- Seq("run[1]" -> "numpy", "run1" -> "numba")) {
      Files.createDirectories(dir.resolve(d))
      write(dir, s"$d/r.csv", s"impl, time\n$impl, 1.0\n")
    }
    for (filter <- Seq("", "  filter:\n    ',': null")) {
      val bench = Benchmark.fromString(spark,
        s"""input:
           |  path: "${dir}/run?1?/r.csv"
           |$filter
           |aggregation: mean
           |values: [time]
           |series: [impl]
           |""".stripMargin)
      try {
        val rows = bench.getRawData().select("impl", "Directory").collect()
          .map(r => (r.getString(0), r.getString(1))).toSeq
        assert(rows == Seq(("numpy", dir.resolve("run[1]").toString)), s"filter '$filter'")
      } finally bench.unpersist()
    }
  }

  test("precomputed ratio_of: ratio of aggregates joined back per-row") {
    val dir = tmpDir()
    write(dir, "perf.csv",
      """Prefix, size, Time
        |native, 100, 1.0
        |native, 100, 3.0
        |intel, 100, 4.0
        |native, 200, 10.0
        |intel, 200, 5.0
        |""".stripMargin)
    val recipe =
      s"""input:
         |  path: "${dir}/perf.csv"
         |aggregation: mean
         |precomputed:
         |  Ratio: "ratio_of('Time', Prefix='native')"
         |values: [Ratio]
         |series: [Prefix]
         |axis: [size]
         |""".stripMargin
    val out = Benchmark.fromString(spark, recipe).getAggregatedData()
    val m = out.collect().map(r =>
      (r.getAs[Any]("Prefix").toString, r.getAs[Long]("size")) -> r.getAs[Double]("Ratio")).toMap
    // base mean(native,100)=2.0; intel/native = 4/2 = 2; native/native = 1
    assert(m == Map(("native", 100L) -> 1.0, ("intel", 100L) -> 2.0,
      ("native", 200L) -> 1.0, ("intel", 200L) -> 0.5))
  }

  test("reciprocal ratio + boolean drop filter-in (indicators/sklearn.yml idioms)") {
    val dir = tmpDir()
    write(dir, "perf.csv",
      """Prefix, size, Time
        |native, 100, 2.0
        |intel, 100, 4.0
        |stock, 100, 8.0
        |""".stripMargin)
    val recipe =
      s"""input:
         |  path: "${dir}/perf.csv"
         |aggregation: mean
         |precomputed:
         |  Ratio: "1/ratio_of('Time', Prefix='native')"
         |  drop: "row['Prefix'] == 'stock' or row['size'] == 999"
         |filter-in:
         |  drop: [false]
         |values: [Ratio]
         |series: [Prefix]
         |axis: [size]
         |""".stripMargin
    val out = Benchmark.fromString(spark, recipe).getAggregatedData()
    val m = out.collect().map(r =>
      r.getAs[Any]("Prefix").toString -> r.getAs[Double]("Ratio")).toMap
    // 1/(time/base): native 1.0, intel 2/4=0.5; stock dropped by filter-in
    assert(m == Map("native" -> 1.0, "intel" -> 0.5))
  }

  test("ratio_of with missing base combination errors (parity)") {
    val dir = tmpDir()
    write(dir, "p.csv", "Prefix, Time\nintel, 4.0\n")
    val recipe =
      s"""input:
         |  path: "${dir}/p.csv"
         |aggregation: mean
         |precomputed:
         |  R: "ratio_of('Time', Prefix='native')"
         |values: [R]
         |series: [Prefix]
         |""".stripMargin
    val e = intercept[RecipeError](Benchmark.fromString(spark, recipe).getAggregatedData())
    assert(e.msg.contains("doesn't exist"))
  }

  test("pack + unpack round trip with filter-in") {
    val dir = tmpDir()
    write(dir, "wide.csv",
      """impl, fit, predict
        |numpy, 2.0, 1.0
        |numba, 1.0, 0.5
        |""".stripMargin)
    val recipe =
      s"""input:
         |  path: "${dir}/wide.csv"
         |pack:
         |  - columns: [fit, predict]
         |    name: stage
         |    value: time
         |filter-in:
         |  stage: [fit]
         |aggregation: mean
         |values: [time]
         |series: [impl]
         |""".stripMargin
    val out = Benchmark.fromString(spark, recipe).getAggregatedData()
    val m = out.collect().map(r => r.getAs[Any]("impl").toString -> r.getAs[Double]("time")).toMap
    assert(m == Map("numpy" -> 2.0, "numba" -> 1.0))
  }

  test("expected-combination fill emits null row + warning (A7)") {
    val dir = tmpDir()
    write(dir, "e.csv", "impl, size, time\nnumpy, 100, 2.0\n")
    val recipe =
      s"""input:
         |  path: "${dir}/e.csv"
         |aggregation: mean
         |values: [time]
         |series: [impl]
         |axis: [size]
         |expected:
         |  - [numpy]
         |  - [numba]
         |""".stripMargin
    val bench = Benchmark.fromString(spark, recipe)
    val out = bench.getAggregatedData()
    val rows = out.collect().map(r => (r.getAs[Any]("impl").toString,
      Option(r.getAs[Any]("time")))).toSet
    assert(rows == Set(("numpy", Some(2.0)), ("numba", None)))
    assert(bench.warnings.exists(_.contains("missing")))
  }

  test("ordering check warns when expected ordering violated (A8)") {
    val dir = tmpDir()
    write(dir, "o.csv", "impl, time\nslowlib, 1.0\nfastlib, 9.0\n")
    val recipe =
      s"""input:
         |  path: "${dir}/o.csv"
         |aggregation: mean
         |values: [time]
         |series: [impl]
         |expected:
         |  - [slowlib]
         |  - [fastlib]
         |""".stripMargin
    // lower-is-better default: slowest (highest time) first = fastlib,
    // but expected order says slowlib is slowest -> warning
    val bench = Benchmark.fromString(spark, recipe)
    bench.getAggregatedData()
    assert(bench.warnings.exists(_.contains("ordering")))
  }

  test("case-insensitive session refused at construction") {
    // a cloned session has its OWN SQLConf, so the shared one is untouched
    val s = spark.newSession()
    s.conf.set("spark.sql.caseSensitive", "false")
    val recipe = "input:\n  path: \"/nonexistent\"\naggregation: mean\nvalues: [x]\n"
    val e = intercept[IllegalArgumentException](Benchmark.fromString(s, recipe))
    assert(e.getMessage.contains("spark.sql.caseSensitive=true"), e.getMessage)
    assert(s.conf.get("spark.sql.caseSensitive") == "false")
    Benchmark.fromString(spark, recipe) // the shared GraftSession is accepted
  }

  test("corpus-shaped expected block: A7 fill + A8 warnings end-to-end (q69 recipe)") {
    // the derived sklearn_expected.yml = reference sklearn.yml with its
    // commented-out expected block restored; none of the three expected
    // prefixes occur in the fixture output, so every (Function x prefix)
    // combo fills AND every group's ordering check warns
    val path = graft.corpus.ReferenceCorpus.ensureExpected(spark, "/root/testdata/sf0.001")
    val bench = Benchmark(spark, path)
    val out = bench.getAggregatedData()
      .select("Function", "Prefix", "Ratio").collect()
    val filled = out.filter(_.isNullAt(2)).map(r => (r.getString(0), r.getString(1)))
    val functions = out.map(_.getString(0)).distinct
    // one filled row per observed Function x each of the 3 expected prefixes
    assert(filled.length == functions.length * 3, filled.mkString(", "))
    assert(filled.map(_._2).toSet ==
      Set("StockPython", "IntelPython", "Native-C"))
    assert(bench.warnings.exists(_.contains("missing")))
    assert(bench.warnings.exists(_.contains("ordering")))
    bench.unpersist()
  }

  test("child recipes compose (S7) and sinks render") {
    val dir = tmpDir()
    write(dir, "raw.csv", "impl, size, time\nnumpy, 100, 2.0\nnumba, 100, 0.5\n")
    write(dir, "child.yml",
      s"""input:
         |  path: "${dir}/raw.csv"
         |aggregation: mean
         |values: [time]
         |series: [impl]
         |axis: [size]
         |""".stripMargin)
    write(dir, "parent.yml",
      s"""input:
         |  config: [child.yml]
         |aggregation: mean
         |values: [time]
         |series: [impl]
         |axis: [size]
         |number-format: '{:.2f}'
         |""".stripMargin)
    val bench = Benchmark(spark, dir.resolve("parent.yml").toString)
    val df = bench.getAggregatedData()
    // File column stamped with child recipe name
    assert(df.collect().forall(_.getAs[String]("File") == "child"))
    val pretty = Sinks.pivotString(df, bench.recipe)
    assert(pretty.contains("time|numpy") && pretty.contains("2.00"))
    val csv = Sinks.toCsvString(df)
    assert(csv.contains("0.500")) // %.3f floats
    val html = Sinks.toHtml(df, bench.recipe, "parent")
    assert(html.contains("<table>") && html.contains("time|numba"))
  }

  test("unpack pivots (name, value) rows into columns (R2)") {
    val dir = tmpDir()
    write(dir, "l.csv",
      """impl, metric, v
        |numpy, fit, 2.0
        |numpy, predict, 1.0
        |numba, fit, 0.5
        |numba, predict, 0.25
        |""".stripMargin)
    val recipe =
      s"""input:
         |  path: "${dir}/l.csv"
         |unpack:
         |  - name: metric
         |    value: v
         |aggregation: mean
         |values: [fit, predict]
         |series: [impl]
         |""".stripMargin
    val out = Benchmark.fromString(spark, recipe).getAggregatedData()
    val m = out.collect().map(r => r.getAs[Any]("impl").toString ->
      (r.getAs[Double]("fit"), r.getAs[Double]("predict"))).toMap
    assert(m == Map("numpy" -> ((2.0, 1.0)), "numba" -> ((0.5, 0.25))))
  }

  test("filter-out keeps null rows (pandas ~isin semantics)") {
    // multi-file union-by-name: b.csv has no 'mode' column, so its rows
    // arrive with mode = null; pandas ~df['mode'].isin(['skip']) keeps them
    val dir = tmpDir()
    write(dir, "a.csv", "impl, mode, time\nnumpy, skip, 9.0\nnumpy, keep, 2.0\n")
    write(dir, "b.csv", "impl, time\nnumba, 1.0\n")
    val recipe =
      s"""input:
         |  path: "${dir}/*.csv"
         |filter-out:
         |  mode: [skip]
         |aggregation: mean
         |values: [time]
         |series: [impl]
         |""".stripMargin
    val out = Benchmark.fromString(spark, recipe).getAggregatedData()
    val m = out.collect().map(r =>
      r.getAs[Any]("impl").toString -> r.getAs[Double]("time")).toMap
    assert(m == Map("numpy" -> 2.0, "numba" -> 1.0))
  }

  test("read_csv_fd side input folds to literals inside precomputed (S8)") {
    val dir = tmpDir()
    write(dir, "targets.csv",
      """name, goal
        |bs, 2.0
        |fft, 4.0
        |dot, 6.0
        |""".stripMargin)
    write(dir, "a.csv",
      """impl, time
        |numpy, 8.0
        |numba, 2.0
        |""".stripMargin)
    val recipe =
      s"""input:
         |  path: "${dir}/a.csv"
         |precomputed:
         |  VsMeanGoal: row['time'] / read_csv_fd('targets.csv')['goal'].mean()
         |  FirstGoal: read_csv_fd('${dir}/targets.csv')['goal'][0]
         |  LastGoal: read_csv_fd('targets.csv')['goal'][-1]
         |  NGoals: read_csv_fd('targets.csv')['goal'].count()
         |aggregation: mean
         |values: [VsMeanGoal, FirstGoal, LastGoal, NGoals]
         |series: [impl]
         |""".stripMargin
    val out = Benchmark.fromString(spark, recipe, dir.toString).getAggregatedData()
    val m = out.collect().map(r => r.getAs[Any]("impl").toString -> (
      r.getAs[Double]("VsMeanGoal"), r.getAs[Double]("FirstGoal"),
      r.getAs[Double]("LastGoal"), r.getAs[Number]("NGoals").longValue())).toMap
    assert(m == Map("numpy" -> (2.0, 2.0, 6.0, 3L), "numba" -> (0.5, 2.0, 6.0, 3L)))
    // bare frame / un-aggregated column fail loudly
    val bad =
      s"""input:
         |  path: "${dir}/a.csv"
         |precomputed:
         |  X: read_csv_fd('targets.csv')['goal']
         |aggregation: mean
         |values: [X]
         |""".stripMargin
    val e = intercept[ExprCompiler.ExprError] {
      Benchmark.fromString(spark, bad, dir.toString).getAggregatedData()
    }
    assert(e.msg.contains("must end in an aggregate"))
  }

  test("input.format: sql without table-name, or non-sqlite bytes, fail loudly (S4)") {
    val dir = tmpDir()
    write(dir, "x.db", "not really sqlite")
    val noTable =
      s"""input:
         |  path: "${dir}/x.db"
         |  format: sql
         |aggregation: mean
         |values: [v]
         |""".stripMargin
    val e1 = intercept[RecipeError] {
      Benchmark.fromString(spark, noTable).getRawData()
    }
    assert(e1.msg.contains("requires input.table-name"))
    val badBytes =
      s"""input:
         |  path: "${dir}/x.db"
         |  format: sql
         |  table-name: t
         |aggregation: mean
         |values: [v]
         |""".stripMargin
    val e2 = intercept[RecipeError] {
      Benchmark.fromString(spark, badBytes).getRawData()
    }
    assert(e2.msg.contains("not a SQLite 3 database"))
  }

  test("input.format: sql scans a real SQLite file through the recipe (S4)") {
    val db = getClass.getResource("/sqlite/nation.db").getPath
    val recipe =
      s"""input:
         |  path: "$db"
         |  format: sql
         |  table-name: nation
         |axis: [n_regionkey]
         |aggregation: count
         |values: [n_nationkey]
         |""".stripMargin
    val out = Benchmark.fromString(spark, recipe).getAggregatedData()
    val m = out.collect().map(r =>
      r.getAs[Number]("n_regionkey").longValue() ->
        r.getAs[Number]("n_nationkey").longValue()).toMap
    assert(m == Map(0L -> 5L, 1L -> 5L, 2L -> 5L, 3L -> 5L, 4L -> 5L))
  }

  test("group-agg drops rows with null group keys (pandas dropna parity)") {
    // side-input rows lacking an axis column (targets.csv idiom) arrive
    // with nulls after union-by-name; pandas groupby(dropna=True) drops
    // them from the aggregation (aggregate.py:727)
    val dir = tmpDir()
    write(dir, "a.csv", "impl, domain, time\nnumpy, LA, 2.0\nnumba, LA, 1.0\n")
    write(dir, "goals.csv", "impl, time\ngoal, 9.0\n")
    val recipe =
      s"""input:
         |  path:
         |  - "${dir}/a.csv"
         |  - "${dir}/goals.csv"
         |aggregation: mean
         |values: [time]
         |series: [impl]
         |axis: [domain]
         |""".stripMargin
    val out = Benchmark.fromString(spark, recipe).getAggregatedData()
    val m = out.collect().map(r => r.getAs[String]("impl")).toSet
    assert(m == Set("numpy", "numba")) // 'goal' row dropped (null domain)
  }

  test("A8 ordering check: extra non-expected combo still warns (parity)") {
    // expected lists only numpy/numba; dask is present and slower than
    // numba -> actual ordering [numpy, dask, numba] != expected [numpy,
    // numba] after removing only the `needed` (missing) combos — the
    // reference warns here (aggregate.py:691-693), two-way intersection
    // would not.
    val dir = tmpDir()
    write(dir, "a.csv",
      "impl, time\nnumpy, 4.0\nnumba, 1.0\ndask, 2.0\n")
    val recipe =
      s"""input:
         |  path: "${dir}/a.csv"
         |aggregation: mean
         |values: [time]
         |series: [impl]
         |expected:
         |  - [numpy]
         |  - [numba]
         |""".stripMargin
    val bench = Benchmark.fromString(spark, recipe)
    bench.getAggregatedData().collect()
    assert(bench.warnings.exists(_.contains("Unexpected performance ordering")))
  }

  test("OrderingCheck.verdict mirrors the A8 warning as queryable rows") {
    import spark.implicits._
    // two groups, one ordered as expected, one inverted
    val agg = Seq(("g1", "slowlib", 9.0), ("g1", "fastlib", 1.0),
                  ("g2", "slowlib", 1.0), ("g2", "fastlib", 9.0))
      .toDF("grp", "impl", "time")
    val v = OrderingCheck.verdict(agg, Seq("grp"), Seq("impl"), "time",
        expected = Seq(Seq("slowlib"), Seq("fastlib")), higherIsBetter = false)
      .collect()
      .map(r => r.getString(0) -> (r.getString(2), r.getBoolean(3))).toMap
    assert(v("g1") === ("slowlib|fastlib" -> true))
    assert(v("g2") === ("fastlib|slowlib" -> false))

    // parity: the Benchmark A8 warning fires exactly for the groups the
    // verdict flags (same data through the recipe path)
    val dir = tmpDir()
    write(dir, "v.csv", "grp, impl, time\n" +
      "g1, slowlib, 9.0\ng1, fastlib, 1.0\ng2, slowlib, 1.0\ng2, fastlib, 9.0\n")
    val recipe =
      s"""input:
         |  path: "${dir}/v.csv"
         |aggregation: mean
         |axis: [grp]
         |values: [time]
         |series: [impl]
         |expected:
         |  - [slowlib]
         |  - [fastlib]
         |""".stripMargin
    val bench = Benchmark.fromString(spark, recipe)
    bench.getAggregatedData().collect()
    val warned = bench.warnings.filter(_.contains("Unexpected performance ordering"))
    assert(warned.size === 1 && warned.head.contains("[g2]"), warned.mkString("; "))
  }

  test("one large line-filtered file parses multi-partition; a tiny one stays single") {
    // wholetext = one partition per file; the line repartition in
    // CsvSource.readGroup must kick in for a few-large-files group
    // (size-derived target >= 2x file count) and must NOT add a shuffle
    // for a small file. Golden values guard correctness through the
    // round-robin shuffle (row order changes; results must not).
    def filterRecipe(path: Path): String =
      s"""input:
         |  path: "$path"
         |  csv-header: "impl, size, time"
         |  filter:
         |    'RESULT impl=(\\w+) size=(\\d+) time=([\\d.]+)': '\\1,\\2,\\3'
         |aggregation: max
         |values: [time]
         |series: [impl]
         |axis: [size]
         |""".stripMargin

    val dir = tmpDir()
    val big = new StringBuilder
    var i = 0
    while (big.length < (3 << 20)) { // ~3 MB -> 1 MB targets = 4 parts
      big.append(s"RESULT impl=impl${i % 2} size=${100 * (1 + i % 2)} time=${i % 7}.5\n")
      i += 1
    }
    val bigBench = Benchmark.fromString(spark, filterRecipe(write(dir, "big.log", big.toString)))
    try {
      val raw = bigBench.getRawData()
      assert(raw.rdd.getNumPartitions >= 4,
        s"large unsplittable file stayed at ${raw.rdd.getNumPartitions} partition(s)")
      val m = bigBench.getAggregatedData().collect()
        .map(r => (r.getAs[Any]("impl").toString, r.getAs[Long]("size")) -> r.getAs[Double]("time")).toMap
      assert(m == Map(("impl0", 100L) -> 6.5, ("impl1", 200L) -> 6.5))
    } finally bigBench.unpersist()

    val smallBench = Benchmark.fromString(spark, filterRecipe(
      write(dir, "small.log", "RESULT impl=a size=1 time=1.5\nnoise\n")))
    try {
      assert(smallBench.getRawData().rdd.getNumPartitions === 1,
        "tiny single-file group must not pay a repartition shuffle")
    } finally smallBench.unpersist()
  }

  test("a small recipe DAG plans every eager collect with no exchange and no adaptive stage") {
    val dir = tmpDir()
    val bench = Benchmark.fromString(spark, ratioDag(dir, perfCsv), dir.toString)
    val (rows, queries) = queriesOf(bench.getAggregatedData().collect())
    try {
      // the child's inference, the ratio base and the final collect at least
      assert(queries.size >= 3, s"${queries.size} queries seen")
      for (qe <- queries) {
        val nodes = distributedNodes(qe.executedPlan)
        assert(nodes.isEmpty, s"${nodes.mkString(", ")} in\n${qe.executedPlan}")
      }
      assert(bench.onePartition)
      // same golden values as the one-level ratio_of case
      assert(ratios(rows) == Map(("native", 100L) -> 1.0, ("intel", 100L) -> 2.0,
        ("native", 200L) -> 1.0, ("intel", 200L) -> 0.5))
    } finally bench.unpersist()
  }

  test("a recipe DAG over an input above the size rule still plans under AQE") {
    val dir = tmpDir()
    // ~1.5 MB: two 1 MB scan targets, so the raw recipe is not one partition
    val big = new StringBuilder(perfCsv)
    var i = 0
    while (big.length < (3 << 19)) {
      big.append(s"intel, ${300 + i % 5}, ${1 + i % 3}.0\nnative, ${300 + i % 5}, 2.0\n")
      i += 1
    }
    val bench = Benchmark.fromString(spark, ratioDag(dir, big.toString), dir.toString)
    // the scan stamps per-file constants without a join (plan only, no job)
    val child = Benchmark(spark, dir.resolve("child.yml").toString)
    try {
      val rawJoins = joins(child.getRawData().queryExecution.optimizedPlan)
      assert(rawJoins.isEmpty, rawJoins.mkString("\n"))
    } finally child.unpersist()
    val (rows, queries) = queriesOf(bench.getAggregatedData().collect())
    try {
      assert(!bench.onePartition)
      // the inference aggregates and the final aggregate are adaptive plans
      assert(queries.count(qe => distributedNodes(qe.executedPlan).contains("AdaptiveSparkPlan")) >= 2,
        queries.map(_.executedPlan.nodeName).mkString(", "))
      val m = ratios(rows)
      assert(m.filter(_._1._2 < 300) == Map(("native", 100L) -> 1.0, ("intel", 100L) -> 2.0,
        ("native", 200L) -> 1.0, ("intel", 200L) -> 0.5))
      // sizes 300-304: native is 2.0 throughout, intel cycles 1,2,3 over i
      assert(m(("native", 300L)) == 1.0 && m.size == 14)
    } finally bench.unpersist()
  }

  test("a listener on the caller's session sees the queries of a small recipe DAG") {
    // the one-partition layout plans in a clone of the caller's session:
    // the clone must carry the caller's listeners (a fresh session would
    // not), and the caller keeps AQE
    val dir = tmpDir()
    val bench = Benchmark.fromString(spark, ratioDag(dir, perfCsv), dir.toString)
    val (rows, queries) = queriesOf(bench.getAggregatedData().collect())
    try {
      assert(rows.length == 4)
      assert(queries.exists(_.sparkSession ne spark), "no query ran in the layout's session")
      assert(queries.exists(_.executedPlan.collectFirst {
        case m: InMemoryTableScanExec => m }.nonEmpty), "no query read the child cache")
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    } finally bench.unpersist()
  }
}
