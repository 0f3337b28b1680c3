package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.corpus.ReferenceCorpus
import graft.operators.Dedup
import graft.recipe.{Benchmark, CsvSource, ExprCompiler, LineFilter, Recipe, Sinks}

/** One result set collected on the driver, and the recipe that made it
  * (for the sinks), if any. */
final case class Output(query: String, schema: StructType, rows: Array[Row],
                        recipe: Option[Recipe])

/** A workload: inputs derived by the engine itself ([[prepare]], run in
  * its own JVM before any timing), one evaluation ([[eval]]), the oracle
  * projection of each result, and the per-layer probes of a traced run. */
trait Workload {
  def prepare(spark: SparkSession, tables: String, out: File): Map[String, Any]
  /** Called once before the first evaluation (outside timing). */
  def open(spark: SparkSession, tables: String): Unit = ()
  def eval(spark: SparkSession, tables: String, trace: Option[Trace]): Seq[Output]
  /** Rows as the oracle states them (column names, casts). */
  def project(spark: SparkSession, o: Output): (Seq[String], Array[Row])
  /** Untimed extra checks; writes their inputs to `out`. */
  def check(spark: SparkSession, tables: String, out: File): Unit = ()
  /** Per-layer counters of the last traced evaluation. */
  def evalCounters: Map[String, Double] = Map.empty
  /** Layer probes of a traced run, made after the evaluations. */
  def layerProbes(spark: SparkSession, tables: String, trace: Trace): Map[String, Double]
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "recipe_dag" => new RecipeWorkload(Seq(
      RecipeQuery("q46_corpus_summary_dag", "summary_indicators.yml",
        Seq(col("Domain"), col("Prefix"), col("Mode"), col("Arch"),
          round(col("Ratio"), 6).as("Ratio")))))
    case "near_dup_cc" => new NearDupWorkload
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** `body` inside a span named `name` when the evaluation is traced. */
  def inSpan[T](trace: Option[Trace], name: String)(body: => T): T =
    trace.fold(body)(_.span(name)(body))

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)
    else f.length()
}

final case class RecipeQuery(oracle: String, path: String, columns: Seq[Column])

/** Recipe workloads: each evaluation loads and evaluates the listed
  * recipes of the reference corpus (fresh `Benchmark`, fresh child memo)
  * and collects each aggregated result. */
final class RecipeWorkload(queries: Seq[RecipeQuery]) extends Workload {
  import Workloads._

  private var root: String = _
  private var memos = Seq.empty[CountingMemo]

  def prepare(spark: SparkSession, tables: String, out: File): Map[String, Any] = {
    open(spark, tables)
    val oracle = new File(out, "oracle")
    oracle.mkdirs()
    for (q <- queries)
      Files.write(new File(oracle, q.oracle + ".sql").toPath,
        graft.SparkEntry.oracleSql(q.oracle).getBytes(StandardCharsets.UTF_8))
    Map("corpus_mb" -> treeBytes(new File(root)) / 1e6,
      "read_mb" -> rawRecipes.map(p => inputFiles(spark, Recipe.load(s"$root/$p"))
        .map(_._2).sum).sum / 1e6)
  }

  override def open(spark: SparkSession, tables: String): Unit =
    root = ReferenceCorpus.ensure(spark, tables)

  def eval(spark: SparkSession, tables: String, trace: Option[Trace]): Seq[Output] =
    trace match {
      case None => queries.map { q =>
        val b = Benchmark(spark, s"$root/${q.path}")
        val df = b.getAggregatedData()
        val rows = df.collect()
        b.unpersist()
        Output(q.oracle, df.schema, rows, Some(b.recipe))
      }
      case Some(tr) =>
        memos = Nil
        queries.map { q =>
          val memo = new CountingMemo(tr)
          memos :+= memo
          val b = tr.span("recipe.load")(
            new TracedBenchmark(Recipe.load(s"$root/${q.path}"), spark, memo, tr))
          val df = b.getAggregatedData()
          val rows = tr.span("collect")(df.collect())
          b.unpersist()
          Output(q.oracle, df.schema, rows, Some(b.recipe))
        }
    }

  def project(spark: SparkSession, o: Output): (Seq[String], Array[Row]) = {
    val q = queries.find(_.oracle == o.query).get
    val df = spark.createDataFrame(o.rows.toSeq.asJava, o.schema).select(q.columns: _*)
    (df.columns.toSeq, df.collect())
  }

  override def evalCounters: Map[String, Double] = {
    val refs = memos.map(_.refs.get).sum.toDouble
    val evals = memos.map(_.evals.get).sum.toDouble
    Map("benchmark.child_refs" -> refs, "benchmark.child_evals" -> evals,
      "benchmark.memo_hit_ratio" -> (if (refs == 0) 0.0 else (refs - evals) / refs))
  }

  /** Every recipe in the workload's trees (relative paths), parents first. */
  private lazy val tree: Seq[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    def walk(path: File): Unit = {
      val canon = path.getCanonicalPath
      if (seen.add(canon)) {
        val r = Recipe.load(canon)
        r.input.configs.foreach(c => walk(new File(r.baseDir, c)))
      }
    }
    queries.foreach(q => walk(new File(root, q.path)))
    val base = new File(root).getCanonicalPath + "/"
    seen.toSeq.map(_.stripPrefix(base))
  }

  /** Recipes of the tree that scan files themselves. */
  private def rawRecipes: Seq[String] = tree.filter(p => Recipe.load(s"$root/$p").input.paths.nonEmpty)

  private def inputFiles(spark: SparkSession, r: Recipe): Seq[(String, Long)] =
    CsvSource.expandGlobs(spark, r.input.paths, r.baseDir).filterNot(_.endsWith(".meta"))
      .map(f => f -> new File(f).length())

  def layerProbes(spark: SparkSession, tables: String, trace: Trace): Map[String, Double] = {
    // recipe.load / exprcompiler: every recipe and precomputed expression
    // in the tree, median of five passes
    val passes = (1 to 5).map { _ =>
      var loadS = 0.0
      var compileS = 0.0
      for (p <- tree) {
        val (r, l) = timed(trace.span("recipe.load")(Recipe.load(s"$root/$p")))
        loadS += l
        compileS += timed(trace.span("exprcompiler.compile") {
          r.precomputed.foreach { case (_, src) =>
            val ast = ExprCompiler.resolveSideInputs(ExprCompiler.parse(src), spark, r.baseDir)
            ExprCompiler.compile(ast, ExprCompiler.ratioCalls(ast).map(_ -> lit(1.0)).toMap)
          }
        })._2
      }
      (loadS, compileS)
    }
    // csvsource: getRawData + count on every raw recipe of the tree
    val raws = rawRecipes
    val inputBytes = raws.map(p => inputFiles(spark, Recipe.load(s"$root/$p")).map(_._2).sum).sum
    val scanS = raws.map { p =>
      val b = Benchmark(spark, s"$root/$p")
      val (_, s) = timed(trace.span("csvsource.scan")(b.getRawData().count()))
      b.unpersist()
      s
    }.sum
    // linefilter: LineFilter.apply on one thread over the same files
    var read = 0L
    var kept = 0L
    var filterS = 0.0
    for (p <- raws) {
      val r = Recipe.load(s"$root/$p")
      if (r.input.filters.nonEmpty) {
        val rules = LineFilter.compile(r.input.filters)
        for ((f, _) <- inputFiles(spark, r)) {
          val lines = Files.readAllLines(new File(f).toPath, StandardCharsets.UTF_8).asScala.toSeq
          val (n, s) = timed(trace.span("linefilter.apply")(LineFilter(rules, lines.iterator).size))
          read += lines.size; kept += n; filterS += s
        }
      }
    }
    val mb = inputBytes / 1e6
    Map(
      "recipe.load_ms" -> median(passes.map(_._1)) * 1e3,
      "exprcompiler.compile_ms" -> median(passes.map(_._2)) * 1e3,
      "csvsource.scan_s" -> scanS,
      "csvsource.input_mb" -> mb,
      "csvsource.mb_per_s" -> (if (scanS > 0) mb / scanS else 0.0),
      "linefilter.lines_per_s" -> (if (filterS > 0) read / filterS else 0.0),
      "linefilter.kept_ratio" -> (if (read > 0) kept.toDouble / read else 0.0))
  }
}

/** MinHash-LSH near-duplicate clustering of the document table, reported
  * as the cluster-size profile (the q124 shape). */
final class NearDupWorkload extends Workload {
  private val Threshold = 0.5
  /** The last evaluation's cluster map, which [[check]] compares. */
  private var lastClusters: DataFrame = _

  def prepare(spark: SparkSession, tables: String, out: File): Map[String, Any] =
    Map("documents_mb" -> Workloads.treeBytes(new File(tables, "documents.parquet")) / 1e6)

  private def docs(spark: SparkSession, tables: String) =
    graft.Tables(spark, tables, "documents")

  def eval(spark: SparkSession, tables: String, trace: Option[Trace]): Seq[Output] = {
    import Workloads.inSpan
    // dedupClusters' eager part is connectedComponents' round loop, whose
    // first round pulls the candidate pairs through; the rest is lazy
    val clusters = inSpan(trace, "dedup.clusters")(
      Dedup.dedupClusters(docs(spark, tables), "doc_id", "text", threshold = Threshold))
    lastClusters = clusters
    val profile = Dedup.clusterSizeProfile(clusters)
    val rows = inSpan(trace, "collect")(profile.collect())
    Seq(Output("cluster_profile", profile.schema, rows, None))
  }

  def project(spark: SparkSession, o: Output): (Seq[String], Array[Row]) =
    (o.schema.fieldNames.toSeq, o.rows)

  override def check(spark: SparkSession, tables: String, out: File): Unit = {
    // the evaluation's components are still checkpointed while it is
    // referenced, so this collect re-runs only the join onto the documents
    val clusters = lastClusters.select("id", "rep").collect()
    val pairs = Dedup.minhashCandidates(docs(spark, tables), "doc_id", "text")
      .filter(col("jaccard") >= Threshold).select("id_a", "id_b").collect()
    def dump(name: String, rows: Array[Row]): Unit = {
      val w = new java.io.PrintWriter(new File(out, name), "UTF-8")
      try rows.foreach(r => w.println(s"${r.getLong(0)},${r.getLong(1)}")) finally w.close()
    }
    dump("pairs.csv", pairs)
    dump("clusters.csv", clusters)
  }

  /** The candidates and their verification on their own: inside the
    * evaluation they run as part of connected components' first round. */
  def layerProbes(spark: SparkSession, tables: String, trace: Trace): Map[String, Double] = {
    val cands = Dedup.minhashCandidates(docs(spark, tables), "doc_id", "text")
    val (pairs, s) = Workloads.timed(trace.span("dedup.candidates")(
      cands.filter(col("jaccard") >= Threshold).count()))
    val all = cands.count()
    Map("dedup.candidates_s" -> s, "dedup.pairs" -> pairs.toDouble,
      "dedup.verified_ratio" -> (if (all == 0) 0.0 else pairs.toDouble / all))
  }
}
