package perfbench

import java.io.File

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.recipe.Sinks

/** JVM side of the benchmark; perfbench/run.py launches it.
  *
  *   Harness prep    <workload> <tablesDir> <outDir>
  *   Harness measure <workload> <tablesDir> <outDir> <seconds> <trace 0|1>
  *
  * Every mode first builds the engine's session (`GraftSession`, with
  * its SQL extensions) and prints `READY` once the session answers for a
  * registered extension function: the launcher times JVM start to that
  * line as set-up. `prep` then derives the engine-generated inputs and
  * writes the oracle SQL; `measure` runs one cold and then warm
  * evaluations for `seconds`, writing `result.json` and `outputs.jsonl`
  * (and, traced, `trace.jsonl`) to `outDir`.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val spark = session()
    println("READY")
    System.out.flush()
    args.head match {
      case "prep" =>
        val out = new File(args(3))
        val info = Workloads(args(1)).prepare(spark, args(2), out)
        write(new File(out, "prep.json"), Json.obj(info.toSeq: _*))
      case "measure" =>
        measure(spark, args(1), args(2), new File(args(3)), args(4).toDouble, args(5) == "1")
      case other => throw new IllegalArgumentException(s"unknown mode '$other'")
    }
    // every output is written and closed; the launcher deletes the run's
    // directories, so skip the session's orderly shutdown (about a second)
    Runtime.getRuntime.halt(0)
  }

  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val local = sys.props.getOrElse("perfbench.local", sys.props("java.io.tmpdir"))
    val spark = graft.GraftSession.builder(cpus)
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", new File(local, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    require(spark.catalog.functionExists("graft_numclass"),
      "GraftExtensions not registered on the session")
    spark
  }

  private def write(f: File, text: String): Unit =
    java.nio.file.Files.writeString(f.toPath, text + "\n")

  private final case class EvalRec(wallS: Double, t0ms: Long, t1ms: Long, jobs: Int, openJobs: Int,
                                   cachePeakBytes: Long, codegenMs: Double,
                                   codegenClasses: Long, error: Option[String],
                                   outputs: Seq[Output], counters: Map[String, Double],
                                   sinksMs: Double)

  private def measure(spark: SparkSession, name: String, tables: String, out: File,
                      seconds: Double, traced: Boolean): Unit = {
    val wl = Workloads(name)
    val probe = new Probe(spark, full = traced)
    val trace = if (traced) Some(new Trace) else None
    wl.open(spark, tables)

    def evalOnce(i: Int): EvalRec = {
      System.gc()
      probe.drain()
      probe.openBlockWindow()
      trace.foreach(_.evalId = i)
      val cg0 = CodeGenerator.compileTime
      val cc0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val res = try Right(trace match {
        case None => wl.eval(spark, tables, None)
        case Some(tr) => tr.spanWithId("eval") { id =>
          tr.root = Some(id)
          wl.eval(spark, tables, trace)
        }
      }) catch { case NonFatal(e) => Left(e.toString) }
      val wall = (System.nanoTime() - t0) / 1e9
      val t1ms = System.currentTimeMillis()
      val cgMs = (CodeGenerator.compileTime - cg0) / 1e6
      val classes = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0
      val counters = if (traced) wl.evalCounters else Map.empty[String, Double]
      // sinks render the collected result driver-side, after the eval
      val sinksMs = trace match {
        case Some(tr) => res.toOption.map { outs =>
          Workloads.timed(tr.span("sinks")(outs.foreach { o =>
            o.recipe.foreach { r =>
              val df = spark.createDataFrame(o.rows.toSeq.asJava, o.schema)
              Sinks.toCsvString(df); Sinks.pivotString(df, r); Sinks.toHtml(df, r, o.query)
            }
          }))._2 * 1e3
        }.getOrElse(0.0)
        case None => 0.0
      }
      probe.drain()
      val peak = probe.closeBlockWindow()
      EvalRec(wall, t0ms, t1ms, probe.window(t0ms, t1ms).jobs, probe.openJobs(t0ms, t1ms),
        peak, cgMs, classes, res.left.toOption, res.getOrElse(Nil), counters, sinksMs)
    }

    val evals = scala.collection.mutable.ArrayBuffer(evalOnce(0))
    val warmStart = System.nanoTime()
    while (evals.size < 2 || (System.nanoTime() - warmStart) / 1e9 < seconds)
      evals += evalOnce(evals.size)

    // every output, projected the way the oracle states it
    val ow = new java.io.PrintWriter(new File(out, "outputs.jsonl"), "UTF-8")
    try for ((e, i) <- evals.zipWithIndex; o <- e.outputs) {
      val (cols, rows) = wl.project(spark, o)
      ow.println(Json.obj("eval" -> i, "query" -> o.query, "columns" -> cols,
        "rows" -> rows.toSeq.map(r => r.toSeq)))
    } finally ow.close()
    val checkError = try { wl.check(spark, tables, out); None }
      catch { case NonFatal(e) => Some(e.toString) }

    val layers = trace.map(tr => perLayer(spark, wl, tables, tr, probe, evals.toSeq))
    trace.foreach(_.write(new File(out, "trace.jsonl")))
    write(new File(out, "result.json"), Json.obj(
      "evals" -> evals.toSeq.map(e => Json.Raw(Json.obj(
        "wall_s" -> e.wallS, "jobs" -> e.jobs, "open_jobs" -> e.openJobs,
        "cache_peak_bytes" -> e.cachePeakBytes,
        "codegen_ms" -> e.codegenMs, "codegen_classes" -> e.codegenClasses,
        "error" -> e.error.orNull))),
      "check_error" -> checkError.orNull,
      "per_layer" -> layers.map(m => Json.Raw(Json.obj(m.toSeq: _*))).orNull,
      "jvm" -> Json.Raw(Json.obj(
        "flags" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
        "spark" -> spark.version, "master" -> spark.sparkContext.master))))
  }

  /** Per-layer metrics of a traced run: medians over the warm
    * evaluations, codegen from the cold one, then the layer probes. */
  private def perLayer(spark: SparkSession, wl: Workload, tables: String, tr: Trace,
                       probe: Probe, evals: Seq[EvalRec]): Map[String, Double] = {
    import Workloads.median
    val warm = evals.drop(1).zipWithIndex.map { case (e, i) => (e, i + 1) }
    val spans = tr.all
    def evalSpans(i: Int) = spans.filter(_.eval == i)
    val perEval: Seq[Map[String, Double]] = warm.map { case (e, i) =>
      val ss = evalSpans(i)
      val root = ss.find(_.name == "eval").get
      val self = tr.selfNs(ss)
      def dur(n: String) = ss.filter(_.name == n).map(_.seconds).sum
      def selfS(n: String) = ss.filter(_.name == n).map(s => self(s.id) / 1e9).sum
      val w = probe.window(e.t0ms, e.t1ms)
      // the engine's Spark jobs become spans under the eval
      probe.jobIntervals(e.t0ms, e.t1ms).foreach { case (s, t) =>
        tr.record("spark.job", Some(root.id), i, s, t)
      }
      val ccJobs = ss.find(_.name == "dedup.clusters")
        .map(s => probe.window(tr.epochMs(s.start), tr.epochMs(s.end)).jobs.toDouble)
        .getOrElse(0.0)
      e.counters ++ Map(
        "trace.eval_s" -> root.seconds,
        "trace.unattributed_s" -> self(root.id) / 1e9,
        "benchmark.raw_s" -> dur("benchmark.raw"),
        "benchmark.normalize_s" -> selfS("benchmark.normalize"),
        "benchmark.aggregate_s" -> (if (ss.exists(_.name == "benchmark.aggregate"))
          selfS("benchmark.aggregate") + dur("collect") else 0.0),
        "dedup.cc_s" -> dur("dedup.clusters"),
        "dedup.cc_jobs" -> ccJobs,
        "sinks.render_ms" -> e.sinksMs,
        "spark.jobs" -> w.jobs.toDouble,
        "spark.stages" -> w.stages.toDouble,
        "spark.tasks" -> w.tasks.toDouble,
        "spark.driver_gap_s" -> (e.wallS - w.jobCoveredMs / 1e3).max(0.0),
        "spark.task_wait_s" -> w.taskWaitMs / 1e3,
        "spark.task_run_s" -> w.taskRunMs / 1e3,
        "spark.task_cpu_s" -> w.taskCpuNs / 1e9,
        "spark.gc_s" -> w.gcMs / 1e3,
        "spark.shuffle_write_mb" -> w.shuffleWriteBytes / 1e6,
        "spark.shuffle_read_mb" -> w.shuffleReadBytes / 1e6,
        "spark.spill_mb" -> w.spillBytes / 1e6,
        "spark.peak_exec_mem_mb" -> w.peakExecMemBytes / 1e6,
        "catalyst.analysis_ms" -> w.analysisMs,
        "catalyst.optimization_ms" -> w.optimizationMs,
        "catalyst.planning_ms" -> w.planningMs)
    }
    val keys = perEval.flatMap(_.keys).distinct
    val medians = keys.map(k => k -> median(perEval.map(_.getOrElse(k, 0.0)))).toMap
    val cold = evals.head
    tr.evalId = -1
    tr.root = None
    medians ++ Map(
      "codegen.compile_ms" -> cold.codegenMs,
      "codegen.classes" -> cold.codegenClasses.toDouble) ++
      wl.layerProbes(spark, tables, tr)
  }
}

/** Minimal JSON writer for the harness's flat records. */
object Json {
  final case class Raw(json: String)

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case Raw(j) => j
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN) "NaN" else if (d.isInfinite) (if (d > 0) "Infinity" else "-Infinity") else d.toString
    case f: Float => value(f.toDouble)
    case n: java.math.BigDecimal => n.toPlainString
    case n: Number => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
