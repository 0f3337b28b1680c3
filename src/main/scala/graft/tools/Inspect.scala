package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.FormattedMode

import graft.obs.QueryJobs

/** Dev: look inside SparkEntry queries. A query is named by any substring
  * of its name (the first match in sorted order).
  *
  *  - `jobs <substr> <sfDir> [passes]` runs the query `passes` times
  *    (default 2; pass 1 pays JIT and codegen, later passes are the warm
  *    condition the bench headline reports) and prints every Spark job
  *    of each pass: id, wall, stages, tasks and the first graft frame of
  *    its call site. Each pass's header gives its wall and the process's
  *    CPU seconds over it (JIT, GC and every Spark thread: CPU near
  *    cores × wall means the pass is contended, not idle between jobs),
  *    sums its stages and tasks, counts the classes the pass generated
  *    and their Janino compile time summed over threads (a warm pass
  *    that compiles is missing Spark's generated-class cache), and
  *    counts the RDDs the pass left cached and their bytes, memory plus
  *    disk (a pinned frame whose readers miss its cache entry is never
  *    filled and drops out);
  *  - `plan <substr> <sfDir>` prints the executed plan;
  *  - `explain <outDir> <suffix> <substr,…> <sfDir>` writes
  *    `.explain("formatted")` of every query matching one of the
  *    substrings to `<outDir>/<full-query-name>_<suffix>.txt` — the plan
  *    evidence committed under plans/rNN/ (plan SHAPE is sf-independent;
  *    AQE leaves `isFinalPlan=false` markers either way);
  *  - `csv <substr> <sfDir> <out.csv>` writes the result as one CSV with
  *    a header, for diffing against an external engine's output.
  *
  * Usage: scripts/run.sh graft.tools.Inspect <jobs|plan|explain|csv> …
  */
object Inspect {
  private val usage = "usage: Inspect jobs <substr> <sfDir> [passes] | " +
    "plan <substr> <sfDir> | explain <outDir> <suffix> <substr,...> <sfDir> | " +
    "csv <substr> <sfDir> <out.csv>"

  private def matching(wants: Seq[String]): Seq[String] = {
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => wants.exists(n.contains))
    require(names.nonEmpty, s"no query matches any of ${wants.mkString(",")}")
    names
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, usage)
    lazy val spark = graft.GraftSession.local()
    def query(name: String, sfDir: String): DataFrame =
      graft.SparkEntry.queries(name)(spark, sfDir)
    args.toSeq match {
      case Seq("jobs", want, sfDir, rest @ _*) =>
        val name = matching(Seq(want)).head
        val passes = rest.headOption.map(_.toInt).getOrElse(2)
        val jobs = QueryJobs.attach(spark)
        val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
          .asInstanceOf[com.sun.management.OperatingSystemMXBean]
        graft.corpus.ReferenceCorpus.ensure(spark, sfDir)
        for (pass <- 1 to passes) {
          jobs.take()
          val classes0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
          val compileNs0 = CodeGenerator.compileTime
          val cpu0 = os.getProcessCpuTime
          val t0 = System.nanoTime()
          query(name, sfDir).count()
          val dt = (System.nanoTime() - t0) / 1e9
          val cpu = (os.getProcessCpuTime - cpu0) / 1e9
          val ran = jobs.take()
          val classes = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classes0
          val compileMs = (CodeGenerator.compileTime - compileNs0) / 1000000
          val cached = spark.sparkContext.getRDDStorageInfo
          val cachedMb = cached.map(r => r.memSize + r.diskSize).sum / 1e6
          spark.catalog.clearCache()
          println(f"=== pass $pass: $name  $dt%.2fs  $cpu%.1f CPU-s  ${ran.size} jobs  " +
            f"${ran.map(_.stages).sum} stages  ${ran.map(_.tasks).sum} tasks  " +
            f"$classes classes compiled in $compileMs ms  " +
            f"${cached.length} cached RDDs $cachedMb%.2f MB ===")
          for (j <- ran) println(f"job ${j.id}%4d ${j.wallMs}%7d ms " +
            f"${j.stages}%3d stages ${j.tasks}%5d tasks  ${j.frame}")
        }
      case Seq("plan", want, sfDir) =>
        println(query(matching(Seq(want)).head, sfDir)
          .queryExecution.executedPlan.toString)
      case Seq("explain", outDir, suffix, wants, sfDir) =>
        val dir = new java.io.File(outDir)
        dir.mkdirs()
        for (name <- matching(wants.split(",").map(_.trim).filter(_.nonEmpty).toSeq)) {
          val plan = query(name, sfDir).queryExecution.explainString(FormattedMode)
          val f = new java.io.File(dir, s"${name}_$suffix.txt")
          Files.write(f.toPath, plan.getBytes("UTF-8"))
          println(s"wrote ${f.getPath} (${plan.length} bytes)")
          spark.catalog.clearCache()
        }
      case Seq("csv", want, sfDir, out) =>
        val name = matching(Seq(want)).head
        val tmp = Files.createTempDirectory("graft_dump")
        query(name, sfDir).coalesce(1).write.mode("overwrite")
          .option("header", "true").csv(tmp.toString)
        val part = Files.list(tmp)
          .filter(_.getFileName.toString.endsWith(".csv")).findFirst().get()
        Files.move(part, Paths.get(out), StandardCopyOption.REPLACE_EXISTING)
        System.err.println(s"$name -> $out")
      case _ => throw new IllegalArgumentException(usage)
    }
    spark.stop()
  }
}
