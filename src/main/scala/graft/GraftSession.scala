package graft

import org.apache.spark.sql.SparkSession

/** Session factory shared by Verify / Bench / tests.
  *
  * local[N] with shuffle partitions matched to cores (never the 200
  * default), AQE on so runtime statistics drive partition coalescing and
  * skew-join splitting — the same settings scale to a multi-executor
  * cluster where AQE picks post-shuffle parallelism from real sizes.
  *
  * Two settings make each generated class compile once per JVM, so a
  * re-run recipe reuses its classes. Spark's generated-class cache is
  * keyed by the generated source AND the thread's context classloader,
  * and two things made it miss on every warm recipe-DAG evaluation
  * (q46 compiled 850-867 classes warm, as many as cold):
  *  - the cache kept 100 entries, and one q46 evaluation needs 759: 441
  *    distinct sources, each keyed once for the driver thread's
  *    classloader and once for the executor task's;
  *  - every small DAG plans in a clone of the caller's session
  *    (graft.recipe.Benchmark), and with artifact isolation each session
  *    tags its jobs with its own UUID, so the executor built a fresh
  *    session classloader for every clone. Clones now run their tasks
  *    in the executor's default classloader.
  * With both, a warm q46 evaluation compiles 0 classes (389 with the
  * larger cache alone, 814 with the shared classloader alone).
  */
object GraftSession {

  def builder(cpus: String): SparkSession.Builder = withEnvConf(
    SparkSession
      .builder()
      .appName("bearystaspark")
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // let AQE pick the output partitioning INSIDE cached plans too:
      // recipe child frames are cached post-shuffle, and without this a
      // tiny pivoted child pins 32 near-empty partitions that every
      // later pass over the cache pays for as scheduled tasks. Only
      // recipe DAGs above the recipe size rule see it: smaller ones plan
      // in one partition without AQE (graft.recipe.Benchmark scaladoc)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // a static conf: CodeGenerator sizes its cache once, the first time
      // anything in the JVM compiles. One q46 evaluation holds 759
      // entries, and they retained 19.5 MB more heap after GC than the
      // default 100 (about 30 KB each). 4096 keeps about five working
      // sets of that size resident (other DAG layouts, other queries of
      // one JVM) for at most about 120 MB; the cache evicts LRU
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // this engine never adds session artifacts (jars, files), so
      // per-session isolation only bought every session clone its own
      // executor classloader, and with it a cold codegen cache
      .config("spark.sql.artifact.isolation.enabled", "false")
      // Spark's status stores keep up to 1000 finished SQL executions,
      // jobs and stages, UI or not: a q46 evaluation adds 46 of each and
      // about 6.6 MB of heap after GC (plan graphs and text, RDD graphs),
      // so a JVM re-running a recipe grew toward about 140 MB. 100 of each
      // bounds that near 14 MB; nothing here reads the stores (job counts
      // come from a listener)
      .config("spark.sql.ui.retainedExecutions", "100")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      // every file scan lists through a new file index under a fresh
      // FileStatusCache client id, so no scan ever reads another's cached
      // statuses: the cache only grew (about 139 LocatedFileStatus per
      // q46 evaluation) up to its 250 MB bound. Size 0 makes it a no-op
      .config("spark.sql.hive.filesourcePartitionFileCacheSize", "0")
      // pandas column resolution is case-sensitive: the reference corpus
      // carries 'Classes' (raw/sklearn) and 'classes' (svm/logreg/df_clsf)
      // as DISTINCT union-padded columns and indicator recipes reference
      // one of them exactly — case-insensitive resolution would merge
      // them (wrong drop semantics) or go ambiguous
      .config("spark.sql.caseSensitive", "true")
      // testdata events.parquet stores ts as TIMESTAMP(NANOS) which the
      // vectorized reader rejects; read as long nanos, Tables converts.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false"))

  /** Extra session conf from SPARK_GRAFT_CONF ("k=v;k=v") — dev A/B
    * experiments only (e.g. codegen or AQE toggles); production paths
    * never set it. */
  def withEnvConf(b: SparkSession.Builder): SparkSession.Builder =
    sys.env.get("SPARK_GRAFT_CONF").map(_.split(";").filter(_.contains("="))
      .foldLeft(b) { (bb, kv) =>
        val Array(k, v) = kv.split("=", 2)
        bb.config(k.trim, v.trim)
      }).getOrElse(b)

  /** Default local session: SPARK_GRAFT_CPUS (driver sets it) or 32. */
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
