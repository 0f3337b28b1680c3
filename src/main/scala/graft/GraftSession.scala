package graft

import org.apache.spark.sql.SparkSession

/** Session factory shared by Verify / Bench / tests.
  *
  * local[N] with shuffle partitions matched to cores (never the 200
  * default), AQE on so runtime statistics drive partition coalescing and
  * skew-join splitting — the same settings scale to a multi-executor
  * cluster where AQE picks post-shuffle parallelism from real sizes.
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
