package graft.operators

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.PlanExpression
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** Scale-adaptive input spread for CPU-heavy operator entry maps
  * (shingle md5, codec decode, vector math).
  *
  * The operators used to `repartition(defaultParallelism)` their input
  * unconditionally: correct in latency terms on a LOCAL scan (a small
  * parquet input arrives as one split and would serialize the whole
  * hashing/decoding map onto one core) but scale-adverse — at corpus
  * scale the same line shuffles the ENTIRE payload (text, vectors,
  * media bytes) through an exchange that buys nothing, because a big
  * input already arrives as more splits than the cluster has cores
  * (guide §2.4 "remove shuffles outright"; §2.5 "input skew: fix at the
  * source if you can, otherwise repartition immediately after the
  * read").
  *
  * The spread now fires only in the latency regime, decided from the
  * relation's own statistics (same decision shape as CsvSource's
  * line-repartition rule): when the input is smaller than cores ×
  * `spark.sql.files.maxPartitionBytes`, its scan cannot yield one split
  * per core, so idle cores are converted into wall time by one cheap
  * shuffle. Anything larger is throughput-bound — the scan already
  * feeds every core in waves and the repartition would be pure added
  * IO.
  *
  * The byte estimate alone has a hole: a big input can still arrive as
  * FEWER splits than cores (few huge unsplittable gzip/wholetext files,
  * or an upstream-coalesced plan), and a non-estimable source (e.g. a
  * LogicalRDD) defaults to `spark.sql.defaultSizeInBytes` (huge) and
  * would silently never spread. So when the estimate says throughput,
  * the verdict is confirmed against the plan's ACTUAL partition count
  * (`df.rdd.getNumPartitions`) — but ONLY for plans built wholly from
  * an allowlist of exchange-free nodes (scan/project/filter/generate
  * shapes, which is exactly where the hole lives) with no subquery in
  * any expression. Anything else might make the probe a job: under AQE,
  * materializing the RDD EXECUTES the upstream query stages and
  * subqueries driver-eagerly, and a shuffle's own partitioning
  * (AQE-coalesced) already spreads the data. An allowlist fails safe —
  * a node it does not know keeps the natural layout instead of running
  * a job. The probe runs only in the (rare locally) big-estimate
  * branch, so the latency path pays nothing extra.
  */
private[graft] object Spread {
  import org.apache.spark.sql.catalyst.plans.logical._

  /** True when `plan` holds only nodes that physical planning maps
    * without an exchange, and no subquery — i.e. `df.rdd` is pure
    * driver-side planning, never a job. The object nodes are the 1:1
    * per-partition maps a typed `Dataset` adds around them. A cached
    * relation not yet filled counts as the plan it caches: AQE fills it
    * as a query stage. */
  private def shuffleFree(plan: LogicalPlan): Boolean = !plan.exists {
    case r: InMemoryRelation => !r.cacheBuilder.isCachedColumnBuffersLoaded &&
      !shuffleFree(r.cacheBuilder.logicalPlan)
    case n @ (_: LeafNode | _: Project | _: Filter | _: Generate | _: Union |
              _: LocalLimit | _: SerializeFromObject | _: DeserializeToObject |
              _: MapElements | _: MapPartitions | _: TypedFilter) =>
      n.expressions.exists(_.exists(_.isInstanceOf[PlanExpression[_]]))
    case _ => true
  }

  def scan(df: DataFrame): DataFrame = {
    val sess = df.sparkSession
    val par = sess.sparkContext.defaultParallelism
    // Streaming frames keep the unconditional spread: batch statistics
    // are undefined before a micro-batch exists (QueryExecution's
    // batch-only assertion throws on a streaming source), and a
    // micro-batch is latency-regime by construction.
    if (df.isStreaming) return df.repartition(par)
    val maxSplit = JavaUtils.byteStringAsBytes(
      sess.conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
    val plan = df.queryExecution.optimizedPlan
    if (plan.stats.sizeInBytes < BigInt(par) * maxSplit) df.repartition(par)
    else if (shuffleFree(plan) && df.rdd.getNumPartitions < par)
      df.repartition(par)
    else df
  }
}
