package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

import graft.obs.QueryJobs

/** Spark-job budgets for representative queries: every driver job is a
  * full pass over (some of) the data at cluster scale, so a creeping
  * eager collect / probe / per-file job in an operator is an efficiency
  * regression even when local wall time barely moves. Ceilings are ~2×
  * the currently-observed counts (AQE adds data-dependent sub-jobs, so
  * exact pinning would be flaky) — they catch O(files) or O(columns)
  * job blowups, not single-job drift. */
class JobBudgetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  private def jobsOf(q: String): Long =
    QueryJobs.of(spark)(SparkEntry.queries(q)(spark, dir).count())._2.size.toLong

  // (query, ceiling): generous — see scaladoc
  private val budgets = Seq(
    "q01_group_agg" -> 6L, // scan + agg (+AQE)
    "q05_filter_in" -> 6L, // pushed filter, no aux jobs
    "q22_minhash_lsh" -> 12L, // hash pipeline + one reused exchange join
    "q24_cosine_topk" -> 10L, // broadcast build + corpus stream
    "q36_recipe_pipeline" -> 12L, // 1 inference + main plan only
    "q37_recipe_ratio" -> 16L, // 1 inference + 1 ratio agg + main plan
    "q50_hash_split" -> 8L, // pure narrow ops + one union agg
    // 2-level sklearn DAG (sklearn.yml -> 8-child indicator): 20 jobs
    // measured in the one-partition layout (69 under AQE); the ceiling
    // guards the structural wins (skipped pass-1 re-inference at
    // child-only levels, no per-file task storms, no AQE stage jobs)
    "q64_corpus_sklearn_summary" -> 40L,
    // full summary DAG in the one-partition layout (no AQE stage jobs,
    // no scan-side join, no parallel file listing, no inference
    // aggregate): 42 jobs measured, pinned exactly below; was 189-192
    // under AQE. A rise toward 100 means an eager probe, a broadcast or
    // a listing job came back
    "q46_corpus_summary_dag" -> 100L,
    "q59_corpus_bs_summary" -> 10L, // 1-child summary chain, 5 measured (11 under AQE)
    "q80_dup_spans" -> 12L, // gram agg + join + window chain, 6 measured
    "q81_span_removal" -> 12L, // q80's chain + one left join, 3 measured
    "q82_lm_score" -> 12L, // vocab scalar + model aggs + scoring joins, 6 measured
    "q83_bloom_dedup" -> 14L, // bitset build + 2 broadcast builds + probe, 7 measured
    // 1 seed TakeOrdered + 2 × (assignment agg + component collect):
    // 18 measured; the ceiling catches a per-iteration job blowup
    // (each extra job here is a full corpus pass per Lloyd's round)
    "q92_kmeans" -> 36L,
    // one keyed-window shuffle, no aux jobs: 3 measured — an extra job
    // here means the sweep gained an eager probe or a second pass
    "q94_asof_join" -> 8L,
    // bucketize + equi-join + containment filter: 4 measured
    "q96_range_join" -> 10L,
    // 1 seed TakeOrdered + broadcast build + assignment agg: 7 measured
    "q97_pq_codes" -> 14L,
    // codes + per-query LUT broadcast + candidate agg: 10 measured
    "q98_pq_adc_topk" -> 20L,
    // composed build (cells + codes) + probe: 16 measured; each extra
    // job at cluster scale is a full corpus or code-table pass
    "q99_ivfpq_probeall" -> 32L,
    // bounded-TreeSet prefilter + bottom-k + scalar: 3 measured
    "q107_distinct_estimate" -> 8L,
    // MG candidate scan + exact confirm scan + broadcast builds: 8
    // measured — CONSTANT by design (two corpus passes, never more)
    "q108_heavy_hitters" -> 16L,
    // one group-keyed KMV aggregate: 4 measured
    "q109_group_distinct" -> 8L,
    // pure scan-level arithmetic: 3 measured
    "q110_zorder_key" -> 6L,
    // one corpus scan into per-source sketches + broadcast pair join:
    // 5 measured — an extra job here means a second corpus pass crept in
    "q111_overlap_matrix" -> 10L,
    // keyed count exchange + scalar + TakeOrdered legs: 5 measured
    "q112_key_skew" -> 10L,
    // fixture ensure (marker-cached write) + schema'd json scan + agg:
    // 7 measured on a cold fixture; cached runs are fewer
    "q113_jsonl_scan" -> 14L,
    // histogram agg + bins-bounded window + two broadcast scalars: 8
    // measured
    "q114_binned_quantiles" -> 16L,
    // (group, bin)-keyed histogram + group-partitioned window: 6 measured
    "q115_group_quantiles" -> 12L,
    // build(even) + append-encode(odd) + probe: 21 measured — the append
    // half must stay batch-sized; a history re-encode would blow this
    "q116_ivfpq_append" -> 40L,
    // driver schema probe + ONE distributed decode pass: 3 measured —
    // a per-file driver job here means rows leaked back to the driver
    "q117_sqlite_glob" -> 6L,
    // pure scan-level expressions: 3 measured
    "q118_embed_normalize" -> 6L,
    // (label, dim) mean exchange + pooled assembly + probe broadcast:
    // 5 measured
    "q119_mean_pool" -> 10L,
    // scan-level regexp chain + one distinct-count agg: 4 measured
    "q120_url_canonical" -> 8L,
    // expression-only signals, no shuffle: 3 measured
    "q121_gopher_rules" -> 6L,
    // scan-level epoch explode, zero coordination: 3 measured
    "q122_mixture_upsample" -> 6L,
    // expression-only script counting, no shuffle: 3 measured
    "q123_script_profile" -> 6L,
    // the q48 cluster pipeline (11 jobs: CC finishes on the driver) +
    // two bounded group-bys: 13 measured (25 while CC ran its rounds);
    // the ceiling still admits the rounds, which larger edge sets take
    "q124_dedup_report" -> 60L
  )

  for ((q, budget) <- budgets)
    test(s"$q stays within $budget Spark jobs") {
      val n = jobsOf(q)
      assert(n > 0 && n <= budget, s"$q launched $n jobs (budget $budget)")
    }

  test("q46_corpus_summary_dag runs the same number of Spark jobs every time") {
    // sibling child recipes evaluate concurrently and share child
    // frames; under AQE a cache fill was a job only for the first sibling
    // to reach it, so the count varied (189-192) between runs. In the
    // one-partition layout every materialization is a collect to the
    // driver, and a collect whose plan folds into a local relation runs
    // no job. 42 jobs remain, each one task:
    //  - 16 raw-parse pins (the file scans),
    //  - 8 `ratio_of` group pins (an aggregate),
    //  - 17 inference collects of frames that are not yet local: 8 over
    //    a ratio join, 4 over a melt, 5 over a union of child frames,
    //  - the final aggregate.
    // A materialization that falls back to a job of its own (a pin or
    // an inference that stops folding, a cache fill, an aggregate
    // inference) changes the count.
    // The second evaluation also reuses every generated class of the
    // first: GraftSession sizes the codegen cache above the DAG's working
    // set and keeps every session clone on the executor's one classloader
    // (814 warm compiles without the cache, 389 without the shared
    // classloader). CodeGenerator sizes its cache at the JVM's first
    // compile, and every suite compiles only through TestSpark's one
    // session, which GraftSession builds: the bound holds whichever
    // suite runs first
    val runs = (1 to 2).map { _ =>
      val classes0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val jobs = jobsOf("q46_corpus_summary_dag")
      (jobs, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classes0)
    }
    val counts = runs.map(_._1)
    assert(counts == Seq(42L, 42L), s"job counts ${counts.mkString(", ")}")
    assert(runs(1)._2 == 0, s"the second evaluation compiled ${runs(1)._2} classes")
  }

  test("q48_dedup_clusters runs the same, measured number of Spark jobs every time") {
    // connected components fills its persisted entry state with one
    // count(), and this edge set is within the broadcast threshold, so
    // one collect and a union-find on the driver replace the rounds (23
    // jobs with them). Without the fill, the rounds' reads fill that
    // cache through AQE's table-cache stages: 34 jobs, and on larger
    // inputs a count that varies between evaluations
    val counts = (1 to 2).map(_ => jobsOf("q48_dedup_clusters"))
    assert(counts == Seq(11L, 11L), s"job counts ${counts.mkString(", ")}")
  }
}
