package graft

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":...,"queries":{...},"errors":{...}}.
  *
  * Measurement protocol: each pass (default 3) runs in FRESH forked JVMs
  * (one per CHUNK of queries) and every query reports its MINIMUM wall
  * time across passes, plus the full per-pass arrays.
  *
  * Why forked chunks: a 79-query codegen-heavy run in one JVM degrades
  * progressively — by query ~40 the JIT code cache fills; with
  * +UseCodeCacheFlushing the JVM flushes/recompiles hot methods in a
  * churn loop (measured: the same query 2.4s at position 49 of a fresh
  * pass vs 43s in the second in-JVM pass), and with -UseCodeCacheFlushing
  * it falls back to the interpreter. No flag setting is fully safe at
  * this codegen volume — and the flags of the invoking JVM aren't ours to
  * choose — so the harness forks each chunk with explicit flags
  * (2g reserved code cache, no flushing) and merges results.
  *
  * Why min-of-N is NOT enough on its own (round-5 postmortem): min-of-3
  * bounds a single noisy pass's influence at zero, but a sustained
  * co-tenant contention WINDOW (a noisy hour, not a noisy pass) inflates
  * every pass and certifies a phantom regression — r5's artifact recorded
  * the headline query at 85s (min of 3!) while quiet-window reruns
  * measured 20-25s. The artifact therefore now carries its own noise
  * instrument:
  *   - "pass_times"/"pass_jobs": per-pass wall seconds and Spark job
  *     counts per query, so any future "regression" is attributable in
  *     one glance (all passes slow = environment; one pass slow = noise;
  *     job count changed = plan drift);
  *   - "canary": a constant-cost CPU-bound probe (fixed-size range-sum,
  *     independent of sf and of the queries) timed once per chunk-JVM
  *     after warmup — its drift across chunks measures the machine, not
  *     the engine;
  *   - "noise" = max/min canary across all chunk-JVMs, and
  *     "tainted": true when noise exceeds SPARK_GRAFT_BENCH_NOISE_MAX
  *     (default 1.5) — a number produced under that much ambient drift
  *     must not be stamped official; rerun in a quiet window instead;
  *   - "suspect" (round 11): the GLOBAL ratio is blind to starvation
  *     confined to 1-2 chunks (round-10's q147: 133.3 s recorded from a
  *     starved chunk vs 1.1 s quiet, artifact self-reported untainted),
  *     so each query's headline draw is additionally checked against
  *     the canary of the CHUNK that produced it: when every
  *     headline-achieving draw came from a chunk whose canary exceeded
  *     SPARK_GRAFT_BENCH_SUSPECT_FACTOR (1.5) x the median chunk
  *     canary, the query's chunks are re-forked once (hard cap
  *     permitting) and anything still suspect is listed under
  *     "suspect" in both artifacts for downstream exclusion.
  *
  * Cold + warm measurement (round-6 postmortem): a query's FIRST in-JVM
  * run pays whole-stage-codegen Janino compilation and C2 JIT for every
  * plan shape it contains. For the big recipe-DAG queries (~100 distinct
  * generated classes, evaluated by concurrent subtrees) that cold cost is
  * not just large (q46: ~25 s cold vs ~14 s warm) but WILDLY unstable
  * under host-level contention phases: the concurrent compile storm
  * collapses to 60-120 s in bad phases while the warm run — and the CPU
  * canary, and every small query in the same chunk — stays flat
  * (measured: cold q46 21-120 s across identical fresh JVMs in one hour;
  * warm 13.4-14.4 s across the same hour, sessions, and code revisions).
  * Therefore each query whose cold time reaches
  * SPARK_GRAFT_BENCH_WARM_MIN seconds (default 2.0) is re-run once in the
  * same JVM after `clearCache()` — same full plan construction, analysis,
  * cache rebuild, data scan; only the compiler state is hot — and the
  * artifact's headline "queries" value is the min over ALL recorded
  * passes, cold and warm together (round-7 rule; stamped as
  * "headline":"min-all" in the JSON). Round 6's warm-min-when-any-warm
  * rule let a single noisy warm draw exceed — and override — every cold
  * pass (q71: headline 4.14 s vs its own 0.89 s cold min); min over the
  * union can never exceed the cold min, while warm draws still pull big
  * DAG queries down to the reproducible plan cost — what a hot
  * production executor JVM pays. Cold per-pass arrays stay in the
  * artifact as evidence ("pass_times"; warm in "pass_warm") so
  * compiler/JIT drift remains attributable separately.
  *
  * Wall-clock budget (round-10): the driver's round-9 run hit its cap
  * (rc=124) at 153 queries x 3 passes x 8-query chunks. Three measures,
  * none changing the min-all headline rule: (1) chunk size 16 — fork
  * overhead is ~14.5 s/JVM and dominated the wall; (2) warm reruns on
  * the first two passes only (two warm draws feed min-all; round-9's
  * third changed no headline beyond noise); (3) the final pass skips
  * queries already measured under SPARK_GRAFT_BENCH_SETTLE_SEC (2.0 s)
  * in an earlier pass — sub-threshold queries keep min-of-2,
  * everything expensive keeps the full protocol. Settled queries show
  * 2-entry pass_times arrays in the artifact.
  *
  * Three contention-window degradation tiers on top (the driver kills
  * at a hard cap and leaves NO artifact — round 9's rc=124 — so a
  * reduced complete artifact always beats a dead full one): pass 2
  * runs cold-only when pass 1 exceeded SPARK_GRAFT_BENCH_WARM_CUTOFF
  * (800 s — a bad window inflates both query time and the number of
  * queries crossing the warm threshold); the final pass is skipped
  * entirely when the earlier passes exceeded
  * SPARK_GRAFT_BENCH_WALL_BUDGET (1550 s); and past
  * SPARK_GRAFT_BENCH_HARD_CAP (1700 s) no further chunk forks at all
  * (a freak starvation event — one query measured at 30x its normal
  * wall under hypervisor steal — can blow the budget mid-pass). All
  * print loudly to stderr; quiet windows trigger none (measured full
  * quiet run ≈ 1350 s).
  *
  * Failures are NEVER swallowed: a failing query records value -1 and its
  * exception in "errors", so a crashing query is distinguishable from a
  * fast one and the total only sums successes.
  *
  * Child mode (one in-JVM pass, emits the same JSON) is selected by
  * SPARK_GRAFT_BENCH_CHILD=1; if forking fails (e.g. no java on PATH) the
  * harness degrades to in-process passes and says so on stderr.
  */
object Bench {

  private def jsonEscape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def numMap(m: collection.Map[String, Double], names: Seq[String]): String =
    names.filter(m.contains).map(n => "\"" + n + "\":" + m(n)).mkString("{", ",", "}")

  private def arrMap[T](m: collection.Map[String, Seq[T]], names: Seq[String]): String =
    names.filter(m.contains)
      .map(n => "\"" + n + "\":" + m(n).mkString("[", ",", "]"))
      .mkString("{", ",", "}")

  /** The artifact's ambient-drift measure: p90/p10 of the per-chunk
    * canaries. Contract (pinned by BenchParseSpec): isolated outlier
    * chunks — at least one and up to ~10% on each side — do NOT move it
    * (short parallel probes carry irreducible scheduler/GC spread; two
    * full quiet-window runs with reproducible query times still read
    * max/min = 1.7-2.0), while a sustained contention window inflating
    * most chunks DOES. The trim is at LEAST one from each end: a pure
    * floor(0.1*(n-1)) index degrades to exactly max/min for n <= 10,
    * re-introducing the single-outlier false taint on subset runs
    * (3 canaries 0.18/0.20/0.28 on a quiet machine read 1.56). Under
    * 4 canaries there is no way to tell one jittery draw from
    * contention, so the ratio reports 1.0 — dev subset runs aren't the
    * official stamp; a full run has ~30 chunks. */
  private[graft] def noiseRatio(canaries: Seq[Double]): Double =
    if (canaries.size < 4) 1.0
    else {
      val sorted = canaries.sorted
      val trim = math.max(1, sorted.size / 10)
      val lo = sorted(trim)
      val hi = sorted(sorted.size - 1 - trim)
      hi / math.max(lo, 1e-9)
    }

  /** Per-chunk starvation taint (round-11; the round-10 postmortem's
    * q147 — recorded 133.3 s from a starved chunk, quiet-window 1.1 s,
    * while the GLOBAL p90/p10 noise ratio stayed below threshold
    * because the event touched 1-2 chunks of ~34): a query is SUSPECT
    * when every draw achieving its headline min came from a chunk whose
    * canary exceeded `factor` x the MEDIAN chunk canary — i.e. the
    * official number was measured only under local starvation. One
    * quiet-chunk draw achieving the headline clears the query (the min
    * was reproduced under normal CPU). Under 4 canaries there is no
    * median worth trusting (the noiseRatio guard's epistemics): no
    * suspects. Times and canaries are parallel per-draw arrays (cold
    * and warm tracked separately); failed draws (-1) are ignored. */
  private[graft] def starvedSuspects(names: Seq[String],
      passTimes: collection.Map[String, Seq[Double]],
      passCanary: collection.Map[String, Seq[Double]],
      passWarm: collection.Map[String, Seq[Double]],
      warmCanary: collection.Map[String, Seq[Double]],
      canaries: Seq[Double], factor: Double): Seq[String] = {
    if (canaries.size < 4) return Nil
    val median = canaries.sorted.apply(canaries.size / 2)
    val cutoff = factor * median
    names.filter { n =>
      val draws =
        passTimes.getOrElse(n, Nil).zip(passCanary.getOrElse(n, Nil)) ++
          passWarm.getOrElse(n, Nil).zip(warmCanary.getOrElse(n, Nil))
      val ok = draws.filter(_._1 >= 0)
      ok.nonEmpty && {
        val h = ok.map(_._1).min
        // min canary among headline-achieving draws: if ANY quiet chunk
        // reproduced the headline, the number is trustworthy
        ok.filter(_._1 == h).map(_._2).min > cutoff
      }
    }
  }

  /** The round-7 headline rule, pinned by BenchParseSpec: a query's
    * official number is the min over ALL recorded passes — cold best
    * united with every warm draw — so it can never exceed the query's own
    * cold min (the round-6 failure: one noisy 4.14 s warm draw overrode
    * three cold passes bottoming at 0.89 s), while genuine warm speedups
    * (JIT'd big-DAG reruns) still count. Failed queries (-1) pass
    * through; negative warm sentinels are ignored. */
  private[graft] def headlineOf(cold: Double, warm: Seq[Double]): Double =
    if (cold < 0) cold else (cold +: warm.filter(_ >= 0)).min

  /** Parent-side (official) artifact: headline min-of-passes per query
    * (warm when measured, else cold — see header), plus the per-pass
    * evidence and the noise instrument. */
  private def renderJson(names: Seq[String], best: collection.Map[String, Double],
                         passTimes: collection.Map[String, Seq[Double]],
                         passWarm: collection.Map[String, Seq[Double]],
                         passJobs: collection.Map[String, Seq[Long]],
                         canaries: Seq[Double],
                         errors: collection.Map[String, String], passes: Int,
                         sfDir: String,
                         suspects: Seq[String] = Nil): (String, String) = {
    val errs = errors.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    // headline per query: min over ALL recorded passes, cold AND warm
    // (round-6 postmortem: warm-min-when-any-warm let a SINGLE noisy warm
    // draw become the official number even when every cold pass was
    // faster — q71 headline 4.14 s against its own 0.89 s cold min, the
    // exact phantom-regression class this protocol exists to kill,
    // inverted). Min over the union can never exceed the cold min, and
    // warm draws still pull the headline down to the reproducible
    // plan cost when JIT/codegen dominated the cold passes. Failed
    // queries stay -1.
    val headline = names.flatMap { n =>
      best.get(n).map(cold => n -> headlineOf(cold, passWarm.getOrElse(n, Nil)))
    }.toMap
    val total = names.flatMap(headline.get).filter(_ >= 0).sum
    // noise = p90/p10 of the chunk canaries, not max/min: two full runs in
    // a demonstrably quiet window (total 117.6 s vs 118.6 s, headline query
    // reproducible within 3%) still read max/min = 1.7-2.0, because one
    // fast or slow chunk out of ~30 owns the ratio — short parallel probes
    // carry irreducible scheduler/GC spread. A sustained contention window
    // (the thing this flag is FOR) inflates most chunks, which the
    // p90/p10 order-statistic ratio captures while shrugging off up to
    // ~10% outlier chunks on each side.
    val noise = noiseRatio(canaries)
    val noiseMax = sys.env.getOrElse("SPARK_GRAFT_BENCH_NOISE_MAX", "1.5").toDouble
    val tainted = noise > noiseMax
    // locale-pinned rounding: the f-interpolator uses the JVM default
    // locale, which on comma-decimal locales would emit "noise":1,234 —
    // invalid JSON in the one artifact this protocol exists to produce.
    // Every other number here rides locale-independent Double.toString.
    val noiseStr = (math.rint(noise * 1000) / 1000).toString
    // "headline" is a machine-readable protocol stamp: cross-round
    // tooling diffing "value"/"queries" can detect methodology changes
    // (r5 = cold min-of-passes, r6 = warm-min-when-any-warm, r7+ =
    // min-all) instead of silently comparing numbers measured under
    // different rules.
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","headline":"min-all",""" +
        s""""queries":${numMap(headline, names)},""" +
        s""""pass_times":${arrMap(passTimes, names)},""" +
        s""""pass_warm":${arrMap(passWarm, names)},""" +
        s""""pass_jobs":${arrMap(passJobs, names)},""" +
        s""""canary":${canaries.mkString("[", ",", "]")},""" +
        s""""noise":$noiseStr,"tainted":$tainted,""" +
        // queries whose headline survives ONLY from canary-outlier
        // chunks after the targeted re-fork (see starvedSuspects):
        // downstream round-over-round comparisons must exclude these —
        // the number is an upper bound measured under local starvation,
        // not a plan cost
        s""""suspect":${suspects.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""errors":$errs,"passes":$passes,"sf":"$sfDir"}"""
    (full, compactLine(names, headline, total, noiseStr, tainted,
      errors.size, sfDir, suspects))
  }

  /** The stdout-facing official line: same headline numbers as the full
    * artifact, but sized to survive a byte-bounded stdout capture (the
    * round-6 artifact held only a ~1.9 KB tail of the 11 KB full line,
    * cut mid-value — unparseable). Query keys are shortened to their
    * `qNN` prefix (full names stay unique in BENCH_LAST.json, which
    * always carries the complete per-pass evidence); values round to
    * 2 dp via locale-independent Double.toString. Falls back to full
    * names if the short prefixes ever collide. Pinned < 1800 bytes for
    * the current suite by BenchParseSpec. */
  private[graft] def compactLine(names: Seq[String],
                                 headline: Map[String, Double], total: Double,
                                 noiseStr: String, tainted: Boolean,
                                 nErrors: Int,
                                 sfDir: String,
                                 suspects: Seq[String] = Nil): String = {
    def short(n: String) = n.takeWhile(_ != '_')
    val shorts = names.map(short)
    val useShort = shorts.distinct.size == shorts.size
    // trailing ".0" stripped: "5.0" -> "5" (still a JSON number), and
    // EVERY value rounds to ONE dp (round 11, at 160 queries: the 2 dp
    // sub-second worst case overflowed the 2000-byte capture tail by
    // ~30 bytes; 0.1 s resolution is far below this host's documented
    // 1.5-3x ambient swing, and BENCH_LAST.json keeps full precision).
    // Values past 10 s round to WHOLE seconds (175-query byte budget —
    // 0.1 s resolution on a 10 s+ query is noise on this host anyway),
    // which also makes the line SHRINK under the starved windows that
    // produce big values and suspect lists at the same time.
    def r2(v: Double) = {
      if (v >= 9.95) math.rint(v).toLong.toString
      else {
        val s = (math.rint(v * 10) / 10).toString
        if (s.endsWith(".0")) s.dropRight(2) else s
      }
    }
    val qs = names.flatMap { n =>
      headline.get(n).map(v => "\"" + (if (useShort) short(n) else n) + "\":" + r2(v))
    }.mkString("{", ",", "}")
    // sf as the basename: the testdata prefix is constant provenance the
    // full BENCH_LAST.json keeps, and the compact line is byte-budgeted
    // ("headline"/"detail" were dropped at 142 queries for the same
    // reason — BENCH_LAST.json still records min-all provenance in full)
    val sfShort = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)
    // "unit" dropped at 157 queries, "passes" at 160 (constant
    // provenance the full BENCH_LAST.json keeps — the compact line is
    // byte-budgeted). "suspect" appears ONLY when non-empty (short
    // names): the normal case costs zero bytes, and a starved artifact
    // must carry its own exclusion list into the byte-bounded capture
    // ... and the suspect list is CAPPED at 8 names (a run starved
    // enough to flag more is globally tainted anyway; the full list
    // stays in BENCH_LAST.json) with a "+N" sentinel for the overflow,
    // so a fully-starved run cannot push the line past the capture.
    val suspShown = suspects.take(8).map(n =>
      "\"" + (if (useShort) short(n) else n) + "\"") ++
      (if (suspects.size > 8) Seq("\"+" + (suspects.size - 8) + "\"") else Nil)
    val susp =
      if (suspects.isEmpty) ""
      else suspShown.mkString(""""suspect":[""", ",", "],")
    // "n_errors" only when non-zero (round-11 byte budget): a healthy
    // run's 0 is implied by the absence of -1 values, and the full
    // artifact always carries the "errors" map.
    val errField = if (nErrors > 0) s""""n_errors":$nErrors,""" else ""
    s"""{"metric":"total","value":${r2(total)},""" +
      s""""queries":$qs,"noise":$noiseStr,"tainted":$tainted,$susp""" +
      errField + s""""sf":"$sfShort"}"""
  }

  /** Child-side JSON: this pass's raw cold times, warm-rerun times (the
    * subset of queries that crossed the warm threshold), jobs + the
    * chunk-JVM canary. */
  private def renderChildJson(names: Seq[String], times: collection.Map[String, Double],
                              warm: collection.Map[String, Double],
                              jobs: collection.Map[String, Long], canary: Double,
                              errors: collection.Map[String, String],
                              sfDir: String): String = {
    val errs = errors.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val jm = names.filter(jobs.contains)
      .map(n => "\"" + n + "\":" + jobs(n)).mkString("{", ",", "}")
    s"""{"metric":"pass","queries":${numMap(times, names)},""" +
      s""""warm":${numMap(warm, names)},"jobs":$jm,""" +
      s""""canary":$canary,"errors":$errs,"sf":"$sfDir"}"""
  }

  /** Constant-cost CPU-bound canary, independent of the sf dir and of the
    * query set: a fixed-size codegen'd range aggregation. Its wall time
    * measures ambient CPU availability (what co-tenant contention steals),
    * not engine behavior. Run once untimed (JIT), then the MINIMUM of
    * three timed runs: a single ~0.2 s draw carries ±30% scheduler/GC
    * jitter, and the noise ratio takes a max/min over ~30 chunk canaries —
    * one jittery draw would trip the tainted flag on a perfectly quiet
    * machine (it did: 29 canaries at 0.17-0.25 s plus one 0.30 s outlier
    * read as "noise 1.73"). Sustained contention — the thing the flag is
    * FOR — inflates all three draws and still shows in the minimum. */
  private def timeCanary(spark: org.apache.spark.sql.SparkSession): Double = {
    def run(): Unit =
      spark.range(100000000L).selectExpr("sum(id * 3 + 1)").collect()
    run() // warm
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      run()
      (System.nanoTime() - t0) / 1e9
    }.min
  }

  /** One full pass over the selected queries inside this JVM; fills
    * `times`/`jobs`/`errors`, returns the chunk canary seconds. */
  private def runPass(sfDir: String, cpus: String, pass: Int,
                      times: collection.mutable.Map[String, Double],
                      warms: collection.mutable.Map[String, Double],
                      jobs: collection.mutable.Map[String, Long],
                      errors: collection.mutable.Map[String, String]): Double = {
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // count Spark jobs per query: eager driver-side jobs (collect/isEmpty
    // during plan construction) are invisible in wall time alone
    val queryJobs = graft.obs.QueryJobs.attach(spark)
    // unrecorded warmup: JIT-compile the parquet scan / shuffle / codegen
    // machinery so the chunk's first real query isn't billed for it
    if (!sys.env.get("SPARK_GRAFT_BENCH_WARMUP").contains("0")) {
      try {
        import org.apache.spark.sql.functions.{col, sum => fsum}
        spark.read.parquet(s"$sfDir/supplier.parquet")
          .groupBy("s_nationkey").agg(fsum(col("s_acctbal"))).count()
        // corpus fixture generation is one-time per sf dir (marker-cached
        // across JVMs) — do it here so the first corpus query of a chunk
        // isn't billed for writing fixture trees
        graft.corpus.ReferenceCorpus.ensure(spark, sfDir)
        // JIT the recipe machinery too (ExprCompiler, line-filtered CSV
        // parse, inference aggregate, ratio collect): the DAG queries
        // (q46/q64/q69) otherwise pay ~2x cold-JIT on their first pass —
        // measured 51.6 s vs 23.4 s warm for q46 at sf0.1. q36 is the
        // smallest end-to-end recipe eval (~1 s) and touches every path.
        // Only when this chunk actually holds recipe-machinery queries —
        // for the other ~half of the chunks it is pure fork overhead
        // (round-10 wall budget; ~20 forks per run)
        val recipeQs = ((1 to 16) ++ Seq(36, 37, 44, 45, 46, 53) ++
          (57 to 64) :+ 69 :+ 79).map(i => f"q$i%02d").toSet
        if (selectedNames.exists(n => recipeQs(n.takeWhile(_ != '_')))) {
          SparkEntry.queries("q36_recipe_pipeline")(spark, sfDir).count()
          spark.catalog.clearCache()
        }
      } catch { case _: Throwable => () }
    }
    val canary = timeCanary(spark)
    val warmMin = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARM_MIN", "2.0").toDouble
    // warm reruns only on the first WARM_PASSES passes (default 2): two
    // warm draws already feed the min-all headline (a third changed no
    // round-9 headline by more than noise) and the last pass is the
    // adaptive one (see main) — round-10 wall-clock budget measure, the
    // driver's round-9 run died at its cap (rc=124)
    val warmPasses = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARM_PASSES", "2").toInt
    val warmThisPass = pass <= warmPasses
    val names = selectedNames
    for (name <- names if !errors.contains(name)) {
      queryJobs.take() // drop earlier jobs: warmup, canary, last warm rerun
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        times(name) = dt
        jobs(name) = queryJobs.take().size.toLong
        System.err.println(f"[bench] pass $pass $name%-26s$dt%9.2fs  ${jobs(name)}%4d jobs")
      } catch {
        case e: Throwable =>
          errors(name) = jsonEscape(
            s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
          times(name) = -1d
          System.err.println(s"[bench] pass $pass $name FAILED: ${e.getClass.getName}")
      }
      spark.catalog.clearCache() // recipe queries cache child frames
      // warm rerun (see header): same full plan construction + scan, hot
      // compiler — the headline number for anything non-trivial
      if (warmMin >= 0 && warmThisPass && times.get(name).exists(t => t >= warmMin)) {
        val w0 = System.nanoTime()
        try {
          SparkEntry.queries(name)(spark, sfDir).count()
          val wt = (System.nanoTime() - w0) / 1e9
          warms(name) = wt
          System.err.println(f"[bench] pass $pass $name%-26s$wt%9.2fs  warm")
        } catch {
          case e: Throwable =>
            // a warm-rerun failure is a real failure (same query, same
            // JVM): report it rather than silently keeping the cold time
            errors(name) = jsonEscape(
              s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
            times(name) = -1d
            System.err.println(s"[bench] pass $pass $name FAILED warm: ${e.getClass.getName}")
        }
        spark.catalog.clearCache()
      }
    }
    canary
  }

  /** Query subset under SPARK_GRAFT_BENCH_ONLY (comma-separated names,
    * dev-profiling aid); all queries when unset. */
  private def selectedNames: Seq[String] = {
    val all = SparkEntry.queries.keys.toSeq.sorted
    sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(s) if s.trim.nonEmpty =>
        val want = s.split(",").map(_.trim).filter(_.nonEmpty).toSet
        all.filter(n => want.exists(n.contains))
      case _ => all
    }
  }

  /** One forked fresh-JVM run over `chunk`: (times, warm, jobs, canary,
    * errors), or None if the child could not run. */
  private def forkPass(pass: Int, chunk: Seq[String], noWarm: Boolean = false,
                       classpath: Option[String] = None)
      : Option[(Map[String, Double], Map[String, Double], Map[String, Long], Double, Map[String, String])] = {
    val javaHome = sys.props.get("java.home").map(h => s"$h/bin/java").getOrElse("java")
    val opens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
      "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
      "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
      "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val mem = sys.env.getOrElse("SPARK_DRIVER_MEM", "24g")
    val cmd: Seq[String] = Seq(javaHome) ++ opens ++ Seq(
      s"-Xmx$mem",
      "-XX:ReservedCodeCacheSize=2g", "-XX:-UseCodeCacheFlushing",
      "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      "-cp", classpath.getOrElse(sys.props.getOrElse("java.class.path", "")),
      "graft.Bench")
    try {
      val pb = new ProcessBuilder(cmd: _*)
      pb.environment().put("SPARK_GRAFT_BENCH_CHILD", "1")
      pb.environment().put("SPARK_GRAFT_BENCH_PASS", pass.toString)
      pb.environment().put("SPARK_GRAFT_BENCH_ONLY", chunk.mkString(","))
      if (noWarm) pb.environment().put("SPARK_GRAFT_BENCH_WARM_PASSES", "0")
      pb.redirectErrorStream(false)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val proc = pb.start()
      val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
      val code = proc.waitFor()
      val line = out.linesIterator.toSeq.reverse.find(_.startsWith("{\"metric\""))
      if (code != 0 || line.isEmpty) {
        System.err.println(s"[bench] child pass $pass exited $code without JSON")
        None
      } else Some(parseChild(line.get))
    } catch {
      case e: Exception =>
        System.err.println(s"[bench] fork failed (${e.getMessage}); falling back in-process")
        None
    }
  }

  /** Minimal parser for the child's renderChildJson output (keys are query
    * names we generated: no escapes; error values are already escaped and
    * re-emitted verbatim). */
  private[graft] def parseChild(json: String)
      : (Map[String, Double], Map[String, Double], Map[String, Long], Double, Map[String, String]) = {
    def section(name: String): String = {
      val start = json.indexOf("\"" + name + "\":{")
      if (start < 0) return ""
      val open = json.indexOf('{', start)
      var depth = 0
      var i = open
      while ({ val c = json.charAt(i); depth += (if (c == '{') 1 else if (c == '}') -1 else 0); depth != 0 }) i += 1
      json.substring(open + 1, i)
    }
    val qre = """"([^"]+)":(-?[0-9.Ee+-]+)""".r
    val qs = qre.findAllMatchIn(section("queries"))
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
    val ws = qre.findAllMatchIn(section("warm"))
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
    val js = qre.findAllMatchIn(section("jobs"))
      .map(m => m.group(1) -> m.group(2).toDouble.toLong).toMap
    val canary = """"canary":(-?[0-9.Ee+-]+)""".r.findFirstMatchIn(json)
      .map(_.group(1).toDouble).getOrElse(0.0)
    val ere = """"([^"]+)":"((?:[^"\\]|\\.)*)"""".r
    val es = ere.findAllMatchIn(section("errors"))
      .map(m => m.group(1) -> m.group(2)).toMap
    (qs, ws, js, canary, es)
  }

  /** A/B artifact line: per-query paired headlines and their b/a ratio,
    * plus each side's own noise instrument and the median ratio over
    * valid pairs (the robust one-number answer to "did B regress?").
    * Queries failed on either side (-1) keep their values but report
    * ratio -1 and stay out of the median. */
  private[graft] def abJson(names: Seq[String],
                            aHead: collection.Map[String, Double],
                            bHead: collection.Map[String, Double],
                            aCan: Seq[Double], bCan: Seq[Double],
                            sfDir: String): String = {
    def r3(v: Double) = (math.rint(v * 1000) / 1000).toString
    val pairs = names.flatMap(n =>
      for (a <- aHead.get(n); b <- bHead.get(n)) yield (n, a, b))
    val ratios = pairs.collect { case (_, a, b) if a > 0 && b >= 0 => b / a }.sorted
    val median = if (ratios.isEmpty) -1.0 else ratios(ratios.size / 2)
    val qs = pairs.map { case (n, a, b) =>
      val ratio = if (a > 0 && b >= 0) r3(b / a) else "-1"
      s""""$n":{"a":${r3(a)},"b":${r3(b)},"ratio":$ratio}"""
    }.mkString("{", ",", "}")
    s"""{"metric":"ab","queries":$qs,"median_ratio":${r3(median)},""" +
      s""""a_noise":${r3(noiseRatio(aCan))},"b_noise":${r3(noiseRatio(bCan))},""" +
      s""""n_pairs":${ratios.size},"sf":"$sfDir"}"""
  }

  /** Interleaved A/B mode (SPARK_GRAFT_BENCH_AB_CP — round 11): this
    * host swings 1.5-3x on IDENTICAL code across hours, so sequential
    * before/after runs cannot adjudicate a regression; two chunks forked
    * BACK-TO-BACK share their ambient window, so the per-query b/a
    * ratio cancels the drift both sides saw. A is the current
    * classpath; B prepends the given classes directory (e.g. a worktree
    * build of another git ref: `git worktree add /tmp/ab <ref> && (cd
    * /tmp/ab && sbt compile)` then AB_CP=/tmp/ab/target/scala-2.13/
    * classes) so the alternate build shadows the current one
    * class-by-class — classes B deleted would still resolve from A's
    * directory behind it, which is the right default for comparing two
    * revisions of the same tree. Protocol per pass: each chunk forks A
    * then B; headline per side is the usual min-all; output is ONE
    * "metric":"ab" JSON line (paired ratios + median) to stdout and
    * SPARK_GRAFT_BENCH_OUT (default BENCH_AB.json). The degradation
    * tiers don't apply — this is a deliberately-invoked instrument,
    * usually under SPARK_GRAFT_BENCH_ONLY, not the driver's stamp. */
  private def abMain(names: Seq[String], passes: Int, sfDir: String,
                     bcpDir: String): Unit = {
    val sep = java.io.File.pathSeparator
    val bcp = bcpDir + sep + sys.props.getOrElse("java.class.path", "")
    final class Side {
      val times = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
      val warm = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
      val can = scala.collection.mutable.ArrayBuffer.empty[Double]
      val errs = scala.collection.mutable.LinkedHashMap.empty[String, String]
      def record(qs: Map[String, Double], ws: Map[String, Double],
                 canary: Double, es: Map[String, String]): Unit = {
        can += canary
        for ((k, v) <- qs if v >= 0) {
          times(k) = times.getOrElse(k, Vector.empty) :+ v
          ws.get(k).foreach(w => warm(k) = warm.getOrElse(k, Vector.empty) :+ w)
        }
        for ((k, v) <- es) errs(k) = v
      }
      def headline: Map[String, Double] = names.flatMap { n =>
        if (errs.contains(n)) Some(n -> -1.0)
        else times.get(n).filter(_.nonEmpty)
          .map(ts => n -> headlineOf(ts.min, warm.getOrElse(n, Nil)))
      }.toMap
    }
    val a = new Side; val b = new Side
    val chunkSize = sys.env.getOrElse("SPARK_GRAFT_BENCH_CHUNK", "16").toInt
    for (pass <- 1 to passes) {
      val offset = ((pass - 1) * chunkSize / math.max(passes, 1)) % math.max(names.size, 1)
      val rotated = names.drop(offset) ++ names.take(offset)
      for (chunk <- rotated.grouped(chunkSize)) {
        forkPass(pass, chunk).foreach {
          case (qs, ws, _, c, es) => a.record(qs, ws, c, es) }
        forkPass(pass, chunk, classpath = Some(bcp)).foreach {
          case (qs, ws, _, c, es) => b.record(qs, ws, c, es) }
      }
    }
    val json = abJson(names, a.headline, b.headline, a.can.toSeq, b.can.toSeq, sfDir)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_AB.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes("UTF-8"))
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}") }
    println(json)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // 3 passes by default: min-of-2 proved unable to separate co-tenant
    // noise from plan drift (round-4 postmortem — 4 queries looked 1.7-2.2x
    // regressed with zero code change); min-of-3 is the cheapest protocol
    // that bounds a single noisy pass's influence at zero. Sustained noise
    // is what the canary/"tainted" instrument is for (see header).
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    val names = selectedNames
    val best = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val passTimes = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    val passWarm = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    val passJobs = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Long]]
    val canaries = scala.collection.mutable.ArrayBuffer.empty[Double]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]

    if (sys.env.get("SPARK_GRAFT_BENCH_CHILD").contains("1")) {
      // child: ONE in-JVM pass, emit JSON, exit
      val pass = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASS", "1").toInt
      val times = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      val warms = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      val jobs = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      val canary = runPass(sfDir, cpus, pass, times, warms, jobs, errors)
      println(renderChildJson(names, times, warms, jobs, canary, errors, sfDir))
      // hard-exit: SparkSession shutdown hooks handle cleanup; a lingering
      // non-daemon thread must not wedge the parent
      GraftSession.builder(cpus).getOrCreate().stop()
      sys.exit(0)
    }

    // interleaved A/B mode (see abMain): a dev/adjudication instrument,
    // never the driver's official artifact path
    val abCp = sys.env.get("SPARK_GRAFT_BENCH_AB_CP").map(_.trim).filter(_.nonEmpty)
    if (abCp.isDefined) { abMain(names, passes, sfDir, abCp.get); return }

    // per-draw chunk canaries, parallel to passTimes/passWarm — the
    // starvation-taint instrument needs to know WHICH chunk produced
    // each draw, not just the global canary distribution
    val passCanary = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    val warmCanary = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    def record(qs: Map[String, Double], ws: Map[String, Double],
               js: Map[String, Long], canary: Double,
               es: Map[String, String]): Unit = {
      canaries += canary
      for ((k, v) <- qs if v >= 0) {
        passTimes(k) = passTimes.getOrElse(k, Vector.empty) :+ v
        passCanary(k) = passCanary.getOrElse(k, Vector.empty) :+ canary
        ws.get(k).foreach { w =>
          passWarm(k) = passWarm.getOrElse(k, Vector.empty) :+ w
          warmCanary(k) = warmCanary.getOrElse(k, Vector.empty) :+ canary
        }
        js.get(k).foreach(j => passJobs(k) = passJobs.getOrElse(k, Vector.empty) :+ j)
        if (!errors.contains(k)) best(k) = math.min(best.getOrElse(k, Double.MaxValue), v)
      }
      // a query that failed in ANY chunk stays reported as failed
      for ((k, v) <- es) { errors(k) = v; best(k) = -1d }
    }

    // fork a fresh JVM per CHUNK of queries (see header); chunk boundaries
    // rotate between passes so no query is always last-in-chunk.
    // Chunk size 16 (was 8 through round 9, 14 briefly in round 10): per-fork overhead measured
    // ~14.5 s (round-8 driver wall 1713 s over 51 forks vs ~975 s of
    // query time), so halving the fork count buys ~450 s of wall — and a
    // 14-query chunk stays far below the ~40-execution code-cache
    // degradation point with the children's 2g reserved cache.
    val chunkSize = sys.env.getOrElse("SPARK_GRAFT_BENCH_CHUNK", "16").toInt
    // Adaptive FINAL pass (round-10 wall-budget measure): queries whose
    // best cold time over the earlier passes is already under
    // SETTLE_SEC are "settled" — a third cold draw moved no round-9
    // sub-second headline by more than 0.31 s while costing ~60 s of
    // measured time plus ~half the final pass's forks. Expensive or
    // still-unmeasured queries keep the full min-of-3 protocol (the
    // round-4 postmortem's phantom-regression class lives there).
    val settleSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_SETTLE_SEC", "2.0").toDouble
    // wall-budget safety valve: the driver kills the whole run at a
    // hard cap (round 9: rc=124, NO artifact — the worst outcome). If
    // the earlier passes already consumed the budget (a contention
    // window inflating everything ~1.4x was measured on this host),
    // SKIP the final pass rather than risk the kill: every query
    // already has 2 cold (+ up to 2 warm) draws, and a complete
    // min-of-2 artifact beats a dead min-of-3 one.
    // 1550: the quietest round-10 window finished passes 1-2 at 1470 s
    // — a 1450 budget skipped its final pass by 20 s. The final pass is
    // itself per-chunk bounded by the 1700 s hard cap below, so the
    // budget can sit this close without risking the driver's kill.
    val wallBudget = sys.env.getOrElse("SPARK_GRAFT_BENCH_WALL_BUDGET", "1550").toDouble
    val hardCap = sys.env.getOrElse("SPARK_GRAFT_BENCH_HARD_CAP", "1700").toDouble
    val t0 = System.nanoTime()
    var forked = true
    var hardStopped = false
    for (pass <- 1 to passes if forked) {
      val elapsed = (System.nanoTime() - t0) / 1e9
      val passNames =
        if (pass == passes && passes >= 3) {
          if (elapsed > wallBudget) {
            System.err.println(f"[bench] final pass SKIPPED: $elapsed%.0fs " +
              f"elapsed exceeds the $wallBudget%.0fs wall budget " +
              "(contention window) — artifact keeps min over 2 passes")
            Nil
          } else
            names.filter(n => !errors.contains(n) &&
              !passTimes.get(n).exists(ts => ts.nonEmpty && ts.min < settleSec))
        } else names
      if (passNames.size < names.size)
        System.err.println(s"[bench] final pass: ${passNames.size} unsettled " +
          s"queries (${names.size - passNames.size} settled under ${settleSec}s)")
      // second degradation tier: when pass 1 already ran long (a
      // contention window inflates both query time AND how many
      // queries cross the warm threshold — measured 109 warm runs vs
      // ~70 quiet), pass 2 runs cold-only. One warm draw per big query
      // (pass 1's) still feeds min-all; the bound on passes 1-2 is
      // what keeps the valve below the driver's kill cap.
      val warmCutoff = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARM_CUTOFF", "800").toDouble
      val noWarm = pass >= 2 && elapsed > warmCutoff
      if (noWarm)
        System.err.println(f"[bench] pass $pass runs cold-only: " +
          f"$elapsed%.0fs elapsed exceeds the $warmCutoff%.0fs warm cutoff")
      val offset = ((pass - 1) * chunkSize / math.max(passes, 1)) % math.max(passNames.size, 1)
      val rotated = passNames.drop(offset) ++ passNames.take(offset)
      for (chunk <- rotated.grouped(chunkSize) if forked && !hardStopped) {
        // third tier: a freak starvation event (one query measured 30x
        // its normal wall under hypervisor steal) can blow the budget
        // MID-pass — past the hard cap, stop forking entirely. Every
        // query already has pass-1 evidence; a min-of-1 tail in a
        // window that bad beats the driver's kill.
        if (pass >= 2 && (System.nanoTime() - t0) / 1e9 > hardCap) {
          System.err.println(f"[bench] HARD CAP: " +
            f"${(System.nanoTime() - t0) / 1e9}%.0fs elapsed exceeds " +
            f"$hardCap%.0fs — remaining chunks skipped, artifact keeps " +
            "all recorded passes")
          hardStopped = true
        } else forkPass(pass, chunk, noWarm) match {
          case Some((qs, ws, js, canary, es)) => record(qs, ws, js, canary, es)
          case None => forked = false
        }
      }
    }
    // Per-chunk starvation taint + targeted re-fork (round 11; the
    // round-10 q147 postmortem — a 1-2-chunk starvation event recorded
    // a 121x-inflated headline in an artifact whose GLOBAL p90/p10
    // noise ratio read clean, because the degradation tiers had left
    // that query with draws from only the starved chunks). Queries
    // whose headline was measured ONLY under a canary-outlier chunk get
    // their chunks re-forked once (a chunk is ~15 s of fork overhead
    // plus query time — cheap next to a poisoned artifact) while the
    // hard cap allows; whatever remains suspect is listed in the
    // artifact so cross-round comparisons can exclude it.
    var suspects: Seq[String] = Nil
    if (forked) {
      val suspectFactor =
        sys.env.getOrElse("SPARK_GRAFT_BENCH_SUSPECT_FACTOR", "1.5").toDouble
      def currentSuspects() = starvedSuspects(names, passTimes, passCanary,
        passWarm, warmCanary, canaries.toSeq, suspectFactor)
      suspects = currentSuspects()
      if (suspects.nonEmpty) {
        val elapsed = (System.nanoTime() - t0) / 1e9
        if (elapsed <= hardCap && !hardStopped) {
          System.err.println(s"[bench] ${suspects.size} starvation-suspect " +
            s"quer${if (suspects.size == 1) "y" else "ies"} (headline only " +
            s"from canary-outlier chunks): ${suspects.mkString(", ")} — " +
            "re-forking those chunks once")
          for (chunk <- suspects.grouped(chunkSize))
            forkPass(passes + 1, chunk).foreach {
              case (qs, ws, js, canary, es) => record(qs, ws, js, canary, es)
            }
          suspects = currentSuspects()
          if (suspects.nonEmpty)
            System.err.println("[bench] still suspect after re-fork " +
              s"(machine still starved): ${suspects.mkString(", ")} — " +
              "listed in the artifact's \"suspect\" field")
        } else {
          System.err.println(f"[bench] ${suspects.size} starvation-suspect " +
            f"queries but $elapsed%.0fs elapsed exceeds the hard cap — no " +
            "re-fork; listed in the artifact's \"suspect\" field: " +
            suspects.mkString(", "))
        }
      }
    }
    if (!forked) {
      // fallback: old single-JVM protocol (degradation risk, but correct)
      best.clear(); passTimes.clear(); passWarm.clear(); passJobs.clear()
      canaries.clear(); errors.clear()
      for (pass <- 1 to passes) {
        val times = scala.collection.mutable.LinkedHashMap.empty[String, Double]
        val warms = scala.collection.mutable.LinkedHashMap.empty[String, Double]
        val jobs = scala.collection.mutable.LinkedHashMap.empty[String, Long]
        val canary = runPass(sfDir, cpus, pass, times, warms, jobs, errors)
        record(times.toMap, warms.toMap, jobs.toMap, canary, Map.empty)
      }
      errors.keys.foreach(k => best(k) = -1d) // runPass fills errors directly
      GraftSession.builder(cpus).getOrCreate().stop()
    }
    val (json, compact) = renderJson(names, best, passTimes, passWarm, passJobs,
      canaries.toSeq, errors, passes, sfDir, suspects)
    if (json.contains("\"tainted\":true"))
      System.err.println("[bench] WARNING: canary drift exceeds the noise " +
        "threshold — ambient contention during this run; numbers are " +
        "marked tainted, rerun in a quiet window before comparing rounds")
    // The COMPLETE record goes to a FILE plus stderr: a byte-bounded
    // stdout capture once truncated a round's artifact mid-value (no
    // total recoverable). stdout carries ONLY the compact official line
    // — same headline numbers, sized to survive that capture whole.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes("UTF-8"))
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}") }
    System.err.println(json)
    println(compact)
  }
}
