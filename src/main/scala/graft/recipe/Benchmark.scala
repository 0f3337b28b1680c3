package graft.recipe

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType}

import graft.recipe.ExprCompiler.RatioCall

/** The recipe engine: the reference's fixed pipeline (scan -> rename ->
  * filter-out -> infer -> precomputed -> pack -> unpack -> infer ->
  * filter-in -> validate -> cast values -> expected checks -> group-agg,
  * bearysta doc/AGGREGATOR.md:64-105) re-expressed as lazy DataFrame
  * composition — Catalyst sees each stretch between pins as ONE plan and
  * is free to push filters/prune columns across its stages; only child
  * recipes, the parsed scan, `ratio_of` groups, checked aggregates and
  * schema-dependent decisions materialize.
  *
  * Pins as leaves. Each pinned input enters every later plan as its cache
  * entry, an `InMemoryRelation` leaf ([[pin]]), not as the cached
  * Dataset's lineage. The optimizer stops at the cache either way, so
  * plans, results and stored blocks are the same. What goes is driver
  * work: over lineages, every union, projection, ratio join, eager
  * collect and pin of a parent re-analyzed, and every cache lookup
  * re-canonicalized, the whole DAG below it. A plan over leaves also
  * reads every entry it pinned, where a plan over lineages can miss an
  * entry, recompute the frame inside its own jobs and leave the entry
  * unfilled.
  *
  * Three-level API mirrors the reference seam (aggregate.py:134, 316,
  * 588): [[getRawData]] -> [[getNormalizedData]] -> [[getAggregatedData]].
  *
  * Layout. The eager steps (type inference, `ratio_of` bases, pivot
  * keys) each collect a tiny aggregate. Under adaptive execution (AQE)
  * every such collect runs its shuffle-map stage as a job of its own, and
  * every cached input becomes a query stage: q46's 11-recipe DAG ran
  * about 190 jobs over 0.6 MB of logs. So the first evaluation of a root
  * recipe decides ONE layout for its whole DAG ([[Benchmark.Dag]]): when
  * every recipe in the tree scans as one partition by the scan's own
  * partition rule (`CsvSource.scansAsOnePartition`), the DAG is planned
  * in a clone of the caller's session with AQE off, and its frames are
  * kept in one partition — so every eager probe and the final aggregate
  * plan no exchange (q46: 46 jobs). The caller's session keeps AQE.
  * Larger trees keep the distributed layout: their shuffle-bound steps
  * depend on AQE's partition coalescing, and one partition would
  * serialize the CPU-bound parse of a multi-MB raw recipe.
  */
class Benchmark(val recipe: Recipe, spark: SparkSession,
                sharedChildren: scala.collection.mutable.Map[String, scala.concurrent.Future[(DataFrame, Map[String, Boolean])]] =
                  scala.collection.mutable.Map.empty) {

  // The recipe engine REQUIRES pandas-style case-sensitive resolution:
  // the corpus unions 'Classes' (raw/sklearn) with 'classes' (svm/logreg/
  // df_clsf) as distinct padded columns, and indicator precomputes
  // reference one spelling exactly. Every session GraftSession builds
  // sets it; a session without it would silently merge the two.
  require(spark.conf.get("spark.sql.caseSensitive", "false").toBoolean,
    "the recipe engine needs spark.sql.caseSensitive=true (GraftSession sets " +
      "it): case-insensitive resolution merges columns like Classes/classes")

  /** Warning side-channel (SURVEY §7.4.4): expected-combination fills and
    * ordering violations land here instead of a log scrape. */
  val warnings = scala.collection.mutable.ArrayBuffer.empty[String]

  /** Inference verdicts of this recipe's NORMALIZED output: column ->
    * "had non-numeric cells at its last inference scan" for every column
    * that is still string in the output and was either scanned or is a
    * known literal. Parents use these to prove their own pass-1
    * re-inference is a no-op (see getNormalizedData). Populated by
    * [[getNormalizedData]]. */
  @volatile var stringVerdicts: Map[String, Boolean] = Map.empty

  /** col() with the name backtick-quoted: recipe column names are user
    * data and routinely dotted after rename (e.g. 'df_clsf.fit'), which
    * bare col() would parse as struct access. */
  private def qcol(c: String): Column = col(s"`$c`")

  /** The DAG's layout: decided by this recipe's first evaluation when it
    * is a root, handed down by the parent when it is a child. */
  @volatile private var dag: Benchmark.Dag = _

  private def dagFor(df0: Option[DataFrame], inputs: Option[Seq[String]]): Benchmark.Dag =
    synchronized {
      if (dag == null) dag = new Benchmark.Dag(spark, recipe, df0, inputs)
      dag
    }

  /** Whether this recipe's DAG evaluated in the one-partition layout
    * (false before its first evaluation). */
  private[graft] def onePartition: Boolean = dag != null && dag.single

  /** `df` in the DAG's layout: one partition when the DAG is small. */
  private def laid(df: DataFrame): DataFrame = if (dag.single) df.coalesce(1) else df

  /** Frames this benchmark pinned in the cache (raw file scans, child
    * frames, ratio groups, checked aggregates) as the cached Datasets, not
    * their leaves: `unpersist` finds an entry by its full plan. Released
    * by [[unpersist]]. */
  private val persistedFrames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  private val childBenches = scala.collection.mutable.ArrayBuffer.empty[Benchmark]

  /** Every frame this benchmark and its child benchmarks pinned. */
  private[graft] def pinnedFrames: Seq[DataFrame] =
    persistedFrames.synchronized(persistedFrames.toList) ++
      childBenches.synchronized(childBenches.toList).flatMap(_.pinnedFrames)

  /** Pins `df` in the cache (MEMORY_AND_DISK, spill-safe at scale) and
    * returns the entry as a leaf frame
    * ([[org.apache.spark.sql.GraftCacheLeaf]]) to build on. */
  private def pin(df: DataFrame): DataFrame = {
    val cached = df.persist()
    persistedFrames.synchronized { persistedFrames += cached }
    org.apache.spark.sql.GraftCacheLeaf(cached)
  }

  /** Child-recipe frames (S7), normalized (NOT aggregated), File column
    * stamped with the child recipe name, pinned — evaluated once even
    * when this benchmark is re-run. Each frame is the child's cache leaf
    * ([[pin]]): this recipe's plans see a child as one `InMemoryRelation`,
    * never the child's own DAG below it.
    *
    * Two DAG-level properties:
    *  - the memo is SHARED across the whole DAG by canonical path:
    *    sibling indicators that list the same raw child (both
    *    arithmetics indicators read both umath raws; daal4py re-reads
    *    the sklearn raws) reuse one evaluation instead of re-scanning
    *    and re-normalizing per parent;
    *  - independent subtrees evaluate CONCURRENTLY: a recipe
    *    normalization issues several small eager driver jobs (type
    *    inference, ratio-base collects, pivot-key probes). In the
    *    one-partition layout each of them is a one-task job, so running
    *    sibling subtrees' jobs in parallel is what spreads the DAG over
    *    the cores; in the distributed layout it collapses wall time the
    *    same way concurrent Spark jobs share a cluster. `blocking`
    *    marks the recursive awaits so the pool grows past nested DAG
    *    levels instead of deadlocking.
    *
    * Every child evaluates in this recipe's DAG layout, session included.
    */
  lazy val childEvals: Seq[(DataFrame, Map[String, Boolean])] = {
    import scala.concurrent.{blocking, Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val d = dagFor(None, None)
    val futures = recipe.input.configs.map { cfgPath =>
      val resolved = Benchmark.resolve(recipe, cfgPath)
      val canonical = new java.io.File(resolved).getCanonicalPath
      sharedChildren.synchronized {
        sharedChildren.getOrElseUpdate(canonical, Future {
          val child = new Benchmark(d.recipe(resolved), d.session, sharedChildren)
          child.dag = d
          childBenches.synchronized { childBenches += child }
          val name = new java.io.File(resolved).getName.replaceAll("\\.[^.]*$", "")
          val f = pin(laid(child.getNormalizedData().withColumn("File", lit(name))))
          // File was just overwritten with a constant literal: its
          // to_numeric outcome is known without a scan. Almost always
          // the basename is non-numeric ('sklearn', 'umath'), but a
          // child named e.g. 2024.yml would stamp a castable "2024" —
          // the verdict must reflect the actual literal THROUGH THE
          // ENGINE'S OWN classifier (graft_numclass), or it diverges on
          // special literals: "inf".toDoubleOption is None while the
          // inference pass (like pandas) accepts inf/nan case-insensitively.
          (f, child.stringVerdicts + ("File" ->
            (graft.expressions.StringNumClass.classify(
              org.apache.spark.unsafe.types.UTF8String.fromString(name))
              == graft.expressions.StringNumClass.NONE)))
        })
      }
    }
    futures.map(f => blocking { Await.result(f, Duration.Inf) })
  }

  lazy val childFrames: Seq[DataFrame] = childEvals.map(_._1)

  /** Release every frame this benchmark (and its children) pinned. Frames
    * returned before stay readable but should not be read again: a leaf
    * of a released entry recomputes its lineage into blocks that no cache
    * entry tracks (freed only when the frame is garbage-collected). */
  def unpersist(): Unit = {
    persistedFrames.foreach(_.unpersist(false))
    persistedFrames.clear()
    childBenches.foreach(_.unpersist())
  }

  /** Raw scan with the parsed FILE portion pinned ([[pin]]):
    * normalization makes several eager passes over it (type inference,
    * ratio-base aggregates, pivot key probes) and the regex-carve + CSV
    * parse is the expensive part of each — the reference materializes
    * every stage outright (eager pandas, aggregate.py:316-585). Later
    * plans read the parse as its cache leaf, so none of them re-analyzes
    * the scan's per-file lineage. Child frames are pinned separately
    * ([[childFrames]]), so nothing is pinned twice. Released by
    * [[unpersist]]. In the one-partition layout the scan, the pinned
    * parse and the union with the children are each one partition, so
    * the first pass fills the pin inside its own job.
    *
    * The pin is conditional on the recipe actually re-reading the scan:
    * the CSV parse is all-string, so the P5 inference pass runs (one
    * eager aggregate over the parse) whenever ANY relevant column
    * exists, and the final aggregation is a second pass — i.e. every
    * computing recipe is multi-pass. Only a degenerate pass-through
    * recipe (no values/axis/filters/reshapes/precomputes) reads the
    * parse exactly once, and then the cache write is pure overhead. */
  def getRawData(inputs: Option[Seq[String]] = None): DataFrame = {
    val d = dagFor(None, inputs)
    val patterns = inputs.getOrElse(recipe.input.paths)
    val fileFrames = CsvSource.scanFiles(d.session, recipe, patterns,
      d.listing(patterns, recipe.baseDir))
    val multiPass = relevantCols.nonEmpty || recipe.precomputed.nonEmpty
    val filePart = if (fileFrames.isEmpty) Nil else {
      val u = laid(unionPandas(fileFrames))
      Seq(if (multiPass) pin(u) else u)
    }
    val all = childFrames ++ filePart
    if (all.isEmpty)
      throw RecipeError("recipe has no inputs (no path matches, no child configs)")
    laid(unionPandas(all))
  }

  /** Union-by-name with pandas-concat dtype parity: a column appearing
    * with DIFFERENT types across inputs becomes object in `pd.concat`
    * (values keep their own types; nothing is re-parsed) — widen to
    * double when every occurrence is numeric (pandas int64+float64 ->
    * float64), else to string. Spark's own union coercion would instead
    * pick the numeric side under ANSI and fail at runtime on values like
    * the svm child's Size '1000x10' meeting the sklearn child's integer
    * Size. Conflicted columns are never recipe group keys in the corpus
    * (they are first()-carried othercols), so stringification does not
    * change any aggregation key space. */
  private[recipe] def unionPandas(frames: Seq[DataFrame]): DataFrame = {
    import org.apache.spark.sql.types.{DataType, NumericType}
    val seen = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.LinkedHashSet[DataType]]
    for (f <- frames; fld <- f.schema.fields)
      seen.getOrElseUpdate(fld.name,
        scala.collection.mutable.LinkedHashSet.empty) += fld.dataType
    val widened: Map[String, DataType] = seen.collect {
      case (c, ts) if ts.size > 1 =>
        c -> (if (ts.forall(_.isInstanceOf[NumericType])) DoubleType: DataType
              else StringType: DataType)
    }.toMap
    val adjusted =
      if (widened.isEmpty) frames
      else frames.map { f =>
        val casts = widened.collect {
          case (c, t) if f.columns.contains(c) && f.schema(c).dataType != t =>
            c -> qcol(c).cast(t)
        }
        if (casts.isEmpty) f else f.withColumns(casts)
      }
    adjusted.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  // ---------------- normalize ----------------

  def getNormalizedData(df0: Option[DataFrame] = None,
                        inputs: Option[Seq[String]] = None): DataFrame = {
    val session = dagFor(df0, inputs).session
    var df = df0.getOrElse(getRawData(inputs))

    // rename (P1) — one projection for the whole rename map
    val renames = recipe.rename.filter { case (from, _) => df.columns.contains(from) }
    if (renames.nonEmpty)
      df = df.withColumnsRenamed(renames.toMap)

    // filter-out (F1) — before inference, like the reference; CSV schema
    // inference already typed per-file columns, so YAML `[2, 3]` matches
    // numeric 2 (typed isin, SURVEY §2.3). Null cells are KEPT: pandas
    // `~df[col].isin(vals)` is True for NaN, while SQL NOT IN is null —
    // without the isNull disjunct, union-by-name rows whose filter column
    // came from another file would be silently dropped.
    df = recipe.filterOut.foldLeft(df) { case (d, (c, vals)) =>
      d.filter(qcol(c).isNull || !qcol(c).isin(vals: _*))
    }

    // type inference pass 1 (P5); its aggregate also reports the
    // post-filter-out row count for the F4 empty-input warning, saving a
    // separate isEmpty job, and per-column non-castable counts reused by
    // the P6 values check below
    var lastInferCount: Option[Long] = None
    var inferBad: Map[String, Long] = Map.empty
    def infer(d: DataFrame): DataFrame = {
      val (typed, n, bad) = inferTypesCounting(d)
      lastInferCount = n.orElse(lastInferCount)
      inferBad ++= bad
      typed
    }

    // Pass 1 is PROVABLY a no-op for a pure child-config union with no
    // filter-out, when every candidate is covered by a child verdict
    // saying "still had non-numeric cells at the child's own last scan":
    // the union contains those very cells (nothing was filtered in
    // between; unionPandas null-padding adds no numeric-parse failures,
    // and a column numeric in every child never reaches the candidate
    // set), so to_numeric would leave every candidate string again. The
    // reference re-runs the scan anyway (eager pandas, aggregate.py:
    // 346-348); skipping it here removes one full-union aggregate job
    // from every indicator/summary level of a recipe DAG.
    val pass1Candidates = df.schema.fields
      .filter(_.dataType == StringType).map(_.name).filter(relevantCols.contains)
    val skipPass1 = df0.isEmpty && inputs.isEmpty &&
      recipe.input.paths.isEmpty && recipe.input.configs.nonEmpty &&
      recipe.filterOut.isEmpty &&
      pass1Candidates.forall(c => childEvals.exists(_._2.getOrElse(c, false)))
    if (skipPass1)
      inferBad ++= pass1Candidates.map(_ -> 1L) // known non-castable
    else
      df = infer(df)

    // precomputed columns (P2/P3/A4/A5, J2/J3)
    for ((colName, exprStr) <- recipe.precomputed) {
      val ast = ExprCompiler.resolveSideInputs(
        ExprCompiler.parse(exprStr), session, recipe.baseDir)
      val ratios = ExprCompiler.ratioCalls(ast)
      var bindings = Map.empty[RatioCall, Column]
      var tempCols = Seq.empty[String]
      for ((rc, i) <- ratios.zipWithIndex) {
        val tmp = s"__ratio_${colName}_$i"
        df = joinRatio(df, rc, tmp)
        bindings += rc -> col(tmp)
        tempCols :+= tmp
      }
      df = df.withColumn(colName, ExprCompiler.compile(ast, bindings))
      df = df.drop(tempCols: _*)
      // the expression overwrote this column: any castability count from
      // an earlier inference pass no longer describes its contents
      inferBad -= colName
      // ...unless it is a bare string literal ('FFT', 'scikit-learn'):
      // its to_numeric outcome is decidable here, which both answers P6
      // without a probe and lets PARENT recipes prove their pass-1 away.
      // Decided by the engine's OWN classifier, not Scala's parser —
      // they disagree on special literals ('inf'/'nan'), same as the
      // childEvals File verdict.
      ast match {
        case ExprCompiler.Lit(s: String) =>
          val castable = graft.expressions.StringNumClass.classify(
            org.apache.spark.unsafe.types.UTF8String.fromString(s)) !=
            graft.expressions.StringNumClass.NONE
          inferBad += colName -> (if (castable) 0L else 1L)
        case _ => ()
      }
    }

    // pack / melt (R1). Column names are backtick-quoted: melted columns
    // are routinely dotted after rename (e.g. 'df_clsf.fit') and col()
    // would parse the dot as struct access.
    for (pc <- recipe.pack) {
      def q(c: String) = col(s"`$c`")
      val ids = df.columns.filterNot(pc.columns.contains)
      val packedNumeric = pc.columns.forall(c =>
        df.schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
      val valueType = if (packedNumeric) "double" else "string"
      val cast = df.withColumns(pc.columns.map(c => c -> q(c).cast(valueType)).toMap)
      // unpivot's Expand reports no partitioning: re-lay it out, or the
      // next aggregate plans an exchange above one partition
      df = laid(cast.unpivot(ids.map(q), pc.columns.map(q).toArray, pc.name, pc.value))
    }

    // unpack / pivot (R2). Null pivot keys become a 'NaN' column (the
    // reference's fillna('NaN') hack); Spark keeps null GROUP keys
    // natively, so only the pivot column needs the fill.
    for (pc <- recipe.unpack) {
      val index = df.columns.filterNot(c => c == pc.name || c == pc.value)
      df = df
        .groupBy(index.map(qcol): _*)
        .pivot(coalesce(col(pc.name).cast(StringType), lit("NaN")))
        .agg(first(col(pc.value), ignoreNulls = true))
    }

    // type inference pass 2 — only reshapes can change column contents
    // (pivoted cells arrive as strings); skipping the no-op pass saves a
    // full-table inference scan per recipe
    if (recipe.pack.nonEmpty || recipe.unpack.nonEmpty)
      df = infer(df)

    // filter-in (F2)
    df = recipe.filterIn.foldLeft(df) { case (d, (c, vals)) =>
      d.filter(qcol(c).isin(vals: _*))
    }

    // required columns
    for (c <- recipe.axis ++ recipe.series ++ recipe.variants)
      if (!df.columns.contains(c))
        throw RecipeError(s"""Column "$c" specified in config but not found""")

    // type inference pass 3 — removing rows (filter-in) can newly make a
    // string column castable; without a filter the pass is a no-op
    if (recipe.filterIn.nonEmpty)
      df = infer(df)

    // F4 empty warning, row count piggybacked on the last inference
    // aggregate (post-filter-in when one ran, else post-filter-out)
    if (recipe.filterIn.nonEmpty || recipe.filterOut.nonEmpty) {
      val empty = lastInferCount.map(_ == 0L).getOrElse(df.isEmpty)
      if (empty)
        warnings += "Filtering on input data has removed all data. Expect empty output."
    }

    // values presence + float64 cast (P6)
    val missing = recipe.values.filterNot(df.columns.contains)
    if (missing.nonEmpty)
      throw RecipeError("Missing values columns: " + missing.mkString(", "))
    for (v <- recipe.values if df.schema(v).dataType == StringType) {
      // a values column the inference saw and left string necessarily
      // had non-castable cells (badDbl == 0 would have promoted it), so
      // the recorded count answers the P6 check with no extra job; only
      // a string column inference never saw (created by a precomputed
      // expression with no later reshape/filter pass) needs the probe
      val bad = inferBad.get(v) match {
        case Some(n) => n > 0
        case None =>
          df.filter(qcol(v).isNotNull && qcol(v).try_cast(DoubleType).isNull)
            .limit(1).count() > 0
      }
      if (bad) throw RecipeError("Found non-numerical data in values columns!")
    }
    if (recipe.values.nonEmpty)
      df = df.withColumns(recipe.values.map(v => v -> qcol(v).cast(DoubleType)).toMap)
    // export inference verdicts for parent recipes (see skipPass1): only
    // columns still string in the output whose last scan (or literal
    // analysis) this run recorded
    stringVerdicts = df.schema.fields.filter(_.dataType == StringType).map(_.name)
      .flatMap(c => inferBad.get(c).map(n => c -> (n > 0L))).toMap
    df
  }

  /** Columns the recipe actually computes with: grouping keys, values,
    * filter columns, pack/unpack columns, and any row['X'] reference in a
    * precomputed expression. Inference on anything else (provenance
    * paths, free-text carry-along columns like l_comment) buys nothing
    * and costs a try_cast+rlike full scan per column — the reference
    * to_numeric's every column, but only these can change behavior. */
  private lazy val relevantCols: Set[String] = {
    val precompRefs = recipe.precomputed.flatMap { case (_, e) =>
      // both row-mode and df-mode references: a df['size'] column copy
      // must carry the INFERRED type, or the copy degrades to string
      "(?:row|df)\\['([^']+)'\\]".r.findAllMatchIn(e).map(_.group(1))
    }
    (recipe.values ++ recipe.axis ++ recipe.series ++ recipe.variants ++
      recipe.filterIn.map(_._1) ++ recipe.filterOut.map(_._1) ++
      recipe.pack.flatMap(p => p.columns :+ p.value) ++
      recipe.unpack.flatMap(p => Seq(p.name, p.value)) ++
      precompRefs).toSet
  }

  /** pandas `to_numeric(errors='ignore')` per string column: promote to
    * long (no nulls, all integral) or double (all castable), else leave.
    * One aggregation job checks every candidate column at once; the same
    * job also returns the total row count (None when no job ran) and the
    * per-column non-castable counts (reused by the P6 values check). */
  private def inferTypesCounting(df: DataFrame): (DataFrame, Option[Long], Map[String, Long]) = {
    val stringCols = df.schema.fields.filter(_.dataType == StringType).map(_.name)
      .filter(relevantCols.contains)
    if (stringCols.isEmpty) return (df, None, Map.empty)
    // one native exception-free classifier per value replaces
    // try_cast(double) + an integral regex, each ~2-6 µs on text values
    // (try_cast pays a caught NumberFormatException per non-numeric cell).
    // The class is computed ONCE per cell in an explicit projection BELOW
    // the aggregate (cls is null iff the cell is null, so all three checks
    // read the projected int) — relying on aggregate-side subexpression
    // elimination to dedupe a per-check classifier call is not a
    // guarantee codegen makes, and the projection also prunes the
    // (persisted) scan to exactly the candidate columns.
    val proj = df.select(stringCols.zipWithIndex.map { case (c, i) =>
      call_function("graft_numclass", qcol(c)).as(s"__cls_$i")
    }.toIndexedSeq: _*)
    val checks = stringCols.zipWithIndex.flatMap { case (c, i) =>
      val cls = col(s"__cls_$i")
      Seq(
        sum(when(cls === lit(3), 1L).otherwise(0L)).as(s"${c}__baddbl"),
        sum(when(cls > lit(1), 1L).otherwise(0L)).as(s"${c}__badlong"),
        sum(when(cls.isNull, 1L).otherwise(0L)).as(s"${c}__nulls"))
    } :+ count(lit(1L)).as("__nrows")
    val row = proj.select(checks.toIndexedSeq: _*).collect()(0)
    val badOf = stringCols.map(c => c -> row.getAs[Long](s"${c}__baddbl")).toMap
    // ONE projection for every promoted column: a per-column withColumn
    // fold re-analyzes a one-projection-deeper plan per column (O(k²)
    // analyzer work per inference pass, paid by every recipe of a DAG)
    val casts = stringCols.flatMap { c =>
      val badDbl = badOf(c)
      val badLong = row.getAs[Long](s"${c}__badlong")
      val nulls = row.getAs[Long](s"${c}__nulls")
      if (badDbl > 0) None
      else if (badLong == 0 && nulls == 0) Some(c -> qcol(c).cast("long"))
      else Some(c -> qcol(c).cast("double"))
    }.toMap
    val typed = if (casts.isEmpty) df else df.withColumns(casts)
    (typed, Some(row.getAs[Long]("__nrows")), badOf)
  }

  private def aggExpr(fn: String, c: Column): Column = fn match {
    case "min" => min(c)
    case "max" => max(c)
    case "mean" => avg(c)
    case "median" => graft.functions.exactMedian(c) // exact, matches pandas/duckdb MEDIAN
    case "sum" => sum(c)
    case "count" => count(c)
    case "first" => first(c, ignoreNulls = true)
    case "last" => last(c, ignoreNulls = true)
    case "std" => stddev_samp(c)
    case "geomean" => exp(avg(log(c))) // aggregate.py:94-99
    case other => throw RecipeError(s"unsupported aggregation '$other'")
  }

  /** ratio_of family (A4/A5): aggregate base and per-series groups by
    * axis+variants, divide, join back per-row on series+axis+variants
    * (J2). The base side is always small (post-aggregation) -> broadcast;
    * in the one-partition layout both sides are one partition and join
    * in place (a broadcast would be an exchange and a job of its own).
    * The grouped frame is pinned as a leaf ([[pin]]), so the base collect
    * and the final join plan over it, not over `df`'s lineage again.
    * Reference: aggregate.py:354-476. */
  private def joinRatio(df: DataFrame, rc: RatioCall, outCol: String): DataFrame = {
    val f = aggExpr(recipe.aggregation, qcol(rc.column).cast(DoubleType))
    val series = recipe.series
    val av = recipe.axis ++ recipe.variants
    if (series.isEmpty) throw RecipeError(s"${rc.func} requires non-empty series")
    val kwMap = rc.seriesKw.toMap
    for (s <- series) if (!kwMap.contains(s))
      throw RecipeError(s"${rc.func} missing series kwarg '$s'")

    val baseCond = series.map(s => qcol(s) === lit(kwMap(s))).reduce(_ && _)
    // ONE full-scan aggregation serves both sides: the base values are
    // exactly the group rows whose series == the ratio kwargs (same rows,
    // same aggregate), so a filter over the cached grouped frame replaces
    // the reference's second aggregation pass. The collect of that filter
    // materializes the cache AND answers the existence check; the
    // collected rows come back as the broadcast base side.
    val grp = pin(df.groupBy((series ++ av).map(qcol): _*).agg(f.as("__grp")))
    val baseSel = grp.filter(baseCond)
      .select(av.map(qcol) :+ col("__grp").as("__base"): _*)
    val baseCollected = baseSel.collect()
    val baseMissing =
      if (av.isEmpty) baseCollected.isEmpty || baseCollected.forall(_.isNullAt(0))
      else baseCollected.isEmpty
    if (baseMissing)
      throw RecipeError(s"Trying to use series value ${series.map(kwMap)} in ratio_of " +
        "operation, but that value/combination doesn't exist in the dataframe!")
    // a local relation reports no partitioning: lay it out too
    val base = laid(dag.session.createDataFrame(
      java.util.Arrays.asList(baseCollected: _*), baseSel.schema))
    val (hint, crossHint) =
      if (dag.single) ("shuffle_hash", "shuffle_replicate_nl") else ("broadcast", "broadcast")
    val joined =
      if (av.isEmpty) grp.crossJoin(base.hint(crossHint))
      else grp.join(base.hint(hint), av)
    val ratio0 = if (rc.invert) col("__base") / col("__grp") else col("__grp") / col("__base")
    val ratio = rc.func match {
      case "ratio_of" | "ratio_of_inv" => ratio0
      case "ratio_diff" | "ratio_diff_inv" => ratio0 - 1
      case "percent_of" | "percent_of_inv" => ratio0 * 100
      case "percent_diff" | "percent_diff_inv" => (ratio0 - 1) * 100
      case other => throw RecipeError(s"unknown ratio function $other")
    }
    val ratios = laid(joined.select((series ++ av).map(qcol) :+ ratio.as(outCol): _*))
    df.join(ratios.hint(hint), series ++ av, "left")
  }

  // ---------------- aggregate ----------------

  def getAggregatedData(df0: Option[DataFrame] = None,
                        inputs: Option[Seq[String]] = None): DataFrame = {
    val session = dagFor(df0, inputs).session
    val df = df0.map(d => getNormalizedData(Some(d))).getOrElse(getNormalizedData(None, inputs))

    val series = recipe.series
    val av = recipe.axis ++ recipe.variants
    val values = recipe.values

    // A1: the core group-aggregate; othercols aggregated with first
    // (pandas 'first' skips nulls). A9: log aggregated-out cardinality.
    // pandas groupby defaults to dropna=True (aggregate.py:727 via
    // groupby_empty) — rows with a null in ANY group key are dropped,
    // e.g. side-input rows (targets.csv) that lack an axis column after
    // union-by-name. Spark groupBy keeps null keys, so filter explicitly.
    // This runs FIRST: the expected checks below (A7/A8) are defined over
    // aggregated values, so they read this one aggregate instead of
    // making their own passes over the normalized data.
    val keys = series ++ recipe.axis ++ recipe.variants
    val othercols = df.columns.filterNot(c => keys.contains(c) || values.contains(c))
    val aggs = values.map(v => aggExpr(recipe.aggregation, qcol(v)).as(v)) ++
      othercols.map(c => first(qcol(c), ignoreNulls = true).as(c))
    var aggregated =
      if (keys.isEmpty) df.groupBy().agg(aggs.head, aggs.tail: _*)
      else df.filter(keys.map(qcol(_).isNotNull).reduce(_ && _))
        .groupBy(keys.map(qcol): _*).agg(aggs.head, aggs.tail: _*)

    // A7 + A8, driver-side from ONE pass over the aggregated frame (small
    // by construction: one row per recipe dimension combo — the reference
    // collects it wholesale for every sink). The pre-aggregation fill of
    // the reference (aggregate.py:619-671) is equivalent post-aggregation:
    // a missing combo has no input rows by definition, so its filled null
    // row aggregates to exactly the null row appended here.
    recipe.expected.foreach { expectedCombos =>
      if (series.nonEmpty) {
        import scala.jdk.CollectionConverters._
        val agg = pin(aggregated)
        aggregated = agg
        val kv = agg.select((av ++ series ++ values).map(qcol): _*).collect()
        // grid of (axis+variants) combos × expected series combos; av
        // combos come from the aggregate, i.e. groups with non-null keys
        // — matching pandas groupby's NaN-key drop (aggregate.py:727)
        val avCombos: Seq[List[Any]] =
          if (av.isEmpty) Seq(Nil)
          else kv.map(r => av.indices.map(r.get(_)).toList).distinct.toSeq
        val present: Set[List[Any]] =
          kv.map(r => (0 until av.size + series.size).map(r.get(_)).toList).toSet
        val missingCombos: Seq[(List[Any], List[Any])] = for {
          avc <- avCombos
          e <- expectedCombos.map(_.toList)
          if !present.contains(avc ++ e)
        } yield (avc, e)
        val neededByGroup: Map[List[Any], Set[List[Any]]] = missingCombos
          .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }

        if (missingCombos.nonEmpty) {
          warnings += s"${missingCombos.length} expected series combination(s) missing; filled with nulls"
          val schema = org.apache.spark.sql.types.StructType(
            (av ++ series).map(c =>
              org.apache.spark.sql.types.StructField(c, agg.schema(c).dataType)))
          val rows = missingCombos
            .map { case (avc, e) => org.apache.spark.sql.Row.fromSeq(avc ++ e) }.asJava
          val missingDf = session.createDataFrame(rows, schema)
          aggregated = agg.unionByName(missingDf, allowMissingColumns = true)
        }

        // A8: expected-ordering check per (axis+variants) group, per value
        // column. Reference sorts ascending=higher-is-better, i.e. slowest
        // first (aggregate.py:674-703), and compares against the config
        // order after removing only the filled-missing (`needed`) combos —
        // a present combo NOT in `expected` stays in actualOrd and warns,
        // like the reference (aggregate.py:691-693).
        for ((grpKey, rows) <- kv.groupBy(r => av.indices.map(r.get(_)).toList);
             v <- values) {
          val vIdx = av.size + series.size + values.indexOf(v)
          val ascending = recipe.higherIsBetter
          val actualAll = rows.toSeq
            .filter(r => !r.isNullAt(vIdx))
            .sortBy(r => r.getAs[Double](vIdx))(
              if (ascending) Ordering[Double] else Ordering[Double].reverse)
            .map(r => series.indices.map(i => r.get(av.size + i)).toList)
          val needed = neededByGroup.getOrElse(grpKey, Set.empty)
          val expectedOrd = expectedCombos.map(_.toList).filterNot(needed.contains)
          val actualOrd = actualAll.filterNot(needed.contains)
          if (actualOrd != expectedOrd)
            warnings += s"Unexpected performance ordering for value $v in group " +
              s"[${grpKey.mkString(",")}] (slowest to fastest): " +
              s"expected $expectedOrd but got $actualOrd"
        }
      }
    }

    // P7: hidden-column drop
    aggregated.drop(aggregated.columns.filter(_.startsWith("_")).toIndexedSeq: _*)
  }
}

object Benchmark {
  /** A child config's path, relative to its parent recipe's directory. */
  private def resolve(parent: Recipe, cfgPath: String): String =
    if (new java.io.File(cfgPath).isAbsolute) cfgPath
    else new java.io.File(parent.baseDir, cfgPath).getPath

  /** What one root evaluation decides once and shares with every recipe
    * of its DAG: whether its frames are laid out in one partition, the
    * session it is planned in, and the recipe loads and glob listings the
    * decision read (the scans reuse them: nothing is loaded or listed
    * twice). `df0` is an outside frame fed to the root, if any. */
  private[recipe] final class Dag(caller: SparkSession, root: Recipe,
                                  df0: Option[DataFrame], inputs: Option[Seq[String]]) {
    private val listings =
      new java.util.concurrent.ConcurrentHashMap[(String, Seq[String]), Seq[(String, Long)]]
    private val recipes = new java.util.concurrent.ConcurrentHashMap[String, Recipe]

    def listing(patterns: Seq[String], baseDir: String): Seq[(String, Long)] =
      listings.computeIfAbsent((baseDir, patterns),
        _ => CsvSource.expandGlobStatuses(caller, patterns, baseDir))

    def recipe(path: String): Recipe =
      recipes.computeIfAbsent(new java.io.File(path).getCanonicalPath, _ => Recipe.load(path))

    /** One partition when no outside frame feeds the root and every
      * recipe of the tree scans as one partition
      * ([[CsvSource.scansAsOnePartition]]) over the files it lists. */
    val single: Boolean = df0.isEmpty && {
      val cores = caller.sparkContext.defaultParallelism.toLong
      val seen = scala.collection.mutable.Set.empty[String]
      def small(r: Recipe, patterns: Seq[String]): Boolean =
        CsvSource.scansAsOnePartition(
          CsvSource.dataFiles(listing(patterns, r.baseDir)).map(_._2).sum, cores) &&
          r.input.configs.forall { c =>
            val path = resolve(r, c)
            !seen.add(new java.io.File(path).getCanonicalPath) || {
              val child = recipe(path)
              small(child, child.input.paths)
            }
          }
      small(root, inputs.getOrElse(root.input.paths))
    }

    /** The caller's session, or in the one-partition layout a clone of
      * it planned without AQE (the caller's own session keeps AQE). The
      * clone also lets a join of one-partition sides stay in place at
      * any size estimate: the planner re-shuffles them above
      * `maxSinglePartitionBytes` (128 MB), and the estimates of the ratio
      * joins multiply past that although the rule above measured the
      * real input in bytes. A scan lists its files on the driver, as the
      * rule above already did: Spark's parallel listing (above 32 paths)
      * costs one job more per evaluation. Clones share the executor's
      * default classloader (artifact isolation is off in
      * [[graft.GraftSession]]), so their tasks reuse the classes earlier
      * evaluations generated. */
    val session: SparkSession = if (!single) caller else {
      val s = org.apache.spark.sql.GraftCloneSession(caller)
      s.conf.set("spark.sql.adaptive.enabled", "false")
      s.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold", Int.MaxValue.toString)
      s.conf.set("spark.sql.maxSinglePartitionBytes", Long.MaxValue.toString)
      s
    }
  }

  def apply(spark: SparkSession, recipePath: String): Benchmark =
    new Benchmark(Recipe.load(recipePath), spark)

  def fromString(spark: SparkSession, yaml: String, baseDir: String = "."): Benchmark =
    new Benchmark(Recipe.loadString(yaml, baseDir), spark)
}
