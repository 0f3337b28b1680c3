package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.functions.{cosine, l2sq}
import graft.operators.TextAnalysis.hash32

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k. The corpus side is the big
  *    relation; the query side is broadcast, so the plan is a single
  *    broadcast nested-loop over corpus partitions followed by a per-query
  *    top-k — linear in |corpus|, no shuffle of the corpus. This is the
  *    correctness baseline.
  *  - [[lshTopK]]: random-hyperplane LSH. Hyperplane signs are derived
  *    deterministically from md5 (plane p, dimension d), so bucketing is
  *    reproducible across engines/runs. Candidates = same sign-bucket,
  *    then exact cosine rerank. At 100 TB the bucket join replaces the
  *    linear scan with an equi-join whose right side is bucket-partitioned.
  */
object Similarity {

  /** Deterministic pseudo-random hyperplane sign for (plane, dim):
    * +1 / -1 from the low bit of a 32-bit md5 hash. */
  private def planeSign(p: Int, d: Column): Column =
    when(hash32(concat(lit(s"$p,"), d.cast("string"))) % 2 === 0, 1.0).otherwise(-1.0)

  /** Sign-bit bucket of a vector under `planes` deterministic hyperplanes:
    * bit p = (sum_d sign(p,d) * v[d]) >= 0. Returns a long bucket id.
    * Dispatches to the native [[graft.expressions.SignBucket]] (cached
    * sign matrix, fused loop); bit-identical to [[signBucketHof]]. */
  def signBucket(vec: Column, planes: Int): Column =
    call_function("graft_signbucket", vec, lit(planes))

  /** Reference higher-order-function formulation of [[signBucket]] — kept
    * for cross-checking the native expression. */
  def signBucketHof(vec: Column, planes: Int): Column = {
    val bits = (0 until planes).map { p =>
      val dot = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, i) => x.cast(DoubleType) * planeSign(p, i)),
        lit(0.0), (acc, x) => acc + x)
      when(dot >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Exact top-k neighbors by cosine for each query row.
    * Ranking uses the 6-decimal-rounded cosine (ties broken by neighbor
    * id) so results are stable across engines and partitionings. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    // spread the streamed corpus across all cores — a small parquet file
    // arrives as ONE split and would otherwise serialize the whole
    // nested-loop scan onto a single task
    val c = Spread.scan(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")))
    val scored = c.join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(cosine(col("qv"), col("cv")), 6))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos", "rank")
  }

  /** Per-label centroid components: element-wise decimal-exact mean of
    * the embedding column, one output row per (label, dim). posexplode +
    * groupBy — the shuffle is (n_vectors × dims) rows of (long, double),
    * fully parallel and skew-free; re-assembly into arrays (when needed)
    * is an array_agg over dims per label. */
  def centroidComponents(df: DataFrame, labelCol: String, vecCol: String): DataFrame =
    df.select(col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy("label", "dim")
      // micro-unit quantized mean: round(x*1e6) summed as exact longs,
      // the MEAN rounded back to integer micro-units BEFORE the single
      // /1e6 — order- and engine-independent at every step. (The earlier
      // round(mean_double, 6) form was latently fragile: a 6-dp target
      // is not exactly representable, and Spark rounds the decimal
      // string where DuckDB scales the float — divergent at sf0.1.
      // round(x, 0) targets an integer, which IS exact on both.)
      .agg((round(sum(round(col("x").cast(DoubleType) * 1e6, 0).cast("long"))
          .cast(DoubleType) / count(lit(1)), 0).cast("long")
          .cast(DoubleType) / lit(1e6)).as("centroid"),
        count(lit(1)).as("n_vecs"))

  /** L2 norm (double) of a float-vector column — the same sequential
    * left-fold in double as [[graft.functions.cosineHof]], so it is
    * bit-mirrorable as `sqrt(list_reduce(list_transform(...)))` (sqrt is
    * IEEE-correctly-rounded, unlike ln/pow — safe cross-engine). */
  def l2Norm(v: Column): Column =
    sqrt(aggregate(v, lit(0.0),
      (acc, x) => acc + x.cast(DoubleType) * x.cast(DoubleType)))

  /** Unit-normalize an embedding column — the preprocessing step in
    * front of every cosine/IVF/PQ stage (unnormalized vectors quietly
    * skew cosine thresholds and PQ micro-unit budgets). Pure scan-level
    * expression; the all-zero vector passes through unchanged rather
    * than dividing by zero. */
  def l2Normalize(v: Column): Column =
    graft.functions.bound(l2Norm(v)) { n =>
      when(n === 0.0, v)
        .otherwise(transform(v, x => (x.cast(DoubleType) / n).cast("float")))
    }

  /** Matryoshka-style truncation: keep the first `dim` components and
    * renormalize — the storage/accuracy dial of MRL-trained embeddings
    * (a 64-d corpus probe from the same vectors that serve 8-d coarse
    * routing). Scan-level; composes with every ANN operator here. */
  def truncateRenormalize(v: Column, dim: Int): Column = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    l2Normalize(slice(v, 1, dim))
  }

  /** Per-group mean-pooled embedding — chunk→document pooling (average
    * the chunk embeddings back into one document vector): the exact
    * micro-unit per-dimension mean of [[centroidComponents]] (one
    * (group, dim)-keyed exchange, order- and engine-independent),
    * re-assembled into a float array in dimension order. */
  def meanPoolVectors(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    centroidComponents(df, groupCol, vecCol)
      .groupBy("label")
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("centroid")))),
        _.getField("centroid").cast("float")).as("pooled"))

  /** Planes needed to hold expected bucket population near
    * `targetBucketSize` at corpus size `n`: buckets double per plane, so
    * planes = log2(n / target). Bounded to [4, 30] (>= 16 buckets for
    * parallelism; bucket ids stay in an int range). The within-bucket
    * rerank cost is then O(n * target) regardless of scale — the knob
    * that keeps [[lshTopK]] from re-quadratizing at 100x data; recall
    * falls as planes grow, so pair this with multi-probe or a higher
    * target when recall matters more than cost. */
  def planesFor(n: Long, targetBucketSize: Int = 64): Int = {
    val raw = math.ceil(math.log(math.max(1.0, n.toDouble / targetBucketSize)) / math.log(2.0)).toInt
    math.max(4, math.min(30, raw))
  }

  /** [[lshTopK]] with `planes` scaled to the corpus size (one count job;
    * pass an explicit count via [[lshTopK]]+[[planesFor]] to avoid it). */
  def lshTopKAuto(df: DataFrame, idCol: String, vecCol: String, k: Int,
                  targetBucketSize: Int = 64): DataFrame =
    lshTopK(df, idCol, vecCol, k, planesFor(df.count(), targetBucketSize))

  /** IVF (inverted-file) top-k — the classic ANN scale path next to LSH:
    * the corpus is partitioned into `nlist` cells by nearest centroid;
    * each query probes only its `nprobe` nearest cells and reranks
    * exactly within them, scanning ~nprobe/nlist of the corpus.
    *
    * Centroids are `nlist` corpus vectors chosen deterministically (the
    * smallest md5-hash of id — a reproducible uniform sample; classic IVF
    * would k-means-refine them, which changes recall constants, not the
    * plan shape). The plan is Spark-native IVF: centroids broadcast to
    * both assignment joins (corpus -> 1 cell via max-cosine, query ->
    * nprobe cells via top-cosine), then ONE equi-join on cell id and a
    * per-query top-k window. No shuffle touches the corpus until the
    * cell-keyed join, and the cell join's cost is sum(cell × probing
    * queries), not |corpus| × |queries|.
    *
    * With nprobe = nlist every cell is probed, so the result is exactly
    * [[bruteForceTopK]] (the oracle-checked configuration); recall at
    * nprobe < nlist is property-tested against the brute-force baseline.
    */
  /** Deterministic seed centroids + nearest-cell ordering, shared by
    * [[ivfTopK]] and [[Dedup.semDedup]]: the `nlist` corpus vectors
    * with the smallest md5(id) become the centroid table, materialized
    * to the driver (nlist × dim floats — IVF always trains/holds its
    * centroid table up front) and inlined as ONE nested-array
    * `typedlit` (per-float `lit()` nodes would build a nlist × dims
    * expression tree whose codegen compile dwarfs the query). The
    * returned function maps a vector column to its cells ordered
    * nearest-first (argmax cosine, ties toward the smaller cell id) —
    * a pure expression: assignment never shuffles. */
  /** ONE driver-side materialization of the seed table (nlist × dim
    * floats — IVF always holds its centroid table up front). Every
    * consumer — the typedlit expression form, assignCells' local
    * broadcast tables, ivfTopK's probe side — shares one collect: the
    * corpus-wide TakeOrdered behind [[seedCentroids]] is the expensive
    * part, and referencing the uncollected DataFrame from two broadcast
    * joins re-ran it per broadcast (their canonicalized plans differ,
    * so ReuseExchange can't dedupe them). */
  private def collectSeeds(corpus: DataFrame, idCol: String,
                           vecCol: String, nlist: Int): Seq[(Long, Seq[Float])] = {
    // derives from seedCentroids so the md5-ordered seed CONTRACT (the
    // thing the q49/q72 oracles mirror) lives in exactly one place
    val seedRows = seedCentroids(corpus, idCol, vecCol, nlist)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    require(seedRows.nonEmpty, "collectSeeds: empty corpus")
    seedRows.toSeq
  }

  private def seedCentroidLit(seeds: Seq[(Long, Seq[Float])]): Column =
    typedlit(seeds)

  private def cellScores(cellLit: Column, vec: Column): Column =
    transform(cellLit, c =>
      struct((-round(cosine(vec, c.getField("_2")), 6)).as("negCos"),
        c.getField("_1").as("cell")))

  private[operators] def cellsNearestFirst(seeds: Seq[(Long, Seq[Float])]): Column => Column = {
    val cellLit = seedCentroidLit(seeds)
    vec => transform(sort_array(cellScores(cellLit, vec)), _.getField("cell"))
  }

  /** The same deterministic seed-centroid table as a broadcastable
    * DataFrame (cell, centroid) — the join-shaped assignment path used
    * by every per-corpus-row assignment ([[Dedup.semDedup]], and
    * [[ivfTopK]]'s corpus side): scoring in a join projection runs the
    * cosine CODEGEN'd, where the literal-table form pays Spark's
    * interpreted `transform`-lambda evaluation per cell per row
    * (prohibitive past a few dozen cells). The expression form
    * ([[cellsNearestFirst]]) survives only where a bounded batch needs
    * the full nearest-first order: ivfTopK's query probes. */
  /** Corpus → nearest-cell assignment as a HASH-aggregatable argmax.
    *
    * The naive formulation — `min(struct(-cos, cell))` over the
    * corpus × seeds join — is semantically right but physically wrong
    * at scale: a struct aggregation buffer is not UnsafeRow-mutable, so
    * Spark plans a SortAggregate, which materializes and SORTS all
    * n × nlist joined struct rows before the partial min (measured on
    * the tools.Scale annTopK leg: 4.8 GB sorted, ~600 s of pipeline
    * time, for a 128 k × 357 assignment whose cosines cost ~15 s).
    * Packing the same ordering into ONE long —
    *   packed = round(cos, 6)·1e6 · 2²¹ + (2²¹-1 − cellIdx)
    * — makes the argmax a plain `max(long)`: HashAggregate, partial
    * max map-side before the exchange, nothing sorted, nothing wider
    * than 16 bytes per group in flight. Highest packed = highest
    * 6-decimal cosine, ties toward the SMALLEST dense index — and the
    * dense index is assigned in ascending CELL-ID order, so the
    * tie-break is exactly the "smaller cell id" the oracles mirror
    * (md5 order only selects WHICH vectors seed; it does not order
    * the tie-break). Low 21 bits extract with a bitwise AND — packed
    * is negative for negative cosines, a signed `%` would mangle them.
    *
    * Returns (idCol as "__assign_id", "cell") with the ORIGINAL seed
    * ids as cell values — callers and oracles keep the md5-seed
    * contract; the dense index is internal packing only. */
  private[operators] def assignCells(corpus: DataFrame, idCol: String,
                                     vecCol: String, nlist: Int): DataFrame =
    assignCells(corpus, idCol, vecCol,
      collectSeeds(corpus, idCol, vecCol, nlist))

  /** [[assignCells]] over a pre-collected seed table: both broadcast
    * sides are LOCAL relations (zero corpus scans here — the one seed
    * TakeOrdered happened in [[collectSeeds]]; the uncollected-DataFrame
    * form re-ran it once per broadcast projection). */
  private[operators] def assignCells(corpus: DataFrame, idCol: String,
                                     vecCol: String,
                                     seeds: Seq[(Long, Seq[Float])]): DataFrame = {
    val nlist = seeds.size
    require(nlist > 0 && nlist < (1 << 21), s"nlist=$nlist must fit 21 bits")
    val spark = corpus.sparkSession
    import spark.implicits._
    val mask = (1L << 21) - 1
    // dense index in ascending cell-id order (local, driver-sized): the
    // packed tie-break "smaller idx" then means "smaller cell id"
    val seedsIdx = seeds.sortBy(_._1).zipWithIndex
      .map { case ((cell, cen), i) => (i.toLong, cell, cen) }
      .toDF("idx", "cell", "centroid")
    val c6 = round(round(cosine(col("__av"), col("centroid")), 6) * 1e6, 0).cast(LongType)
    Spread.scan(corpus)
      .select(col(idCol).as("__assign_id"), col(vecCol).as("__av"))
      .join(broadcast(seedsIdx.select(col("idx"), col("centroid"))))
      .select(col("__assign_id"),
        (shiftleft(c6, 21) + (lit(mask) - col("idx"))).as("__packed"))
      .groupBy("__assign_id")
      .agg(max(col("__packed")).as("__mp"))
      .select(col("__assign_id"),
        (lit(mask) - (col("__mp").bitwiseAND(mask))).as("idx"))
      .join(broadcast(seedsIdx.select(col("idx"), col("cell"))), Seq("idx"))
      .select("__assign_id", "cell")
  }
  private[operators] def seedCentroids(corpus: DataFrame, idCol: String,
                                       vecCol: String, nlist: Int): DataFrame =
    corpus
      .select(col(idCol).cast("long").as("cell"), col(vecCol).as("centroid"))
      .orderBy(hash32(col("cell").cast("string")), col("cell"))
      .limit(nlist)

  /** Persistable IVF index: the driver-held seed-centroid table plus the
    * corpus -> (cell, vector) assignment — the ANN analog of the
    * persistable MinHash index behind incremental dedup (q68). The
    * n × nlist assignment is the expensive part of IVF and is paid ONCE
    * per corpus here; every probe batch afterwards touches only its
    * nprobe cells. `assigned` is a plain DataFrame (cell, neighbor_id,
    * cv) — cache it for a session, or write it to parquet partitioned by
    * `cell` so probes prune to their cells at the scan; `seeds` is the
    * nlist × dim centroid table every probe needs (persist alongside;
    * a reloaded index is just `IvfIndex(savedSeeds, readBackAssigned)`). */
  case class IvfIndex(seeds: Seq[(Long, Seq[Float])], assigned: DataFrame)

  /** Build the [[IvfIndex]]: one corpus-wide seed TakeOrdered + the
    * join-shaped nearest-cell assignment.
    *
    * Corpus-side assignment is JOIN-shaped (broadcast seed table,
    * cosine codegen'd in the join projection, arrays shed before a
    * partial-then-final min aggregate) — the same path as
    * [[Dedup.semDedup]], and for the same reason: the literal-table
    * `transform` form interprets its lambda per cell per row, and at
    * the sqrt(n) nlist sizing every real corpus uses it inverts the
    * whole point of IVF (measured on the tools.Scale annTopK leg:
    * 64 s vs brute force's 0.8 s at 128 k vectors, nlist = 357).
    * [[assignCells]] keeps cellsNearestFirst's exact contract (argmax
    * 6-decimal cosine, ties toward the smaller cell) as a packed-long
    * HashAggregate. */
  def ivfBuild(corpus: DataFrame, idCol: String, vecCol: String,
               nlist: Int): IvfIndex =
    ivfBuildWith(corpus, idCol, vecCol,
      collectSeeds(corpus, idCol, vecCol, nlist))

  /** [[ivfBuild]] over a caller-supplied centroid table — the hook that
    * turns TRAINED centroids ([[kmeansTrain]]) or a table reloaded from
    * a previous session into a probe-ready index without re-deriving
    * seeds. One seed collect is shared by the assignment join AND every
    * later query-probe expression (the uncollected-DataFrame form re-ran
    * the corpus-wide TakeOrdered once per broadcast projection). */
  def ivfBuildWith(corpus: DataFrame, idCol: String, vecCol: String,
                   seeds: Seq[(Long, Seq[Float])]): IvfIndex = {
    val vecs = Spread.scan(corpus)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val best = assignCells(corpus, idCol, vecCol, seeds)
      .withColumnRenamed("__assign_id", "neighbor_id")
    IvfIndex(seeds, vecs.join(best, Seq("neighbor_id")))
  }

  /** Lloyd's k-means refinement of the deterministic md5 seed table —
    * the TRAINED-centroid path for [[ivfBuildWith]] and
    * [[Dedup.semDedup]], replacing "nlist arbitrary corpus vectors" with
    * centroids that actually sit at cluster means (real corpora cluster
    * hard; trained cells keep populations balanced, which is what keeps
    * IVF probe cost and SemDeDup cell work bounded).
    *
    * Each iteration is (1) nearest-cell assignment via the same
    * packed-long HashAggregate argmax as [[assignCells]] (6-decimal
    * cosine, ties toward the smaller cell id — the q49/q72 oracle
    * contract) and (2) an element-wise micro-quantized EXACT mean per
    * cell ([[centroidComponents]] arithmetic: components scaled to
    * integer micro-units and summed as longs, so the result is
    * order-independent and engine-independent), rounded to 6 decimals
    * and cast back to float. A cell that captures no vectors keeps its
    * previous centroid (count 0) — never dropped, never re-seeded, so
    * the output table always has exactly `nlist` rows and the run is
    * fully deterministic.
    *
    * Scale: per iteration one broadcast-join assignment over the corpus
    * (map-side partial max, one exchange) plus one (n × dim)-row
    * component aggregate; the driver holds only the nlist × dim float
    * table — the same table IVF must hold anyway. Nothing quadratic,
    * no RNG, `iters` is typically 2-10. */
  def kmeansTrain(corpus: DataFrame, idCol: String, vecCol: String,
                  nlist: Int, iters: Int): Seq[(Long, Seq[Float])] =
    kmeansCore(corpus, idCol, vecCol, nlist, iters)._1

  /** [[kmeansTrain]] plus the last iteration's per-cell member counts
    * (0 for a cell that kept its carried-forward centroid). */
  private[operators] def kmeansCore(corpus: DataFrame, idCol: String,
                                    vecCol: String, nlist: Int, iters: Int)
      : (Seq[(Long, Seq[Float])], Map[Long, Long]) = {
    require(iters >= 0, s"iters must be >= 0 (got $iters)")
    var seeds = collectSeeds(corpus, idCol, vecCol, nlist)
    var counts = Map.empty[Long, Long]
    for (_ <- 0 until iters) {
      val assigned = assignCells(corpus, idCol, vecCol, seeds)
      val joined = corpus
        .select(col(idCol).as("__assign_id"), col(vecCol).as("__v"))
        .join(assigned, Seq("__assign_id"))
      // nlist × dim rows — driver-sized by construction (the k-means
      // model IS this table); same justification as collectSeeds
      val comps = centroidComponents(joined, "cell", "__v").collect()
      val byCell = comps.groupBy(_.getLong(0))
      counts = byCell.map { case (c, rows) => c -> rows.head.getLong(3) }
      seeds = seeds.map { case (cell, prev) =>
        byCell.get(cell) match {
          case Some(rows) =>
            (cell, rows.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat).toSeq)
          case None => (cell, prev) // empty cell: carry forward, n=0
        }
      }
    }
    (seeds, seeds.map { case (c, _) => c -> counts.getOrElse(c, 0L) }.toMap)
  }

  /** Query-shaped view of [[kmeansTrain]]: the trained table exploded to
    * (cell, dim, c, n_vecs) rows — c as double (the float centroid
    * widened), n_vecs the last iteration's cell population. Local
    * relation (the model lives on the driver), so downstream joins
    * against it broadcast for free. */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                      nlist: Int, iters: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (seeds, counts) = kmeansCore(corpus, idCol, vecCol, nlist, iters)
    seeds.flatMap { case (cell, cen) =>
      cen.zipWithIndex.map { case (x, d) =>
        (cell, d, x.toDouble, counts(cell))
      }
    }.toDF("cell", "dim", "c", "n_vecs")
  }

  /** Probe a built [[IvfIndex]] with a bounded query batch: each query
    * reranks exactly within its nprobe nearest cells. The query side
    * stays expression-form — a bounded probe batch needs the full
    * nearest-first cell ORDER, and pays nlist lambda evals only per
    * query, not per corpus row. */
  def ivfProbe(index: IvfIndex, queries: DataFrame, idCol: String,
               vecCol: String, k: Int, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cellsOf = cellsNearestFirst(index.seeds)
    // query -> its nprobe nearest cells, exploded to (query, cell) rows
    val probes = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        explode(slice(cellsOf(col(vecCol)), 1, nprobe)).as("cell"))

    // ONE equi-join on cell id (probe side broadcast when small — the
    // common ANN shape: big corpus, bounded query batch)
    val scored = index.assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(cosine(col("qv"), col("cv")), 6))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos", "rank")
  }

  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int, nlist: Int, nprobe: Int): DataFrame =
    ivfProbe(ivfBuild(corpus, idCol, vecCol, nlist),
      queries, idCol, vecCol, k, nprobe)

  /** LSH-bucketed top-k: candidates share the sign bucket, exact rerank
    * within the bucket. Approximate — recall depends on `planes`: a
    * neighbor at angle θ lands in the same bucket with probability
    * (1 - θ/π)^planes. Size `planes` with [[planesFor]] so bucket
    * population (and thus rerank cost per row) stays constant as the
    * corpus grows. */
  // ----------------------------------------------------------------
  // Product quantization (the compression half of IVF-PQ): vectors are
  // split into `m` contiguous subspaces; each subspace gets a `ksub`-
  // centroid codebook; a vector is stored as m small code ids. At 100 TB
  // this is what makes ANN feasible at all — a 64-dim float vector (256
  // bytes) compresses to m bytes (m=4-8), so the searchable index is
  // 30-60x smaller than the corpus, and probe distances are additive
  // lookups (ADC) into a per-query table instead of full-vector math.
  // The quantization metric is L2 (reconstruction error), via the native
  // codegen'd graft_l2sq.
  // ----------------------------------------------------------------

  /** A trained (or seed) PQ codebook: `books(s)(c)` is centroid `c` of
    * subspace `s`, dense code ids 0..ksub-1 assigned in ascending
    * seed-cell-id order (the same md5-seed contract as IVF/k-means —
    * `seedIds` records which corpus rows seeded the books). Driver-held
    * by construction: m × ksub × dsub floats is the model IVF-PQ always
    * keeps resident. */
  case class PqCodebook(dim: Int, m: Int, ksub: Int,
                        seedIds: Seq[Long], books: Seq[Seq[Seq[Float]]]) {
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    require(ksub > 0 && ksub <= 256, s"ksub=$ksub must be in [1, 256]")
    def dsub: Int = dim / m
  }

  /** The codebook as a broadcastable local relation (sub, idx, centroid). */
  private def booksDF(corpus: DataFrame, cb: PqCodebook): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    cb.books.zipWithIndex.flatMap { case (bk, s) =>
      bk.zipWithIndex.map { case (c, i) => (s, i.toLong, c) }
    }.toDF("sub", "idx", "centroid")
  }

  /** (id, sub, subvec) exploded view: each row becomes its m subspace
    * slices — a generator, not a shuffle. */
  private def pqSlices(df: DataFrame, idCol: String, vecCol: String,
                       cb: PqCodebook): DataFrame =
    df.select(col(idCol).as("__pq_id"),
      posexplode(array((0 until cb.m).map(s =>
        slice(col(vecCol), s * cb.dsub + 1, cb.dsub)): _*)).as(Seq("sub", "subvec")))

  /** Rounded micro-unit L2²: one rounding, mirrorable in SQL as
    * `CAST(round(l2 * 1e6, 0) AS BIGINT)` — integer from here on, so
    * every downstream comparison and ADC sum is engine-exact. */
  private def d6(a: Column, b: Column): Column =
    round(l2sq(a, b) * 1e6, 0).cast(LongType)

  /** Nearest-codebook-entry assignment, all subspaces in ONE pass:
    * slices × broadcast codebook, micro-L2² packed with the dense code
    * into one long (same HashAggregate-argmax trick as [[assignCells]],
    * negated for argmin), partial max map-side, one exchange on
    * (id, sub). Ties at equal rounded distance go to the SMALLER code id.
    * Returns (__pq_id, sub, code). */
  private def pqAssign(df: DataFrame, idCol: String, vecCol: String,
                       cb: PqCodebook): DataFrame = {
    val mask = (1L << 21) - 1
    // The packable bound is ENFORCED: shiftleft(-d6, 21) wraps the Long
    // once d6 reaches 2^42 (subspace L2² ~4.4e6 in micro-units —
    // unnormalized feature vectors, not unit embeddings), after which
    // max(__packed) silently picks an arbitrary WRONG code and every
    // downstream ADC distance is wrong with no error. assignCells is
    // safe by construction (cosine ∈ [-1,1]); the L2 path must check.
    val rawD6 = d6(col("subvec"), col("centroid"))
    val checkedD6 = when(rawD6 >= lit(1L << 42),
        raise_error(concat(
          lit("pqAssign: subspace L2^2 exceeds the packable bound " +
            "(micro-units >= 2^42) — normalize or rescale vectors; got "),
          rawD6.cast("string"))).cast(LongType))
      .otherwise(rawD6)
    pqSlices(Spread.scan(df), idCol, vecCol, cb)
      .join(broadcast(booksDF(df, cb).select(col("sub"), col("idx"), col("centroid"))), Seq("sub"))
      .select(col("__pq_id"), col("sub"),
        (shiftleft(-checkedD6, 21) +
          (lit(mask) - col("idx"))).as("__packed"))
      .groupBy("__pq_id", "sub")
      .agg(max(col("__packed")).as("__mp"))
      .select(col("__pq_id"), col("sub"),
        (lit(mask) - (col("__mp").bitwiseAND(mask))).as("code"))
  }

  /** Seed codebook — no training: the `ksub` corpus vectors with the
    * smallest md5(id) (the [[seedCentroids]] contract), each SLICED into
    * its m subspaces. Deterministic and fully SQL-mirrorable; the
    * starting point [[pqTrain]] refines. */
  def pqSeedBooks(corpus: DataFrame, idCol: String, vecCol: String,
                  dim: Int, m: Int, ksub: Int): PqCodebook = {
    val seeds = collectSeeds(corpus, idCol, vecCol, ksub).sortBy(_._1)
    val dsub = dim / m
    PqCodebook(dim, m, ksub, seeds.map(_._1),
      (0 until m).map(s => seeds.map(_._2.slice(s * dsub, s * dsub + dsub))))
  }

  /** Lloyd's refinement of the PQ codebooks — every subspace trains in
    * the same jobs (no per-subspace passes): per iteration ONE
    * assignment over (n × m) slice rows and ONE micro-quantized exact
    * mean per (sub, code, dim) ([[centroidComponents]] arithmetic), so
    * the result is order- and engine-independent. Codes that capture no
    * slices carry their centroid forward — the codebook always has
    * exactly m × ksub entries. Driver holds only the model. */
  def pqTrain(corpus: DataFrame, idCol: String, vecCol: String,
              dim: Int, m: Int, ksub: Int, iters: Int): PqCodebook = {
    require(iters >= 0, s"iters must be >= 0 (got $iters)")
    var cb = pqSeedBooks(corpus, idCol, vecCol, dim, m, ksub)
    for (_ <- 0 until iters) {
      val sl = pqSlices(Spread.scan(corpus), idCol, vecCol, cb)
      val comps = sl
        .join(pqAssign(corpus, idCol, vecCol, cb), Seq("__pq_id", "sub"))
        .select(col("sub"), col("code"), posexplode(col("subvec")).as(Seq("d", "x")))
        .groupBy("sub", "code", "d")
        // q40's micro-unit exact mean (see centroidComponents: integer
        // micro-round before the single /1e6, engine-exact)
        .agg((round(sum(round(col("x").cast(DoubleType) * 1e6, 0).cast("long"))
            .cast(DoubleType) / count(lit(1)), 0).cast("long")
            .cast(DoubleType) / lit(1e6)).as("c"))
        .collect() // m × ksub × dsub rows — the model itself, driver-sized
      val byKey = comps.map(r =>
        (r.getInt(0), r.getLong(1), r.getInt(2)) -> r.getDouble(3).toFloat).toMap
      cb = cb.copy(books = cb.books.zipWithIndex.map { case (bk, s) =>
        bk.zipWithIndex.map { case (prev, c) =>
          prev.indices.map(di =>
            byKey.getOrElse((s, c.toLong, di), prev(di))).toSeq
        }
      })
    }
    cb
  }

  /** PQ-encode the corpus: (id, sub, code) exploded rows — the
    * persistable compressed index (write partitioned however the probe
    * side joins; at m bytes a vector it is the only corpus-sized thing a
    * probe ever touches). */
  def pqCodes(corpus: DataFrame, idCol: String, vecCol: String,
              cb: PqCodebook): DataFrame =
    pqAssign(corpus, idCol, vecCol, cb)
      .select(col("__pq_id").as(idCol), col("sub"), col("code"))

  /** [[pqCodes]] assembled to one row per vector, codes as a tinyint
    * array ordered by subspace — the storage-shaped form (m bytes). */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
               cb: PqCodebook): DataFrame = {
    require(cb.ksub <= 128, "tinyint codes need ksub <= 128")
    pqAssign(corpus, idCol, vecCol, cb)
      .groupBy(col("__pq_id").as(idCol))
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("code")))),
        _.getField("code").cast("byte")).as("codes"))
  }

  /** Asymmetric-distance (ADC) top-k: each query computes its m × ksub
    * micro-L2² lookup table against the codebook (exact, full-precision
    * query side — the "asymmetric" in ADC), then every encoded corpus
    * vector's approximate distance is the SUM of m integer lookups.
    * Plan: LUT = bounded query batch × broadcast codebook; the corpus
    * side joins the broadcast LUT on (sub, code) and aggregates — the
    * full vectors are never read at probe time. `adist6` is the exact
    * integer micro-distance (engine-reproducible); ranking ascends
    * adist6 with ties to the smaller neighbor id. */
  /** Per-query ADC lookup table: (query_id, sub, code, d6) from the
    * query batch × broadcast codebook. ONE definition — [[pqAdcTopK]]
    * and [[ivfPqProbe]] are contract-pinned equal at nprobe = nlist, so
    * the LUT they rank by must be the same expression. */
  private def adcLut(queries: DataFrame, idCol: String, vecCol: String,
                     cb: PqCodebook): DataFrame =
    pqSlices(queries, idCol, vecCol, cb)
      .join(broadcast(booksDF(queries, cb)), Seq("sub"))
      .select(col("__pq_id").as("query_id"), col("sub"),
        col("idx").as("code"), d6(col("subvec"), col("centroid")).as("d6"))

  /** Shared ADC ranking tail: per-(query, neighbor) micro-distance sum,
    * ascending rank with ties to the smaller neighbor id, top-k. */
  private def adcRankTopK(pairs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    pairs
      .groupBy("query_id", "neighbor_id")
      .agg(sum(col("d6")).as("adist6"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("adist6").asc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "adist6", "rank")
  }

  def pqAdcTopK(queries: DataFrame, codes: DataFrame, idCol: String,
                vecCol: String, cb: PqCodebook, k: Int): DataFrame =
    adcRankTopK(
      codes
        .select(col(idCol).as("neighbor_id"), col("sub"), col("code"))
        .join(broadcast(adcLut(queries, idCol, vecCol, cb)), Seq("sub", "code"))
        .filter(col("query_id") =!= col("neighbor_id")),
      k)

  /** The full IVF-PQ index: coarse cells for pruning + PQ codes for
    * compression, CO-LOCATED — `codes` rows are (cell, neighbor_id, sub,
    * code), so a probe restricted to its nprobe cells prunes at the scan
    * (write partitioned by `cell` and partition pruning does it for
    * free) and never shuffles, scans, or even stores full vectors. This
    * is the production ANN shape at 100 TB: ~nprobe/nlist of an index
    * that is itself 30-60× smaller than the corpus. */
  case class IvfPqIndex(seeds: Seq[(Long, Seq[Float])], cb: PqCodebook,
                        codes: DataFrame)

  /** Build the [[IvfPqIndex]]: one coarse cell assignment + one PQ
    * encode over the corpus (both packed-long HashAggregate argmins off
    * broadcast tables), joined on the id — the only corpus-keyed join of
    * the index's lifetime, paid once at build. */
  def ivfPqBuild(corpus: DataFrame, idCol: String, vecCol: String,
                 seeds: Seq[(Long, Seq[Float])], cb: PqCodebook): IvfPqIndex = {
    val cells = assignCells(corpus, idCol, vecCol, seeds)
      .select(col("__assign_id").as("__pq_id"), col("cell"))
    val codes = pqAssign(corpus, idCol, vecCol, cb)
      .join(cells, Seq("__pq_id"))
      .select(col("cell"), col("__pq_id").as("neighbor_id"),
        col("sub"), col("code"))
    IvfPqIndex(seeds, cb, codes)
  }

  /** Append a batch to an existing [[IvfPqIndex]] WITHOUT touching
    * history: only the batch is cell-assigned and PQ-encoded (under the
    * index's FROZEN seeds and codebooks — quantization parameters are
    * immutable once an index is serving, exactly like the MinHash band
    * index and the Bloom history bitset), and its code rows union onto
    * the persisted ones. Because both assignments are per-row argmins
    * against broadcast tables, the appended index is ROW-IDENTICAL to
    * rebuilding over history ∪ batch with the same seeds/codebooks
    * (spec-pinned) — the daily-increment path pays O(batch) encode cost,
    * never a history re-encode. Retrain seeds/codebooks only on drift,
    * then rebuild. */
  def ivfPqAppend(index: IvfPqIndex, batch: DataFrame, idCol: String,
                  vecCol: String): IvfPqIndex =
    index.copy(codes = index.codes.unionByName(
      ivfPqBuild(batch, idCol, vecCol, index.seeds, index.cb).codes))

  /** IVF-PQ probe: each query's candidates are the code rows of its
    * `nprobe` nearest coarse cells (broadcast probe set, cell equi-join);
    * their distances come from the broadcast per-query ADC LUT — m
    * integer lookups per candidate, zero full-vector reads. With
    * nprobe = nlist the cell restriction is a no-op and the result is
    * exactly [[pqAdcTopK]] over the same codebook (the oracle-checked
    * configuration); recall at nprobe < nlist is spec-tested. */
  def ivfPqProbe(index: IvfPqIndex, queries: DataFrame, idCol: String,
                 vecCol: String, k: Int, nprobe: Int): DataFrame = {
    val cellsOf = cellsNearestFirst(index.seeds)
    val probes = queries.select(col(idCol).as("query_id"),
      explode(slice(cellsOf(col(vecCol)), 1, nprobe)).as("cell"))
    adcRankTopK(
      index.codes
        .join(broadcast(probes), Seq("cell"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .join(broadcast(adcLut(queries, idCol, vecCol, index.cb)),
          Seq("query_id", "sub", "code")),
      k)
  }

  /** Exact L2 top-k (brute force) — the recall baseline for the PQ path,
    * same ranking determinism contract as [[bruteForceTopK]] but in the
    * quantization metric. */
  def bruteForceL2TopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                       vecCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = Spread.scan(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")))
    c.join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("dist6", round(l2sq(col("qv"), col("cv")) * 1e6, 0).cast(LongType))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("dist6").asc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "dist6", "rank")
  }

  def lshTopK(df: DataFrame, idCol: String, vecCol: String,
              k: Int, planes: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // spread bucket computation across cores (single-file inputs arrive
    // as one split); the bucket-keyed shuffle below is then reused by
    // both sides of the self-join
    val keyed = Spread.scan(df)
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        signBucket(col(vecCol), planes).as("bkt"))
      .repartition(col("bkt"))
    val a = keyed.select(col("bkt"), col("id").as("query_id"), col("v").as("qv"))
    val b = keyed.select(col("bkt"), col("id").as("neighbor_id"), col("v").as("cv"))
    val scored = a.join(b, Seq("bkt"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(cosine(col("qv"), col("cv")), 6))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos", "rank")
  }

  /** Hard-negative mining for contrastive training (the published
    * DPR/SimCSE recipe): per anchor, the top-`k` corpus rows by cosine
    * WITHIN the band `[loCos, hiCos)` — near enough to be informative,
    * below the near-dup zone so false negatives (paraphrases labeled
    * negative) stay out. Self never matches; ties break on neighbor
    * id. Scale shape = [[bruteForceTopK]]'s (bounded anchor set
    * broadcast against the streamed corpus, rank pruned map-side);
    * for corpus-sized anchor sets swap the candidate leg for the
    * banded-LSH or IVF path — the band filter composes unchanged. */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, idCol: String,
                    vecCol: String, k: Int, loCos: Double,
                    hiCos: Double): DataFrame = {
    require(loCos < hiCos, s"need loCos < hiCos, got [$loCos, $hiCos)")
    import org.apache.spark.sql.expressions.Window
    val q = broadcast(queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = Spread.scan(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")))
    val scored = c.join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(cosine(col("qv"), col("cv")), 6))
      .filter(col("cos") >= loCos && col("cos") < hiCos)
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos", "rank")
  }

  // ---- SQ8 scalar quantization (the OTHER standard ANN codec beside
  //      PQ: FAISS's ScalarQuantizer QT_8bit, re-expressed) -------------

  /** SQ8 training: per-dimension [min, max] over the corpus, returned
    * as ONE row `(mins array<double>, maxs array<double>)` in dim
    * order. The aggregate is dim-bounded (d rows move after map-side
    * partials); the row stays lazy for broadcast composition. */
  def sq8Train(corpus: DataFrame, vecCol: String): DataFrame =
    corpus.select(posexplode(col(vecCol)).as(Seq("d", "x")))
      .groupBy("d")
      .agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))
      .agg(array_sort(collect_list(struct(col("d"), col("mn"), col("mx"))))
        .as("s"))
      .select(transform(col("s"), e => e.getField("mn")).as("mins"),
        transform(col("s"), e => e.getField("mx")).as("maxs"))

  /** The SQ8 code of one vector under a trained `(mins, maxs)` pair:
    * per dim `clamp(floor((x−mn)·256/(mx−mn)), 0, 255)` (a collapsed
    * dim encodes 0). Every step is a correctly-rounded IEEE op over
    * exactly-converted floats, so codes are bit-identical across
    * engines and reruns. */
  def sq8Code(vec: Column, mins: Column, maxs: Column): Column =
    transform(sequence(lit(1), size(vec)), j => {
      val x = element_at(vec, j).cast("double")
      val mn = element_at(mins, j)
      val mx = element_at(maxs, j)
      when(mx === mn, lit(0))
        .otherwise(least(greatest(
          floor((x - mn) * lit(256.0) / (mx - mn)), lit(0L)), lit(255L))
          .cast("int"))
    })

  /** SQ8-encode a corpus under trained stats: `(id, codes array<int>)`.
    * Codes are 4× smaller than the f32 vectors they stand for — the
    * memory/IO dial that keeps a 100 TB embedding store scannable; the
    * encode rides the scan against a broadcast 1-row stats table. */
  def sq8Encode(corpus: DataFrame, idCol: String, vecCol: String,
                stats: DataFrame): DataFrame =
    corpus.crossJoin(broadcast(stats))
      .select(col(idCol).as("id"),
        sq8Code(col(vecCol), col("mins"), col("maxs")).as("codes"))

  /** Brute-force top-k under the SYMMETRIC SQ8 distance (DECLARED
    * contract): both sides quantized with the corpus-trained table,
    * `dist = Σ_d (cq_d − cx_d)²` — pure BIGINT arithmetic, so scores
    * are exact, order-independent, and engine-portable (the asymmetric
    * float variant trades that determinism for ~1 bit of recall). Ties
    * break on neighbor id. Scale shape: training is one dim-bounded
    * exchange; queries broadcast encoded; the corpus scan streams codes
    * (4× less data than [[bruteForceTopK]]'s floats) with per-partition
    * top-k pruning via the rank window; swap the corpus side for an IVF
    * cell restriction ([[ivfProbe]]) to go sublinear. */
  def sq8TopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stats = sq8Train(corpus, vecCol)
    val q = broadcast(sq8Encode(queries, idCol, vecCol, stats)
      .select(col("id").as("query_id"), col("codes").as("qc")))
    val c = sq8Encode(
        Spread.scan(corpus),
        idCol, vecCol, stats)
      .select(col("id").as("neighbor_id"), col("codes").as("cc"))
    val scored = c.join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("dist",
        aggregate(zip_with(col("qc"), col("cc"),
            (a, b) => (a - b).cast("long") * (a - b)),
          lit(0L), (acc, x) => acc + x))
    val w = Window.partitionBy("query_id").orderBy(col("dist"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "dist", "rank")
  }
}
