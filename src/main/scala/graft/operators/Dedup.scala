package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.cosine
import graft.operators.TextAnalysis.{fingerprint, hash60, wordShingles}

/** Deduplication operators for large-scale document corpora: exact
  * (hash-groupBy), MinHash+LSH banding, SimHash, exact n-gram Jaccard,
  * and embedding-cosine near-dup.
  *
  * Scale posture: nothing here materializes an O(n²) cross join. Candidate
  * generation is always an equi-join on a hash key (fingerprint, LSH band,
  * SimHash prefix) so Spark executes it as a shuffled hash join whose cost
  * is bounded by real collision groups; exact verification (Jaccard /
  * cosine) runs only on candidates. All hash primitives are md5-derived
  * and deterministic — identical results on every run and on any cluster
  * layout, and reproducible in ANSI SQL for oracle checks.
  */
object Dedup {

  /** Exact dedup: keep the first row (min of `keepBy`) per key group. */
  def exact(df: DataFrame, keys: Seq[String], keepBy: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(keepBy))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Per-group duplicate stats on the canonical fingerprint: one row per
    * fingerprint with its cardinality and representative id. */
  def fingerprintGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(fingerprint(col(textCol)).as("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("rep_id"))

  /** MinHash signature from a bound shingle array: each shingle is md5-
    * hashed ONCE (the expensive step), then the k independent hash
    * functions are affine transforms (a_j*h + b_j) mod p over the base
    * hash — the standard universal-hashing construction. 32-bit base hash
    * and 31-bit modulus keep every product within 2^63 so the arithmetic
    * is exact (and overflow-free) in any engine. `sh` must be a
    * lambda-bound value (see [[graft.functions.bound]]) or a materialized
    * column, or the shingle computation is re-inlined per seed. */
  def minhashSignatureOf(sh: Column, k: Int): Column =
    call_function("graft_minhash",
      call_function("graft_md5_hash_array", sh, lit(8)), lit(k))

  /** MinHash signature from an ALREADY md5-hashed shingle array. */
  def minhashSignatureOfHashed(hs: Column, k: Int): Column =
    call_function("graft_minhash", hs, lit(k))

  /** MinHash signature straight from text (evaluates shingles once). */
  def minhashSignature(text: Column, k: Int, shingleN: Int = 3): Column =
    graft.functions.bound(wordShingles(text, shingleN))(sh => minhashSignatureOf(sh, k))

  /** LSH band keys from a bound signature: split the k-length signature
    * into `bands` rows-per-band groups; each band key is the md5-hash of
    * the joined slice, tagged with its band index so different bands never
    * collide. */
  def lshBandKeysOf(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      struct(b.as("band"),
        hash60(concat_ws(",",
          transform(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)), _.cast("string"))))
          .as("bkey")))

  /** MinHash-LSH candidate pairs: documents sharing >= 1 band bucket.
    * Returns distinct (id_a, id_b) with id_a < id_b plus the exact
    * shingle-Jaccard for verification. The join is an equi-join on
    * (band, bkey) — the classic LSH bucket join that scales as the sum of
    * bucket sizes squared, not corpus². Shingles and signature are
    * let-bound so the md5 work runs exactly once per document. */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 12, bands: Int = 4, shingleN: Int = 3): DataFrame = {
    // ONE md5 pass inside minhashIndex: the 15-nibble hashed shingle set
    // both feeds the verify-jaccard (long-array intersection is far
    // cheaper than string arrays, and both sides hash identically so the
    // Jaccard value is the same) AND yields the 32-bit minhash base as
    // its top bits — md5 prefixes nest, so hash32(s) == hash60(s) >> 28
    // exactly, matching the oracle's independent H32 formulation. The
    // exploded band rows land on their bucket partitioning so the
    // self-join reads BOTH sides from that one exchange instead of
    // recomputing the hash pipeline twice.
    val sig = minhashIndex(df, idCol, textCol, k, bands, shingleN)
      .repartition(col("bk"))
    val a = sig.select(col("id").as("id_a"), col("sh").as("sh_a"), col("bk"))
    val b = sig.select(col("id").as("id_b"), col("sh").as("sh_b"), col("bk"))
    a.join(b, Seq("bk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccardSorted(col("sh_a"), col("sh_b")).as("jaccard"))
      .distinct()
  }

  /** The persistable MinHash-LSH index of a corpus: one row per
    * (document, band) carrying the hashed shingle set (for exact verify)
    * and the band bucket key (for candidate equi-joins). In production
    * this is written once to parquet partitioned/bucketed by `bk` and
    * appended per increment — [[incrementalMinhashCandidates]] consumes
    * it so a daily batch never re-hashes the historical corpus. */
  def minhashIndex(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 12, bands: Int = 4, shingleN: Int = 3,
                   carry: Seq[String] = Nil): DataFrame = {
    // `carry`: extra columns to ride along unchanged (e.g. an event-time
    // column the streaming near-dup path watermarks on)
    val rowsPerBand = k / bands
    val hashed = Spread.scan(df).select(
      col(idCol).as("id") +: carry.map(col) :+
      array_sort(array_distinct(
        call_function("graft_md5_hash_array", wordShingles(col(textCol), shingleN), lit(15)))).as("sh"): _*)
    val bandsExpr = graft.functions.bound(
      minhashSignatureOfHashed(transform(col("sh"), x => shiftright(x, 28)), k)) { sig =>
        lshBandKeysOf(sig, bands, rowsPerBand)
      }
    hashed.select(col("id") +: carry.map(col) :+ col("sh") :+ explode(bandsExpr).as("bk"): _*)
  }

  /** SemDeDup (semantic dedup over embeddings, the LAION/DataComp
    * curation shape, Abbas et al. 2023 "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication"): cluster
    * vectors to `nlist` centroids, then WITHIN each cell drop every
    * vector dominated by a lower-id cell-mate at cosine >= `threshold`.
    * The clustering bounds the pair space — pairwise cosine runs
    * per-cell (avg n/nlist members), never globally. Size nlist ~
    * sqrt(n) (the FAISS rule): assignment costs n × nlist and
    * within-cell pairs n²/nlist, so sqrt balances both at O(n^1.5) —
    * the true cost profile of centroid SemDeDup (the paper runs its
    * k-means on GPUs). For corpora where n^1.5 is already too much,
    * the constant-per-row semantic near-dup path in this library is
    * the banded sign-LSH ([[embeddingNearDupsBanded]]).
    *
    * Centroid assignment is a broadcast join against the seed table +
    * a packed-long argmax ([[Similarity.assignCells]]) that sheds both
    * vector arrays in the join projection: the n × nlist scores
    * collapse map-side (partial max per vector before any exchange)
    * through a HashAggregate — NOT min(struct), whose non-mutable
    * buffer forces a SortAggregate that sorts all n × nlist score
    * rows — and the cosine runs CODEGEN'd. The literal-table expression
    * form ([[Similarity.cellsNearestFirst]], kept only for ivfTopK's
    * bounded query probes) evaluates per-cell cosines inside a
    * `transform` lambda, which Spark interprets row-at-a-time — at
    * sqrt(n) cells the interpreted loop dominated the whole operator
    * (measured 90 s vs 7 s end-to-end on a 32 k × 1000-cell
    * assignment). After assignment: one (cell, tile)-keyed exchange
    * that BOTH sides of the self-join read (the minhashCandidates
    * pattern), plus the keep-flag join back on id. Cells above
    * `cellCap` members are sub-split so no single task ever owns a hot
    * cell's whole O(cell²) pair space — see the skew-guard comment in
    * the body.
    *
    * Keep rule: pair-dominance by id (dropped iff SOME lower-id
    * cell-mate is within threshold) — deterministic and
    * oracle-expressible. The transitive-closure variant (only KEPT
    * vectors dominate) is [[dedupClusters]]' connected-components
    * semantics; near-dup thresholds make the two nearly identical and
    * the paper itself keeps a random representative per group. */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               threshold: Double, nlist: Int,
               cellCap: Int = 4096): DataFrame = {
    val vecs = semDedupVecs(df, idCol, vecCol)
    semDedupCore(vecs,
      Similarity.assignCells(vecs, "vec_id", "v", nlist), threshold, cellCap)
  }

  /** [[semDedup]] over a caller-supplied centroid table — the TRAINED
    * path ([[Similarity.kmeansTrain]]): trained centroids sit at
    * cluster means, so cell populations stay balanced, which is the
    * structural fix for the hot-cell regime the `cellCap` tiling guard
    * defends against (the guard still applies — training bounds the
    * EXPECTED population, not the worst case). Same assignment
    * contract, same keep rule, same plan shape. */
  def semDedupWith(df: DataFrame, idCol: String, vecCol: String,
                   threshold: Double, seeds: Seq[(Long, Seq[Float])],
                   cellCap: Int = 4096): DataFrame = {
    val vecs = semDedupVecs(df, idCol, vecCol)
    semDedupCore(vecs,
      Similarity.assignCells(vecs, "vec_id", "v", seeds), threshold, cellCap)
  }

  // the input feeds the seed TakeOrdered, the cross-score side, and
  // the assignment rejoin — localCheckpoint (lazy) materializes an
  // uncached upstream pipeline once instead of three times
  private def semDedupVecs(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).cast(LongType).as("vec_id"), col(vecCol).as("v"))
      .localCheckpoint(false)

  // packed-long argmax assignment (HashAggregate, partial max map-side;
  // see Similarity.assignCells for why NOT min(struct): a struct
  // buffer forces SortAggregate, which sorts all n × nlist score rows)
  private def semDedupCore(vecs: DataFrame, assignment: DataFrame,
                           threshold: Double, cellCap: Int): DataFrame = {
    require(cellCap >= 1, s"cellCap must be >= 1 (got $cellCap)")
    // the argmax assignment (the n x nlist scoring aggregate — the
    // operator's dominant stage) feeds THREE consumers: the cellS
    // population aggregate, the pairwise-join rejoin, and the final
    // keep-rule select. Column pruning gives each a different subtree,
    // so nothing is exchange-reused — localCheckpoint (lazy, same
    // idiom as semDedupVecs) materializes the scoring once.
    val best = assignment.withColumnRenamed("__assign_id", "vec_id")
      .localCheckpoint(false)
    // HOT-CELL SKEW GUARD: real corpora cluster hard, and a cell far
    // above the average n/nlist population would put its whole O(cell²)
    // pairwise stage on ONE task (AQE skew splitting cannot split a
    // self-join on the same key). Any cell above `cellCap` members is
    // sub-split into s = ceil(pop/cellCap) groups on a secondary
    // deterministic hash of the id, and the pair space is tiled over
    // unordered group pairs {g1 <= g2}: each row emits its s tile keys
    // {(min(g,j), max(g,j)) : j < s}, both join sides read the SAME
    // (cell,g1,g2)-keyed exchange, and a (a,b) pair meets in exactly one
    // tile — (min(ga,gb), max(ga,gb)) when ga != gb, the diagonal (g,g)
    // tile otherwise (the join filter below rejects the other diagonal
    // collisions). Work per task is bounded by ~(2·cellCap)² regardless
    // of skew; replication is s× for oversized cells and 1× (identical
    // to the unguarded plan) everywhere else. The per-cell populations
    // are an nlist-bounded aggregate over the assignment, broadcast.
    val cellS = best.groupBy("cell")
      .agg(ceil(count(lit(1)).cast(DoubleType) / cellCap).cast("int").as("__s"))
    val assigned = vecs.join(best, Seq("vec_id"))
      .join(broadcast(cellS), Seq("cell"))
    val subGroup = pmod(xxhash64(col("vec_id")), col("__s").cast(LongType)).cast("int")
    val rep = assigned
      .withColumn("__g", subGroup)
      .select(col("cell"), col("__g"), col("vec_id"), col("v"),
        explode(transform(sequence(lit(0), col("__s") - 1),
          j => struct(least(col("__g"), j).as("g1"),
            greatest(col("__g"), j).as("g2")))).as("__k"))
      .select(col("cell"), col("__k.g1").as("g1"), col("__k.g2").as("g2"),
        col("__g"), col("vec_id"), col("v"))
      .repartition(col("cell"), col("g1"), col("g2"))
    val dropped = rep.select(col("cell"), col("g1"), col("g2"),
        col("__g").as("__gb"), col("vec_id").as("id_b"), col("v").as("vb"))
      .join(rep.select(col("cell"), col("g1"), col("g2"),
          col("__g").as("__ga"), col("vec_id").as("id_a"), col("v").as("va")),
        Seq("cell", "g1", "g2"))
      // same-group pairs share ALL their tile keys: count them only on
      // the diagonal tile (g1 == g2 == their group). Mixed-group pairs
      // meet exactly once by construction. Referencing both sides keeps
      // this in the join, so neither exchange branch diverges.
      .filter((col("__ga") =!= col("__gb")) ||
        (col("g1") === col("__ga") && col("g2") === col("__ga")))
      .filter(col("id_a") < col("id_b") &&
        round(cosine(col("va"), col("vb")), 6) >= threshold)
      .select(col("id_b").as("vec_id")).distinct()
    assigned.select("vec_id", "cell")
      .join(dropped.withColumn("__dropped", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("__dropped").isNull.as("keep"))
  }

  /** Benchmark-contamination detection (training-data decontamination):
    * corpus docs sharing >= `minOverlap` DISTINCT n-gram shingle hashes
    * with the benchmark/eval set, with the overlap count. The benchmark
    * side (an eval suite — thousands of docs, vs a 100 TB corpus) is
    * reduced to its distinct shingle-hash set and BROADCAST, so the
    * join is map-side at the corpus scan: the only shuffle is the
    * per-doc overlap count. Same md5 shingle hashing as the minhash
    * index — one hash family across the whole dedup surface. (At
    * extreme benchmark sizes a Bloom filter over the same hashes is
    * the drop-in lossy variant; the exact broadcast set is preferred
    * while it fits, since false positives here delete training data.) */
  def contamination(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String,
                    shingleN: Int = 3, minOverlap: Long = 5L): DataFrame = {
    def hs(c: Column) = array_distinct(
      call_function("graft_md5_hash_array", wordShingles(c, shingleN), lit(15)))
    val bench = benchmark.select(explode(hs(col(textCol))).as("h")).distinct()
    corpus.select(col(idCol).as("doc_id"), explode(hs(col(textCol))).as("h"))
      .join(broadcast(bench), Seq("h"))
      .groupBy("doc_id").agg(count(lit(1)).as("overlap"))
      .filter(col("overlap") >= minOverlap)
  }

  /** Cross-corpus boilerplate line removal (the CCNet-style pass that
    * strips repeated footers/headers/nav text before dedup): a line that
    * occurs in at least `minDocs` DISTINCT documents is boilerplate, and
    * every occurrence of it is removed from every document. Blank lines
    * (whitespace-only) are never counted or removed — they are document
    * structure, not repeated content.
    *
    * Returns one row per input document: `(id, n_lines, n_removed,
    * clean_md5)` where `clean_md5` hashes the document rebuilt from its
    * surviving lines in original order (md5 of the empty string when
    * every line was boilerplate — the doc row is kept so the caller can
    * count fully-boilerplate docs).
    *
    * Scale posture: boilerplate is by definition high-frequency, so the
    * frequent-line set is small (bounded by total_lines / minDocs) and
    * broadcastable — the flagging join is map-side. Two shuffles total
    * over the exploded line set: the distinct-doc count per line hash,
    * and the per-document reconstruction; both are keyed aggregations
    * with map-side partials. Line identity is the raw-line [[hash60]]
    * so the join carries an 8-byte key, never the line text. */
  def removeBoilerplate(df: DataFrame, idCol: String, textCol: String,
                        sep: String = "\n", minDocs: Long = 10L): DataFrame = {
    val lines = df.select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("__pos", "__line")))
      .withColumn("__h", hash60(col("__line")))
    val freq = lines.filter(trim(col("__line")) =!= "")
      .groupBy("__h").agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__h"), lit(true).as("__boiler"))
    lines.join(broadcast(freq), Seq("__h"), "left")
      .withColumn("__boiler", coalesce(col("__boiler"), lit(false)))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("__boiler"), 1L).otherwise(0L)).as("n_removed"),
        md5(concat_ws(sep, transform(
          filter(
            array_sort(collect_list(struct(col("__pos"), col("__line"),
              col("__boiler")))),
            x => !x.getField("__boiler")),
          x => x.getField("__line")))).as("clean_md5"))
  }

  /** The [[removeBoilerplate]] frequent-line set on its own — `(h,
    * n_docs)` per boilerplate line hash — for auditing what a given
    * `minDocs` threshold would strip. */
  def frequentLines(df: DataFrame, idCol: String, textCol: String,
                    sep: String = "\n", minDocs: Long = 10L): DataFrame =
    df.select(col(idCol),
        explode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as("__line"))
      .filter(trim(col("__line")) =!= "")
      .groupBy(hash60(col("__line")).as("h"))
      .agg(countDistinct(col(idCol)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)

  /** Incremental near-dup candidates: every pair that TOUCHES the new
    * batch — (new, old) via a probe of the pre-built corpus index, plus
    * (new, new) within the batch. Identical hash construction to
    * [[minhashCandidates]], so the result equals the full-corpus
    * candidate set restricted to new-touching pairs — the production
    * shape where a 100 TB historical corpus is indexed ONCE and each
    * increment only hashes itself (index cost O(batch), join cost
    * bounded by the batch's bucket occupancy, never a corpus re-scan).
    * `corpusIndex` is [[minhashIndex]] output (fresh or read back from
    * its parquet home); parameters must match the index build. */
  def incrementalMinhashCandidates(corpusIndex: DataFrame, batch: DataFrame,
                                   idCol: String, textCol: String,
                                   k: Int = 12, bands: Int = 4,
                                   shingleN: Int = 3): DataFrame = {
    // the batch index feeds BOTH the union side and the probe side of
    // the join below; localCheckpoint (lazy) materializes its md5 +
    // shingle + minhash pipeline once instead of twice per run — the
    // whole point of the incremental shape is that only the batch is
    // hashed, so hashing it twice would double the increment's cost
    val newIdx = minhashIndex(batch, idCol, textCol, k, bands, shingleN)
      .localCheckpoint(false)
    val all = corpusIndex.unionByName(newIdx)
    val probe = newIdx.select(col("bk"), col("id").as("__pid"), col("sh").as("__psh"))
    probe.join(all, Seq("bk"))
      .filter(col("__pid") =!= col("id"))
      .select(
        least(col("__pid"), col("id")).as("id_a"),
        greatest(col("__pid"), col("id")).as("id_b"),
        jaccardSorted(col("__psh"), col("sh")).as("jaccard"))
      .distinct()
  }

  // ---- Bloom-prefiltered exact incremental dedup ------------------------

  /** Serialized Bloom bitset over `keyCol` of `df`: ONE aggregate pass —
    * per-partition partial bitsets OR-merged through a single final
    * reducer — with a driver-sized result of O(numBits/8) bytes that is
    * independent of row count. Persist the bytes next to the corpus to
    * amortize the history scan across daily increments (same posture as
    * [[minhashIndex]] and `Similarity.ivfBuild`). Sizing is a recall/space
    * knob only, never a correctness one: see [[bloomDedup]]. The per-query
    * ceilings are Spark's `spark.sql.optimizer.runtime.bloomFilter.
    * {maxNumItems,maxNumBits}` confs (4M items / 64M bits by default;
    * raise them for billion-key histories — the bitset stays one
    * contiguous binary, so 10⁹ keys at 10 bits/key is ~1.2 GB: at that
    * scale shard the build by key-hash range into P independent bitsets
    * and probe the matching shard). */
  def bloomBuild(df: DataFrame, keyCol: String,
                 expectedItems: Long = 1L << 20,
                 numBits: Long = 1L << 23): Array[Byte] =
    // null on an EMPTY input (the aggregate has nothing to serialize) —
    // the first-ever increment's "no history yet"; bloomDedupWith maps
    // it to keep-everything
    df.select(call_function("graft_bloom_build",
        col(keyCol), lit(expectedItems), lit(numBits)).as("bf"))
      .head().getAs[Array[Byte]](0)

  /** Might-contain probe of a [[bloomBuild]] bitset: `false` means the
    * key is DEFINITELY absent (Bloom filters have no false negatives).
    * A pure scan-level predicate — the bitset rides the plan as a binary
    * literal, so the probe runs inside the scan's codegen stage with no
    * join and no shuffle. */
  def bloomMightContain(bloom: Array[Byte], key: Column): Column =
    call_function("graft_bloom_contains", lit(bloom), key)

  /** Exact incremental dedup of `batch` against `history` on `keyCol`,
    * Bloom-prefiltered so that NEITHER side is ever shuffled:
    *
    *   1. build (or load) the history bitset — one pass, O(bitset) driver
    *      state;
    *   2. probe the batch at the scan: rows whose key might-contains
    *      `false` are definitely new and skip the join entirely;
    *   3. exactly confirm the surviving candidate keys with a broadcast
    *      semi-join against history, then broadcast-anti-join the
    *      confirmed duplicates back onto the batch.
    *
    * Result is row-identical to `batch LEFT ANTI JOIN history` at ANY
    * filter sizing: false positives only widen the exactly-confirmed
    * candidate set (step 3 removes them), and false negatives cannot
    * occur. At 100 TB the plain anti-join shuffles the full history on
    * every increment; here the history is scanned once (filter pushdown +
    * key-column pruning apply), batch and history rows are never
    * shuffled, and the one exchange carries map-side-deduplicated
    * duplicate keys only. */
  def bloomDedup(batch: DataFrame, history: DataFrame, keyCol: String,
                 expectedItems: Long = 1L << 20,
                 numBits: Long = 1L << 23): DataFrame =
    bloomDedupWith(batch, history, keyCol,
      bloomBuild(history, keyCol, expectedItems, numBits))

  /** [[bloomDedup]] against a pre-built (possibly persisted) bitset.
    * A null bitset (empty history — see [[bloomBuild]]) keeps the whole
    * batch: nothing can be a duplicate of nothing.
    *
    * The confirm broadcast is bounded by DISTINCT duplicate keys, not by
    * history occurrences: the semi-join's raw output is one row per
    * matching HISTORY row — history-occurrence-sized in the normal dedup
    * regime, where a boilerplate 40-char prefix is shared by millions of
    * docs — so it is de-duplicated before `broadcast(dupKeys)`. That
    * distinct is the operator's ONE exchange, and its map-side partial
    * aggregate means the wire carries at most (distinct dup keys ×
    * partitions), never history rows: neither batch nor history rows are
    * ever shuffled (plan-pinned in BloomDedupSpec).
    *
    * Size gate (eager, by design — one counting job over the probed
    * batch scan runs before the plan is chosen): when the candidate
    * count exceeds `broadcastMaxKeys` — a mostly-duplicate batch, the
    * recrawl regime, would otherwise blow the broadcast budget / driver
    * memory — the operator falls back to a shuffle anti-join of ONLY the
    * candidate slice against history keys; rows the Bloom probe cleared
    * stay join-free either way. Result is row-identical to
    * `batch LEFT ANTI JOIN history` on both paths. */
  def bloomDedupWith(batch: DataFrame, history: DataFrame, keyCol: String,
                     bloom: Array[Byte],
                     broadcastMaxKeys: Long = 1L << 22): DataFrame = {
    if (bloom == null) return batch
    // null keys never match an anti-join key, so they are definite keeps:
    // route them with the probe==false rows (the probe is null on a null
    // key, which a bare filter would silently drop from BOTH slices)
    val probe = coalesce(bloomMightContain(bloom, col(keyCol)), lit(false))
    val candKeys = batch.filter(probe).select(col(keyCol))
    if (candKeys.count() <= broadcastMaxKeys) {
      // true-dup keys among the candidates, exactly confirmed against
      // history, de-duplicated (map-side partial agg) before broadcast
      val dupKeys = history.select(col(keyCol))
        .join(broadcast(candKeys), Seq(keyCol), "left_semi")
        .distinct()
      batch.join(broadcast(dupKeys), Seq(keyCol), "left_anti")
    } else {
      // fallback: candidates exceed the broadcast budget — shuffle
      // anti-join the candidate slice only; Bloom-cleared rows (and
      // null keys) bypass the join entirely
      val definiteNew = batch.filter(!probe)
      batch.filter(probe)
        .join(history.select(col(keyCol)), Seq(keyCol), "left_anti")
        .unionByName(definiteNew)
    }
  }

  /** Exact Jaccard similarity of two array columns (distinct-element
    * semantics). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast(DoubleType)
    val uni = size(array_union(a, b)).cast(DoubleType)
    round(when(uni === 0, 0.0).otherwise(inter / uni), 6)
  }

  /** Jaccard over sorted distinct long arrays — same value as [[jaccard]],
    * via the native merge-sweep [[graft.expressions.SortedLongJaccard]]. */
  def jaccardSorted(a: Column, b: Column): Column =
    round(call_function("graft_jaccard_sorted", a, b), 6)

  /** SimHash (32-bit): per bit, sum +1/-1 over token-hash bits; bit set if
    * the sum is >= 0. Dispatches to the native one-pass
    * [[graft.expressions.SimHash32]]; the value is identical to the pure
    * shift/mod column formulation (and its ANSI-SQL mirror). */
  def simhash(text: Column): Column =
    call_function("graft_simhash32", TextAnalysis.tokens(text))

  /** 60-bit SimHash ([[graft.expressions.SimHash60]]) — the wide sketch
    * for corpora where the 32-bit space saturates (chance Hamming<=3
    * collisions overtake true near-dups around 10^5 documents; measured
    * by the tools.Scale simhash legs). Same md5-prefix token hash as
    * hash60, so the ANSI-SQL mirror is exact. */
  def simhash60(text: Column): Column =
    call_function("graft_simhash60", TextAnalysis.tokens(text))

  /** Hamming distance between two simhash values. */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast(LongType)

  /** SimHash near-dup pairs via band multi-index (the scale path): the
    * 32-bit simhash is split into `bands` contiguous bit-slices; candidate
    * pairs agree exactly on >= 1 band (equi-join per band), then the full
    * Hamming distance <= maxHamming is verified. Pigeonhole: any pair with
    * Hamming < `bands` is guaranteed caught; beyond that recall decays
    * gracefully (pairs this method targets — true near-dups — sit at
    * Hamming 0-3). Unlike blocking on a data column, the band keys are
    * content-derived, so bucket population tracks content diversity, not a
    * fixed attribute domain; at larger corpus scale, widen the hash (64
    * bit) and bands to keep buckets small. Reference semantics:
    * SimHash per Charikar'02 / Manku et al. WWW'07 multi-index.
    */
  def simhashBandPairs(df: DataFrame, idCol: String, textCol: String,
                       bands: Int = 4, maxHamming: Int = 8,
                       bits: Int = 32): DataFrame = {
    require(bits % bands == 0, s"bands must divide $bits, got $bands")
    simhashTablePairs(df, idCol, textCol, bands, keyBlocks = 1, maxHamming, bits)
  }

  /** SimHash near-dup pairs via Manku-style block-combination tables —
    * the 10^9+-document scale path where [[simhashBandPairs]]' key space
    * (2^(bits/bands)) saturates. The fingerprint is split into `blocks`
    * contiguous bit-blocks; each of the C(blocks, keyBlocks) block
    * combinations becomes one table whose bucket key concatenates the
    * chosen blocks' bits — a key space of 2^(keyBlocks*bits/blocks)
    * (2^30 for 60-bit/6/3 vs 2^10 for the 6-band slice index), so
    * buckets stay near-singleton into the billions of documents.
    *
    * Exactness (pigeonhole): a pair at Hamming distance h <= blocks -
    * keyBlocks touches at most h blocks, so at least blocks - h >=
    * keyBlocks blocks are untouched and SOME combination is drawn
    * entirely from them — the pair collides exactly in that table. With
    * the post-join Hamming verify, the output is therefore IDENTICAL to
    * the all-pairs O(n²) filter, at index cost C(blocks,keyBlocks) * n
    * rows (20n for 6/3) — linear in the corpus, the trade Manku et al.
    * (WWW'07, "Detecting Near-Duplicates for Web Crawling") make for
    * exact Hamming-k retrieval at scale. Tables ride ONE exchange: the
    * exploded (table, key) struct is the shuffle key of a single
    * self-equi-join, never a cartesian.
    */
  def simhashMankuPairs(df: DataFrame, idCol: String, textCol: String,
                        blocks: Int = 6, keyBlocks: Int = 3,
                        maxHamming: Int = 3, bits: Int = 60): DataFrame = {
    require(bits % blocks == 0, s"blocks must divide $bits, got $blocks")
    require(keyBlocks > 0 && keyBlocks < blocks, "need 0 < keyBlocks < blocks")
    require(maxHamming <= blocks - keyBlocks,
      s"exactness needs maxHamming <= blocks - keyBlocks (= ${blocks - keyBlocks})")
    simhashTablePairs(df, idCol, textCol, blocks, keyBlocks, maxHamming, bits)
  }

  /** The one body of both simhash indexes: the `bits`-wide fingerprint
    * splits into `blocks` contiguous bit-blocks, each `keyBlocks`-subset
    * of blocks is one table keyed by those blocks' bits (one table per
    * block at `keyBlocks = 1` — the band index), and pairs that share any
    * (table, key) are verified at Hamming <= `maxHamming`. All tables ride
    * ONE exchange and one self-equi-join, never a cartesian. */
  private def simhashTablePairs(df: DataFrame, idCol: String, textCol: String,
                                blocks: Int, keyBlocks: Int, maxHamming: Int,
                                bits: Int): DataFrame = {
    require(bits == 32 || bits == 60, s"simhash width must be 32 or 60, got $bits")
    val blockBits = bits / blocks
    val mask = (1L << blockBits) - 1
    def keyOf(c: Seq[Int]): Column =
      c.zipWithIndex.map { case (blk, i) =>
        shiftleft(
          shiftright(col("sh"), blk * blockBits).bitwiseAND(lit(mask)),
          i * blockBits)
      }.reduce(_.bitwiseOR(_))
    val tableKeys = array((0 until blocks).combinations(keyBlocks).toSeq.zipWithIndex
      .map { case (c, t) => struct(lit(t).as("tbl"), keyOf(c).as("key")) }: _*)
    val shExpr = if (bits == 60) simhash60(col(textCol)) else simhash(col(textCol))
    val keyed = Spread.scan(df)
      .select(col(idCol).as("id"), shExpr.as("sh"))
      .select(col("id"), col("sh"), explode(tableKeys).as("bk"))
      .repartition(col("bk"))
    val a = keyed.select(col("bk"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = keyed.select(col("bk"), col("id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("bk")).filter(col("id_a") < col("id_b"))
      .withColumn("hamming", hamming(col("sh_a"), col("sh_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
      .distinct()
  }

  /** Sign-LSH band width for a corpus of `n` vectors: the VERDICT-grade
    * knob made self-tuning. Buckets per band number 2^bandBits; holding
    * expected bucket size near 2^5 = 32 as the corpus grows means
    * bandBits ≈ log2(n) - 5, floored at the 8-bit width whose recall
    * the operator's scaladoc quantifies (and which every corpus <= ~8k
    * vectors resolves to — small-SF oracle determinism for free). */
  def lshBandBitsFor(n: Long, targetBucketLog: Int = 5): Int =
    math.max(8, (64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1))) - targetBucketLog)

  /** [[embeddingNearDupsBanded]] with the band width derived from the
    * corpus size via [[lshBandBitsFor]] — callers that know their row
    * count (every curation pipeline does) get scale-correct buckets
    * without hand-tuning; at <= ~8k vectors this is bit-identical to the
    * pinned 4x8 configuration. */
  def embeddingNearDupsAuto(df: DataFrame, idCol: String, vecCol: String,
                            threshold: Double, corpusSize: Long,
                            bands: Int = 4): DataFrame =
    embeddingNearDupsBanded(df, idCol, vecCol, threshold,
      bands = bands, bandBits = lshBandBitsFor(corpusSize))

  /** N-gram Jaccard near-dup above `threshold`, LSH-accelerated (the scale
    * path): MinHash band buckets generate candidates (equi-join, cost =
    * sum of bucket sizes squared), exact shingle-Jaccard verifies. With
    * rows-per-band r = k/bands, a pair at Jaccard J survives a band with
    * probability J^r; at the thresholds this operator is for (>= 0.5),
    * recall across `bands` bands is 1-(1-J^r)^bands ≈ 1 (e.g. J=0.9,
    * r=2, 8 bands: 1 - (1-0.81)^8 > 0.99999). Low-J pairs almost never
    * collide, so the candidate set stays near-linear in corpus size. */
  def ngramJaccardNearDups(df: DataFrame, idCol: String, textCol: String,
                           n: Int = 3, threshold: Double = 0.5,
                           k: Int = 16, bands: Int = 8): DataFrame =
    minhashCandidates(df, idCol, textCol, k = k, bands = bands, shingleN = n)
      .filter(col("jaccard") >= threshold)

  /** SimHash near-dup pairs within a blocking key: pairs with Hamming
    * distance <= maxHamming. Input spread across cores, block-partitioned
    * once so the self-join reuses a single exchange.
    *
    * ⚠ Scale note: only appropriate when `blockCol` cardinality grows with
    * the corpus (e.g. a domain/shard key) — with a fixed-domain block key
    * the within-block pair count grows quadratically. Prefer
    * [[simhashBandPairs]], whose keys derive from content. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   blockCol: String, maxHamming: Int): DataFrame = {
    val d = Spread.scan(df)
      .select(col(blockCol).as("blk"), col(idCol).as("id"),
        simhash(col(textCol)).as("sh"))
      .repartition(col("blk"))
    val a = d.select(col("blk"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = d.select(col("blk"), col("id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("blk")).filter(col("id_a") < col("id_b"))
      .withColumn("hamming", hamming(col("sh_a"), col("sh_b")))
      .filter(col("hamming") <= maxHamming)
      .select(col("blk"), col("id_a"), col("id_b"), col("hamming"))
  }

  /** N-gram Jaccard near-dup pairs within a blocking key (e.g. source):
    * exact Jaccard >= threshold. Blocked equi-join, then verify. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        blockCol: String, n: Int, threshold: Double): DataFrame = {
    val sh = Spread.scan(df)
      .select(col(blockCol).as("blk"), col(idCol).as("id"),
        array_sort(array_distinct(
          call_function("graft_md5_hash_array", wordShingles(col(textCol), n), lit(15)))).as("sh"))
      .repartition(col("blk"))
    val a = sh.select(col("blk"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("blk"), col("id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("jaccard", jaccardSorted(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("blk", "id_a", "id_b", "jaccard")
  }

  /** EXACT set-similarity self-join via the prefix filter (Chaudhuri et
    * al. ICDE'06; the PPJoin family, Xiao et al. WWW'08) — near-dup
    * pairs with word-`n`-gram Jaccard >= `threshold`, with NO blocking
    * key and NO recall loss. Unlike [[minhashCandidates]] (probabilistic
    * recall) or [[ngramJaccardPairs]] (needs a caller-supplied block
    * column), the prefix filter is content-derived and provably
    * complete: order every shingle set by a global total order
    * (document frequency ascending, then hash — rarest first), keep
    * only each set's first `|x| - ceil(t*|x|) + 1` shingles as its
    * PREFIX, and observe that two sets with Jaccard >= t MUST share a
    * prefix shingle (if neither prefix intersects the other set, the
    * overlap is too small for t — the standard pigeonhole argument).
    * Candidates therefore come from an equi-join on prefix shingles
    * only; the symmetric length filter (`t*|x| <= |y| <= |x|/t`,
    * necessary for Jaccard >= t) prunes before the exact
    * [[jaccardSorted]] verify.
    *
    * Scale shape: the inverted index this join builds contains only
    * PREFIX postings — rarest-first ordering makes those the shortest
    * lists in the corpus (a stopword shingle shared by millions of
    * documents lands in essentially nobody's prefix), which is the
    * whole reason this is the VLDB-standard exact similarity join. Two
    * corpus-sized exchanges total: the df aggregate (map-side partial
    * over shingle keys) and the prefix-keyed candidate join; the verify
    * runs on candidate rows only. At 100 TB, threshold picks the cost:
    * t=0.8 keeps ~20% of shingles per doc as prefix; skewed shingles
    * self-resolve (high df => ordered last => never in a prefix).
    *
    * Returns (id_a, id_b, jaccard). No reference counterpart —
    * extension surface for the dedup pillar. */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                         n: Int = 3, threshold: Double = 0.5): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val sets = Spread.scan(df).select(col(idCol).as("id"),
      array_sort(array_distinct(call_function("graft_md5_hash_array",
        TextAnalysis.wordShingles(col(textCol), n), lit(15)))).as("sh"))
      .filter(size(col("sh")) > 0)
    // global df per shingle hash — the total order that makes prefixes
    // rare. Joined back per occurrence (shingle-keyed; never collected).
    val dfreq = sets.select(explode(col("sh")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))
    // rarest-first reassembly: array_sort on (df, tok) structs is a
    // lexicographic struct sort — deterministic, ties on df break by
    // hash value, one definition shared with the SQL mirror
    val ordered = sets
      .select(col("id"), col("sh"), explode(col("sh")).as("tok"))
      .join(dfreq, "tok")
      .groupBy("id")
      .agg(first(col("sh")).as("sh"),
        array_sort(collect_list(struct(col("df"), col("tok")))).as("ord"))
    val prefixLen = (size(col("sh")) -
      ceil(lit(threshold) * size(col("sh"))) + 1).cast("int")
    val pref = ordered
      .select(col("id"), col("sh"),
        explode(slice(transform(col("ord"), s => s("tok")),
          lit(1), prefixLen)).as("tok"))
    val a = pref.select(col("tok"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = pref.select(col("tok"), col("id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("tok"))
      .filter(col("id_a") < col("id_b"))
      .filter(size(col("sh_a")) * lit(threshold) <= size(col("sh_b")) &&
        size(col("sh_b")) * lit(threshold) <= size(col("sh_a")))
      .withColumn("jaccard", jaccardSorted(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
      .distinct()
  }

  /** Embedding-cosine near-dup via banded sign-LSH with Hamming-1
    * multi-probe (the scale path). One `bands*bandBits`-plane sign sketch
    * per vector is sliced into `bands` keys; the probe side additionally
    * emits every 1-bit flip of each key, so a pair is a candidate iff some
    * band's keys differ by <= 1 bit. Exact cosine then verifies
    * `threshold`.
    *
    * Recall/cost trade (per-plane agree prob a = 1 - arccos(cos)/π):
    * P(band candidate) = a^B + B(1-a)a^(B-1) for B=bandBits. Designed for
    * true near-dups (cos >= 0.9: a=.857, 4x8 bands => ~99% recall) where
    * random pairs (a=.5) collide at ~3.5% per band — near-linear
    * candidate volume. At looser thresholds recall decays (cos 0.4-0.5:
    * ~50%, measured 31/59 on the sf0.01 corpus) — no hash method prunes
    * at 63° angles; the exact [[embeddingNearDups]] path remains for
    * broadcast-sized sides. Buckets are content-derived; scale planes
    * with log2(corpus) to hold bucket sizes constant. */
  def embeddingNearDupsBanded(df: DataFrame, idCol: String, vecCol: String,
                              threshold: Double, bands: Int = 4,
                              bandBits: Int = 8): DataFrame = {
    val mask = (1L << bandBits) - 1
    def bandKey(b: Int): Column =
      shiftright(col("sk"), b * bandBits).bitwiseAND(lit(mask))
    val keyed = Spread.scan(df).select(col(idCol).as("id"), col(vecCol).as("v"),
      Similarity.signBucket(col(vecCol), bands * bandBits).as("sk"))
    val exactKeys = array((0 until bands).map(b =>
      struct(lit(b).as("band"), bandKey(b).as("key"))): _*)
    val probeKeys = array((for { b <- 0 until bands; p <- -1 until bandBits } yield
      struct(lit(b).as("band"),
        (if (p < 0) bandKey(b) else bandKey(b).bitwiseXOR(lit(1L << p))).as("key"))): _*)
    val an = keyed.select(col("id").as("id_a"), col("v").as("v_a"), explode(exactKeys).as("bk"))
    val bn = keyed.select(col("id").as("id_b"), col("v").as("v_b"), explode(probeKeys).as("bk"))
    an.join(bn, Seq("bk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", round(cosine(col("v_a"), col("v_b")), 6))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
      .distinct()
  }

  /** Whether a small-star output (every edge `u -> v` has `v < u`) is a
    * star forest: each `u` has one distinct `v`, and no `v` is a `u`. A
    * `u` row carries its parent and a `v` row a null, so a node breaks
    * the shape when its parents' min and max differ or it has both kinds
    * of row. `count()`, not `isEmpty`: `isEmpty` scans partitions in
    * growing steps, so its job count varies. */
  private[operators] def isStarForest(e: DataFrame): Boolean =
    e.select(col("u").as("n"), col("v").as("p"))
      .unionAll(e.select(col("v").as("n"), lit(null).cast(e.schema("v").dataType).as("p")))
      .groupBy("n")
      .agg(min(col("p")).as("lo"), max(col("p")).as("hi"),
        count(col("p")).as("np"), count(lit(1)).as("rows"))
      .filter(col("lo") =!= col("hi") || (col("np") > 0 && col("np") < col("rows")))
      .count() == 0

  /** Connected components over an undirected near-dup edge list — the
    * step that turns pairwise candidates into dedup clusters (every
    * document maps to its cluster's minimum id, the canonical
    * representative to keep).
    *
    * Algorithm: alternating large-star / small-star contraction (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    * the MapReduce-native CC algorithm: O(log² n) rounds worst case,
    * 2–3 rounds on real dedup graphs (near-clique clusters). Each round
    * is two shuffles (a groupBy-min and an equi-join) over the edge set,
    * so it holds at any corpus scale; the edge set itself only shrinks
    * toward one star edge per non-root node.
    * Implemented as joins (min-label per node joined back to the edge
    * list) rather than collect_list so a high-degree hub node never
    * materializes its whole neighborhood in one row. Iteration state is
    * persisted per round and the lineage cut, or 20+ rounds of recursive
    * plans would blow up codegen.
    *
    * Driver finish: when the canonical edge set, at 16 bytes per edge
    * (two longs), is within the session's
    * `spark.sql.autoBroadcastJoinThreshold` (Spark's own bound for a
    * relation small enough to collect to the driver: 10 MiB, or 655,360
    * edges, by default) and the ids are integral, the edges are
    * collected once and contracted by a union-find on the driver
    * ([[componentsOnDriver]]) instead of the rounds, whose jobs over a
    * small state cost more in scheduling than in work (`near_dup_cc`:
    * 36 of 42 jobs per evaluation). The threshold's `-1` turns it off,
    * as it turns off broadcast joins. The decision is made once, at
    * entry: the round state keeps about one edge per non-root node, so
    * it rarely drops under the bound later.
    *
    * Input: (id_a, id_b) pairs, any orientation, duplicates fine.
    * Output: (id, rep) for every id that appears in some edge; rep = min
    * id of its component. Callers left-join and coalesce(rep, id) to
    * cover singleton documents.
    *
    * Stop rule: the loop stops on the first round whose output is a star
    * forest ([[isStarForest]]). That is the fixpoint: every edge points
    * to a smaller id, so each root is its component's minimum, and one
    * more round returns the same edge set. Both conditions are needed:
    * small-star can give a node two parents, its own minimum neighbour
    * and a larger neighbour's (`{(4,1),(4,3),(3,2)}` gives
    * `{(3,1),(4,1),(3,2)}`, where no parent is a child, yet 2 would be
    * its own root). Past `maxIter` rounds the call fails loudly.
    *
    * The persisted entry canon is filled by one `count()`, which also
    * gives the edge count the driver finish is decided on. Round 1 reads
    * the canon several times: unfilled, those reads race to fill it
    * through AQE's table-cache stages, and the jobs per call vary.
    *
    * The entry canon stays even for callers whose pairs are already
    * distinct and oriented (minhashCandidates, dhashNearDups): its
    * exchange doubles as the AQE coalescing point that shrinks the pair
    * set to a handful of real partitions before the persisted iteration
    * state is laid down. Skipping it was measured (round 11, paired A/B,
    * noise 1.0 both sides): q48 0.80×, q172 0.88×, q106 0.96× — every
    * star round then schedules the candidate join's near-empty task
    * layout, which costs more than the "redundant" dedup exchange saves.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    import org.apache.spark.storage.StorageLevel

    def canon(e: DataFrame): DataFrame =
      e.filter(col("u") =!= col("v")).distinct()

    /** large-star: every neighbor v > u links to m = min(Γ(u) ∪ {u}).
      * No per-round distinct here — duplicate edges inflate the next
      * small-star linearly at worst (never multiplicatively: each input
      * edge yields at most one output edge per phase), while the dedup
      * shuffle they'd save costs a full exchange every round. */
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
      sym.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
    }

    /** small-star: directed v < u; all smaller neighbors + u link to the
      * minimum neighbor.
      *
      * No per-round distinct here either (round 12): both star phases
      * are duplicate-tolerant (the groupBy-min absorbs dups; the v≠m
      * filters do the contraction), neither emits self-loops, and the
      * star-forest stop rule reads distinct parents, so duplicate edges
      * cost no extra round, while a dedup would cost a full exchange of
      * the edge multiset EVERY round (guide §2.4: a distinct on data
      * whose consumers don't need uniqueness). The
      * checkpointed state still gets an AQE-coalesced layout from the
      * join's own exchange, so the round-11 entry-canon trap (near-empty
      * task layouts re-scheduled every round) does not apply. */
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val mins = dir.groupBy("u").agg(min(col("v")).as("m"))
      dir.join(mins, "u").filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionAll(mins.select(col("u"), col("m").as("v")))
    }

    var e = canon(pairs.select(col(pairs.columns.head).as("u"),
      col(pairs.columns(1)).as("v")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val edges = e.count()
    val idType = e.select(least(col("u"), col("v"))).schema.head.dataType
    val bound = e.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (edges * 16 <= bound && fromLong.isDefinedAt(idType)) {
      val out = componentsOnDriver(e, edges.toInt, idType)
      e.unpersist()
      return out
    }
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      // LAZY localCheckpoint: the plan is cut to a LogicalRDD immediately
      // (mandatory — persist alone leaves a plan that nests two
      // join+aggregate layers deeper every round, and Catalyst
      // re-analysis/constraint propagation over that recursion goes
      // super-linear fast), but materialization is deferred to the
      // star-forest check below, which reads the state once anyway.
      val next = smallStar(largeStar(e)).localCheckpoint(false)
      converged = isStarForest(next)
      e.unpersist()
      e = next
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(s"connectedComponents did not converge in $maxIter rounds")
    // fixpoint is a star per component: (node -> root) plus the root itself
    e.select(col("u").as("id"), col("v").as("rep"))
      .unionAll(e.select(col("v").as("id"), col("v").as("rep")))
      .distinct()
  }

  /** The integral id types the driver finish handles, each with the
    * conversion of a long back to the type. */
  private val fromLong: PartialFunction[DataType, Long => Any] = {
    case ByteType => _.toByte
    case ShortType => _.toShort
    case IntegerType => _.toInt
    case LongType => x => x
  }

  /** [[connectedComponents]]' output for the `n` canonical edges `(u, v)`
    * of `e`, computed on the driver. One job collects each partition's
    * edges as one packed `Array[Long]`; the ids are relabelled to
    * `0 until m` by sort and binary search, so the union-find runs over
    * `Int` arrays: about 40 bytes of driver memory per edge. Sorted
    * labels keep id order, so joining two roots under the smaller one
    * keeps each component's minimum id as its root. The result is a local
    * frame with the rounds' schema. */
  private def componentsOnDriver(e: DataFrame, n: Int, idType: DataType): DataFrame = {
    import java.util.Arrays
    val packed = e.select(col("u").cast(LongType), col("v").cast(LongType))
      .queryExecution.toRdd
      .mapPartitions { rows =>
        val b = Array.newBuilder[Long]
        rows.foreach { r => b += r.getLong(0); b += r.getLong(1) }
        Iterator.single(b.result())
      }.collect()
    val us = new Array[Long](n)
    val vs = new Array[Long](n)
    var k = 0
    for (p <- packed; i <- p.indices by 2) { us(k) = p(i); vs(k) = p(i + 1); k += 1 }
    val ids = us ++ vs
    Arrays.sort(ids)
    var m = 0
    for (i <- ids.indices if i == 0 || ids(i) != ids(i - 1)) { ids(m) = ids(i); m += 1 }
    def label(id: Long): Int = Arrays.binarySearch(ids, 0, m, id)
    val parent = Array.range(0, m)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    for (i <- 0 until n) {
      val (a, b) = (find(label(us(i))), find(label(vs(i))))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    val box = fromLong(idType)
    val rows = Array.tabulate(m)(i => Row(box(ids(i)), box(ids(find(i)))))
    e.sparkSession.createDataFrame(Arrays.asList(rows: _*),
      StructType(Seq(StructField("id", idType), StructField("rep", idType))))
  }

  /** INCREMENTAL connected components — the daily-ingest contract
    * ([[minhashAppend]] / the q68/q116 incremental family, applied to
    * clustering): fold a batch of NEW pairs into an EXISTING (id, rep)
    * mapping without re-running CC over the full historical pair set.
    *
    * The existing mapping IS a star forest (one edge per non-root node,
    * rep = component min — exactly [[connectedComponents]]' fixpoint
    * shape), so it re-enters the alternating-star loop as edges that are
    * already one contraction from converged: the loop's per-round work
    * tracks `|existing stars| + |newPairs|` — the contracted corpus plus
    * the delta — never the historical pair count, and rounds only chase
    * the chains the NEW pairs introduce. Because reps are component
    * minima, `ccAppend(connectedComponents(a), b)` equals
    * `connectedComponents(a ∪ b)` EXACTLY (min labels are associative
    * across batches) — the rebuild-equivalence q155 pins against the
    * oracle's full-corpus transitive closure.
    *
    * `existing`: 2 columns (id, rep) — [[connectedComponents]] or
    * [[dedupClusters]] output (self rows for singletons are fine; they
    * drop as self-loops and re-emerge only if the delta connects them).
    * `newPairs`: 2 columns (id_a, id_b), any orientation. */
  def ccAppend(existing: DataFrame, newPairs: DataFrame,
               maxIter: Int = 25): DataFrame = {
    val stars = existing.select(col(existing.columns.head).as("u"),
      col(existing.columns(1)).as("v"))
    val delta = newPairs.select(col(newPairs.columns.head).as("u"),
      col(newPairs.columns(1)).as("v"))
    connectedComponents(stars.unionByName(delta), maxIter)
  }

  /** Dedup clustering end-to-end: MinHash-LSH candidates above a Jaccard
    * threshold, contracted to clusters; every document gets its cluster
    * representative (min id) and a keep flag. The full scale pipeline:
    * bucket equi-join candidates -> exact verify -> CC (distributed
    * rounds, or a driver finish on a small edge set). */
  def dedupClusters(df: DataFrame, idCol: String, textCol: String,
                    threshold: Double, k: Int = 12, bands: Int = 4,
                    shingleN: Int = 3): DataFrame = {
    val pairs = minhashCandidates(df, idCol, textCol, k, bands, shingleN)
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b")
    val comps = connectedComponents(pairs)
    df.select(col(idCol).as("id"))
      .join(comps, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("rep"), col("id")).as("rep"))
      .withColumn("keep", col("id") === col("rep"))
  }

  /** Near-dup dedup with a QUALITY keep policy — [[dedupClusters]]
    * keeps the smallest id per cluster; production curation keeps the
    * BEST member (RefinedWeb-style keep-longest, or any quality
    * score): per cluster, the row maximizing `(score, then smallest
    * id)` survives. Returns `(id, rep, score, keep)` for every input
    * row — the drop set is auditable, not silently applied.
    *
    * Scale shape: clustering is the banded-LSH + alternating-star
    * pipeline (never all-pairs); the policy itself adds ONE id-keyed
    * join of the cluster map onto the corpus and ONE rep-partitioned
    * row_number window (bounded by cluster size — the [[Dedup
    * .clusterSizeProfile]] audit is the pre-flight for mega-cluster
    * skew). */
  def keepBestPerCluster(df: DataFrame, idCol: String, textCol: String,
                         score: Column, threshold: Double, k: Int = 12,
                         bands: Int = 4, shingleN: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cl = dedupClusters(df, idCol, textCol, threshold, k, bands, shingleN)
      .select(col("id"), col("rep"))
    val w = Window.partitionBy("rep")
      .orderBy(col("score").desc, col("id").asc)
    df.select(col(idCol).as("id"), score.cast(LongType).as("score"))
      .join(cl, Seq("id"))
      .select(col("id"), col("rep"), col("score"),
        (row_number().over(w) === 1).as("keep"))
  }

  /** Dedup AUDIT report — the cluster-size histogram every dedup run is
    * sanity-checked against before its drop set is trusted ("how many
    * pairs/triples, is there a mega-cluster?"): one row per cluster
    * size with the number of clusters, documents covered, and documents
    * the keep-first rule would drop. A mega-cluster row at the tail is
    * the classic symptom of a too-loose threshold or a boilerplate
    * artifact. Input is [[dedupClusters]] output (or any (id, rep)
    * mapping); two bounded group-by passes — rep-keyed then size-keyed —
    * nothing beyond the cluster table is scanned. */
  def clusterSizeProfile(clusters: DataFrame): DataFrame =
    clusters.groupBy("rep").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"),
        (count(lit(1)) * col("cluster_size")).as("n_docs"),
        (count(lit(1)) * (col("cluster_size") - 1)).as("n_dropped"))
      .select(col("cluster_size"), col("n_clusters"),
        col("n_docs").cast(LongType), col("n_dropped").cast(LongType))

  /** Embedding-cosine near-dup pairs above `threshold` — exact.
    *
    * With `block` set (e.g. [[Similarity.signBucket]]) the pair space is
    * an equi-join on the bucket key — the scale path: cost is the sum of
    * bucket sizes squared. With `block` = None it is an exact full
    * pairwise check via broadcast nested-loop (one side broadcast, the
    * other streamed with full partition parallelism) — never join on a
    * constant key, which collapses to a single shuffle partition. Exact
    * mode is for corpora whose one side fits in a broadcast. */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double, block: Option[Column] = None): DataFrame = {
    val pairs = block match {
      case Some(bcol) =>
        val keyed = df.select(bcol.as("blk"), col(idCol).as("id_a"), col(vecCol).as("v_a"))
        val other = df.select(bcol.as("blk"), col(idCol).as("id_b"), col(vecCol).as("v_b"))
        keyed.join(other, Seq("blk")).drop("blk")
      case None =>
        // repartition the streamed side: a small single-file corpus would
        // otherwise run the whole O(n²) loop in one task
        val a = Spread.scan(
          df.select(col(idCol).as("id_a"), col(vecCol).as("v_a")))
        val b = df.select(col(idCol).as("id_b"), col(vecCol).as("v_b"))
        a.crossJoin(broadcast(b))
    }
    pairs
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", round(cosine(col("v_a"), col("v_b")), 6))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** Exact duplicated-SPAN detection over k-token windows — the primitive
    * behind suffix-array training-data dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499, which removes every span of >= 50 BPE tokens that
    * occurs verbatim more than once in the corpus, keeping one copy).
    * Tokens are space-split; a window is the verbatim text of k
    * consecutive tokens. A window is FLAGGED when its text occurs >= 2
    * times corpus-wide (same doc or another doc) and this occurrence is
    * not the corpus-wide first (min (doc, pos) — the kept copy).
    * Flagged windows merge into maximal spans per document: windows
    * whose k-token coverages touch or overlap (pos gap <= k) fuse, so
    * the output is one row per contiguous duplicated region:
    * (doc_id, span_start, span_end, n_windows), token indices 0-based
    * inclusive.
    *
    * Spark-first plan, no pair space anywhere: windows are built inside
    * one projection (`transform` over the token array, [[hash60]] per
    * window — 16 bytes/row through the shuffle instead of k tokens of
    * text), occurrence counting + first-occurrence selection is ONE
    * hash aggregate on the gram key, flagging is an equi-join back on
    * that same key (co-partitioned with the aggregate), and span
    * fusion is a per-document sort window. Cost is O(total tokens) rows
    * — the same asymptotic bill a suffix array pays, shuffled instead
    * of sorted in one memory.
    *
    * First-occurrence ties are packed as doc*2^32+pos: the doc_id bound
    * 0 <= doc_id < 2^31 is enforced with a scan-level raise_error (an
    * out-of-contract id fails the job instead of keeping the wrong
    * copy); < 2^32 tokens per document needs no guard (a 4 GB+ text
    * would overflow Spark's string limit long before this key).
    *
    * `sampleMod` > 1 is the 100 TB knob: windows are pre-filtered to
    * hash % sampleMod == 0 BEFORE the shuffle — content-defined
    * sampling, so a duplicated window is selected (or not) identically
    * at every occurrence and cross-doc alignment survives (a
    * position-stride sample would miss phase-shifted copies). Detection
    * of a duplicated span of m windows becomes probabilistic — miss
    * probability (1 - 1/sampleMod)^m, negligible for spans much longer
    * than k — and shuffle volume drops by ~sampleMod. Exact when 1
    * (the oracle-checked mode). */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 10, sampleMod: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"window must be >= 1 token (got $k)")
    require(sampleMod >= 1, s"sampleMod must be >= 1 (got $sampleMod)")
    // The doc_id bound is ENFORCED, not just documented: an id outside
    // [0, 2^31) (or one that fails the long cast) silently corrupts the
    // packed min(id*2^32+pos) first-occurrence key — the wrong copy gets
    // kept and removeDuplicateSpans cuts the wrong text. One per-row
    // comparison at the scan; errors instead of wrong spans.
    val rawId = col(idCol).cast(LongType)
    val guardedId = when(rawId.isNull || rawId < 0 || rawId >= lit(2147483648L),
        raise_error(concat(
          lit(s"duplicateSpans: $idCol must be an integer in [0, 2^31) for " +
            "span-key packing, got "),
          coalesce(col(idCol).cast("string"), lit("null")))).cast(LongType))
      .otherwise(rawId)
    val toks = df.select(guardedId.as("id"),
        split(col(textCol), " ").as("t"))
      .filter(size(col("t")) >= k)
    val grams = toks
      .select(col("id"), posexplode(transform(
        sequence(lit(0), size(col("t")) - k),
        i => hash60(concat_ws(" ", slice(col("t"), i + 1, lit(k)))))))
      .select(col("id"), col("pos").cast(LongType).as("pos"), col("col").as("g"))
      .filter(if (sampleMod == 1) lit(true) else pmod(col("g"), lit(sampleMod.toLong)) === 0)
    val occ = grams.groupBy("g").agg(
      count(lit(1)).as("n"),
      min(col("id") * lit(4294967296L) + col("pos")).as("fk"))
    val dup = grams.join(occ, "g")
      .filter(col("n") >= 2 &&
        col("id") * lit(4294967296L) + col("pos") =!= col("fk"))
      .select("id", "pos")
    val byDoc = Window.partitionBy("id").orderBy("pos")
    dup
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(byDoc) > k, 1L).otherwise(0L))
      .withColumn("island", sum("brk").over(byDoc))
      .groupBy(col("id"), col("island"))
      .agg(min("pos").as("span_start"),
        (max("pos") + lit(k.toLong - 1)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("id").as("doc_id"), col("span_start"), col("span_end"),
        col("n_windows"))
  }

  /** Removal companion to [[duplicateSpans]]: every document back, with
    * the tokens covered by its flagged spans CUT — the Lee et al. 2022
    * "remove all but one copy" transform itself, not just the report.
    * Output: (doc_id, clean_text, n_tokens_removed); documents without
    * flagged spans pass through verbatim (clean_text = original text).
    *
    * Plan shape: [[duplicateSpans]]' keyed pipeline, plus ONE left join
    * of the corpus against the per-doc span list (collected to an array
    * per doc — bounded by the doc's own length, never corpus-sized) and
    * a per-row array filter that keeps tokens outside every span. The
    * token cut is scan-side row-local work; no shuffle beyond the span
    * pipeline's own. */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                           k: Int = 10, sampleMod: Int = 1): DataFrame = {
    val spans = duplicateSpans(df, idCol, textCol, k, sampleMod)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    df.select(col(idCol).cast(LongType).as("doc_id"), col(textCol).as("text"))
      .join(spans, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        when(col("spans").isNull, col("text")).otherwise(
          concat_ws(" ", filter(split(col("text"), " "),
            (t, i) => !exists(col("spans"),
              sp => i.cast(LongType) >= sp("span_start") &&
                i.cast(LongType) <= sp("span_end"))))).as("clean_text"),
        coalesce(aggregate(col("spans"), lit(0L),
          (acc, sp) => acc + sp("span_end") - sp("span_start") + 1L), lit(0L))
          .as("n_tokens_removed"))
  }

  /** EXACT duplicated-substring spans via CONTENT-DEFINED chunking —
    * the deterministic scale path beside [[duplicateSpans]] (the Lee et
    * al. "Deduplicating Training Data Makes Language Models Better"
    * ExactSubstr family, re-expressed for a shuffle engine instead of a
    * single-memory suffix array).
    *
    * Anchors are content-defined: token position i (0-based, i >= 1)
    * starts a new chunk when `md5(token) % gap == 0` (the first 8 hex
    * digits as an integer — md5 so the DuckDB oracle computes the
    * IDENTICAL anchors). A repeated substring therefore carries its
    * internal anchors WITH it at any offset in any document, its
    * internal chunks align exactly, and detection is DETERMINISTIC —
    * the contrast with [[duplicateSpans]]' `sampleMod` knob, which buys
    * the same ~1/gap shuffle reduction but mod-samples window hashes,
    * so a span of m windows is MISSED with probability
    * (1-1/sampleMod)^m (ExactSubstrSpec constructs a real corpus where
    * sampleMod=16 provably returns nothing while this operator at
    * gap=16 finds the planted repeat).
    *
    * What is detected: maximal runs of full chunks whose CONTENT (the
    * chunk text itself — grouped on the string, no hash trust anywhere)
    * occurs >= 2 times corpus-wide, first occurrence excluded (the
    * doc*2^32+pos packing, [[duplicateSpans]]' keep rule), filtered to
    * `minTokens`. The un-detected residue of a true repeat is only its
    * partial HEAD/TAIL chunks — less than the local chunk length at
    * each end (expected `gap` tokens) — so size `minTokens` about
    * 2*gap below the repeat length being hunted.
    *
    * Plan shape: chunking is one scan-level projection (token-array
    * lambdas, codegen'd); occurrence counting is ONE hash aggregate on
    * the chunk text; flagging joins back on that same key
    * (co-partitioned); span fusion is a per-doc sort window. Rows
    * through the shuffle: one per CHUNK (~tokens/gap), not one per
    * token — the deterministic answer to sampleMod.
    *
    * Output: (doc_id, span_start, span_end, n_tokens, n_chunks) —
    * token indices 0-based, span_end inclusive. */
  def exactSubstrSpans(df: DataFrame, idCol: String, textCol: String,
                       minTokens: Int = 50, gap: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minTokens >= 1, s"minTokens must be >= 1 (got $minTokens)")
    require(gap >= 2, s"gap must be >= 2 (got $gap)")
    // same id-packing contract (and loud guard) as duplicateSpans
    val rawId = col(idCol).cast(LongType)
    val guardedId = when(rawId.isNull || rawId < 0 || rawId >= lit(2147483648L),
        raise_error(concat(
          lit(s"exactSubstrSpans: $idCol must be an integer in [0, 2^31) " +
            "for span-key packing, got "),
          coalesce(col(idCol).cast("string"), lit("null")))).cast(LongType))
      .otherwise(rawId)
    val toks = df
      .select(guardedId.as("id"),
        expr(s"filter(split($textCol, '\\\\s+'), w -> w <> '')").as("ws"))
      .filter(size(col("ws")) >= 1)
    // boundary list: 0, every content-defined anchor, size — adjacent
    // pairs are the chunks. All inside one projection.
    val anchored = toks.withColumn("bs",
      concat(array(lit(0)),
        expr(s"""filter(sequence(0, size(ws) - 1), i -> i >= 1 AND
             pmod(cast(conv(substr(md5(cast(element_at(ws, i + 1) as binary)),
               1, 8), 16, 10) as bigint), $gap) = 0)"""),
        array(size(col("ws")))))
    val chunks = anchored
      .select(col("id"), col("ws"),
        explode(expr("""transform(sequence(1, size(bs) - 1),
            j -> struct(element_at(bs, j) as s, element_at(bs, j + 1) as e))"""))
          .as("c"))
      .select(col("id"),
        col("c.s").cast(LongType).as("s"), col("c.e").cast(LongType).as("e"),
        expr("array_join(slice(ws, c.s + 1, c.e - c.s), ' ')").as("chunk"))
    val occ = chunks.groupBy("chunk").agg(
      count(lit(1)).as("n"),
      min(col("id") * lit(4294967296L) + col("s")).as("fk"))
    val dup = chunks.join(occ, "chunk")
      .filter(col("n") >= 2 &&
        col("id") * lit(4294967296L) + col("s") =!= col("fk"))
      .select("id", "s", "e")
    val byDoc = Window.partitionBy("id").orderBy("s")
    dup
      .withColumn("brk",
        when(col("s") =!= lag("e", 1).over(byDoc), 1L).otherwise(0L))
      .withColumn("island", sum("brk").over(byDoc))
      .groupBy(col("id"), col("island"))
      .agg(min("s").as("span_start"), (max("e") - 1L).as("span_end"),
        (max("e") - min("s")).as("n_tokens"),
        count(lit(1)).as("n_chunks"))
      .filter(col("n_tokens") >= minTokens)
      .select(col("id").as("doc_id"), col("span_start"), col("span_end"),
        col("n_tokens"), col("n_chunks"))
  }

  /** Removal companion to [[exactSubstrSpans]] — the deterministic
    * path's end-to-end remove story, mirroring
    * [[removeDuplicateSpans]]' shape over [[duplicateSpans]]: every
    * document back with the tokens covered by its flagged
    * content-defined chunk spans CUT, keeping the corpus-wide first
    * occurrence. Output (doc_id, clean_text, n_tokens_removed);
    * documents without flagged spans pass through.
    *
    * Tokenization is exactSubstrSpans' own (`\s+` split, empty tokens
    * dropped), so `clean_text` is the single-space token join —
    * byte-exact for single-spaced text, whitespace-NORMALIZED
    * otherwise; that is the declared contract of the chunking
    * tokenizer, not a lossy surprise (duplicateSpans' remover keeps
    * raw-space fidelity because its tokenizer splits on single
    * spaces).
    *
    * Plan shape: the span pipeline's own keyed work, plus ONE left
    * join of the corpus against the per-doc span list (array-collected
    * per doc — bounded by the doc's own chunk count) and a per-row
    * array filter; the token cut is scan-side row-local work. */
  def removeExactSubstrSpans(df: DataFrame, idCol: String, textCol: String,
                             minTokens: Int = 50, gap: Int = 16): DataFrame = {
    val spans = exactSubstrSpans(df, idCol, textCol, minTokens, gap)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    df.select(col(idCol).cast(LongType).as("doc_id"),
        expr(s"filter(split($textCol, '\\\\s+'), w -> w <> '')").as("ws"))
      .join(spans, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        when(col("spans").isNull, concat_ws(" ", col("ws"))).otherwise(
          concat_ws(" ", filter(col("ws"),
            (t, i) => !exists(col("spans"),
              sp => i.cast(LongType) >= sp("span_start") &&
                i.cast(LongType) <= sp("span_end"))))).as("clean_text"),
        coalesce(aggregate(col("spans"), lit(0L),
          (acc, sp) => acc + sp("span_end") - sp("span_start") + 1L), lit(0L))
          .as("n_tokens_removed"))
  }

  /** Corpus-overlap estimate between two document sets via bottom-k
    * (KMV) shingle sketches — "how much of crawl B is already in crawl
    * A?" / "does the training mix overlap the eval pool?" answered
    * without the corpus×corpus comparison an exact Jaccard pays. Each
    * corpus is reduced to its `sketchK` SMALLEST distinct md5 shingle
    * hashes; the union's bottom-k is a uniform sample of A∪B's shingle
    * space, so `est_jaccard = |{h ∈ bottomK(A∪B) : h ∈ S_A ∩ S_B}| /
    * |bottomK(A∪B)|` (the standard KMV Jaccard estimator, ±1/√k).
    * Returns ONE row `(union_k, n_common, est_jaccard)`; est is exact
    * Jaccard whenever both corpora have ≤ sketchK distinct shingles.
    * Power-of-two `sketchK` keeps n/k binary-exact, so the rounded
    * estimate is bit-stable across engines.
    *
    * Scale shape: per corpus ONE shingle-keyed distinct aggregate
    * (map-side partial combine collapses repeats before the exchange)
    * feeding TakeOrdered(k) — per-partition k then driver merge, never
    * a global sort; everything after is k-row arithmetic. The sketch is
    * tiny and deterministic, so it can be persisted and diffed against
    * future crawls without re-reading A. */
  def corpusOverlap(a: DataFrame, b: DataFrame, textCol: String,
                    shingleN: Int = 3, sketchK: Int = 256): DataFrame = {
    require(sketchK >= 1, s"sketchK must be >= 1, got $sketchK")
    require(shingleN >= 1, s"shingleN must be >= 1, got $shingleN")
    def sketch(df: DataFrame): DataFrame = df
      .select(explode(call_function("graft_md5_hash_array",
        wordShingles(col(textCol), shingleN), lit(15))).as("h"))
      .distinct()
      .orderBy(col("h").asc)
      .limit(sketchK)
    val sa = sketch(a)
    val sb = sketch(b)
    val u = sa.union(sb).distinct().orderBy(col("h").asc).limit(sketchK)
    val uk = u.agg(count(lit(1)).as("union_k"))
    val nc = u
      .join(sa, Seq("h"), "left_semi")
      .join(sb, Seq("h"), "left_semi")
      .agg(count(lit(1)).as("n_common"))
    uk.crossJoin(nc).select(
      col("union_k"), col("n_common"),
      round(when(col("union_k") === 0, lit(0.0))
        .otherwise(col("n_common") / col("union_k")), 6).as("est_jaccard"))
  }

  /** All-pairs corpus-overlap matrix — [[corpusOverlap]] generalized to
    * every pair of corpora in ONE scan: "which training-mix sources
    * duplicate each other, and how much?" as a (sources choose 2)-row
    * contamination matrix. Per corpus the bottom-k distinct shingle-hash
    * sketch is built by the native bounded aggregate
    * ([[graft.expressions.KmvSketch]] — per-group state ≤ k longs,
    * map-side combine, so the exchange carries sketches, never shingle
    * sets), then every pair's estimate is pure k-length ARRAY arithmetic
    * on the sketch rows: union bottom-k via sort+slice of the two
    * sketches' merge, `est_jaccard = |bottomK(A∪B) ∩ S_A ∩ S_B| /
    * |bottomK(A∪B)|` (±1/√k; exact when both corpora hold ≤ k distinct
    * shingles — the bottom-k of a union of complete sketches is complete).
    * The pair join is corpus-count-sized (a broadcast inequality join of
    * sketch rows), so cost is one corpus scan + |C|²/2 sketch
    * comparisons — never corpus × corpus. */
  def corpusOverlapMatrix(df: DataFrame, corpusCol: String, textCol: String,
                          shingleN: Int = 3, sketchK: Int = 256): DataFrame = {
    require(sketchK >= 1, s"sketchK must be >= 1, got $sketchK")
    require(shingleN >= 1, s"shingleN must be >= 1, got $shingleN")
    val sk = df
      .select(col(corpusCol).as("corpus"),
        explode(call_function("graft_md5_hash_array",
          wordShingles(col(textCol), shingleN), lit(15))).as("h"))
      .groupBy("corpus")
      .agg(call_function("graft_kmv_sketch", col("h"), lit(sketchK)).as("sk"))
    val a = sk.select(col("corpus").as("corpus_a"), col("sk").as("ska"))
    val b = sk.select(col("corpus").as("corpus_b"), col("sk").as("skb"))
    a.join(broadcast(b), col("corpus_a") < col("corpus_b"))
      .select(col("corpus_a"), col("corpus_b"),
        graft.functions.bound(
          kmvMerge(col("ska"), col("skb"), sketchK)) { u =>
          val unionK = size(u).cast(LongType)
          val nCommon = size(array_intersect(
            array_intersect(u, col("ska")), col("skb"))).cast(LongType)
          struct(unionK.as("union_k"), nCommon.as("n_common"),
            round(when(unionK === 0, lit(0.0))
              .otherwise(nCommon / unionK), 6).as("est_jaccard"))
        }.as("ov"))
      .select(col("corpus_a"), col("corpus_b"), col("ov.union_k"),
        col("ov.n_common"), col("ov.est_jaccard"))
  }

  /** Sketch algebra: merge two bottom-k sketches into THE bottom-k
    * sketch of the union corpus (exactly — the union's k smallest
    * distinct hashes all live in one of the two sketches). This is what
    * makes persisted sketches incremental: sketch yesterday's crawl
    * once, merge each day's batch sketch, never re-scan history. */
  def kmvMerge(a: Column, b: Column, sketchK: Int): Column =
    slice(array_sort(array_distinct(concat(a, b))), 1, sketchK)

  /** The KMV distinct estimate read off a sketch column (the
    * column-level form of [[distinctCount]]'s estimator: exact below k,
    * `(k-1)·2^60 / h_k` at k). */
  def kmvEstimate(sk: Column, sketchK: Int): Column =
    when(size(sk) < sketchK, size(sk).cast(DoubleType))
      .otherwise(lit((sketchK - 1).toDouble) * lit(math.pow(2.0, 60)) /
        element_at(sk, sketchK))

  /** Distinct-count estimate of an expression via the same bottom-k
    * (KMV) sketch as [[corpusOverlap]] — "how many distinct shingles /
    * tokens / urls does this corpus hold?" without a full distinct
    * aggregate's corpus-wide exchange payload. The k-th smallest of n
    * distinct uniform 60-bit hashes sits near k/n of the range, so
    * `est = (k-1) · 2^60 / h_k` (the classical KMV estimator, ±1/√k);
    * below k distinct values the sketch holds everything and the count
    * is EXACT. Returns ONE row (n_sketch, kth_hash, est_distinct).
    * Deterministic md5 hashing keeps the estimate engine-mirrorable
    * bit-for-bit (one IEEE divide + round on both sides).
    *
    * Scale shape: each partition keeps its own bottom-k distinct hashes
    * in a bounded TreeSet (one partition-local pass, nothing spilled),
    * so the ONLY exchange of the whole operator carries at most
    * (partitions × k) hashes — NOT the distinct set. That bound is the
    * whole point vs `COUNT(DISTINCT x)`, whose exchange is
    * distinct-set-sized at 100 TB. (The global bottom-k distinct is a
    * subset of the union of per-partition bottom-k distincts, so the
    * prefilter never changes the answer.) */
  def distinctCount(df: DataFrame, expr: Column, sketchK: Int = 1024): DataFrame = {
    require(sketchK >= 2, s"sketchK must be >= 2, got $sketchK")
    val spark = df.sparkSession
    import spark.implicits._
    val local = df
      .select(graft.operators.TextAnalysis.hash60(expr.cast("string")).as("h"))
      .as[Long]
      .mapPartitions { it =>
        val set = new java.util.TreeSet[java.lang.Long]()
        it.foreach { h =>
          if (set.size < sketchK) set.add(h)
          // add() returns false for an already-present hash — only a
          // REAL insertion may evict the current k-th
          else if (h < set.last && set.add(h)) set.pollLast()
        }
        import scala.jdk.CollectionConverters._
        set.iterator().asScala.map(Long.unbox)
      }
    val sk = local.toDF("h")
      .distinct()
      .orderBy(col("h").asc)
      .limit(sketchK)
    sk.agg(count(lit(1)).as("n_sketch"), max(col("h")).as("kth_hash"))
      .select(col("n_sketch"), col("kth_hash"),
        round(when(col("n_sketch") < sketchK, col("n_sketch").cast(DoubleType))
          .otherwise(lit((sketchK - 1).toDouble) * lit(math.pow(2.0, 60)) /
            col("kth_hash")), 3).as("est_distinct"))
  }
}
