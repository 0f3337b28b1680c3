package graft.tools

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.expressions.Media
import graft.obs.QueryJobs
import graft.operators._
import graft.recipe.{LineAction, LineFilter}

/** Scale-growth smokes: each named leg grows the data under one operator
  * path `mult`× and prints wall time next to the counts that show whether
  * the cost stays scan- or bucket-bound (a quadratic or driver-sized term
  * blows up instead). Results are recorded in SCALE.md.
  *
  * Usage: scripts/run.sh graft.tools.Scale <leg,…> <sfDir> [mults…]
  * (mults default to each leg's own list, mostly 1 4 16; legs over a
  * synthetic fixture ignore sfDir, single-size legs ignore mults).
  */
object Scale {

  /** What a leg runs against. */
  final class Run(val spark: SparkSession, val sfDir: String, val mults: Seq[Int]) {
    lazy val docs: DataFrame = spark.read.parquet(s"$sfDir/documents.parquet")
    lazy val emb: DataFrame = spark.read.parquet(s"$sfDir/embeddings.parquet")

    def seconds[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    /** Times `f`, printing the label, wall seconds and `f`'s result. */
    def time[A](label: String)(f: => A): A = {
      val (r, s) = seconds(f)
      println(f"  $label%-32s $s%8.2fs  ${if (r == ()) "" else r}")
      r
    }

    /** Persists `df`, prints its size, runs `f` on it, unpersists. */
    def pinned[A](n: Int, df: DataFrame)(f: DataFrame => A): A = {
      val d = df.persist()
      println(s"mult=$n  rows=${d.count()}")
      try f(d) finally d.unpersist()
    }
  }

  final case class Leg(name: String, run: Run => Unit,
                       defaultMults: Seq[Int] = Seq(1, 4, 16))

  /** `df` with a `rep` column: every row repeated n times. */
  private def replicas(df: DataFrame, n: Int): DataFrame =
    df.withColumn("rep", explode(sequence(lit(0), lit(n - 1))))

  /** The documents replicated n× with every token suffixed by its replica
    * id: token frequencies WITHIN a replica are isomorphic to the
    * original document (near-dup structure preserved), while no token —
    * hence no shingle, no simhash weight — is shared ACROSS replicas. (A
    * constant marker token inserted per gap would instead make the marker
    * dominate every document's simhash and turn the corpus into one
    * all-pairs near-dup cluster.) That is the regime a 100 TB dedup run
    * lives in — bounded duplication, growing corpus — so a bucketed
    * candidate design must scale near-linearly in n. */
  private def tokenDisjoint(docs: DataFrame, n: Int): DataFrame =
    replicas(docs, n).select(
      (col("doc_id") * n + col("rep")).as("doc_id"),
      array_join(transform(split(trim(col("text")), "\\s+"),
        t => concat(t, lit("_"), col("rep"))), " ").as("text"))

  /** The embeddings replicated n× with a replica-unique SIGN FLIP per
    * dimension (s_i ∈ {±1} from hash(rep, dim)). Within a replica
    * cos(s⊙x, s⊙y) = cos(x, y) EXACTLY (s_i² = 1) — near-dup structure
    * preserved — while cross-replica vectors decorrelate (random sign
    * agreement ⇒ cos ≈ 0): the embedding analog of [[tokenDisjoint]]. */
  private def signFlipped(emb: DataFrame, n: Int): DataFrame =
    replicas(emb, n).select(
      (col("vec_id") * n + col("rep")).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        when(pmod(hash(col("rep"), i), lit(2)) === 0, x).otherwise(-x))
        .as("embedding"))

  /** A leg run once per mult over the pinned [[tokenDisjoint]] corpus. */
  private def onDocs(name: String)(body: (Run, DataFrame, Int) => Unit): Leg =
    Leg(name, r => for (n <- r.mults) r.pinned(n, tokenDisjoint(r.docs, n))(body(r, _, n)))

  /** A leg run once per mult over the pinned [[signFlipped]] embeddings. */
  private def onEmbeddings(name: String)(body: (Run, DataFrame, Int) => Unit): Leg =
    Leg(name, r => for (n <- r.mults) r.pinned(n, signFlipped(r.emb, n))(body(r, _, n)))

  /** The sqrt(n) nlist rule (FAISS): centroid assignment costs n × nlist
    * and within-cell pairs cost n × (n / nlist) — sqrt balances both. */
  private def sqrtNlist(d: DataFrame): Int = math.max(16, math.sqrt(d.count().toDouble).toInt)

  /** The events replicated n× with replica-unique users AND a per-replica
    * time shift larger than any window: per-key history and window
    * populations stay constant while keys and rows grow (the bounded
    * regime of a growing event log), so anything quadratic — the
    * theta-join formulations the temporal joins replace — blows up. */
  private def shiftedEvents(r: Run, n: Int): DataFrame = {
    val span = 32L * 86400L * 1000000L // > the fixture's 30-day spread
    replicas(graft.Tables(r.spark, r.sfDir, "events"), n).select(
      (col("event_id") * n + col("rep")).as("event_id"),
      timestamp_micros(unix_micros(col("ts")) + col("rep") * span).as("ts"),
      (col("user_id") * n + col("rep")).as("user_id"),
      col("event_type"), col("value"))
  }

  /** The synthetic page corpus of the documents replicated m×. */
  private def pageCorpus(r: Run, m: Int): DataFrame =
    graft.sources.Warc.syntheticPages(replicas(r.docs, m).select(
      (col("doc_id") * m + col("rep")).as("doc_id"), col("lang"), col("text")))

  private def bytesEndingWith(root: java.io.File, suffix: String): Long =
    root.listFiles().filter(_.getName.endsWith(suffix)).map(_.length).sum

  /** Materializes an asset frame, then times one decode leg over it —
    * decode only, the synthetic encode that builds the fixture excluded.
    * `okCol` counts successful decodes (non-null); `decBytes` is the
    * per-output-row DECODED byte count (raster / PCM bytes actually
    * produced — the honest throughput denominator when the compressed
    * payload is 100× smaller than what the codec emits), computed inside
    * the timed aggregate so it adds no pass. */
  private def decodeLeg(r: Run, label: String, assets: DataFrame, okCol: String,
                        decBytes: Column)(decode: DataFrame => DataFrame): Unit = {
    val a = assets.persist(StorageLevel.MEMORY_AND_DISK)
    val pin = a.agg(count(lit(1)), coalesce(sum(length(col("payload"))), lit(0L))).head()
    val (out, s) = r.seconds(decode(a)
      .agg(count(lit(1)), count(col(okCol)),
        coalesce(sum(decBytes.cast(LongType)), lit(0L)))
      .head())
    val mb = pin.getLong(1) / 1e6
    val decMb = out.getLong(2) / 1e6
    println(f"  $label%-14s $s%7.2fs  assets=${pin.getLong(0)}%-8d out=${out.getLong(0)}%-8d " +
      f"ok=${out.getLong(1)}%-8d payload=$mb%8.1f MB (${mb / s}%6.1f MB/s)  " +
      f"decoded=$decMb%8.1f MB (${decMb / s}%7.1f MB/s)")
    require(out.getLong(1) == out.getLong(0),
      s"$label: ${out.getLong(0) - out.getLong(1)} payloads failed to decode")
    a.unpersist()
  }

  val legs: Seq[Leg] = Seq(
    // ---- dedup paths over the token-disjoint corpus
    onDocs("minhashCandidates") { (r, d, n) =>
      r.time(s"minhashCandidates x$n") {
        Dedup.minhashCandidates(d, "doc_id", "text").filter(col("jaccard") >= 0.5).count()
      }
    },
    onDocs("simhashBandPairs") { (r, d, n) =>
      r.time(s"simhashBandPairs x$n") {
        Dedup.simhashBandPairs(d, "doc_id", "text", bands = 4, maxHamming = 3).count()
      }
    },
    onDocs("simhashMankuPairs") { (r, d, n) =>
      r.time(s"simhashMankuPairs x$n") {
        Dedup.simhashMankuPairs(d, "doc_id", "text",
          blocks = 6, keyBlocks = 3, maxHamming = 3, bits = 60).count()
      }
    },
    onDocs("dedupClusters") { (r, d, n) =>
      r.time(s"dedupClusters x$n") {
        Dedup.dedupClusters(d, "doc_id", "text", threshold = 0.5)
          .filter(col("keep")).count()
      }
    },
    // every replica-group of ~docs/20 docs shares a footer line
    // (replica-suffixed, so the frequent-line SET grows linearly with
    // mult while per-line doc counts stay constant — the growth axis
    // that stresses the broadcast flag join)
    onDocs("removeBoilerplate") { (r, d, n) =>
      r.time(s"removeBoilerplate x$n") {
        val aug = d.withColumn("t", concat(
          col("text"),
          lit("\nsubscribe "), substring(col("text"), 1, 8),
          lit("\nunique "), col("doc_id").cast("string")))
        Dedup.removeBoilerplate(aug, "doc_id", "t", minDocs = 10L)
          .agg(sum(col("n_removed"))).head().getLong(0)
      }
    },
    // the eval/benchmark set is FIXED (20 docs drawn from replica 0) while
    // the corpus grows mult× — the production regime (benchmarks don't
    // grow with the corpus). The broadcast payload is the eval shingle
    // set, whose size is printed as the bound evidence: it must stay
    // constant across mults while wall grows ~linearly (one scan + one
    // keyed count-aggregate).
    onDocs("contamination") { (r, d, n) =>
      val bench = d.filter(col("doc_id") % n === 0).limit(20).persist()
      val benchShingles = bench
        .select(explode(array_distinct(TextAnalysis.wordShingles(col("text"), 3))).as("s"))
        .distinct().count()
      r.time(s"contamination x$n") {
        Dedup.contamination(d, bench, "doc_id", "text", minOverlap = 5L).count()
      }
      println(s"    benchShingles=$benchShingles")
      bench.unpersist()
    },
    // group count is FIXED (3 sources) while rows grow mult× —
    // coordination is one count-aggregate whose result is
    // group-count-sized (3 rows, driver-held) at every mult; the sampling
    // itself is a scan-level hash predicate, so wall must track the scan
    // ~linearly
    Leg("mixtureSample", r => for (n <- r.mults) {
      val mix = replicas(r.docs, n)
        .select((col("doc_id") * n + col("rep")).as("doc_id"), col("source"))
      r.time(s"mixtureSample x$n") {
        Sampling.mixtureSample(mix, "source", "doc_id",
          Map("src0" -> 3.0, "src1" -> 1.0, "src2" -> 1.0)).count()
      }
    }),
    // replica-suffixed tokens split every original token's share across n
    // distinct variants, so phi scales 1/n to keep the answer population
    // comparable; MG summaries stay per-partition-bounded (ceil(1/phi)
    // counters) and the confirm exchange candidate-bounded — wall must
    // track the two scans ~linearly, never the distinct-universe size
    onDocs("heavyHitters") { (r, d, n) =>
      r.time(s"heavyHitters x$n") {
        val toks = d.select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
          .filter(col("tok") =!= "")
        Profiling.heavyHitters(toks, col("tok"), 0.002 / n).count()
      }
    },
    // the fixture markup per doc is constant-size and the payload text
    // grows with the corpus; extraction + link harvest are pure per-row
    // expression chains, so wall must track the scan ~linearly — the
    // aggregate is ONE row (total extracted chars + harvested links)
    onDocs("htmlExtract") { (r, d, n) =>
      r.time(s"htmlExtract x$n") {
        Html.syntheticPages(d.withColumn("lang", lit("en")))
          .agg((sum(length(Html.extractText(col("html")))) +
            sum(size(Html.links(col("html"))))).as("t"))
          .head().getLong(0)
      }
    },
    // the distinct shingle universe grows ~linearly in mult while the
    // sketch exchange stays (partitions x k)-bounded — wall must be
    // scan-bound; the per-group native aggregate adds only a group-keyed
    // partial/final pair with <= k longs per group state
    onDocs("kmvDistinct") { (r, d, n) =>
      r.time(s"kmvDistinct x$n") {
        val sh = d.select(explode(TextAnalysis.wordShingles(col("text"), 3)).as("s"))
        Dedup.distinctCount(sh, col("s"), 1024).head().getDouble(2).toLong
      }
    },
    onDocs("kmvByGroup") { (r, d, n) =>
      r.time(s"kmvByGroup x$n") {
        val sh = d.select((col("doc_id") % 16).as("g"),
          explode(TextAnalysis.wordShingles(col("text"), 3)).as("s"))
        Profiling.distinctByGroup(sh, Seq(col("g")), col("s"), 512).count()
      }
    },
    // replicas are token-disjoint, so duplicated spans stay within-replica
    // and must grow EXACTLY linearly in mult; the sampled variant
    // (content-defined hash % 8) must track the same shape at ~1/8 the
    // shuffled window volume
    onDocs("dupSpans") { (r, d, n) =>
      r.time(s"dupSpansExact x$n")(Dedup.duplicateSpans(d, "doc_id", "text", k = 10).count())
      r.time(s"dupSpansSampled8 x$n") {
        Dedup.duplicateSpans(d, "doc_id", "text", k = 10, sampleMod = 8).count()
      }
    },
    // the daily batch is FIXED (100 docs, half dup keys / half novel)
    // while the history grows mult× — the production increment regime.
    // Build (one history scan into a constant-size bitset, persisted
    // across increments in production) and probe (scan-level
    // might-contain + broadcast confirm over history) are timed
    // separately; each must track the history scan ~linearly with the
    // dropped count CONSTANT (the dup half of the batch), proving the
    // exchanged volume is candidate-sized, not history-sized.
    onDocs("bloomDedup") { (r, d, n) =>
      val keyedHist = d.withColumn("__k", substring(col("text"), 1, 40))
      val batch = d.filter(col("doc_id") % n === 0).limit(100)
        .select(col("doc_id"),
          // parity of the ORIGINAL id (replicated id = orig*n + rep):
          // orig even <=> orig*n % 2n == 0 at any mult, odd n included
          when(col("doc_id") % (2L * n) === 0, col("text"))
            .otherwise(concat(lit("novel-"), col("doc_id"), lit(" "),
              col("text"))).as("text"))
        .withColumn("__k", substring(col("text"), 1, 40)).persist()
      batch.count()
      var bloom: Array[Byte] = null
      r.time(s"bloomDedupBuild x$n (bytes)") {
        bloom = Dedup.bloomBuild(keyedHist, "__k"); bloom.length
      }
      r.time(s"bloomDedupProbe x$n (dropped)") {
        100 - Dedup.bloomDedupWith(batch, keyedHist, "__k", bloom).count()
      }
      batch.unpersist()
    },
    // two integer-GD iterations over the whole corpus at a FIXED model
    // size (dim=1024) — per iteration one doc-keyed and one bucket-keyed
    // aggregate over the hashed-feature rows, so wall must track the
    // corpus ~linearly while the driver never holds more than the
    // dim-sized model
    onDocs("classifierTrain") { (r, d, n) =>
      r.time(s"classifierTrain x$n (nonzero)") {
        val labeled = d.withColumn("y", (col("doc_id") % 2).cast("long"))
        TextAnalysis.trainHashClassifier(labeled, "doc_id", "text", "y",
          dim = 1024, iters = 2).count(_ != 0L)
      }
    },
    // the model trains on a FIXED reference slice (replica 0 only —
    // reference corpora don't grow with the crawl) while scoring sweeps
    // the whole corpus; wall must track the corpus scan ~linearly
    onDocs("bigramLm") { (r, d, n) =>
      r.time(s"bigramLm x$n") {
        TextAnalysis.bigramLmScore(d, "doc_id", "text",
          modelFilter = col("doc_id") % n === 0)
          .filter(col("avg_logp").isNotNull).count()
      }
    },
    // BM25: corpus replicated n× with text UNCHANGED so every query
    // term's candidate set grows n× — the axis that stresses the
    // candidate-side exchanges. Wall must grow ~linearly; the query side
    // stays a constant broadcast regardless of mult.
    Leg("bm25TopK", r => for (n <- r.mults) {
      val rep = replicas(r.docs, n)
        .select((col("doc_id") * n + col("rep")).as("doc_id"), col("text"))
      r.time(s"bm25TopK x$n") {
        TextAnalysis.bm25TopK(rep, "doc_id", "text",
          Seq(1 -> "spark window join", 2 -> "hash merge sort stream"), k = 10).count()
      }
    }),

    // ---- embeddings
    // nlist scales as sqrt(n): O(n^1.5), the true cost profile of
    // centroid-based SemDeDup (the paper runs its k-means on GPUs; OUR
    // constant-per-row scale path for semantic near-dup is the banded
    // sign-LSH of q25). Caveat on keeper counts: the sign flip
    // decorrelates replicas only to cos ~ N(0, ~1/sqrt(d)) with tails
    // fattened by uneven feature weights, so at thresholds near the
    // noise floor some CROSS-replica pairs leak into the dominance set —
    // the wall/plan scaling is the claim here, not exact keeper linearity.
    onEmbeddings("semDedup") { (r, e, n) =>
      val nlist = sqrtNlist(e)
      r.time(s"semDedup x$n (nlist=$nlist)") {
        Dedup.semDedup(e, "vec_id", "embedding", threshold = 0.4, nlist = nlist)
          .filter(col("keep")).count()
      }
    },
    // a deliberately clustered corpus — every vector is a tiny
    // perturbation of ONE direction, so assignment puts essentially
    // everything into a single cell no matter the nlist. Without the
    // cellCap tile guard the whole O(n²) pairwise stage lands on ONE
    // task; with it the pair space is tiled across ~(n/cap)² tasks and
    // wall time is bounded by pairs/parallelism. The answer is asserted
    // identical.
    Leg("hotCell", r => for (n <- r.mults) {
      val clustered = replicas(r.emb, n)
        .select((col("vec_id") * n + col("rep")).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            when(i === 0, lit(1.0f)).otherwise(
              (pmod(hash(col("vec_id") * lit(37) + i), lit(1000))
                .cast("float") / lit(1000000.0f)).cast("float")))
            .as("embedding"))
      r.pinned(n, clustered) { e =>
        val guarded = r.time(s"hotCellGuarded x$n (cap=4096)") {
          Dedup.semDedup(e, "vec_id", "embedding", threshold = 0.99, nlist = 16)
            .filter(col("keep")).count()
        }
        val unguarded = r.time(s"hotCellUnguarded x$n") {
          Dedup.semDedup(e, "vec_id", "embedding", threshold = 0.99, nlist = 16,
            cellCap = Int.MaxValue).filter(col("keep")).count()
        }
        assert(guarded == unguarded,
          s"skew guard changed the answer: $guarded vs $unguarded")
      }
    }),
    // the query batch is FIXED (20 vectors from replica 0) while the
    // corpus grows mult× — the production ANN regime. Brute-force cosine
    // is the exact baseline and must grow ~linearly in n (q × n scored
    // pairs); IVF with nlist = sqrt(n), nprobe = 4 scores n × nlist
    // assignment cosines ONCE per corpus plus only the probed cells'
    // rerank pairs. The n × nlist assignment is the ONE-TIME index-build
    // cost (persisted in production, like the q68 minhash index), timed
    // apart from the per-batch probe: a combined timing charges every
    // 20-query batch for the whole build and makes IVF read slower than
    // brute force at any bounded batch size.
    onEmbeddings("annTopK") { (r, e, n) =>
      val queries = e.filter(col("vec_id") % n === 0).limit(20).persist()
      queries.count() // materialize before timing the search itself
      r.time(s"annTopKBrute x$n") {
        Similarity.bruteForceTopK(queries, e, "vec_id", "embedding", k = 10).count()
      }
      val nlist = sqrtNlist(e)
      var idx: Similarity.IvfIndex = null
      r.time(s"annTopKIvfBuild x$n (nlist=$nlist)") {
        idx = Similarity.ivfBuild(e, "vec_id", "embedding", nlist)
        idx = idx.copy(assigned = idx.assigned.persist())
        idx.assigned.count()
      }
      r.time(s"annTopKIvfProbe x$n") {
        Similarity.ivfProbe(idx, queries, "vec_id", "embedding", k = 10, nprobe = 4).count()
      }
      idx.assigned.unpersist()
      queries.unpersist()
    },
    // the codebook trains on a FIXED slice (replica 0 — the model does not
    // grow with the corpus) while encode sweeps the whole corpus (n × m
    // slice-argmin rows off a broadcast codebook — must track rows
    // ~linearly) and the ADC probe serves a FIXED 20-query batch against
    // the full code table (q × n × m integer lookups — linear in n, never
    // touching a full vector)
    onEmbeddings("pq") { (r, e, n) =>
      val cb = Similarity.pqTrain(e.filter(col("vec_id") % n === 0),
        "vec_id", "embedding", dim = 64, m = 8, ksub = 32, iters = 2)
      val codes = Similarity.pqCodes(e, "vec_id", "embedding", cb).persist()
      r.time(s"pqEncode x$n")(codes.count())
      r.time(s"pqAdc x$n") {
        Similarity.pqAdcTopK(e.filter(col("vec_id") % n === 0).limit(20), codes,
          "vec_id", "embedding", cb, k = 10).count()
      }
      codes.unpersist()
    },
    // HISTORY grows mult× while the appended batch stays FIXED (replica
    // 0) — the O(batch) claim is that the append's encode wall stays
    // ~flat as history grows (the history code table is only unioned,
    // never re-encoded)
    onEmbeddings("ivfPqAppend") { (r, e, n) =>
      val batch = e.filter(col("vec_id") % n === 0)
      val cb = Similarity.pqTrain(batch, "vec_id", "embedding",
        dim = 64, m = 8, ksub = 32, iters = 2)
      r.time(s"ivfPqAppendBatch x$n") {
        val seeds = Similarity.kmeansTrain(batch, "vec_id", "embedding",
          nlist = 8, iters = 0)
        val history = Similarity.ivfPqBuild(
          e.filter(col("vec_id") % n =!= 0), "vec_id", "embedding", seeds, cb)
        // time ONLY what ivfPqAppend adds to the plan: the batch-side
        // encode (its union with history.codes is lazy metadata — an
        // exceptAll/count over the union would re-scan history and
        // measure the wrong thing)
        Similarity.ivfPqBuild(batch, "vec_id", "embedding",
          history.seeds, history.cb).codes.count()
      }
    },
    // per-iteration cost is one broadcast-join assignment (n × nlist
    // cosines, map-side argmax) plus one (n × dim)-row component
    // aggregate — both ~linear in n at the sqrt(n) nlist rule; the driver
    // never holds more than the nlist × dim model. Balance evidence: max
    // cell population under the md5-seed table vs the trained table —
    // trained centroids sit at cluster means, so populations tighten
    // toward n/nlist.
    onEmbeddings("kmeansTrain") { (r, e, n) =>
      val total = e.count()
      val nlist = sqrtNlist(e)
      var trained: Seq[(Long, Seq[Float])] = null
      r.time(s"kmeansTrain x$n (nlist=$nlist,it=2)") {
        trained = Similarity.kmeansTrain(e, "vec_id", "embedding", nlist, iters = 2)
        trained.size
      }
      def maxPop(idx: Similarity.IvfIndex): Long =
        idx.assigned.groupBy("cell").count().agg(max("count")).head().getLong(0)
      val seedMax = maxPop(Similarity.ivfBuild(e, "vec_id", "embedding", nlist))
      val trainedMax = maxPop(Similarity.ivfBuildWith(e, "vec_id", "embedding", trained))
      println(s"    maxCellSeed=$seedMax maxCellTrained=$trainedMax " +
        s"evenSplit=${total / nlist}")
    },
    // both scale linearly in corpus size (same nested-loop shape), SQ8
    // carrying 4× less data per row through the scorer
    Leg("sq8TopK", r => for (m <- r.mults) {
      val corpus = replicas(r.emb, m)
        .select((col("vec_id") * m + col("rep")).as("vec_id"), col("embedding"))
      val q = corpus.filter(col("vec_id") < 5)
      println(s"mult=$m  rows=${corpus.count()}")
      r.time(s"float bruteForceTopK x$m") {
        Similarity.bruteForceTopK(q, corpus, "vec_id", "embedding", 5).count()
      }
      r.time(s"sq8TopK x$m")(Similarity.sq8TopK(q, corpus, "vec_id", "embedding", 5).count())
    }),

    // ---- temporal joins over the shifted events: output rows of both
    // must grow EXACTLY linearly (asofJoin is one keyed exchange + sort;
    // rangeJoin's bucketized pair space stays within replicas)
    Leg("asofJoin", r => for (n <- r.mults) r.pinned(n, shiftedEvents(r, n)) { ev =>
      r.time(s"asofJoin x$n") {
        Joins.asofJoin(
          ev.filter(col("event_type") === "purchase")
            .select("event_id", "ts", "user_id", "value"),
          ev.filter(col("event_type") === "click"),
          Seq("user_id"), "ts", "ts", Seq("event_id", "value"), "event_id")
          .filter(col("asof_event_id").isNotNull).count()
      }
    }),
    Leg("rangeJoin", r => for (n <- r.mults) r.pinned(n, shiftedEvents(r, n)) { ev =>
      r.time(s"rangeJoin x$n") {
        val win = 600L * 1000000L
        val errs = ev.filter(col("event_type") === "error")
          .select(col("event_id").as("err_id"), col("ts").as("win_start"),
            timestamp_micros(unix_micros(col("ts")) + win).as("win_end"))
        val buys = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("buy_id"), col("ts").as("buy_ts"))
        Joins.rangeJoin(buys, "buy_ts", errs, "win_start", "win_end", win).count()
      }
    }),

    // ---- graphs
    // edges AND nodes grown mult× (a bigger web, not a denser one), 5
    // iterations: linear-ish wall proves the iteration cost is the
    // src-keyed join + dst-keyed partial-agg exchange over the edge list,
    // with no N²/driver term; the fixed-point rank sum is the
    // bit-stability canary (same graph → same sum, any partitioning)
    Leg("pageRank", r => for (m <- r.mults) {
      val nodes = 100000L * m
      // skewed in-degree (quadratic hash fold), like a real web graph
      val edges = r.spark.range(2000000L * m).select(
        pmod(xxhash64(col("id")), lit(nodes)).as("src"),
        (pmod(xxhash64(col("id"), lit(1)), lit(nodes)) *
          pmod(xxhash64(col("id"), lit(2)), lit(nodes)) / nodes)
          .cast("long").as("dst"))
      r.time(s"pageRank x$m (nodes, rankMass)") {
        val row = Crawl.pageRank(edges, "src", "dst", iterations = 5)
          .agg(count(lit(1)), sum(col("rank"))).head()
        (row.getLong(0), row.getLong(1))
      }
    }),
    // daily-ingest clustering: 64-long chain components over n nodes
    // (deep enough that a rebuild pays ~log2(64) alternating-star
    // rounds), then fold in a 1k-pair delta bridging random blocks. The
    // append re-enters the loop with one already-contracted star edge
    // per non-root node, so its rounds chase only the delta's chains —
    // compared against the full rebuild over base + delta. (The CC loop
    // runs EAGERLY — per-round signature actions — so timing wraps the
    // call, and count() just reads the final star set.)
    Leg("ccAppend", r => for (m <- r.mults) {
      val n = 100000L * m
      val base = r.spark.range(n).filter(col("id") % 64 =!= 63)
        .select(col("id").as("u"), (col("id") + 1).as("v"))
      val delta = r.spark.range(1000)
        .select(pmod(xxhash64(col("id")), lit(n)).as("u"),
          pmod(xxhash64(col("id"), lit(7)), lit(n)).as("v"))
      var pre: DataFrame = null
      r.time(s"ccBuildBase x$m") {
        pre = Dedup.connectedComponents(base).persist(StorageLevel.MEMORY_AND_DISK)
        pre.count()
      }
      r.time(s"ccAppend x$m")(Dedup.ccAppend(pre, delta).count())
      r.time(s"ccRebuild x$m")(Dedup.connectedComponents(base.unionAll(delta)).count())
      pre.unpersist()
    }),
    // HITS vs PageRank, 3 iterations each, on the same skewed graph grown
    // mult× in EDGES (nodes fixed at 50k: multi-edges collapse, so
    // distinct edges saturate): both are dominated by the one-time edge
    // shuffle + per-iteration partial-agg exchanges, so their walls track
    // each other and flatten once the graph stops growing
    Leg("hitsPageRank", r => for (m <- r.mults) {
      val nodes = 50000L
      val edges = r.spark.range(100000L * m).select(
        pmod(xxhash64(col("id")), lit(nodes)).as("src"),
        pmod(xxhash64(col("id") * 31 + 7), lit(nodes)).as("dst"))
      r.time(s"hits x$m") {
        Crawl.hits(edges, "src", "dst", iterations = 3).agg(sum("auth")).head()
      }
      r.time(s"pagerank x$m") {
        Crawl.pageRank(edges, "src", "dst", iterations = 3).agg(sum("rank")).head()
      }
    }),

    // ---- similarity joins
    // an image corpus grown mult× where hashes are near-unique by
    // construction (hash-mixed pixel patterns) except one planted exact
    // twin per base asset, so TRUE pairs grow exactly linearly; payloads
    // are pinned before the timed leg (decode+hash+join only). A
    // quadratic bend would mean band buckets are degenerating.
    Leg("dhashNearDups", r => for (m <- r.mults) {
      val pxSchema = StructType(Seq(
        StructField("asset_id", LongType, nullable = false),
        StructField("payload", BinaryType, nullable = true)))
      val n = 20000L * m
      val assets = r.spark.range(n).mapPartitions { it =>
        it.flatMap { id =>
          val w = (id % 13 + 6).toInt; val h = (id % 11 + 6).toInt
          // PER-PIXEL murmur-style finalizer: any formula AFFINE in i
          // (plain multiply-add included) yields near-constant
          // adjacent-pixel differences, which preserves gradient signs
          // across ids and blows pairs up quadratically — the q145
          // fixture's deliberate collision design. The xor-shift +
          // multiply makes differences non-linear, so dHashes are
          // near-unique and TRUE pairs are exactly the planted twins.
          val px = Array.tabulate(w * h) { i =>
            val x = id * 2654435761L + i * 0x9E3779B97F4A7C15L
            val y = (x ^ (x >>> 31)) * 0xFF51AFD7ED558CCDL
            ((y >>> 33) & 0xFF).toByte
          }
          val png = Media.encodePng(Media.Raster(w, h, 1, px))
          Seq(Row(id, png), Row(id + n, png)) // exact twin
        }
      }(Encoders.row(pxSchema)).persist(StorageLevel.MEMORY_AND_DISK)
      println(s"mult=$m  assets=${assets.count()}")
      r.time(s"dhashNearDups x$m") {
        Multimodal.dhashNearDups(assets, maxHamming = 2, bands = 4).count()
      }
      assets.unpersist()
    }),
    // token-disjoint replicas plus a tail-mutated twin per doc: pair
    // truth grows linearly while the shingle universe grows mult× — the
    // df aggregate and prefix-keyed join must stay scan-shaped as the
    // corpus AND vocabulary grow
    Leg("prefixJaccard", r => for (m <- r.mults) {
      val d = tokenDisjoint(r.docs, m)
      val salted = d.union(d.select(
        (col("doc_id") + lit(100000000L)).as("doc_id"),
        concat(col("text"), lit(" graft dup probe tail")).as("text")))
      r.pinned(m, salted) { s =>
        r.time(s"prefixJaccard x$m") {
          Dedup.prefixJaccardPairs(s, "doc_id", "text", n = 3, threshold = 0.5).count()
        }
      }
    }),

    // ---- crawl frontier
    // a synthetic harvested-link pile — skewed in-link distribution
    // (quadratic hash fold concentrates mass on low page ids, like real
    // link graphs), a messy fetch variant every third row
    // (canonicalization work), a 1000-entry blocklist, 10% of pages
    // already seen, per-host cap 100 — grown mult× from 2M rows while
    // hosts/pages stay fixed. Linear-ish wall proves the pile collapses
    // map-side (in-link counting is a partial-agg url exchange), the seen
    // anti-join rides the same partitioning, and the window works on
    // unique URLs.
    Leg("frontier", r => for (m <- r.mults) {
      val hosts = 5000
      val pages = 200000
      val h = pmod(xxhash64(col("id")), lit(pages.toLong))
      val page = (h * h / pages).cast("long")
      val host = pmod(page, lit(hosts.toLong)).cast("string")
      val clean = concat(lit("https://h"), host, lit(".example/p/"), page.cast("string"))
      val messy = concat(lit("HTTPS://H"), host, lit(".EXAMPLE:443/p/"),
        page.cast("string"), lit("?utm_source=s#frag"))
      val bad = concat(lit("https://blocked"),
        pmod(col("id"), lit(1000L)).cast("string"), lit(".example/x"))
      val links = r.spark.range(2000000L * m).select(
        when(pmod(col("id"), lit(7L)) === 0, bad)
          .when(pmod(col("id"), lit(3L)) === 0, messy)
          .otherwise(clean).as("href"))
      val seen = r.spark.range(pages / 10).select(
        concat(lit("https://h"), pmod(col("id"), lit(hosts.toLong)).cast("string"),
          lit(".example/p/"), col("id").cast("string")).as("url"))
      val blocked = (0 until 1000).map(i => s"blocked$i.example")
      r.time(s"frontier x$m (urls, inlinks, hosts)") {
        Crawl.frontier(links, "href", seen, blocked, 100)
          .agg(count(lit(1)).as("urls"), sum("inlinks").as("links"),
            countDistinct(col("host")).as("hosts"))
          .head()
      }
    }),
    // the q158 shape grown mult× in links (from 100k) while 2000 hosts
    // stay fixed, robots with declared delays on half the hosts: the
    // declared-delay budget join adds only a broadcast post-filter to
    // frontier's map-side-collapsing cost (near-linear wall)
    Leg("rateFrontier", r => for (m <- r.mults) {
      import r.spark.implicits._
      val hosts = 2000
      val h = pmod(xxhash64(col("id")), lit(20000L))
      val page = (h * h / 20000L).cast("long")
      val host = pmod(page, lit(hosts.toLong)).cast("string")
      val links = r.spark.range(100000L * m).select(
        concat(lit("https://h"), host, lit(".example/p/"), page.cast("string")).as("href"))
      val robots = r.spark.range(hosts / 2).select(
        concat(lit("h"), (col("id") * 2).cast("string"), lit(".example")).as("host"),
        concat(lit("User-agent: *\nCrawl-delay: "),
          (pmod(col("id"), lit(7L)) + 1).cast("string")).as("txt"))
      r.time(s"rateFrontier x$m") {
        Crawl.rateLimitedFrontier(links, "href", Seq.empty[String].toDF("url"), Nil,
          robots, "host", "txt", "graftbot", windowSec = 60.0,
          defaultDelaySec = 10.0, maxPerHost = 50).count()
      }
    }),

    // ---- tokenizers and text scoring
    // WordPiece over ~24-word docs, 100k × mult of them. Each word
    // carries a per-doc 4-letter suffix, so words are DISTINCT across
    // docs and the per-task word cache cannot flatten the curve (an
    // earlier 12-distinct-word fixture measured flat wall — pure cache
    // hits; real corpora are Zipf, between the two, and the honest claim
    // is linearity in UNCACHED words). Warm once, then two timed draws.
    Leg("wpEncode", r => for (m <- r.mults) {
      val words = array(Seq("window", "custom", "filter", "join", "column",
        "aggregate", "the", "quick", "dup", "slow", "zzzq", "row").map(lit): _*)
      val sfx = concat(
        chr(pmod(col("id"), lit(26L)) + 97),
        chr(pmod(col("id") / 26, lit(26L)) + 97),
        chr(pmod(col("id") / 676, lit(26L)) + 97),
        chr(pmod(col("id") / 17576, lit(26L)) + 97))
      val docs = r.spark.range(100000L * m).select(
        concat_ws(" ", (0 until 24).map(i =>
          concat(element_at(words, (pmod(col("id") * 31 + i * 7, lit(12L)) + 1)
            .cast("int")), sfx)): _*).as("text"))
      def encode() = docs.select(sum(size(TextAnalysis
        .wordPieceTokens(col("text"), graft.SparkEntry.wpCanonicalVocab))))
        .head().getLong(0)
      encode()
      r.time(s"wpEncode x$m (a)")(encode())
      r.time(s"wpEncode x$m (b)")(encode())
    }),
    // Unigram vs WordPiece encode over the same replicated corpus: both
    // are scan-level expressions with per-task word caches, so walls
    // track each other and grow ~linearly (the Viterbi DP costs more per
    // UNCACHED word but the cache amortizes it to the same regime)
    Leg("unigramWordPiece", r => for (m <- r.mults) {
      val d = replicas(r.docs, m).select(concat(col("text"), lit(" r"), col("rep")).as("text"))
      r.time(s"unigram census x$m") {
        d.select(TextAnalysis.unigramEncode(col("text"), graft.UgVocab.lines).as("e"))
          .agg(sum(size(col("e.pieces"))), sum(col("e.score_micro"))).head()
      }
      r.time(s"wordpiece census x$m") {
        d.select(TextAnalysis.wordPieceTokens(col("text"), graft.WpVocab.lines).as("p"))
          .agg(sum(size(col("p")))).head()
      }
    }),
    // bucket-bounded histogram exchange + broadcast delta + one doc
    // aggregate: nothing grows with corpus size except the streams, so
    // wall is near-linear
    Leg("dsirWeights", r => for (m <- r.mults) {
      val d = replicas(r.docs, m).select((col("doc_id") * m + col("rep")).as("doc_id"),
        col("source"), concat(col("text"), lit(" r"), col("rep")).as("text"))
      r.time(s"dsirWeights x$m") {
        Sampling.dsirWeights(d, "doc_id", "text", col("source") === "src0")
          .agg(sum(col("logw_micro"))).head()
      }
    }),

    // ---- recipe scan pieces, shipped paths only
    // the LineFilter leg of the recipe wholetext scan, pure JVM: the
    // omnisci recipe's rules (the heaviest corpus filter set) over 400k
    // omnisci-style log lines, five timed runs
    Leg("lineFilter", r => {
      val compiled = LineFilter.compile(Seq(
        "^(?!.+ ? ([0-9]+))" -> LineAction.Append,
        "^.+ ? ([0-9]+).+ stdlog sql_execute ([0-9]+) .+,\"(\\d+)\",\"(\\d+)\"\\}" ->
          LineAction.Replace("sql_execute,\\1,\\2,\\3,\\4"),
        "^(?!sql_)" -> LineAction.Drop))
      val lines = Array.tabulate(400000) { i =>
        if (i % 3 == 0) s"2026-08-18T00:00:0${i % 10} 12${i % 97} stdlog sql_execute ${i % 31} 42 x,\"${i % 7}\",\"${i % 11}\"}"
        else if (i % 3 == 1) "some continuation text without trailing digits marker"
        else s"2026-08-18T00:00:0${i % 10} 12${i % 97} other_event ${i % 31} noise"
      }
      for (run <- 1 to 5) r.time(s"lineFilter 400k lines #$run (chars)") {
        val it = LineFilter(compiled, lines.iterator)
        var c = 0L
        while (it.hasNext) c += it.next().length
        c
      }
    }),
    // the recipe CSV record parse (graft_csv_fields) over 4M pinned
    // benchmark-log-ish lines — numbers, words, a padded field, a blank,
    // quote-free (the fast path the corpus exercises) — into the noop
    // sink, three timed runs
    Leg("csvParse", r => {
      val fields = 8
      val df = r.spark.range(4000000L).select(concat_ws(",",
        col("id").cast("string"), lit("sklearn_kmeans"), (col("id") % 97).cast("string"),
        format_string(" %.3f", col("id") * 0.001), lit(""), lit("x86_64"),
        (col("id") * 31 % 1000).cast("string"), lit("train")).as("l"))
        .persist(StorageLevel.MEMORY_ONLY)
      df.count()
      for (run <- 1 to 3) r.time(s"graft_csv_fields 4M lines #$run") {
        df.select(call_function("graft_csv_fields", col("l"), lit(fields)).as("a"))
          .select((0 until fields).map(i => col("a").getItem(i).as(s"c$i")): _*)
          .write.format("noop").mode("overwrite").save()
      }
      df.unpersist()
    }),

    // ---- the full reference DAG (the q46 shape): summary_indicators.yml
    // — 11 recipe evaluations over 3 layers — on fixture trees whose LOG
    // LINE counts grow mult× (file/recipe layout fixed; see
    // ReferenceCorpus.ensure). That is the growth regime the DAG lives in
    // at 100 TB: the recipe tree is organizational, the data under it
    // scales. A scale-safe DAG grows ~linearly in wall with roughly
    // CONSTANT Spark job count: jobs measure coordination (inference
    // aggregates, ratio collects, cache fills — all per-recipe, not
    // per-row). Min-of-2 passes per mult: single draws on a co-tenant
    // host drift up to 2×; jobs come from the min pass.
    Leg("dag", r => {
      val jobs = QueryJobs.attach(r.spark)
      def runDag(root: String): (Double, Long, Int) = {
        jobs.take()
        val bench = graft.recipe.Benchmark(r.spark, s"$root/summary_indicators.yml")
        val (rows, wall) = r.seconds(bench.getAggregatedData().count())
        bench.unpersist()
        (wall, rows, jobs.take().size)
      }
      // unrecorded warmup: the first DAG execution pays whole-stage-codegen
      // JIT for every operator shape
      runDag(graft.corpus.ReferenceCorpus.ensure(r.spark, r.sfDir, 1))
      println(f"${"mult"}%-6s${"fixtureMB"}%-11s${"rows"}%-7s${"jobs"}%-6s${"wall_s"}%-8s")
      for (m <- r.mults) {
        val root = graft.corpus.ReferenceCorpus.ensure(r.spark, r.sfDir, m)
        def walk(f: java.io.File): Long =
          if (f.isDirectory) f.listFiles().map(walk).sum else f.length()
        val (wall, rows, nJobs) = (1 to 2).map(_ => runDag(root)).minBy(_._1)
        println(f"$m%-6d${walk(new java.io.File(root)) / 1e6}%-11.1f$rows%-7d$nJobs%-6d$wall%-8.2f")
      }
      jobs.close()
    }),

    // ---- streaming: the events replicated N× along the EVENT-TIME axis
    // (replica r shifted +31r days, ids offset), staged as one parquet
    // file per replica with strictly increasing mtimes — a log directory
    // filling over months, compressed into one drain. The production
    // tumbling-window aggregate (1-hour windows, 1-hour lateness) with
    // maxFilesPerTrigger=1 makes each replica one micro-batch, and the
    // watermark advances ~31 days between batches: every prior replica's
    // window state is EVICTED before the next batch lands. A scale-safe
    // plan shows wall growing ~linearly in N (state at any moment is one
    // replica's windows, not N×) and emitted windows = N × per-replica
    // windows MINUS only the final batch's watermark-held tail.
    Leg("stream", r => {
      val events = graft.Tables(r.spark, r.sfDir, "events")
      // one parquet file named so lexical order = arrival order, with an
      // explicit strictly-increasing mtime (the file source orders by it)
      def stageOne(df: DataFrame, watch: Path, seq: Int): Unit = {
        val tmp = Files.createTempDirectory("graft_streamscale_stage")
        df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
          .findFirst().get()
        val dest = watch.resolve(f"rep_$seq%04d.parquet")
        Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(1000000000000L + seq * 60000L))
      }
      println(f"${"mult"}%-6s${"events"}%-10s${"windows"}%-9s${"wall_s"}%-8s")
      for (n <- r.mults) {
        val watch = Files.createTempDirectory(s"graft_streamscale_$n")
        for (rep <- 0 until n) stageOne(
          events
            .withColumn("ts", col("ts") + expr(s"INTERVAL ${rep * 31} DAYS"))
            .withColumn("event_id", col("event_id") + lit(rep.toLong * 100000000L)),
          watch, rep)
        val total = r.spark.read.parquet(watch.toString).count()
        val (windows, wall) = r.seconds {
          val stream = graft.streaming.Streams.readEvents(r.spark, watch.toString,
            options = Map("maxFilesPerTrigger" -> "1"))
          val agg = graft.streaming.Streams.tumbling(stream,
            width = "1 hour", lateness = "1 hour", keys = Seq("event_type"))
          graft.streaming.Streams.drainToMemory(r.spark, agg,
            s"streamscale_$n", complete = false).count()
        }
        println(f"$n%-6d$total%-10d$windows%-9d$wall%-8.2f")
        r.spark.catalog.dropTempView(s"streamscale_$n")
      }
    }),

    // ---- file formats: write mult× data as 4·mult shards (shard count
    // grows with the corpus, as a real crawl's does), read it back; one
    // task per file on both sides, so wall must track bytes ~linearly
    Leg("warc", r => for (m <- r.mults) {
      val root = new java.io.File(graft.sources.Shards.fixture(s"graft_warcscale_$m") { dir =>
        r.time(s"warcWrite x$m") {
          graft.sources.Warc.writeWarc(pageCorpus(r, m), "uri", "html",
            dir, 4 * m, "2026-01-01T00:00:00Z")
        }
      })
      val res = r.time(s"warcRead x$m (rows)") {
        graft.sources.Warc.readWarc(r.spark, s"$root/part-*.warc.gz")
          .filter(col("http_status") === 200)
          .agg(count(lit(1)).as("n"), sum(length(col("body"))).as("b")).head()
      }
      println(s"    files=${4 * m} gzMB=${bytesEndingWith(root, ".gz") / 1000000} " +
        s"bodyMB=${res.getLong(1) / 1000000}")
    }),
    // the CDX random-access path: per-record gzip members + CDX sidecars,
    // read back as the FULL stream and as a fixed ~2% md5 slice of the
    // urls point-read through fetchRecords. The slice SIZE grows with the
    // corpus but its FRACTION stays constant, so point-read wall growing
    // ~linearly is the pass condition: it tracks the SLICE, not the
    // archive — a 0.1% fetch from a 100 TB archive costs 0.1% of the bytes
    Leg("cdx", r => for (m <- r.mults) {
      val root = new java.io.File(graft.sources.Shards.fixture(s"graft_cdxscale_$m") { dir =>
        r.time(s"cdxWrite x$m") {
          graft.sources.Warc.writeWarcIndexed(pageCorpus(r, m), "uri", "html",
            dir, 4 * m, "2026-01-01T00:00:00Z")
        }
      })
      r.time(s"streamAll x$m (rows, body bytes)") {
        graft.sources.Warc.readWarc(r.spark, s"$root/part-*.warc.gz")
          .agg(count(lit(1)), sum(length(col("body")))).head()
      }
      val slice = graft.sources.Warc.readCdx(r.spark, root.getPath)
        .filter(Sampling.hashBucket(col("url"), "cdxscale", 1000000) < 20000)
      r.time(s"fetch2% x$m (rows, body bytes)") {
        graft.sources.Warc.fetchRecords(slice, root.getPath)
          .agg(count(lit(1)), sum(length(col("body")))).head()
      }
      println(s"    files=${4 * m} gzMB=${bytesEndingWith(root, ".warc.gz") / 1000000}")
    }),
    // trainer handoff: documents replicated mult× are tokenized (exact
    // BPE, full canonical vocab), packed into 128-token sequences and
    // exported as Megatron .bin/.idx shards, then read back
    Leg("packIdx", r => for (m <- r.mults) {
      val merges = graft.SparkEntry.bpeCanonicalMerges
      val vocab = graft.expressions.BpeCodec.canonicalVocab(merges)
      val rep = replicas(r.docs, m)
        .select((col("doc_id") * m + col("rep")).as("doc_id"), col("lang"), col("text"))
      // the operator's contract: SHARD-SIZED groups (here a doc-hash
      // bucket that grows with the corpus, so per-group work stays
      // constant as mult rises); the repartition spreads the BPE
      // projection across cores before the window's group exchange
      val packed = Sampling.packSequences(
        rep.repartition(col("doc_id"))
          .select(pmod(xxhash64(col("doc_id")), lit(4L * m)).as("shard"),
            col("doc_id"),
            TextAnalysis.bpeIdsExact(col("text"), merges, vocab).as("ids")),
        Seq("shard"), "doc_id", "ids", seqLen = 128, eosId = 288)
      val root = new java.io.File(sys.props("java.io.tmpdir"), s"graft_trainscale_idx_$m")
      r.time(s"packWrite x$m") {
        graft.sources.IndexedTokens.writeIndexed(
          packed.select(concat(col("shard"), lit(":"), col("seq")).as("k"), col("ids")),
          "ids", "k", root.getPath, 4 * m, dtype = "u16")
      }
      r.time(s"packRead x$m (seqs, tokens)") {
        graft.sources.IndexedTokens.readIndexed(r.spark, s"$root/*.idx")
          .agg(count(lit(1)), sum(size(col("ids")))).head()
      }
      println(s"    files=${4 * m} binMB=${bytesEndingWith(root, ".bin") / 1000000}")
    }),
    Leg("safetensors", r => for (m <- r.mults) {
      val rep = replicas(r.emb, m).select((col("vec_id") * m + col("rep")).as("vec_id"),
        col("label"), col("embedding"))
      val root = new java.io.File(sys.props("java.io.tmpdir"), s"graft_trainscale_st_$m")
      r.time(s"stWrite x$m") {
        graft.sources.Safetensors.writeEmbeddings(rep,
          "vec_id", "label", "embedding", root.getPath, 4 * m)
      }
      r.time(s"stRead x$m (vecs, floats)") {
        graft.sources.Safetensors.readEmbeddings(r.spark, s"$root/*.safetensors")
          .agg(count(lit(1)), sum(size(col("embedding")))).head()
      }
      println(s"    files=${4 * m} MB=${bytesEndingWith(root, ".safetensors") / 1000000}")
    }),
    // one large Avro container shard read at 1 GiB splits (one task) vs
    // 1 MiB splits (many tasks): the sync-marker scan turns a single
    // shard into parallel work, so the many-split read beats or matches
    // the one-task read on a multi-core host (the gzip family CANNOT do
    // this at any setting). Second round = warm file cache.
    Leg("avroSplits", r => {
      val dir = Files.createTempDirectory("graft_avro_scale")
      graft.sources.Avro.write(
        replicas(r.docs, 8).select((col("doc_id") * 8 + col("rep")).as("doc_id"), col("text")),
        dir.toString, files = 1, saltCol = "doc_id", codec = "null", blockRows = 512)
      val shard = dir.toFile.listFiles().filter(_.getName.endsWith(".avro")).head
      println(s"  shard bytes: ${shard.length()}")
      def read(split: Long) = graft.sources.Avro.read(r.spark, shard.getPath, splitBytes = split)
        .agg(count(lit(1)), sum(length(col("text")))).head()
      for (_ <- 1 to 2) {
        val (_, one) = r.seconds(read(1L << 30))
        val (_, many) = r.seconds(read(1L << 20))
        println(f"  1 task (1 GiB splits) $one%.2fs  fan-out (1 MiB splits) $many%.2fs  " +
          f"speedup ${one / many}%.2fx")
      }
    }),

    // ---- multimodal codecs, row growth: the documents replicated N× with
    // tiny fixture payloads (the q86–q89/q91 shapes). Every decode
    // operator is partition-local (mapPartitions, zero exchanges —
    // plan-pinned in PlanAuditSpec), so wall MUST grow ~linearly in N;
    // any super-linear bend means the path picked up a shuffle or
    // driver-side state.
    Leg("mediaRows", r => for (n <- r.mults) {
      val ids = replicas(r.docs, n)
        .select((col("doc_id") * n + col("rep")).as("doc_id"), col("text"))
      println(s"mult=$n")
      decodeLeg(r, "pngResample", Multimodal.syntheticPixelAssets(ids), "out_hash",
        col("width") * col("height"))(Multimodal.resamplePixels(_, 8, 6))
      decodeLeg(r, "jpegPixels", Multimodal.syntheticJpegAssets(ids), "pix_hash",
        col("width") * col("height") * col("channels"))(Multimodal.decodePixels(_))
      decodeLeg(r, "gifFrames", Multimodal.syntheticGifAssets(ids), "frame_hash",
        col("width") * col("height") * lit(3))(Multimodal.decodeFrames(_, 2))
      decodeLeg(r, "wavFeatures", Multimodal.syntheticAudioAssets(ids), "sum_sq",
        col("n_samples") * col("channels") * lit(2))(Multimodal.audioFeatures(_))
      decodeLeg(r, "sniffRoute", Multimodal.syntheticMixedAssets(ids), "sniffed", lit(0L))(
        _.select(col("asset_id"), Multimodal.sniffModality(col("payload")).as("sniffed")))
    }, Seq(1, 16, 64)),
    // ---- payload growth: fixed 2048 assets with production-sized
    // payloads (hundreds of kB each), reporting decode MB/s — the number
    // that decides whether decode keeps up with scan bandwidth on a
    // 100 TB mixed-media corpus (bytes/s per core × cores is the
    // cluster's decode ceiling). Block mosaics keep the lossy JPEG path
    // decodable (wall, not exactness, is measured here — exactness is
    // q86–q89's oracle job).
    Leg("mediaPayload", r => {
      val big = r.spark.range(2048).select(col("id").as("doc_id"))
      val mmSchema = StructType(Seq(
        StructField("asset_id", LongType, nullable = false),
        StructField("modality", StringType, nullable = false),
        StructField("payload", BinaryType, nullable = true)))
      def gen(modality: String)(build: Long => Array[Byte]): DataFrame =
        big.mapPartitions { it =>
          it.map(row => Row(row.getLong(0), modality, build(row.getLong(0))))
        }(Encoders.row(mmSchema))
      val bigPng = gen("image/png") { id =>
        val w = 640; val h = 480
        val px = Array.tabulate(w * h)(i => ((id * 31 + i) % 256).toByte)
        Media.encodePng(Media.Raster(w, h, 1, px))
      }
      decodeLeg(r, "pngResample", bigPng, "out_hash",
        col("width") * col("height"))(Multimodal.resamplePixels(_, 64, 48))
      val bigJpeg = gen("image/jpeg") { id =>
        val w = 512; val h = 384
        val bw = (w + 7) / 8
        val px = Array.tabulate(w * h) { i =>
          val x = i % w; val y = i / w
          ((id * 29 + (y / 8) * bw + (x / 8)) % 256).toByte
        }
        Media.encodeJpeg(Media.Raster(w, h, 1, px),
          q = 0, restartInterval = (id % 3).toInt * 2)
      }
      decodeLeg(r, "jpegPixels", bigJpeg, "pix_hash",
        col("width") * col("height") * col("channels"))(Multimodal.decodePixels(_))
      val bigGif = gen("image/gif") { id =>
        val w = 128; val h = 128
        val palette = Array.tabulate(768)(i => (i / 3).toByte)
        val frames = (0 until 8).map { f =>
          (4, Array.tabulate(w * h)(i => ((id * 17 + f * 53 + i) % 256).toByte))
        }
        Media.encodeGif(w, h, palette, frames)
      }
      decodeLeg(r, "gifFrames", bigGif, "frame_hash",
        col("width") * col("height") * lit(3))(Multimodal.decodeFrames(_, 2))
      val bigWav = gen("audio/wav") { id =>
        val n = 16000 * 5 * 2 // 5 s stereo @ 16 kHz, interleaved
        val samples = Array.tabulate(n)(i => ((id * 7 + i * 13) % 4096 - 2048).toShort)
        Media.encodeWav(Media.Clip(16000, 2, samples))
      }
      decodeLeg(r, "wavFeatures", bigWav, "sum_sq",
        col("n_samples") * col("channels") * lit(2))(Multimodal.audioFeatures(_))
    })
  )

  private val usage = "usage: Scale <leg,...> <sfDir> [mults...]"

  /** `(legs, sfDir, mults)` from the command line; mults is empty when
    * each leg should use its own default. Starts nothing. */
  def parse(args: Array[String]): (Seq[Leg], String, Seq[Int]) = {
    require(args.length >= 2, s"$usage; legs: ${legs.map(_.name).mkString(",")}")
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(n => legs.exists(_.name == n))
    require(names.nonEmpty && unknown.isEmpty,
      s"unknown leg(s) '${unknown.mkString(",")}'; valid legs: ${legs.map(_.name).mkString(",")}")
    val mults = args.drop(2).toSeq.map { a =>
      a.toIntOption.filter(_ >= 1)
        .getOrElse(throw new IllegalArgumentException(s"$usage; mult '$a' is not a positive integer"))
    }
    (names.map(n => legs.find(_.name == n).get), args(1), mults)
  }

  def main(args: Array[String]): Unit = {
    val (selected, sfDir, mults) = parse(args)
    val spark = graft.GraftSession.local()
    try for (leg <- selected) {
      println(s"== ${leg.name}")
      leg.run(new Run(spark, sfDir, if (mults.nonEmpty) mults else leg.defaultMults))
    } finally spark.stop()
  }
}
