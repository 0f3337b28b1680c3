package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions._
import graft.operators.{Dedup, EventWindows, Joins, Multimodal, Profiling, Sampling, Similarity, TextAnalysis}

/** Driver contract — one `queries` entry (+ matching DuckDB `oracleSql`)
  * per implemented operator from SURVEY.md §2.
  *
  * Numeric determinism: floating-point sums are order-dependent, so both
  * sides sum via DECIMAL(28,6) (see [[graft.functions.dsum]]) and means of
  * logs are rounded — every value below is bit-identical between Spark and
  * DuckDB regardless of partitioning.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_group_agg")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- GRAPH: integer-exact PageRank over a synthetic link graph —
    //      frontier prioritization (nodes 47-52 are dangling: dst-only).
    //      Fixed-point BIGINT arithmetic end to end, so the 5-iteration
    //      power method is bit-stable under any partitioning and the
    //      oracle unrolls the same integer recurrence as chained CTEs
    "q144_pagerank" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val e = d.select((col("doc_id") % 47).as("src"),
          ((col("doc_id") * 7 + 3) % 53).as("dst"))
        .union(d.select(((col("doc_id") * 3) % 47).as("src"),
          ((col("doc_id") * 13 + 1) % 53).as("dst")))
      graft.operators.Crawl.pageRank(e, "src", "dst", iterations = 5)
        .select(col("node"), col("rank"))
    }),

    // ---- MM DEDUP: perceptual image near-dup — REAL PNGs decoded,
    //      dHash'd (9x8 gradient sign grid -> 64-bit sketch), banded
    //      Hamming<=2 self-join (pigeonhole-exact at 4 bands), then a
    //      per-asset dup census. The oracle recomputes every dHash from
    //      the pixel formula and brute-forces the pair scan
    "q145_image_dhash" -> ((s, dir) => {
      // quarter-density corpus (ids % 4): the collision clusters keep
      // their SHAPE (id arithmetic is periodic) at ~16x fewer true
      // pairs (5.0M -> 311k at sf0.1) — the full-density fixture was a
      // bench-budget problem, not a better test (round-9/10 postmortem;
      // the realistic-corpus scale evidence is the tools.Scale
      // dhashNearDups leg)
      val pairs = Multimodal.dhashNearDups(
        Multimodal.syntheticPixelAssets(
          t(s, dir, "documents").filter(col("doc_id") % 4 === 0)),
        maxHamming = 2, bands = 4)
      // explode, not union-of-two-selects: the union form evaluates the
      // whole banded join TWICE (no common subplan survives the aliases)
      pairs.select(explode(array(col("id_a"), col("id_b"))).as("asset_id"),
          col("hamming"))
        .groupBy("asset_id")
        .agg(count(lit(1)).as("n_dups"), min(col("hamming")).as("closest"))
    }),

    // ---- CRAWL capstone: PageRank-prioritized fetch order — the full
    //      scheduler mile: harvested links → frontier (dedup + in-link
    //      counts + per-host politeness cap) → host-graph PageRank →
    //      global fetch order (host rank, then in-links, ties by url).
    //      The host graph (a → 3a+1 and a → a²+1 mod 7) has asymmetric
    //      in-degree, so ranks genuinely differ across hosts
    "q153_ranked_frontier" -> ((s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents").select(col("doc_id"))
      val a = col("doc_id") % 7
      val b = (a * 3 + 1) % 7
      val c2 = (a * a + 1) % 7
      val u1 = concat(lit("https://h"), b.cast("string"),
        lit(".example/p/"), (col("doc_id") % 50).cast("string"))
      val u2 = concat(lit("https://h"), c2.cast("string"),
        lit(".example/q/"), (col("doc_id") % 31).cast("string"))
      val frontier = graft.operators.Crawl.frontier(
        d.select(explode(array(u1, u2)).as("href")), "href",
        Seq.empty[String].toDF("url"), Nil, perHostCap = 10)
      val pr = graft.operators.Crawl.pageRank(
        d.select(a.as("src"), b.as("dst"))
          .union(d.select(a.as("src"), c2.as("dst"))),
        "src", "dst", iterations = 3)
        .select(col("node"), col("rank").as("host_rank"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("host_rank").desc, col("inlinks").desc, col("url").asc)
      frontier
        .join(pr, regexp_extract(col("host"), "^h([0-9]+)\\.", 1)
          .cast("long") === col("node"))
        .select(col("url"), col("host"), col("inlinks"), col("host_rank"))
        .withColumn("fetch_rank", row_number().over(w))
        .filter(col("fetch_rank") <= 20)
    }),

    // ---- EVAL: exact binary AUC over a tie-heavy synthetic scorer
    //      (20 integer score levels, label correlated through two
    //      residue systems) — Mann–Whitney rank-sum with average-rank
    //      ties, all-integer until the one final divide
    "q151_classifier_auc" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(
        (col("doc_id") % 20).cast("double").as("score"),
        ((col("doc_id") % 20) + (col("doc_id") % 7) >= 12)
          .cast("long").as("label"))
      Profiling.binaryAuc(d, col("score"), col("label"))
    }),

    // ---- EVAL: calibration report — 10 equal-width score buckets,
    //      integer counts + midpoint constants + one divide per bin;
    //      the probability-quality companion to q151's ranking check
    "q152_calibration" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(
        ((col("doc_id") % 97).cast("double") / 97.0).as("score"),
        ((col("doc_id") % 97) + (col("doc_id") % 13) >= 55)
          .cast("long").as("label"))
      Profiling.calibrationBins(d, col("score"), col("label"), bins = 10)
    }),

    // ---- OPS: corpus snapshot diff — the crawl-to-crawl delta report:
    //      ids dropped (%17), content-mutated (%5), newly added (%13
    //      twins at +1e6) classify as removed/changed/added against the
    //      md5 content fingerprint; each side reduces to (id, hash) at
    //      the scan, ONE id-keyed full-outer join
    "q150_corpus_diff" -> ((s, dir) => {
      val prev = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("source"))
      val cur = prev
        .filter(col("doc_id") % 17 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .union(prev.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            col("text"), col("source")))
      Profiling.corpusDiff(prev, cur, "doc_id", Seq("text", "source"))
        .groupBy("status").agg(count(lit(1)).as("n"))
    }),

    // ---- MM DEDUP capstone: dHash pairs → distributed connected
    //      components → cluster-size census. The fixture's gradient
    //      corpus chains into one giant component plus five same-shape
    //      clusters — exactly the transitive-closure behavior a real
    //      image-dedup pass must survive (CC is the alternating-star
    //      algorithm, never a driver traversal)
    "q149_image_dedup_cc" -> ((s, dir) => {
      // same quarter-density corpus as q145 (see there): ~16x fewer
      // pairs into CC, identical cluster shape
      val assets = Multimodal.syntheticPixelAssets(
        t(s, dir, "documents").filter(col("doc_id") % 4 === 0))
      val pairs = Multimodal.dhashNearDups(assets, maxHamming = 2, bands = 4)
      val cc = Dedup.connectedComponents(pairs.select("id_a", "id_b"))
      assets.select(col("asset_id"))
        .join(cc, col("asset_id") === col("id"), "left")
        .select(col("asset_id"),
          coalesce(col("rep"), col("asset_id")).as("rep"))
        .groupBy("rep").agg(count(lit(1)).as("csize"))
        .groupBy("csize").agg(count(lit(1)).as("n_clusters"))
    }),

    // ---- DEDUP: incremental connected components — the daily-ingest
    //      clustering contract: build CC over the even-doc batch, fold
    //      the odd-doc batch in via ccAppend (the existing star forest
    //      re-enters the contraction as already-contracted edges, so
    //      cost tracks the delta), and the result must equal a FULL
    //      rebuild over every pair — which is exactly what the oracle
    //      computes by transitive closure. The affine edge map
    //      u -> 13u+7 mod 120 makes even edges small fragments that the
    //      odd batch stitches into full cycles, so the append genuinely
    //      merges components rather than replaying them
    "q155_cc_append" -> ((s, dir) => {
      def pairsOf(d: org.apache.spark.sql.DataFrame) =
        d.select((col("doc_id") % 120).as("id_a"),
          ((col("doc_id") * 13 + 7) % 120).as("id_b"))
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val base = Dedup.connectedComponents(
        pairsOf(docs.filter(col("doc_id") % 2 === 0)))
      Dedup.ccAppend(base, pairsOf(docs.filter(col("doc_id") % 2 === 1)))
    }),

    // ---- DEDUP: content-defined exact-substring spans (the Lee et al.
    //      ExactSubstr family, shuffle-shaped) — every doc chunked at
    //      md5-defined token anchors, chunk CONTENT grouped corpus-wide,
    //      non-first duplicated runs stitched to maximal spans. The
    //      fixture plants a 60-token slice of every %10 doc at an
    //      OFF-BOUNDARY offset (7 into the source, behind 7 pads in the
    //      twin): content-defined anchors travel with the content, so
    //      the copies' chunks align at any offset — deterministically,
    //      where duplicateSpans' sampleMod knob is probabilistic
    "q156_exact_substr" -> ((s, dir) =>
      Dedup.exactSubstrSpans(exactSubstrCorpus(s, dir),
        "doc_id", "text", minTokens = 24, gap = 8)),

    // ---- DEDUP: the removal transform over q156's deterministic spans
    //      (round 11) — the same fixture, spans CUT from every doc
    //      keeping the corpus-wide first occurrence; clean_text hashes
    //      byte-exactly against the oracle's reconstruction, closing
    //      the deterministic path's end-to-end remove story the way
    //      q81 closes duplicateSpans'
    "q160_exact_substr_removal" -> ((s, dir) =>
      Dedup.removeExactSubstrSpans(exactSubstrCorpus(s, dir),
        "doc_id", "text", minTokens = 24, gap = 8)),

    // ---- CRAWL: declared-politeness frontier (round 11) — per-host
    //      Crawl-delay (and Sitemap counts) parsed from robots.txt
    //      drive a rate-derived per-host fetch budget instead of one
    //      global cap. Fixture: 7 hosts x 50 pages; host0/1 declare a
    //      named-group 2s delay (the named group beats the *'s 100),
    //      host2 a fractional 12.5s, host4's 90s exceeds the 60s window
    //      (fetches NOTHING), host6's value is junk, host3/5 have no
    //      robots row at all — both default-delay paths oracle-live
    "q158_rate_frontier" -> ((s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents")
      val n7 = (col("doc_id") % 7).cast("string")
      val n50 = (col("doc_id") % 50).cast("string")
      val links = d.select(concat(lit("https://host"), n7,
        lit(".example/page/"), n50).as("href"))
      val named = "User-agent: graftbot\nCrawl-delay: 2\nDisallow: /none\n" +
        "Sitemap: https://x.example/a.xml\nSitemap: https://x.example/b.xml\n" +
        "User-agent: *\nCrawl-delay: 100"
      val wild = "User-agent: *\nCrawl-delay: 12.5"
      val huge = "User-agent: *\nCrawl-delay: 90\nSitemap: https://x.example/c.xml"
      val junk = "User-agent: *\nCrawl-delay: soon"
      val robots = Seq(
        ("host0.example", named), ("host1.example", named),
        ("host2.example", wild), ("host4.example", huge),
        ("host6.example", junk)).toDF("host", "txt")
      graft.operators.Crawl.rateLimitedFrontier(links, "href",
        seen = Seq.empty[String].toDF("url"), blocked = Nil,
        robots = robots, hostCol = "host", txtCol = "txt",
        userAgent = "graftbot", windowSec = 60.0, defaultDelaySec = 15.0,
        maxPerHost = 8)
    }),

    // ---- TEXT: confidence-scored language ID (round 11) — langId's
    //      labels plus the score curation pipelines threshold on (CCNet
    //      keeps p >= 0.5): normalized marker margin on argmax'd
    //      scripts, script ratio on routed ones — exact ints + ONE IEEE
    //      divide, bit-stable. Salted with q19's per-script samples AND
    //      deliberately ambiguous mixed-marker texts so tie (0.0),
    //      mid-range, and clean (1.0) margins are all oracle-live,
    //      grouped through the p >= 0.5 gate itself
    "q159_lang_confidence" -> ((s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents")
      val salted = d.select(lit("salt").as("lang"), element_at(array(
        langSaltSamples.map(lit): _*),
        (col("doc_id") % langSaltSamples.length + 1).cast("int")).as("text"))
      val ambiguous = langAmbiguousSamples.toDF("text")
        .select(lit("amb").as("lang"), col("text"))
      d.select(col("lang"), col("text"))
        .unionByName(salted).unionByName(ambiguous)
        .select(col("lang"),
          graft.operators.TextAnalysis.langIdScored(col("text")).as("g"))
        .select(col("lang"), col("g.lang").as("guess"),
          col("g.score").as("score"))
        .groupBy(col("lang"), col("guess"),
          (col("score") >= 0.5).as("confident"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("score")).as("min_score"),
          max(col("score")).as("max_score"))
    }),

    // ---- TEXT: exact WordPiece (round 11) — the BERT-family third
    //      tokenizer beside GPT-2 BPE (q84) and SentencePiece (q154):
    //      greedy longest-match-first over the trained canonical vocab,
    //      ## continuations, whole-word [UNK] on dead ends. Per-lang
    //      fertility census; the oracle replays the greedy loop as a
    //      recursive CTE over the same embedded vocab
    "q161_wordpiece" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val nw = expr("size(filter(split(trim(text), '\\\\s+'), w -> w <> ''))")
        .cast("long")
      d.select(col("lang"),
          graft.operators.TextAnalysis
            .wordPieceTokens(col("text"), wpCanonicalVocab).as("ps"),
          nw.as("nw"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nw")).as("sum_words"),
          sum(size(col("ps")).cast("long")).as("sum_pieces"),
          sum(size(filter(col("ps"), p => p === "[UNK]")).cast("long"))
            .as("sum_unk"))
        .withColumn("fertility",
          col("sum_pieces").cast("double") / col("sum_words"))
    }),

    // the piece census through BOTH surfaces: piece strings zipped with
    // their vocab.txt line ids (the BERT drop-in convention), top-20.
    // Optimization round 11: the piece STRING is a function of the id
    // (vocab line i holds exactly one piece; duplicate lines never win
    // an id, and id -1 is always [UNK]), so encode ONCE to ids and
    // attach the piece from the vocab after the aggregation — the old
    // zip_with ran the greedy WordPiece encode TWICE per document
    // (tokens + ids) and shuffled the piece string beside the id it is
    // determined by. Same rows, same hash: groupBy(id) groups exactly
    // like groupBy(piece, id) did.
    "q162_wordpiece_pieces" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val V = wpCanonicalVocab
      val pieces = V.map(_.trim).filter(_.nonEmpty)
      val pieceOfId = when(col("id") === -1, lit(graft.expressions.WpCodec.Unk))
        .otherwise(element_at(array(pieces.map(lit): _*), col("id") + 1))
      t(s, dir, "documents")
        .select(explode(
          graft.operators.TextAnalysis.wordPieceIds(col("text"), V)).as("id"))
        .groupBy("id").agg(count(lit(1)).as("n"))
        .select(pieceOfId.as("piece"), col("id"), col("n"))
        .withColumn("rank", row_number()
          .over(Window.orderBy(col("n").desc, col("piece"))).cast("int"))
        .filter(col("rank") <= 20)
    }),

    // ---- STORAGE: TFRecord/tf.train.Example round trip (round 11) —
    //      documents exported once per sf dir as 4 TFRecord shards
    //      (hand-rolled framing with masked CRC32C + protobuf Example;
    //      no TF, no protobuf lib), read back through the CRC-verified
    //      one-task-per-file source, content aggregated against the
    //      source parquet (the q136 safetensors pattern). The f32
    //      score rides k/8 values — exact in f32 AND double, so the
    //      sum is bit-stable without a decimal bridge
    "q165_tfrecord" -> ((s, dir) => {
      val root = graft.sources.TfRecord.ensureDocumentsFixture(s, dir)
      graft.sources.TfRecord.read(s, s"$root/*.tfrecord", Seq(
          "doc_id" -> "int64", "lang" -> "bytes", "text" -> "bytes",
          "score" -> "float"))
        .select(element_at(col("doc_id"), 1).as("id"),
          decode(element_at(col("lang"), 1), "UTF-8").as("lang"),
          length(element_at(col("text"), 1)).cast("long").as("tb"),
          element_at(col("score"), 1).cast("double").as("sc"))
        .groupBy((col("id") % 8).as("g"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("id")).as("n_ids"),
          sum(col("id")).as("sum_ids"),
          sum(col("tb")).as("sum_text_bytes"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("sc")).as("sum_score"))
    }),

    // ---- STORAGE: Avro object-container round trip (round 11) —
    //      documents exported once per sf dir as 4 Avro shards (two
    //      deflate + two null codec, written and read by the Avro
    //      library Spark ships), read back through the
    //      SPLIT-capable source at 64 KiB splits so real sync-marker
    //      scans run inside the oracle query — unlike the gzip family
    //      a shard fans out across tasks. Exercises the `["null",
    //      double]` union (score NULL on doc_id%7==0; k/8-exact
    //      otherwise so the double sum is bit-stable) and arrays incl.
    //      empty (marks = first doc_id%4 of [1,2,3])
    "q166_avro_roundtrip" -> ((s, dir) => {
      val root = graft.sources.Avro.ensureDocumentsFixture(s, dir)
      graft.sources.Avro.read(s, s"$root/*/part-*.avro",
          splitBytes = 1L << 16)
        .groupBy((col("doc_id") % 8).as("g"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("doc_id")).as("n_ids"),
          sum(col("doc_id")).as("sum_ids"),
          sum(length(col("text")).cast("long")).as("sum_text_chars"),
          sum(when(col("score").isNull, 1L).otherwise(0L))
            .as("n_null_scores"),
          sum(col("score")).as("sum_score"),
          sum(expr("aggregate(marks, 0L, (a, x) -> a + x)"))
            .as("sum_marks"))
    }),

    // ---- DATA SELECTION: DSIR importance resampling (round 11) — the
    //      published hashed-ngram method (Xie et al. 2023): target =
    //      src0 (the q82 "trusted reference" convention), raw = the
    //      rest; per-doc log importance weight as an order-independent
    //      integer micro-nat sum (ONE quantization of the bounded
    //      per-bucket log-ratio table), kept = more target-like than
    //      pool-like. The histogram exchange is bucket-bounded; the
    //      delta table broadcasts
    "q167_dsir_weights" -> ((s, dir) =>
      Sampling.dsirWeights(t(s, dir, "documents"), "doc_id", "text",
        targetFilter = col("source") === "src0")),

    // ---- SIMILARITY: SQ8 scalar-quantized top-k (round 11) — the
    //      other standard ANN codec beside PQ (FAISS QT_8bit shape):
    //      per-dim [min,max] trained in one dim-bounded exchange,
    //      codes 4x smaller than the floats, SYMMETRIC integer
    //      distance so every score is an exact BIGINT (no float
    //      reassociation anywhere). Same query set as q24 for a
    //      side-by-side with the exact-cosine baseline
    "q168_sq8_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.sq8TopK(e.filter(col("vec_id") < 8), e,
        "vec_id", "embedding", 5)
    }),

    // ---- LM QUALITY: interpolated Kneser–Ney bigram LM (round 11) —
    //      the smoothing the published perplexity filters actually run
    //      (CCNet scores with KenLM = Kneser–Ney): absolute discount
    //      D=0.75, continuation-count backoff, add-k floor at the
    //      lowest order. Same model slice and output contract as the
    //      add-k LM (q82) for a side-by-side
    "q169_kn_lm_score" -> ((s, dir) =>
      TextAnalysis.knBigramScore(t(s, dir, "documents"), "doc_id", "text",
        modelFilter = col("source") === "src0")),

    // ---- CURATION: CCNet head/middle/tail perplexity buckets (round
    //      11) — Wenzek et al. 2020's split, per language at exact
    //      interpolated terciles of the q169 KN perplexity; `head` is
    //      what pretraining mixes upweight
    "q170_ccnet_buckets" -> ((s, dir) =>
      TextAnalysis.ccnetBuckets(t(s, dir, "documents"), "doc_id", "text",
        "lang", modelFilter = col("source") === "src0")),

    // ---- SIMILARITY: hard-negative mining (round 11) — the published
    //      contrastive-training recipe (DPR/SimCSE): per anchor, the
    //      top-k corpus rows by cosine INSIDE the band [0.1, 0.35) —
    //      informative near-misses below the near-dup zone
    "q174_hard_negatives" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.hardNegatives(e.filter(col("vec_id") < 8), e,
        "vec_id", "embedding", k = 5, loCos = 0.1, hiCos = 0.35)
    }),

    // ---- TRAINING-DATA capstone (round 11): contrastive TRIPLETS —
    //      anchors with a near-dup positive (the q25 banded-LSH pairs
    //      at cos >= 0.4) each paired with their best hard negative in
    //      [0.1, 0.35); the (anchor, positive, negative) stream a
    //      contrastive trainer consumes. Anchors without an in-band
    //      negative drop (inner join — a declared contract)
    "q175_contrastive_triplets" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val pos = graft.operators.Dedup.embeddingNearDupsBanded(
          e, "vec_id", "embedding", 0.4, bands = 4, bandBits = 8)
        .filter(col("id_a") < 256)
        .select(col("id_a").as("anchor"), col("id_b").as("positive"),
          col("cos").as("pos_cos"))
        .localCheckpoint(false)
      val anchors = pos.select(col("anchor").as("vec_id")).distinct()
        .join(e, Seq("vec_id"))
      val negs = Similarity.hardNegatives(anchors, e, "vec_id",
          "embedding", k = 1, loCos = 0.1, hiCos = 0.35)
        .select(col("query_id").as("anchor"),
          col("neighbor_id").as("negative"), col("cos").as("neg_cos"))
      pos.join(negs, Seq("anchor"))
        .select("anchor", "positive", "pos_cos", "negative", "neg_cos")
    }),

    // ---- PROFILING: token-distribution drift (round 11) — the
    //      crawl-to-crawl monitor behind distributionally-aware
    //      curation (DoReMi-style reweighting reads these): per-lang
    //      KL both ways + Jensen–Shannon between the even/odd doc_id
    //      halves, add-half smoothed over the union vocab; integer
    //      micro-nat sums, one int→double divide per divergence
    "q173_token_drift" -> ((s, dir) =>
      Profiling.tokenDistributionDrift(t(s, dir, "documents"), "text",
        "lang", aFilter = col("doc_id") % 2 === 0)),

    // ---- DEDUP: quality keep policy (round 11) — near-dup clusters
    //      keep their LONGEST member (the RefinedWeb-style policy)
    //      instead of q48's smallest-id: same banded-LSH clustering,
    //      one rep-window argmax on n_chars
    "q172_best_dedup" -> ((s, dir) =>
      Dedup.keepBestPerCluster(t(s, dir, "documents"), "doc_id", "text",
        score = col("n_chars"), threshold = 0.5, k = 12, bands = 4)),

    // ---- TEXT: Unigram-LM tokenizer (round 11) — the FOURTH published
    //      tokenizer family (Kudo 2018, SentencePiece unigram) beside
    //      GPT-2 BPE (q84), SentencePiece BPE (q154) and WordPiece
    //      (q161): Viterbi argmax segmentation over piece log-probs,
    //      integer micro-nat scores so the census sums are exact. The
    //      oracle replays the DP as a GENERATED 32-step unrolled
    //      program over distinct words — max-combined per position,
    //      where combined = 64·Σlp − n_pieces pins the tie order
    "q171_unigram" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val nw = expr("size(filter(split(trim(text), '\\\\s+'), w -> w <> ''))")
        .cast("long")
      d.select(col("lang"),
          TextAnalysis.unigramEncode(col("text"), ugCanonicalVocab).as("e"),
          nw.as("nw"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nw")).as("sum_words"),
          sum(size(col("e.pieces")).cast("long")).as("sum_pieces"),
          sum(col("e.score_micro")).as("sum_score_micro"))
    }),

    // ---- CURATION capstone (round 11): the FineWeb-style SEQUENTIAL
    //      funnel — q142 reports independent gate flags; this is the
    //      pipeline a curation run actually executes, each stage
    //      filtering the previous stage's survivors: confidence-gated
    //      langId (en at p >= 0.5, the CCNet posture) → Gopher quality
    //      → Gopher repetition → C4 rules → exact dedup keeping the
    //      smallest doc_id per canonical fingerprint AMONG SURVIVORS
    //      (dedup after quality, the published order — a dup of a
    //      rejected doc must not die with it). Per-source survivor
    //      counts = the corpus-card ablation table
    "q164_curation_funnel" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // salted so every stage has LIVE survivors: the raw synthetic
      // corpus dies wholesale at the C4 gate (no terminal-punctuation
      // sentences), which would leave s4/s5 trivially zero on both
      // engines — matching, but attesting nothing. %20==7 docs become
      // ONE shared fully-compliant doc (the dedup stage keeps exactly
      // its smallest doc_id); %20==13 docs gain a compliant paragraph
      // (unique per doc -> C4 survivors that dedup keeps)
      val d = t(s, dir, "documents").select(col("source"), col("doc_id"),
        when(col("doc_id") % 20 === 7, lit(curationDupDoc))
          .when(col("doc_id") % 20 === 13,
            concat(col("text"), lit("\n" + curationGoodPara)))
          .otherwise(col("text")).as("text"))
      val staged = d.select(col("source"), col("doc_id"),
          graft.operators.TextAnalysis.langIdScored(col("text")).as("g"),
          TextAnalysis.gopherKeep(col("text")).as("gk"),
          TextAnalysis.gopherRepetitionKeep(col("text")).as("rk"),
          TextAnalysis.c4PageKeep(TextAnalysis.c4LineClean(col("text")))
            .as("ck"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
        .withColumn("s1", col("g.lang") === "en" && col("g.score") >= 0.5)
        .withColumn("s2", col("s1") && col("gk"))
        .withColumn("s3", col("s2") && col("rk"))
        .withColumn("s4", col("s3") && col("ck"))
        .withColumn("s5", col("s4") &&
          col("doc_id") === min(when(col("s4"), col("doc_id")))
            .over(Window.partitionBy("fp")))
      staged.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("s1"), 1L).otherwise(0L)).as("n_lang"),
        sum(when(col("s2"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("s3"), 1L).otherwise(0L)).as("n_repetition"),
        sum(when(col("s4"), 1L).otherwise(0L)).as("n_c4"),
        sum(when(col("s5"), 1L).otherwise(0L)).as("n_final"))
    }),

    // ---- CRAWL: integer-exact HITS (round 11) — hubs/authorities over
    //      q144's asymmetric link graph, unnormalized alternating path
    //      counts (pure BIGINT sums, bit-stable under any partitioning;
    //      the published L2 normalization only rescales). PageRank says
    //      "globally endorsed"; HITS separates index pages worth
    //      re-crawling for discovery (hubs) from content worth ranking
    //      (authorities)
    "q163_hits" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val e1 = d.select((col("doc_id") % 47).as("src"),
        ((col("doc_id") * 7 + 3) % 53).as("dst"))
      val e2 = d.select(((col("doc_id") * 3) % 47).as("src"),
        ((col("doc_id") * 13 + 1) % 53).as("dst"))
      graft.operators.Crawl.hits(e1.unionByName(e2), "src", "dst",
        iterations = 3)
    }),

    // ---- DEDUP: exact prefix-filtered Jaccard self-join (PPJoin) —
    //      no blocking key, total recall at t=0.5; corpus = documents
    //      plus a tail-mutated twin per even doc, so every kept doc has
    //      a known near-dup and the oracle can brute-force the truth
    "q146_prefix_jaccard" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text"))
      val mut = d.select((col("doc_id") + lit(1000000L)).as("doc_id"),
        concat(col("text"), lit(" graft dup probe tail")).as("text"))
      Dedup.prefixJaccardPairs(d.union(mut), "doc_id", "text",
        n = 3, threshold = 0.5)
    }),

    // ---- CRAWL: SURT keys (the Internet Archive / Common Crawl CDX
    //      sort convention) — clean and messy fetch variants of the
    //      same page, plus a www. host spelling, collapse through
    //      canonicalUrl+surtKey to ONE domain-sorted key; non-URLs
    //      yield the null group
    "q147_surt_key" -> ((s, dir) => {
      val n5 = (col("doc_id") % 5).cast("string")
      val n20 = (col("doc_id") % 20).cast("string")
      val clean = concat(lit("https://news"), n5, lit(".example.com/a/"), n20)
      val www = concat(lit("HTTPS://WWW.News"), n5,
        lit(".Example.COM:443/a/"), n20, lit("?utm_source=x#f"))
      t(s, dir, "documents")
        .select(explode(array(clean, www, lit("/relative"))).as("url"))
        .select(TextAnalysis.surtKey(
          TextAnalysis.canonicalUrl(col("url"))).as("surt"))
        .groupBy("surt").agg(count(lit(1)).as("n"))
    }),

    // ---- TEXT REPAIR: mojibake inverse-decode + NFC normalization —
    //      the two encoding fixes a crawl corpus needs before any
    //      hashing; both are codegen'd scan expressions. The mojibake
    //      oracle pins the case matrix as literals; the NFC oracle is a
    //      TRUE cross-engine check (DuckDB's own nfc_normalize)
    "q148_fix_encoding" -> ((s, dir) => {
      val moji = element_at(array(mojibakeSamples.map(p => lit(p._1)): _*),
        (col("doc_id") % mojibakeSamples.length + 1).cast("int"))
      val nfd = element_at(array(nfdSamples.map(lit): _*),
        (col("doc_id") % nfdSamples.length + 1).cast("int"))
      t(s, dir, "documents")
        .select(col("doc_id"), moji.as("broken"), nfd.as("decomposed"))
        .select(col("doc_id"),
          TextAnalysis.fixMojibake(col("broken")).as("repaired"),
          TextAnalysis.nfcNormalize(col("decomposed")).as("composed"),
          // idempotence surfaced in-row: repairing the repaired text
          // and composing the composed text must be no-ops
          (TextAnalysis.fixMojibake(TextAnalysis.fixMojibake(col("broken")))
            === TextAnalysis.fixMojibake(col("broken"))).as("repair_stable"),
          length(col("decomposed")).as("nfd_len"))
    }),

    // ---- A1/A2: the core group-aggregate (bearysta aggregate.py:719-727)
    "q01_group_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"),
          davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("n_rows"))
    }),

    // ---- A2: min/max/median (exact median, not approx — oracle equality)
    "q02_minmax_median" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"),
          graft.functions.exactMedian(col("o_totalprice")).as("med_price"),
          count(lit(1)).as("n_rows"))
    }),

    // ---- A2: geomean = exp(avg(ln x)) (aggregate.py:94-99)
    "q03_geomean" -> ((s, dir) => {
      t(s, dir, "part")
        .groupBy("p_brand")
        .agg(round(geomean(col("p_retailprice")), 6).as("geo_price"),
             count(lit(1)).as("n_rows"))
    }),

    // ---- A3: empty-key group-by = one global group (aggregate.py:21-39)
    "q04_global_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy()
        .agg(
          count(lit(1)).as("n_rows"),
          dsum(col("l_extendedprice")).as("sum_price"),
          min(col("l_shipdate")).as("min_ship"),
          max(col("l_shipdate")).as("max_ship"))
    }),

    // ---- F2: filter-in, typed isin (aggregate.py:549-551)
    "q05_filter_in" -> ((s, dir) => {
      t(s, dir, "orders")
        .filter(col("o_orderstatus").isin("F", "O"))
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n_rows"),
             dsum(col("o_totalprice")).as("sum_price"))
    }),

    // ---- F1: filter-out, NOT-IN incl. numeric-typed values
    //      (aggregate.py:341-343; typed match per SURVEY §2.3 note)
    "q06_filter_out" -> ((s, dir) => {
      t(s, dir, "part")
        .filter(!col("p_size").isin(1, 2, 3))
        .filter(!col("p_type").isin("PROMO"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_rows"),
             dsum(col("p_retailprice")).as("sum_price"))
    }),

    // ---- P1/P2/P3: rename + computed columns (when/otherwise, split,
    //      concat — the precomputed idiom set of SURVEY §2.2)
    "q07_rename_computed" -> ((s, dir) => {
      t(s, dir, "customer")
        .withColumnRenamed("c_mktsegment", "segment")
        .withColumn("tier",
          when(col("c_acctbal") < 0, "negative")
            .when(col("c_acctbal") < 5000, "mid")
            .otherwise("high"))
        .withColumn("cust_num", element_at(split(col("c_name"), "#"), 2))
        .groupBy("segment", "tier")
        .agg(count(lit(1)).as("n_rows"),
             min(col("cust_num")).as("first_cust"))
    }),

    // ---- A4: ratio_of — ratio of group-aggregate to base-aggregate,
    //      base picked by series literal (aggregate.py:354-442)
    "q08_ratio_of" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val grp = li.groupBy("l_returnflag", "l_linestatus")
        .agg(davg(col("l_extendedprice")).as("v"))
      val base = li.filter(col("l_returnflag") === "N")
        .groupBy("l_linestatus")
        .agg(davg(col("l_extendedprice")).as("b"))
      grp.join(broadcast(base), Seq("l_linestatus"))
        .select(col("l_returnflag"), col("l_linestatus"),
                (col("v") / col("b")).as("ratio"))
    }),

    // ---- R1: pack / melt (aggregate.py:511-517) — Dataset.unpivot
    "q09_pack" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax")
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "name", "value")
    }),

    // ---- R2/W1: unpack / pivot (aggregate.py:519-541) — name column
    //      becomes one column per value
    "q10_unpack" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(dsum(col("value")))
    }),

    // ---- O3: union-by-name with missing→null (aggregate.py:173)
    "q11_union_by_name" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(
        col("c_custkey").as("id"), col("c_name").as("name"),
        col("c_acctbal").as("acctbal"), col("c_mktsegment").as("segment"),
        lit("customer").as("src"))
      val sup = t(s, dir, "supplier").select(
        col("s_suppkey").as("id"), col("s_name").as("name"),
        col("s_acctbal").as("acctbal"), lit("supplier").as("src"))
      c.unionByName(sup, allowMissingColumns = true)
    }),

    // ---- A6: distinct / drop_duplicates (aggregate.py:633,687)
    "q12_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select("l_returnflag", "l_linestatus")
        .distinct()
    }),

    // ---- O4: except — expected-minus-present (aggregate.py:639)
    "q13_except" -> ((s, dir) => {
      val all = t(s, dir, "part").select("p_type").distinct()
      val small = t(s, dir, "part").filter(col("p_size") < 45)
        .select("p_type").distinct()
      all.except(small)
    }),

    // ---- J2: equi-join + aggregate; dim side broadcast
    "q14_join_agg" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
             dsum(col("o_totalprice")).as("sum_price"))
    }),

    // ---- A7/J4/O4: expected-combination fill — missing expected series
    //      combos appear as null rows (aggregate.py:619-671)
    "q15_expected_fill" -> ((s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem")
      val agg = li.groupBy("l_linestatus", "l_returnflag")
        .agg(round(davg(col("l_quantity")), 6).as("avg_qty"))
      val expected = Seq("A", "N", "R", "X").toDF("l_returnflag")
      val grid = li.select("l_linestatus").distinct().crossJoin(expected)
      val missing = grid.join(agg, Seq("l_linestatus", "l_returnflag"), "left_anti")
        .withColumn("avg_qty", lit(null).cast("double"))
      agg.unionByName(missing)
    }),

    // ---- A8/O1: expected-ordering check — per group, series ordered by
    //      aggregated value desc (aggregate.py:674-703)
    "q16_ordering_check" -> ((s, dir) => {
      val grouped = t(s, dir, "lineitem")
        .groupBy("l_linestatus", "l_returnflag")
        .agg(round(davg(col("l_extendedprice")), 6).as("v"))
      grouped.groupBy("l_linestatus")
        .agg(concat_ws(",",
          transform(
            array_sort(collect_list(struct((-col("v")).as("nv"),
              col("l_returnflag").as("f")))),
            x => x.getField("f"))).as("order_desc"))
    }),

    // ---- A8 as a QUERYABLE verdict (not just a warning string): one row
    //      per group with expected vs observed series order and a pass
    //      flag — the oracle-checkable face of the ordering check
    "q79_ordering_verdict" -> ((s, dir) => {
      val grouped = t(s, dir, "lineitem")
        .groupBy("l_linestatus", "l_returnflag")
        .agg(round(davg(col("l_extendedprice")), 6).as("v"))
      graft.recipe.OrderingCheck.verdict(grouped,
        groupCols = Seq("l_linestatus"), seriesCols = Seq("l_returnflag"),
        valueCol = "v", expected = Seq(Seq("N"), Seq("A"), Seq("R")),
        higherIsBetter = false)
    }),

    // ---- SPAN DEDUP: exact duplicated k-token spans (the Lee et al.
    //      2022 suffix-array primitive, Spark-first — see
    //      Dedup.duplicateSpans). The synthetic corpus contains planted
    //      near-duplicate documents, so whole-doc spans surface
    //      naturally; no augmentation needed.
    "q80_dup_spans" -> ((s, dir) =>
      Dedup.duplicateSpans(t(s, dir, "documents"), "doc_id", "text", k = 10)),

    // the removal transform itself: every doc back with flagged spans cut
    "q81_span_removal" -> ((s, dir) =>
      Dedup.removeDuplicateSpans(t(s, dir, "documents"), "doc_id", "text", k = 10)),

    // ---- LM QUALITY: CCNet-style perplexity filter — add-k bigram LM
    //      trained on the src0 slice (the "trusted reference"), scoring
    //      every document; low avg_logp = unlike the reference corpus
    "q82_lm_score" -> ((s, dir) =>
      TextAnalysis.bigramLmScore(t(s, dir, "documents"), "doc_id", "text",
        modelFilter = col("source") === "src0")),

    // ---- BLOOM INCREMENTAL DEDUP: today's batch (doc_id % 5 == 0)
    //      against the historical corpus (the rest), keyed on the leading
    //      40-char snippet (a URL/leading-boilerplate-style content key).
    //      History is scanned once into a Bloom bitset; the batch probes
    //      it at the scan and only candidate keys are exactly confirmed —
    //      result is byte-identical to the plain anti-join at any sizing.
    "q83_bloom_dedup" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val keyed = d.withColumn("__k", substring(col("text"), 1, 40))
      Dedup.bloomDedup(
        keyed.filter(col("doc_id") % 5 === 0),
        keyed.filter(col("doc_id") % 5 =!= 0), "__k")
        .select(col("doc_id"), col("n_chars"))
    }),

    // ---- TEXT: token counting over documents
    "q17_token_stats" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col("text"))).as("sum_tokens"),
        (sum(TextAnalysis.tokenCount(col("text"))).cast("double") /
          count(lit(1))).as("avg_tokens"),
        sum(col("n_chars")).as("sum_chars"))
    }),

    // ---- PROFILE: per-group corpus profile — the pre-flight stats pass
    //      of a curation pipeline (distribution shape per language).
    //      Exact interpolated quantiles (percentile ≡ quantile_cont);
    //      one shuffle, everything else scan-level
    "q73_profile" -> ((s, dir) => {
      val tc = TextAnalysis.tokenCount(col("text"))
      t(s, dir, "documents").groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        min(tc).as("min_tokens"),
        round(percentile(tc, lit(0.1)), 6).as("p10_tokens"),
        round(percentile(tc, lit(0.5)), 6).as("p50_tokens"),
        round(percentile(tc, lit(0.9)), 6).as("p90_tokens"),
        max(tc).as("max_tokens"),
        round(avg(length(col("text"))), 6).as("avg_chars"))
    }),

    // ---- TEXT: quality scoring (length/alpha/stopword/punct components)
    "q18_quality_score" -> ((s, dir) => {
      t(s, dir, "documents").groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        round(davg(TextAnalysis.qualityScore(col("text"))), 6).as("avg_quality"))
    }),

    // ---- TEXT: marker-word language-ID vs labeled lang (confusion counts)
    // script-routed language ID over the corpus PLUS 11 salted clean-
    // script samples (en / ru / zh / ar / ja-with-kana / markerless
    // Cyrillic / ko / hi / th / el / he), so every router branch — the
    // Cyrillic argmax, the Han kana split, each single-language script
    // label, and the script-qualified "und-Cyrl" fallback — is
    // oracle-live; clean non-Latin text never reads plain "und"
    "q19_lang_id" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val salted = d.select(lit("salt").as("lang"), element_at(array(
        langSaltSamples.map(lit): _*),
        (col("doc_id") % langSaltSamples.length + 1).cast("int")).as("text"))
      d.select(col("lang"), col("text")).unionByName(salted)
        .withColumn("guess", TextAnalysis.langId(col("text")))
        .groupBy("lang", "guess")
        .agg(count(lit(1)).as("n_docs"))
    }),

    // ---- DEDUP: canonical-fingerprint exact dedup stats per source
    "q20_fingerprint" -> ((s, dir) => {
      val fp = TextAnalysis.fingerprint(col("text"))
      t(s, dir, "documents").groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        countDistinct(fp).as("n_uniq"),
        min(fp).as("min_fp"))
    }),

    // ---- DEDUP: word-3-gram Jaccard near-dup pairs >= 0.5, candidates
    //      from MinHash-LSH banding (k=16, bands=8) + exact-Jaccard
    //      verify — content-derived bucket keys, no fixed-domain blocking
    "q21_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardNearDups(t(s, dir, "documents"),
        "doc_id", "text", n = 3, threshold = 0.5, k = 16, bands = 8)),

    // ---- DEDUP: MinHash signature + LSH band-bucket candidate pairs
    //      (k=12, bands=4) with exact-Jaccard verification
    "q22_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashCandidates(t(s, dir, "documents"), "doc_id", "text",
        k = 12, bands = 4)),

    // ---- DEDUP: incremental near-dup — 20% of docs (doc_id%5=0) arrive
    //      as a "new batch" probed against the pre-built index of the
    //      other 80%; result == full-corpus candidates restricted to
    //      pairs touching the batch (the daily-increment shape: the
    //      historical corpus is never re-hashed)
    "q68_incremental_dedup" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val corpusIdx = Dedup.minhashIndex(
        d.filter(col("doc_id") % 5 =!= 0), "doc_id", "text", k = 12, bands = 4)
      Dedup.incrementalMinhashCandidates(corpusIdx,
        d.filter(col("doc_id") % 5 === 0), "doc_id", "text", k = 12, bands = 4)
    }),

    // ---- DECONTAMINATION: corpus docs sharing >= 3 distinct 3-gram
    //      shingle hashes with a benchmark/eval sample (doc_id % 97 == 0)
    //      (threshold pinned at 3: max cross-doc overlap in the synthetic
    //      corpus is 4, so the gate has nonzero rows to hash-match)
    //      — benchmark shingle set broadcast, join map-side at the scan,
    //      one shuffle for the per-doc overlap count
    "q71_contamination" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.contamination(
        d.filter(col("doc_id") % 97 =!= 0), d.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", shingleN = 3, minOverlap = 3L)
    }),

    // ---- DEDUP: SemDeDup — centroid-clustered semantic dedup over
    //      embeddings (assignment = broadcast seed-table join + narrow
    //      min-struct aggregate, cosine codegen'd; pairwise cosine only
    //      WITHIN cells; keep = not dominated by a lower-id cell-mate at
    //      cos >= 0.4). First oracle coverage of the md5-seeded cell
    //      assignment q49 sidesteps via nprobe=nlist
    "q72_semdedup" -> ((s, dir) =>
      Dedup.semDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.4, nlist = 16)),

    // ---- PII SCRUB: deterministic synthetic PII (email/phone/IPv4
    //      derived from doc_id — the testdata text itself is clean)
    //      appended to each doc, then counted and redacted; the md5 of
    //      the redacted text pins the exact output string
    "q70_pii_redact" -> ((s, dir) => {
      val aug = t(s, dir, "documents").withColumn("t",
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com or call 555-"),
          lpad(((col("doc_id") * 7) % 1000).cast("string"), 3, "0"), lit("-"),
          lpad(((col("doc_id") * 13) % 10000).cast("string"), 4, "0"),
          lit(" from 10."), (col("doc_id") % 256).cast("string"),
          lit(".0."), ((col("doc_id") * 3) % 256).cast("string")))
      aug.select(col("doc_id"),
        TextAnalysis.piiCount(col("t"), TextAnalysis.EmailRe).as("n_email"),
        TextAnalysis.piiCount(col("t"), TextAnalysis.PhoneRe).as("n_phone"),
        TextAnalysis.piiCount(col("t"), TextAnalysis.Ipv4Re).as("n_ip"),
        md5(TextAnalysis.redactPii(col("t"))).as("redacted_md5"))
    }),

    // ---- BOILERPLATE: cross-corpus repeated-line removal (CCNet-style).
    //      The testdata text is single-line, so each doc is augmented
    //      with a per-source footer (boilerplate: every source has many
    //      docs) and a per-doc unique line (never boilerplate) — the
    //      same synthetic-augmentation trick as q70. minDocs=10 strips
    //      the footers; clean_md5 pins the surviving text byte-exactly
    "q74_boilerplate" -> ((s, dir) => {
      val aug = t(s, dir, "documents").withColumn("t",
        concat(col("text"),
          lit("\nsubscribe to "), col("source"), lit(" newsletter today"),
          lit("\nunique line "), col("doc_id").cast("string")))
      Dedup.removeBoilerplate(aug, "doc_id", "t", sep = "\n", minDocs = 10L)
    }),

    // ---- MIXTURE: deterministic resampling toward target source
    //      weights (3:1:1 over three sources; the binding group keeps
    //      100%, the rest thin to match) — scan-level hash predicate,
    //      one driver-sized count-aggregate for the rates
    "q75_mixture" -> ((s, dir) =>
      Sampling.mixtureSample(t(s, dir, "documents"), "source", "doc_id",
        Map("src0" -> 3.0, "src1" -> 1.0, "src2" -> 1.0))),

    // ---- QUALITY-LR: hashed-feature linear scorer (fastText shape,
    //      deterministic pseudo-weights) — per-doc score + gate flag,
    //      pure expression chain at the scan
    // score is left UNROUNDED deliberately: it is one IEEE division of
    // exact integers (integer weight sum / 1000·n), so the double is
    // bit-identical across engines — ROUND(double, 6) is NOT (decimal-
    // string rounding in Spark vs scaled-float in DuckDB)
    "q76_quality_lr" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.hashClassifierScore(col("text"), 1024, "qlr")
          .as("score"),
        (TextAnalysis.hashClassifierScore(col("text"), 1024, "qlr") > 0)
          .as("keep"))),

    // ---- ORDER: deterministic global training order — shard + dense
    //      in-shard position, both pure functions of the key hash (the
    //      reproducible "global shuffle" before sequence packing); one
    //      shuffle on the shard id, per-shard independent sorts
    "q77_training_order" -> ((s, dir) =>
      Sampling.trainingOrder(
        t(s, dir, "documents").select("doc_id", "lang"),
        "doc_id", salt = "ord", shards = 8)),

    // ---- QUOTA: exact per-group sample — the k smallest key hashes of
    //      each language (fixed-size eval-set builder; rank window lands
    //      as WindowGroupLimit: top-k before materialization)
    "q78_eval_quota" -> ((s, dir) =>
      Sampling.quotaSample(
        t(s, dir, "documents").select("doc_id", "lang", "source"),
        "lang", "doc_id", k = 7)),

    // ---- DEDUP: SimHash (32-bit) near-dup pairs via band multi-index.
    //      maxHamming=3 < bands=4 => pigeonhole-complete: the oracle is
    //      the all-pairs ground truth, so a hash-match PROVES recall=1
    "q23_simhash" -> ((s, dir) =>
      Dedup.simhashBandPairs(t(s, dir, "documents"), "doc_id", "text",
        bands = 4, maxHamming = 3)),

    // ---- DEDUP: 60-bit SimHash band pairs (6 bands x 10 bits,
    //      maxHamming=5 < bands => pigeonhole-complete like q23) — the
    //      wide-sketch scale path for corpora where 32 bits saturate
    "q54_simhash60" -> ((s, dir) =>
      Dedup.simhashBandPairs(t(s, dir, "documents"), "doc_id", "text",
        bands = 6, maxHamming = 5, bits = 60)),

    // ---- DEDUP: Manku block-combination simhash index — 2^30 bucket
    //      keys (C(6,3)=20 tables over the 60-bit fingerprint), output
    //      EXACTLY the all-pairs Hamming<=3 set by pigeonhole
    "q65_simhash_manku" -> ((s, dir) =>
      Dedup.simhashMankuPairs(t(s, dir, "documents"), "doc_id", "text",
        blocks = 6, keyBlocks = 3, maxHamming = 3, bits = 60)),

    // ---- ANN: brute-force cosine top-k (query side broadcast)
    "q24_cosine_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(
        e.filter(col("vec_id") < 8), e, "vec_id", "embedding", 5)
    }),

    // ---- DEDUP: embedding-cosine near-dup pairs via banded sign-LSH
    //      (4 bands x 8 bits) with Hamming-1 multi-probe + exact-cosine
    //      verify — bucket equi-join, no BroadcastNestedLoopJoin
    // bandBits pinned to 8 here because the DuckDB oracle mirrors that
    // exact construction (same reason q43 pins planes=8): a self-tuned
    // width would silently desync the gate the day the test corpus
    // crosses the next power of two. The scale path is
    // Dedup.embeddingNearDupsAuto (bandBits = lshBandBitsFor(n)),
    // equivalence-tested at the 8-bit point in MankuSpec.
    "q25_embedding_neardup" -> ((s, dir) =>
      Dedup.embeddingNearDupsBanded(t(s, dir, "embeddings"),
        "vec_id", "embedding", 0.4, bands = 4, bandBits = 8)),

    // ---- ANN: deterministic random-hyperplane LSH bucket histogram
    "q26_lsh_buckets" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .groupBy(Similarity.signBucket(col("embedding"), 8).as("bucket"))
        .agg(count(lit(1)).as("n_vecs"))),

    // ---- STREAM(batch): tumbling event-time window aggregate
    "q27_window_tumbling" -> ((s, dir) =>
      EventWindows.tumbling(t(s, dir, "events"), "ts", "1 hour",
        Seq("event_type"), "value")),

    // ---- STREAM(batch): sliding event-time window aggregate
    "q28_window_sliding" -> ((s, dir) =>
      EventWindows.sliding(t(s, dir, "events"), "ts", "2 hours", "1 hour",
        Seq.empty, "value")),

    // ---- STREAM(batch): gap-based sessionization (30-min gap)
    "q29_sessions" -> ((s, dir) =>
      EventWindows.sessions(t(s, dir, "events"), "ts", "user_id",
        gapSeconds = 1800, "value")),

    // ---- SCALAR: JSON extraction from event props
    "q30_json_extract" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n_events"))),

    // ---- MULTIMODAL: real PNG/JPEG container fixtures (planted header
    //      dims) featurized at the scan — the parser must RECOVER the
    //      planted width/height from the actual header bytes while the
    //      oracle recomputes them from the id formula
    "q31_multimodal" -> ((s, dir) =>
      Multimodal.featurizeExpr(
        Multimodal.syntheticAssets(t(s, dir, "documents")))),

    // ---- MM: frame sampling — one row fans out to <=4 byte-range
    //      frames (the video keyframe-sampler shape), narrow, no shuffle
    "q66_frame_sample" -> ((s, dir) =>
      Multimodal.sampleFrames(
        Multimodal.fromDocuments(t(s, dir, "documents")), 4)),

    // ---- MM: aspect-fit resize geometry over the REAL parsed dims
    "q67_resize" -> ((s, dir) =>
      Multimodal.resize(
        Multimodal.syntheticAssets(t(s, dir, "documents")), 128, 96)),

    // ---- MM: REAL pixel path — genuine PNGs (compressed, filtered)
    //      decoded with the pure-JVM codec, nearest-neighbor resampled,
    //      resampled BYTES hashed; the oracle recomputes the expected
    //      bytes from the generating formula without touching the PNG
    "q86_png_pixels" -> ((s, dir) =>
      Multimodal.resamplePixels(
        Multimodal.syntheticPixelAssets(t(s, dir, "documents")), 8, 6)),

    // ---- MM: REAL audio path — genuine PCM-16 WAVs decoded via the
    //      pure-JVM RIFF parser; features are all-integer (exact sum of
    //      squared samples instead of float RMS) so the oracle recomputes
    //      them from the generating formula without touching the bytes
    "q87_wav_features" -> ((s, dir) =>
      Multimodal.audioFeatures(
        Multimodal.syntheticAudioAssets(t(s, dir, "documents")))),

    // ---- MM: REAL video path — genuine GIF89a animations (real LZW
    //      streams, graphic-control blocks) decoded frame by frame with
    //      the pure-JVM codec, every 2nd frame kept, composited RGB
    //      bytes hashed; the oracle recomputes the expected bytes from
    //      the generating formula without touching the GIF
    "q88_gif_frames" -> ((s, dir) =>
      Multimodal.decodeFrames(
        Multimodal.syntheticGifAssets(t(s, dir, "documents")), 2)),

    // ---- MM: REAL lossy-still path — genuine baseline JPEGs (real
    //      Huffman entropy coding, DCT, restart markers) decoded with
    //      the pure-JVM codec; the 8x8 block-constant mosaic + all-ones
    //      quant make the lossy pipeline exact, so the oracle recomputes
    //      the pixel bytes from the formula without touching the JPEG
    "q89_jpeg_pixels" -> ((s, dir) =>
      Multimodal.decodePixels(
        Multimodal.syntheticJpegAssets(t(s, dir, "documents")))),

    // ---- curation: URL domain-blocklist gate with registrable-suffix
    //      semantics (blocking example.com blocks blog.example.com but
    //      NOT notexample.com) — one scan-level codegen'd predicate
    "q90_domain_filter" -> ((s, dir) => {
      val sub = when(col("doc_id") % 3 === 0, lit(""))
        .when(col("doc_id") % 3 === 1, lit("www."))
        .otherwise(lit("cdn.news."))
      val base = when(col("doc_id") % 5 === 0, lit("example.com"))
        .when(col("doc_id") % 5 === 1, lit("spamfarm.biz"))
        .when(col("doc_id") % 5 === 2, lit("notexample.com"))
        .when(col("doc_id") % 5 === 3, lit("docs.site.io"))
        .otherwise(lit("blog.example.com"))
      val withUrl = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://"), sub, base, lit("/p/"), col("doc_id")).as("url"))
      TextAnalysis.domainBlocklistFilter(withUrl, "url",
          Seq("spamfarm.biz", "example.com"))
        .select(col("doc_id"), TextAnalysis.urlHost(col("url")).as("host"))
    }),

    // ---- MM: magic-byte modality sniffing over REAL mixed-codec
    //      payloads whose declared MIME type lies — the dispatch gate of
    //      a mixed-media ingest; pure binary compares at the scan
    "q91_sniff_modality" -> ((s, dir) =>
      Multimodal.syntheticMixedAssets(t(s, dir, "documents"))
        .select(col("asset_id"),
          Multimodal.sniffModality(col("payload")).as("sniffed"))),

    // ---- O1-style: top-k rows per group (window rank)
    "q32_topk_per_group" -> ((s, dir) =>
      EventWindows.topKPerGroup(t(s, dir, "orders"),
        Seq("o_orderpriority"), col("o_totalprice"), col("o_orderkey"), 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rank")),

    // ---- J: left outer join + aggregate
    "q33_left_join_agg" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy("c_mktsegment")
        .agg(countDistinct(col("c_custkey")).as("n_cust"),
             count(col("o_orderkey")).as("n_orders"),
             dsum(col("o_totalprice")).as("sum_price"))
    }),

    // ---- J: anti join — customers with no orders
    "q34_anti_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_cust"))
    }),

    // ---- J: semi join — customers with >=1 urgent order
    "q35_semi_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_cust"))
    }),

    // ---- RECIPE ENGINE end-to-end (rename → filter-out → precomputed →
    //      median agg) via the injected-DataFrame seam (E2)
    "q36_recipe_pipeline" -> ((s, dir) => {
      val yaml =
        """aggregation: median
          |rename:
          |  l_returnflag: flag
          |filter-out:
          |  l_linestatus: [O]
          |precomputed:
          |  bucket: "'small' if row['l_quantity'] < 25 else 'large'"
          |values: [l_extendedprice]
          |series: [flag]
          |axis: [bucket]
          |""".stripMargin
      graft.recipe.Benchmark.fromString(s, yaml)
        .getAggregatedData(df0 = Some(t(s, dir, "lineitem")))
        .select("flag", "bucket", "l_extendedprice")
    }),

    // ---- RECIPE ENGINE ratio_of (A4/J2): per-series ratio to base
    //      series aggregate, per axis group
    "q37_recipe_ratio" -> ((s, dir) => {
      val yaml =
        """aggregation: median
          |precomputed:
          |  Ratio: "ratio_of('l_extendedprice', l_returnflag='N')"
          |values: [Ratio]
          |series: [l_returnflag]
          |axis: [l_linestatus]
          |""".stripMargin
      graft.recipe.Benchmark.fromString(s, yaml)
        .getAggregatedData(df0 = Some(t(s, dir, "lineitem")))
        .select("l_returnflag", "l_linestatus", "Ratio")
    }),

    // ---- TEXT: BPE-ish regex token counting (subword budget estimate)
    "q38_bpe_tokens" -> ((s, dir) =>
      t(s, dir, "documents").groupBy("lang").agg(
        sum(TextAnalysis.bpeTokenCount(col("text"))).as("sum_bpe"),
        count(lit(1)).as("n_docs"))),

    // ---- TEXT: EXACT BPE token counts under a real merges table (GPT-2
    //      greedy-merge semantics). The table is the canonical corpus-
    //      trained one (bpeCanonicalMerges — spec-pinned to bpeTrain's
    //      output on this corpus); the oracle re-runs the same greedy
    //      merge loop as a recursive CTE over the same table, so the
    //      counts are exact on both sides, not approximations.
    "q84_bpe_exact" -> ((s, dir) =>
      t(s, dir, "documents").groupBy("lang").agg(
        sum(TextAnalysis.bpeTokenCountExact(col("text"), bpeCanonicalMerges))
          .as("sum_bpe_exact"),
        sum(TextAnalysis.tokenCount(col("text"))).as("sum_words"),
        count(lit(1)).as("n_docs"))),

    // ---- TEXT: order-sensitive polynomial rolling-hash fingerprint
    "q39_rolling_fp" -> ((s, dir) =>
      t(s, dir, "documents").groupBy("source").agg(
        countDistinct(TextAnalysis.rollingFingerprint(col("text"))).as("n_uniq"),
        min(TextAnalysis.rollingFingerprint(col("text"))).as("min_fp"),
        count(lit(1)).as("n_docs"))),

    // ---- EMBED: per-label centroid components (element-wise exact mean)
    "q40_centroids" -> ((s, dir) =>
      Similarity.centroidComponents(t(s, dir, "embeddings"), "label", "embedding")),

    // ---- DEDUP: exact keep-first dedup (window row_number)
    "q41_dedup_keep_first" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents"), Seq("lang", "source"), "doc_id")
        .select("lang", "source", "doc_id")),

    // ---- J/SKEW: salted equi-join — identical results to the plain
    //      join, hot keys sharded across reducers
    "q42_salted_join" -> ((s, dir) =>
      Joins.saltedEquiJoin(t(s, dir, "lineitem"), t(s, dir, "orders"),
          "l_orderkey", "o_orderkey", salts = 8)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          dsum(col("l_extendedprice")).as("sum_price"))),

    // ---- ANN: LSH-bucketed top-k (bucket equi-join + exact rerank)
    "q43_lsh_topk" -> ((s, dir) =>
      Similarity.lshTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 3, planes = 8)),

    // ---- REFERENCE CORPUS (SURVEY §5): the reference's own recipes run
    //      verbatim against fixtures derived from the driver tables, so
    //      the DuckDB oracle can recompute end-to-end from the tables.

    // omnisci-query-times.yml: regex line-carving (S2 append/replace/
    // drop), header imposition, mean by queryID x logID
    "q44_corpus_omnisci" -> ((s, dir) => {
      val root = graft.corpus.ReferenceCorpus.ensure(s, dir)
      graft.recipe.Benchmark(s, s"$root/omnisci-query-times.yml")
        .getAggregatedData()
        .select(col("queryID").cast("long").as("queryID"),
          col("logID").cast("long").as("logID"),
          col("execution_time_ms"), col("total_time_ms"))
    }),

    // raw/df_clsf.yml: header-line regex rename, pack (melt) of
    // fit/predict, .format precompute, path-derived Arch, filter-out
    "q45_corpus_df_clsf" -> ((s, dir) => {
      val root = graft.corpus.ReferenceCorpus.ensure(s, dir)
      graft.recipe.Benchmark(s, s"$root/raw/df_clsf.yml")
        .getAggregatedData()
        .select(col("Size"), col("classes").cast("long").as("classes"),
          col("Mode"), col("Function"), col("Prefix"), col("Arch"),
          col("Time"))
    }),

    // summary_indicators.yml -> indicators.yml -> indicators/{blackscholes,
    // fft}.yml -> raw/{blackscholes,fft}.yml: the reference's 3-layer
    // recipe DAG with ratio_of at the indicator layer, union with the
    // targets.csv side input (dropped by groupby-dropna parity at the
    // summary), geomean at the top
    "q46_corpus_summary_dag" -> ((s, dir) => {
      val root = graft.corpus.ReferenceCorpus.ensure(s, dir)
      graft.recipe.Benchmark(s, s"$root/summary_indicators.yml")
        .getAggregatedData()
        .select(col("Domain"), col("Prefix"), col("Mode"), col("Arch"),
          round(col("Ratio"), 6).as("Ratio"))
    }),

    // S4 SQLite scan through the pure-Scala reader of the public SQLite
    // file format (graft.sources.Sqlite — no JDBC). The fixture DB holds
    // the fixed 25-row nation table, so the parquet `nation` table is the
    // oracle (fixture generated once from the same rows). The fixture
    // path resolves against the working directory (sbt runs from the
    // repo root), so any checkout location works.
    "q47_sqlite_scan" -> ((s, dir) =>
      graft.sources.Sqlite
        .scan(s, sqliteFixture.toString, "nation")
        .select(col("n_nationkey").cast("int").as("n_nationkey"),
          col("n_name"),
          col("n_regionkey").cast("int").as("n_regionkey"))),

    // ---- S4 at scale: DISTRIBUTED multi-file SQLite scan — one .db
    //      shard per executor task (glob on the driver, b-tree decode in
    //      the tasks, rows never on the driver); fixture = 3 copies of
    //      nation.db, so the oracle is nation × 3
    "q117_sqlite_glob" -> ((s, dir) => {
      val root = graft.sources.Shards.fixture("graft_sqlite_shards_v1") { d =>
        for (i <- 0 until 3)
          java.nio.file.Files.copy(sqliteFixture, java.nio.file.Paths.get(d, s"shard$i.db"))
      }
      graft.sources.Sqlite.scanGlob(s, s"$root/shard*.db", "nation")
        .groupBy(col("n_regionkey").cast("int").as("n_regionkey"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("File")).as("n_shards"))
    }),

    // ---- DEDUP: full clustering pipeline — MinHash-LSH candidates
    //      (Jaccard >= 0.5) contracted to connected components via
    //      distributed large-star/small-star; every doc -> its cluster's
    //      min id + keep flag. The oracle recomputes the same pairs and
    //      closes them transitively with a recursive CTE.
    "q48_dedup_clusters" -> ((s, dir) =>
      Dedup.dedupClusters(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.5, k = 12, bands = 4)),

    // ---- ANN: IVF top-k with every cell probed (nprobe = nlist), which
    //      is exactly the brute-force result — the oracle-checked config;
    //      partial-probe recall is property-tested in IvfSpec
    "q49_ivf_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfTopK(e.filter(col("vec_id") < 8), e, "vec_id",
        "embedding", k = 5, nlist = 16, nprobe = 16)
    }),

    // ---- CURATION: TRAINED quality-classifier weights — two exact
    //      integer-GD iterations (squared loss over hashed term
    //      frequencies, lr = 1/2); label = "is from src0". Every
    //      quantization step (micro-weights, truncating div) mirrors
    //      bit-for-bit, so the oracle unrolls BOTH iterations
    "q93_classifier_train" -> ((s, dir) =>
      TextAnalysis.trainedClassifierFrame(
        t(s, dir, "documents").withColumn("y",
          when(col("source") === "src0", 1L).otherwise(0L)),
        "doc_id", "text", "y", dim = 64, iters = 2)),

    // ---- JOIN: as-of (temporal) join — every purchase gets the latest
    //      preceding click of the same user, via the union-and-sweep
    //      rewrite (ONE exchange on user_id, running last(ignoreNulls)
    //      carry — never the quadratic keyed theta-join)
    "q94_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      Joins.asofJoin(
        ev.filter(col("event_type") === "purchase")
          .select("event_id", "ts", "user_id", "value"),
        ev.filter(col("event_type") === "click"),
        keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        payload = Seq("event_id", "value"), tieCol = "event_id")
    }),

    // ---- JOIN: the stream-compatible as-of form — right side collapsed
    //      to one sorted array per key, match = array lookup at the scan
    //      (no window over the left side, so Structured Streaming can run
    //      it; StreamingSpec asserts streamed == batch). Same semantics
    //      as q94, same oracle.
    "q100_asof_static" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      Joins.asofJoinStatic(
        ev.filter(col("event_type") === "purchase")
          .select("event_id", "ts", "user_id", "value"),
        ev.filter(col("event_type") === "click"),
        keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        payload = Seq("event_id", "value"), tieCol = "event_id")
    }),

    // ---- JOIN: as-of with tolerance — same sweep, but a click older
    //      than 1 hour is no match (stale state must not leak into the
    //      feature row); the tolerance is applied AFTER the sweep, so
    //      the plan is identical
    "q95_asof_tolerance" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      Joins.asofJoin(
        ev.filter(col("event_type") === "purchase")
          .select("event_id", "ts", "user_id", "value"),
        ev.filter(col("event_type") === "click"),
        keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        payload = Seq("event_id", "value"), tieCol = "event_id",
        toleranceUs = Some(3600L * 1000000L))
    }),

    // ---- JOIN: UNKEYED interval join — purchases landing inside any
    //      [error, error+10min] incident window, bucketized onto a
    //      10-minute grid so the physical plan is a shuffled EQUI-join
    //      on the bucket id (a raw range predicate would plan as a
    //      broadcast-nested-loop over |errors| x |purchases|)
    "q96_range_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val win = 600L * 1000000L // 10 minutes in microseconds
      val errs = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("ts").as("win_start"),
          timestamp_micros(unix_micros(col("ts")) + win).as("win_end"))
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("buy_id"), col("ts").as("buy_ts"))
      Joins.rangeJoin(buys, "buy_ts", errs, "win_start", "win_end",
          bucketUs = win)
        .select("err_id", "buy_id", "buy_ts")
    }),

    // ---- STREAM(batch)/FEATURES: trailing rolling aggregate per event —
    //      point-in-time training features (no future leakage), a RANGE-
    //      frame window off one keyed shuffle, never a self-join
    "q101_rolling_features" -> ((s, dir) =>
      EventWindows.rolling(t(s, dir, "events"), "ts", "user_id", "value",
          windowUs = 3600L * 1000000L)
        .select("event_id", "user_id", "n_trailing", "sum_trailing")),

    // ---- TEXT: per-document top-k TF-IDF terms (keyword extraction) —
    //      exploded-token tf, term-keyed df joined back, N as a lazy
    //      broadcast scalar, top-k pruned via WindowGroupLimit
    "q102_tfidf_topterms" -> ((s, dir) =>
      TextAnalysis.tfIdfTopTerms(t(s, dir, "documents"), "doc_id", "text",
        k = 3)),

    // ---- TEXT: BM25 top-k retrieval — the sparse complement to the
    //      dense ANN path; literal query set broadcast everywhere, the
    //      corpus never shuffled by anything query-sized
    "q103_bm25_topk" -> ((s, dir) =>
      TextAnalysis.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        queries = Seq(1 -> "spark window join",
                      2 -> "hash merge sort stream",
                      3 -> "vector column scan scan"),
        k = 5)),

    // ---- TEXT: top-k adjacent-bigram collocations by PMI — scan-level
    //      index explode forms the pairs (no self-join), one (a,b)-keyed
    //      count exchange, vocab-sized unigram joins, global top-k as
    //      TakeOrderedAndProject
    "q104_pmi_collocations" -> ((s, dir) =>
      TextAnalysis.pmiCollocations(t(s, dir, "documents"), "text",
        minCount = 20L, k = 10)),

    // ---- DEDUP: corpus-overlap estimate between the even- and odd-id
    //      halves of the corpus via bottom-k (KMV) shingle sketches —
    //      per corpus one distinct-aggregate + TakeOrdered(k), then
    //      k-row arithmetic; power-of-two k keeps n/k binary-exact
    "q105_corpus_overlap" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.corpusOverlap(d.filter(col("doc_id") % 2 === 0),
        d.filter(col("doc_id") % 2 === 1), "text",
        shingleN = 3, sketchK = 256)
    }),

    // ---- SAMPLING: leakage-safe 90/10 split — near-dup clusters share
    //      one split assignment (split key = the q48 cluster rep), so no
    //      paraphrase pair ever straddles train/test
    "q106_leakage_safe_split" -> ((s, dir) =>
      Sampling.leakageSafeSplit(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.5, weights = Seq("train" -> 0.9, "test" -> 0.1))
        .select(col("doc_id"), col("rep"), col("split"))),

    // ---- DEDUP: KMV distinct-count estimate of the corpus shingle
    //      space — per-partition bounded TreeSet prefilter, ONE
    //      (partitions x k)-bounded exchange, never the distinct set
    "q107_distinct_estimate" -> ((s, dir) =>
      Dedup.distinctCount(
        t(s, dir, "documents").select(
          explode(TextAnalysis.wordShingles(col("text"), 3)).as("sh3")),
        col("sh3"), sketchK = 1024)),

    // ---- PROFILING: exact phi-heavy hitters — per-partition
    //      Misra-Gries candidates (bounded memory, nothing shuffled),
    //      broadcast-confirmed exact counts; the distinct token universe
    //      is never exchanged
    "q108_heavy_hitters" -> ((s, dir) =>
      Profiling.heavyHitters(
        t(s, dir, "documents")
          .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
          .filter(col("tok") =!= ""),
        col("tok"), minFraction = 0.005)),

    // ---- PROFILING: per-group KMV distinct estimate — the native
    //      bounded-sketch aggregate, map-side combine ships <= k hashes
    //      per group per task (COUNT(DISTINCT) ships the distinct set)
    "q109_group_distinct" -> ((s, dir) =>
      Profiling.distinctByGroup(
        t(s, dir, "documents").select(col("lang"),
          explode(TextAnalysis.wordShingles(col("text"), 3)).as("sh3")),
        Seq(col("lang")), col("sh3"), sketchK = 256)),

    // ---- PROFILING: histogram-binned quantiles — the bounded-state
    //      quantile path (ONE bins-bounded exchange, error <= one bin
    //      width) where exact percentiles buffer every group value
    "q114_binned_quantiles" -> ((s, dir) =>
      Profiling.binnedQuantiles(t(s, dir, "documents"), col("n_chars"),
        lo = 0L, hi = 1024L, bins = 64, qs = Seq(0.1, 0.5, 0.9))),

    // ---- PROFILING: per-group binned quantiles — one (group, bin)
    //      count exchange, group-partitioned cumulative window (<= bins
    //      rows per partition), per-source length quantiles without
    //      buffering any group's values
    "q115_group_quantiles" -> ((s, dir) =>
      Profiling.binnedQuantilesByGroup(t(s, dir, "documents"),
        col("lang"), col("n_chars"),
        lo = 0L, hi = 1024L, bins = 64, qs = Seq(0.1, 0.5, 0.9))),

    // ---- SOURCE: gzipped JSONL scan — the LLM-corpus interchange
    //      format through the real text-source path (fixture exported
    //      once per sf dir by the engine's own writer; explicit schema,
    //      no inference scan), aggregated back to the parquet truth
    "q113_jsonl_scan" -> ((s, dir) => {
      val fixture = graft.sources.Jsonl.ensureDocsFixture(s, dir)
      graft.sources.Jsonl.readJsonl(s, fixture,
          t(s, dir, "documents").schema)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
    }),

    // ---- DEDUP: audit report — cluster-size histogram over q48's
    //      mapping (the mega-cluster / loose-threshold sanity table);
    //      two bounded group-bys beyond the cluster pipeline
    "q124_dedup_report" -> ((s, dir) =>
      Dedup.clusterSizeProfile(
        Dedup.dedupClusters(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.5))),

    // ---- HTML -> text extraction: the crawl-ingest FIRST stage —
    //      deterministic page fixture over documents (chrome, nav,
    //      entities of every class, broken markup), then chrome strip +
    //      one-pass entity decode + block segmentation + link-density
    //      keep rule. Pure codegen'd expressions, zero exchanges; the
    //      oracle rebuilds the identical pages and extraction in SQL and
    //      the extracted text must hash byte-exact.
    "q125_html_extract" -> ((s, dir) =>
      graft.operators.Html.syntheticPages(t(s, dir, "documents"))
        .select(col("doc_id"),
          graft.operators.Html.extractText(col("html")).as("extracted"))
        .withColumn("n_chars", length(col("extracted")))),

    // ---- HTML block audit: per-page keep/drop accounting over the
    //      blocks() view (the instrumented form of q125's filter)
    "q126_html_blocks" -> ((s, dir) =>
      graft.operators.Html.syntheticPages(t(s, dir, "documents"))
        .select(col("doc_id"), graft.operators.Html.blocks(col("html")).as("bs"))
        .select(col("doc_id"),
          size(col("bs")).as("n_blocks"),
          size(filter(col("bs"),
            b => graft.operators.Html.keeps(b))).as("n_kept"),
          aggregate(transform(col("bs"),
              b => b.getField("link_chars").cast("long")),
            lit(0L), (a, x) => a + x).as("link_chars"))),

    // ---- WARC scan: the crawl first mile — the q125 pages exported
    //      once per sf dir as gzipped WARC shards by the engine's own
    //      writer (records re-read off the real container: version
    //      lines, header maps, exact-length payloads, HTTP split), the
    //      oracle rebuilds the identical page bytes from parquet
    "q130_warc_scan" -> ((s, dir) => {
      val root = graft.sources.Warc.ensurePagesFixture(s, dir)
      graft.sources.Warc.readWarc(s, s"$root/*.warc.gz")
        .filter(col("warc_type") === "response" && col("http_status") === 200)
        .select(regexp_extract(col("target_uri"),
          "corpus[.]local/([a-z]+)/", 1).as("lang"), col("body"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("body"))).as("sum_bytes"),
          countDistinct(md5(col("body"))).as("n_uniq_pages"),
          min(md5(col("body"))).as("min_md5"))
    }),

    // ---- CRAWL-INGEST CAPSTONE: the whole first mile as ONE lazy plan
    //      over the real container — WARC records -> HTML bodies ->
    //      extracted text -> script-routed language ID + canonical
    //      fingerprint -> per-language dedup stats. Catalyst sees a
    //      single tree; the only exchange is the final aggregate.
    "q131_crawl_pipeline" -> ((s, dir) => {
      val root = graft.sources.Warc.ensurePagesFixture(s, dir)
      graft.sources.Warc.readWarc(s, s"$root/*.warc.gz")
        .filter(col("warc_type") === "response" && col("http_status") === 200)
        .select(graft.operators.Html.extractText(
          col("body").cast("string")).as("text2"))
        .select(TextAnalysis.langId(col("text2")).as("guess"),
          TextAnalysis.fingerprint(col("text2")).as("fp"),
          length(col("text2")).as("n_chars"))
        .groupBy("guess")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_uniq"),
          sum(col("n_chars")).as("sum_chars"))
    }),

    // ---- STORAGE: WET round trip — the extracted-text shard format
    //      crawls publish next to their WARCs (Common Crawl's
    //      .warc.wet.gz: conversion records, text/plain bodies). The
    //      fixture exports the pages' extracted text through the
    //      engine's own WET sink; the query re-reads the conversion
    //      records and aggregates per lang — text must survive the
    //      record framing byte-exactly or the md5s diverge
    "q141_wet_roundtrip" -> ((s, dir) => {
      val root = graft.sources.Warc.ensureWetFixture(s, dir)
      graft.sources.Warc.readWarc(s, s"$root/*.warc.gz")
        .filter(col("warc_type") === "conversion")
        .select(regexp_extract(col("target_uri"),
          "corpus[.]local/([a-z]+)/", 1).as("lang"),
          col("body").cast("string").as("txt"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("txt"))).as("sum_chars"),
          countDistinct(md5(col("txt"))).as("n_uniq"),
          min(md5(col("txt"))).as("min_md5"))
    }),

    // ---- STORAGE: CDX-indexed random access — Common Crawl's actual
    //      shape (one gzip member per record + a CDX sidecar): the
    //      fixture exports the pages via writeWarcIndexed; the query
    //      reads the CDX, keeps a ~10% deterministic md5 slice of the
    //      urls, POINT-READS just those members (fetchRecords — one
    //      ranged read per document, never a shard scan) and
    //      aggregates the fetched pages per lang
    "q143_cdx_fetch" -> ((s, dir) => {
      val root = graft.sources.Warc.ensureIndexedPagesFixture(s, dir)
      val cdx = graft.sources.Warc.readCdx(s, root)
        .filter(Sampling.hashBucket(col("url"), "cdx", 1000000) < 100000)
      graft.sources.Warc.fetchRecords(cdx, root)
        .select(regexp_extract(col("target_uri"),
          "corpus[.]local/([a-z]+)/", 1).as("lang"), col("body"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("body"))).as("sum_bytes"),
          countDistinct(md5(col("body"))).as("n_uniq"),
          min(md5(col("body"))).as("min_md5"))
    }),

    // ---- CRAWL FRONTIER: harvested links -> the next round's fetch
    //      list (Crawl.frontier): canonicalize (the messy variant
    //      collapses onto its clean twin), absolute-http(s) gate (the
    //      relative href drops), registrable-suffix blocklist (every
    //      *.spam.example link drops), url dedup with in-link counts,
    //      seen-set anti-join (already-fetched pages out), per-host
    //      politeness cap (top-5 by in-links, ties to the smaller url)
    "q132_crawl_frontier" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val n7 = (col("doc_id") % 7).cast("string")
      val n50 = (col("doc_id") % 50).cast("string")
      val page = concat(lit("https://host"), n7, lit(".example/page/"), n50)
      val messy = concat(lit("HTTPS://Host"), n7, lit(".EXAMPLE:443/page/"),
        n50, lit("?utm_source=x#f"))
      val bad = concat(lit("https://sub"), (col("doc_id") % 3).cast("string"),
        lit(".spam.example/x/"), col("doc_id").cast("string"))
      val links = d.select(
        explode(array(page, messy, bad, lit("/relative"))).as("href"))
      val seen = d.filter(col("doc_id") % 50 < 10)
        .select(concat(lit("https://host"), n7, lit(".example/page/"), n50)
          .as("url"))
      graft.operators.Crawl.frontier(links, "href", seen,
        blocked = Seq("spam.example"), perHostCap = 5)
    }),

    // ---- HTML link harvest -> canonical crawl frontier: hrefs out of
    //      the chrome-stripped pages (entity-decoded), normalized by
    //      canonicalUrl, counted — the full frontier pipeline in one
    //      expression chain (relative hrefs pass through the chain
    //      unchanged except trailing-slash stripping)
    "q128_html_links" -> ((s, dir) =>
      graft.operators.Html.syntheticPages(t(s, dir, "documents"))
        .select(explode(graft.operators.Html.links(col("html"))).as("href"))
        .select(TextAnalysis.canonicalUrl(col("href")).as("curl"))
        .groupBy("curl").agg(count(lit(1)).as("n_links"))),

    // ---- TEXT: Unicode-script profiling — multilingual routing off
    //      per-script character ratios (docs salted with one sample per
    //      routed script so every census path is oracle-live)
    "q123_script_profile" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), element_at(array(
          scriptSaltSamples.map(lit): _*),
          (col("doc_id") % scriptSaltSamples.length + 1).cast("int"))
          .as("sample"))
        .select(col("doc_id"),
          TextAnalysis.scriptProfile(col("sample")).as("p"))
        .select(col("doc_id"), col("p.*"))),

    // ---- SAMPLING: mixture UP-sampling — per-source epoch factors
    //      (books-style repeats, capped at maxRepeat), fractional epoch
    //      membership the same md5 predicate as hashSample; scan-level
    //      explode, no shuffle. Binary-fraction rates (.5/.25) keep the
    //      threshold arithmetic integral, hence exact cross-engine
    "q122_mixture_upsample" -> ((s, dir) =>
      Sampling.mixtureUpsample(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        "source", "doc_id",
        Map("src0" -> 3.5, "src1" -> 2.25, "src2" -> 10.0), maxRepeat = 8.0)
        .select(col("doc_id"), col("source"),
          col("epoch").cast("long").as("epoch"))),

    // ---- SAMPLING: temperature-weighted mixture (n^alpha source
    //      weighting, the published pretraining-mix knob) at alpha=0.5
    //      — rates derived FROM the corpus counts (sqrt is exactly
    //      rounded, fold order pinned, one floor-quantization to
    //      micro-units), then integer-exact epoch draws; big sources
    //      thin, small sources repeat, both paths oracle-live
    "q133_temperature_mix" -> ((s, dir) =>
      Sampling.temperatureMixture(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        "source", "doc_id", alpha = 0.5, totalFactor = 2.0, maxRepeat = 4.0)
        .groupBy("source", "epoch")
        .agg(count(lit(1)).as("n_docs"))
        .select(col("source"), col("epoch").cast("long").as("epoch"),
          col("n_docs"))),

    // ---- STORAGE: Megatron-format indexed token shards (.bin/.idx) —
    //      the tokenizer-to-trainer handoff. The fixture tokenizes the
    //      corpus (canonical merges, full vocab) and writes u16 shard
    //      pairs through the engine's own distributed sink; the query
    //      is the engine-reads loop: per-sequence identity (md5 over
    //      the comma-joined id string) + global token/id sums, which
    //      the oracle recomputes from `documents` through the shared
    //      BPE mirror — every id must round-trip the binary format
    //      bit-exactly or the sequence hashes diverge
    "q134_indexed_roundtrip" -> ((s, dir) => {
      val root = graft.sources.IndexedTokens
        .ensureTokenFixture(s, dir, bpeCanonicalMerges)
      graft.sources.IndexedTokens.readIndexed(s, s"$root/*.idx")
        .select(col("ids"),
          md5(array_join(transform(col("ids"), i => i.cast("string")), ","))
            .as("fp"))
        .agg(count(lit(1)).as("n_seqs"),
          sum(size(col("ids"))).as("sum_tokens"),
          sum(expr("aggregate(ids, 0L, (a, x) -> a + x)")).as("sum_ids"),
          countDistinct(col("fp")).as("n_uniq_seqs"),
          min(col("fp")).as("min_md5"),
          max(col("fp")).as("max_md5"))
    }),

    // ---- CURATION CAPSTONE: the corpus card — per-source pass rates
    //      through all three published web-filter families (Gopher
    //      quality, Gopher repetition, C4) over the NATURAL text, plus
    //      the combined funnel. The per-doc gates are pure scan
    //      expressions; the only exchange is the final source aggregate
    "q142_corpus_card" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("source"),
          TextAnalysis.gopherKeep(col("text")).as("gk"),
          TextAnalysis.gopherRepetitionKeep(col("text")).as("rk"),
          TextAnalysis.c4PageKeep(TextAnalysis.c4LineClean(col("text")))
            .as("ck"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("gk"), 1L).otherwise(0L)).as("n_gopher"),
          sum(when(col("rk"), 1L).otherwise(0L)).as("n_repetition"),
          sum(when(col("ck"), 1L).otherwise(0L)).as("n_c4"),
          sum(when(col("gk") && col("rk") && col("ck"), 1L).otherwise(0L))
            .as("n_all"))),

    // ---- TEXT: tokenizer fertility audit — tokens/word and bytes/
    //      token per language under the exact BPE, the standard check a
    //      tokenizer gets before a pretraining run (high fertility on a
    //      language = the vocab underserves it). Integer sums, each
    //      ratio ONE IEEE divide at the end — cross-engine exact
    "q140_tokenizer_fertility" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"),
          size(filter(TextAnalysis.tokens(col("text")), w => w =!= ""))
            .cast("long").as("n_words"),
          TextAnalysis.bpeTokenCountExact(col("text"), bpeCanonicalMerges)
            .as("n_tokens"),
          octet_length(col("text")).cast("long").as("n_bytes"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("sum_words"),
          sum(col("n_tokens")).as("sum_tokens"),
          sum(col("n_bytes")).as("sum_bytes"))
        .select(col("lang"), col("n_docs"), col("sum_words"),
          col("sum_tokens"), col("sum_bytes"),
          (col("sum_tokens").cast("double") / col("sum_words").cast("double"))
            .as("fertility"),
          (col("sum_bytes").cast("double") / col("sum_tokens").cast("double"))
            .as("bytes_per_token"))),

    // ---- CURATION: C4's published line-level cleaning + page gate
    //      (Raffel et al. 2020 §2.2) — docs salted per rule family so
    //      every path is oracle-live: %5==1 appends droppable lines
    //      (no terminal punct / <3 words), %5==2 a javascript line,
    //      %5==3 a lorem-ipsum sentence (page-dropped), %5==4 a kept
    //      line carrying a brace (page-dropped); %5==0 natural.
    //      Integer counts + md5 of the cleaned text — hash-exact
    "q139_c4_rules" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 1, concat(col("text"),
            lit("\nshort line\nmenu home about us contact")))
            .when(col("doc_id") % 5 === 2, concat(col("text"),
              lit("\nPlease enable javascript to continue viewing.")))
            .when(col("doc_id") % 5 === 3, concat(col("text"),
              lit("\nlorem ipsum dolor sit amet consectetur elit.")))
            .when(col("doc_id") % 5 === 4, concat(col("text"),
              lit("\ncode sample with a brace { inside it.")))
            .otherwise(col("text")).as("sample"))
        .select(col("doc_id"), col("sample"),
          TextAnalysis.c4LineClean(col("sample")).as("cleaned"))
        .select(col("doc_id"),
          size(split(col("sample"), "\n")).cast("long").as("n_lines"),
          when(length(col("cleaned")) === 0, 0L)
            .otherwise(size(split(col("cleaned"), "\n")).cast("long"))
            .as("n_kept"),
          (length(col("cleaned")) -
            length(regexp_replace(col("cleaned"), "[.!?]", "")))
            .cast("long").as("n_sentences"),
          md5(col("cleaned")).as("fp"),
          TextAnalysis.c4PageKeep(col("cleaned")).as("keep"))),

    // ---- CURATION: the published Gopher REPETITION signals + gate
    //      (Rae et al. 2021 §A1.1 — the other half of the paper's
    //      filter, next to q121's quality signals). Docs salted so
    //      every family is oracle-live: %4==1 appends duplicate lines
    //      AND paragraphs, %4==2 is top-2-gram-heavy, %4==3 repeats a
    //      ten-word sentence (dup 5..10-grams); %4==0 stays natural.
    //      Expression-only: integer counts + single IEEE divides
    "q138_gopher_repetition" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 4 === 1, concat(col("text"),
            lit("\nline one\nline one\nline one\n\npar a\n\npar a")))
            .when(col("doc_id") % 4 === 2,
              lit("alpha beta " + "gamma delta " * 6))
            .when(col("doc_id") % 4 === 3,
              lit("one two three four five six seven eight nine ten " * 3))
            .otherwise(col("text")).as("sample"))
        .select(col("doc_id"),
          TextAnalysis.gopherRepetition(col("sample")).as("g"),
          TextAnalysis.gopherRepetitionKeep(col("sample")).as("keep"))
        .select(col("doc_id"), col("g.*"), col("keep"))),

    // ---- SAMPLING: fixed-length sequence packing — the GPT-style
    //      concat-and-chunk between tokenized docs and trainer shards:
    //      per-lang streams of exact-BPE ids + an EOS separator (288 =
    //      one past the canonical vocab, the <|endoftext|> convention),
    //      cut into 128-token sequences, final partial dropped. Every
    //      sequence's identity rides an md5 over the ordered ids, so a
    //      single misplaced token anywhere in the stream diverges
    "q137_pack_sequences" -> ((s, dir) =>
      Sampling.packSequences(
        t(s, dir, "documents").select(col("lang"), col("doc_id"),
          TextAnalysis.bpeIdsExact(col("text"), bpeCanonicalMerges,
            graft.expressions.BpeCodec.canonicalVocab(bpeCanonicalMerges))
            .as("ids")),
        Seq("lang"), "doc_id", "ids", seqLen = 128, eosId = 288)
        .select(col("lang"), col("seq"),
          md5(array_join(transform(col("ids"), i => i.cast("string")), ","))
            .as("fp"),
          expr("aggregate(ids, 0L, (a, x) -> a + x)").as("sum_ids"))),

    // ---- STORAGE: safetensors embedding shards — the tensor
    //      interchange loop. The fixture exports the embeddings table
    //      through the engine's own distributed sink (ids I64 + labels
    //      I32 + embeddings F32 [n,d], the public header layout); the
    //      query re-reads the shards and aggregates exploded elements
    //      with the exact DECIMAL sum — floats must round-trip the
    //      binary buffer bit-exactly (the spec pins raw bits; this pins
    //      the distributed loop against parquet ground truth)
    "q136_safetensors_roundtrip" -> ((s, dir) => {
      val root = graft.sources.Safetensors.ensureEmbeddingsFixture(s, dir)
      // per-vector sum = one left-to-right double fold (identical IEEE
      // op sequence in both engines, so bit-identical — the q24
      // pattern); the cross-vector sum then rides the proven
      // decimal-of-double dsum. A raw float -> DECIMAL cast would NOT
      // match: the engines round through different decimal renderings
      graft.sources.Safetensors.readEmbeddings(s, s"$root/*.safetensors")
        .select(col("vec_id"), col("label"),
          expr("aggregate(embedding, CAST(0.0 AS DOUBLE), " +
            "(a, x) -> a + CAST(x AS DOUBLE))").as("vs"),
          size(col("embedding")).as("d"))
        .groupBy((col("vec_id") % 8).as("g"))
        .agg(countDistinct(col("vec_id")).as("n_vecs"),
          sum(col("d").cast("long")).as("n_elems"),
          sum(col("vec_id")).as("sum_ids"),
          sum(col("label").cast("long")).as("sum_labels"),
          graft.functions.dsum(col("vs")).as("sum_x"))
    }),

    // ---- CRAWL: RFC 9309 robots.txt politeness gate — the step
    //      between frontier and fetch. Per-host robots fixtures drive
    //      every RFC semantic live: named-group selection over the `*`
    //      fallback (hosts 0-2: graftbot's group replaces a
    //      Disallow-everything `*` group), wildcard + $-anchored rules
    //      with longest-match/allow-wins precedence (hosts 3-4),
    //      empty-rule named group = unrestricted (host 5), and the
    //      missing-robots explicit allow (host 6 has no row). The
    //      robots side is a 6-row broadcast; the URL side never
    //      shuffles before its aggregate
    "q135_robots_gate" -> ((s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents")
      val urls = d.select(concat(lit("https://host"),
        (col("doc_id") % 7).cast("string"), lit(".example/page/"),
        (col("doc_id") % 50).cast("string")).as("url"))
      val namedGroup = "User-agent: graftbot\nDisallow: /page/4\n" +
        "Allow: /page/44$\nSitemap: https://x.example/sitemap.xml\n" +
        "User-agent: *\nDisallow: /"
      val wildcards = "User-agent: *\nDisallow: /*/1\nAllow: /page/1$\n" +
        "Crawl-delay: 10\nDisallow: /page/33$"
      val emptyRule = "User-agent: graftbot\nDisallow:\n" +
        "User-agent: *\nDisallow: /page"
      val robots = Seq(
        ("host0.example", namedGroup), ("host1.example", namedGroup),
        ("host2.example", namedGroup),
        ("host3.example", wildcards), ("host4.example", wildcards),
        ("host5.example", emptyRule)).toDF("host", "txt")
      graft.operators.Crawl
        .robotsFilter(urls, "url", robots, "host", "txt", "graftbot")
        .groupBy(TextAnalysis.urlHost(col("url")).as("host"))
        .agg(count(lit(1)).as("n_allowed"),
          countDistinct(col("url")).as("n_uniq"),
          min(col("url")).as("min_url"), max(col("url")).as("max_url"))
    }),

    // ---- CURATION: the published Gopher quality-rule signals + gate —
    //      expression-only, integer counts + single IEEE divides
    "q121_gopher_rules" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.gopherSignals(col("text")).as("g"),
          TextAnalysis.gopherKeep(col("text")).as("keep"))
        .select(col("doc_id"), col("g.*"), col("keep"))),

    // ---- CURATION: canonical URL normalization — two fetch-variants
    //      per doc (messy: upper-cased authority, :443, utm params,
    //      fragment, trailing slash) collapse to ONE canonical key;
    //      pure regexp chain at the scan
    "q120_url_canonical" -> ((s, dir) => {
      val host = concat(lit("Example"), (col("doc_id") % 7).cast("string"),
        lit(".COM"))
      val path = concat(lit("/Page/"), col("doc_id").cast("string"))
      val clean = concat(lit("https://"), lower(host), path)
      val messy = concat(lit("HTTPS://"), host, lit(":443"), path,
        lit("/?utm_source=x&utm_medium=y#frag"))
      t(s, dir, "documents")
        .select(col("doc_id"), explode(array(clean, messy)).as("url"))
        .select(TextAnalysis.urlHost(
          TextAnalysis.canonicalUrl(col("url"))).as("host"),
          TextAnalysis.canonicalUrl(col("url")).as("curl"))
        .groupBy("host")
        .agg(count(lit(1)).as("n_raw"),
          countDistinct(col("curl")).as("n_canonical"))
    }),

    // ---- PROFILING: key-skew diagnosis — exact concentration stats
    //      (top-1/top-10 share, pair-collision probability) deciding
    //      whether a join key needs salting BEFORE the 100 TB shuffle;
    //      one keyed count exchange + scalar/TakeOrdered legs
    "q112_key_skew" -> ((s, dir) =>
      Profiling.keySkew(t(s, dir, "events"), col("user_id"))),

    // ---- DEDUP: all-pairs corpus-overlap matrix — per-source bottom-k
    //      sketches from the native bounded KMV aggregate (ONE corpus
    //      scan), pairwise estimates as k-length array arithmetic on the
    //      sketch rows; never corpus x corpus
    "q111_overlap_matrix" -> ((s, dir) =>
      Dedup.corpusOverlapMatrix(t(s, dir, "documents"), "source", "text",
        shingleN = 3, sketchK = 256)),

    // ---- LAYOUT: Z-order (Morton) interleaved sort key — one stored
    //      order serving range pruning on BOTH coordinates; pure
    //      shift/and/multiply tree at the scan
    "q110_zorder_key" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        graft.sources.Layout.zkey(
          Seq(pmod(col("n_chars"), lit(1L << 21)),
              pmod(col("doc_id"), lit(1L << 21))), 21).as("zkey"))),

    // ---- ANN: product-quantization encode — every embedding compressed
    //      to m=4 codebook ids (seed books = the md5-seed contract, so
    //      the whole assignment is SQL-mirrorable; training is pinned by
    //      PqSpec's plain-Scala Lloyd mirror). Assignment is the packed-
    //      long HashAggregate argmin off a broadcast codebook
    "q97_pq_codes" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = Similarity.pqSeedBooks(emb, "vec_id", "embedding",
        dim = 64, m = 4, ksub = 8)
      Similarity.pqCodes(emb, "vec_id", "embedding", cb)
    }),

    // ---- ANN: asymmetric-distance (ADC) top-k over the PQ codes — the
    //      probe never reads corpus vectors, only m integer lookups per
    //      candidate into the per-query LUT; adist6 is the exact
    //      micro-unit sum (engine-reproducible)
    "q98_pq_adc_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = Similarity.pqSeedBooks(emb, "vec_id", "embedding",
        dim = 64, m = 4, ksub = 8)
      val codes = Similarity.pqCodes(emb, "vec_id", "embedding", cb)
      Similarity.pqAdcTopK(emb.filter(col("vec_id") < 5), codes,
        "vec_id", "embedding", cb, k = 5)
    }),

    // ---- ANN: the composed IVF-PQ index at nprobe = nlist — the cell
    //      restriction is a no-op, so the result must equal q98 exactly
    //      (same oracle SQL); partial-nprobe recall is spec-tested
    "q99_ivfpq_probeall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val seeds = Similarity.kmeansTrain(emb, "vec_id", "embedding",
        nlist = 8, iters = 0)
      val cb = Similarity.pqSeedBooks(emb, "vec_id", "embedding",
        dim = 64, m = 4, ksub = 8)
      val index = Similarity.ivfPqBuild(emb, "vec_id", "embedding", seeds, cb)
      Similarity.ivfPqProbe(index, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 5, nprobe = 8)
    }),

    // ---- ANN: incremental IVF-PQ — index built on the even half,
    //      odd half APPENDED under the frozen seeds/codebooks (O(batch)
    //      encode, history never re-encoded); probe-all == q99's full
    //      rebuild, so the oracle is shared verbatim
    "q116_ivfpq_append" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val seeds = Similarity.kmeansTrain(emb, "vec_id", "embedding",
        nlist = 8, iters = 0)
      val cb = Similarity.pqSeedBooks(emb, "vec_id", "embedding",
        dim = 64, m = 4, ksub = 8)
      val history = Similarity.ivfPqBuild(
        emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", seeds, cb)
      val index = Similarity.ivfPqAppend(history,
        emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
      Similarity.ivfPqProbe(index, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 5, nprobe = 8)
    }),

    // ---- ANN preprocessing: L2 norms, unit-normalization, Matryoshka
    //      truncate+renormalize — pure scan-level expressions (sqrt is
    //      IEEE-correctly-rounded, so every value is bit-mirrorable)
    "q118_embed_normalize" -> ((s, dir) =>
      t(s, dir, "embeddings").select(
        col("vec_id"),
        Similarity.l2Norm(col("embedding")).as("norm"),
        element_at(Similarity.l2Normalize(col("embedding")), 1).as("u1"),
        element_at(Similarity.truncateRenormalize(col("embedding"), 16), 1)
          .as("m16"))),

    // ---- ANN preprocessing: chunk->doc mean pooling — q40's exact
    //      micro-unit per-dim mean assembled back into vectors, scored
    //      against a probe embedding
    "q119_mean_pool" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probe = broadcast(
        emb.filter(col("vec_id") === 0).select(col("embedding").as("pv")))
      Similarity.meanPoolVectors(emb, "label", "embedding")
        .crossJoin(probe)
        .select(col("label"), round(cosine(col("pooled"), col("pv")), 6)
          .as("cos_probe"))
    }),

    // ---- ANN: TRAINED centroids — two Lloyd's iterations refining the
    //      md5 seed table (assignment = the q49/q72 argmax contract;
    //      update = the q40 micro-quantized exact mean, cast back to
    //      float). Output = the trained model exploded per component,
    //      so every assignment AND every mean of both iterations is
    //      pinned; empty cells carry forward with n_vecs = 0
    "q92_kmeans" -> ((s, dir) =>
      Similarity.kmeansCentroids(t(s, dir, "embeddings"), "vec_id",
        "embedding", nlist = 8, iters = 2)),

    // ---- SAMPLING: deterministic hash split (80/10/10 train/val/test)
    //      + 20% subsample of train — membership is a pure function of
    //      doc_id (stable across runs/cluster layouts, filter pushes to
    //      the scan); counts per (split, lang) prove the partition
    "q50_hash_split" -> ((s, dir) => {
      val split = Sampling.hashSplit(t(s, dir, "documents"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      val sampled = Sampling.hashSample(
        split.filter(col("split") === "train"), "doc_id", 0.2)
        .select(lit("train_20pct").as("split"), col("lang"))
      split.select(col("split"), col("lang")).unionByName(sampled)
        .groupBy("split", "lang").agg(count(lit(1)).as("n_docs"))
    }),

    // ---- SAMPLING: token-budget sequence packing — contiguous bin ids
    //      from one exclusive-prefix-sum window pass per lang shard
    "q51_pack_budget" -> ((s, dir) =>
      Sampling.packBudget(t(s, dir, "documents"), Seq("lang"), "doc_id",
          TextAnalysis.tokenCount(col("text")), budget = 2048)
        .groupBy("lang", "bin")
        .agg(count(lit(1)).as("n_docs"))
        .select(col("lang"), col("bin"), col("n_docs"))),

    // ---- SAMPLE: the same budget packer fed EXACT BPE counts — the
    //      production token budget (approximate counts can be 2x off on
    //      unseen scripts; the packer itself is count-column agnostic)
    // FULL exact BPE encode (token sequences, not just counts): corpus
    // token frequency top-20 under the canonical merges — the vocab-
    // building / distribution-audit query every tokenizer pipeline
    // runs. size(tokens) == graft_bpe_count by construction (BpeSpec).
    "q127_bpe_tokens" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextAnalysis.bpeTokensExact(col("text"),
          bpeCanonicalMerges)).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("n").desc, col("token").asc)).cast("int"))
        .filter(col("rank") <= 20)),

    // BPE ids under a merges+vocab pair (encoder.json shape). The vocab
    // deliberately DROPS the last merge's token, so the -1 unknown
    // sentinel path is oracle-live alongside the mapped ids.
    "q129_bpe_ids" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"),
          explode(TextAnalysis.bpeIdsExact(col("text"), bpeCanonicalMerges,
            graft.expressions.BpeCodec
              .canonicalVocab(bpeCanonicalMerges).dropRight(1))).as("id"))
        .groupBy("lang")
        .agg(sum(col("id")).as("sum_ids"),
          count(lit(1)).as("n_tokens"),
          sum(when(col("id") === -1, 1L).otherwise(0L)).as("n_unknown"))),

    // ---- TEXT: SentencePiece-convention BPE ids — the Llama-family
    //      tokenizer shape beside q129's GPT-2: Metaspace pre-tokens,
    //      character-alphabet greedy merges, <0xNN> byte fallback for
    //      every out-of-vocab symbol (no unk on the id path). Each
    //      doc's identity rides an md5 over the ORDERED id stream, so
    //      one misplaced token — or one wrong fallback byte — diverges
    "q154_sp_ids" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.spIdsExact(col("text"), spCanonicalMerges,
            graft.expressions.SpCodec.canonicalSpVocab(spCanonicalMerges))
            .as("ids"))
        .select(col("doc_id"),
          size(col("ids")).cast("long").as("n_tokens"),
          expr("size(filter(ids, x -> x < 256))").cast("long")
            .as("n_fallback"),
          expr("aggregate(ids, 0L, (a, x) -> a + x)").as("sum_ids"),
          md5(array_join(transform(col("ids"), i => i.cast("string")), ","))
            .as("fp"))),

    // ---- SAMPLING × TEXT: sequence packing over the SENTENCEPIECE
    //      tokenizer — q137's concat-and-chunk trainer mile driven by
    //      the Llama-convention id stream (eos 273 = one past the
    //      canonical SP vocab), so packing is proven against BOTH
    //      published tokenizer families end-to-end
    "q157_sp_pack" -> ((s, dir) =>
      Sampling.packSequences(
        t(s, dir, "documents").select(col("lang"), col("doc_id"),
          TextAnalysis.spIdsExact(col("text"), spCanonicalMerges,
            graft.expressions.SpCodec.canonicalSpVocab(spCanonicalMerges))
            .as("ids")),
        Seq("lang"), "doc_id", "ids", seqLen = 128, eosId = 273)
        .select(col("lang"), col("seq"),
          md5(array_join(transform(col("ids"), i => i.cast("string")), ","))
            .as("fp"),
          expr("aggregate(ids, 0L, (a, x) -> a + x)").as("sum_ids"))),

    // Optimization round 11: the exact BPE count is projected ONCE and
    // reused by both the packing window and the bin aggregate — the old
    // shape ran the full GPT-2 encode per document twice (window arg +
    // agg arg; subexpression elimination does not cross the window
    // boundary). Same values, same rows, same hash.
    "q85_pack_exact" -> ((s, dir) =>
      Sampling.packBudget(
          t(s, dir, "documents").withColumn("__n_tok",
            TextAnalysis.bpeTokenCountExact(col("text"), bpeCanonicalMerges)),
          Seq("lang"), "doc_id", col("__n_tok"), budget = 2048)
        .groupBy("lang", "bin")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__n_tok")).as("bin_tokens"))
        .select(col("lang"), col("bin"), col("n_docs"), col("bin_tokens"))),

    // raw/rng.yml verbatim: csv-header imposition + a precompute that
    // overwrites an imposed column (Brng) AFTER another precompute read
    // its original value (Implementation) — dict-order semantics
    "q53_corpus_rng" -> ((s, dir) => {
      val root = graft.corpus.ReferenceCorpus.ensure(s, dir)
      graft.recipe.Benchmark(s, s"$root/raw/rng.yml")
        .getAggregatedData()
        .select(col("Prefix"), col("Implementation"), col("Brng"),
          col("Dist"), col("Arch"), col("Time"))
    }),

    // ---- TEXT: token-window chunking (size=32, overlap=8) — each doc
    //      explodes into its sliding chunks with a content fingerprint
    "q56_chunking" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(TextAnalysis.chunkTokens(col("text"), 32, 8))
            .as(Seq("chunk_id", "chunk")))
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          md5(col("chunk")).as("chunk_fp"),
          size(split(col("chunk"), " ")).cast("long").as("n_chunk_tokens"))),

    // ---- CURATION CAPSTONE: the full corpus-curation pipeline in ONE
    //      lazy plan — quality score + language ID + repetition filter
    //      (all scan-level expressions), exact dedup keep-first (one
    //      shuffle), deterministic 90/10 split, per-(split, lang) stats.
    //      Proves the operators COMPOSE: Catalyst sees one tree and the
    //      only exchanges are the dedup window and the final aggregate.
    "q55_curation" -> ((s, dir) => {
      val scored = t(s, dir, "documents").select(col("doc_id"), col("text"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.langId(col("text")).as("guess"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.topNgramCount(col("text"), 1).as("top1"))
      val kept = scored.filter(col("quality") >= 0.3 &&
        !col("guess").startsWith("und") && // drops und AND und-<Script>
        round(col("top1") / col("n_tokens"), 6) <= 0.2)
      val deduped = Dedup.exact(
        kept.withColumn("fp", TextAnalysis.fingerprint(col("text"))),
        Seq("fp"), "doc_id")
      Sampling.hashSplit(deduped, "doc_id", Seq("train" -> 0.9, "val" -> 0.1))
        .groupBy("split", "guess")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
    }),

    // raw/umath-native.yml verbatim: REPLACE line-filter rule rewrites
    // the env marker into the Prefix value pre-parse; aggregation: min
    "q57_corpus_umath" -> ((s, dir) => {
      val root = graft.corpus.ReferenceCorpus.ensure(s, dir)
      graft.recipe.Benchmark(s, s"$root/raw/umath-native.yml")
        .getAggregatedData()
        .select(col("Prefix"), col("Implementation"), col("Size"),
          col("Function"), col("Mode"), col("Arch"), col("CPE"))
    }),

    // raw/sklearn.yml verbatim: df-mode column copies, fillna on
    // classes, filter-out over nullable solver/svd_solver columns,
    // median aggregation
    "q58_corpus_sklearn" -> ((s, dir) => {
      val root = graft.corpus.ReferenceCorpus.ensure(s, dir)
      graft.recipe.Benchmark(s, s"$root/raw/sklearn.yml")
        .getAggregatedData()
        .select(col("Prefix"), col("Function"), col("Size"), col("Classes"),
          col("Mode"), col("Arch"), col("Time"))
    }),

    // blackscholes.yml top-level verbatim: the corpus's only THREE-kwarg
    // ratio_of (Prefix + Implementation + Accuracy pinned), computed over
    // the raw/blackscholes child and then sliced to Parallel/2097152/ha
    "q59_corpus_bs_summary" -> ((s, dir) => {
      val root = graft.corpus.ReferenceCorpus.ensure(s, dir)
      graft.recipe.Benchmark(s, s"$root/blackscholes.yml")
        .getAggregatedData()
        .select(col("Size").cast("long").as("Size"), col("Prefix"),
          col("Implementation"), col("Accuracy"), col("Mode"), col("Arch"),
          round(col("Efficiency"), 6).as("Efficiency"))
    }),

    // raw/svm.yml verbatim: prefix_ID header REPLACE + '^(Native-C)'
    // keep-only filter, rename -> pack fit/predict, numeric-threads Mode
    "q60_corpus_svm" -> ((s, dir) => {
      val root = graft.corpus.ReferenceCorpus.ensure(s, dir)
      graft.recipe.Benchmark(s, s"$root/raw/svm.yml")
        .getAggregatedData()
        .select(col("Size"), col("classes").cast("long").as("classes"),
          col("features").cast("long").as("features"), col("Mode"),
          col("Function"), col("Prefix"), col("Arch"), col("Time"))
    }),

    // raw/logreg.yml verbatim: '^@' drop rule, int() cast idiom, numeric
    // classes filter-out + solver filter-in on an axis column
    "q61_corpus_logreg" -> ((s, dir) => {
      val root = graft.corpus.ReferenceCorpus.ensure(s, dir)
      graft.recipe.Benchmark(s, s"$root/raw/logreg.yml")
        .getAggregatedData()
        .select(col("Size"), col("classes").cast("long").as("classes"),
          col("Mode"), col("Function"), col("solver"), col("Prefix"),
          col("Arch"), col("Time"))
    }),

    // raw/df_regr.yml verbatim: the df_clsf sibling without classes;
    // threads mixes 'Serial' strings with numbers in one column
    "q62_corpus_df_regr" -> ((s, dir) => {
      val root = graft.corpus.ReferenceCorpus.ensure(s, dir)
      graft.recipe.Benchmark(s, s"$root/raw/df_regr.yml")
        .getAggregatedData()
        .select(col("Size"), col("Mode"), col("Function"), col("Prefix"),
          col("Arch"), col("Time"))
    }),

    // raw/pca-native.yml verbatim: 8-col imposed csv-header, three noise
    // drop rules + '' keep-all, and a filter-out on `svd_solver` — a
    // column that exists ONLY via the .meta sidecar join (S6)
    "q63_corpus_pca" -> ((s, dir) => {
      val root = graft.corpus.ReferenceCorpus.ensure(s, dir)
      graft.recipe.Benchmark(s, s"$root/raw/pca-native.yml")
        .getAggregatedData()
        .select(col("Function"), col("Size").cast("long").as("Size"),
          col("Prefix"), col("Arch"), col("Mode"), col("Time"))
    }),

    // sklearn.yml top-level verbatim: median summary over the RESTORED
    // 8-child indicators/sklearn.yml; carries the reference's
    // `precompute:` typo key (ignored, like the reference) and filter-in
    // Arch=Xeon / Mode=Parallel
    "q64_corpus_sklearn_summary" -> ((s, dir) => {
      val root = graft.corpus.ReferenceCorpus.ensure(s, dir)
      graft.recipe.Benchmark(s, s"$root/sklearn.yml")
        .getAggregatedData()
        .select(col("Function"), col("Prefix"), col("Arch"), col("Mode"),
          round(col("Ratio"), 6).as("Ratio"))
    }),

    // ---- A7/A8 end-to-end on the corpus: sklearn.yml with the
    //      reference's commented-out `expected:` block RESTORED
    //      (sklearn.yml:17-21). None of the three expected prefixes
    //      occur in the indicator output, so every (Function ×
    //      expected-prefix) combo is filled with a null row (A7), and
    //      the ordering check (A8) fires a warning per group — the only
    //      corpus-shaped path through both machines.
    "q69_corpus_expected_fill" -> ((s, dir) => {
      val path = graft.corpus.ReferenceCorpus.ensureExpected(s, dir)
      graft.recipe.Benchmark(s, path)
        .getAggregatedData()
        .select(col("Function"), col("Prefix"), col("Arch"), col("Mode"),
          round(col("Ratio"), 6).as("Ratio"))
    }),

    // ---- TEXT: Gopher-style repetition signals — count of the most
    //      frequent word 1-/3-gram per doc as an expression-only fold
    //      (hash -> sort -> longest equal-run; no explode, no shuffle),
    //      turned into token-occupancy fractions + a filter flag
    "q52_repetition" -> ((s, dir) => {
      val base = t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.topNgramCount(col("text"), 1).as("top1"),
        TextAnalysis.topNgramCount(col("text"), 3).as("top3"))
      base
        .withColumn("top1_frac",
          round(when(col("n_tokens") === 0, 0.0)
            .otherwise(col("top1") / col("n_tokens")), 6))
        .withColumn("top3_frac",
          round(when(col("n_tokens") === 0, 0.0)
            .otherwise(col("top3") * lit(3) / col("n_tokens")), 6))
        .withColumn("repetitive",
          col("top1_frac") > 0.2 || col("top3_frac") > 0.18)
    })
  )

  /** The SQLite fixture (25-row nation table), resolved relative to the
    * working directory so the queries run from any checkout location —
    * sbt and the driver both launch from the repo root. */
  private lazy val sqliteFixture: java.nio.file.Path = {
    val p = java.nio.file.Paths.get(
      "src/test/resources/sqlite/nation.db").toAbsolutePath
    require(java.nio.file.Files.isRegularFile(p),
      s"SQLite fixture not found at $p — run from the repo root")
    p
  }

  /** Clean-script salt samples q19 unions in under lang='salt' — one
    * per langId router branch (en-markers / ru-markers / zh / ar /
    * ja-with-kana / markerless-Cyrillic fallback, then the round-9
    * single-language scripts ko / hi / th / el / he). ONE definition
    * shared by the engine query and the oracle SQL, so the fixture can
    * never drift between the two sides. */
  private[graft] val langSaltSamples: Seq[String] = Seq(
    "the quick brown fox and the dog 42",
    "быстрая лисица и не на месте",
    "敏捷的狐狸跳过了懒狗",
    "الثعلب السريع يقفز",
    "素早い狐が犬を飛び越えた",
    "лисица прыгает быстро",
    "빠른 여우가 게으른 개를 뛰어넘는다",
    "तेज लोमड़ी कूदती है",
    "สุนัขจิ้งจอกกระโดดเร็ว",
    "η γρήγορη αλεπού πηδά ψηλά",
    "השועל המהיר קופץ מעל הכלב")

  /** The q19 salt list as a DuckDB list literal. */
  private lazy val LANG_SALT_SQL: String =
    langSaltSamples.map(s => s"'${s.replace("'", "''")}'")
      .mkString("[", ",\n                   ", "]")

  /** q159's deliberately ambiguous texts — marker hits split across
    * languages so the margin score lands strictly between the clean 1.0
    * and the dead-tie 0.0 (plus one exact tie): en 5 vs es 1 (margin
    * 4/6), en 3 vs de 3 (tie -> 0.0, label de by rank), ru 4 vs uk 1
    * (margin 3/5). */
  private[graft] val langAmbiguousSamples: Seq[String] = Seq(
    "the dog and the cat of the house de nada",
    "der hund und die katze is in the house of x",
    "быстрая лисица и не на что это")

  private lazy val LANG_AMB_SQL: String =
    langAmbiguousSamples.map(s => s"'${s.replace("'", "''")}'")
      .mkString("[", ",\n                   ", "]")

  /** Canonical WordPiece vocab: [[graft.operators.TextAnalysis
    * .wordPieceTrain]]'s output on sf0.01 documents with 48 merges —
    * `[UNK]`, the sorted codepoint alphabet (plain + `##` continuation
    * forms), then merge products in creation order (WordPieceSpec pins
    * the equality; the table is CONSTANT so q161/q162 encode with the
    * same vocab at every sf). */
  private[graft] val wpCanonicalVocab: Seq[String] = WpVocab.lines

  /** Canonical unigram-LM vocab ([[graft.operators.TextAnalysis
    * .unigramVocabTrain]] on sf0.01 documents, 96 pieces; UnigramSpec
    * pins the equality) in the published SentencePiece `.vocab`
    * format — CONSTANT so q171 encodes identically at every sf. */
  private[graft] val ugCanonicalVocab: Seq[String] = UgVocab.lines

  /** q164's planted fully-compliant document (shared VERBATIM by every
    * %20==7 doc, so exact dedup has a live many-to-one group): passes
    * the en-confidence gate (en markers only), Gopher quality (90+
    * plain words, stopword-rich), Gopher repetition (distinct
    * sentences), and C4 (terminal-punctuated >= 5-word sentences, no
    * lorem/brace/javascript). No apostrophes — it rides into the SQL
    * mirror as a literal. */
  private[graft] val curationDupDoc: String =
    "The quick study of large corpora is a fine craft and the results " +
      "of the work are strong. Researchers of the field keep careful " +
      "notes and the methods they follow are sound and fair. Careful " +
      "reading of each page is the habit that keeps a corpus clean " +
      "and useful. This planted document is here so the funnel keeps " +
      "a duplicated page that is fully compliant. The page ends with " +
      "one more full sentence so the gate sees five marks. A final " +
      "line of steady prose closes the planted page."

  /** q164's compliant paragraph appended to %20==13 docs (unique per
    * doc because the base text differs): the base lines die at the C4
    * line clean, leaving exactly this paragraph as the cleaned page. */
  private[graft] val curationGoodPara: String =
    "The added paragraph gives the page five proper sentences for the " +
      "gate. Each of the sentences here is long enough and ends the " +
      "right way. The curation funnel can now keep pages from this " +
      "synthetic corpus. A fourth sentence keeps the count safely " +
      "past the bar. The fifth sentence closes the paragraph in good " +
      "order."

  /** q156/q160's shared fixture: documents plus an off-boundary
    * 60-token twin per %10 doc (planted 7 tokens into the source,
    * behind 7 pad tokens in the twin — content-defined anchors travel
    * with the content, so the copies' chunks align at any offset). */
  private def exactSubstrCorpus(s: org.apache.spark.sql.SparkSession,
                                dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val twins = d
      .select(col("doc_id"),
        expr("filter(split(trim(text), '\\\\s+'), w -> w <> '')").as("ws"))
      .filter(col("doc_id") % 10 === 0 && size(col("ws")) >= 70)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(lit("pad0 pad1 pad2 pad3 pad4 pad5 pad6 "),
          array_join(slice(col("ws"), 8, 60), " ")).as("text"))
    d.select(col("doc_id"), col("text")).unionByName(twins)
  }

  /** q123's script-variant salt samples — one per routed script so
    * every counting path in the census is oracle-live. ONE definition
    * shared by the engine query and the oracle SQL. */
  private[graft] val scriptSaltSamples: Seq[String] = Seq(
    "the quick brown fox 42",
    "быстрая лисица прыгает 7",
    "敏捷的狐狸跳过了懒狗",
    "الثعلب السريع يقفز",
    "빠른 여우가 게으른 개를 뛰어넘는다",
    "तेज लोमड़ी कूदती है",
    "สุนัขจิ้งจอกกระโดดเร็ว",
    "η γρήγορη αλεπού πηδά ψηλά",
    "השועל המהיר קופץ מעל הכלב")

  /** The q123 salt list as a DuckDB list literal. */
  private lazy val SCRIPT_SALT_SQL: String =
    scriptSaltSamples.map(s => s"'${s.replace("'", "''")}'")
      .mkString("[", ",\n                   ", "]")

  /** q148's mojibake case matrix: (broken, repaired) pairs — UTF-8
    * mis-decoded as Windows-1252, including CP1252-graphics sequences
    * (the 0x80-0x9F row), Cyrillic, one DOUBLE-encoded char (two repair
    * passes), pure-ASCII passthrough, and a lone 0xC3 'A-tilde' that
    * must survive untouched (strict re-decode fails on the truncated
    * sequence). Unicode escapes, not raw glyphs: the pair table IS the
    * contract and must never depend on editor/source encoding. The
    * engine runs the general inverse-decode algorithm; the oracle pins
    * this matrix as literals (the q123 salt pattern). */
  private val mojibakeSamples: Seq[(String, String)] = Seq(
    ("caf\u00c3\u00a9",
      "caf\u00e9"),
    ("don\u00e2\u20ac\u2122t stop",
      "don\u2019t stop"),
    ("na\u00c3\u00afve",
      "na\u00efve"),
    ("\u00d0\u00bf\u00d1\u20ac\u00d0\u00b8\u00d0\u00b2\u00d0\u00b5\u00d1\u201a",
      "\u043f\u0440\u0438\u0432\u0435\u0442"),
    ("\u00c3\u0192\u00c2\u00a9 twice",
      "\u00e9 twice"),
    ("plain ascii text",
      "plain ascii text"),
    ("lone \u00c3 stays",
      "lone \u00c3 stays"))

  /** q148's NFD inputs (combining marks that NFC must compose). */
  private val nfdSamples: Seq[String] = Seq(
    "e\u0301clair",
    "Cafe\u0301",
    "A\u030angstro\u0308m",
    "plain")

  private def sqlList(xs: Seq[String]): String =
    xs.map(s => s"'${s.replace("'", "''")}'")
      .mkString("[", ",\n                   ", "]")

  /** Canonical BPE merges table for q84: the output of
    * `TextAnalysis.bpeTrain(documents, 32)` on this corpus (spec-pinned
    * by BpeSpec so the embedded copy can never drift from the trainer).
    * Embedded as data — not re-trained per run — because the DuckDB
    * oracle must carry the IDENTICAL table, and because that is the
    * production shape anyway: a tokenizer's merges file is a versioned
    * artifact, not something re-derived per query. Retrained in round 9
    * over GPT-2 pre-tokens: the `Ġ`-prefixed (leading-space) merges now
    * dominate, exactly like a real model's merges.txt. */
  private[graft] val bpeCanonicalMerges: Seq[(String, String)] = Seq(
    ("Ġ", "s"), ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("Ġ", "c"), ("a", "s"),
    ("Ġ", "b"), ("Ġ", "v"), ("a", "r"), ("p", "ar"),
    ("Ġ", "f"), ("Ġ", "a"), ("Ġ", "t"), ("j", "o"),
    ("jo", "in"), ("as", "h"), ("h", "ash"), ("Ġ", "join"),
    ("s", "t"), ("r", "ow"), ("at", "c"), ("atc", "h"), ("a", "n"),
    ("c", "an"), ("lu", "m"), ("lum", "n"), ("o", "lumn"), ("o", "mer"))

  /** The SentencePiece-convention sibling of [[bpeCanonicalMerges]]:
    * a fixed merges table over the ▁-marked CHARACTER alphabet
    * ([[graft.expressions.SpCodec]] semantics — Metaspace pre-tokens,
    * no byte-level remap). Hand-chained so common corpus words become
    * single pieces ("▁the", "▁table", "▁a", "▁join") while everything
    * else part-merges and byte-falls-back — the pruned-production-vocab
    * shape. Embedded as data for the same reason as the GPT-2 table:
    * the DuckDB oracle must carry the IDENTICAL table. */
  private[graft] val spCanonicalMerges: Seq[(String, String)] = Seq(
    ("▁", "t"), ("▁t", "h"), ("▁th", "e"), ("▁t", "a"), ("b", "l"),
    ("bl", "e"), ("▁ta", "ble"), ("▁", "a"), ("j", "o"), ("jo", "i"),
    ("joi", "n"), ("▁", "join"), ("▁", "s"), ("▁s", "m"), ("r", "o"),
    ("ro", "w"), ("▁", "row"))

  /** DuckDB mirror of `BpeCodec.preTokenize` — GPT-2's pre-tokenizer.
    * RE2 has no lookahead, so the published pattern's `\s+(?!\S)`
    * backtrack is reproduced by a sentinel pass first: insert a
    * private-use U+E000 before the LAST whitespace char of every
    * whitespace run that precedes non-whitespace (`regexp_replace` of
    * `(ws)(non-ws)` — one boundary per run, never rescanned). The
    * greedy `[ws]+` alternative then stops at the sentinel, and the
    * freed final space glues to the following token through the ` ?`
    * prefixes — exactly the lookahead's effect; `regexp_extract_all`
    * skips the unmatched sentinel. The whitespace class is spelled out
    * (Python-regex \s = Unicode White_Space + 0x1C-0x1F, all BMP) so
    * RE2's ASCII `\s` never diverges from the engine's scanner; the
    * sentinel is excluded from the punctuation run class. Verified
    * token-for-token against the scanner by BpeSpec's property test
    * (scanner == java.util.regex lookahead pattern) plus the q84/q85/
    * q127/q129 hash gates (mirror == engine on the corpus). */
  private val PRETOK_WS =
    """\t\n\x{0b}\f\r\x{1c}-\x{1f} \x{85}\x{a0}\x{1680}\x{2000}-\x{200a}\x{2028}\x{2029}\x{202f}\x{205f}\x{3000}"""
  private lazy val PRETOKS: String = {
    val pat = s"''s|''t|''re|''ve|''m|''ll|''d| ?\\p{L}+| ?\\p{N}+|" +
      s" ?[^$PRETOK_WS\\p{L}\\p{N}\\x{e000}]+|[$PRETOK_WS]+"
    s"regexp_extract_all(regexp_replace(text, " +
      s"'([$PRETOK_WS])([^$PRETOK_WS])', chr(57344) || '\\1\\2', 'g'), '$pat')"
  }

  /** Shared recursive-CTE body mirroring `graft_bpe_count`'s greedy
    * merge loop over [[bpeCanonicalMerges]] (used by q84/q85): every
    * DISTINCT GPT-2 pre-token ([[PRETOKS]] — leading spaces kept, so
    * `Ġ`-seeded symbols appear exactly as the engine's) becomes a
    * chr(31)-delimited symbol string seeded BYTE-LEVEL — its UTF-8
    * bytes (hex-chunked) mapped through GPT-2's bytes_to_unicode
    * alphabet, the same 256-entry table `BpeCodec.byteSymbols` the
    * engine uses, here a chr()-built list literal indexed by byte value
    * (chr(31) maps OUT of the alphabet, so the delimiter can't collide
    * with a symbol); each recursion step merges all non-overlapping
    * occurrences of the lowest-ranked adjacent pair present (DuckDB
    * replace() is left-greedy, matching the engine's sweep); `final`
    * holds each pre-token's surviving token count. Prepend
    * `WITH RECURSIVE`. */
  private lazy val BPE_CTE: String = {
    val mergesValues = bpeCanonicalMerges.zipWithIndex
      .map { case ((a, b), r) =>
        s"('${a.replace("'", "''")}','${b.replace("'", "''")}',$r)" }
      .mkString(",")
    val byteCodes = graft.expressions.BpeCodec.byteSymbols
      .map(_.codePointAt(0)).mkString(",")
    val pat = "chr(31) || m.a || chr(31) || m.b || chr(31)"
    s"""merges(a, b, r) AS (VALUES $mergesValues),
       b2u AS (SELECT list_transform([$byteCodes], c -> chr(c)) AS syms),
       w0 AS (
         SELECT doc_id, lang, unnest($PRETOKS) AS w FROM documents),
       wf AS (SELECT DISTINCT w FROM w0 WHERE w <> ''),
       enc AS (
         SELECT w, chr(31) || array_to_string(
             list_transform(range(1, octet_length(encode(w)) + 1),
               i -> b2u.syms[('0x' || substr(hex(encode(w)), i*2-1, 2))::INT + 1]),
             chr(31)) || chr(31) AS s
         FROM wf, b2u
         UNION ALL
         SELECT e.w,
                replace(e.s, chr(31) || ba.a || chr(31) || ba.b || chr(31),
                        chr(31) || ba.a || ba.b || chr(31)) AS s
         FROM enc e
         JOIN LATERAL (
           SELECT m.a, m.b FROM merges m
           WHERE position($pat IN e.s) > 0
           ORDER BY m.r LIMIT 1) ba ON true),
       final AS (
         SELECT w, len(str_split(trim(s, chr(31)), chr(31))) AS nt, s
         FROM enc e
         WHERE NOT EXISTS (SELECT 1 FROM merges m WHERE position($pat IN e.s) > 0))"""
  }

  /** CTE chain from `documents` to `per`(doc_id, il) — the complete
    * SentencePiece-convention encode ([[graft.expressions.SpCodec]]
    * semantics): Metaspace pre-tokens (mk/pcs, ▁ kept on the following
    * piece, order carried as pi), distinct pieces char-split and
    * greedy-merged by the recursive enc scaffold (the BPE_CTE pattern
    * over CHARACTER symbols), vocab lookup with `<0xNN>` byte fallback
    * where the fallback ids ARE the byte values (straight off
    * hex(encode(tok))), ids ordered (piece, token, byte). Shared by
    * q154 (id streams) and q157 (SP-driven packing). */
  private lazy val SP_IDS_CTES: String = {
    val mergesValues = spCanonicalMerges.zipWithIndex
      .map { case ((a, b), r) =>
        s"('${a.replace("'", "''")}','${b.replace("'", "''")}',$r)" }
      .mkString(",")
    val prodValues = spCanonicalMerges.zipWithIndex
      .map { case ((a, b), r) =>
        s"('${(a + b).replace("'", "''")}',${256 + r})" }
      .mkString(",")
    val pat = "chr(31) || m.a || chr(31) || m.b || chr(31)"
    s"""spm(a, b, r) AS (VALUES $mergesValues),
       spv(tok, id) AS (VALUES $prodValues),
       mk AS (SELECT doc_id, '▁' || replace(text, ' ', '▁') AS s
              FROM documents),
       pcs AS (SELECT doc_id,
                 list_transform(
                   list_slice(string_split(s, '▁'), 2,
                     len(string_split(s, '▁'))),
                   p -> '▁' || p) AS ps
               FROM mk),
       w0o AS (SELECT doc_id, generate_subscripts(ps, 1) AS pi,
                      unnest(ps) AS w
               FROM pcs),
       wf AS (SELECT DISTINCT w FROM w0o),
       enc AS (
         SELECT w, chr(31) || array_to_string(
             regexp_split_to_array(w, ''), chr(31)) || chr(31) AS s
         FROM wf
         UNION ALL
         SELECT e.w,
                replace(e.s, chr(31) || ba.a || chr(31) || ba.b || chr(31),
                        chr(31) || ba.a || ba.b || chr(31)) AS s
         FROM enc e
         JOIN LATERAL (
           SELECT m.a, m.b FROM spm m
           WHERE position($pat IN e.s) > 0
           ORDER BY m.r LIMIT 1) ba ON true),
       fin AS (
         SELECT w, s FROM enc e
         WHERE NOT EXISTS (SELECT 1 FROM spm m
                           WHERE position($pat IN e.s) > 0)),
       tok AS (SELECT o.doc_id, o.pi, generate_subscripts(tl, 1) AS ti,
                      unnest(tl) AS tk
               FROM (SELECT w0o.doc_id, w0o.pi,
                       str_split(trim(f.s, chr(31)), chr(31)) AS tl
                     FROM w0o JOIN fin f ON w0o.w = f.w) o),
       idl AS (SELECT t.doc_id, t.pi, t.ti,
                 CASE WHEN v.id IS NOT NULL THEN [v.id]
                      ELSE list_transform(
                        range(1, octet_length(encode(t.tk)) + 1),
                        i -> ('0x' || substr(hex(encode(t.tk)),
                               i*2-1, 2))::INT) END AS l
               FROM tok t LEFT JOIN spv v ON t.tk = v.tok),
       ids AS (SELECT doc_id, pi, ti, generate_subscripts(l, 1) AS bi,
                      unnest(l) AS id
               FROM idl),
       per AS (SELECT doc_id, list(id ORDER BY pi, ti, bi) AS il
               FROM ids GROUP BY doc_id)"""
  }

  // ---- DuckDB fragment builders shared by the Gopher-repetition
  //      mirrors (q138 and the q142 corpus card) and the C4 mirrors
  //      (q139/q142): scalar list folds for the dup families, per-n
  //      explode-group argmax for the top families; integer counts,
  //      single IEEE divides.
  private def R_SLEN(l: String) =
    s"list_reduce(list_prepend(0::BIGINT, list_transform($l, " +
      s"x -> CAST(length(x) AS BIGINT))), (a, b) -> a + b)"
  private def R_EXTRA(l: String) = {
    val sl = s"list_sort($l)"
    s"list_reduce(list_prepend(0::BIGINT, " +
      s"list_transform(range(2, len($l) + 1), " +
      s"i -> CASE WHEN $sl[i] = $sl[i-1] " +
      s"THEN CAST(length($sl[i]) AS BIGINT) ELSE 0 END)), (a, b) -> a + b)"
  }
  private def R_FRAC(num: String, den: String) =
    s"CASE WHEN $den = 0 THEN 0.0 " +
      s"ELSE CAST($num AS DOUBLE) / CAST($den AS DOUBLE) END"
  private def R_NG(n: Int) = {
    val cat = (0 until n).map(o => s"ws[i+$o]").mkString(" || ' ' || ")
    s"CASE WHEN len(ws) < $n THEN CAST([] AS VARCHAR[]) " +
      s"ELSE list_transform(range(1, len(ws) - ${n - 1} + 1), " +
      s"i -> $cat) END"
  }
  /** CTE chain from a CTE named `s`(doc_id, sample) to `fin`(doc_id,
    * every [[graft.operators.TextAnalysis.gopherRepetition]] fraction).
    * Append after the `s` definition; finish with a SELECT over fin. */
  /** The Gopher quality-gate mirror (gt -> gsig -> gk) reading
    * `documents` — q142's inline block factored (round 11) so the q164
    * sequential funnel replays the IDENTICAL gate. Ends at `gk(doc_id,
    * gk)`. */
  private def GOPHER_CTES(src: String): String =
    s"""gt AS (SELECT doc_id, text,
                  list_filter($TOKS, w -> w <> '') AS ws,
                  string_split(text, chr(10)) AS lines
                FROM $src),
         gsig AS (SELECT doc_id,
             len(ws) AS n_words,
             list_reduce(list_prepend(0, list_transform(ws, w -> length(w))),
               (a, b) -> a + b) AS sum_len,
             (length(text) - length(replace(text, '#', '')))
               + (length(text) - length(replace(text, '...', ''))) / 3
               AS symbols,
             len(lines) AS n_lines,
             len(list_filter(lines, l -> regexp_matches(l, '^[-*•]')))
               AS bullets,
             len(list_filter(lines, l -> regexp_matches(l, '\\.\\.\\.${"$"}')))
               AS ells,
             len(list_filter(ws, w -> regexp_matches(w, '[a-zA-Z]')))
               AS alphas,
             len(list_filter(ws, w -> list_contains(
               ['the','a','of','and','to','in','is','on','for','with'],
               lower(w)))) AS stops
           FROM gt),
         gk AS (SELECT doc_id,
             (n_words >= 50 AND n_words <= 100000
              AND (CASE WHEN n_words = 0 THEN 0.0
                   ELSE CAST(sum_len AS DOUBLE) / n_words END) >= 3.0
              AND (CASE WHEN n_words = 0 THEN 0.0
                   ELSE CAST(sum_len AS DOUBLE) / n_words END) <= 10.0
              AND (CASE WHEN n_words = 0 THEN 0.0
                   ELSE CAST(symbols AS DOUBLE) / n_words END) <= 0.1
              AND CAST(bullets AS DOUBLE) / n_lines <= 0.9
              AND CAST(ells AS DOUBLE) / n_lines <= 0.3
              AND (CASE WHEN n_words = 0 THEN 0.0
                   ELSE CAST(alphas AS DOUBLE) / n_words END) >= 0.8
              AND stops >= 2) AS gk
           FROM gsig)"""

  private lazy val REP_MIRROR_CTES: String = {
    val topCtes = (2 to 4).map { n =>
      s"""t$n AS (SELECT doc_id, c * ln AS prod,
             ROW_NUMBER() OVER (PARTITION BY doc_id
               ORDER BY c DESC, ln DESC) AS rn
           FROM (SELECT doc_id, g, COUNT(*) AS c,
                   CAST(length(g) AS BIGINT) AS ln
                 FROM (SELECT doc_id, unnest(g$n) AS g FROM wl2)
                 GROUP BY 1, 2))"""
    }.mkString(",\n")
    s"""wl AS (SELECT doc_id,
                list_filter(string_split_regex(trim(sample), '\\s+'),
                  w -> w <> '') AS ws,
                list_filter(string_split(sample, chr(10)),
                  x -> x <> '') AS lns,
                list_filter(string_split(sample, chr(10) || chr(10)),
                  x -> x <> '') AS prs
              FROM s),
       wl2 AS (SELECT doc_id, ws, lns, prs,
                 ${(2 to 10).map(n => s"${R_NG(n)} AS g$n").mkString(", ")},
                 ${R_SLEN("ws")}
                   + GREATEST(CAST(len(ws) AS BIGINT) - 1, 0) AS stream
               FROM wl),
       base AS (SELECT doc_id, stream,
           ${R_FRAC("len(lns) - len(list_distinct(lns))", "len(lns)")}
             AS dup_line_frac,
           ${R_FRAC(R_EXTRA("lns"), R_SLEN("lns"))} AS dup_line_char_frac,
           ${R_FRAC("len(prs) - len(list_distinct(prs))", "len(prs)")}
             AS dup_para_frac,
           ${R_FRAC(R_EXTRA("prs"), R_SLEN("prs"))} AS dup_para_char_frac,
           ${(5 to 10).map(n =>
             s"LEAST(${R_FRAC(R_EXTRA(s"g$n"), "stream")}, 1.0) " +
               s"AS dup_${n}gram_char_frac").mkString(", ")}
         FROM wl2),
       $topCtes,
       fin AS (SELECT b.*,
           ${(2 to 4).map(n =>
             s"${R_FRAC(s"COALESCE(p$n.prod, 0)", "b.stream")} " +
               s"AS top_${n}gram_char_frac").mkString(", ")}
         FROM base b
           ${(2 to 4).map(n =>
             s"LEFT JOIN (SELECT doc_id, prod FROM t$n WHERE rn = 1) p$n " +
               s"ON b.doc_id = p$n.doc_id").mkString("\n           ")})"""
  }
  /** The Table-A1 threshold conjunction over fin's column names. */
  private val REP_GATE: String = (Seq(
    "dup_line_frac <= 0.30", "dup_para_frac <= 0.30",
    "dup_line_char_frac <= 0.20", "dup_para_char_frac <= 0.20",
    "top_2gram_char_frac <= 0.20", "top_3gram_char_frac <= 0.18",
    "top_4gram_char_frac <= 0.16") ++
    (5 to 10).map(n => s"dup_${n}gram_char_frac <= 0.${20 - n}"))
    .mkString(" AND ")
  /** The C4 trimmed-line keep predicate over a lambda var `l`. */
  private val C4_KEEP_LINE: String =
    "regexp_matches(l, '[.!?\"]$') AND " +
      "len(list_filter(string_split_regex(l, '\\s+'), w -> w <> '')) >= 3 " +
      "AND NOT contains(lower(l), 'javascript')"
  /** The C4-cleaned text of `sampleCol` (kept lines re-joined; DuckDB's
    * array_to_string([]) is NULL, Spark's array_join([]) is '' — pin
    * the Spark semantics). */
  private def C4_CLEAN(sampleCol: String): String =
    s"COALESCE(array_to_string(list_filter(" +
      s"list_transform(string_split($sampleCol, chr(10)), x -> trim(x)), " +
      s"l -> $C4_KEEP_LINE), chr(10)), '')"
  /** The C4 page gate over a cleaned-text column reference. */
  private def C4_KEEP(c: String): String =
    s"(length($c) - length(regexp_replace($c, '[.!?]', '', 'g')) >= 5 " +
      s"AND NOT contains(lower($c), 'lorem ipsum') " +
      s"AND NOT contains($c, '{') AND length($c) > 0)"

  // ---- DuckDB mirror of graft.operators.Html (q125/q126): the same
  //      staged pipeline — page fixture, chrome strip, block
  //      segmentation at chr(30), per-block tag strip + ONE-pass entity
  //      decode (chr(31)-marked split) + whitespace normalization,
  //      closed-anchor link mass, keep rule. Regexes are RE2-compatible
  //      and byte-identical to the Spark side's; the staged CTEs keep
  //      the generated SQL linear in size (each helper's argument is a
  //      column reference).
  private def H_STRIP(x: String) =
    s"regexp_replace($x, '(?s)</?[a-zA-Z!][^>]*(>|$$)', '', 'g')"
  private def H_NORM(x: String) =
    s"trim(regexp_replace($x, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))"
  private def H_BODY(p: String): String = {
    val code = s"CASE WHEN $p LIKE '#x%' OR $p LIKE '#X%' " +
      s"THEN ('0x' || substr($p, 3))::BIGINT ELSE substr($p, 2)::BIGINT END"
    s"CASE WHEN $p LIKE '#%' THEN " +
      s"(CASE WHEN $code IN (9, 10, 13) OR ($code BETWEEN 32 AND 55295) " +
      s"OR ($code BETWEEN 57344 AND 1114111) THEN chr(CAST($code AS INT)) " +
      s"ELSE '&' || $p || ';' END) " +
      s"WHEN $p = 'amp' THEN '&' WHEN $p = 'lt' THEN '<' " +
      s"WHEN $p = 'gt' THEN '>' WHEN $p = 'quot' THEN '\"' " +
      s"WHEN $p = 'apos' THEN chr(39) WHEN $p = 'nbsp' THEN ' ' " +
      s"ELSE '&' || $p || ';' END"
  }
  private def H_DECODE(s: String): String = {
    val m = s"string_split(regexp_replace($s, " +
      "'&(#[0-9]{1,7}|#[xX][0-9a-fA-F]{1,6}|amp|lt|gt|quot|apos|nbsp);', " +
      "chr(31) || '\\1' || chr(31), 'g'), chr(31))"
    s"array_to_string(list_transform(range(1, len($m) + 1), " +
      s"j -> CASE WHEN j % 2 = 0 THEN ${H_BODY(s"$m[j]")} ELSE $m[j] END), '')"
  }
  private def H_CHROME(x: String): String = {
    var c = s"regexp_replace($x, '[' || chr(30) || chr(31) || ']', '', 'g')"
    c = s"regexp_replace($c, '(?s)<!--.*?(-->|$$)', '', 'g')"
    for (tag <- Seq("script", "style", "noscript"))
      c = s"regexp_replace($c, '(?is)<$tag\\b[^>]*(>.*?(</$tag\\s*>|$$)|$$)', '', 'g')"
    s"regexp_replace($c, '(?s)<!\\[CDATA\\[.*?(\\]\\]>|$$)', '', 'g')"
  }
  private val H_BLOCK_TAGS =
    "p|div|h[1-6]|li|ul|ol|dl|dt|dd|table|thead|tbody|tr|td|th|blockquote|" +
      "pre|section|article|aside|header|footer|nav|form|figure|figcaption|" +
      "main|hr|br|html|head|body|title"
  /** The page fixture — byte-identical to `Html.syntheticPages`. */
  private val H_PAGE: String =
    "'<!DOCTYPE html><html><head><title>Doc ' || doc_id || '</title>" +
      "<style>p { color: red }</style><script>if (1<2) { x = \"a&amp;b\"; }</script></head>" +
      "<body><!-- page ' || doc_id || ' --><nav><a href=\"/\">Home</a> <a href=\"/a\">About</a> " +
      "<a href=\"/b\">More &amp; more</a> " +
      "<a href=''/s?a=1&amp;b=2''>S</a> <a href=/u/plain>U</a></nav><h1>Doc ' || doc_id || " +
      "' &quot;caf&#233; r&#xE9;sum&#xE9;&quot; &bogus; &#1114112;</h1><p>' || " +
      "regexp_replace(text, ' table ', '</p><p>', 'g') || '</p><p>tiny</p>" +
      "<![CDATA[ raw junk 1<2 ]]><footer><a href=\"/terms\">Terms</a> &copy; " +
      "<a href=\"/p\">P</a> <a href=\"HTTPS://Ex' || (doc_id % 5) || " +
      "'.COM:443/P?utm_source=x&amp;q=1#f\">ext</a></footer>" +
      "<p>tail block with a stray < bracket and an unclosed <span class=\"x'"
  /** Ends at `hfull` (doc_id, block ordinal, normalized text, link
    * chars, empty-text blocks dropped); consumers append their final
    * aggregate. Prepend `WITH`. */
  private lazy val HTML_CTE: String =
    s"""pages AS (SELECT doc_id, $H_PAGE AS html FROM documents),
       hseg AS (SELECT doc_id, regexp_replace(${H_CHROME("html")},
         '(?is)</?($H_BLOCK_TAGS)\\b[^>]*(>|$$)', chr(30), 'g') AS seg FROM pages),
       hblocks AS (SELECT doc_id, generate_subscripts(bl, 1) AS i, unnest(bl) AS b
         FROM (SELECT doc_id, string_split(seg, chr(30)) AS bl FROM hseg)),
       hstrip AS (SELECT doc_id, i, b, ${H_STRIP("b")} AS s FROM hblocks),
       htext AS (SELECT doc_id, i, ${H_NORM(H_DECODE("s"))} AS txt FROM hstrip),
       hlink AS (SELECT doc_id, i,
         unnest(regexp_extract_all(b, '(?is)<a\\b[^>]*>(.*?)</a\\s*>', 1)) AS l
         FROM hblocks),
       hltext AS (SELECT doc_id, i, length(${H_NORM(H_DECODE(H_STRIP("l")))}) AS lc FROM hlink),
       hlsum AS (SELECT doc_id, i, SUM(lc) AS link_chars FROM hltext GROUP BY 1, 2),
       hfull AS (SELECT t.doc_id, t.i, t.txt, COALESCE(ls.link_chars, 0) AS lc
         FROM htext t LEFT JOIN hlsum ls ON t.doc_id = ls.doc_id AND t.i = ls.i
         WHERE length(t.txt) > 0)"""

  /** The dominance-chain WHEN arms over strip-count script counts — the
    * SQL rendition of `TextAnalysis.dominanceOf`, generated from the
    * SAME `scriptOrder` list the engine routes on (earlier entries win
    * ties, a script needs > 0 chars). `route` maps each script label to
    * the THEN expression. */
  private def scriptChainSql(cnt: String => String,
                             route: String => String): String = {
    val labels = graft.operators.TextAnalysis.scriptOrder.map(_._1)
    val counts = labels.map(cnt)
    labels.zipWithIndex.map { case (l, i) =>
      val me = counts(i)
      val cond = (counts.drop(i + 1).map(o => s"$me >= $o") :+ s"$me > 0")
        .mkString(" AND ")
      s"WHEN $cond THEN ${route(l)}"
    }.mkString("\n        ")
  }

  /** The s0..s4 canonical-URL chain (mirror of
    * `TextAnalysis.canonicalUrl`, the q120/q128 idiom) as CTEs reading
    * column `url` from CTE `src`; ends at `s4(curl)`. */
  private def CANON_CTES(src: String): String =
    s"""s0 AS (SELECT regexp_replace(url, '#.*', '') AS s FROM $src),
         s1 AS (SELECT lower(regexp_extract(s,
                    '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?]*', 0))
                  || substr(s, length(regexp_extract(s,
                    '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?]*', 0)) + 1) AS s
                FROM s0),
         s2 AS (SELECT regexp_replace(regexp_replace(s,
                    '^(http://[^/:?]+):80([/?].*)?${"$"}', '\\1\\2'),
                    '^(https://[^/:?]+):443([/?].*)?${"$"}', '\\1\\2') AS s
                FROM s1),
         s3 AS (SELECT regexp_replace(regexp_replace(regexp_replace(s,
                    '([?&])utm_[^&]*&', '\\1', 'g'),
                    '([?&])utm_[^&]*&', '\\1', 'g'),
                    '([?&])utm_[^&]*&', '\\1', 'g') AS s
                FROM s2),
         s4 AS (SELECT regexp_replace(regexp_replace(regexp_replace(s,
                    '[?&]utm_[^&]*${"$"}', ''), '\\?${"$"}', ''),
                    '/+${"$"}', '') AS curl
                FROM s3)"""

  /** DuckDB rendition of `TextAnalysis.urlHost` (lowercased authority
    * host; '' when the shape doesn't match). */
  private def HOST_OF(x: String): String =
    s"lower(regexp_extract($x, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)', 1))"

  // ---- DuckDB mirror of TextAnalysis.langId (script-routed): the same
  //      strip-count script dominance as q123's mirror (the engine's
  //      one-pass census counts the identical Unicode Script classes),
  //      then the per-script marker argmax / script-derived labels.
  //      `txt` must be a column reference (it is duplicated per class
  //      count).
  private def LANGID(txt: String): String = {
    val b = s"regexp_replace($txt, '\\s', '', 'g')"
    def cnt(label: String) =
      s"(length($b) - length(regexp_replace($b, '\\p{${label.capitalize}}', '', 'g')))"
    def argmax(table: Map[String, Seq[String]], fb: String): String = {
      val items = table.toSeq.sortBy(_._1).map { case (lang, ms) =>
        s"{'hits': len(list_filter(string_split_regex(trim($txt), '\\s+'), " +
          s"t -> t IN (${ms.map("'" + _ + "'").mkString(",")}))), 'lang': '$lang'}"
      }.mkString(", ")
      val best = s"list_reduce([$items], " +
        "(a, b) -> CASE WHEN b.hits > a.hits THEN b ELSE a END)"
      s"CASE WHEN ($best).hits = 0 THEN '$fb' ELSE ($best).lang END"
    }
    val routes: Map[String, String] = Map(
      "latin" -> argmax(graft.operators.TextAnalysis.langMarkers, "und-Latn"),
      "cyrillic" ->
        argmax(graft.operators.TextAnalysis.cyrillicMarkers, "und-Cyrl"),
      "han" -> (s"CASE WHEN regexp_matches($txt, " +
        "'[\\p{Hiragana}\\p{Katakana}]') THEN 'ja' ELSE 'zh' END"),
      "arabic" -> "'ar'", "hangul" -> "'ko'", "devanagari" -> "'hi'",
      "thai" -> "'th'", "greek" -> "'el'", "hebrew" -> "'he'")
    s"""CASE WHEN length($b) = 0 THEN 'und'
        ${scriptChainSql(cnt, routes)}
        ELSE 'und' END"""
  }

  /** CTE chain from `documents` to `wfin`(w, toks) — the complete
    * WordPiece encode ([[graft.expressions.WpCodec]] semantics) as a
    * recursive CTE: per DISTINCT word, one recursion step per emitted
    * piece, the LATERAL picking the LONGEST matching vocab entry
    * (`##`-prefixed after position 0, the marker positional on both
    * engines), dead ends and over-100-codepoint words collapsing to
    * `['[UNK]']`. The vocab rides as a VALUES table in vocab.txt line
    * order, so `id` is the published-convention line id. Shared by
    * q161 (fertility census) and q162 (piece/id census). */
  /** Unigram-LM Viterbi mirror (q171): the DP is UNROLLED into one
    * generated CTE per word position (1..MaxWordChars) — each step
    * takes the max combined objective `64·Σlp_micro − n_pieces` over
    * the ≤ maxPieceLen predecessor cells, single-codepoint pieces
    * falling back to the UnkLpMicro constant. All integer arithmetic;
    * per-word (score, pieces) are recovered from the combined value by
    * exact mod/div. Words over 32 codepoints take the per-char
    * fallback branch, exactly like [[graft.expressions.UgCodec]]. */
  private lazy val UG_CTES: String = {
    val parsed = ugCanonicalVocab.map { line =>
      val Array(p, lp) = line.split("\t", 2)
      (p, Math.round(lp.toDouble * 1e6))
    }
    val ml = parsed.map { case (p, _) => p.codePointCount(0, p.length) }.max
    val unk = graft.expressions.UgCodec.UnkLpMicro
    val vals = parsed.zipWithIndex
      .map { case ((p, m), _) => s"('${p.replace("'", "''")}',$m)" }
      .mkString(",")
    def step(p: Int): String = {
      val branches = (math.max(0, p - ml) until p).map { j =>
        val plen = p - j
        if (plen == 1)
          s"""SELECT b.w, b.c + COALESCE(v.lp, $unk) * 64 - 1 AS cand
              FROM ugb$j b LEFT JOIN ugv v
                ON v.piece = substr(b.w, ${j + 1}, 1)
              WHERE length(b.w) >= $p"""
        else
          s"""SELECT b.w, b.c + v.lp * 64 - 1 AS cand
              FROM ugb$j b JOIN ugv v
                ON v.piece = substr(b.w, ${j + 1}, $plen)
              WHERE length(b.w) >= $p"""
      }
      s"""ugb$p AS MATERIALIZED (SELECT w, MAX(cand) AS c
          FROM (${branches.mkString(" UNION ALL ")}) u GROUP BY w)"""
    }
    val maxW = graft.expressions.UgCodec.MaxWordChars
    val steps = (1 to maxW).map(step).mkString(",\n         ")
    val best = (1 to maxW)
      .map(p => s"SELECT w, c FROM ugb$p WHERE length(w) = $p")
      .mkString(" UNION ALL ")
    s"""ugv(piece, lp) AS (VALUES $vals),
         ugw0 AS MATERIALIZED (SELECT doc_id, lang,
                    unnest(list_filter($TOKS, t -> t <> '')) AS w
                  FROM documents),
         ugwf AS MATERIALIZED (SELECT DISTINCT w FROM ugw0),
         ugb0 AS MATERIALIZED (SELECT w, CAST(0 AS BIGINT) AS c FROM ugwf
                  WHERE length(w) <= $maxW),
         $steps,
         ugbest AS ($best),
         uglong AS (
           SELECT t.w, CAST(SUM(COALESCE(v.lp, $unk)) AS BIGINT) AS s_micro,
                  CAST(length(t.w) AS BIGINT) AS k
           FROM (SELECT w, substr(w, i.i, 1) AS ch
                 FROM ugwf, unnest(generate_series(1, length(w))) AS i(i)
                 WHERE length(w) > $maxW) t
           LEFT JOIN ugv v ON v.piece = t.ch
           GROUP BY t.w),
         ugword AS (
           SELECT w, (c + ((-c) % 64)) // 64 AS s_micro, (-c) % 64 AS k
           FROM ugbest
           UNION ALL
           SELECT w, s_micro, k FROM uglong)"""
  }

  private lazy val WP_CTE: String = {
    val vocabValues = wpCanonicalVocab.zipWithIndex
      .map { case (p, i) => s"('${p.replace("'", "''")}',$i)" }
      .mkString(",")
    s"""wpv(piece, id) AS (VALUES $vocabValues),
       w0 AS (SELECT doc_id, lang, unnest(list_filter($TOKS, t -> t <> '')) AS w
              FROM documents),
       wf AS (SELECT DISTINCT w FROM w0),
       enc(w, pos, toks, unk) AS (
         SELECT w, CAST(0 AS BIGINT),
                CASE WHEN length(w) > 100 THEN ['[UNK]']
                     ELSE CAST([] AS VARCHAR[]) END,
                length(w) > 100
         FROM wf
         UNION ALL
         SELECT e.w,
                CASE WHEN m.piece IS NULL THEN CAST(length(e.w) AS BIGINT)
                     ELSE e.pos + m.adv END,
                CASE WHEN m.piece IS NULL THEN ['[UNK]']
                     ELSE list_append(e.toks, m.piece) END,
                m.piece IS NULL
         FROM enc e
         LEFT JOIN LATERAL (
           SELECT v.piece,
                  CAST(CASE WHEN e.pos = 0 THEN length(v.piece)
                       ELSE length(v.piece) - 2 END AS BIGINT) AS adv
           FROM wpv v
           WHERE v.piece <> '[UNK]' AND CASE WHEN e.pos = 0
               THEN v.piece NOT LIKE '##%'
                    AND substr(e.w, 1, length(v.piece)) = v.piece
               ELSE v.piece LIKE '##%'
                    AND substr(e.w, CAST(e.pos + 1 AS INT),
                          length(v.piece) - 2) = substr(v.piece, 3) END
           ORDER BY adv DESC, v.piece LIMIT 1) m ON true
         WHERE NOT e.unk AND e.pos < length(e.w)),
       wfin AS (SELECT w, toks FROM enc
                WHERE unk OR pos >= length(w))"""
  }

  /** q159's score mirror beside [[LANGID]]: same script chain, same
    * marker hit counts, the same exact-int margin/ratio arithmetic with
    * ONE final division, so the doubles hash-match bit-for-bit. */
  private def LANGSCORE(txt: String): String = {
    val b = s"regexp_replace($txt, '\\s', '', 'g')"
    def cnt(label: String) =
      s"(length($b) - length(regexp_replace($b, '\\p{${label.capitalize}}', '', 'g')))"
    def margin(table: Map[String, Seq[String]]): String = {
      val hits = table.toSeq.sortBy(_._1).map { case (_, ms) =>
        s"len(list_filter(string_split_regex(trim($txt), '\\s+'), " +
          s"t -> t IN (${ms.map("'" + _ + "'").mkString(",")})))"
      }.mkString(", ")
      val lst = s"list_sort([$hits], 'DESC')"
      s"CASE WHEN $lst[1] = 0 THEN 0.0 " +
        s"ELSE CAST($lst[1] - $lst[2] AS DOUBLE) / ($lst[1] + $lst[2]) END"
    }
    def ratio(label: String) = s"CAST(${cnt(label)} AS DOUBLE) / length($b)"
    val routes: Map[String, String] = Map(
      "latin" -> margin(graft.operators.TextAnalysis.langMarkers),
      "cyrillic" -> margin(graft.operators.TextAnalysis.cyrillicMarkers),
      "han" -> ratio("han"), "arabic" -> ratio("arabic"),
      "hangul" -> ratio("hangul"), "devanagari" -> ratio("devanagari"),
      "thai" -> ratio("thai"), "greek" -> ratio("greek"),
      "hebrew" -> ratio("hebrew"))
    s"""CASE WHEN length($b) = 0 THEN 0.0
        ${scriptChainSql(cnt, routes)}
        ELSE 0.0 END"""
  }

  // DuckDB-dialect oracle. CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE)
  // mirrors graft.functions.dsum exactly.
  private def DSUM(x: String) = s"CAST(SUM(CAST($x AS DECIMAL(28,6))) AS DOUBLE)"
  private def DAVG(x: String) = s"${DSUM(x)} / COUNT($x)"

  // -- SQL fragments mirroring graft.operators exactly (same expression
  //    trees, same left-fold float order via list_reduce) --
  private val TOKS = """string_split_regex(trim(text), '\s+')"""

  /** Interpolated Kneser–Ney bigram-LM CTE chain (TextAnalysis
    * .knBigramScore's mirror: src0 model, D=0.75, add-0.5 continuation
    * floor over V+1). Ends at `knsc` = (doc_id, n_bigrams, avg_logp);
    * consumers append their final SELECT (q169 score dump, q170
    * CCNet buckets). */
  private lazy val KN_CTES: String =
    """tok AS (
           SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
         bi AS (
           SELECT doc_id, source, t[u.i] AS w1, t[u.i + 1] AS w2
           FROM tok, unnest(generate_series(1, len(t) - 1)) AS u(i)
           WHERE len(t) >= 2),
         c12 AS (
           SELECT w1, w2, count(*) AS c12 FROM bi WHERE source = 'src0'
           GROUP BY w1, w2),
         c1 AS (SELECT w1, sum(c12) AS c1, count(*) AS n1p
                FROM c12 GROUP BY w1),
         n1l AS (SELECT w2, count(*) AS n1l FROM c12 GROUP BY w2),
         sc AS (
           SELECT (SELECT count(*) FROM c12) AS T,
                  (SELECT count(DISTINCT u.tok)
                   FROM (SELECT t FROM tok WHERE source = 'src0') z,
                        unnest(t) AS u(tok)) AS V),
         knsc AS (
           SELECT b.doc_id, count(*) AS n_bigrams,
                  ROUND(AVG(LN(CASE WHEN u1.c1 IS NULL
                    THEN (coalesce(l.n1l, 0) + 0.5)
                         / (sc.T + 0.5 * (sc.V + 1))
                    ELSE greatest(coalesce(m.c12, 0) - 0.75, 0) / u1.c1
                         + 0.75 * u1.n1p / u1.c1
                           * ((coalesce(l.n1l, 0) + 0.5)
                              / (sc.T + 0.5 * (sc.V + 1)))
                    END)), 6) AS avg_logp
           FROM bi b
           LEFT JOIN c12 m ON b.w1 = m.w1 AND b.w2 = m.w2
           LEFT JOIN c1 u1 ON b.w1 = u1.w1
           LEFT JOIN n1l l ON b.w2 = l.w2
           CROSS JOIN sc
           GROUP BY b.doc_id)"""
  /** word-3-gram distinct shingles of `text` (TextAnalysis.wordShingles) */
  private val SHINGLES3 =
    s"""list_distinct(list_transform(range(1, len($TOKS)-1),
        i -> $TOKS[i] || ' ' || $TOKS[i+1] || ' ' || $TOKS[i+2]))"""
  /** hash60-hashed distinct shingle set (Dedup's verify-jaccard input) */
  private val HSHINGLES3 =
    s"list_distinct(list_transform($SHINGLES3, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT))"
  /** TextAnalysis.hash60 / hash32 */
  /** q48's MinHash-LSH + recursive-CTE connected-components mirror,
    * shared by every oracle that consumes the cluster mapping (q48
    * itself, the q124 audit histogram). Ends at the `cc` CTE;
    * consumers append their final SELECT (and extra CTEs after a
    * comma). */
  private lazy val CC_CTE: String =
    s"""WITH RECURSIVE sh AS (
           SELECT doc_id AS id, $SHINGLES3 AS strsh, $HSHINGLES3 AS sh FROM documents),
         sig AS (
           SELECT id, sh, list_transform(range(0, 12),
             j -> list_min(list_transform(hs, h -> ((j*2+1) * h + (j*7919+104729)) % 2147483647))) AS sig
           FROM (SELECT id, sh, list_transform(strsh, s -> ${H32("s")}) AS hs FROM sh)),
         bands AS (
           SELECT id, sh, r.b,
             ${H60("array_to_string(list_transform(sig[r.b*3+1 : r.b*3+3], x -> x::VARCHAR), ',')")} AS bkey
           FROM sig, range(0, 4) r(b)),
         pairs AS (
           SELECT DISTINCT a.id AS id_a, b.id AS id_b
           FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.id < b.id
           WHERE ${JACC("a.sh", "b.sh")} >= 0.5),
         edges AS (
           SELECT id_a AS u, id_b AS v FROM pairs
           UNION SELECT id_b, id_a FROM pairs),
         reach(id, r) AS (
           SELECT u, u FROM edges
           UNION
           SELECT e.u, rr.r FROM edges e JOIN reach rr ON rr.id = e.v),
         cc AS (SELECT id, min(r) AS rep FROM reach GROUP BY id)"""

  private def H60(s: String) = s"('0x' || substr(md5($s), 1, 15))::BIGINT"
  private def H32(s: String) = s"('0x' || substr(md5($s), 1, 8))::BIGINT"
  /** Dedup.jaccard on two (already-distinct) list columns */
  private def JACC(a: String, b: String) =
    s"""ROUND(CASE WHEN len(list_distinct($a || $b)) = 0 THEN 0.0
        ELSE CAST(len(list_intersect($a, $b)) AS DOUBLE)
             / CAST(len(list_distinct($a || $b)) AS DOUBLE) END, 6)"""
  /** graft.functions.cosine: sequential left-fold dot & norms in double */
  private def SUMD(lst: String) = s"list_reduce($lst, (a, b) -> a + b)"
  private def COS(qv: String, cv: String) =
    s"""ROUND(${SUMD(s"list_transform(range(1, len($qv)+1), i -> CAST($qv[i] AS DOUBLE) * CAST($cv[i] AS DOUBLE))")}
        / (sqrt(${SUMD(s"list_transform($qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")})
           * sqrt(${SUMD(s"list_transform($cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")})), 6)"""
  /** graft.functions.l2sq rounded to exact integer micro-units
    * (Similarity's PQ `d6`): same sequential left-fold in double, then
    * ONE rounding — identical to `CAST(round(l2*1e6, 0) AS BIGINT)` on
    * the Spark side (both engines round positive halves away from 0). */
  private def L2D6(a: String, b: String) =
    s"""CAST(round(${SUMD(s"""list_transform(range(1, len($a)+1),
        i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))
             * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)))""")}
        * 1000000, 0) AS BIGINT)"""
  /** The as-of mirror (q94), shared verbatim by q100's stream-compatible
    * array-lookup form (identical semantics, different physical shape):
    * the SAME union-and-sweep the engine's q94 runs — right rows sort
    * before left rows at an equal timestamp (<= semantics), equal-ts
    * right rows resolve to the max tie id, last_value(IGNORE NULLS)
    * carries the latest click struct forward. */
  private lazy val ASOF_SQL: String =
    s"""WITH r AS (SELECT user_id, ts, event_id, value FROM events
                   WHERE event_type = 'click'),
       l AS (SELECT event_id, ts, user_id, value FROM events
             WHERE event_type = 'purchase'),
       u AS (SELECT user_id, ts AS t, 0 AS side, event_id AS tie,
                    struct_pack(rts := ts, rid := event_id,
                                rvalue := value) AS pay,
                    NULL::BIGINT AS event_id, NULL::DOUBLE AS value,
                    NULL::TIMESTAMP AS lts
             FROM r
             UNION ALL
             SELECT user_id, ts AS t, 1 AS side, NULL AS tie, NULL AS pay,
                    event_id, value, ts AS lts
             FROM l),
       c AS (SELECT *, last_value(pay IGNORE NULLS) OVER
                (PARTITION BY user_id ORDER BY t, side, tie
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
             FROM u)
       SELECT event_id, lts AS ts, user_id, value, m.rts AS asof_ts,
              m.rid AS asof_event_id, m.rvalue AS asof_value
       FROM c WHERE side = 1"""

  /** The flat-ADC mirror (q98), shared verbatim by q99's probe-all
    * IVF-PQ (cell restriction at nprobe = nlist is a no-op): seed books,
    * per-(vector, subspace) argmin encode, per-query micro-L2² LUT,
    * candidate distance = exact integer sum of m lookups, rank ascending
    * with ties to the smaller neighbor id. */
  private lazy val PQ_ADC_SQL: String =
    s"""WITH s0 AS (
         SELECT vec_id AS cell, embedding AS c FROM embeddings
         ORDER BY ${H32("CAST(vec_id AS VARCHAR)")}, vec_id
         LIMIT 8),
       bk AS (SELECT row_number() OVER (ORDER BY cell) - 1 AS idx, c FROM s0),
       sv AS (SELECT vec_id, g.sub,
                     list_slice(embedding, g.sub*16 + 1, g.sub*16 + 16) AS a
              FROM embeddings, (SELECT unnest(range(0, 4)) AS sub) g),
       sc AS (SELECT sv.vec_id, sv.sub, bk.idx,
                     ${L2D6("sv.a", "list_slice(bk.c, sv.sub*16 + 1, sv.sub*16 + 16)")} AS d6
              FROM sv CROSS JOIN bk),
       codes AS (SELECT vec_id, sub, idx AS code
                 FROM (SELECT vec_id, sub, idx,
                              row_number() OVER (PARTITION BY vec_id, sub
                                                 ORDER BY d6, idx) AS rn
                       FROM sc)
                 WHERE rn = 1),
       lut AS (SELECT sc.vec_id AS query_id, sc.sub, sc.idx AS code, sc.d6
               FROM sc WHERE sc.vec_id < 5),
       agg AS (SELECT l.query_id, c.vec_id AS neighbor_id,
                      CAST(SUM(l.d6) AS BIGINT) AS adist6
               FROM codes c JOIN lut l ON c.sub = l.sub AND c.code = l.code
               WHERE l.query_id <> c.vec_id
               GROUP BY 1, 2),
       rk AS (SELECT *, CAST(row_number() OVER
                (PARTITION BY query_id ORDER BY adist6, neighbor_id)
                AS INT) AS rank
              FROM agg)
       SELECT query_id, neighbor_id, adist6, rank FROM rk WHERE rank <= 5"""

  /** TextAnalysis.qualityScore replicated term-by-term */
  private val QUALITY = {
    val nTok = s"CAST(len($TOKS) AS DOUBLE)"
    val alpha = s"""CASE WHEN length(text) = 0 THEN 0.0 ELSE
      (CAST(length(text) AS DOUBLE) - CAST(length(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS DOUBLE))
      / CAST(length(text) AS DOUBLE) END"""
    val punct = s"""CASE WHEN length(text) = 0 THEN 0.0 ELSE
      (CAST(length(text) AS DOUBLE) - CAST(length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE))
      / CAST(length(text) AS DOUBLE) END"""
    val stop = s"""CASE WHEN len($TOKS) = 0 THEN 0.0 ELSE
      CAST(len(list_filter($TOKS, t -> t IN ('the','a','of','and','to','in','is','on','for','with'))) AS DOUBLE)
      / $nTok END"""
    s"""ROUND((LEAST($nTok / 64.0, 1.0) + $alpha + LEAST($stop * 4.0, 1.0)) / 3.0
        * (1.0 - LEAST($punct * 4.0, 1.0) * 0.5), 6)"""
  }
  /** Similarity.signBucket(embedding, planes) replicated */
  private def SIGNBUCKETN(planes: Int) = {
    val sign = s"CASE WHEN ${H32("p::VARCHAR || ',' || i::VARCHAR")} % 2 = 0 THEN 1.0 ELSE -1.0 END"
    val dot = SUMD(s"list_transform(range(0, len(embedding)), i -> CAST(embedding[i+1] AS DOUBLE) * $sign)")
    SUMD(s"list_transform(range(0, $planes), p -> CASE WHEN $dot >= 0 THEN (1::BIGINT << p) ELSE 0::BIGINT END)")
  }
  private val SIGNBUCKET = SIGNBUCKETN(8)
  /** Dedup.simhash replicated: 32-bit sign-vote hash over token hashes */
  private val SIMHASH = {
    val hs = s"list_transform($TOKS, t -> ${H32("t")})"
    val votes = SUMD(s"list_transform($hs, h -> CASE WHEN (h >> b) % 2 = 1 THEN 1::BIGINT ELSE -1::BIGINT END)")
    SUMD(s"list_transform(range(0, 32), b -> CASE WHEN $votes >= 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END)")
  }

  /** SimHash over 60 bits of the hash60 token hash (mirrors SimHash60). */
  private val SIMHASH60 = {
    val hs = s"list_transform($TOKS, t -> ${H60("t")})"
    val votes = SUMD(s"list_transform($hs, h -> CASE WHEN (h >> b) % 2 = 1 THEN 1::BIGINT ELSE -1::BIGINT END)")
    SUMD(s"list_transform(range(0, 60), b -> CASE WHEN $votes >= 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END)")
  }

  /** [[graft.operators.Crawl.pageRank]]'s mirror builder: the SAME
    * integer fixed-point recurrence, unrolled as one chained CTE per
    * iteration (DuckDB `//` floors like Spark `div` truncates — equal
    * on the all-non-negative rank domain). Sums are CAST back to BIGINT
    * because DuckDB's sum(BIGINT) widens to HUGEINT. `rawEdges` is any
    * SELECT yielding (src, dst); the final CTE is `r$iterations`
    * (node, rank) — append the consumer after a comma or select from
    * it. */
  private def pageRankCtes(rawEdges: String, iterations: Int): String = {
    // d$i = the dangling-mass equal share entering iteration i: floored
    // sum of rank at nodes with no out-edges, // N — the engine's one
    // scalar aggregate per iteration, as a chained integer CTE
    val iters = (1 to iterations).map { i =>
      s"""d$i AS (
           SELECT CAST(coalesce(sum(r.rank), 0)
                       // (SELECT count(*) FROM nodes) AS BIGINT) AS share
           FROM r${i - 1} r LEFT JOIN od ON od.src = r.node
           WHERE od.src IS NULL),
         r$i AS (
           SELECT n.node,
                  CAST((1000000000000 // (SELECT count(*) FROM nodes)) * 15 // 100
                       + 85 * (coalesce(s.s, 0) + (SELECT share FROM d$i))
                         // 100 AS BIGINT) AS rank
           FROM nodes n LEFT JOIN (
             SELECT e.dst AS node, CAST(sum(r.rank // od.outdeg) AS BIGINT) AS s
             FROM e JOIN od USING (src) JOIN r${i - 1} r ON r.node = e.src
             GROUP BY e.dst) s ON s.node = n.node)"""
    }.mkString(",\n")
    s"""e AS (SELECT DISTINCT src, dst FROM ($rawEdges)),
       nodes AS (SELECT DISTINCT src AS node FROM e
                 UNION SELECT DISTINCT dst FROM e),
       od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
       r0 AS (SELECT node,
                     1000000000000 // (SELECT count(*) FROM nodes) AS rank
              FROM nodes),
       $iters"""
  }

  /** q163's mirror beside [[pageRankCtes]]: the HITS alternating
    * update as chained integer CTEs — `a_i` from `h_{i-1}` over
    * in-edges, `h_i` from `a_i` over out-edges (the sequential
    * update), HUGEINT sums cast back to BIGINT. */
  private def hitsCtes(rawEdges: String, iterations: Int): String = {
    val iters = (1 to iterations).map { i =>
      s"""a$i AS (SELECT n.node, CAST(coalesce(s.s, 0) AS BIGINT) AS auth
           FROM nodes n LEFT JOIN (
             SELECT e.dst AS node, sum(h.hub) AS s
             FROM e JOIN h${i - 1} h ON h.node = e.src GROUP BY e.dst) s
             USING (node)),
         h$i AS (SELECT n.node, CAST(coalesce(s.s, 0) AS BIGINT) AS hub
           FROM nodes n LEFT JOIN (
             SELECT e.src AS node, sum(a.auth) AS s
             FROM e JOIN a$i a ON a.node = e.dst GROUP BY e.src) s
             USING (node))"""
    }.mkString(",\n")
    s"""e AS (SELECT DISTINCT src, dst FROM ($rawEdges)),
       nodes AS (SELECT DISTINCT src AS node FROM e
                 UNION SELECT DISTINCT dst FROM e),
       h0 AS (SELECT node, CAST(1 AS BIGINT) AS hub FROM nodes),
       $iters"""
  }

  private lazy val PAGERANK_SQL: String =
    s"""WITH ${pageRankCtes(
      """SELECT doc_id % 47 AS src, (doc_id * 7 + 3) % 53 AS dst
           FROM documents
           UNION ALL
           SELECT (doc_id * 3) % 47, (doc_id * 13 + 1) % 53 FROM documents""",
      5)}
       SELECT node, rank FROM r5"""

  def oracleSql: Map[String, String] = Map(
    "q144_pagerank" -> PAGERANK_SQL,

    // TFRecord round trip: the oracle reads the SOURCE parquet — the
    // engine's claim is that the bytes that went through the framed
    // protobuf container come back content-identical. k/8 f32 scores
    // sum exactly in double (3 fractional bits, bounded magnitude)
    "q165_tfrecord" ->
      """SELECT doc_id % 8 AS g,
                COUNT(*) AS n_docs,
                COUNT(DISTINCT doc_id) AS n_ids,
                CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
                CAST(SUM(octet_length(encode(text))) AS BIGINT)
                  AS sum_text_bytes,
                COUNT(DISTINCT lang) AS n_langs,
                SUM(CAST(doc_id % 97 AS DOUBLE) / 8) AS sum_score
         FROM documents GROUP BY 1""",

    // avro roundtrip mirror, recomputed from the generating formulas:
    // score is NULL on doc_id%7==0 else (doc_id%97)/8 (k/8 sums are
    // binary-exact in double); marks sum = m(m+1)/2 for m = doc_id%4
    "q166_avro_roundtrip" ->
      """SELECT doc_id % 8 AS g,
                COUNT(*) AS n_docs,
                COUNT(DISTINCT doc_id) AS n_ids,
                CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
                CAST(SUM(length(text)) AS BIGINT) AS sum_text_chars,
                CAST(SUM(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_null_scores,
                SUM(CASE WHEN doc_id % 7 = 0 THEN NULL
                    ELSE CAST(doc_id % 97 AS DOUBLE) / 8 END) AS sum_score,
                CAST(SUM(((doc_id % 4) * (doc_id % 4 + 1)) // 2)
                  AS BIGINT) AS sum_marks
         FROM documents GROUP BY 1""",

    // DSIR mirror: identical feature stream (unigram + adjacent-bigram
    // md5-bucket hashes of the TOKS tokenization), identical add-one
    // smoothed log-ratio, quantized once to integer micro-nats so the
    // per-doc SUM is a bit-exact BIGINT on both engines; int/int `/`
    // in DuckDB is float division matching the Spark cast-then-divide
    "q167_dsir_weights" ->
      s"""WITH tok AS (
           SELECT doc_id, (source = 'src0') AS is_t,
                  list_filter($TOKS, w -> w <> '') AS t
           FROM documents),
         feats AS (
           SELECT doc_id, is_t,
                  list_concat(
                    list_transform(t, w ->
                      ('0x' || substr(md5(w), 1, 15))::BIGINT % 4096),
                    list_transform(range(1, len(t)), i ->
                      ('0x' || substr(md5(t[i] || ' ' || t[i+1]), 1, 15))
                        ::BIGINT % 4096)) AS f
           FROM tok),
         fx AS (SELECT doc_id, is_t, unnest(f) AS b FROM feats),
         hist AS (
           SELECT b, SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct,
                  SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS cr
           FROM fx GROUP BY 1),
         tot AS (SELECT SUM(ct) AS nt, SUM(cr) AS nr FROM hist),
         delta AS (
           SELECT b, CAST(round(1e6 * (LN((ct + 1) / (nt + 4096)) -
                                       LN((cr + 1) / (nr + 4096))), 0)
                     AS BIGINT) AS d
           FROM hist, tot),
         perdoc AS (
           SELECT fx.doc_id, COUNT(*) AS n_feats, SUM(d.d) AS logw
           FROM fx JOIN delta d USING (b) GROUP BY 1)
         SELECT f.doc_id, f.is_t AS is_target,
                CAST(COALESCE(p.n_feats, 0) AS BIGINT) AS n_feats,
                CAST(COALESCE(p.logw, 0) AS BIGINT) AS logw_micro,
                COALESCE(p.logw, 0) > 0 AS kept
         FROM feats f LEFT JOIN perdoc p ON f.doc_id = p.doc_id""",

    // SQ8 mirror: identical train (per-dim min/max in double), identical
    // code formula (floor cast to BIGINT BEFORE clamping — a DuckDB
    // double->int cast would ROUND where Spark truncates), pure-integer
    // symmetric distance
    "q168_sq8_topk" ->
      """WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
         dims AS (
           SELECT i.i AS d, MIN(CAST(v[i.i] AS DOUBLE)) AS mn,
                  MAX(CAST(v[i.i] AS DOUBLE)) AS mx
           FROM e, unnest(generate_series(1, len(v))) AS i(i) GROUP BY 1),
         stats AS (SELECT list(mn ORDER BY d) AS mins,
                          list(mx ORDER BY d) AS maxs FROM dims),
         enc AS (
           SELECT vec_id, list_transform(generate_series(1, len(v)), j ->
             CASE WHEN maxs[j] = mins[j] THEN 0
                  ELSE CAST(least(greatest(CAST(floor(
                         (CAST(v[j] AS DOUBLE) - mins[j]) * 256.0
                           / (maxs[j] - mins[j])) AS BIGINT), 0), 255)
                       AS INT) END) AS c
           FROM e, stats),
         pairs AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  CAST(list_aggregate(
                    list_transform(generate_series(1, len(q.c)), j ->
                      CAST(q.c[j] - c.c[j] AS BIGINT) * (q.c[j] - c.c[j])),
                    'sum') AS BIGINT) AS dist
           FROM enc q JOIN enc c ON q.vec_id <> c.vec_id
           WHERE q.vec_id < 8)
         SELECT query_id, neighbor_id, dist,
                CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY dist, neighbor_id) AS INT) AS rank
         FROM pairs QUALIFY rank <= 5""",

    // Kneser–Ney mirror: same count tables as q82 plus continuation
    // counts (COUNT(*) over the distinct-bigram table), the identical
    // +,*,/ tree per bigram (bit-exact), avg(ln p) rounded like q82
    "q169_kn_lm_score" ->
      s"""WITH $KN_CTES
         SELECT d.doc_id,
                CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                s.avg_logp,
                ROUND(EXP(-s.avg_logp), 4) AS ppl
         FROM documents d LEFT JOIN knsc s ON d.doc_id = s.doc_id""",

    // CCNet buckets: the q169 ppl stream cut at per-language exact
    // interpolated terciles (quantile_cont ≡ Spark percentile, the q73
    // contract); unscored docs never influence the cuts
    "q170_ccnet_buckets" ->
      s"""WITH $KN_CTES,
         pp AS (
           SELECT d.doc_id, d.lang, ROUND(EXP(-s.avg_logp), 4) AS ppl
           FROM documents d LEFT JOIN knsc s ON d.doc_id = s.doc_id),
         th AS (
           SELECT lang, quantile_cont(ppl, 1.0/3) AS t1,
                  quantile_cont(ppl, 2.0/3) AS t2
           FROM pp WHERE ppl IS NOT NULL GROUP BY 1)
         SELECT pp.doc_id, pp.lang, pp.ppl,
                CASE WHEN pp.ppl IS NULL THEN 'unscored'
                     WHEN pp.ppl <= th.t1 THEN 'head'
                     WHEN pp.ppl <= th.t2 THEN 'middle'
                     ELSE 'tail' END AS bucket
         FROM pp LEFT JOIN th ON pp.lang = th.lang""",

    // hard negatives: the q24 brute mirror with the band filter applied
    // BEFORE the rank window (WHERE is pre-window on both engines)
    "q174_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                     FROM embeddings WHERE vec_id < 8),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         s AS (
           SELECT query_id, neighbor_id, ${COS("qv", "cv")} AS cos
           FROM c CROSS JOIN q WHERE query_id <> neighbor_id)
         SELECT query_id, neighbor_id, cos,
                CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY cos DESC, neighbor_id) AS INT) AS rank
         FROM s WHERE cos >= 0.1 AND cos < 0.35
         QUALIFY rank <= 5""",

    // triplets: q25's banded positive pairs joined with each anchor's
    // best in-band negative (brute truth for the bounded anchor set)
    "q175_contrastive_triplets" ->
      s"""WITH e AS (
           SELECT vec_id AS id, embedding AS v, ${SIGNBUCKETN(32)} AS sk
           FROM embeddings),
         pos AS (
           SELECT * FROM (
             SELECT a.id AS anchor, b.id AS positive,
                    ${COS("a.v", "b.v")} AS pos_cos
             FROM e a JOIN e b ON a.id < b.id
             WHERE len(list_filter(range(0, 4),
                   bb -> bit_count(xor((a.sk >> (bb*8)) & 255,
                     (b.sk >> (bb*8)) & 255)) <= 1)) > 0) z
           WHERE pos_cos >= 0.4 AND anchor < 256),
         anch AS (SELECT DISTINCT anchor FROM pos),
         negs AS (
           SELECT anchor, neighbor_id AS negative, cos AS neg_cos FROM (
             SELECT an.anchor, b.id AS neighbor_id,
                    ${COS("av.v", "b.v")} AS cos,
                    row_number() OVER (PARTITION BY an.anchor
                      ORDER BY ${COS("av.v", "b.v")} DESC, b.id) AS rk
             FROM anch an
             JOIN e av ON av.id = an.anchor
             CROSS JOIN e b
             WHERE b.id <> an.anchor
               AND ${COS("av.v", "b.v")} >= 0.1
               AND ${COS("av.v", "b.v")} < 0.35) zz
           WHERE rk = 1)
         SELECT p.anchor, p.positive, p.pos_cos, n.negative, n.neg_cos
         FROM pos p JOIN negs n ON p.anchor = n.anchor""",

    // token drift: identical histogram, identical smoothing ((2c+1)
    // half-units so everything stays integer), identical micro-nat
    // quantization; HUGEINT sums bridged to BIGINT before the one
    // int->double divide per divergence
    "q173_token_drift" ->
      s"""WITH dtok AS (
           SELECT lang AS g, (doc_id % 2 = 0) AS a,
                  unnest(list_filter($TOKS, w -> w <> '')) AS t
           FROM documents),
         dh AS (
           SELECT g, t, SUM(CASE WHEN a THEN 1 ELSE 0 END) AS ca,
                  SUM(CASE WHEN a THEN 0 ELSE 1 END) AS cb
           FROM dtok GROUP BY 1, 2),
         dt AS (SELECT g, SUM(ca) AS na, SUM(cb) AS nb, COUNT(*) AS v
                FROM dh GROUP BY 1),
         dterm AS (
           SELECT h.g, t0.na, t0.nb, t0.v,
             (ca*2+1) * CAST(round(1e6 * LN(((ca*2+1) / (t0.na*2+t0.v))
                 / ((cb*2+1) / (t0.nb*2+t0.v))), 0) AS BIGINT) AS tab,
             (cb*2+1) * CAST(round(1e6 * LN(((cb*2+1) / (t0.nb*2+t0.v))
                 / ((ca*2+1) / (t0.na*2+t0.v))), 0) AS BIGINT) AS tba,
             (ca*2+1) * CAST(round(1e6 * LN(((ca*2+1) / (t0.na*2+t0.v))
                 / ((((ca*2+1) / (t0.na*2+t0.v))
                     + ((cb*2+1) / (t0.nb*2+t0.v))) / 2)), 0)
               AS BIGINT) AS tam,
             (cb*2+1) * CAST(round(1e6 * LN(((cb*2+1) / (t0.nb*2+t0.v))
                 / ((((ca*2+1) / (t0.na*2+t0.v))
                     + ((cb*2+1) / (t0.nb*2+t0.v))) / 2)), 0)
               AS BIGINT) AS tbm
           FROM dh h JOIN dt t0 ON h.g = t0.g)
         SELECT g AS lang,
                CAST(na AS BIGINT) AS n_tokens_a,
                CAST(nb AS BIGINT) AS n_tokens_b,
                CAST(v AS BIGINT) AS vocab,
                CAST(CAST(SUM(tab) AS BIGINT) AS DOUBLE)
                  / CAST((na*2+v) * 1000000 AS BIGINT) AS kl_ab,
                CAST(CAST(SUM(tba) AS BIGINT) AS DOUBLE)
                  / CAST((nb*2+v) * 1000000 AS BIGINT) AS kl_ba,
                0.5 * (CAST(CAST(SUM(tam) AS BIGINT) AS DOUBLE)
                       / CAST((na*2+v) * 1000000 AS BIGINT))
                  + 0.5 * (CAST(CAST(SUM(tbm) AS BIGINT) AS DOUBLE)
                           / CAST((nb*2+v) * 1000000 AS BIGINT)) AS js
         FROM dterm GROUP BY g, na, nb, v""",

    // quality-keep dedup: q48's recursive-CTE cluster mapping with the
    // keep decision moved to a (score desc, id) window argmax
    "q172_best_dedup" ->
      s"""$CC_CTE,
         m AS (
           SELECT d.doc_id AS id, COALESCE(cc.rep, d.doc_id) AS rep,
                  CAST(d.n_chars AS BIGINT) AS score
           FROM documents d LEFT JOIN cc ON cc.id = d.doc_id)
         SELECT id, rep, score,
                (row_number() OVER (PARTITION BY rep
                   ORDER BY score DESC, id) = 1) AS keep
         FROM m""",

    // unigram census: the unrolled-Viterbi word table joined back to
    // documents, the q161 LEFT-JOIN shape for zero-word docs
    "q171_unigram" ->
      s"""WITH $UG_CTES,
         ugdoc AS (SELECT doc_id, lang,
                     CAST(len(list_filter($TOKS, t -> t <> '')) AS BIGINT)
                       AS nw
                   FROM documents),
         ugper AS (
           SELECT w0.doc_id, SUM(g.k) AS np, SUM(g.s_micro) AS sm
           FROM ugw0 w0 JOIN ugword g ON w0.w = g.w GROUP BY 1)
         SELECT d.lang, COUNT(*) AS n_docs,
                CAST(SUM(d.nw) AS BIGINT) AS sum_words,
                CAST(SUM(COALESCE(p.np, 0)) AS BIGINT) AS sum_pieces,
                CAST(SUM(COALESCE(p.sm, 0)) AS BIGINT) AS sum_score_micro
         FROM ugdoc d LEFT JOIN ugper p ON d.doc_id = p.doc_id
         GROUP BY 1""",

    // sequential funnel: every stage's mirror is the ALREADY-PROVEN
    // fragment (LANGID/LANGSCORE from q19/q159, GOPHER_CTES from q142,
    // REP from q138, C4 from q139, the q20 fingerprint), chained with
    // the survivor conjunctions; the dedup stage is a window-min over
    // the fingerprint among s4 survivors (false AND NULL = FALSE on
    // both engines for the no-survivor partitions)
    "q164_curation_funnel" ->
      s"""WITH corpus AS (
           SELECT doc_id, source,
                  CASE WHEN doc_id % 20 = 7
                         THEN '${curationDupDoc}'
                       WHEN doc_id % 20 = 13
                         THEN text || chr(10) || '${curationGoodPara}'
                       ELSE text END AS text
           FROM documents),
         s AS (SELECT doc_id, text AS sample FROM corpus),
         $REP_MIRROR_CTES,
         rk AS (SELECT doc_id, ($REP_GATE) AS rk FROM fin),
         ${GOPHER_CTES("corpus")},
         cc AS (SELECT doc_id, ${C4_CLEAN("text")} AS cleaned FROM corpus),
         ck AS (SELECT doc_id, ${C4_KEEP("cleaned")} AS ck FROM cc),
         lg AS (SELECT doc_id,
                  (${LANGID("text")} = 'en' AND ${LANGSCORE("text")} >= 0.5)
                    AS s1
                FROM corpus),
         st AS (SELECT d.doc_id, d.source, lg.s1,
                  lg.s1 AND g.gk AS s2,
                  lg.s1 AND g.gk AND r.rk AS s3,
                  lg.s1 AND g.gk AND r.rk AND c.ck AS s4,
                  md5(trim(regexp_replace(lower(d.text), '[^a-z0-9]+', ' ',
                    'g'))) AS fp
                FROM corpus d
                JOIN lg ON lg.doc_id = d.doc_id
                JOIN gk g ON g.doc_id = d.doc_id
                JOIN rk r ON r.doc_id = d.doc_id
                JOIN ck c ON c.doc_id = d.doc_id),
         dd AS (SELECT doc_id, source, s1, s2, s3, s4,
                  s4 AND doc_id = MIN(CASE WHEN s4 THEN doc_id END)
                    OVER (PARTITION BY fp) AS s5
                FROM st)
         SELECT source, COUNT(*) AS n_docs,
                CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
                CAST(SUM(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_quality,
                CAST(SUM(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_repetition,
                CAST(SUM(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT) AS n_c4,
                CAST(SUM(CASE WHEN s5 THEN 1 ELSE 0 END) AS BIGINT) AS n_final
         FROM dd GROUP BY 1""",

    // HITS on the same asymmetric graph: chained integer CTEs replay
    // the alternating update; final row = (node, auth, hub) at k=3
    "q163_hits" ->
      s"""WITH ${hitsCtes(
        """SELECT doc_id % 47 AS src, (doc_id * 7 + 3) % 53 AS dst
             FROM documents
             UNION ALL
             SELECT (doc_id * 3) % 47, (doc_id * 13 + 1) % 53 FROM documents""",
        3)}
         SELECT a.node, a.auth, h.hub FROM a3 a JOIN h3 h USING (node)""",

    // dHash recomputed from the pixel FORMULA (the engine decoded real
    // PNGs): grid(x,y) = (id*31 + (y*h//8)*w + (x*w//9)) % 256, bit
    // y*8+x = [grid(x+1,y) > grid(x,y)]. Bit 63 lands via signed
    // two's-complement addition (min-BIGINT) because 1<<63 would
    // overflow; pairs are the brute-force quadratic scan the banded
    // join must equal exactly (pigeonhole: hamming<=2 < 4 bands)
    "q145_image_dhash" ->
      """WITH a AS (
           SELECT doc_id AS id,
                  CAST(doc_id % 13 + 4 AS BIGINT) AS w,
                  CAST(doc_id % 11 + 4 AS BIGINT) AS h
           FROM documents WHERE doc_id % 4 = 0),
         bits AS (
           SELECT id, list_transform(range(64), b ->
             CASE WHEN (id*31 + ((b//8)*h//8)*w + ((b%8+1)*w//9)) % 256
                     > (id*31 + ((b//8)*h//8)*w + ((b%8)*w//9)) % 256
                  THEN 1 ELSE 0 END) AS bt
           FROM a),
         hs AS (
           SELECT id,
                  CAST(list_sum(list_transform(range(63),
                    b -> CAST(bt[b+1] AS BIGINT) << b)) AS BIGINT)
                  + CAST(bt[64] AS BIGINT) * (-9223372036854775807 - 1) AS dh
           FROM bits),
         nd AS (
           SELECT a.id AS id_a, b.id AS id_b,
                  bit_count(xor(a.dh, b.dh)) AS ham
           FROM hs a JOIN hs b ON a.id < b.id
           WHERE bit_count(xor(a.dh, b.dh)) <= 2)
         SELECT asset_id, CAST(count(*) AS BIGINT) AS n_dups,
                CAST(min(ham) AS BIGINT) AS closest
         FROM (SELECT id_a AS asset_id, ham FROM nd
               UNION ALL SELECT id_b, ham FROM nd)
         GROUP BY asset_id""",

    // frontier mirror (canonical urls are identity-clean here; in-link
    // counts + per-host cap) composed with the pageRankCtes builder on
    // the host graph, then the same global fetch order
    "q153_ranked_frontier" -> {
      val hostEdges =
        """SELECT doc_id % 7 AS src, (3*(doc_id%7)+1) % 7 AS dst
           FROM documents
           UNION ALL
           SELECT doc_id % 7, ((doc_id%7)*(doc_id%7)+1) % 7 FROM documents"""
      s"""WITH links AS (
           SELECT 'https://h' || CAST((3*(doc_id%7)+1) % 7 AS VARCHAR)
                  || '.example/p/' || CAST(doc_id % 50 AS VARCHAR) AS url
           FROM documents
           UNION ALL
           SELECT 'https://h' || CAST(((doc_id%7)*(doc_id%7)+1) % 7 AS VARCHAR)
                  || '.example/q/' || CAST(doc_id % 31 AS VARCHAR)
           FROM documents),
         agg AS (SELECT url, CAST(count(*) AS BIGINT) AS inlinks
                 FROM links GROUP BY url),
         fr AS (SELECT regexp_extract(url, '^https://(h[0-9]+\\.example)', 1)
                         AS host,
                       url, inlinks,
                       row_number() OVER (
                         PARTITION BY regexp_extract(url,
                           '^https://(h[0-9]+\\.example)', 1)
                         ORDER BY inlinks DESC, url ASC) AS prank
                FROM agg),
         capped AS (SELECT host, url, inlinks FROM fr WHERE prank <= 10),
         ${pageRankCtes(hostEdges, 3)},
         j AS (SELECT c.url, c.host, c.inlinks, r.rank AS host_rank
               FROM capped c JOIN r3 r
                 ON CAST(regexp_extract(c.host, '^h([0-9]+)', 1) AS BIGINT)
                    = r.node),
         o AS (SELECT *, CAST(row_number() OVER (
                 ORDER BY host_rank DESC, inlinks DESC, url ASC) AS INT)
                 AS fetch_rank FROM j)
         SELECT url, host, inlinks, host_rank, fetch_rank
         FROM o WHERE fetch_rank <= 20"""
    },

    // same bins, same integer counts, same midpoint/rate divides
    "q152_calibration" ->
      """WITH d AS (
           SELECT CAST(doc_id % 97 AS DOUBLE) / 97.0 AS s,
                  CASE WHEN (doc_id % 97) + (doc_id % 13) >= 55
                       THEN 1 ELSE 0 END AS y
           FROM documents),
         b AS (SELECT least(CAST(floor(s * 10) AS BIGINT), 9) AS bin, y
               FROM d),
         g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(y) AS BIGINT) AS np
               FROM b GROUP BY bin)
         SELECT bin, (CAST(bin AS DOUBLE) + 0.5) / 10 AS bin_mid,
                n, np AS n_pos,
                CAST(np AS DOUBLE) / CAST(n AS DOUBLE) AS pos_rate
         FROM g""",

    // same rank-sum identity, same integer S2, same single divide
    "q151_classifier_auc" ->
      """WITH d AS (
           SELECT CAST(doc_id % 20 AS DOUBLE) AS s,
                  CASE WHEN (doc_id % 20) + (doc_id % 7) >= 12
                       THEN 1 ELSE 0 END AS y
           FROM documents),
         g AS (SELECT s, CAST(count(*) AS BIGINT) AS c,
                      CAST(sum(y) AS BIGINT) AS p
               FROM d GROUP BY s),
         r AS (SELECT *, coalesce(CAST(sum(c) OVER (ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS BIGINT), 0) AS cum FROM g),
         a AS (SELECT CAST(sum(p) AS BIGINT) AS np,
                      CAST(sum(c) - sum(p) AS BIGINT) AS nn,
                      CAST(sum(p * (2*cum + c + 1)) AS BIGINT) AS s2
               FROM r)
         SELECT np AS n_pos, nn AS n_neg,
                CASE WHEN np > 0 AND nn > 0
                     THEN CAST(s2 - np*(np+1) AS DOUBLE)
                          / CAST(2*np*nn AS DOUBLE)
                     ELSE NULL END AS auc
         FROM a""",

    // the same fingerprint (md5 over chr(1)-joined content) and the
    // same full-outer classification, mirrored end to end
    "q150_corpus_diff" ->
      """WITH cur AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END
                    AS text,
                  source
           FROM documents WHERE doc_id % 17 <> 0
           UNION ALL
           SELECT doc_id + 1000000, text, source FROM documents
           WHERE doc_id % 13 = 0),
         p AS (SELECT doc_id AS id,
                      md5(concat_ws(chr(1), coalesce(text, ''),
                                    coalesce(source, ''))) AS hp
               FROM documents),
         c AS (SELECT doc_id AS id,
                      md5(concat_ws(chr(1), coalesce(text, ''),
                                    coalesce(source, ''))) AS hc
               FROM cur),
         j AS (SELECT hp, hc FROM p FULL OUTER JOIN c ON p.id = c.id)
         SELECT CASE WHEN hp IS NULL THEN 'added'
                     WHEN hc IS NULL THEN 'removed'
                     WHEN hp = hc THEN 'unchanged'
                     ELSE 'changed' END AS status,
                CAST(count(*) AS BIGINT) AS n
         FROM j GROUP BY 1""",

    // q145's dHash formula + brute-force pair scan, then transitive
    // closure via the recursive reach CTE (the q48 pattern) and the
    // same census the engine computes with alternating-star CC
    "q149_image_dedup_cc" ->
      """WITH RECURSIVE a AS (
           SELECT doc_id AS id,
                  CAST(doc_id % 13 + 4 AS BIGINT) AS w,
                  CAST(doc_id % 11 + 4 AS BIGINT) AS h
           FROM documents WHERE doc_id % 4 = 0),
         bits AS (
           SELECT id, list_transform(range(64), b ->
             CASE WHEN (id*31 + ((b//8)*h//8)*w + ((b%8+1)*w//9)) % 256
                     > (id*31 + ((b//8)*h//8)*w + ((b%8)*w//9)) % 256
                  THEN 1 ELSE 0 END) AS bt
           FROM a),
         hs AS (
           SELECT id,
                  CAST(list_sum(list_transform(range(63),
                    b -> CAST(bt[b+1] AS BIGINT) << b)) AS BIGINT)
                  + CAST(bt[64] AS BIGINT) * (-9223372036854775807 - 1) AS dh
           FROM bits),
         nd AS (
           SELECT a.id AS id_a, b.id AS id_b
           FROM hs a JOIN hs b ON a.id < b.id
           WHERE bit_count(xor(a.dh, b.dh)) <= 2),
         edges AS (SELECT id_a AS u, id_b AS v FROM nd
                   UNION SELECT id_b, id_a FROM nd),
         reach(id, r) AS (
           SELECT u, u FROM edges
           UNION
           SELECT e.u, rr.r FROM edges e JOIN reach rr ON rr.id = e.v),
         cc AS (SELECT id, min(r) AS rep FROM reach GROUP BY id),
         mapped AS (
           SELECT a.id, coalesce(cc.rep, a.id) AS rep
           FROM a LEFT JOIN cc ON cc.id = a.id),
         sizes AS (SELECT rep, count(*) AS csize FROM mapped GROUP BY rep)
         SELECT csize, CAST(count(*) AS BIGINT) AS n_clusters
         FROM sizes GROUP BY csize""",

    // full-rebuild truth for the incremental CC: transitive closure by
    // recursive reach over EVERY pair (even and odd batches together),
    // min-id representatives — ccAppend's rebuild-equivalence contract
    "q155_cc_append" ->
      """WITH RECURSIVE p AS (
           SELECT doc_id % 120 AS u, (doc_id * 13 + 7) % 120 AS v
           FROM documents),
         edges AS (SELECT u, v FROM p WHERE u <> v
                   UNION SELECT v, u FROM p WHERE u <> v),
         reach(id, r) AS (
           SELECT u, u FROM edges
           UNION
           SELECT e.u, rr.r FROM edges e JOIN reach rr ON rr.id = e.v)
         SELECT id, CAST(min(r) AS BIGINT) AS rep
         FROM reach GROUP BY id""",

    // content-defined chunk mirror: identical md5-anchor rule (first 8
    // hex digits as an integer, % gap), identical chunking, the same
    // corpus-wide content grouping with the doc*2^32+pos first-
    // occurrence rule, the same gaps-and-islands stitch. min over the
    // packed BIGINT key never promotes; the island SUM (HUGEINT) is
    // only a group key, never an output column
    "q156_exact_substr" ->
      """WITH corpus AS (
           SELECT doc_id AS id, text FROM documents
           UNION ALL
           SELECT doc_id + 2000000,
                  'pad0 pad1 pad2 pad3 pad4 pad5 pad6 ' ||
                  array_to_string(list_slice(ws, 8, 67), ' ')
           FROM (SELECT doc_id,
                   list_filter(string_split_regex(trim(text), '\s+'),
                     w -> w <> '') AS ws
                 FROM documents)
           WHERE doc_id % 10 = 0 AND len(ws) >= 70),
         tk AS (SELECT id,
                  list_filter(string_split_regex(text, '\s+'),
                    w -> w <> '') AS ws
                FROM corpus
                WHERE len(list_filter(string_split_regex(text, '\s+'),
                    w -> w <> '')) >= 1),
         bsl AS (SELECT id, ws,
                   [0] || list_filter(range(1, len(ws)),
                     i -> ('0x' || substr(md5(ws[i + 1]), 1, 8))::BIGINT
                          % 8 = 0) || [len(ws)] AS b
                 FROM tk),
         ch AS (SELECT id, CAST(b[j] AS BIGINT) AS s,
                       CAST(b[j + 1] AS BIGINT) AS e,
                       array_to_string(list_slice(ws, b[j] + 1, b[j + 1]),
                         ' ') AS chunk
                FROM bsl, LATERAL unnest(range(1, len(b))) AS u(j)),
         occ AS (SELECT chunk, count(*) AS n,
                        min(id * 4294967296 + s) AS fk
                 FROM ch GROUP BY chunk),
         dup AS (SELECT ch.id, ch.s, ch.e
                 FROM ch JOIN occ USING (chunk)
                 WHERE occ.n >= 2 AND ch.id * 4294967296 + ch.s <> occ.fk),
         lg AS (SELECT id, s, e,
                  lag(e) OVER (PARTITION BY id ORDER BY s) AS pe
                FROM dup),
         isl AS (SELECT id, s, e,
                   SUM(CASE WHEN s <> pe THEN 1 ELSE 0 END)
                     OVER (PARTITION BY id ORDER BY s) AS island
                 FROM lg)
         SELECT id AS doc_id,
                CAST(min(s) AS BIGINT) AS span_start,
                CAST(max(e) - 1 AS BIGINT) AS span_end,
                CAST(max(e) - min(s) AS BIGINT) AS n_tokens,
                CAST(count(*) AS BIGINT) AS n_chunks
         FROM isl GROUP BY id, island
         HAVING max(e) - min(s) >= 24""",

    // q156's chain through the span stitch, then the q81 removal stage:
    // tokens outside every span reconstructed in order with single
    // spaces (the chunk tokenizer's own join), fully-cut and empty docs
    // come back as '' on both engines, removed-count CAST through the
    // HUGEINT sum
    "q160_exact_substr_removal" ->
      """WITH corpus AS (
           SELECT doc_id AS id, text FROM documents
           UNION ALL
           SELECT doc_id + 2000000,
                  'pad0 pad1 pad2 pad3 pad4 pad5 pad6 ' ||
                  array_to_string(list_slice(ws, 8, 67), ' ')
           FROM (SELECT doc_id,
                   list_filter(string_split_regex(trim(text), '\s+'),
                     w -> w <> '') AS ws
                 FROM documents)
           WHERE doc_id % 10 = 0 AND len(ws) >= 70),
         tk AS (SELECT id,
                  list_filter(string_split_regex(text, '\s+'),
                    w -> w <> '') AS ws
                FROM corpus
                WHERE len(list_filter(string_split_regex(text, '\s+'),
                    w -> w <> '')) >= 1),
         bsl AS (SELECT id, ws,
                   [0] || list_filter(range(1, len(ws)),
                     i -> ('0x' || substr(md5(ws[i + 1]), 1, 8))::BIGINT
                          % 8 = 0) || [len(ws)] AS b
                 FROM tk),
         ch AS (SELECT id, CAST(b[j] AS BIGINT) AS s,
                       CAST(b[j + 1] AS BIGINT) AS e,
                       array_to_string(list_slice(ws, b[j] + 1, b[j + 1]),
                         ' ') AS chunk
                FROM bsl, LATERAL unnest(range(1, len(b))) AS u(j)),
         occ AS (SELECT chunk, count(*) AS n,
                        min(id * 4294967296 + s) AS fk
                 FROM ch GROUP BY chunk),
         dup AS (SELECT ch.id, ch.s, ch.e
                 FROM ch JOIN occ USING (chunk)
                 WHERE occ.n >= 2 AND ch.id * 4294967296 + ch.s <> occ.fk),
         lg AS (SELECT id, s, e,
                  lag(e) OVER (PARTITION BY id ORDER BY s) AS pe
                FROM dup),
         isl AS (SELECT id, s, e,
                   SUM(CASE WHEN s <> pe THEN 1 ELSE 0 END)
                     OVER (PARTITION BY id ORDER BY s) AS island
                 FROM lg),
         spans AS (SELECT id, min(s) AS ss, max(e) - 1 AS se
                   FROM isl GROUP BY id, island
                   HAVING max(e) - min(s) >= 24),
         alltoks AS (SELECT z.id, z.ws[u.i] AS tok,
                       CAST(u.i - 1 AS BIGINT) AS idx
                     FROM tk z,
                       LATERAL unnest(generate_series(1, len(z.ws))) AS u(i)),
         kept AS (SELECT a.id, a.tok, a.idx FROM alltoks a
                  WHERE NOT EXISTS (SELECT 1 FROM spans sp
                    WHERE sp.id = a.id AND a.idx BETWEEN sp.ss AND sp.se)),
         clean AS (SELECT id,
                     coalesce(string_agg(tok, ' ' ORDER BY idx), '')
                       AS clean_text
                   FROM kept GROUP BY id),
         rm AS (SELECT id, sum(se - ss + 1) AS nrm FROM spans GROUP BY id)
         SELECT c.id AS doc_id,
                coalesce(cl.clean_text, '') AS clean_text,
                CAST(coalesce(r.nrm, 0) AS BIGINT) AS n_tokens_removed
         FROM corpus c
         LEFT JOIN clean cl ON c.id = cl.id
         LEFT JOIN rm r ON c.id = r.id""",

    // declared-politeness frontier: the links are already canonical, so
    // the mirror skips the canon chain; budgets/delays/sitemap counts
    // are the fixture's hand-evaluated truth per host (the q135 idiom),
    // including both default-delay paths (no robots row / junk value)
    "q158_rate_frontier" ->
      """WITH u AS (
           SELECT 'host' || CAST(doc_id % 7 AS VARCHAR) || '.example' AS host,
                  'https://host' || CAST(doc_id % 7 AS VARCHAR)
                    || '.example/page/' || CAST(doc_id % 50 AS VARCHAR) AS url,
                  doc_id % 7 AS h
           FROM documents),
         agg AS (SELECT host, h, url, COUNT(*) AS inlinks
                 FROM u GROUP BY 1, 2, 3),
         ranked AS (SELECT host, h, url, inlinks,
                      CAST(row_number() OVER (PARTITION BY host
                        ORDER BY inlinks DESC, url ASC) AS INT) AS rank
                    FROM agg),
         bud AS (SELECT * FROM (VALUES
             (0, CAST(2.0 AS DOUBLE), 8, 2),
             (1, CAST(2.0 AS DOUBLE), 8, 2),
             (2, CAST(12.5 AS DOUBLE), 4, 0),
             (3, CAST(NULL AS DOUBLE), 4, 0),
             (4, CAST(90.0 AS DOUBLE), 0, 1),
             (5, CAST(NULL AS DOUBLE), 4, 0),
             (6, CAST(NULL AS DOUBLE), 4, 0))
           AS v(h, crawl_delay_sec, fetch_budget, n_sitemaps))
         SELECT r.host, r.url, r.inlinks, r.rank, b.crawl_delay_sec,
                CAST(b.fetch_budget AS INT) AS fetch_budget,
                CAST(b.n_sitemaps AS INT) AS n_sitemaps
         FROM ranked r JOIN bud b ON r.h = b.h
         WHERE r.rank <= b.fetch_budget""",

    // q19's label mirror plus the LANGSCORE margin/ratio mirror, pushed
    // through the p >= 0.5 threshold the query itself gates on
    "q159_lang_confidence" ->
      s"""WITH base AS (
           SELECT lang, text FROM documents
           UNION ALL
           SELECT 'salt' AS lang,
                  $LANG_SALT_SQL[CAST(doc_id % ${langSaltSamples.length} + 1 AS INT)] AS text
           FROM documents
           UNION ALL
           SELECT 'amb' AS lang, unnest($LANG_AMB_SQL) AS text),
         g AS (SELECT lang, ${LANGID("text")} AS guess,
                      ${LANGSCORE("text")} AS score
               FROM base)
         SELECT lang, guess, (score >= 0.5) AS confident,
                COUNT(*) AS n_docs,
                MIN(score) AS min_score, MAX(score) AS max_score
         FROM g GROUP BY 1, 2, 3""",

    // WordPiece fertility: the recursive greedy-encode CTE over
    // distinct words, joined back to documents; fertility = ONE IEEE
    // divide over the exact BIGINT sums (bit-stable); zero-word docs
    // ride the LEFT JOIN coalesce
    "q161_wordpiece" ->
      s"""WITH RECURSIVE
         $WP_CTE,
         dw AS (SELECT w0.doc_id, w0.lang, f.toks
                FROM w0 JOIN wfin f ON w0.w = f.w),
         per AS (SELECT doc_id, lang,
                   SUM(len(toks)) AS np,
                   SUM(len(list_filter(toks, t -> t = '[UNK]'))) AS nu
                 FROM dw GROUP BY 1, 2),
         doc AS (SELECT doc_id, lang,
                   CAST(len(list_filter($TOKS, t -> t <> '')) AS BIGINT) AS nw
                 FROM documents)
         SELECT d.lang, COUNT(*) AS n_docs,
                CAST(SUM(d.nw) AS BIGINT) AS sum_words,
                CAST(SUM(coalesce(p.np, 0)) AS BIGINT) AS sum_pieces,
                CAST(SUM(coalesce(p.nu, 0)) AS BIGINT) AS sum_unk,
                CAST(CAST(SUM(coalesce(p.np, 0)) AS BIGINT) AS DOUBLE)
                  / CAST(SUM(d.nw) AS BIGINT) AS fertility
         FROM doc d LEFT JOIN per p ON d.doc_id = p.doc_id
         GROUP BY 1""",

    // piece/id census: the same CTE's piece stream, ids from the
    // vocab.txt line order the VALUES table carries
    "q162_wordpiece_pieces" ->
      s"""WITH RECURSIVE
         $WP_CTE,
         dw AS (SELECT w0.doc_id, f.toks FROM w0 JOIN wfin f ON w0.w = f.w),
         tok AS (SELECT unnest(toks) AS piece FROM dw),
         cnt AS (SELECT piece, COUNT(*) AS n FROM tok GROUP BY 1)
         SELECT c.piece, CAST(v.id AS INT) AS id, c.n,
                CAST(row_number() OVER (ORDER BY c.n DESC, c.piece) AS INT)
                  AS rank
         FROM cnt c JOIN wpv v ON c.piece = v.piece
         QUALIFY rank <= 20""",

    // brute-force truth for the prefix-filtered join: every pair of the
    // salted corpus with word-3-gram Jaccard >= 0.5 — the filter's
    // total-recall claim means the clever plan must equal this scan
    "q146_prefix_jaccard" ->
      s"""WITH corpus AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
           UNION ALL
           SELECT doc_id + 1000000, text || ' graft dup probe tail'
           FROM documents WHERE doc_id % 2 = 0),
         sh AS (
           SELECT doc_id AS id, $HSHINGLES3 AS sh FROM corpus),
         nonempty AS (SELECT id, sh FROM sh WHERE len(sh) > 0)
         SELECT a.id AS id_a, b.id AS id_b,
                ${JACC("a.sh", "b.sh")} AS jaccard
         FROM nonempty a JOIN nonempty b ON a.id < b.id
         WHERE ${JACC("a.sh", "b.sh")} >= 0.5""",

    // SURT mirror recomputed from the generating formula (both fetch
    // variants collapse to one key; %5 is determined by %20, so the key
    // space is the 20 residues); the relative URL is the null group
    "q147_surt_key" ->
      """SELECT surt, CAST(count(*) AS BIGINT) AS n FROM (
           SELECT 'com,example,news' || CAST(doc_id % 5 AS VARCHAR)
                  || ')/a/' || CAST(doc_id % 20 AS VARCHAR) AS surt
           FROM documents CROSS JOIN range(2)
           UNION ALL
           SELECT NULL FROM documents)
         GROUP BY surt""",

    // mojibake repairs pinned as the literal case matrix (the engine
    // ran the general inverse-decode); NFC via DuckDB's own
    // nfc_normalize — a true cross-engine UAX #15 check
    "q148_fix_encoding" -> {
      val rep = sqlList(mojibakeSamples.map(_._2))
      val nfd = sqlList(nfdSamples)
      s"""SELECT doc_id,
           $rep[CAST(doc_id % ${mojibakeSamples.length} AS INT) + 1] AS repaired,
           nfc_normalize(
             $nfd[CAST(doc_id % ${nfdSamples.length} AS INT) + 1]) AS composed,
           true AS repair_stable,
           CAST(length(
             $nfd[CAST(doc_id % ${nfdSamples.length} AS INT) + 1]) AS INT)
             AS nfd_len
         FROM documents"""
    },

    "q01_group_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         ${DSUM("l_quantity")} AS sum_qty,
         ${DSUM("l_extendedprice")} AS sum_price,
         ${DAVG("l_discount")} AS avg_disc,
         COUNT(*) AS n_rows
         FROM lineitem GROUP BY 1, 2""",
    "q02_minmax_median" ->
      """SELECT o_orderpriority,
         MIN(o_totalprice) AS min_price,
         MAX(o_totalprice) AS max_price,
         MEDIAN(o_totalprice) AS med_price,
         COUNT(*) AS n_rows
         FROM orders GROUP BY 1""",
    "q03_geomean" ->
      """SELECT p_brand,
         ROUND(EXP(AVG(LN(p_retailprice))), 6) AS geo_price,
         COUNT(*) AS n_rows
         FROM part GROUP BY 1""",
    "q04_global_agg" ->
      s"""SELECT COUNT(*) AS n_rows,
         ${DSUM("l_extendedprice")} AS sum_price,
         MIN(l_shipdate) AS min_ship,
         MAX(l_shipdate) AS max_ship
         FROM lineitem""",
    "q05_filter_in" ->
      s"""SELECT o_orderstatus, o_orderpriority,
         COUNT(*) AS n_rows, ${DSUM("o_totalprice")} AS sum_price
         FROM orders
         WHERE o_orderstatus IN ('F', 'O')
           AND o_orderpriority IN ('1-URGENT', '2-HIGH')
         GROUP BY 1, 2""",
    "q06_filter_out" ->
      s"""SELECT p_brand, COUNT(*) AS n_rows,
         ${DSUM("p_retailprice")} AS sum_price
         FROM part
         WHERE p_size NOT IN (1, 2, 3) AND p_type NOT IN ('PROMO')
         GROUP BY 1""",
    "q07_rename_computed" ->
      """SELECT c_mktsegment AS segment,
         CASE WHEN c_acctbal < 0 THEN 'negative'
              WHEN c_acctbal < 5000 THEN 'mid'
              ELSE 'high' END AS tier,
         COUNT(*) AS n_rows,
         MIN(str_split(c_name, '#')[2]) AS first_cust
         FROM customer GROUP BY 1, 2""",
    "q08_ratio_of" ->
      s"""WITH grp AS (
           SELECT l_returnflag, l_linestatus,
                  ${DAVG("l_extendedprice")} AS v
           FROM lineitem GROUP BY 1, 2),
         base AS (
           SELECT l_linestatus, ${DAVG("l_extendedprice")} AS b
           FROM lineitem WHERE l_returnflag = 'N' GROUP BY 1)
         SELECT grp.l_returnflag, grp.l_linestatus, grp.v / base.b AS ratio
         FROM grp JOIN base USING (l_linestatus)""",
    "q09_pack" ->
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS name, l_quantity AS value FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_discount' AS name, l_discount AS value FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_tax' AS name, l_tax AS value FROM lineitem""",
    "q10_unpack" ->
      s"""SELECT user_id,
         CAST(SUM(CAST(CASE WHEN event_type = 'click' THEN value END AS DECIMAL(28,6))) AS DOUBLE) AS click,
         CAST(SUM(CAST(CASE WHEN event_type = 'error' THEN value END AS DECIMAL(28,6))) AS DOUBLE) AS error,
         CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value END AS DECIMAL(28,6))) AS DOUBLE) AS purchase,
         CAST(SUM(CAST(CASE WHEN event_type = 'signup' THEN value END AS DECIMAL(28,6))) AS DOUBLE) AS signup,
         CAST(SUM(CAST(CASE WHEN event_type = 'view' THEN value END AS DECIMAL(28,6))) AS DOUBLE) AS view
         FROM events GROUP BY 1""",
    "q11_union_by_name" ->
      """SELECT c_custkey AS id, c_name AS name, c_acctbal AS acctbal,
                c_mktsegment AS segment, 'customer' AS src
         FROM customer
         UNION ALL BY NAME
         SELECT s_suppkey AS id, s_name AS name, s_acctbal AS acctbal,
                'supplier' AS src
         FROM supplier""",
    "q12_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "q13_except" ->
      """SELECT DISTINCT p_type FROM part
         EXCEPT
         SELECT DISTINCT p_type FROM part WHERE p_size < 45""",
    "q14_join_agg" ->
      s"""SELECT c_mktsegment,
         COUNT(*) AS n_orders, ${DSUM("o_totalprice")} AS sum_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1""",
    "q15_expected_fill" ->
      s"""WITH agg AS (
           SELECT l_linestatus, l_returnflag,
                  ROUND(${DAVG("l_quantity")}, 6) AS avg_qty
           FROM lineitem GROUP BY 1, 2),
         grid AS (
           SELECT DISTINCT l.l_linestatus, e.l_returnflag
           FROM lineitem l CROSS JOIN (VALUES ('A'),('N'),('R'),('X')) e(l_returnflag)),
         missing AS (
           SELECT g.l_linestatus, g.l_returnflag, CAST(NULL AS DOUBLE) AS avg_qty
           FROM grid g ANTI JOIN agg a
             ON g.l_linestatus = a.l_linestatus AND g.l_returnflag = a.l_returnflag)
         SELECT * FROM agg UNION ALL SELECT * FROM missing""",
    "q16_ordering_check" ->
      s"""WITH g AS (
           SELECT l_linestatus, l_returnflag,
                  ROUND(${DAVG("l_extendedprice")}, 6) AS v
           FROM lineitem GROUP BY 1, 2)
         SELECT l_linestatus,
           array_to_string(array_agg(l_returnflag ORDER BY v DESC, l_returnflag), ',') AS order_desc
         FROM g GROUP BY 1""",
    // A8 verdict: window/array_agg rank comparison — worst first
    // (higher_is_better=false => v DESC), ties broken by the series value
    "q79_ordering_verdict" ->
      s"""WITH g AS (
           SELECT l_linestatus, l_returnflag,
                  ROUND(${DAVG("l_extendedprice")}, 6) AS v
           FROM lineitem GROUP BY 1, 2),
         o AS (
           SELECT l_linestatus,
             array_to_string(array_agg(l_returnflag ORDER BY v DESC, l_returnflag), '|') AS observed_order
           FROM g WHERE v IS NOT NULL GROUP BY 1)
         SELECT l_linestatus, 'N|A|R' AS expected_order, observed_order,
                (observed_order = 'N|A|R') AS ordering_ok
         FROM o""",
    // span dedup: k=10 token windows, hash60 gram keys, packed
    // (doc*2^32+pos) first-occurrence exemption, coverage-touching
    // windows (pos gap <= k) fused per doc — mirrors
    // Dedup.duplicateSpans exactly
    "q80_dup_spans" ->
      s"""WITH toks AS (
           SELECT doc_id, string_split(text, ' ') AS t FROM documents
           WHERE len(string_split(text, ' ')) >= 10),
         grams AS (
           SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos,
                  ('0x' || substr(md5(array_to_string(t[u.i:u.i+9], ' ')), 1, 15))::BIGINT AS g
           FROM toks, unnest(generate_series(1, len(t) - 9)) AS u(i)),
         occ AS (
           SELECT g, count(*) AS n, min(doc_id * 4294967296 + pos) AS fk
           FROM grams GROUP BY g),
         dup AS (
           SELECT doc_id, pos FROM grams JOIN occ USING (g)
           WHERE n >= 2 AND doc_id * 4294967296 + pos <> fk),
         isl AS (
           SELECT doc_id, pos,
                  CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 10
                       THEN 1 ELSE 0 END AS brk
           FROM dup),
         grp AS (
           SELECT doc_id, pos,
                  sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING) AS island
           FROM isl)
         SELECT doc_id, min(pos) AS span_start, max(pos) + 9 AS span_end,
                count(*) AS n_windows
         FROM grp GROUP BY doc_id, island""",
    // removal companion: q80's span pipeline, then tokens outside every
    // span reconstructed in order with single spaces (split/join round-
    // trips byte-exactly, including empty tokens from repeated spaces);
    // docs with every token flagged come back as '' — both engines
    "q81_span_removal" ->
      s"""WITH toks AS (
           SELECT doc_id, string_split(text, ' ') AS t FROM documents
           WHERE len(string_split(text, ' ')) >= 10),
         grams AS (
           SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos,
                  ('0x' || substr(md5(array_to_string(t[u.i:u.i+9], ' ')), 1, 15))::BIGINT AS g
           FROM toks, unnest(generate_series(1, len(t) - 9)) AS u(i)),
         occ AS (
           SELECT g, count(*) AS n, min(doc_id * 4294967296 + pos) AS fk
           FROM grams GROUP BY g),
         dup AS (
           SELECT doc_id, pos FROM grams JOIN occ USING (g)
           WHERE n >= 2 AND doc_id * 4294967296 + pos <> fk),
         isl AS (
           SELECT doc_id, pos,
                  CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 10
                       THEN 1 ELSE 0 END AS brk
           FROM dup),
         grp AS (
           SELECT doc_id, pos,
                  sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING) AS island
           FROM isl),
         spans AS (
           SELECT doc_id, min(pos) AS s, max(pos) + 9 AS e
           FROM grp GROUP BY doc_id, island),
         alltoks AS (
           SELECT z.doc_id, z.t[u.i] AS tok, CAST(u.i - 1 AS BIGINT) AS idx
           FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) z,
                unnest(generate_series(1, len(z.t))) AS u(i)),
         kept AS (
           SELECT a.doc_id, a.tok, a.idx FROM alltoks a
           WHERE NOT EXISTS (SELECT 1 FROM spans sp
                             WHERE sp.doc_id = a.doc_id AND a.idx BETWEEN sp.s AND sp.e)),
         clean AS (
           SELECT doc_id, coalesce(string_agg(tok, ' ' ORDER BY idx), '') AS clean_text
           FROM kept GROUP BY doc_id),
         rm AS (SELECT doc_id, sum(e - s + 1) AS nrm FROM spans GROUP BY doc_id)
         SELECT d.doc_id, coalesce(c.clean_text, '') AS clean_text,
                CAST(coalesce(r.nrm, 0) AS BIGINT) AS n_tokens_removed
         FROM documents d
         LEFT JOIN clean c ON d.doc_id = c.doc_id
         LEFT JOIN rm r ON d.doc_id = r.doc_id""",
    // bigram LM: P(w2|w1) = (c12+0.5)/(c1+0.5*V), V = src0 vocab;
    // avg(ln p) rounded like q03's geomean contract, ppl = exp(-avg)
    "q82_lm_score" ->
      s"""WITH tok AS (
           SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
         bi AS (
           SELECT doc_id, source, t[u.i] AS w1, t[u.i + 1] AS w2
           FROM tok, unnest(generate_series(1, len(t) - 1)) AS u(i)
           WHERE len(t) >= 2),
         c12 AS (
           SELECT w1, w2, count(*) AS c12 FROM bi WHERE source = 'src0'
           GROUP BY w1, w2),
         c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY w1),
         v AS (
           SELECT count(DISTINCT u.tok) AS v
           FROM (SELECT t FROM tok WHERE source = 'src0') z, unnest(t) AS u(tok)),
         scored AS (
           SELECT b.doc_id, count(*) AS n_bigrams,
                  ROUND(AVG(LN((coalesce(m.c12, 0) + 0.5) /
                               (coalesce(u1.c1, 0) + 0.5 * (SELECT v FROM v)))), 6)
                    AS avg_logp
           FROM bi b
           LEFT JOIN c12 m ON b.w1 = m.w1 AND b.w2 = m.w2
           LEFT JOIN c1 u1 ON b.w1 = u1.w1
           GROUP BY b.doc_id)
         SELECT d.doc_id,
                CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                s.avg_logp,
                ROUND(EXP(-s.avg_logp), 4) AS ppl
         FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id""",
    // NOT EXISTS (not NOT IN) mirrors the anti-join's null-key semantics
    "q83_bloom_dedup" ->
      """SELECT b.doc_id, b.n_chars FROM documents b
         WHERE b.doc_id % 5 = 0 AND NOT EXISTS (
           SELECT 1 FROM documents h WHERE h.doc_id % 5 <> 0
             AND substr(h.text, 1, 40) = substr(b.text, 1, 40))""",
    "q17_token_stats" ->
      s"""SELECT lang, COUNT(*) AS n_docs,
         CAST(SUM(len($TOKS)) AS BIGINT) AS sum_tokens,
         CAST(SUM(len($TOKS)) AS DOUBLE) / COUNT(*) AS avg_tokens,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         FROM documents GROUP BY 1""",
    // percentile (Spark) and quantile_cont (DuckDB) are both the exact
    // linear-interpolated quantile — same definition, hash-matchable
    "q73_profile" ->
      s"""WITH d AS (SELECT lang, source, len($TOKS)::BIGINT AS tc, length(text) AS nc
           FROM documents)
         SELECT lang, COUNT(*) AS n_docs,
           COUNT(DISTINCT source) AS n_sources,
           MIN(tc) AS min_tokens,
           ROUND(quantile_cont(tc, 0.1), 6) AS p10_tokens,
           ROUND(quantile_cont(tc, 0.5), 6) AS p50_tokens,
           ROUND(quantile_cont(tc, 0.9), 6) AS p90_tokens,
           MAX(tc) AS max_tokens,
           ROUND(AVG(CAST(nc AS DOUBLE)), 6) AS avg_chars
         FROM d GROUP BY 1""",
    "q18_quality_score" ->
      s"""WITH q AS (SELECT source, $QUALITY AS q FROM documents)
         SELECT source, COUNT(*) AS n_docs,
           ROUND(CAST(SUM(CAST(q AS DECIMAL(28,6))) AS DOUBLE) / COUNT(q), 6) AS avg_quality
         FROM q GROUP BY 1""",
    "q19_lang_id" ->
      s"""WITH base AS (
           SELECT lang, text FROM documents
           UNION ALL
           SELECT 'salt' AS lang,
                  $LANG_SALT_SQL[CAST(doc_id % ${langSaltSamples.length} + 1 AS INT)] AS text
           FROM documents),
         g AS (SELECT lang, ${LANGID("text")} AS guess FROM base)
         SELECT lang, guess, COUNT(*) AS n_docs
         FROM g GROUP BY 1, 2""",
    "q20_fingerprint" -> {
      val fp = "md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))"
      s"""SELECT source, COUNT(*) AS n_docs,
         COUNT(DISTINCT $fp) AS n_uniq, MIN($fp) AS min_fp
         FROM documents GROUP BY 1"""
    },
    // mirrors Dedup.ngramJaccardNearDups: MinHash k=16 / bands=8 (rows
    // per band = 2) candidate generation, exact-Jaccard verify >= 0.5
    "q21_ngram_jaccard" ->
      s"""WITH sh AS (
           SELECT doc_id AS id, $SHINGLES3 AS strsh, $HSHINGLES3 AS sh FROM documents),
         sig AS (
           SELECT id, sh, list_transform(range(0, 16),
             j -> list_min(list_transform(hs, h -> ((j*2+1) * h + (j*7919+104729)) % 2147483647))) AS sig
           FROM (SELECT id, sh, list_transform(strsh, s -> ${H32("s")}) AS hs FROM sh)),
         bands AS (
           SELECT id, sh, r.b,
             ${H60("array_to_string(list_transform(sig[r.b*2+1 : r.b*2+2], x -> x::VARCHAR), ',')")} AS bkey
           FROM sig, range(0, 8) r(b))
         SELECT * FROM (
           SELECT DISTINCT a.id AS id_a, b.id AS id_b, ${JACC("a.sh", "b.sh")} AS jaccard
           FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.id < b.id)
         WHERE jaccard >= 0.5""",
    "q22_minhash_lsh" ->
      s"""WITH sh AS (
           SELECT doc_id AS id, $SHINGLES3 AS strsh, $HSHINGLES3 AS sh FROM documents),
         sig AS (
           SELECT id, sh, list_transform(range(0, 12),
             j -> list_min(list_transform(hs, h -> ((j*2+1) * h + (j*7919+104729)) % 2147483647))) AS sig
           FROM (SELECT id, sh, list_transform(strsh, s -> ${H32("s")}) AS hs FROM sh)),
         bands AS (
           SELECT id, sh, r.b,
             ${H60("array_to_string(list_transform(sig[r.b*3+1 : r.b*3+3], x -> x::VARCHAR), ',')")} AS bkey
           FROM sig, range(0, 4) r(b))
         SELECT DISTINCT a.id AS id_a, b.id AS id_b, ${JACC("a.sh", "b.sh")} AS jaccard
         FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.id < b.id""",
    // incremental == full-corpus LSH candidates restricted to pairs
    // touching the new batch (doc_id % 5 = 0) — same band construction
    "q68_incremental_dedup" ->
      s"""WITH sh AS (
           SELECT doc_id AS id, $SHINGLES3 AS strsh, $HSHINGLES3 AS sh FROM documents),
         sig AS (
           SELECT id, sh, list_transform(range(0, 12),
             j -> list_min(list_transform(hs, h -> ((j*2+1) * h + (j*7919+104729)) % 2147483647))) AS sig
           FROM (SELECT id, sh, list_transform(strsh, s -> ${H32("s")}) AS hs FROM sh)),
         bands AS (
           SELECT id, sh, r.b,
             ${H60("array_to_string(list_transform(sig[r.b*3+1 : r.b*3+3], x -> x::VARCHAR), ',')")} AS bkey
           FROM sig, range(0, 4) r(b))
         SELECT DISTINCT a.id AS id_a, b.id AS id_b, ${JACC("a.sh", "b.sh")} AS jaccard
         FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.id < b.id
         WHERE a.id % 5 = 0 OR b.id % 5 = 0""",
    // distinct-shingle-hash overlap of corpus docs vs the benchmark
    // sample's shingle set (same md5/hash60 family as the dedup oracles)
    "q71_contamination" ->
      s"""WITH sh AS (
           SELECT doc_id AS id, $HSHINGLES3 AS sh FROM documents),
         bench AS (
           SELECT DISTINCT h FROM (SELECT unnest(sh) AS h FROM sh WHERE id % 97 = 0)),
         corp AS (
           SELECT id, unnest(sh) AS h FROM sh WHERE id % 97 <> 0)
         SELECT id AS doc_id, CAST(count(*) AS BIGINT) AS overlap
         FROM corp JOIN bench USING (h)
         GROUP BY id HAVING count(*) >= 3""",
    // mirrors semDedup exactly: md5-seeded centroid table, argmax-cosine
    // cell assignment (ties to smaller cell id), within-cell dominance
    "q72_semdedup" ->
      s"""WITH seeds AS (
           SELECT vec_id AS cell, embedding AS c FROM embeddings
           ORDER BY ${H32("CAST(vec_id AS VARCHAR)")}, vec_id
           LIMIT 16),
         assigned AS (
           SELECT e.vec_id, e.embedding AS v,
                  (SELECT s.cell FROM seeds s
                   ORDER BY -${COS("e.embedding", "s.c")}, s.cell LIMIT 1) AS cell
           FROM embeddings e),
         dropped AS (
           SELECT DISTINCT b.vec_id FROM assigned a JOIN assigned b
           ON a.cell = b.cell AND a.vec_id < b.vec_id
             AND ${COS("a.v", "b.v")} >= 0.4)
         SELECT a.vec_id, a.cell, (d.vec_id IS NULL) AS keep
         FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id""",

    // same augmentation + same RE2-safe patterns, same redaction order
    "q70_pii_redact" ->
      """WITH aug AS (
           SELECT doc_id,
                  text || ' contact user' || CAST(doc_id AS VARCHAR) ||
                  '@mail.example.com or call 555-' ||
                  lpad(CAST((doc_id * 7) % 1000 AS VARCHAR), 3, '0') || '-' ||
                  lpad(CAST((doc_id * 13) % 10000 AS VARCHAR), 4, '0') ||
                  ' from 10.' || CAST(doc_id % 256 AS VARCHAR) ||
                  '.0.' || CAST((doc_id * 3) % 256 AS VARCHAR) AS t
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(t, '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
           md5(regexp_replace(regexp_replace(regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')) AS redacted_md5
         FROM aug""",
    // same augmentation; line identity = raw-line hash60; blank lines
    // never counted; reconstruction in original line order
    "q74_boilerplate" ->
      s"""WITH aug AS (
           SELECT doc_id,
                  text || chr(10) || 'subscribe to ' || source ||
                  ' newsletter today' || chr(10) ||
                  'unique line ' || CAST(doc_id AS VARCHAR) AS t
           FROM documents),
         ls AS (
           SELECT doc_id,
                  unnest(string_split(t, chr(10))) AS line,
                  unnest(range(1, len(string_split(t, chr(10))) + 1)) AS pos
           FROM aug),
         freq AS (
           SELECT ${H60("line")} AS h FROM ls WHERE trim(line) <> ''
           GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 10),
         flagged AS (
           SELECT l.doc_id, l.line, l.pos,
                  (f.h IS NOT NULL) AS boiler
           FROM ls l LEFT JOIN freq f ON ${H60("l.line")} = f.h)
         SELECT doc_id, COUNT(*) AS n_lines,
           CAST(SUM(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           md5(COALESCE(string_agg(line, chr(10) ORDER BY pos)
                 FILTER (WHERE NOT boiler), '')) AS clean_md5
         FROM flagged GROUP BY 1""",
    // identical rate derivation (C = min(n/w), thr = round(C*w/n*1e6))
    // and the same salted-md5 membership hash as the Spark side
    "q75_mixture" ->
      s"""WITH w(source, wt) AS (VALUES ('src0', 3.0), ('src1', 1.0), ('src2', 1.0)),
         c AS (SELECT source, COUNT(*) AS n FROM documents
               JOIN w USING (source) GROUP BY 1),
         s AS (SELECT MIN(n / wt) AS cmin FROM c JOIN w USING (source)),
         r AS (SELECT c.source, CAST(ROUND(cmin * wt / n * 1000000) AS BIGINT) AS thr
               FROM c JOIN w USING (source), s)
         SELECT d.* FROM documents d JOIN r USING (source)
         WHERE ${H60("'mix' || CAST(doc_id AS VARCHAR)")} % 1000000 < thr""",
    // token -> hash32 % 1024 bucket -> md5(seed|bucket) integer weight;
    // integer sum (order-independent), one float division at the end
    "q76_quality_lr" ->
      s"""WITH t AS (SELECT doc_id, text, $TOKS AS ws FROM documents),
         sc AS (
           SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
             CASE WHEN trim(text) = '' THEN 0.0 ELSE
               CAST(list_sum(list_transform(ws, tok ->
                 ${H60("'qlr|' || CAST(" + H32("tok") + " % 1024 AS VARCHAR)")} % 2001 - 1000)) AS DOUBLE)
               / (1000.0 * len(ws)) END AS raw
           FROM t)
         SELECT doc_id, n_tokens, raw AS score, raw > 0 AS keep
         FROM sc""",
    // same 60-bit hash, same shard mod, same (hash, key) total order
    "q77_training_order" ->
      s"""WITH h AS (
           SELECT doc_id, lang,
                  ${H60("'ord' || CAST(doc_id AS VARCHAR)")} AS hh
           FROM documents)
         SELECT doc_id, lang, hh % 8 AS shard,
                CAST(ROW_NUMBER() OVER (PARTITION BY hh % 8
                       ORDER BY hh, doc_id) AS BIGINT) AS pos
         FROM h""",
    "q78_eval_quota" ->
      s"""WITH h AS (
           SELECT doc_id, lang, source,
                  ${H60("'quota' || CAST(doc_id AS VARCHAR)")} AS hh
           FROM documents)
         SELECT doc_id, lang, source FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                       ORDER BY hh, doc_id) AS rk FROM h)
         WHERE rk <= 7""",

    // all-pairs GROUND TRUTH (not the band construction): with
    // maxHamming=3 < bands=4 the band multi-index is pigeonhole-complete,
    // so the Spark side must reproduce this exactly — recall proof
    "q23_simhash" ->
      s"""WITH d AS (SELECT doc_id, $SIMHASH AS sh FROM documents)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
         FROM d a JOIN d b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.sh, b.sh)) <= 3""",
    "q54_simhash60" ->
      s"""WITH d AS (SELECT doc_id, $SIMHASH60 AS sh FROM documents)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
         FROM d a JOIN d b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.sh, b.sh)) <= 5""",
    // the Manku index is exact for Hamming<=3 (pigeonhole over 6 blocks /
    // 3-block keys), so the oracle is the plain all-pairs filter
    "q65_simhash_manku" ->
      s"""WITH d AS (SELECT doc_id, $SIMHASH60 AS sh FROM documents)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
         FROM d a JOIN d b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.sh, b.sh)) <= 3""",
    "q24_cosine_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         s AS (
           SELECT query_id, neighbor_id, ${COS("qv", "cv")} AS cos
           FROM c CROSS JOIN q WHERE query_id <> neighbor_id)
         SELECT query_id, neighbor_id, cos,
                CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
         FROM s QUALIFY rank <= 5""",
    // mirrors Dedup.embeddingNearDupsBanded: candidate iff some 8-bit band
    // of the 32-plane sign sketch differs by <= 1 bit (Hamming-1
    // multi-probe), exact-cosine verify >= 0.4
    "q25_embedding_neardup" ->
      s"""WITH e AS (
           SELECT vec_id AS id, embedding AS v, ${SIGNBUCKETN(32)} AS sk FROM embeddings)
         SELECT * FROM (
           SELECT a.id AS id_a, b.id AS id_b, ${COS("a.v", "b.v")} AS cos
           FROM e a JOIN e b ON a.id < b.id
           WHERE len(list_filter(range(0, 4),
                 bb -> bit_count(xor((a.sk >> (bb*8)) & 255, (b.sk >> (bb*8)) & 255)) <= 1)) > 0)
         WHERE cos >= 0.4""",
    "q26_lsh_buckets" ->
      s"""SELECT $SIGNBUCKET AS bucket, COUNT(*) AS n_vecs
         FROM embeddings GROUP BY 1""",
    "q27_window_tumbling" ->
      s"""SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
         COUNT(*) AS n_events, ${DSUM("value")} AS sum_value
         FROM events GROUP BY 1, 2""",
    "q28_window_sliding" ->
      s"""SELECT ws AS window_start, COUNT(*) AS n_events, ${DSUM("value")} AS sum_value
         FROM (SELECT unnest([time_bucket(INTERVAL '1 hour', ts),
                              time_bucket(INTERVAL '1 hour', ts) - INTERVAL '1 hour']) AS ws,
                      value
               FROM events)
         GROUP BY 1""",
    "q29_sessions" ->
      s"""WITH g AS (
           SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS is_new
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (
           SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_id
           FROM g)
         SELECT user_id, session_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
                COUNT(*) AS n_events, ${DSUM("value")} AS sum_value
         FROM s GROUP BY 1, 2""",
    "q30_json_extract" ->
      """SELECT event_type,
         CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
         COUNT(*) AS n_events
         FROM events GROUP BY 1""",
    // the oracle REBUILDS the exact container-header hex from the planted
    // id formula and hashes the same lower-hex bridge the engine hashes;
    // the engine instead PARSES the dims back out of the binary header it
    // built — a genuine round-trip check on the PNG/JPEG parsers
    "q31_multimodal" ->
      """WITH a AS (
           SELECT doc_id,
                  text,
                  doc_id % 1920 + 1 AS w,
                  doc_id % 1080 + 1 AS h,
                  doc_id % 2 = 0 AS is_png
           FROM documents),
         p AS (
           SELECT *,
                  CASE WHEN is_png
                    THEN '89504e470d0a1a0a' || '0000000d' || '49484452'
                         || lpad(lower(to_hex(w)), 8, '0')
                         || lpad(lower(to_hex(h)), 8, '0')
                         || '0802000000' || '00000000'
                    ELSE 'ffd8' || 'ffe000104a46494600010100000100010000'
                         || 'ffc0000b08'
                         || lpad(lower(to_hex(h)), 4, '0')
                         || lpad(lower(to_hex(w)), 4, '0')
                         || '01011100'
                  END AS hdr_hex
           FROM a)
         SELECT doc_id AS asset_id,
                CASE WHEN is_png THEN 'image/png' ELSE 'image/jpeg' END AS modality,
                CAST(octet_length(encode(text)) + 33 AS BIGINT) AS byte_len,
                md5(hdr_hex || lower(to_hex(encode(text)))) AS content_hash,
                CAST(w AS INT) AS width,
                CAST(h AS INT) AS height
         FROM p""",
    // frames = equal-stride byte ranges; frame_hash = md5 of the slice's
    // lowercase hex (DuckDB has no blob substring, hex-slicing is exact)
    "q66_frame_sample" ->
      """WITH d AS (
           SELECT doc_id AS asset_id,
                  octet_length(encode(text)) AS len,
                  lower(to_hex(encode(text))) AS hx
           FROM documents),
         s AS (SELECT asset_id, len, hx,
                      CAST(ceil(len / 4.0) AS BIGINT) AS stride FROM d),
         f AS (
           SELECT asset_id, len, hx, stride,
                  unnest(range(CAST(ceil(len / CAST(stride AS DOUBLE)) AS BIGINT))) AS frame_idx
           FROM s WHERE len > 0)
         SELECT asset_id,
                CAST(frame_idx AS INT) AS frame_idx,
                frame_idx * stride AS frame_off,
                CAST(least(stride, len - frame_idx * stride) AS BIGINT) AS frame_bytes,
                md5(substr(hx, CAST(frame_idx * stride * 2 + 1 AS BIGINT), CAST(stride * 2 AS BIGINT))) AS frame_hash
         FROM f""",
    "q67_resize" ->
      """WITH a AS (
           SELECT doc_id, text,
                  doc_id % 1920 + 1 AS w,
                  doc_id % 1080 + 1 AS h,
                  doc_id % 2 = 0 AS is_png
           FROM documents),
         p AS (
           SELECT *,
                  CASE WHEN is_png
                    THEN '89504e470d0a1a0a' || '0000000d' || '49484452'
                         || lpad(lower(to_hex(w)), 8, '0')
                         || lpad(lower(to_hex(h)), 8, '0')
                         || '0802000000' || '00000000'
                    ELSE 'ffd8' || 'ffe000104a46494600010100000100010000'
                         || 'ffc0000b08'
                         || lpad(lower(to_hex(h)), 4, '0')
                         || lpad(lower(to_hex(w)), 4, '0')
                         || '01011100'
                  END AS hdr_hex
           FROM a),
         sc AS (
           SELECT *,
                  md5(hdr_hex || lower(to_hex(encode(text)))) AS content_hash,
                  least(128.0 / w, 96.0 / h, 1.0) AS scale
           FROM p)
         SELECT doc_id AS asset_id,
                CASE WHEN is_png THEN 'image/png' ELSE 'image/jpeg' END AS modality,
                CAST(w AS INT) AS width, CAST(h AS INT) AS height,
                128 AS target_w, 96 AS target_h,
                CAST(greatest(floor(w * scale), 1) AS INT) AS out_w,
                CAST(greatest(floor(h * scale), 1) AS INT) AS out_h,
                md5(content_hash || 'x' || '128' || 'x' || '96') AS resized_hash
         FROM sc""",
    // pixel-level mirror: dims/scale/nearest-neighbor indices and the
    // formula pixel values recomputed purely in SQL; the engine had to
    // inflate + defilter real PNG bytes to produce the same hash
    "q86_png_pixels" ->
      """WITH a AS (
           SELECT doc_id,
                  CAST(doc_id % 13 + 4 AS INT) AS w,
                  CAST(doc_id % 11 + 4 AS INT) AS h
           FROM documents),
         s AS (SELECT *, least(8.0 / w, 6.0 / h, 1.0) AS scale FROM a),
         o AS (
           SELECT doc_id, w, h,
                  CAST(greatest(floor(w * scale), 1) AS INT) AS ow,
                  CAST(greatest(floor(h * scale), 1) AS INT) AS oh
           FROM s)
         SELECT doc_id AS asset_id, w AS width, h AS height,
                ow AS out_w, oh AS out_h,
                md5(array_to_string(list_transform(range(CAST(ow * oh AS BIGINT)),
                  i -> lpad(lower(to_hex((doc_id * 31 + ((i // ow) * h // oh) * w + ((i % ow) * w // ow)) % 256)), 2, '0')), '')) AS out_hash
         FROM o""",
    "q87_wav_features" ->
      """WITH a AS (
           SELECT doc_id,
                  CAST(doc_id % 2 + 1 AS INT) AS channels,
                  CAST(doc_id % 500 + 100 AS BIGINT) AS frames,
                  CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate
           FROM documents)
         SELECT doc_id AS asset_id, sample_rate, channels,
                frames AS n_samples,
                frames * 1000 // sample_rate AS duration_ms,
                CAST(list_sum(list_transform(
                  list_transform(range(frames * channels),
                    i -> (doc_id * 7 + i * 13) % 65536 - 32768),
                  x -> x * x)) AS BIGINT) AS sum_sq
         FROM a""",
    // frame-level mirror: canvas dims, stride-2 sampled frame indices and
    // the formula pixel bytes (each gray pixel = 3 identical RGB bytes)
    // recomputed purely in SQL; the engine had to LZW-decompress real GIF
    // streams and resolve the palette to produce the same hashes
    "q88_gif_frames" ->
      """WITH a AS (
           SELECT doc_id,
                  CAST(doc_id % 9 + 3 AS INT) AS w,
                  CAST(doc_id % 7 + 3 AS INT) AS h,
                  CAST(doc_id % 4 + 2 AS INT) AS nf,
                  CAST((doc_id % 10) * 4 AS INT) AS dly
           FROM documents),
         f AS (SELECT doc_id, w, h, nf, dly,
                      CAST(unnest(range(0, nf, 2)) AS INT) AS frame_idx
               FROM a)
         SELECT doc_id AS asset_id, w AS width, h AS height,
                nf AS n_frames, frame_idx, dly AS delay_cs,
                md5(array_to_string(list_transform(range(CAST(w * h AS BIGINT)),
                  i -> repeat(lpad(lower(to_hex((doc_id * 17 + frame_idx * 53 + i) % 256)), 2, '0'), 3)), '')) AS frame_hash
         FROM f""",
    // pixel-level mirror of the JPEG path: the mosaic formula recomputed
    // purely in SQL (block (x//8, y//8) of ceil(w/8) blocks per row); the
    // engine had to Huffman-decode a real entropy-coded DCT stream to
    // produce the same hashes, exact because the fixture encodes with the
    // all-ones quant table over block-constant values
    "q89_jpeg_pixels" ->
      """WITH a AS (
           SELECT doc_id,
                  CAST(doc_id % 21 + 4 AS INT) AS w,
                  CAST(doc_id % 17 + 4 AS INT) AS h,
                  CAST(CASE WHEN doc_id % 2 = 1 THEN 3 ELSE 1 END AS INT) AS ch
           FROM documents)
         SELECT doc_id AS asset_id, w AS width, h AS height, ch AS channels,
                md5(array_to_string(list_transform(range(CAST(w * h AS BIGINT)),
                  i -> repeat(lpad(lower(to_hex((doc_id * 29 + ((i // w) // 8) * ((w + 7) // 8) + ((i % w) // 8)) % 256)), 2, '0'), ch)), '')) AS pix_hash
         FROM a""",
    // suffix-semantics mirror: every dot-suffix of the host against the
    // blocklist via list membership — notexample.com survives (substring
    // match would kill it), blog.example.com does not
    "q90_domain_filter" ->
      """WITH u AS (
           SELECT doc_id,
                  'https://' ||
                  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN '' WHEN 1 THEN 'www.'
                       ELSE 'cdn.news.' END ||
                  CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN 'example.com'
                       WHEN 1 THEN 'spamfarm.biz' WHEN 2 THEN 'notexample.com'
                       WHEN 3 THEN 'docs.site.io' ELSE 'blog.example.com' END ||
                  '/p/' || doc_id AS url
           FROM documents),
         h AS (SELECT doc_id,
                      lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)', 1)) AS host
               FROM u),
         s AS (SELECT doc_id, host, string_split(host, '.') AS ls FROM h)
         SELECT doc_id, host FROM s
         WHERE NOT list_has_any(
           list_transform(range(1, len(ls) + 1), i -> array_to_string(ls[i:], '.')),
           ['spamfarm.biz', 'example.com'])""",
    // the engine must sniff REAL encoder output bytes; the mirror knows
    // only which encoder the id routes to
    "q91_sniff_modality" ->
      """SELECT doc_id AS asset_id,
                CASE CAST(doc_id % 5 AS INT)
                     WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/gif'
                     WHEN 2 THEN 'audio/wav' WHEN 3 THEN 'image/jpeg'
                     ELSE 'application/octet-stream' END AS sniffed
         FROM documents""",
    "q32_topk_per_group" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
         CAST(row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rank
         FROM orders QUALIFY rank <= 3""",
    "q33_left_join_agg" ->
      s"""SELECT c_mktsegment,
         COUNT(DISTINCT c_custkey) AS n_cust,
         COUNT(o_orderkey) AS n_orders,
         ${DSUM("o_totalprice")} AS sum_price
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY 1""",
    "q34_anti_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_cust
         FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
         GROUP BY 1""",
    "q35_semi_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_cust
         FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
         GROUP BY 1""",
    "q36_recipe_pipeline" ->
      """SELECT l_returnflag AS flag,
         CASE WHEN l_quantity < 25 THEN 'small' ELSE 'large' END AS bucket,
         MEDIAN(l_extendedprice) AS l_extendedprice
         FROM lineitem WHERE l_linestatus NOT IN ('O')
         GROUP BY 1, 2""",
    "q37_recipe_ratio" ->
      """WITH grp AS (
           SELECT l_returnflag, l_linestatus, MEDIAN(l_extendedprice) AS v
           FROM lineitem GROUP BY 1, 2),
         base AS (
           SELECT l_linestatus, MEDIAN(l_extendedprice) AS b
           FROM lineitem WHERE l_returnflag = 'N' GROUP BY 1)
         SELECT grp.l_returnflag, grp.l_linestatus, grp.v / base.b AS Ratio
         FROM grp JOIN base USING (l_linestatus)""",
    "q38_bpe_tokens" ->
      """SELECT lang,
         CAST(SUM(len(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]| ?[^ a-z0-9]+'))) AS BIGINT) AS sum_bpe,
         COUNT(*) AS n_docs
         FROM documents GROUP BY 1""",
    // the same greedy BPE merge loop as graft_bpe_count, re-run as a
    // recursive CTE over the identical merges table: each distinct word
    // is a chr(31)-delimited symbol string; each iteration merges ALL
    // non-overlapping occurrences (replace() is left-greedy, matching
    // the engine's sweep) of the LOWEST-ranked adjacent pair present,
    // until no table pair remains; token count = surviving symbols.
    "q84_bpe_exact" ->
      s"""WITH RECURSIVE
         $BPE_CTE
         SELECT w0.lang,
                CAST(SUM(f.nt) AS BIGINT) AS sum_bpe_exact,
                CAST((SELECT SUM(len($TOKS)) FROM documents d2 WHERE d2.lang = w0.lang) AS BIGINT) AS sum_words,
                (SELECT COUNT(*) FROM documents d3 WHERE d3.lang = w0.lang) AS n_docs
         FROM w0 JOIN final f ON w0.w = f.w
         GROUP BY 1""",

    // full encode mirror: the surviving symbol string in `final` IS the
    // token sequence — split it, count corpus-wide, top-20
    "q127_bpe_tokens" ->
      s"""WITH RECURSIVE
         $BPE_CTE,
         wt AS (SELECT w0.w, f.s FROM w0 JOIN final f ON w0.w = f.w),
         tok AS (SELECT unnest(string_split(trim(s, chr(31)), chr(31))) AS token FROM wt),
         cnt AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY 1)
         SELECT token, n,
                CAST(row_number() OVER (ORDER BY n DESC, token) AS INT) AS rank
         FROM cnt QUALIFY rank <= 20""",

    // ids mirror: same token strings from the CTE, mapped through the
    // identical (deliberately one-short) vocab as a VALUES table;
    // unmapped tokens COALESCE to the -1 sentinel
    // SentencePiece mirror: Metaspace pre-tokens (prepend ▁, spaces→▁,
    // split keeping ▁ on the following piece), the same recursive
    // greedy-merge scaffold as BPE_CTE but over CHARACTER symbols, then
    // vocab lookup where a miss expands to the token's UTF-8 bytes —
    // whose canonical ids ARE the byte values, so the fallback maps
    // straight off hex(encode(tok)). Ids ordered (piece, token, byte).
    "q154_sp_ids" ->
      s"""WITH RECURSIVE
         $SP_IDS_CTES
         SELECT doc_id,
                CAST(len(il) AS BIGINT) AS n_tokens,
                CAST(len(list_filter(il, x -> x < 256)) AS BIGINT)
                  AS n_fallback,
                CAST(list_reduce(list_prepend(0::BIGINT,
                  list_transform(il, x -> CAST(x AS BIGINT))),
                  (a, b) -> a + b) AS BIGINT) AS sum_ids,
                md5(array_to_string(
                  list_transform(il, x -> CAST(x AS VARCHAR)), ',')) AS fp
         FROM per""",

    // SP-driven sequence packing: q154's per-doc ordered id streams
    // fed through q137's packing chain (per-lang exclusive prefix sum,
    // position unroll, 128-token regroup, partial tail dropped). seq
    // rides the window-SUM chain -> CAST AS BIGINT (the round-9
    // HUGEINT/float64 lesson)
    "q157_sp_pack" ->
      s"""WITH RECURSIVE
         $SP_IDS_CTES,
         dids AS (SELECT d.doc_id, d.lang,
                    COALESCE(p.il, CAST([] AS INTEGER[])) || [273] AS ids
                  FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id),
         cum AS (SELECT lang, doc_id, ids,
                   COALESCE(SUM(len(ids)) OVER (PARTITION BY lang
                     ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS strt
                 FROM dids),
         tp AS (SELECT lang, strt + generate_subscripts(ids, 1) - 1 AS pos,
                       unnest(ids) AS id
                FROM cum),
         seqs AS (SELECT lang, CAST(pos // 128 AS BIGINT) AS seq,
                         list(id ORDER BY pos) AS ids
                  FROM tp GROUP BY 1, 2)
         SELECT lang, seq,
                md5(array_to_string(
                  list_transform(ids, x -> CAST(x AS VARCHAR)), ',')) AS fp,
                CAST(list_reduce(list_prepend(0::BIGINT,
                  list_transform(ids, x -> CAST(x AS BIGINT))),
                  (a, b) -> a + b) AS BIGINT) AS sum_ids
         FROM seqs WHERE len(ids) = 128""",
    "q129_bpe_ids" -> {
      val vocabValues = graft.expressions.BpeCodec
        .canonicalVocab(bpeCanonicalMerges).dropRight(1)
        .map { case (t, id) => s"('${t.replace("'", "''")}',$id)" }
        .mkString(",")
      s"""WITH RECURSIVE
         $BPE_CTE,
         vocab(tok, id) AS (VALUES $vocabValues),
         wt AS (SELECT w0.lang, f.s FROM w0 JOIN final f ON w0.w = f.w),
         tokn AS (SELECT lang, unnest(string_split(trim(s, chr(31)), chr(31))) AS tk FROM wt),
         ids AS (SELECT t.lang, COALESCE(v.id, -1) AS id
                 FROM tokn t LEFT JOIN vocab v ON t.tk = v.tok)
         SELECT lang, CAST(SUM(id) AS BIGINT) AS sum_ids, COUNT(*) AS n_tokens,
                CAST(SUM(CASE WHEN id = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unknown
         FROM ids GROUP BY 1"""
    },

    // q85: per-doc exact counts (same recursive merge loop), then the
    // identical prefix-sum binning window as q51
    "q85_pack_exact" ->
      s"""WITH RECURSIVE
         $BPE_CTE,
         perdoc AS (
           SELECT w0.doc_id, SUM(f.nt) AS n
           FROM w0 JOIN final f ON w0.w = f.w GROUP BY 1),
         tc AS (
           SELECT d.lang, d.doc_id, COALESCE(p.n, 0) AS n
           FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id),
         pre AS (
           SELECT lang, doc_id, n,
             COALESCE(SUM(n) OVER (PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
           FROM tc)
         SELECT lang, CAST(FLOOR(prev / 2048) AS BIGINT) AS bin,
                COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS bin_tokens
         FROM pre GROUP BY 1, 2""",
    "q39_rolling_fp" -> {
      val rfp = s"list_reduce(list_prepend(0::BIGINT, list_transform($TOKS, t -> ${H32("t")})), " +
        "(acc, h) -> (acc * 31 + h) % 1000000007)"
      s"""SELECT source,
         COUNT(DISTINCT $rfp) AS n_uniq,
         MIN($rfp) AS min_fp,
         COUNT(*) AS n_docs
         FROM documents GROUP BY 1"""
    },
    "q40_centroids" ->
      """SELECT label, CAST(ord - 1 AS INT) AS dim,
         CAST(round(CAST(SUM(CAST(round(CAST(embedding[ord] AS DOUBLE) * 1000000, 0) AS BIGINT)) AS DOUBLE)
               / COUNT(*), 0) AS BIGINT) / CAST(1000000 AS DOUBLE) AS centroid,
         COUNT(*) AS n_vecs
         FROM (SELECT label, embedding,
                      unnest(range(1, len(embedding) + 1)) AS ord
               FROM embeddings)
         GROUP BY 1, 2""",
    "q41_dedup_keep_first" ->
      """SELECT lang, source, doc_id FROM documents
         QUALIFY row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) = 1""",
    "q42_salted_join" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n_items,
         ${DSUM("l_extendedprice")} AS sum_price
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1""",
    "q43_lsh_topk" ->
      s"""WITH b AS (
           SELECT vec_id AS id, embedding AS v, $SIGNBUCKET AS bkt FROM embeddings),
         s AS (
           SELECT a.id AS query_id, c.id AS neighbor_id, ${COS("a.v", "c.v")} AS cos
           FROM b a JOIN b c ON a.bkt = c.bkt AND a.id <> c.id)
         SELECT query_id, neighbor_id, cos,
                CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
         FROM s QUALIFY rank <= 3""",
    // recomputes the omnisci fixture mapping (ReferenceCorpus: qid=k%25,
    // logid=k%4, exec=1+(k*7)%997, total=exec+k%97) end-to-end
    "q44_corpus_omnisci" ->
      """SELECT event_id % 25 AS queryID, event_id % 4 AS logID,
         AVG(CAST(1 + (event_id * 7) % 997 AS DOUBLE)) AS execution_time_ms,
         AVG(CAST(1 + (event_id * 7) % 997 + event_id % 97 AS DOUBLE)) AS total_time_ms
         FROM events GROUP BY 1, 2""",
    // recomputes the df_clsf fixture mapping + the recipe's pack/
    // precompute/filter-out pipeline from orders
    "q45_corpus_df_clsf" ->
      """WITH r AS (
           SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 3 = 0 THEN 'Native-C-opt' ELSE 'Native-C-base' END AS Prefix,
             (1000 * (1 + (o_orderkey // 3) % 2))::VARCHAR || 'x' ||
               (10 * (1 + (o_orderkey // 6) % 2))::VARCHAR AS Size,
             2 + (o_orderkey // 12) % 4 AS classes,
             CASE WHEN (o_orderkey // 48) % 2 = 0 THEN 'Serial' ELSE 'Parallel' END AS Mode,
             CASE WHEN (o_orderkey // 96) % 2 = 0 THEN 'xeon8280' ELSE 'icelake' END AS Arch,
             CAST(1 + o_orderkey % 97 AS DOUBLE) AS fit,
             CAST(1 + o_orderkey % 89 AS DOUBLE) AS predict
           FROM orders
           WHERE o_orderkey % 3 < 2 AND 2 + (o_orderkey // 12) % 4 NOT IN (2, 3)),
         p AS (
           SELECT Prefix, Size, classes, Mode, Arch, 'df_clsf.fit' AS Function, fit AS Time FROM r
           UNION ALL
           SELECT Prefix, Size, classes, Mode, Arch, 'df_clsf.predict', predict FROM r)
         SELECT Size, classes, Mode, Function, Prefix, Arch, AVG(Time) AS Time
         FROM p GROUP BY 1, 2, 3, 4, 5, 6""",
    // recomputes the full 3-layer DAG: L1 normalized fixture rows from
    // part (blackscholes) / customer (fft), L2 ratio_of (grouped mean vs
    // base mean, joined back per-row), L2 filter-in, L3 filter-out, L4
    // geomean by Domain x Prefix,Mode x Arch (targets.csv rows fall out
    // via groupby-dropna: Domain/Arch are null)
    "q46_corpus_summary_dag" ->
      """WITH bs_rows AS (
           SELECT CASE p_partkey % 3 WHEN 0 THEN 'SVML' WHEN 1 THEN 'VML' ELSE 'numba' END AS Implementation,
                  CASE (p_partkey // 8) % 3 WHEN 0 THEN 16777216 WHEN 1 THEN 1048576 ELSE 2097152 END AS Size,
                  1.0 + (p_partkey % 400) * 0.25 AS MOPS,
                  CASE WHEN p_partkey % 3 < 2 THEN 'Native-C' ELSE 'intelpython3' END AS Prefix,
                  CASE WHEN p_partkey % 3 < 2 THEN
                    (CASE WHEN (p_partkey // 4) % 2 = 0 THEN 'ha' ELSE 'ep' END)
                  ELSE 'ha' END AS Accuracy,
                  CASE WHEN (p_partkey // 2) % 2 = 0 THEN 'Serial' ELSE 'Parallel' END AS Mode,
                  CASE WHEN p_partkey % 2 = 0 THEN 'xeon8280' ELSE 'icelake' END AS Arch
           FROM part),
         bs_grp AS (
           SELECT Prefix, Implementation, Accuracy, Mode, Size, Arch, AVG(MOPS) AS g
           FROM bs_rows GROUP BY ALL),
         bs_base AS (
           SELECT Mode, Size, Arch, AVG(MOPS) AS b FROM bs_rows
           WHERE Prefix = 'Native-C' AND Implementation = 'SVML' AND Accuracy = 'ha'
           GROUP BY ALL),
         bs_out AS (
           SELECT 'Numba' AS Domain, r.Prefix, r.Mode, r.Arch, g.g / b.b AS Ratio
           FROM bs_rows r
           JOIN bs_grp g USING (Prefix, Implementation, Accuracy, Mode, Size, Arch)
           JOIN bs_base b USING (Mode, Size, Arch)
           WHERE r.Size = 16777216 AND r.Implementation = 'numba' AND r.Accuracy = 'ha'),
         fft_rows AS (
           SELECT CASE WHEN c_custkey % 2 = 0 THEN 'fft' ELSE 'rfft' END AS Function,
                  CASE WHEN (c_custkey // 2) % 2 = 1 THEN 'In-place' ELSE 'Out-of-place' END AS Place,
                  CASE WHEN (c_custkey // 4) % 2 = 0 THEN 'Serial' ELSE 'Parallel' END AS Mode,
                  CASE c_custkey % 3 WHEN 0 THEN 'Native-C' WHEN 1 THEN 'intelpython3' ELSE 'stockpython3' END AS Prefix,
                  CASE WHEN (c_custkey // 8) % 2 = 0 THEN 'xeon8280' ELSE 'icelake' END AS Arch,
                  0.5 + (c_custkey % 300) * 0.25 AS Median
           FROM customer),
         fft_grp AS (
           SELECT Prefix, Mode, Function, Arch, Place, AVG(Median) AS g
           FROM fft_rows GROUP BY ALL),
         fft_base AS (
           SELECT Mode, Function, Arch, Place, AVG(Median) AS b FROM fft_rows
           WHERE Prefix = 'Native-C' GROUP BY ALL),
         fft_out AS (
           SELECT 'FFT' AS Domain, r.Prefix, r.Mode, r.Arch, 1.0 / (g.g / b.b) AS Ratio
           FROM fft_rows r
           JOIN fft_grp g USING (Prefix, Mode, Function, Arch, Place)
           JOIN fft_base b USING (Mode, Function, Arch, Place)
           WHERE r.Prefix <> 'Native-C'),
         rng_rows AS (
           SELECT CASE s_suppkey % 3 WHEN 0 THEN 'Native-C'
                    WHEN 1 THEN 'intelpython3' ELSE 'stockpython3' END AS Prefix,
                  CASE s_suppkey % 4 WHEN 0 THEN 'MT19937' WHEN 1 THEN 'MCG31'
                    WHEN 2 THEN 'MT2203' ELSE 'SFMT19937' END AS Brng,
                  CASE s_suppkey % 5 WHEN 0 THEN 'uniform' WHEN 1 THEN 'normal'
                    WHEN 2 THEN 'gamma' WHEN 3 THEN 'beta' ELSE 'lognormal' END AS Function,
                  CASE WHEN (s_suppkey // 8) % 2 = 0 THEN 'xeon8280'
                    ELSE 'icelake' END AS Arch,
                  'Serial' AS Mode,
                  0.5 + (s_suppkey % 100) * 0.25 AS Time
           FROM supplier),
         rng_grp AS (
           SELECT Prefix, Mode, Function, Arch, AVG(Time) AS g
           FROM rng_rows GROUP BY ALL),
         rng_base AS (
           SELECT Mode, Function, Arch, AVG(Time) AS b FROM rng_rows
           WHERE Prefix = 'Native-C' GROUP BY ALL),
         rng_out AS (
           -- ratio computed pre-filter on all brngs; filter-in then keeps
           -- Brng=MT19937 and drops the Native-C base series (drop=false)
           SELECT 'Random' AS Domain, r.Prefix, r.Mode, r.Arch, b.b / g.g AS Ratio
           FROM rng_rows r
           JOIN rng_grp g USING (Prefix, Mode, Function, Arch)
           LEFT JOIN rng_base b USING (Mode, Function, Arch)
           WHERE r.Brng = 'MT19937' AND r.Prefix <> 'Native-C'),
         umn_rows AS (
           SELECT 'Native-C' AS Prefix,
                  CASE WHEN p_partkey % 2 = 0 THEN 'SVML' ELSE 'VML' END AS Implementation,
                  CASE WHEN (p_partkey // 4) % 2 = 0 THEN 16777216 ELSE 1048576 END AS Size,
                  CASE p_partkey % 6 WHEN 0 THEN 'array*array' WHEN 1 THEN 'array+array'
                    WHEN 2 THEN 'array-array' WHEN 3 THEN 'array/array'
                    WHEN 4 THEN 'erf' ELSE 'exp' END AS Function,
                  CASE WHEN (p_partkey // 2) % 2 = 0 THEN 'Serial' ELSE 'Parallel' END AS Mode,
                  CASE WHEN (p_partkey // 8) % 2 = 0 THEN 'xeon8280' ELSE 'icelake' END AS Arch,
                  1.0 + (p_partkey % 80) * 0.25 AS CPE
           FROM part),
         ump_rows AS (
           SELECT CASE WHEN c_custkey % 2 = 0 THEN 'stockpython3' ELSE 'intelpython3' END AS Prefix,
                  CASE c_custkey % 3 WHEN 0 THEN 'numpy' WHEN 1 THEN 'numexpr' ELSE 'numba' END AS Implementation,
                  CASE WHEN (c_custkey // 4) % 2 = 0 THEN 16777216 ELSE 1048576 END AS Size,
                  CASE c_custkey % 6 WHEN 0 THEN 'array*array' WHEN 1 THEN 'array+array'
                    WHEN 2 THEN 'array-array' WHEN 3 THEN 'array/array'
                    WHEN 4 THEN 'erf' ELSE 'exp' END AS Function,
                  CASE WHEN (c_custkey // 2) % 2 = 0 THEN 'Serial' ELSE 'Parallel' END AS Mode,
                  CASE WHEN (c_custkey // 8) % 2 = 0 THEN 'xeon8280' ELSE 'icelake' END AS Arch,
                  2.0 + (c_custkey % 90) * 0.25 AS CPE
           FROM customer),
         arith_rows AS (SELECT * FROM umn_rows UNION ALL SELECT * FROM ump_rows),
         arith_grp AS (
           SELECT Prefix, Implementation, Mode, Size, Function, Arch, AVG(CPE) AS g
           FROM arith_rows GROUP BY ALL),
         arith_base_vml AS (
           SELECT Mode, Size, Function, Arch, AVG(CPE) AS b FROM arith_rows
           WHERE Prefix = 'Native-C' AND Implementation = 'VML' GROUP BY ALL),
         arith_base_svml AS (
           SELECT Mode, Size, Function, Arch, AVG(CPE) AS b FROM arith_rows
           WHERE Prefix = 'Native-C' AND Implementation = 'SVML' GROUP BY ALL),
         mkl_out AS (
           -- arithmetics-mkl filter-in (numpy, numexpr) composed with
           -- indicators filter-out numexpr/stockpython3 -> numpy rows
           SELECT 'Numpy' AS Domain, r.Prefix, r.Mode, r.Arch, b.b / g.g AS Ratio
           FROM arith_rows r
           JOIN arith_grp g USING (Prefix, Implementation, Mode, Size, Function, Arch)
           LEFT JOIN arith_base_vml b USING (Mode, Size, Function, Arch)
           WHERE r.Implementation = 'numpy' AND r.Prefix <> 'stockpython3'),
         numba_out AS (
           SELECT 'Numba' AS Domain, r.Prefix, r.Mode, r.Arch, b.b / g.g AS Ratio
           FROM arith_rows r
           JOIN arith_grp g USING (Prefix, Implementation, Mode, Size, Function, Arch)
           LEFT JOIN arith_base_svml b USING (Mode, Size, Function, Arch)
           WHERE r.Implementation = 'numba' AND r.Prefix <> 'stockpython3'),
         la_funcs(i, fn) AS (VALUES (0, 'Dot'), (1, 'Det'), (2, 'Inv'),
           (3, 'Cholesky'), (4, 'Eig'), (5, 'Lu'), (6, 'Qr'), (7, 'Svd')),
         lap_rows AS (
           SELECT CASE WHEN (event_id // 3) % 2 = 0 THEN 'intelpython3'
                    ELSE 'stockpython3' END AS Prefix,
                  f.fn AS Function,
                  CASE WHEN (event_id // 4) % 2 = 0 THEN 1000 ELSE 2000 END AS Size,
                  CASE WHEN (event_id // 2) % 2 = 0 THEN 'Serial' ELSE 'Parallel' END AS Mode,
                  CASE WHEN (event_id // 8) % 2 = 0 THEN 'xeon8280' ELSE 'icelake' END AS Arch,
                  0.5 + (event_id % 120) * 0.25 AS Time
           FROM events JOIN la_funcs f ON f.i = event_id % 8),
         lan_rows AS (
           SELECT 'Native-C' AS Prefix, f.fn AS Function,
                  CASE WHEN (p_partkey // 4) % 2 = 0 THEN 1000 ELSE 2000 END AS Size,
                  CASE WHEN (p_partkey // 2) % 2 = 0 THEN 'Serial' ELSE 'Parallel' END AS Mode,
                  CASE WHEN (p_partkey // 8) % 2 = 0 THEN 'xeon8280' ELSE 'icelake' END AS Arch,
                  0.25 + (p_partkey % 100) * 0.25 AS Time
           FROM part JOIN la_funcs f ON f.i = p_partkey % 8),
         la_rows AS (SELECT * FROM lap_rows UNION ALL SELECT * FROM lan_rows),
         la_grp AS (
           SELECT Prefix, Function, Size, Mode, Arch, AVG(Time) AS g
           FROM la_rows GROUP BY ALL),
         la_base AS (
           SELECT Function, Size, Mode, Arch, AVG(Time) AS b FROM la_rows
           WHERE Prefix = 'Native-C' GROUP BY ALL),
         la_out AS (
           SELECT 'Linear Algebra' AS Domain, r.Prefix, r.Mode, r.Arch, b.b / g.g AS Ratio
           FROM la_rows r
           JOIN la_grp g USING (Prefix, Function, Size, Mode, Arch)
           LEFT JOIN la_base b USING (Function, Size, Mode, Arch)
           WHERE r.Prefix <> 'Native-C'),
         skp AS (
           SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'intelpython3'
                    ELSE 'stockpython3' END AS Prefix,
                  CASE o_orderkey % 4 WHEN 0 THEN 'kmeans' WHEN 1 THEN 'ridge'
                    WHEN 2 THEN 'linear' ELSE 'distances' END AS Function,
                  CAST(2 + (o_orderkey // 5) % 3 AS VARCHAR) AS Classes,
                  CASE WHEN (o_orderkey // 2) % 3 = 0 THEN 'Serial'
                    ELSE 'Parallel' END AS Mode,
                  CASE WHEN (o_orderkey // 8) % 2 = 0 THEN 'Xeon'
                    ELSE 'icelake' END AS Arch,
                  CAST(0.5 + (o_orderkey % 110) * 0.25 AS DOUBLE) AS Time
           FROM orders WHERE o_orderkey % 7 <> 0 AND o_orderkey % 11 <> 0),
         skn AS (
           SELECT 'Native-C' AS Prefix,
                  CASE s_suppkey % 4 WHEN 0 THEN 'kmeans' WHEN 1 THEN 'ridge'
                    WHEN 2 THEN 'linear' ELSE 'distances' END AS Function,
                  CAST(NULL AS VARCHAR) AS Classes,
                  CASE WHEN (s_suppkey // 2) % 3 = 0 THEN 'Serial'
                    ELSE 'Parallel' END AS Mode,
                  CASE WHEN (s_suppkey // 8) % 2 = 0 THEN 'Xeon'
                    ELSE 'icelake' END AS Arch,
                  CAST(0.25 + (s_suppkey % 90) * 0.25 AS DOUBLE) AS Time
           FROM supplier),
         -- rows entering the indicator ratio: sklearn child (daal4py rows
         -- filtered out BEFORE the ratio), the stock child duplicate
         -- (Mode=Threaded), and the native child
         sk_rows AS (
           SELECT * FROM skp
           UNION ALL
           SELECT Prefix, Function, Classes, 'Threaded' AS Mode, Arch, Time
           FROM skp WHERE Prefix = 'stockpython3'
           UNION ALL
           SELECT * FROM skn),
         sk_grp AS (
           SELECT Prefix, Function, Mode, Arch, MEDIAN(Time) AS g
           FROM sk_rows GROUP BY ALL),
         sk_base AS (
           SELECT Function, Mode, Arch, MEDIAN(Time) AS b FROM sk_rows
           WHERE Prefix = 'Native-C' GROUP BY ALL),
         sk_out AS (
           -- drop = Prefix=='Native-C' or Classes==2 (pandas ==: null
           -- Classes -> False); filter-in drop:[false]
           SELECT 'Scikit-Learn' AS Domain, r.Prefix, r.Mode, r.Arch,
                  b.b / g.g AS Ratio
           FROM sk_rows r
           JOIN sk_grp g USING (Prefix, Function, Mode, Arch)
           LEFT JOIN sk_base b USING (Function, Mode, Arch)
           WHERE r.Prefix <> 'Native-C'
             AND (r.Classes IS NULL OR r.Classes <> '2')),
         skd AS (
           SELECT CASE o_orderkey % 4 WHEN 0 THEN 'kmeans' WHEN 1 THEN 'ridge'
                    WHEN 2 THEN 'linear' ELSE 'distances' END AS Function,
                  CASE WHEN (o_orderkey // 2) % 3 = 0 THEN 'Serial'
                    ELSE 'Parallel' END AS Mode,
                  CASE WHEN (o_orderkey // 8) % 2 = 0 THEN 'Xeon'
                    ELSE 'icelake' END AS Arch,
                  CAST(0.5 + (o_orderkey % 110) * 0.25 AS DOUBLE) AS Time
           FROM orders WHERE o_orderkey % 3 = 0),
         skd_grp AS (
           SELECT Function, Mode, Arch, MEDIAN(Time) AS g FROM skd GROUP BY ALL),
         daal_out AS (
           -- drop = Prefix != 'daal4py' keeps only the daal rows; Prefix
           -- is then overwritten to the constant 'intelpython3'
           SELECT 'daal4py' AS Domain, 'intelpython3' AS Prefix, r.Mode, r.Arch,
                  b.b / g.g AS Ratio
           FROM skd r
           JOIN skd_grp g USING (Function, Mode, Arch)
           LEFT JOIN sk_base b USING (Function, Mode, Arch)),
         clsf_out AS (
           -- the restored sklearn indicator also lists raw/df_clsf: its
           -- 'Native-C-opt'/'-base' prefixes have no exact 'Native-C'
           -- base rows for df_clsf.* functions -> Ratio is null (pandas
           -- aligned-division NaN), and the rows survive the drop filter
           -- (Classes is null there). The other restored children
           -- (pca/svm/logreg/df_regr) are pure 'Native-C' series and die
           -- on drop = Prefix=='Native-C'.
           SELECT DISTINCT 'Scikit-Learn' AS Domain,
                  CASE WHEN o_orderkey % 3 = 0 THEN 'Native-C-opt'
                    ELSE 'Native-C-base' END AS Prefix,
                  CASE WHEN (o_orderkey // 48) % 2 = 0 THEN 'Serial'
                    ELSE 'Parallel' END AS Mode,
                  CASE WHEN (o_orderkey // 96) % 2 = 0 THEN 'xeon8280'
                    ELSE 'icelake' END AS Arch,
                  CAST(NULL AS DOUBLE) AS Ratio
           FROM orders
           WHERE o_orderkey % 3 < 2 AND 2 + (o_orderkey // 12) % 4 NOT IN (2, 3)),
         u AS (
           SELECT * FROM mkl_out
           UNION ALL
           SELECT * FROM numba_out
           UNION ALL
           SELECT * FROM bs_out
           UNION ALL
           SELECT * FROM fft_out WHERE Prefix <> 'stockpython3'
           UNION ALL
           SELECT * FROM rng_out WHERE Prefix <> 'stockpython3'
           UNION ALL
           SELECT * FROM la_out WHERE Prefix <> 'stockpython3'
           UNION ALL
           SELECT * FROM sk_out WHERE Prefix <> 'stockpython3'
           UNION ALL
           SELECT * FROM daal_out
           UNION ALL
           SELECT * FROM clsf_out)
         SELECT Domain, Prefix, Mode, Arch, ROUND(EXP(AVG(LN(Ratio))), 6) AS Ratio
         FROM u GROUP BY 1, 2, 3, 4""",

    // the sqlite fixture is the fixed nation table (see q47 query comment)
    "q47_sqlite_scan" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation",

    // distributed multi-shard scan: 3 identical nation shards — per
    // region 3x the row count, all 3 shard files represented
    "q117_sqlite_glob" ->
      """SELECT n_regionkey, 3 * COUNT(*) AS n_rows,
                CAST(3 AS BIGINT) AS n_shards
         FROM nation GROUP BY n_regionkey""",

    // q22's band construction filtered at Jaccard >= 0.5, transitively
    // closed by a recursive CTE; rep = min reachable id per component,
    // singletons map to themselves
    "q48_dedup_clusters" ->
      s"""$CC_CTE
         SELECT d.doc_id AS id, COALESCE(cc.rep, d.doc_id) AS rep,
                COALESCE(cc.rep, d.doc_id) = d.doc_id AS keep
         FROM documents d LEFT JOIN cc ON cc.id = d.doc_id""",

    // dedup audit: q48's cluster mapping histogrammed by cluster size
    // (n_docs/n_dropped are per-size totals; a mega-cluster row at the
    // tail is the classic loose-threshold symptom)
    "q124_dedup_report" ->
      s"""$CC_CTE,
         m AS (SELECT d.doc_id AS id, COALESCE(cc.rep, d.doc_id) AS rep
               FROM documents d LEFT JOIN cc ON cc.id = d.doc_id),
         cs AS (SELECT rep, COUNT(*) AS cluster_size FROM m GROUP BY rep)
         SELECT cluster_size, COUNT(*) AS n_clusters,
                CAST(COUNT(*) * cluster_size AS BIGINT) AS n_docs,
                CAST(COUNT(*) * (cluster_size - 1) AS BIGINT) AS n_dropped
         FROM cs GROUP BY cluster_size""",

    // HTML extraction: identical page fixture, identical staged
    // extraction (see HTML_CTE); extracted text hash-compared byte-exact
    "q125_html_extract" ->
      s"""WITH $HTML_CTE,
         agg AS (SELECT doc_id, string_agg(txt, chr(10) ORDER BY i)
                   FILTER (WHERE length(txt) >= 15 AND lc <= 0.33::DOUBLE * length(txt)) AS extracted
                 FROM hfull GROUP BY doc_id)
         SELECT p.doc_id, COALESCE(a.extracted, '') AS extracted,
                CAST(length(COALESCE(a.extracted, '')) AS INT) AS n_chars
         FROM pages p LEFT JOIN agg a ON p.doc_id = a.doc_id""",

    "q126_html_blocks" ->
      s"""WITH $HTML_CTE,
         agg AS (SELECT doc_id, COUNT(*) AS n_blocks,
                   COUNT(*) FILTER (WHERE length(txt) >= 15 AND lc <= 0.33::DOUBLE * length(txt)) AS n_kept,
                   SUM(lc) AS link_chars
                 FROM hfull GROUP BY doc_id)
         SELECT p.doc_id, CAST(COALESCE(a.n_blocks, 0) AS INT) AS n_blocks,
                CAST(COALESCE(a.n_kept, 0) AS INT) AS n_kept,
                CAST(COALESCE(a.link_chars, 0) AS BIGINT) AS link_chars
         FROM pages p LEFT JOIN agg a ON p.doc_id = a.doc_id""",

    // WARC round trip: the response bodies ARE the synthetic page
    // bytes — the oracle aggregates the same pages straight from
    // parquet (md5 over identical UTF-8 bytes on both sides)
    "q130_warc_scan" ->
      s"""WITH pages AS (SELECT d.lang, $H_PAGE AS html FROM documents d)
         SELECT lang, COUNT(*) AS n_docs,
                CAST(SUM(octet_length(encode(html))) AS BIGINT) AS sum_bytes,
                COUNT(DISTINCT md5(html)) AS n_uniq_pages,
                MIN(md5(html)) AS min_md5
         FROM pages GROUP BY 1""",

    // capstone mirror: q125's staged extraction, then the shared LANGID
    // routing and q20's fingerprint over the extracted text
    "q131_crawl_pipeline" ->
      s"""WITH $HTML_CTE,
         agg AS (SELECT doc_id, string_agg(txt, chr(10) ORDER BY i)
                   FILTER (WHERE length(txt) >= 15 AND lc <= 0.33::DOUBLE * length(txt)) AS extracted
                 FROM hfull GROUP BY doc_id),
         ex AS (SELECT p.doc_id, COALESCE(a.extracted, '') AS extracted
                FROM pages p LEFT JOIN agg a ON p.doc_id = a.doc_id),
         lg AS (SELECT ${LANGID("extracted")} AS guess,
                       md5(trim(regexp_replace(lower(extracted), '[^a-z0-9]+', ' ', 'g'))) AS fp,
                       length(extracted) AS n_chars
                FROM ex)
         SELECT guess, COUNT(*) AS n_docs, COUNT(DISTINCT fp) AS n_uniq,
                CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         FROM lg GROUP BY 1""",

    // CDX point reads: same page bytes rebuilt from parquet, same md5
    // url slice (the hashBucket mirror), same q130-style aggregates —
    // a mis-addressed or corrupted member diverges the body hashes
    "q143_cdx_fetch" ->
      s"""WITH pages AS (SELECT d.lang,
             'https://corpus.local/' || d.lang || '/'
               || CAST(d.doc_id AS VARCHAR) AS url,
             $H_PAGE AS html
           FROM documents d),
         keep AS (SELECT lang, html FROM pages
                  WHERE ${H60("'cdx' || url")} % 1000000 < 100000)
         SELECT lang, COUNT(*) AS n_docs,
                CAST(SUM(octet_length(encode(html))) AS BIGINT) AS sum_bytes,
                COUNT(DISTINCT md5(html)) AS n_uniq,
                MIN(md5(html)) AS min_md5
         FROM keep GROUP BY 1""",

    // WET loop: q131's staged extraction rebuilt from parquet, grouped
    // by the documents' own lang (the fixture encodes it in the uri)
    "q141_wet_roundtrip" ->
      s"""WITH $HTML_CTE,
         agg AS (SELECT doc_id, string_agg(txt, chr(10) ORDER BY i)
                   FILTER (WHERE length(txt) >= 15 AND lc <= 0.33::DOUBLE * length(txt)) AS extracted
                 FROM hfull GROUP BY doc_id),
         ex AS (SELECT p.doc_id, COALESCE(a.extracted, '') AS extracted
                FROM pages p LEFT JOIN agg a ON p.doc_id = a.doc_id)
         SELECT d.lang, COUNT(*) AS n_docs,
                CAST(SUM(length(extracted)) AS BIGINT) AS sum_chars,
                COUNT(DISTINCT md5(extracted)) AS n_uniq,
                MIN(md5(extracted)) AS min_md5
         FROM ex JOIN documents d ON ex.doc_id = d.doc_id
         GROUP BY 1""",

    // link harvest: same chrome-strip + three-quoting-style href regex
    // (quoted attribute values consumed atomically before href, the
    // quoted forms strip their delimiters) + entity decode, then the
    // shared canonical chain over the exploded hrefs
    "q128_html_links" ->
      s"""WITH pages AS (SELECT doc_id, $H_PAGE AS html FROM documents),
         lraw AS (SELECT doc_id,
             unnest(regexp_extract_all(${H_CHROME("html")},
               '(?is)<a\\b(?:[^>"'']|"[^"]*"|''[^'']*'')*?[ \\t\\n\\x0B\\f\\r]href[ \\t\\n\\x0B\\f\\r]*=[ \\t\\n\\x0B\\f\\r]*("[^"]*"|''[^'']*''|[^ \\t\\n\\x0B\\f\\r"''>]+)', 1)) AS v
           FROM pages),
         lstr AS (SELECT doc_id,
             CASE WHEN v LIKE '"%' OR v LIKE '''%'
                  THEN substr(v, 2, length(v) - 2) ELSE v END AS href
           FROM lraw),
         ldec AS (SELECT ${H_DECODE("href")} AS url FROM lstr),
         ${CANON_CTES("ldec")}
         SELECT curl, COUNT(*) AS n_links FROM s4 GROUP BY 1""",

    // crawl frontier: same canonical chain, absolute-http(s) + host
    // gate, dot-suffix blocklist membership, url dedup with in-link
    // counts, anti-join of the seen set, per-host top-5 window
    "q132_crawl_frontier" ->
      s"""WITH raw AS (
           SELECT unnest([
             'https://host' || CAST(doc_id % 7 AS VARCHAR)
               || '.example/page/' || CAST(doc_id % 50 AS VARCHAR),
             'HTTPS://Host' || CAST(doc_id % 7 AS VARCHAR)
               || '.EXAMPLE:443/page/' || CAST(doc_id % 50 AS VARCHAR)
               || '?utm_source=x#f',
             'https://sub' || CAST(doc_id % 3 AS VARCHAR)
               || '.spam.example/x/' || CAST(doc_id AS VARCHAR),
             '/relative']) AS url
           FROM documents),
         ${CANON_CTES("raw")},
         gate AS (SELECT curl AS url FROM s4
                  WHERE regexp_matches(curl, '^https?://')
                    AND ${HOST_OF("curl")} <> ''),
         hostd AS (SELECT url, ${HOST_OF("url")} AS host FROM gate),
         unblocked AS (
           SELECT url FROM hostd
           WHERE len(list_intersect(
             list_transform(range(1, len(string_split(host, '.')) + 1),
               i -> array_to_string(string_split(host, '.')[i:], '.')),
             ['spam.example'])) = 0),
         agg AS (SELECT url, COUNT(*) AS inlinks FROM unblocked GROUP BY 1),
         seen AS (SELECT DISTINCT
                    'https://host' || CAST(doc_id % 7 AS VARCHAR)
                      || '.example/page/' || CAST(doc_id % 50 AS VARCHAR) AS url
                  FROM documents WHERE doc_id % 50 < 10),
         fresh AS (SELECT a.url, a.inlinks
                   FROM agg a ANTI JOIN seen s ON a.url = s.url)
         SELECT ${HOST_OF("url")} AS host, url, inlinks,
                CAST(row_number() OVER (PARTITION BY ${HOST_OF("url")}
                  ORDER BY inlinks DESC, url ASC) AS INT) AS rank
         FROM fresh QUALIFY rank <= 5""",

    // probe-all IVF == exact brute force: same ground truth as q24
    "q49_ivf_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         s AS (
           SELECT query_id, neighbor_id, ${COS("qv", "cv")} AS cos
           FROM c CROSS JOIN q WHERE query_id <> neighbor_id)
         SELECT query_id, neighbor_id, cos,
                CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
         FROM s QUALIFY rank <= 5""",

    // two unrolled integer-GD iterations: same bucket hash (H32 % 64),
    // same micro-unit arithmetic, same truncating div (// truncates
    // toward zero in DuckDB exactly as `div` does in Spark), same
    // 1/2 learning rate; buckets never touched by any token keep w = 0
    // via the range grid
    "q93_classifier_train" ->
      s"""WITH d AS (
           SELECT doc_id,
                  CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS y,
                  $TOKS AS ws
           FROM documents),
         nn AS (SELECT COUNT(*) AS n FROM documents),
         f AS (
           SELECT doc_id, y, CAST(len(ws) AS BIGINT) AS len,
                  ${H32("tok")} % 64 AS j, COUNT(*) AS cnt
           FROM (SELECT doc_id, y, ws, unnest(ws) AS tok FROM d)
           GROUP BY 1, 2, 3, 4),
         g1 AS (
           SELECT j, SUM(((0 - y * 1000000000000) * cnt) // len) AS sq
           FROM f GROUP BY j),
         w1 AS (
           SELECT j, 0 - (sq // (2 * n * 1000000)) AS w6
           FROM g1 CROSS JOIN nn),
         p2 AS (
           SELECT f.doc_id, ANY_VALUE(f.y) AS y, ANY_VALUE(f.len) AS len,
                  (SUM(COALESCE(w1.w6, 0) * f.cnt) * 1000000)
                    // ANY_VALUE(f.len) - ANY_VALUE(f.y) * 1000000000000 AS r12
           FROM f LEFT JOIN w1 ON f.j = w1.j
           GROUP BY f.doc_id),
         g2 AS (
           SELECT f.j, SUM((p2.r12 * f.cnt) // f.len) AS sq
           FROM f JOIN p2 ON f.doc_id = p2.doc_id
           GROUP BY f.j),
         w2 AS (
           SELECT g2.j,
                  COALESCE(w1.w6, 0) - (g2.sq // (2 * n * 1000000)) AS w6
           FROM g2 LEFT JOIN w1 ON g2.j = w1.j CROSS JOIN nn)
         SELECT CAST(grid.j AS BIGINT) AS bucket,
                CAST(COALESCE(w2.w6, w1.w6, 0) AS BIGINT) AS w6,
                CAST(COALESCE(w2.w6, w1.w6, 0) AS DOUBLE) / 1000000.0 AS weight
         FROM (SELECT unnest(range(0, 64)) AS j) grid
         LEFT JOIN w2 ON grid.j = w2.j
         LEFT JOIN w1 ON grid.j = w1.j""",

    // as-of join, mirrored with the SAME union-and-sweep the engine
    // runs: right rows sort before left rows at an equal timestamp
    // (<= semantics), equal-ts right rows resolve to the max tie id,
    // last_value(IGNORE NULLS) carries the latest click struct forward
    "q94_asof_join" -> ASOF_SQL,

    // the stream-compatible array-lookup form is semantically identical
    // to the sweep (JoinsSpec/StreamingSpec pin it) — one mirror serves
    // both
    "q100_asof_static" -> ASOF_SQL,

    // the tolerance variant: identical sweep, then matches older than
    // 1 hour are nulled as a whole struct (all-or-nothing attachment)
    "q95_asof_tolerance" ->
      s"""WITH r AS (SELECT user_id, ts, event_id, value FROM events
                     WHERE event_type = 'click'),
         l AS (SELECT event_id, ts, user_id, value FROM events
               WHERE event_type = 'purchase'),
         u AS (SELECT user_id, ts AS t, 0 AS side, event_id AS tie,
                      struct_pack(rts := ts, rid := event_id,
                                  rvalue := value) AS pay,
                      NULL::BIGINT AS event_id, NULL::DOUBLE AS value,
                      NULL::TIMESTAMP AS lts
               FROM r
               UNION ALL
               SELECT user_id, ts AS t, 1 AS side, NULL AS tie, NULL AS pay,
                      event_id, value, ts AS lts
               FROM l),
         c AS (SELECT *, last_value(pay IGNORE NULLS) OVER
                  (PARTITION BY user_id ORDER BY t, side, tie
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m0
               FROM u),
         tol AS (SELECT * REPLACE (
                   CASE WHEN epoch_us(lts) - epoch_us(m0.rts)
                          <= 3600000000 THEN m0 END AS m0)
                 FROM c)
         SELECT event_id, lts AS ts, user_id, value, m0.rts AS asof_ts,
                m0.rid AS asof_event_id, m0.rvalue AS asof_value
         FROM tol WHERE side = 1""",

    // trailing RANGE frame over epoch microseconds — inclusive both
    // ends, equal-ts peers all count (the value-based frame contract in
    // both engines); sum through DECIMAL(28,6) = graft.functions.dsum
    "q101_rolling_features" ->
      s"""SELECT event_id, user_id,
         CASE WHEN ts IS NULL THEN NULL ELSE COUNT(*) OVER w END AS n_trailing,
         CASE WHEN ts IS NULL THEN NULL ELSE
           CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE)
         END AS sum_trailing
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""",

    // tf from exploded non-empty tokens, df over the (doc, term) pairs,
    // smoothed idf = ln((N+1)/(df+1)) in double, score rounded to 6,
    // rank ties to the smaller term
    "q102_tfidf_topterms" ->
      s"""WITH tf AS (
           SELECT doc_id, tok AS term, COUNT(*) AS tf
           FROM (SELECT doc_id, unnest($TOKS) AS tok FROM documents)
           WHERE tok <> ''
           GROUP BY 1, 2),
         dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         nn AS (SELECT COUNT(*) AS n FROM documents),
         sc AS (SELECT tf.doc_id, tf.term, tf.tf,
                       ROUND(CAST(tf.tf AS DOUBLE)
                             * ln(CAST(n + 1 AS DOUBLE) / (df + 1)), 6) AS score
                FROM tf JOIN dfreq USING (term) CROSS JOIN nn),
         rk AS (SELECT *, CAST(row_number() OVER
                  (PARTITION BY doc_id ORDER BY score DESC, term)
                  AS INT) AS rank
                FROM sc)
         SELECT doc_id, term, tf, score, rank FROM rk WHERE rank <= 3""",

    // BM25: Lucene idf ln(1 + (N-df+0.5)/(df+0.5)), dl = per-doc token
    // count, avgdl = total tokens / N; k1 = 1.2 mirrored as
    // CAST(1.2 AS DOUBLE) so the IEEE arithmetic matches the engine's
    // lit(k1) bit-for-bit; duplicate query terms count once
    "q103_bm25_topk" ->
      s"""WITH q(query_id, qtext) AS (VALUES
           (1, 'spark window join'),
           (2, 'hash merge sort stream'),
           (3, 'vector column scan scan')),
         qt AS (SELECT DISTINCT query_id, tok AS term FROM
                  (SELECT query_id,
                          unnest(string_split_regex(trim(qtext), '\\s+')) AS tok
                   FROM q)
                WHERE tok <> ''),
         tok AS (SELECT doc_id, tok FROM
                   (SELECT doc_id, unnest($TOKS) AS tok FROM documents)
                 WHERE tok <> ''),
         tf AS (SELECT doc_id, tok AS term, COUNT(*) AS tf
                FROM tok GROUP BY 1, 2),
         dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
         cand AS (SELECT tf.doc_id, tf.term, tf.tf, dl.dl
                  FROM tf JOIN dl USING (doc_id)
                  JOIN (SELECT DISTINCT term FROM qt) USING (term)),
         dfreq AS (SELECT term, COUNT(*) AS df FROM cand GROUP BY 1),
         st AS (SELECT (SELECT COUNT(*) FROM documents) AS n,
                       (SELECT CAST(COUNT(*) AS DOUBLE) FROM tok) AS toks),
         sc AS (SELECT qt.query_id, cand.doc_id,
                       ROUND(SUM(
                         ln(1 + (n - df + 0.5) / (df + 0.5))
                         * cand.tf * (CAST(1.2 AS DOUBLE) + 1.0)
                         / (cand.tf + CAST(1.2 AS DOUBLE)
                            * (0.25 + 0.75 * cand.dl / (toks / n)))), 6) AS score
                FROM cand JOIN dfreq USING (term) JOIN qt USING (term)
                CROSS JOIN st
                GROUP BY 1, 2),
         rk AS (SELECT *, CAST(row_number() OVER
                  (PARTITION BY query_id ORDER BY score DESC, doc_id)
                  AS INT) AS rank
                FROM sc)
         SELECT query_id, doc_id, score, rank FROM rk WHERE rank <= 5""",

    // PMI collocations: adjacent bigrams from the filtered token LIST
    // (index walk mirrors the engine's element_at explode), unigram and
    // total counts over the same lists, pmi = ln((c_ab/B)/((c_a/T)(c_b/T)))
    "q104_pmi_collocations" ->
      s"""WITH tk AS (SELECT list_filter($TOKS, t -> t <> '') AS toks
                      FROM documents),
         uni AS (SELECT tok AS t, COUNT(*) AS c FROM
                   (SELECT unnest(toks) AS tok FROM tk) GROUP BY 1),
         big AS (SELECT toks[i] AS a, toks[i + 1] AS b, COUNT(*) AS c_ab
                 FROM (SELECT toks,
                              unnest(generate_series(1, len(toks) - 1)) AS i
                       FROM tk WHERE len(toks) >= 2)
                 GROUP BY 1, 2 HAVING COUNT(*) >= 20),
         tot AS (SELECT (SELECT CAST(SUM(len(toks)) AS DOUBLE) FROM tk) AS tt,
                        (SELECT CAST(SUM(greatest(len(toks) - 1, 0)) AS DOUBLE)
                         FROM tk) AS bt),
         sc AS (SELECT a, b, c_ab,
                       ROUND(ln((c_ab / bt) /
                                ((ua.c / tt) * (ub.c / tt))), 6) AS pmi
                FROM big JOIN uni ua ON big.a = ua.t
                         JOIN uni ub ON big.b = ub.t
                CROSS JOIN tot)
         SELECT a, b, c_ab, pmi,
                CAST(row_number() OVER (ORDER BY pmi DESC, a, b) AS INT) AS rank
         FROM sc ORDER BY pmi DESC, a, b LIMIT 10""",

    // KMV corpus overlap: bottom-256 distinct 15-nibble md5 shingle
    // hashes per half, union's bottom-256, common fraction; 256 = 2^8
    // keeps n/k binary-exact so the ROUND is bit-stable cross-engine
    "q105_corpus_overlap" ->
      s"""WITH sh AS (SELECT doc_id, unnest($HSHINGLES3) AS h FROM documents),
         sa AS (SELECT DISTINCT h FROM sh WHERE doc_id % 2 = 0
                ORDER BY h LIMIT 256),
         sb AS (SELECT DISTINCT h FROM sh WHERE doc_id % 2 = 1
                ORDER BY h LIMIT 256),
         u AS (SELECT DISTINCT h FROM
                 (SELECT h FROM sa UNION ALL SELECT h FROM sb)
               ORDER BY h LIMIT 256),
         uk AS (SELECT COUNT(*) AS union_k FROM u),
         nc AS (SELECT COUNT(*) AS n_common FROM u
                WHERE h IN (SELECT h FROM sa) AND h IN (SELECT h FROM sb))
         SELECT union_k, n_common,
                ROUND(CASE WHEN union_k = 0 THEN 0.0
                      ELSE n_common / union_k END, 6) AS est_jaccard
         FROM uk CROSS JOIN nc""",

    // leakage-safe split: q48's cluster CTE verbatim, split key = rep
    "q106_leakage_safe_split" ->
      s"""WITH RECURSIVE sh AS (
           SELECT doc_id AS id, $SHINGLES3 AS strsh, $HSHINGLES3 AS sh FROM documents),
         sig AS (
           SELECT id, sh, list_transform(range(0, 12),
             j -> list_min(list_transform(hs, h -> ((j*2+1) * h + (j*7919+104729)) % 2147483647))) AS sig
           FROM (SELECT id, sh, list_transform(strsh, s -> ${H32("s")}) AS hs FROM sh)),
         bands AS (
           SELECT id, sh, r.b,
             ${H60("array_to_string(list_transform(sig[r.b*3+1 : r.b*3+3], x -> x::VARCHAR), ',')")} AS bkey
           FROM sig, range(0, 4) r(b)),
         pairs AS (
           SELECT DISTINCT a.id AS id_a, b.id AS id_b
           FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.id < b.id
           WHERE ${JACC("a.sh", "b.sh")} >= 0.5),
         edges AS (
           SELECT id_a AS u, id_b AS v FROM pairs
           UNION SELECT id_b, id_a FROM pairs),
         reach(id, r) AS (
           SELECT u, u FROM edges
           UNION
           SELECT e.u, rr.r FROM edges e JOIN reach rr ON rr.id = e.v),
         cc AS (SELECT id, min(r) AS rep FROM reach GROUP BY id),
         rep AS (SELECT d.doc_id, COALESCE(cc.rep, d.doc_id) AS rep
                 FROM documents d LEFT JOIN cc ON cc.id = d.doc_id)
         SELECT doc_id, rep,
                CASE WHEN ${H60("'graft' || CAST(rep AS VARCHAR)")} % 10000 < 9000
                     THEN 'train' ELSE 'test' END AS split
         FROM rep""",

    // KMV distinct estimate: bottom-1024 distinct 60-bit shingle hashes,
    // est = (k-1) * 2^60 / kth (exact below k)
    "q107_distinct_estimate" ->
      s"""WITH s AS (SELECT unnest($SHINGLES3) AS s FROM documents),
         h AS (SELECT DISTINCT ${H60("s")} AS h FROM s),
         sk AS (SELECT h FROM h ORDER BY h LIMIT 1024),
         ag AS (SELECT COUNT(*) AS n_sketch, MAX(h) AS kth_hash FROM sk)
         SELECT n_sketch, kth_hash,
                ROUND(CASE WHEN n_sketch < 1024 THEN CAST(n_sketch AS DOUBLE)
                      ELSE 1023.0 * power(2.0, 60) / kth_hash END, 3)
                  AS est_distinct
         FROM ag""",

    // exact heavy hitters: plain GROUP BY + ceil-threshold filter (the
    // Spark side's Misra-Gries candidates + broadcast confirm is exactly
    // this answer, partition-layout-independent)
    "q108_heavy_hitters" ->
      s"""WITH it AS (SELECT unnest($TOKS) AS item FROM documents),
         f AS (SELECT item FROM it WHERE item <> ''),
         n AS (SELECT COUNT(*) AS n_total FROM f),
         c AS (SELECT item, COUNT(*) AS cnt FROM f GROUP BY item)
         SELECT c.item, c.cnt FROM c, n
         WHERE c.cnt >= CEIL(0.005 * n.n_total)""",

    // per-group KMV: global bottom-k DISTINCT hashes per group (the
    // bounded-buffer aggregate computes exactly this), est = the same
    // single multiply+divide as q107
    "q109_group_distinct" ->
      s"""WITH s AS (SELECT lang, unnest($SHINGLES3) AS sh FROM documents),
         d AS (SELECT DISTINCT lang, ${H60("sh")} AS h FROM s),
         r AS (SELECT lang, h,
                      ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rn
               FROM d),
         sk AS (SELECT lang, COUNT(*) AS n, MAX(h) AS kth
                FROM r WHERE rn <= 256 GROUP BY lang)
         SELECT lang, CASE WHEN n < 256 THEN CAST(n AS DOUBLE)
                      ELSE 255.0 * power(2.0, 60) / kth END AS est_distinct
         FROM sk""",

    // grouped binned quantiles: q114's tree with PARTITION BY g windows
    "q115_group_quantiles" ->
      """WITH v AS (SELECT lang AS g, n_chars AS v FROM documents
                    WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
         bnd AS (SELECT g, CASE WHEN v <= 0 THEN 0
                                WHEN v >= 1024 THEN 63
                                ELSE LEAST(63, CAST(FLOOR(((v - 0) * 64)
                                       / (1024 - 0)) AS BIGINT))
                           END AS b FROM v),
         h AS (SELECT g, b, COUNT(*) AS c FROM bnd GROUP BY g, b),
         ct AS (SELECT g, b, c,
                       COALESCE(SUM(c) OVER (PARTITION BY g ORDER BY b
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                         0) AS cum_before,
                       SUM(c) OVER (PARTITION BY g) AS n
                FROM h),
         qs AS (SELECT UNNEST([CAST(0.1 AS DOUBLE), CAST(0.5 AS DOUBLE),
                               CAST(0.9 AS DOUBLE)]) AS q)
         SELECT ct.g, qs.q,
                0 + (ct.b + (qs.q * (ct.n - 1) - ct.cum_before) / ct.c)
                  * (CAST(1024 - 0 AS DOUBLE) / 64) AS est
         FROM qs CROSS JOIN ct
         WHERE qs.q * (ct.n - 1) >= ct.cum_before
           AND qs.q * (ct.n - 1) < ct.cum_before + ct.c""",

    // binned quantiles: identical histogram + cumulative interpolation
    // (integer counts, same IEEE multiply/divide tree; quantile literals
    // CAST to DOUBLE so DuckDB doesn't parse them as DECIMAL)
    "q114_binned_quantiles" ->
      """WITH v AS (SELECT n_chars AS v FROM documents
                    WHERE n_chars IS NOT NULL),
         bnd AS (SELECT CASE WHEN v <= 0 THEN 0
                             WHEN v >= 1024 THEN 63
                             ELSE LEAST(63, CAST(FLOOR(((v - 0) * 64)
                                    / (1024 - 0)) AS BIGINT))
                        END AS b FROM v),
         h AS (SELECT b, COUNT(*) AS c FROM bnd GROUP BY b),
         ct AS (SELECT b, c,
                       COALESCE(SUM(c) OVER (ORDER BY b
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                         0) AS cum_before
                FROM h),
         n AS (SELECT COUNT(*) AS n FROM v),
         qs AS (SELECT UNNEST([CAST(0.1 AS DOUBLE), CAST(0.5 AS DOUBLE),
                               CAST(0.9 AS DOUBLE)]) AS q),
         t AS (SELECT q, q * (n - 1) AS t FROM qs CROSS JOIN n)
         SELECT t.q,
                0 + (ct.b + (t.t - ct.cum_before) / ct.c)
                  * (CAST(1024 - 0 AS DOUBLE) / 64) AS est
         FROM t JOIN ct
           ON t.t >= ct.cum_before AND t.t < ct.cum_before + ct.c""",

    // JSONL scan: the fixture is the documents table itself, so the
    // oracle aggregates the parquet truth directly
    "q113_jsonl_scan" ->
      """SELECT lang, COUNT(*) AS n_docs,
                CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         FROM documents GROUP BY lang""",

    // script profile: length-after-strip counting (RE2 spells the
    // script classes \p{Latin}; the engine's one-pass census reads the
    // same Unicode Script property), same single divides; the ratio
    // columns and the dominance chain are GENERATED from the engine's
    // own scriptOrder list, so tie order lives in exactly one place
    "q123_script_profile" -> {
      val labels = graft.operators.TextAnalysis.scriptOrder.map(_._1)
      val cnts = labels.map { l =>
        s"length(base) - length(regexp_replace(base, '\\p{${l.capitalize}}', '', 'g')) AS $l"
      }.mkString(",\n                 ")
      val ratios = labels.map { l =>
        s"CASE WHEN total = 0 THEN 0.0 ELSE CAST($l AS DOUBLE) / total END AS ${l}_ratio"
      }.mkString(",\n           ")
      val chain = scriptChainSql(identity, l => s"'$l'")
      s"""WITH t AS (
           SELECT doc_id,
                  $SCRIPT_SALT_SQL[CAST(doc_id % ${scriptSaltSamples.length} + 1 AS INT)] AS s
           FROM documents),
         b AS (SELECT doc_id, regexp_replace(s, '\\s', '', 'g') AS base FROM t),
         c AS (SELECT doc_id, length(base) AS total,
                 $cnts,
                 length(base) - length(regexp_replace(base, '[0-9]', '', 'g')) AS digits
               FROM b)
         SELECT doc_id, CAST(total AS BIGINT) AS n_chars,
           $ratios,
           CASE WHEN total = 0 THEN 0.0 ELSE CAST(digits AS DOUBLE) / total END AS digit_ratio,
           CASE WHEN total = 0 THEN 'none'
                $chain
                ELSE 'other' END AS script
         FROM c"""
    },

    // temperature mixture: the SAME float sequence as
    // temperatureRates6 at alpha=0.5 — sqrt(n)/denom*t/n with the
    // weight fold in source-ascending order (list_reduce starts at the
    // first element; Scala's 0.0+w1 == w1 exactly), LEAST-capped,
    // floor-quantized to micro-units — then integer-exact epoch draws
    // (r6 // 1e6 whole copies + the md5-bucket fractional draw)
    "q133_temperature_mix" ->
      s"""WITH cnt AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
         tot AS (SELECT list_reduce(
                   list_transform(list(n ORDER BY source),
                     x -> sqrt(CAST(x AS DOUBLE))), (a, b) -> a + b) AS denom,
                 2.0 * CAST(SUM(n) AS DOUBLE) AS t
                 FROM cnt),
         r AS (SELECT c.source,
                 CAST(FLOOR(LEAST(
                   sqrt(CAST(c.n AS DOUBLE)) / tot.denom * tot.t
                     / CAST(c.n AS DOUBLE),
                   4.0) * 1000000.0) AS BIGINT) AS r6
               FROM cnt c, tot),
         e AS (SELECT d.source, d.doc_id,
                 (r.r6 // 1000000)
                   + CASE WHEN ${H60("'tmix' || CAST(d.doc_id AS VARCHAR)")}
                            % 1000000 < r.r6 % 1000000
                          THEN 1 ELSE 0 END AS c
               FROM documents d JOIN r ON d.source = r.source),
         x AS (SELECT source, unnest(range(0, c)) AS epoch FROM e WHERE c >= 1)
         SELECT source, epoch, COUNT(*) AS n_docs FROM x GROUP BY 1, 2""",

    // indexed-token round trip: the ordered per-doc token-id sequence
    // rebuilt from the shared BPE mirror — w0 restated WITH ordinals
    // (wi = pre-token position, ti = token position inside the
    // pre-token), ids through the FULL canonical vocab, per-doc
    // comma-joined id string hashed exactly as the engine hashes what
    // it read back from the .bin/.idx shards
    "q134_indexed_roundtrip" -> {
      val vocabValues = graft.expressions.BpeCodec
        .canonicalVocab(bpeCanonicalMerges)
        .map { case (t, id) => s"('${t.replace("'", "''")}',$id)" }
        .mkString(",")
      s"""WITH RECURSIVE
         $BPE_CTE,
         vocab(tok, id) AS (VALUES $vocabValues),
         w0o AS (SELECT doc_id, generate_subscripts(ws, 1) AS wi, unnest(ws) AS w
                 FROM (SELECT doc_id, $PRETOKS AS ws FROM documents)),
         wt AS (SELECT w0o.doc_id, w0o.wi, f.s FROM w0o JOIN final f ON w0o.w = f.w),
         tok AS (SELECT doc_id, wi, generate_subscripts(tl, 1) AS ti, unnest(tl) AS tk
                 FROM (SELECT doc_id, wi, str_split(trim(s, chr(31)), chr(31)) AS tl
                       FROM wt)),
         tid AS (SELECT t.doc_id, t.wi, t.ti, COALESCE(v.id, -1) AS id
                 FROM tok t LEFT JOIN vocab v ON t.tk = v.tok),
         perdoc AS (SELECT d.doc_id, COALESCE(i.seqstr, '') AS seqstr,
                           COALESCE(i.n, 0) AS n, COALESCE(i.sumid, 0) AS sumid
                    FROM documents d LEFT JOIN (
                      SELECT doc_id,
                             string_agg(CAST(id AS VARCHAR), ',' ORDER BY wi, ti)
                               AS seqstr,
                             COUNT(*) AS n, SUM(id) AS sumid
                      FROM tid GROUP BY 1) i ON d.doc_id = i.doc_id)
         SELECT COUNT(*) AS n_seqs, CAST(SUM(n) AS BIGINT) AS sum_tokens,
                CAST(SUM(sumid) AS BIGINT) AS sum_ids,
                COUNT(DISTINCT md5(seqstr)) AS n_uniq_seqs,
                MIN(md5(seqstr)) AS min_md5, MAX(md5(seqstr)) AS max_md5
         FROM perdoc"""
    },

    // corpus card: the three gate mirrors composed — q121's quality
    // conjunction, the shared repetition CTEs over unsalted text, the
    // shared C4 clean+gate — joined per doc, counted per source
    "q142_corpus_card" ->
      s"""WITH s AS (SELECT doc_id, text AS sample FROM documents),
         $REP_MIRROR_CTES,
         rk AS (SELECT doc_id, ($REP_GATE) AS rk FROM fin),
         ${GOPHER_CTES("documents")},
         cc AS (SELECT doc_id, ${C4_CLEAN("text")} AS cleaned FROM documents),
         ck AS (SELECT doc_id, ${C4_KEEP("cleaned")} AS ck FROM cc)
         SELECT d.source, COUNT(*) AS n_docs,
                CAST(SUM(CASE WHEN g.gk THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_gopher,
                CAST(SUM(CASE WHEN r.rk THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_repetition,
                CAST(SUM(CASE WHEN c.ck THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_c4,
                CAST(SUM(CASE WHEN g.gk AND r.rk AND c.ck THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_all
         FROM documents d
           JOIN gk g ON d.doc_id = g.doc_id
           JOIN rk r ON d.doc_id = r.doc_id
           JOIN ck c ON d.doc_id = c.doc_id
         GROUP BY 1""",

    // tokenizer fertility: per-lang exact-BPE token sums through the
    // shared mirror, whitespace word and UTF-8 byte sums, one divide
    // per ratio over the exact integer sums
    "q140_tokenizer_fertility" ->
      s"""WITH RECURSIVE
         $BPE_CTE,
         wt AS (SELECT w0.lang, f.nt FROM w0 JOIN final f ON w0.w = f.w),
         tok AS (SELECT lang, CAST(SUM(nt) AS BIGINT) AS sum_tokens
                 FROM wt GROUP BY 1),
         base AS (SELECT lang, COUNT(*) AS n_docs,
                    CAST(SUM(len(list_filter($TOKS, w -> w <> '')))
                      AS BIGINT) AS sum_words,
                    CAST(SUM(octet_length(encode(text))) AS BIGINT)
                      AS sum_bytes
                  FROM documents GROUP BY 1)
         SELECT b.lang, b.n_docs, b.sum_words,
                COALESCE(t.sum_tokens, 0) AS sum_tokens, b.sum_bytes,
                CAST(COALESCE(t.sum_tokens, 0) AS DOUBLE)
                  / CAST(b.sum_words AS DOUBLE) AS fertility,
                CAST(b.sum_bytes AS DOUBLE)
                  / CAST(COALESCE(t.sum_tokens, 0) AS DOUBLE)
                  AS bytes_per_token
         FROM base b LEFT JOIN tok t ON b.lang = t.lang""",

    // C4 rules: same trimmed-line keep predicate (terminal punct class,
    // >=3 whitespace words, no 'javascript'), cleaned text re-joined
    // with chr(10), sentence count via global regexp strip ('g' — Spark
    // replaces globally by default), same page gate
    "q139_c4_rules" -> {
      val keepL = "regexp_matches(l, '[.!?\"]$') AND " +
        "len(list_filter(string_split_regex(l, '\\s+'), w -> w <> '')) >= 3 " +
        "AND NOT contains(lower(l), 'javascript')"
      s"""WITH s AS (SELECT doc_id,
             CASE WHEN doc_id % 5 = 1 THEN text || chr(10) || 'short line'
                    || chr(10) || 'menu home about us contact'
                  WHEN doc_id % 5 = 2 THEN text || chr(10)
                    || 'Please enable javascript to continue viewing.'
                  WHEN doc_id % 5 = 3 THEN text || chr(10)
                    || 'lorem ipsum dolor sit amet consectetur elit.'
                  WHEN doc_id % 5 = 4 THEN text || chr(10)
                    || 'code sample with a brace { inside it.'
                  ELSE text END AS sample
           FROM documents),
         c AS (SELECT doc_id, sample,
                 -- DuckDB's array_to_string([]) is NULL; Spark's
                 -- array_join([]) is '' — pin the Spark semantics
                 COALESCE(array_to_string(list_filter(
                   list_transform(string_split(sample, chr(10)),
                     x -> trim(x)), l -> $keepL), chr(10)), '') AS cleaned
               FROM s),
         m AS (SELECT doc_id,
                 CAST(len(string_split(sample, chr(10))) AS BIGINT) AS n_lines,
                 CASE WHEN length(cleaned) = 0 THEN 0
                   ELSE CAST(len(string_split(cleaned, chr(10))) AS BIGINT)
                   END AS n_kept,
                 CAST(length(cleaned)
                   - length(regexp_replace(cleaned, '[.!?]', '', 'g'))
                   AS BIGINT) AS n_sentences,
                 md5(cleaned) AS fp, cleaned
               FROM c)
         SELECT doc_id, n_lines, n_kept, n_sentences, fp,
                (n_sentences >= 5
                 AND NOT contains(lower(cleaned), 'lorem ipsum')
                 AND NOT contains(cleaned, '{')
                 AND length(cleaned) > 0) AS keep
         FROM m"""
    },

    // Gopher repetition: the same declared contract — non-empty
    // lines/paras/word-ngrams, extra-occurrence chars via sorted
    // adjacency, top n-gram by (count, length) lex argmax, integer
    // counts + single IEEE divides. Scalar list ops for the dup
    // families; one explode-group per top-n family
    "q138_gopher_repetition" ->
      s"""WITH s AS (SELECT doc_id,
             CASE WHEN doc_id % 4 = 1 THEN text || chr(10) || 'line one'
                    || chr(10) || 'line one' || chr(10) || 'line one'
                    || chr(10) || chr(10) || 'par a' || chr(10) || chr(10)
                    || 'par a'
                  WHEN doc_id % 4 = 2
                    THEN 'alpha beta ' || repeat('gamma delta ', 6)
                  WHEN doc_id % 4 = 3 THEN
                    repeat('one two three four five six seven eight nine ten ', 3)
                  ELSE text END AS sample
           FROM documents),
         $REP_MIRROR_CTES
         SELECT doc_id, dup_line_frac, dup_line_char_frac, dup_para_frac,
                dup_para_char_frac, top_2gram_char_frac, top_3gram_char_frac,
                top_4gram_char_frac, dup_5gram_char_frac, dup_6gram_char_frac,
                dup_7gram_char_frac, dup_8gram_char_frac, dup_9gram_char_frac,
                dup_10gram_char_frac,
                ($REP_GATE) AS keep
         FROM fin""",

    // sequence packing: q134's ordered per-doc id rebuild + [288] eos,
    // the same exclusive-prefix-sum offsets (per lang, doc_id order),
    // token positions unrolled, sequences regrouped by pos // 128 with
    // position-ordered lists, partial tail dropped
    "q137_pack_sequences" -> {
      val vocabValues = graft.expressions.BpeCodec
        .canonicalVocab(bpeCanonicalMerges)
        .map { case (t, id) => s"('${t.replace("'", "''")}',$id)" }
        .mkString(",")
      s"""WITH RECURSIVE
         $BPE_CTE,
         vocab(tok, id) AS (VALUES $vocabValues),
         w0o AS (SELECT doc_id, generate_subscripts(ws, 1) AS wi, unnest(ws) AS w
                 FROM (SELECT doc_id, $PRETOKS AS ws FROM documents)),
         wt AS (SELECT w0o.doc_id, w0o.wi, f.s FROM w0o JOIN final f ON w0o.w = f.w),
         tok AS (SELECT doc_id, wi, generate_subscripts(tl, 1) AS ti, unnest(tl) AS tk
                 FROM (SELECT doc_id, wi, str_split(trim(s, chr(31)), chr(31)) AS tl
                       FROM wt)),
         tid AS (SELECT t.doc_id, t.wi, t.ti, COALESCE(v.id, -1) AS id
                 FROM tok t LEFT JOIN vocab v ON t.tk = v.tok),
         dids AS (SELECT d.doc_id, d.lang,
                    COALESCE(i.ids, CAST([] AS INTEGER[])) || [288] AS ids
                  FROM documents d LEFT JOIN (
                    SELECT doc_id, list(id ORDER BY wi, ti) AS ids
                    FROM tid GROUP BY 1) i ON d.doc_id = i.doc_id),
         cum AS (SELECT lang, doc_id, ids,
                   COALESCE(SUM(len(ids)) OVER (PARTITION BY lang
                     ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS strt
                 FROM dids),
         tp AS (SELECT lang, strt + generate_subscripts(ids, 1) - 1 AS pos,
                       unnest(ids) AS id
                FROM cum),
         seqs AS (SELECT lang, CAST(pos // 128 AS BIGINT) AS seq,
                         list(id ORDER BY pos) AS ids
                  FROM tp GROUP BY 1, 2)
         SELECT lang, seq,
                md5(array_to_string(
                  list_transform(ids, x -> CAST(x AS VARCHAR)), ',')) AS fp,
                CAST(list_reduce(list_prepend(0::BIGINT,
                  list_transform(ids, x -> CAST(x AS BIGINT))),
                  (a, b) -> a + b) AS BIGINT) AS sum_ids
         FROM seqs WHERE len(ids) = 128"""
    },

    // safetensors loop: the same per-vector left-fold double sum off
    // the parquet table the fixture exported (identical IEEE op
    // sequence -> bit-identical per vector), then the proven
    // decimal-of-double dsum across vectors; id/label/element-count
    // sums integer-exact
    "q136_safetensors_roundtrip" ->
      s"""WITH e AS (SELECT vec_id, label, len(embedding) AS d,
                list_reduce(list_prepend(0.0::DOUBLE,
                  list_transform(embedding, y -> CAST(y AS DOUBLE))),
                  (a, b) -> a + b) AS vs
              FROM embeddings)
         SELECT vec_id % 8 AS g, COUNT(DISTINCT vec_id) AS n_vecs,
                CAST(SUM(d) AS BIGINT) AS n_elems,
                CAST(SUM(vec_id) AS BIGINT) AS sum_ids,
                CAST(SUM(label) AS BIGINT) AS sum_labels,
                ${DSUM("vs")} AS sum_x
         FROM e GROUP BY 1""",

    // robots gate: the fixture rules hand-compiled to their RFC 9309
    // outcomes (the SPEC pins the general matcher; this mirror pins the
    // fixture's decisions). hosts 0-2: graftbot's named group only —
    // /page/4* blocked except the longer Allow /page/44$; hosts 3-4:
    // Disallow /*/1 loses to the longer Allow /page/1$ on the exact
    // path, /page/33 blocked by its $-anchored rule; host 5: empty-rule
    // named group = unrestricted; host 6: no robots row = allowed
    "q135_robots_gate" ->
      s"""WITH u AS (SELECT
             'host' || CAST(doc_id % 7 AS VARCHAR) || '.example' AS host,
             '/page/' || CAST(doc_id % 50 AS VARCHAR) AS path,
             'https://host' || CAST(doc_id % 7 AS VARCHAR) || '.example/page/'
               || CAST(doc_id % 50 AS VARCHAR) AS url,
             doc_id % 7 AS h
           FROM documents),
         k AS (SELECT host, url FROM u WHERE
            CASE WHEN h <= 2
                   THEN (path NOT LIKE '/page/4%') OR path = '/page/44'
                 WHEN h IN (3, 4)
                   THEN (NOT regexp_matches(path, '^/.*/1')
                         OR path = '/page/1') AND path <> '/page/33'
                 ELSE true END)
         SELECT host, COUNT(*) AS n_allowed, COUNT(DISTINCT url) AS n_uniq,
                MIN(url) AS min_url, MAX(url) AS max_url
         FROM k GROUP BY 1""",

    // mixture upsample: same rate table (10 capped at 8), same md5
    // fractional-epoch predicate, copies unrolled via range()
    "q122_mixture_upsample" ->
      s"""WITH r AS (SELECT doc_id, source,
             CASE WHEN source = 'src0' THEN 3.5
                  WHEN source = 'src1' THEN 2.25
                  WHEN source = 'src2' THEN 8.0
                  ELSE 1.0 END AS rate
           FROM documents),
         e AS (SELECT doc_id, source,
             CAST(FLOOR(rate) AS BIGINT)
               + CASE WHEN ${H60("'epoch' || CAST(doc_id AS VARCHAR)")}
                        % 1000000
                      < CAST((rate - FLOOR(rate)) * 1000000 AS BIGINT)
                      THEN 1 ELSE 0 END AS copies
           FROM r)
         SELECT doc_id, source, unnest(range(0, copies)) AS epoch FROM e""",

    // Gopher rules: same integer counts (fold with a prepended 0 so the
    // empty-word case reduces like Spark's init-0 aggregate), single
    // divides, same thresholds
    "q121_gopher_rules" ->
      s"""WITH t AS (
           SELECT doc_id, text,
                  list_filter($TOKS, w -> w <> '') AS ws,
                  string_split(text, chr(10)) AS lines
           FROM documents),
         sig AS (
           SELECT doc_id,
             len(ws) AS n_words,
             list_reduce(list_prepend(0, list_transform(ws, w -> length(w))),
               (a, b) -> a + b) AS sum_len,
             (length(text) - length(replace(text, '#', '')))
               + (length(text) - length(replace(text, '...', ''))) / 3
               AS symbols,
             len(lines) AS n_lines,
             len(list_filter(lines, l -> regexp_matches(l, '^[-*•]')))
               AS bullets,
             len(list_filter(lines, l -> regexp_matches(l, '\\.\\.\\.${"$"}')))
               AS ells,
             len(list_filter(ws, w -> regexp_matches(w, '[a-zA-Z]')))
               AS alphas,
             len(list_filter(ws, w -> list_contains(
               ['the','a','of','and','to','in','is','on','for','with'],
               lower(w)))) AS stops
           FROM t),
         out AS (
           SELECT doc_id,
             CAST(n_words AS BIGINT) AS n_words,
             CASE WHEN n_words = 0 THEN 0.0
                  ELSE CAST(sum_len AS DOUBLE) / n_words END AS mean_word_len,
             CASE WHEN n_words = 0 THEN 0.0
                  ELSE CAST(symbols AS DOUBLE) / n_words END
               AS symbol_word_ratio,
             CAST(bullets AS DOUBLE) / n_lines AS bullet_line_frac,
             CAST(ells AS DOUBLE) / n_lines AS ellipsis_line_frac,
             CASE WHEN n_words = 0 THEN 0.0
                  ELSE CAST(alphas AS DOUBLE) / n_words END AS alpha_word_frac,
             CAST(stops AS BIGINT) AS n_stop_hits
           FROM sig)
         SELECT *,
           (n_words >= 50 AND n_words <= 100000
            AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
            AND symbol_word_ratio <= 0.1
            AND bullet_line_frac <= 0.9
            AND ellipsis_line_frac <= 0.3
            AND alpha_word_frac >= 0.8
            AND n_stop_hits >= 2) AS keep
         FROM out""",

    // canonical URLs: the identical regexp chain (anchored passes need no
    // flag; the three interior-utm passes take 'g' to match Spark's
    // always-global regexp_replace; DuckDB backrefs are \1-style)
    "q120_url_canonical" ->
      s"""WITH u AS (
           SELECT doc_id, unnest([
             'https://example' || CAST(doc_id % 7 AS VARCHAR) || '.com'
               || '/Page/' || CAST(doc_id AS VARCHAR),
             'HTTPS://Example' || CAST(doc_id % 7 AS VARCHAR) || '.COM:443'
               || '/Page/' || CAST(doc_id AS VARCHAR)
               || '/?utm_source=x&utm_medium=y#frag']) AS url
           FROM documents),
         ${CANON_CTES("u")}
         SELECT ${HOST_OF("curl")} AS host,
                COUNT(*) AS n_raw,
                COUNT(DISTINCT curl) AS n_canonical
         FROM s4 GROUP BY 1""",

    // key skew: exact per-key counts, integer sums, final IEEE divides
    // (ties in the top-10 leg broken by key value on both sides)
    "q112_key_skew" ->
      s"""WITH c AS (SELECT CAST(user_id AS VARCHAR) AS k, COUNT(*) AS c
                     FROM events WHERE user_id IS NOT NULL GROUP BY 1),
         s AS (SELECT CAST(SUM(c) AS BIGINT) AS n_rows,
                      COUNT(*) AS n_keys,
                      MAX(c) AS max_key_rows,
                      CAST(SUM(c * (c - 1)) AS BIGINT) AS p2
               FROM c),
         t AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS top10_rows
               FROM (SELECT c FROM c ORDER BY c DESC, k ASC LIMIT 10))
         SELECT n_rows, n_keys, max_key_rows,
                CAST(max_key_rows AS DOUBLE) / n_rows AS top1_share,
                CAST(top10_rows AS DOUBLE) / n_rows AS top10_share,
                CASE WHEN n_rows > 1
                     THEN CAST(p2 AS DOUBLE) /
                          (CAST(n_rows AS DOUBLE) * (CAST(n_rows AS DOUBLE) - 1))
                     ELSE 0.0 END AS collision_prob
         FROM s CROSS JOIN t""",

    // overlap matrix: per-source bottom-256 distinct-hash sketches, per
    // pair the union's bottom-256 and the KMV Jaccard numerator — the
    // q105 estimator per (a, b) with a < b
    "q111_overlap_matrix" ->
      s"""WITH sh AS (SELECT source, unnest($HSHINGLES3) AS h FROM documents),
         d AS (SELECT DISTINCT source, h FROM sh),
         r AS (SELECT source, h,
                      ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
               FROM d),
         sk AS (SELECT source, h FROM r WHERE rn <= 256),
         pairs AS (SELECT a.source AS sa, b.source AS sb
                   FROM (SELECT DISTINCT source FROM documents) a,
                        (SELECT DISTINCT source FROM documents) b
                   WHERE a.source < b.source),
         uni AS (SELECT DISTINCT p.sa, p.sb, k.h
                 FROM pairs p JOIN sk k ON k.source = p.sa OR k.source = p.sb),
         ur AS (SELECT sa, sb, h,
                       ROW_NUMBER() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
                FROM uni),
         ub AS (SELECT sa, sb, h FROM ur WHERE rn <= 256),
         u2 AS (SELECT sa, sb, COUNT(*) AS union_k FROM ub GROUP BY sa, sb),
         com AS (SELECT ub.sa, ub.sb, COUNT(*) AS n_common
                 FROM ub
                 JOIN sk x ON x.source = ub.sa AND x.h = ub.h
                 JOIN sk y ON y.source = ub.sb AND y.h = ub.h
                 GROUP BY ub.sa, ub.sb)
         SELECT p.sa AS corpus_a, p.sb AS corpus_b,
                COALESCE(u2.union_k, 0) AS union_k,
                COALESCE(com.n_common, 0) AS n_common,
                ROUND(CASE WHEN COALESCE(u2.union_k, 0) = 0 THEN 0.0
                      ELSE COALESCE(com.n_common, 0) / u2.union_k
                      END, 6) AS est_jaccard
         FROM pairs p
         LEFT JOIN u2 ON u2.sa = p.sa AND u2.sb = p.sb
         LEFT JOIN com ON com.sa = p.sa AND com.sb = p.sb""",

    // Z-order key: the identical shift/and/multiply tree, generated from
    // the same code path (Layout.zkeySql)
    "q110_zorder_key" ->
      s"""SELECT doc_id, ${graft.sources.Layout.zkeySql(
            Seq("(n_chars % 2097152)", "(doc_id % 2097152)"), 21)} AS zkey
         FROM documents""",

    // PQ encode: seed books = md5-smallest 8 vectors sliced into 4
    // subspaces, dense code ids in ascending seed-cell order; per
    // (vector, subspace) the argmin of the micro-unit L2² with ties to
    // the smaller code — exactly the packed-long argmin contract
    "q97_pq_codes" ->
      s"""WITH s0 AS (
           SELECT vec_id AS cell, embedding AS c FROM embeddings
           ORDER BY ${H32("CAST(vec_id AS VARCHAR)")}, vec_id
           LIMIT 8),
         bk AS (SELECT row_number() OVER (ORDER BY cell) - 1 AS idx, c FROM s0),
         sv AS (SELECT vec_id, g.sub,
                       list_slice(embedding, g.sub*16 + 1, g.sub*16 + 16) AS a
                FROM embeddings, (SELECT unnest(range(0, 4)) AS sub) g),
         sc AS (SELECT sv.vec_id, sv.sub, bk.idx,
                       ${L2D6("sv.a", "list_slice(bk.c, sv.sub*16 + 1, sv.sub*16 + 16)")} AS d6
                FROM sv CROSS JOIN bk),
         rk AS (SELECT vec_id, sub, idx,
                       row_number() OVER (PARTITION BY vec_id, sub
                                          ORDER BY d6, idx) AS rn
                FROM sc)
         SELECT vec_id, CAST(sub AS INT) AS sub, idx AS code
         FROM rk WHERE rn = 1""",

    // ADC probe: per-query LUT = micro-L2² of the query slice against
    // every codebook entry; candidate distance = exact integer sum of
    // its m code lookups; rank ascending with ties to the smaller id
    "q98_pq_adc_topk" -> PQ_ADC_SQL,

    // IVF-PQ at nprobe = nlist: the coarse-cell restriction passes every
    // candidate through, so the contract is exact equality with the flat
    // ADC scan — one mirror serves both
    "q99_ivfpq_probeall" -> PQ_ADC_SQL,

    // incremental IVF-PQ: append(build(even), odd) probe-all must equal
    // the full-corpus flat ADC — q99's mirror verbatim
    "q116_ivfpq_append" -> PQ_ADC_SQL,

    // embedding preprocessing: the same sequential left-folds; division
    // and the final REAL downcast are single IEEE ops
    "q118_embed_normalize" ->
      s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings)
         SELECT vec_id,
           sqrt(${SUMD("list_transform(v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")}) AS norm,
           CAST(CAST(v[1] AS DOUBLE)
             / sqrt(${SUMD("list_transform(v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")})
             AS REAL) AS u1,
           CAST(CAST(v[1] AS DOUBLE)
             / sqrt(${SUMD("list_transform(v[1:16], x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")})
             AS REAL) AS m16
         FROM e""",

    // mean pooling: q40's micro-exact per-dim mean, assembled in dim
    // order, cosine-scored against the vec_id=0 probe
    "q119_mean_pool" ->
      s"""WITH comp AS (
           SELECT label, CAST(ord - 1 AS INT) AS dim,
             CAST(round(CAST(SUM(CAST(round(CAST(embedding[ord] AS DOUBLE) * 1000000, 0) AS BIGINT)) AS DOUBLE)
                   / COUNT(*), 0) AS BIGINT) / CAST(1000000 AS DOUBLE)
               AS centroid
           FROM (SELECT label, embedding,
                        unnest(range(1, len(embedding) + 1)) AS ord
                 FROM embeddings)
           GROUP BY 1, 2),
         pooled AS (
           SELECT label, list(CAST(centroid AS REAL) ORDER BY dim) AS pv
           FROM comp GROUP BY label),
         probe AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         SELECT p.label, ${COS("p.pv", "qv")} AS cos_probe
         FROM pooled p CROSS JOIN probe""",

    // unkeyed interval containment — the bucketization is internal to
    // the engine, so the mirror is the plain range predicate
    "q96_range_join" ->
      s"""SELECT e.event_id AS err_id, p.event_id AS buy_id, p.ts AS buy_ts
         FROM (SELECT event_id, ts FROM events WHERE event_type = 'error') e
         JOIN (SELECT event_id, ts FROM events WHERE event_type = 'purchase') p
           ON p.ts >= e.ts AND p.ts <= e.ts + INTERVAL 10 MINUTE""",

    // two unrolled Lloyd's iterations: seed order (H32), assignment
    // (argmax 6-decimal COS, ties to smaller cell — the q72 mirror),
    // update (q40's micro-unit exact mean, REAL-cast like the engine's
    // float centroids), empty-cell carry-forward via COALESCE
    "q92_kmeans" ->
      s"""WITH s0 AS (
           SELECT vec_id AS cell, embedding AS c FROM embeddings
           ORDER BY ${H32("CAST(vec_id AS VARCHAR)")}, vec_id
           LIMIT 8),
         a1 AS (
           SELECT e.vec_id, e.embedding AS v,
                  (SELECT s.cell FROM s0 s
                   ORDER BY -${COS("e.embedding", "s.c")}, s.cell LIMIT 1) AS cell
           FROM embeddings e),
         u1c AS (
           SELECT cell, ord,
                  CAST(CAST(round(CAST(SUM(CAST(round(CAST(v[ord] AS DOUBLE) * 1000000, 0) AS BIGINT)) AS DOUBLE)
                       / COUNT(*), 0) AS BIGINT) / CAST(1000000 AS DOUBLE) AS REAL) AS x,
                  COUNT(*) AS n
           FROM (SELECT cell, v, unnest(range(1, len(v) + 1)) AS ord FROM a1)
           GROUP BY 1, 2),
         u1 AS (
           SELECT s0.cell, COALESCE(l.cl, s0.c) AS c
           FROM s0 LEFT JOIN
             (SELECT cell, list(x ORDER BY ord) AS cl FROM u1c GROUP BY cell) l
           USING (cell)),
         a2 AS (
           SELECT e.vec_id, e.embedding AS v,
                  (SELECT s.cell FROM u1 s
                   ORDER BY -${COS("e.embedding", "s.c")}, s.cell LIMIT 1) AS cell
           FROM embeddings e),
         u2c AS (
           SELECT cell, ord,
                  CAST(CAST(round(CAST(SUM(CAST(round(CAST(v[ord] AS DOUBLE) * 1000000, 0) AS BIGINT)) AS DOUBLE)
                       / COUNT(*), 0) AS BIGINT) / CAST(1000000 AS DOUBLE) AS REAL) AS x,
                  COUNT(*) AS n
           FROM (SELECT cell, v, unnest(range(1, len(v) + 1)) AS ord FROM a2)
           GROUP BY 1, 2),
         grid AS (SELECT cell, c, unnest(range(1, len(c) + 1)) AS ord FROM u1)
         SELECT g.cell, CAST(g.ord - 1 AS INT) AS dim,
                CAST(COALESCE(u.x, g.c[g.ord]) AS DOUBLE) AS c,
                CAST(COALESCE(u.n, 0) AS BIGINT) AS n_vecs
         FROM grid g LEFT JOIN u2c u ON u.cell = g.cell AND u.ord = g.ord""",

    // deterministic hash split + subsample: same md5-prefix bucket
    "q50_hash_split" ->
      s"""WITH b AS (
           SELECT lang,
             ${H60("'graft' || CAST(doc_id AS VARCHAR)")} % 10000 AS bkt,
             ${H60("'graft' || CAST(doc_id AS VARCHAR)")} % 1000000 AS sbkt
           FROM documents),
         labeled AS (
           SELECT CASE WHEN bkt < 8000 THEN 'train'
                       WHEN bkt < 9000 THEN 'val' ELSE 'test' END AS split,
                  lang, sbkt FROM b),
         unioned AS (
           SELECT split, lang FROM labeled
           UNION ALL
           SELECT 'train_20pct' AS split, lang FROM labeled
           WHERE split = 'train' AND sbkt < 200000)
         SELECT split, lang, COUNT(*) AS n_docs
         FROM unioned GROUP BY 1, 2""",

    // recomputes the sklearn_python+daal4py fixture mapping (drop-rule
    // rows removed, Classes as the engine's coalesce-promoted string)
    "q58_corpus_sklearn" ->
      """WITH p AS (
           SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'intelpython3'
                    ELSE 'stockpython3' END AS Prefix,
                  CASE o_orderkey % 4 WHEN 0 THEN 'kmeans' WHEN 1 THEN 'ridge'
                    WHEN 2 THEN 'linear' ELSE 'distances' END AS Function,
                  CAST(CASE WHEN (o_orderkey // 4) % 2 = 0 THEN 10000
                    ELSE 20000 END AS BIGINT) AS Size,
                  CAST(2 + (o_orderkey // 5) % 3 AS VARCHAR) AS Classes,
                  CASE WHEN (o_orderkey // 2) % 3 = 0 THEN 'Serial'
                    ELSE 'Parallel' END AS Mode,
                  CASE WHEN (o_orderkey // 8) % 2 = 0 THEN 'Xeon'
                    ELSE 'icelake' END AS Arch,
                  -- DOUBLE, not decimal: DuckDB MEDIAN(DECIMAL) picks the
                  -- lower middle instead of interpolating
                  CAST(0.5 + (o_orderkey % 110) * 0.25 AS DOUBLE) AS Time,
                  o_orderkey AS k
           FROM orders),
         r AS (
           SELECT Prefix, Function, Size, Classes, Mode, Arch, Time
           FROM p WHERE k % 7 <> 0 AND k % 11 <> 0
           UNION ALL
           SELECT 'daal4py', Function, Size, Classes, Mode, Arch, Time
           FROM p WHERE k % 3 = 0)
         SELECT Prefix, Function, Size, Classes, Mode, Arch,
                MEDIAN(Time) AS Time
         FROM r GROUP BY 1, 2, 3, 4, 5, 6""",

    // blackscholes.yml top-level: the 3-kwarg ratio (grp mean / base mean
    // where base = Native-C+SVML+ha), then the Parallel/2097152/ha slice;
    // mean over identical per-row ratios == the ratio itself
    "q59_corpus_bs_summary" ->
      """WITH r AS (
           SELECT CASE p_partkey % 3 WHEN 0 THEN 'SVML' WHEN 1 THEN 'VML' ELSE 'numba' END AS Implementation,
                  CAST(CASE (p_partkey // 8) % 3 WHEN 0 THEN 16777216 WHEN 1 THEN 1048576 ELSE 2097152 END AS BIGINT) AS Size,
                  1.0 + (p_partkey % 400) * 0.25 AS MOPS,
                  CASE WHEN p_partkey % 3 < 2 THEN 'Native-C' ELSE 'intelpython3' END AS Prefix,
                  CASE WHEN p_partkey % 3 < 2 THEN
                    (CASE WHEN (p_partkey // 4) % 2 = 0 THEN 'ha' ELSE 'ep' END)
                  ELSE 'ha' END AS Accuracy,
                  CASE WHEN (p_partkey // 2) % 2 = 0 THEN 'Serial' ELSE 'Parallel' END AS Mode,
                  CASE WHEN p_partkey % 2 = 0 THEN 'xeon8280' ELSE 'icelake' END AS Arch
           FROM part),
         grp AS (
           SELECT Prefix, Implementation, Accuracy, Size, Mode, Arch, AVG(MOPS) AS g
           FROM r GROUP BY ALL),
         base AS (
           SELECT Size, Mode, Arch, AVG(MOPS) AS b FROM r
           WHERE Prefix = 'Native-C' AND Implementation = 'SVML' AND Accuracy = 'ha'
           GROUP BY ALL)
         SELECT g.Size, g.Prefix, g.Implementation, g.Accuracy, g.Mode, g.Arch,
                ROUND(g.g / b.b, 6) AS Efficiency
         FROM grp g LEFT JOIN base b USING (Size, Mode, Arch)
         WHERE g.Mode = 'Parallel' AND g.Size = 2097152 AND g.Accuracy = 'ha'""",

    // recomputes the svm fixture mapping (Native-C lines kept, IntelPython
    // lines match no filter rule) + rename -> pack -> mean
    "q60_corpus_svm" ->
      """WITH r AS (
           SELECT (1000 * (1 + (c_custkey // 3) % 2))::VARCHAR || 'x' ||
                    (10 * (1 + (c_custkey // 6) % 2))::VARCHAR AS Size,
                  2 + (c_custkey // 12) % 4 AS classes,
                  10 * (1 + (c_custkey // 6) % 2) AS features,
                  CASE WHEN (c_custkey // 24) % 2 = 0 THEN 'Serial' ELSE 'Parallel' END AS Mode,
                  'Native-C' AS Prefix,
                  CASE WHEN (c_custkey // 48) % 2 = 0 THEN 'xeon8280' ELSE 'icelake' END AS Arch,
                  CAST(1 + c_custkey % 97 AS DOUBLE) AS fit,
                  CAST(1 + c_custkey % 89 AS DOUBLE) AS predict
           FROM customer WHERE c_custkey % 3 < 2),
         p AS (
           SELECT Size, classes, features, Mode, 'SVM.fit' AS Function, Prefix, Arch, fit AS Time FROM r
           UNION ALL
           SELECT Size, classes, features, Mode, 'SVM.predict', Prefix, Arch, predict FROM r)
         SELECT Size, classes, features, Mode, Function, Prefix, Arch, AVG(Time) AS Time
         FROM p GROUP BY 1, 2, 3, 4, 5, 6, 7""",

    // recomputes the logreg fixture mapping: '@' lines dropped, junk-
    // prefix lines match no rule, newton-cg filtered in, classes 2/3 out
    "q61_corpus_logreg" ->
      """WITH r AS (
           SELECT (1000 * (1 + (o_orderkey // 3) % 2))::VARCHAR || 'x' ||
                    (10 * (1 + (o_orderkey // 6) % 2))::VARCHAR AS Size,
                  2 + (o_orderkey // 12) % 4 AS classes,
                  CASE WHEN (o_orderkey // 24) % 2 = 0 THEN 'Serial' ELSE 'Parallel' END AS Mode,
                  'lbfgs' AS solver,
                  'Native-C' AS Prefix,
                  CASE WHEN (o_orderkey // 96) % 2 = 0 THEN 'xeon8280' ELSE 'icelake' END AS Arch,
                  CAST(1 + o_orderkey % 101 AS DOUBLE) AS fit,
                  CAST(1 + o_orderkey % 83 AS DOUBLE) AS predict
           FROM orders
           WHERE o_orderkey % 4 < 3 AND o_orderkey % 5 <> 0
             AND 2 + (o_orderkey // 12) % 4 NOT IN (2, 3)),
         p AS (
           SELECT Size, classes, Mode, 'LogReg.fit' AS Function, solver, Prefix, Arch, fit AS Time FROM r
           UNION ALL
           SELECT Size, classes, Mode, 'LogReg.predict', solver, Prefix, Arch, predict FROM r)
         SELECT Size, classes, Mode, Function, solver, Prefix, Arch, AVG(Time) AS Time
         FROM p GROUP BY 1, 2, 3, 4, 5, 6, 7""",

    // recomputes the df_regr fixture mapping; threads mixes 'Serial' and
    // '16' so Mode keys off the string disjunct
    "q62_corpus_df_regr" ->
      """WITH r AS (
           SELECT (1000 * (1 + (p_partkey // 3) % 2))::VARCHAR || 'x' ||
                    (10 * (1 + (p_partkey // 6) % 2))::VARCHAR AS Size,
                  CASE WHEN (p_partkey // 24) % 2 = 0 THEN 'Serial' ELSE 'Parallel' END AS Mode,
                  'Native-C' AS Prefix,
                  CASE WHEN (p_partkey // 48) % 2 = 0 THEN 'xeon8280' ELSE 'icelake' END AS Arch,
                  CAST(1 + p_partkey % 91 AS DOUBLE) AS fit,
                  CAST(1 + p_partkey % 79 AS DOUBLE) AS predict
           FROM part WHERE p_partkey % 3 < 2),
         p AS (
           SELECT Size, Mode, 'df_regr.fit' AS Function, Prefix, Arch, fit AS Time FROM r
           UNION ALL
           SELECT Size, Mode, 'df_regr.predict', Prefix, Arch, predict FROM r)
         SELECT Size, Mode, Function, Prefix, Arch, AVG(Time) AS Time
         FROM p GROUP BY 1, 2, 3, 4, 5""",

    // recomputes the pca fixture: the whole svd_solver='daal' FILE (even
    // keys) drops via its .meta sidecar + filter-out; median per combo
    "q63_corpus_pca" ->
      """WITH r AS (
           SELECT CASE WHEN (s_suppkey // 16) % 2 = 0 THEN 'pca.fit' ELSE 'pca.transform' END AS Function,
                  CAST(CASE WHEN (s_suppkey // 4) % 2 = 0 THEN 10000 ELSE 20000 END AS BIGINT) AS Size,
                  'Native-C' AS Prefix,
                  CASE WHEN (s_suppkey // 8) % 2 = 0 THEN 'Xeon' ELSE 'icelake' END AS Arch,
                  CASE WHEN (s_suppkey // 2) % 2 = 0 THEN 'Serial' ELSE 'Parallel' END AS Mode,
                  CAST(0.25 + (s_suppkey % 90) * 0.25 AS DOUBLE) AS Time
           FROM supplier WHERE s_suppkey % 2 = 1)
         SELECT Function, Size, Prefix, Arch, Mode, MEDIAN(Time) AS Time
         FROM r GROUP BY 1, 2, 3, 4, 5""",

    // sklearn.yml top-level: per-row Ratio from the restored sklearn
    // indicator (base median over the native child / group median),
    // sliced to Parallel/Xeon; a group survives iff it has a row with
    // Classes <> '2' (the drop filter is row-level, the ratio isn't)
    "q64_corpus_sklearn_summary" ->
      """WITH skp AS (
           SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'intelpython3'
                    ELSE 'stockpython3' END AS Prefix,
                  CASE o_orderkey % 4 WHEN 0 THEN 'kmeans' WHEN 1 THEN 'ridge'
                    WHEN 2 THEN 'linear' ELSE 'distances' END AS Function,
                  CAST(2 + (o_orderkey // 5) % 3 AS VARCHAR) AS Classes,
                  CASE WHEN (o_orderkey // 2) % 3 = 0 THEN 'Serial'
                    ELSE 'Parallel' END AS Mode,
                  CASE WHEN (o_orderkey // 8) % 2 = 0 THEN 'Xeon'
                    ELSE 'icelake' END AS Arch,
                  CAST(0.5 + (o_orderkey % 110) * 0.25 AS DOUBLE) AS Time
           FROM orders WHERE o_orderkey % 7 <> 0 AND o_orderkey % 11 <> 0),
         skn AS (
           SELECT CASE s_suppkey % 4 WHEN 0 THEN 'kmeans' WHEN 1 THEN 'ridge'
                    WHEN 2 THEN 'linear' ELSE 'distances' END AS Function,
                  CASE WHEN (s_suppkey // 2) % 3 = 0 THEN 'Serial'
                    ELSE 'Parallel' END AS Mode,
                  CASE WHEN (s_suppkey // 8) % 2 = 0 THEN 'Xeon'
                    ELSE 'icelake' END AS Arch,
                  CAST(0.25 + (s_suppkey % 90) * 0.25 AS DOUBLE) AS Time
           FROM supplier),
         grp AS (
           SELECT Prefix, Function, MEDIAN(Time) AS g FROM skp
           WHERE Mode = 'Parallel' AND Arch = 'Xeon' GROUP BY ALL),
         base AS (
           SELECT Function, MEDIAN(Time) AS b FROM skn
           WHERE Mode = 'Parallel' AND Arch = 'Xeon' GROUP BY ALL),
         sel AS (
           SELECT DISTINCT Prefix, Function FROM skp
           WHERE Mode = 'Parallel' AND Arch = 'Xeon' AND Classes <> '2')
         SELECT g.Function, g.Prefix, 'Xeon' AS Arch, 'Parallel' AS Mode,
                ROUND(b.b / g.g, 6) AS Ratio
         FROM grp g JOIN sel USING (Prefix, Function)
         LEFT JOIN base b USING (Function)""",

    // q64's result plus the A7 fill: expected combos absent from the
    // aggregate become null-Ratio rows, one per observed (Function,
    // Arch, Mode) combo x expected prefix (anti-join mirrors the
    // engine's grid-minus-present construction)
    "q69_corpus_expected_fill" ->
      """WITH skp AS (
           SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'intelpython3'
                    ELSE 'stockpython3' END AS Prefix,
                  CASE o_orderkey % 4 WHEN 0 THEN 'kmeans' WHEN 1 THEN 'ridge'
                    WHEN 2 THEN 'linear' ELSE 'distances' END AS Function,
                  CAST(2 + (o_orderkey // 5) % 3 AS VARCHAR) AS Classes,
                  CASE WHEN (o_orderkey // 2) % 3 = 0 THEN 'Serial'
                    ELSE 'Parallel' END AS Mode,
                  CASE WHEN (o_orderkey // 8) % 2 = 0 THEN 'Xeon'
                    ELSE 'icelake' END AS Arch,
                  CAST(0.5 + (o_orderkey % 110) * 0.25 AS DOUBLE) AS Time
           FROM orders WHERE o_orderkey % 7 <> 0 AND o_orderkey % 11 <> 0),
         skn AS (
           SELECT CASE s_suppkey % 4 WHEN 0 THEN 'kmeans' WHEN 1 THEN 'ridge'
                    WHEN 2 THEN 'linear' ELSE 'distances' END AS Function,
                  CASE WHEN (s_suppkey // 2) % 3 = 0 THEN 'Serial'
                    ELSE 'Parallel' END AS Mode,
                  CASE WHEN (s_suppkey // 8) % 2 = 0 THEN 'Xeon'
                    ELSE 'icelake' END AS Arch,
                  CAST(0.25 + (s_suppkey % 90) * 0.25 AS DOUBLE) AS Time
           FROM supplier),
         grp AS (
           SELECT Prefix, Function, MEDIAN(Time) AS g FROM skp
           WHERE Mode = 'Parallel' AND Arch = 'Xeon' GROUP BY ALL),
         base AS (
           SELECT Function, MEDIAN(Time) AS b FROM skn
           WHERE Mode = 'Parallel' AND Arch = 'Xeon' GROUP BY ALL),
         sel AS (
           SELECT DISTINCT Prefix, Function FROM skp
           WHERE Mode = 'Parallel' AND Arch = 'Xeon' AND Classes <> '2'),
         res AS (
           SELECT g.Function, g.Prefix, 'Xeon' AS Arch, 'Parallel' AS Mode,
                  ROUND(b.b / g.g, 6) AS Ratio
           FROM grp g JOIN sel USING (Prefix, Function)
           LEFT JOIN base b USING (Function)),
         fills AS (
           SELECT c.Function, e.Prefix, c.Arch, c.Mode,
                  CAST(NULL AS DOUBLE) AS Ratio
           FROM (SELECT DISTINCT Function, Arch, Mode FROM res) c
           CROSS JOIN (VALUES ('StockPython'),('IntelPython'),('Native-C')) e(Prefix)
           ANTI JOIN res r ON c.Function = r.Function AND c.Arch = r.Arch
             AND c.Mode = r.Mode AND e.Prefix = r.Prefix)
         SELECT * FROM res UNION ALL SELECT * FROM fills""",

    // recomputes the umath-native fixture mapping; aggregation: min
    "q57_corpus_umath" ->
      """WITH r AS (
           SELECT 'Native-C' AS Prefix,
                  CASE WHEN p_partkey % 2 = 0 THEN 'SVML' ELSE 'VML' END AS Implementation,
                  CAST(CASE WHEN (p_partkey // 4) % 2 = 0 THEN 16777216
                    ELSE 1048576 END AS BIGINT) AS Size,
                  CASE p_partkey % 6 WHEN 0 THEN 'array*array' WHEN 1 THEN 'array+array'
                    WHEN 2 THEN 'array-array' WHEN 3 THEN 'array/array'
                    WHEN 4 THEN 'erf' ELSE 'exp' END AS Function,
                  CASE WHEN (p_partkey // 2) % 2 = 0 THEN 'Serial' ELSE 'Parallel' END AS Mode,
                  CASE WHEN (p_partkey // 8) % 2 = 0 THEN 'xeon8280' ELSE 'icelake' END AS Arch,
                  1.0 + (p_partkey % 80) * 0.25 AS CPE
           FROM part)
         SELECT Prefix, Implementation, Size, Function, Mode, Arch, MIN(CPE) AS CPE
         FROM r GROUP BY 1, 2, 3, 4, 5, 6""",

    // recomputes the rng fixture mapping + the recipe's precompute
    // overwrites from supplier
    "q53_corpus_rng" ->
      """WITH r AS (
           SELECT CASE s_suppkey % 3 WHEN 0 THEN 'Native-C'
                    WHEN 1 THEN 'intelpython3' ELSE 'stockpython3' END AS Prefix,
                  CASE s_suppkey % 4 WHEN 0 THEN 'numpy'
                    ELSE 'mkl_random' END AS Implementation,
                  CASE s_suppkey % 4 WHEN 0 THEN 'MT19937' WHEN 1 THEN 'MCG31'
                    WHEN 2 THEN 'MT2203' ELSE 'SFMT19937' END AS Brng,
                  CASE s_suppkey % 5 WHEN 0 THEN 'uniform' WHEN 1 THEN 'normal'
                    WHEN 2 THEN 'gamma' WHEN 3 THEN 'beta' ELSE 'lognormal' END AS Dist,
                  CASE WHEN (s_suppkey // 8) % 2 = 0 THEN 'xeon8280'
                    ELSE 'icelake' END AS Arch,
                  0.5 + (s_suppkey % 100) * 0.25 AS Time
           FROM supplier)
         SELECT Prefix, Implementation, Brng, Dist, Arch, AVG(Time) AS Time
         FROM r GROUP BY 1, 2, 3, 4, 5""",

    // token-window chunking: same starts (1, 1+stride, ...), inclusive
    // duckdb list slice ws[i : i+size-1] == Spark slice(ws, i, size)
    "q56_chunking" ->
      s"""WITH starts AS (
           SELECT doc_id, ws,
                  unnest(range(1, greatest(len(ws) - 8, 1) + 1, 24)) AS i
           FROM (SELECT doc_id, $TOKS AS ws FROM documents))
         SELECT doc_id, (i - 1) // 24 AS chunk_id,
                md5(array_to_string(ws[i : i + 31], ' ')) AS chunk_fp,
                CAST(len(ws[i : i + 31]) AS BIGINT) AS n_chunk_tokens
         FROM starts""",

    // end-to-end curation: quality + lang-ID + repetition filter, md5
    // fingerprint keep-first dedup, hash split, per-(split, lang) stats
    "q55_curation" ->
      s"""WITH toks AS (SELECT doc_id, $TOKS AS ws FROM documents),
         t1 AS (
           SELECT doc_id, MAX(cnt) AS top1 FROM (
             SELECT doc_id, u.h, COUNT(*) AS cnt
             FROM toks, unnest(list_transform(ws, s -> ${H60("s")})) u(h)
             GROUP BY 1, 2) GROUP BY 1),
         scored AS (
           SELECT d.doc_id, d.text, $QUALITY AS quality,
             ${LANGID("d.text")} AS guess,
             len($TOKS) AS n_tokens, COALESCE(t1.top1, 0) AS top1
           FROM documents d LEFT JOIN t1 USING (doc_id)),
         kept AS (
           SELECT doc_id, text, n_tokens, guess
           FROM scored
           WHERE quality >= 0.3
             AND guess NOT LIKE 'und%'
             AND ROUND(top1 / n_tokens, 6) <= 0.2),
         deduped AS (
           SELECT * FROM (
             SELECT doc_id, guess, n_tokens, MIN(doc_id) OVER (PARTITION BY
               md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))) AS keep_id
             FROM kept) WHERE doc_id = keep_id),
         labeled AS (
           SELECT CASE WHEN ${H60("'graft' || CAST(doc_id AS VARCHAR)")} % 10000 < 9000
                  THEN 'train' ELSE 'val' END AS split, guess, n_tokens
           FROM deduped)
         SELECT split, guess, COUNT(*) AS n_docs,
                CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
         FROM labeled GROUP BY 1, 2""",

    // repetition signals: top n-gram count via per-doc hash group-count
    // (same md5-60 hashes as the Spark fold -> identical counts)
    "q52_repetition" ->
      s"""WITH base AS (
           SELECT doc_id, $TOKS AS ws FROM documents),
         c1 AS (
           SELECT doc_id, MAX(cnt) AS top1 FROM (
             SELECT doc_id, u.h, COUNT(*) AS cnt
             FROM base, unnest(list_transform(ws, s -> ${H60("s")})) u(h)
             GROUP BY 1, 2) GROUP BY 1),
         c3 AS (
           SELECT doc_id, MAX(cnt) AS top3 FROM (
             SELECT doc_id, u.h, COUNT(*) AS cnt
             FROM base, unnest(list_transform(
               list_transform(range(1, len(ws)-1),
                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]),
               s -> ${H60("s")})) u(h)
             GROUP BY 1, 2) GROUP BY 1),
         j AS (
           SELECT b.doc_id, len(b.ws) AS n_tokens,
                  COALESCE(c1.top1, 0) AS top1, COALESCE(c3.top3, 0) AS top3
           FROM base b LEFT JOIN c1 USING (doc_id) LEFT JOIN c3 USING (doc_id))
         SELECT doc_id, n_tokens, top1, top3,
           ROUND(CASE WHEN n_tokens = 0 THEN 0.0 ELSE top1 / n_tokens END, 6) AS top1_frac,
           ROUND(CASE WHEN n_tokens = 0 THEN 0.0 ELSE (top3 * 3) / n_tokens END, 6) AS top3_frac,
           ROUND(CASE WHEN n_tokens = 0 THEN 0.0 ELSE top1 / n_tokens END, 6) > 0.2 OR
           ROUND(CASE WHEN n_tokens = 0 THEN 0.0 ELSE (top3 * 3) / n_tokens END, 6) > 0.18 AS repetitive
         FROM j""",

    // token-budget packing: exclusive prefix sum over doc_id order per lang
    "q51_pack_budget" ->
      s"""WITH tc AS (
           SELECT lang, doc_id, len($TOKS) AS n FROM documents),
         pre AS (
           SELECT lang, doc_id, n,
             COALESCE(SUM(n) OVER (PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
           FROM tc)
         SELECT lang, CAST(FLOOR(prev / 2048) AS BIGINT) AS bin,
                COUNT(*) AS n_docs
         FROM pre GROUP BY 1, 2"""
  )
}
