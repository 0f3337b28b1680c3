package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Crawl-frontier construction — the second mile of the crawl loop
  * (after [[Html.links]] harvests raw hrefs): turn a corpus-scale pile
  * of harvested links into the deduplicated, policy-filtered,
  * politeness-capped fetch list the next crawl round actually requests.
  * The shape follows the public crawl literature (RefinedWeb §3.1,
  * C4/CCNet's URL hygiene, Heritrix frontier semantics): canonicalize,
  * keep absolute http(s), drop blocklisted registrable suffixes, dedup
  * to unique URLs with an in-link count (the cheap priority signal),
  * remove already-fetched URLs, cap per host.
  *
  * Scale shape (the part that matters at 100 TB of harvested links):
  *   1. canonicalize + scheme/host gate + blocklist — scan-level
  *      codegen'd expressions ([[TextAnalysis.canonicalUrl]] /
  *      [[TextAnalysis.urlHost]] / the [[TextAnalysis.hostSuffixes]]
  *      inlined-array gate), pushed past nothing because they ARE the
  *      first pass;
  *   2. ONE url-keyed exchange for the dedup/in-link aggregate (with
  *      map-side partial counts — the link pile collapses to unique
  *      URLs before it moves);
  *   3. the seen-set anti-join is url-keyed — declared after the
  *      aggregate so it never inflates the shuffle, and because the
  *      join key IS the aggregate key Catalyst is free to re-place it:
  *      the executed plan (Inspect plan q132) pushes a broadcast
  *      LeftAnti BELOW the aggregate, filtering seen URLs before the
  *      shuffle; a corpus-scale seen set degrades to a url-keyed SMJ
  *      anti that reuses the dedup partitioning — either way no second
  *      shuffle of the big side;
  *   4. host is recomputed from the canonical URL AFTER dedup (a pure
  *      regexp on unique rows, cheaper than carrying it through the
  *      shuffle), and the per-host politeness cap is one host-keyed
  *      window that plans as WindowGroupLimit with a PARTIAL pass
  *      before the host exchange — top-k prunes map-side, so at most
  *      cap rows per host per input partition ever move.
  *
  * No reference counterpart — bearysta never crawls; this composes the
  * engine's URL/link machinery into the operator a crawl pipeline
  * needs between harvest and fetch.
  */
object Crawl {

  /** Build the frontier. `links`: one row per harvested href
    * (`urlCol`); `seen`: one column of CANONICAL urls already fetched
    * (pass an empty frame for a fresh crawl); `blocked`: registrable
    * domain suffixes to drop (list-membership of dot-suffixes, the
    * [[TextAnalysis.domainBlocklistFilter]] semantics — bounded,
    * inlined); `perHostCap`: max URLs per host per round, ranked by
    * in-link count descending (ties to the lexicographically smaller
    * URL — deterministic). Returns (host, url, inlinks, rank). */
  def frontier(links: DataFrame, urlCol: String, seen: DataFrame,
               blocked: Seq[String], perHostCap: Int): DataFrame = {
    require(perHostCap >= 1, s"perHostCap must be >= 1, got $perHostCap")
    require(seen.columns.nonEmpty,
      "seen needs ONE column of canonical urls — for a fresh crawl pass " +
        "an empty single-column frame (e.g. Seq.empty[String].toDF(\"url\"))")
    val canon = links
      .select(TextAnalysis.canonicalUrl(col(urlCol)).as("url"))
      .filter(col("url").rlike("^https?://"))
      .filter(TextAnalysis.urlHost(col("url")).isNotNull)
    // null-host rows are already gone, so the blocklist gate's keep-null
    // rule is vacuous here and the semantics stay ONE definition's
    val unblocked =
      if (blocked.isEmpty) canon
      else TextAnalysis.domainBlocklistFilter(canon, "url", blocked)
    val agg = unblocked.groupBy("url").agg(count(lit(1)).as("inlinks"))
    val fresh = agg.join(
      seen.select(col(seen.columns.head).cast("string").as("url")),
      Seq("url"), "left_anti")
    val w = Window.partitionBy("host")
      .orderBy(col("inlinks").desc, col("url").asc)
    fresh
      .select(TextAnalysis.urlHost(col("url")).as("host"),
        col("url"), col("inlinks"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= perHostCap)
  }

  /** Integer-exact PageRank over a link graph — the frontier
    * PRIORITIZATION signal (Page et al. '99; what OPIC/Heritrix-style
    * crawl schedulers rank fetch queues with, and what in-link count —
    * [[frontier]]'s cheap proxy — approximates). Fixed `iterations` of
    * the power method with damping `dampingPct`/100.
    *
    * All arithmetic is SCALED FIXED-POINT over BIGINT (rank mass in
    * units of `scale`/N, floor division at every step), never floating
    * point: integer sums are associative, so the result is bit-stable
    * under any partitioning / aggregation order — the property that
    * makes a distributed rank oracle-comparable at all (a double-summed
    * rank differs in ulps between engines AND between runs). Per
    * iteration: `rank'(u) = teleport + dampingPct * Σ_v→u
    * floor(rank(v)/outdeg(v)) / 100` with `teleport =
    * floor(scale/N) * (100-dampingPct) / 100`; all values non-negative,
    * so truncating and flooring division agree across engines. Dangling
    * nodes (no out-edges — on a real frontier graph, MOST nodes, since
    * unfetched URLs have no harvested links yet) get their mass
    * redistributed: each iteration takes ONE scalar aggregate
    * `D = Σ rank over dangling nodes` and every node's damped share
    * gains `floor(D/N)` — the standard dangling-mass term, kept
    * integer-exact (only the `D mod N` floor residue, < N rank units
    * out of `scale`, still leaks per iteration). Without it total mass
    * decays toward teleport-only and cross-component rank comparisons
    * skew at scale. Multi-edges collapse via distinct; self-loops are
    * kept.
    *
    * Scale shape: the edge list is the only corpus-sized thing and it
    * shuffles ONCE (the distinct + outdeg join, persisted); each
    * iteration is then one src-keyed equi-join (ranks are N-sized, far
    * smaller than edges — AQE broadcasts them under the threshold, and
    * a web-scale N degrades to an SMJ reusing the edge partitioning)
    * plus one dst-keyed partial-aggregated exchange of (node, long).
    * Lineage is cut per iteration with a lazy localCheckpoint, the
    * [[Dedup.connectedComponents]] idiom — without it Catalyst
    * re-analyzes a plan two layers deeper every round.
    *
    * Node ids must be NUMERIC (cast to long): string keys (hosts, urls)
    * are hashed/mapped to ids first — q153 shows the host→id mapping —
    * because a silent string→long cast would null-drop every edge. The
    * guard below fails loudly if the cast lost rows. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int = 5, dampingPct: Int = 85,
               scale: Long = 1000000000000L): DataFrame = {
    require(iterations >= 1 && iterations <= 100,
      s"iterations must be in [1, 100], got $iterations")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be in [0, 100], got $dampingPct")
    require(scale >= 1000000L, s"scale too small for rank resolution: $scale")
    import org.apache.spark.storage.StorageLevel
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct()
    // fail loudly on null node ids (input nulls, or a cast that
    // destroyed a string key) instead of silently dropping their
    // edges. The check is woven into the kept src column — a separate
    // dropped guard column would be pruned before it ever evaluated
    val eChecked = e.select(
      when(col("src").isNull || col("dst").isNull,
        raise_error(lit("pageRank: null node id (non-numeric key cast " +
          "to long?) — map string keys to numeric ids first (see q153)")))
        .otherwise(col("src")).as("src"),
      col("dst"))
    val nodes = eChecked.select(col("src").as("node"))
      .union(eChecked.select(col("dst").as("node")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count()
    require(n > 0, "pageRank needs a non-empty edge list")
    // the dangling set lives in its OWN frame (rather than a has_out
    // flag folded into nodes/ranks): the hot per-iteration joins keep
    // exactly the dangling-free plan shape and cached-frame width, and
    // graphs without dangling nodes skip the term at zero plan cost
    val danglingNodes = nodes
      .join(eChecked.select(col("src").as("node")).distinct(),
        Seq("node"), "left_anti")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // graphs where every node has out-edges (cycles, host graphs) skip
    // the mass term entirely — its share is identically zero
    val nDangling = danglingNodes.count()
    if (nDangling == 0L) danglingNodes.unpersist()
    val base = scale / n
    val teleport = base * (100 - dampingPct) / 100
    val withDeg = eChecked
      .join(eChecked.groupBy("src").agg(count(lit(1)).as("outdeg")), "src")
      .persist(StorageLevel.MEMORY_AND_DISK)
    var ranks = nodes.select(col("node"), lit(base).as("rank"))
    for (_ <- 1 to iterations) {
      // zero-in-degree nodes are kept by UNIONING a zero contribution
      // per node into the aggregation itself rather than left-joining
      // `nodes` back onto the aggregated contributions: the union rides
      // the SAME exchange the aggregation already pays, where the old
      // join added an exchange + join stage per iteration (and an AQE
      // stage-materialization job with it — round-11 job traces showed
      // the per-iteration stage count, not row volume, dominating the
      // local wall). sum(c) over the union equals coalesce(s, 0L)
      // exactly: integer sum, one extra 0 term per node.
      val contrib = withDeg
        .join(ranks, withDeg("src") === ranks("node"))
        .select(col("dst").as("node"), expr("rank div outdeg").as("c"))
        .unionAll(nodes.select(col("node"), lit(0L).as("c")))
        .groupBy("node").agg(sum("c").as("s"))
      val next =
        if (nDangling == 0L)
          contrib.select(col("node"),
            (lit(teleport) +
              expr(s"($dampingPct * s) div 100")).as("rank"))
        else {
          // dangling-mass term: one 1-row aggregate per iteration (long
          // sum — associative, order-independent), floor-divided into an
          // equal share and broadcast-crossJoined into the update. Kept
          // LAZY (a driver-side collect here serializes the iteration
          // pipeline into per-iteration job barriers — measured 1.6x on
          // q144)
          val dShare = ranks.join(danglingNodes, Seq("node"))
            .agg(expr(s"coalesce(sum(rank), 0L) div $n").as("__dshare"))
          contrib.crossJoin(broadcast(dShare))
            .select(col("node"),
              (lit(teleport) +
                expr(s"($dampingPct * (s + __dshare)) div 100"))
                .as("rank"))
        }
      ranks = next.localCheckpoint(false)
    }
    // eager checkpoint before unpersisting: the final iteration's lazy
    // checkpoint hasn't run yet and its plan still joins through
    // `nodes`; materializing here lets the caches be dropped so a
    // long-lived session doesn't accumulate blocks across pageRank calls
    val out = ranks.localCheckpoint()
    nodes.unpersist()
    withDeg.unpersist()
    if (nDangling > 0L) danglingNodes.unpersist()
    out
  }

  /** Integer-exact HITS over a link graph (Kleinberg '99,
    * "Authoritative Sources in a Hyperlinked Environment") — the
    * hub/authority complement to [[pageRank]]: PageRank scores global
    * endorsement flow, HITS separates "points at good pages" (hub)
    * from "is pointed at by good hubs" (authority) — the pair a crawl
    * scheduler uses to find directory/index pages (hubs) worth
    * re-fetching for discovery vs content pages (authorities) worth
    * ranking.
    *
    * Formulation: UNNORMALIZED alternating path counts in pure BIGINT —
    * `hub_0 = 1; auth_i(u) = Σ_{v→u} hub_{i-1}(v); hub_i(u) =
    * Σ_{u→w} auth_i(w)` (the standard sequential update). Integer sums
    * are associative, so the result is bit-stable under any
    * partitioning — the oracle-comparability property [[pageRank]]
    * established. The published per-iteration L2 normalization only
    * RESCALES within an iteration (power iteration is scale-
    * invariant); with a fixed iteration count the integers here are
    * the exact numerators of the normalized scores, and rankings are
    * identical. Overflow is guarded A PRIORI, not detected after the
    * wrap: every value is bounded by dmax^(2·iterations) (hub_0 = 1,
    * each half-step multiplies the bound by ≤ dmax), which is checked
    * in BigInt against Long.MaxValue before any iteration runs — fail
    * loudly with the binding math, never wrap silently. The check
    * costs one aggregate over the already-persisted edge frame.
    *
    * Scale shape = [[pageRank]]'s: the edge list shuffles ONCE
    * (distinct, persisted); each half-iteration is one key-equi join
    * (scores are N-sized — AQE broadcasts under threshold, web-scale N
    * degrades to SMJ reusing the edge partitioning) plus one partial-
    * aggregated (node, long) exchange; lineage cut per iteration with
    * a lazy localCheckpoint. Node ids must be numeric; the same loud
    * null-id guard. Returns (node, auth, hub) — iteration-k values. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iterations: Int = 3): DataFrame = {
    require(iterations >= 1 && iterations <= 30,
      s"iterations must be in [1, 30], got $iterations")
    import org.apache.spark.storage.StorageLevel
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct()
    val eChecked = e.select(
      when(col("src").isNull || col("dst").isNull,
        raise_error(lit("hits: null node id (non-numeric key cast to " +
          "long?) — map string keys to numeric ids first (see q153)")))
        .otherwise(col("src")).as("src"),
      col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = eChecked.select(col("src").as("node"))
      .union(eChecked.select(col("dst").as("node")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // a-priori overflow bound: dmax^(2k) <= Long.Max, checked exactly.
    // One row, two aggregates over the persisted edges — cheap, and it
    // runs ONCE before the loop, not per iteration
    val degRow = eChecked.groupBy("src").agg(count(lit(1)).as("d"))
      .select(col("d"))
      .union(eChecked.groupBy("dst").agg(count(lit(1)).as("d")).select(col("d")))
      .agg(max(col("d"))).head()
    val dmax = if (degRow.isNullAt(0)) 0L else degRow.getLong(0)
    require(dmax > 0, "hits needs a non-empty edge list")
    require(BigInt(dmax).pow(2 * iterations) <= BigInt(Long.MaxValue),
      s"hits: dmax=$dmax over $iterations iterations bounds values by " +
        s"dmax^${2 * iterations} which overflows BIGINT — lower " +
        "iterations (the ranking stabilizes in a handful) or pre-thin " +
        "the super-node edges")
    var hub = nodes.select(col("node"), lit(1L).as("hub"))
    var auth = nodes.select(col("node"), lit(0L).as("auth"))
    for (_ <- 1 to iterations) {
      // zero-fill via union INTO the aggregation, not a nodes left-join
      // after it (the pageRank iteration's rewrite): sum over the union
      // with one 0 term per node equals coalesce(s, 0L) exactly, and
      // each half-step drops a join + exchange (+ its AQE stage job)
      auth = eChecked.join(hub, eChecked("src") === hub("node"))
        .select(col("dst").as("node"), col("hub").as("c"))
        .unionAll(nodes.select(col("node"), lit(0L).as("c")))
        .groupBy("node").agg(sum("c").as("auth"))
        .localCheckpoint(false)
      hub = eChecked.join(auth, eChecked("dst") === auth("node"))
        .select(col("src").as("node"), col("auth").as("c"))
        .unionAll(nodes.select(col("node"), lit(0L).as("c")))
        .groupBy("node").agg(sum("c").as("hub"))
        .localCheckpoint(false)
    }
    val out = auth.join(hub, Seq("node")).localCheckpoint()
    eChecked.unpersist()
    nodes.unpersist()
    out
  }

  /** RFC 9309 politeness gate — the step between frontier and fetch:
    * keep only the `urls` rows `userAgent` may fetch under each host's
    * robots.txt. `robots` is (host, robots.txt content) — ONE row per
    * host, as a robots cache naturally is; a host with no row (or a
    * null body, the fetch-failed convention) is EXPLICITLY allowed via
    * the coalesce, per the RFC's missing-file rule.
    *
    * Scale shape: host/path extraction is scan-level regexp; the join
    * is host-keyed LEFT equi — a robots cache is tiny next to a
    * frontier (one row per host vs thousands of URLs per host), so
    * Catalyst broadcasts it and the frontier NEVER shuffles; the
    * decision itself is [[graft.expressions.RobotsAllowed]] with a
    * per-task parse cache, so each robots file parses once per task,
    * not once per URL. */
  /** Per-host fetch budget for one politeness window — the bridge from
    * robots.txt's declared Crawl-delay to the frontier's per-host cap:
    * `fetch_budget = min(maxPerHost, floor(windowSec / delay))` where
    * `delay` is the host's declared Crawl-delay for `userAgent`
    * ([[TextAnalysis.robotsCrawlDelay]]), coalesced EXPLICITLY to
    * `defaultDelaySec` when the host declares none (the same
    * declared-not-guessed posture as [[robotsFilter]]'s missing-file
    * rule). A delay longer than the window yields budget 0 — the host
    * fetches nothing this round, which is exactly what it asked for.
    * Also surfaces the declared delay itself (NULL when undeclared)
    * and the file-global Sitemap count, so a scheduler can route
    * sitemap-first discovery without re-parsing.
    *
    * Returns (host, crawl_delay_sec, fetch_budget, n_sitemaps) — one
    * row per robots row, scan-level expressions only, no shuffle. */
  def hostFetchBudget(robots: DataFrame, hostCol: String, txtCol: String,
                      userAgent: String, windowSec: Double,
                      defaultDelaySec: Double, maxPerHost: Int): DataFrame = {
    require(windowSec > 0, s"windowSec must be > 0, got $windowSec")
    require(defaultDelaySec > 0,
      s"defaultDelaySec must be > 0, got $defaultDelaySec")
    require(maxPerHost >= 1, s"maxPerHost must be >= 1, got $maxPerHost")
    robots.select(
        col(hostCol).cast("string").as("host"),
        TextAnalysis.robotsCrawlDelay(col(txtCol), userAgent)
          .as("crawl_delay_sec"),
        TextAnalysis.robotsSitemaps(col(txtCol)).as("__sm"))
      .select(col("host"), col("crawl_delay_sec"),
        least(lit(maxPerHost),
          floor(lit(windowSec) /
            coalesce(col("crawl_delay_sec"), lit(defaultDelaySec))))
          .cast("int").as("fetch_budget"),
        coalesce(size(col("__sm")), lit(0)).as("n_sitemaps"))
  }

  /** [[frontier]] with the per-host cap driven by each host's DECLARED
    * Crawl-delay instead of one global constant: the frontier is built
    * with the static `maxPerHost` cap first — a literal rank bound, so
    * the window still plans as WindowGroupLimit with the map-side
    * partial top-k prune — and the per-host dynamic budget
    * ([[hostFetchBudget]]) is applied as a post-filter on the ≤
    * maxPerHost survivors per host. Hosts with no robots row get the
    * default-delay budget via the left join's coalesce. The budget
    * join is host-keyed against a frame with ONE row per host
    * (broadcast-sized next to any frontier).
    *
    * Returns (host, url, inlinks, rank, crawl_delay_sec, fetch_budget,
    * n_sitemaps). */
  def rateLimitedFrontier(links: DataFrame, urlCol: String, seen: DataFrame,
                          blocked: Seq[String], robots: DataFrame,
                          hostCol: String, txtCol: String, userAgent: String,
                          windowSec: Double, defaultDelaySec: Double,
                          maxPerHost: Int): DataFrame = {
    val budget = hostFetchBudget(robots, hostCol, txtCol, userAgent,
      windowSec, defaultDelaySec, maxPerHost)
    val defaultBudget = math.min(maxPerHost.toLong,
      math.floor(windowSec / defaultDelaySec).toLong).toInt
    frontier(links, urlCol, seen, blocked, maxPerHost)
      .join(broadcast(budget), Seq("host"), "left")
      .select(col("host"), col("url"), col("inlinks"), col("rank"),
        col("crawl_delay_sec"),
        coalesce(col("fetch_budget"), lit(defaultBudget)).as("fetch_budget"),
        coalesce(col("n_sitemaps"), lit(0)).as("n_sitemaps"))
      .filter(col("rank") <= col("fetch_budget"))
  }

  def robotsFilter(urls: DataFrame, urlCol: String, robots: DataFrame,
                   hostCol: String, txtCol: String,
                   userAgent: String): DataFrame = {
    val r = robots.select(col(hostCol).cast("string").as("__rhost"),
      col(txtCol).cast("string").as("__rtxt"))
    urls
      .withColumn("__host", TextAnalysis.urlHost(col(urlCol)))
      .join(r, col("__host") === col("__rhost"), "left")
      .filter(coalesce(
        TextAnalysis.robotsAllowed(col("__rtxt"), userAgent,
          TextAnalysis.urlPathQuery(col(urlCol))),
        lit(true)))
      .drop("__host", "__rhost", "__rtxt")
  }
}
