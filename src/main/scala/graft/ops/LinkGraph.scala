package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Link-graph operators over crawl edge frames — the graph-shaped stages a
  * web corpus pipeline runs between fetch and curation:
  *
  *  - [[resolveRedirectChains]]: multi-hop redirect resolution (the
  *    canonical-identity step [[graft.sources.Warc.redirectEdges]] feeds —
  *    a page's true URL is the END of its 301 chain, not the first hop);
  *  - [[anchorTextAgg]]: per-target anchor-text aggregation (the classic
  *    web-corpus document prior: what OTHER pages call a page);
  *  - [[pageRank]]: bounded-iteration PageRank with dangling-mass
  *    redistribution (Page et al. 1998; Cho & Garcia-Molina's crawl-
  *    ordering studies are the public reference for using it as fetch
  *    priority) — feeds [[graft.pipeline.WebPrep.fetchSchedule]]'s
  *    `priorityCol` exactly like `frontierRanked`'s in-degree, one rank
  *    join upstream.
  *
  * All three take pre-canonicalized URL columns where noted (the
  * [[Web.canonicalUrl]] chain is idempotent, so feeding raw URLs through
  * the canonicalizing entry points is always safe). Everything shuffles
  * narrow (url, number) rows; nothing collects to the driver.
  */
object LinkGraph {

  /** Resolve every redirect SOURCE to the terminal URL of its redirect
    * chain, in at most `maxHops` hops. Input is an edge frame
    * (`srcCol`, `dstCol`) — [[graft.sources.Warc.redirectEdges]] output
    * shape — holding single redirect hops; a real fetch log yields
    * multi-hop chains (http→https→www→final is the everyday case), and
    * document identity keys on the CHAIN END.
    *
    * Semantics (both sides of the q45 oracle re-derive exactly this):
    *  - both endpoints are CANONICALIZED first ([[Web.canonicalUrl]]) —
    *    [[graft.sources.Warc.redirectEdges]] emits a raw source with a
    *    canonical target, and without folding the source too, a
    *    multi-hop chain would not link up (the walk from `http://a/`
    *    would stop at `https://b` because only `http://b/` is a source
    *    key) and would falsely report an intermediate node as final;
    *  - edges whose endpoints CANONICALIZE TO THE SAME URL drop, and a
    *    source left with no other edge drops out of the output: the
    *    everyday `http→https` / tracking-param upgrade redirect lands
    *    exactly here, and identity-wise such a source already IS its
    *    chain end — consumers take `coalesce(final_url, url)`, which
    *    gives the right answer for dropped sources for free (a genuine
    *    exact self-redirect loop is folded into the same treatment:
    *    the url is its own terminal);
    *  - the edge set is then FUNCTIONALIZED: one outgoing edge per
    *    source, `min(dst)` as the deterministic pick (conflicting
    *    captures of the same URL happen in any long crawl);
    *  - a source RESOLVES when following the map reaches a node with no
    *    outgoing edge within `maxHops` hops: `final_url` = that terminal,
    *    `hops` = the chain length (1-based);
    *  - a source is UNRESOLVED (`resolved` false, `final_url`/`hops`
    *    null) when the walk is still on a redirecting node after
    *    `maxHops` hops — which covers both over-long chains and cycles
    *    (self-loops included) without needing cycle detection: a cycle
    *    simply never reaches a terminal.
    *
    * Implemented by POINTER DOUBLING, not per-hop iteration: the state
    * frame maps each source to the node at `min(chainLen, 2^r)` hops
    * after round r, so `maxHops` is covered in `ceil(log2(maxHops))`
    * self-joins — 4 shuffle rounds for the default 16, vs 16 for a naive
    * walk. Each round is a narrow (url, url, int, bool) join keyed on the
    * current node; rounds are checkpointed (the
    * [[Dedup.duplicateClusters]] pointer-jumping convention) because each
    * doubling round references the previous round TWICE — without the
    * cut, the plan tree doubles per round.
    *
    * Invariant carried by the `done` flag (true ⇔ the walked-to node is
    * terminal): round 0 sets it by an anti-join against the source-key
    * set; composition preserves it because a non-done row's current node
    * is by definition a source in the map, so the inner self-join is
    * total over non-done rows — no row is ever lost.
    */
  def resolveRedirectChains(edges: DataFrame, maxHops: Int = 16,
      srcCol: String = "url", dstCol: String = "redirect_url"): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    val fm = edges
      .select(Web.canonicalUrl(col(srcCol)).as("graft_s"),
        Web.canonicalUrl(col(dstCol)).as("graft_d"))
      .filter(col("graft_s").isNotNull && col("graft_d").isNotNull &&
        col("graft_s") =!= col("graft_d"))
      .groupBy(col("graft_s").as("u"))
      .agg(min(col("graft_d")).as("v"))
    // done = v has no outgoing edge (terminal). Left join against the
    // distinct source keys; marker column null ⇔ terminal.
    val srcKeys = fm.select(col("u").as("graft_k"), lit(1).as("graft_m"))
    var state = Materialize.checkpoint(fm
      .join(srcKeys, col("v") === col("graft_k"), "left")
      .select(col("u"), col("v"), lit(1L).as("h"),
        col("graft_m").isNull.as("done")))
    var covered = 1L
    // early exit (r8): once every chain is resolved, a further doubling
    // round is the identity (advanced is empty) — probing the already-
    // checkpointed state for one unresolved row costs a fraction of a
    // join round, and real redirect chains are nearly all <= 3 hops
    while (covered < maxHops &&
        !state.filter(!col("done")).isEmpty) {
      val a = state.alias("a")
      val b = state.alias("b")
      val advanced = a.filter(!col("a.done"))
        .join(b, col("a.v") === col("b.u"))
        .select(col("a.u").as("u"), col("b.v").as("v"),
          (col("a.h") + col("b.h")).as("h"), col("b.done").as("done"))
      state = Materialize.checkpoint(
        state.filter(col("done")).unionByName(advanced))
      covered *= 2
    }
    state.select(col("u").as(srcCol),
      when(col("done") && col("h") <= maxHops, col("v")).as("final_url"),
      when(col("done") && col("h") <= maxHops, col("h")).as("hops"),
      (col("done") && col("h") <= maxHops).as("resolved"))
  }

  /** Per-target anchor-text aggregation over link edges
    * (`targetCol`, `anchorCol`) — [[graft.html.HtmlExtract]]'s
    * `links.resolved`/`links.text` exploded, or any (url, text) edge
    * frame. What the rest of the web calls a page is the oldest
    * document-quality prior in web IR (anchor text has described targets
    * since WWW Worm, 1994; public reference: Brin & Page 1998 §2.2), and
    * curation joins it on as per-document metadata.
    *
    * Output, one row per canonical non-null target:
    *  - `url`             — [[Web.canonicalUrl]] of the target;
    *  - `in_links`        — total in-edges (count, not distinct: two
    *    links from one page are two votes, the in-degree convention
    *    [[graft.pipeline.WebPrep.frontierRanked]] set);
    *  - `distinct_anchors`— distinct anchor strings;
    *  - `top_anchor`      — the most frequent anchor string, smallest
    *    string as the deterministic tie-break (null anchors count as ""
    *    rather than silently dropping the edge);
    *  - `top_anchor_count` — its frequency.
    *
    * Two narrow shuffles: a map-side-combinable count on
    * (url, anchor), then the per-url roll-up; the top-anchor pick rides
    * the second aggregation as `min(struct(-cnt, anchor))` — max count,
    * then min string, one pass, no window.
    */
  def anchorTextAgg(edges: DataFrame, targetCol: String = "url",
      anchorCol: String = "anchor"): DataFrame = {
    val perAnchor = edges
      .select(Web.canonicalUrl(col(targetCol)).as("url"),
        coalesce(col(anchorCol), lit("")).as("graft_anchor"))
      .filter(col("url").isNotNull)
      .groupBy(col("url"), col("graft_anchor"))
      .agg(count(lit(1)).as("graft_cnt"))
    perAnchor
      .groupBy(col("url"))
      .agg(sum(col("graft_cnt")).as("in_links"),
        count(lit(1)).as("distinct_anchors"),
        min(struct((-col("graft_cnt")).as("graft_neg"),
          col("graft_anchor").as("graft_a"))).as("graft_top"))
      .select(col("url"), col("in_links"), col("distinct_anchors"),
        col("graft_top.graft_a").as("top_anchor"),
        (-col("graft_top.graft_neg")).as("top_anchor_count"))
  }

  /** The link graph folded to the HOST (politeness-domain) tier: every
    * page-level edge projected through [[Web.hostOf]] — the ONE host
    * definition the robots gate, the scheduler and the corpus summaries
    * share — same-host edges dropped (intra-site navigation is not an
    * endorsement), distinct host pairs out. This is the graph domain-
    * level curation actually ranks: RefinedWeb-style host budgets and
    * crawl-frontier host priorities operate per domain, and the host
    * graph is orders of magnitude smaller than the page graph (CC-scale:
    * ~10^8 hosts vs ~10^12 pages), so
    * {{{ pageRank(hostGraph(edges), srcCol = "src_host", dstCol = "dst_host") }}}
    * is cheap even where page-level PageRank is a budget decision.
    * Output: (`src_host`, `dst_host`), distinct. One aggregation-free
    * projection + one distinct shuffle on the (short) host-pair key.
    * Unparseable URLs yield hostOf's "" and drop with the null filter.
    */
  def hostGraph(edges: DataFrame, srcCol: String = "url",
      dstCol: String = "dst_url"): DataFrame =
    edges
      .select(Web.hostOf(col(srcCol)).as("src_host"),
        Web.hostOf(col(dstCol)).as("dst_host"))
      .filter(col("src_host").isNotNull && col("dst_host").isNotNull &&
        col("src_host") =!= "" && col("dst_host") =!= "" &&
        col("src_host") =!= col("dst_host"))
      .distinct()

  /** Mirror-host candidates from content-duplicate pairs — the
    * curation stage that turns pair-level dedup output into SITE-level
    * knowledge: two hosts sharing many duplicate documents are mirrors
    * (or scraping each other), and corpus policy usually keeps ONE of
    * them rather than re-litigating every page pair. `pairs` is any
    * (idACol, idBCol) duplicate-pair frame; the defaults (`doc_a`,
    * `doc_b`) match what every pair operator emits (minhash q11, cosine
    * q15, n-gram q19, winnow q30), so the plain
    * {{{ mirrorHosts(docs, minhashDupPairs(docs)) }}} composition runs
    * as-is; `docs` maps doc ids to urls. Cross-host pairs only
    * (same-host duplicates are the intra-site dedup problem, not
    * mirroring); the host pair is ORDER-NORMALIZED (least/greatest) so
    * (a,b) and (b,a) evidence pools; kept when at least `minShared`
    * duplicate pairs connect the two hosts.
    *
    * Output: (`host_a`, `host_b`, `shared_docs`) with host_a < host_b.
    * Plan: two narrow id-keyed joins (pairs are ids only; urls project
    * to hosts before the join, and the projection is checkpointed
    * once so the corpus-sized docs scan + hostOf regex chain pay once,
    * not once per join side), one map-side-combinable count on the
    * host-pair key. The kept pairs are edges: mirror GROUPS (a site with
    * more than one mirror) come from
    * {{{ Dedup.duplicateClusters(mirrorHosts(docs, pairs),
    *       idACol = "host_a", idBCol = "host_b") }}}
    * — string ids cluster by lexicographic min (q52 pins the composed
    * result).
    */
  def mirrorHosts(docs: DataFrame, pairs: DataFrame, minShared: Long = 3L,
      urlCol: String = "url", idACol: String = "doc_a",
      idBCol: String = "doc_b"): DataFrame = {
    val hosts = Materialize.checkpoint(docs
      .select(col("doc_id"), Web.hostOf(col(urlCol)).as("graft_host"))
      .filter(col("graft_host").isNotNull && col("graft_host") =!= ""))
    val ha = hosts.select(col("doc_id").as(idACol),
      col("graft_host").as("graft_host_a"))
    val hb = hosts.select(col("doc_id").as(idBCol),
      col("graft_host").as("graft_host_b"))
    pairs.join(ha, Seq(idACol)).join(hb, Seq(idBCol))
      .filter(col("graft_host_a") =!= col("graft_host_b"))
      .select(least(col("graft_host_a"), col("graft_host_b")).as("host_a"),
        greatest(col("graft_host_a"), col("graft_host_b")).as("host_b"))
      .groupBy(col("host_a"), col("host_b"))
      .agg(count(lit(1)).as("shared_docs"))
      .filter(col("shared_docs") >= minShared)
  }

  /** Bounded-iteration PageRank over a link-edge frame (`srcCol`,
    * `dstCol`), the fetch-priority signal one step richer than raw
    * in-degree: rank flows THROUGH the graph, so a page linked by one
    * well-linked hub outranks a page linked by three orphans. Crawl
    * schedulers run a handful of iterations, not to convergence — Cho &
    * Garcia-Molina measured most of the ordering value in the first few
    * power steps — so `iterations` defaults small and the caller wires
    * the output straight into `fetchSchedule(priorityCol = Some("rank"))`
    * via a frontier join.
    *
    * Exact model (the q47 oracle unrolls the same recurrence in SQL):
    *  - nodes = distinct(src) ∪ distinct(dst); N = |nodes|;
    *  - edges are DEDUPLICATED (distinct src→dst; a page linking twice
    *    is one edge here — the in-degree operator is where multiplicity
    *    votes); self-loops are kept (they redistribute a node's own rank
    *    to itself, the standard treatment);
    *  - rank_0 = 1/N;
    *  - rank_{k+1}(v) = (1-d)/N + d·(Σ_{u→v} rank_k(u)/outdeg(u)
    *    + D_k/N), where D_k = Σ rank_k over DANGLING nodes (outdeg 0) —
    *    the dangling mass is redistributed uniformly, so Σ rank = 1 at
    *    every step (the lost-mass bug of naive implementations is the
    *    documented trap).
    *
    * Each iteration is one narrow (url, double) shuffle: contributions
    * aggregate per dst after a rank⋈edge join, the dangling mass rides a
    * broadcast single-row cross join (NO driver collect — the whole loop
    * stays one lazy plan), and ranks are checkpointed per iteration to
    * keep the plan tree linear in `iterations` rather than exponential
    * (each step references the previous ranks twice: contributions +
    * dangling sum).
    *
    * Output: (url, rank), Σ rank = 1. Join onto a frontier and rank
    * DESC — ties (symmetric nodes) break on url in fetchSchedule's
    * ordering, as ever.
    */
  def pageRank(edges: DataFrame, iterations: Int = 3,
      damping: Double = 0.85, srcCol: String = "url",
      dstCol: String = "dst_url"): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val e = Materialize.checkpoint(edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(col(srcCol).as("graft_src"), col(dstCol).as("graft_dst"))
      .distinct())
    val nodes = Materialize.checkpoint(e.select(col("graft_src").as("url"))
      .union(e.select(col("graft_dst").as("url")))
      .distinct())
    // distinct key name: outdeg derives FROM e, and the contribution
    // step joins both — a shared column name would be a self-join
    // ambiguity
    val outdeg = e.groupBy(col("graft_src"))
      .agg(count(lit(1)).as("graft_outdeg"))
      .select(col("graft_src").as("graft_od_src"), col("graft_outdeg"))
    val nFrame = broadcast(nodes.agg(
      count(lit(1)).cast("double").as("graft_n")))
    // the dangling-node SET is static for the whole run (it depends only
    // on the checkpointed edge set) — precompute it once instead of
    // re-deriving it per iteration through a full ranks⋈outdeg left join
    val dangling = Materialize.checkpoint(nodes
      .join(outdeg, col("url") === col("graft_od_src"), "left_anti"))
    var ranks = Materialize.checkpoint(nodes.crossJoin(nFrame)
      .select(col("url"), (lit(1.0) / col("graft_n")).as("rank")))
    for (_ <- 1 to iterations) {
      val contribs = ranks
        .join(outdeg, col("url") === col("graft_od_src"))
        .join(e, col("url") === col("graft_src"))
        .groupBy(col("graft_dst"))
        .agg(sum(col("rank") / col("graft_outdeg")).as("graft_contrib"))
      val danglingMass = broadcast(ranks
        .join(dangling, Seq("url"), "left_semi")
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("graft_dm")))
      ranks = Materialize.checkpoint(nodes
        .join(contribs, nodes("url") === col("graft_dst"), "left")
        .crossJoin(danglingMass)
        .crossJoin(nFrame)
        .select(nodes("url"),
          (lit(1.0 - damping) / col("graft_n") + lit(damping) *
            (coalesce(col("graft_contrib"), lit(0.0)) +
              col("graft_dm") / col("graft_n"))).as("rank")))
    }
    ranks
  }
}
