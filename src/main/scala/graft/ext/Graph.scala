package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph algorithms as relational algebra — the
  * source-quality side of the extension surface (SURVEY §7.5).
  * CommonCrawl-derived pretraining pipelines weight documents by
  * link-graph centrality of their host (harmonic / PageRank
  * centrality); this module computes PageRank over a host graph with
  * the engine's exact-integer discipline so the result is
  * reproducible in any engine.
  *
  * Scale shape per iteration: one join of the edge list against the
  * current rank vector (both hash-partitioned on the join key), one
  * key-keyed aggregation — the standard distributed PageRank round.
  * Driver state is ONE scalar (the node count); the per-round plan is
  * truncated with localCheckpoint (the k-means / components lesson:
  * iterative self-reference otherwise doubles the analysis-time plan
  * per round).
  */
object Graph {

  /** Undirected co-occurrence edges between the distinct values of
    * `valCol` sharing a `idCol` group (e.g. hosts cited by the same
    * document). Both directions are emitted, self-loops dropped,
    * duplicates collapsed. The self-join is per-group quadratic in
    * the DISTINCT values per group — bounded by the per-document URL
    * count, not the corpus.
    */
  def cooccurrenceEdges(items: DataFrame, idCol: String,
      valCol: String): DataFrame = {
    val d = items.select(col(idCol).as("__d"), col(valCol)).distinct()
    val a = d.select(col("__d"), col(valCol).as("src"))
    val b = d.select(col("__d"), col(valCol).as("dst"))
    a.join(b, "__d").filter(col("src") =!= col("dst"))
      .select("src", "dst").distinct()
  }

  /** PageRank in e9 fixed point: `iters` synchronous rounds of
    * pr'(v) = ((100−damp)·base + damp·Σ_{u→v} pr(u) DIV outdeg(u)) DIV 100
    * with base = 1e9 DIV N. Every step is integer (truncating DIV,
    * associative BIGINT sums), so the ranking is bit-identical in any
    * engine and under any fold order — the oracle unrolls the same
    * rounds as CTEs. Nodes with no in-edges keep the damped base;
    * nodes outside the edge list are not ranked (a co-occurrence
    * graph has no dangling-node mass by construction — every node in
    * the graph has at least one out-edge).
    */
  def pageRank(edges: DataFrame, iters: Int, dampPct: Int = 85): DataFrame = {
    // r14 OPTIMIZATION (guide §2.4/§5): materialize the edge relation
    // ONCE — nodes, outdeg and every round's contrib join used to
    // re-run the caller's full edge lineage (for the host graph, a
    // regex-extract + explode + per-doc self-join) 2·iters + 2 times
    // per call; the per-call cross-run speed the old form showed came
    // from the leaked `nodes` persist being plan-matched by the cache
    // manager across bench runs — an accidental result cache, not a
    // plan property. Now the lineage runs once, the loop reads blocks,
    // and every temporary is released on exit (bounded residency).
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct().persist()
    val n = nodes.count() // ONE driver scalar — the bounded-collect contract
    val base = 1000000000L / math.max(n, 1L)
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    var pr = nodes.withColumn("pr", lit(base))
    for (round <- 1 to iters) {
      val contrib = e
        .join(pr.withColumnRenamed("node", "src"), "src")
        .join(outdeg, "src")
        .select(col("dst").as("node"), expr("pr DIV deg").as("c"))
        .groupBy("node").agg(sum(col("c")).as("s"))
      val prev = pr
      pr = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          // every literal BIGINT: (100−damp)·base overflows INT for
          // small graphs (base ≈ 1e9/N) under ANSI arithmetic
          expr(s"(CAST(${100 - dampPct} AS BIGINT) * CAST($base AS BIGINT) + " +
            s"CAST($dampPct AS BIGINT) * coalesce(s, CAST(0 AS BIGINT))) DIV 100")
            .as("pr"))
        .localCheckpoint(true)
      // bounded residency (guide §5): the superseded round's blocks
      // have no consumer once the new checkpoint materialized (eager)
      if (round > 1) Dedup.releaseCheckpoint(prev)
    }
    nodes.unpersist()
    if (iters >= 1) Dedup.releaseCheckpoint(e)
    pr
  }

  /** Personalized PageRank from a trusted seed set — the crawl-curation
    * centrality: teleport mass restarts ONLY at the seeds (known-good
    * domains), so a node scores by its random-walk proximity to the
    * trusted set rather than by global popularity. This is how
    * seed-based domain quality propagates through a link graph (the
    * TrustRank recipe, Gyöngyi et al. 2004): spam farms that
    * bootstrap global PageRank stay dark unless a trusted walk reaches
    * them.
    *
    * Same e9 fixed-point contract as [[pageRank]] with
    * base = 1e9 DIV |seeds| and the restart term gated by the seed
    * flag: pr'(v) = ((100−damp)·base·[v∈S] + damp·Σ pr(u) DIV deg(u))
    * DIV 100 — every step integer, engine- and fold-order-exact, so
    * the oracle unrolls the same rounds. Scale shape per round: one
    * edges⋈scores join + one key agg; the seed flag rides the node
    * relation (one broadcast semi-mark, no per-round driver state
    * beyond pageRank's one bounded scalar).
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iters: Int, dampPct: Int = 85): DataFrame = {
    // materialize the edge relation once (the hits convention): nodes,
    // the seed mark, outdeg, and every round's contrib join all
    // consume it — without this each consumer re-runs the caller's
    // full edge lineage (for the host graph, a corpus-scale self-join)
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct()
    val marked = nodes
      .join(broadcast(seeds.select(col("node")).distinct()
        .withColumn("__s", lit(1L))), Seq("node"), "left")
      .select(col("node"), coalesce(col("__s"), lit(0L)).as("is_seed"))
      .persist()
    val k = marked.agg(sum(col("is_seed"))).head.getLong(0)
    val base = 1000000000L / math.max(k, 1L)
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    var pr = marked.select(col("node"), (col("is_seed") * base).as("pr"))
    for (round <- 1 to iters) {
      val contrib = e
        .join(pr.withColumnRenamed("node", "src"), "src")
        .join(outdeg, "src")
        .select(col("dst").as("node"), expr("pr DIV deg").as("c"))
        .groupBy("node").agg(sum(col("c")).as("s"))
      val prev = pr
      pr = marked.join(contrib, Seq("node"), "left")
        .select(col("node"),
          expr(s"(CAST(${100 - dampPct} AS BIGINT) * CAST($base AS BIGINT)" +
            s" * is_seed + CAST($dampPct AS BIGINT) *" +
            s" coalesce(s, CAST(0 AS BIGINT))) DIV 100").as("pr"))
        .localCheckpoint(true)
      // bounded residency (guide §5): superseded round released
      if (round > 1) Dedup.releaseCheckpoint(prev)
    }
    if (iters >= 1) {
      // the returned frame is the final round's checkpoint: neither
      // marked's cache nor e's blocks have a consumer anymore
      marked.unpersist()
      Dedup.releaseCheckpoint(e)
    }
    pr
  }

  /** HITS hubs & authorities (Kleinberg 1999) over a DIRECTED edge
    * list, in e6 fixed point — the companion centrality to
    * [[pageRank]]: auth(v) = Σ_{u→v} hub(u), hub(u) = Σ_{u→v} auth(v),
    * each side L1-normalized to total mass 1e6 per half-round via
    * `raw·1e6 DIV Σraw` (positive-integer DIV truncates = floors in
    * any engine, so the oracle unrolls the same rounds as CTEs).
    * Nodes start at hub = 1e6; nodes with no out-edges hold hub 0,
    * none with no in-edges auth 0.
    *
    * Scale shape per half-round: one edges⋈scores join + one key agg +
    * one 1-row total agg broadcast back with crossJoin — no driver
    * state at all (vs pageRank's one scalar). Overflow bound:
    * raw ≤ N·1e6 so raw·1e6 ≤ N·1e12, safe to ~9M nodes; for larger
    * graphs lower the per-round mass (the scale is the first literal
    * below), trading resolution.
    */
  def hits(edges: DataFrame, iters: Int): DataFrame = {
    val s = 1000000L // per-round total mass (e6 fixed point)
    val e = edges.select("src", "dst").distinct().localCheckpoint(true)
    val srcs = e.select(col("src").as("node")).distinct()
    val dsts = e.select(col("dst").as("node")).distinct()
    var hub = srcs.withColumn("hub", lit(s))
    var auth = dsts.withColumn("auth", lit(0L))
    for (round <- 1 to iters) {
      val authRaw = e.join(hub.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node")).agg(sum(col("hub")).as("raw"))
      val prevAuth = auth
      auth = normalize(authRaw, s).withColumnRenamed("score", "auth")
        .localCheckpoint(true)
      if (round > 1) Dedup.releaseCheckpoint(prevAuth) // guide §5
      val hubRaw = e.join(auth.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node")).agg(sum(col("auth")).as("raw"))
      val prevHub = hub
      hub = normalize(hubRaw, s).withColumnRenamed("score", "hub")
        .localCheckpoint(true)
      if (round > 1) Dedup.releaseCheckpoint(prevHub)
    }
    srcs.unionByName(dsts).distinct()
      .join(hub, Seq("node"), "left").join(auth, Seq("node"), "left")
      .select(col("node"), coalesce(col("hub"), lit(0L)).as("hub_e6"),
        coalesce(col("auth"), lit(0L)).as("auth_e6"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007) — community
    * detection for source/domain clustering: every node starts as its
    * own label; each round every node adopts the most frequent label
    * among its neighbors (ties to the smallest label — the
    * deterministic variant; the paper's random tie-break is exactly
    * what an engine-reproducible pipeline cannot use). Fixed `iters`
    * rounds, synchronous updates, so the oracle unrolls identical CTE
    * rounds; string comparison is the only ordering used, identical
    * in any engine.
    *
    * Scale shape per round: one edges⋈labels hash join + one
    * (node,label) count agg + one node-keyed struct-min argmax (the
    * (−count, label) min IS (max count, min label) — no Window, no
    * extra sort). Zero driver state; rounds truncate via
    * localCheckpoint (the pageRank lesson).
    *
    * Input edges must be SYMMETRIC (both directions present —
    * [[cooccurrenceEdges]] guarantees it); isolated nodes don't occur
    * in an edge list by construction.
    */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    val e = edges.select("src", "dst").distinct().localCheckpoint(true)
    val nodes = e.select(col("src").as("node")).distinct()
    var lab = nodes.withColumn("lab", col("node"))
    for (round <- 1 to iters) {
      val prev = lab
      lab = e.join(lab.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"), col("lab"))
        .agg(count(lit(1)).as("c"))
        .groupBy("node")
        .agg(min(struct((col("c") * -1).as("nc"), col("lab").as("l")))
          .as("best"))
        .select(col("node"), col("best.l").as("lab"))
        .localCheckpoint(true)
      if (round > 1) Dedup.releaseCheckpoint(prev) // guide §5
    }
    // the returned labels are the final round's checkpoint (iters >= 1
    // in every caller); e feeds only the rounds
    if (iters >= 1) Dedup.releaseCheckpoint(e)
    lab.select(col("node"), col("lab").as("community"))
  }

  /** Per-node triangle count + local clustering coefficient over an
    * undirected graph (edges SYMMETRIC, both directions present —
    * [[cooccurrenceEdges]]'s contract). Degree-oriented enumeration
    * (Schank & Wagner 2005 / Suri & Vassilvitskii 2011 "MR triangle
    * counting"): orient every edge from the (degree, node)-smaller
    * endpoint to the larger, enumerate wedges at the smaller endpoint,
    * close them with one hash join against the oriented edge list.
    * Orientation bounds the out-degree of EVERY node by O(√m), so hub
    * nodes — the thing that makes naive wedge enumeration quadratic —
    * generate no more wedges than anyone else; the whole pass is two
    * self-joins and one key agg, no driver state.
    *
    * CRITICAL invariant: the wedge comparator must be the SAME
    * (degree, node) order as the edge orientation — ordering wedge
    * endpoints by raw id silently drops the triangles whose closing
    * edge is oriented the other way (measured: 207k of 413k lost on
    * the sf0.01 co-purchase graph).
    *
    * `cc_e6 = 2·tri·1e6 DIV (deg·(deg−1))` — exact integer fixed
    * point, bit-identical in any engine.
    */
  def triangleStats(edges: DataFrame,
      edgesDistinct: Boolean = false): DataFrame =
    triangleStatsFrom(triangleClosure(edges, edgesDistinct))

  /** The shared triangle BUILD artifact: the distinct edge relation,
    * per-node degrees, and the enumerated closure (u, v, ws) — one
    * (base edge, closing-vertices array) row per oriented edge with a
    * non-empty intersection. [[triangleStatsFrom]] and
    * [[edgeStructuralSimFrom]] both consume it, so a pipeline that
    * wants node stats AND edge similarities pays the enumeration ONCE
    * (the dedup-pair-artifact lifecycle — at 100 TB the closure is a
    * persisted product of the graph build, not a per-query cost).
    * All three frames are eagerly checkpointed.
    */
  final case class TriangleClosure(edges: DataFrame, deg: DataFrame,
      tri: DataFrame)

  def triangleClosure(edges: DataFrame,
      edgesDistinct: Boolean = false): TriangleClosure = {
    // edgesDistinct: same contract as [[kcore]] — the caller asserts a
    // duplicate-free edge relation, skipping the defensive distinct's
    // full-relation shuffle (the persisted artifact case)
    val e = if (edgesDistinct) edges.select("src", "dst")
      else edges.select("src", "dst").distinct()
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
      .localCheckpoint(true)
    val oe = e
      .join(deg.select(col("node").as("src"), col("d").as("du")), "src")
      .join(deg.select(col("node").as("dst"), col("d").as("dv")), "dst")
      .filter(col("du") < col("dv") ||
        (col("du") === col("dv") && col("src") < col("dst")))
      .select(col("src").as("u"), col("dst").as("v"))
    // edge-iterator form: per oriented edge (u,v), the triangles it
    // closes are N⁺(u) ∩ N⁺(v) — each triangle surfaces EXACTLY once,
    // at the edge between its two orientation-smallest vertices (the
    // third vertex is out-neighbor of both; the other two edges see
    // an empty intersection by orientation). The in-row intersect
    // replaces the wedge relation entirely: nothing Σ C(outdeg, 2)-
    // sized is ever materialized or shuffled (measured 1.9× at sf0.1
    // and the difference grows with degree — the wedge relation is
    // quadratic in out-degree, the adjacency ship linear), and
    // orientation caps every adjacency array at O(√m) elements.
    // adjacency sorted ONCE at build so the per-edge intersection is
    // the compiled two-pointer merge (graft.functions.SortedIntersect)
    // instead of array_intersect's per-call hash set — the closure
    // join is the query's whole cost (~12M rows × ~60-element lists
    // at sf1; r8 verdict item 5's bench-context investigation landed
    // here: the "context gap" was this kernel's constant)
    val adj = oe.groupBy(col("u"))
      .agg(sort_array(collect_list(col("v"))).as("nbrs")).localCheckpoint(true)
    // localCheckpoint: tri feeds the per-node credit union THREE ways
    // (u corner, v corner, exploded w corners) — without
    // materialization each branch re-runs the whole closure join, so
    // the query's dominant term executes 3× (and the intersect itself
    // twice per join: once in the pushed filter, once in the project).
    // Measured at sf1: 179 s → the materialized shape below. Storage
    // is O(closing edges + triangles) — bounded by the enumeration's
    // own output, never corpus-shaped.
    // the oriented-edge relation IS the adjacency exploded — emitting
    // (u, nu, v) straight from adj attaches N⁺(u) for free and
    // deletes the first closure join (and with it oe's checkpoint: oe
    // now has one consumer, the adj build). Only ONE exchange remains
    // in the closure: the exploded wedges hash by v against adj. v ∈
    // nu but v ∉ nv (no self-loops), so the intersection is unchanged.
    val tri = adj
      .select(col("u"), col("nbrs").as("nu"), explode(col("nbrs")).as("v"))
      .join(adj.select(col("u").as("v"), col("nbrs").as("nv")), Seq("v"))
      .select(col("u"), col("v"),
        graft.functions.IntersectFunctions.sorted_intersect(
          col("nu"), col("nv")).as("ws"))
      .filter(size(col("ws")) > 0)
      .localCheckpoint(true)
    TriangleClosure(e, deg, tri)
  }

  /** Per-node rollup over a prebuilt [[TriangleClosure]]. */
  def triangleStatsFrom(tc: TriangleClosure): DataFrame = {
    val deg = tc.deg
    val tri = tc.tri
    // per-node credit: the found triangle (u, v, w) counts once for
    // each corner — u and v per closing w, each w once
    val perNode = tri.select(col("u").as("node"),
        size(col("ws")).cast("long").as("c"))
      .unionByName(tri.select(col("v").as("node"),
        size(col("ws")).cast("long").as("c")))
      .unionByName(tri.select(explode(col("ws")).as("node"),
        lit(1L).as("c")))
      .groupBy("node").agg(sum(col("c")).as("t"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("d").as("deg"),
        coalesce(col("t"), lit(0L)).as("tri"),
        expr("CASE WHEN d >= 2 THEN coalesce(t, CAST(0 AS BIGINT)) * 2000000 " +
          "DIV (d * (d - 1)) ELSE CAST(0 AS BIGINT) END").as("cc_e6"))
  }

  /** Edge-wise structural similarity (Satuluri–Parthasarathy local
    * graph sparsification): for each undirected edge {u,v}, the
    * Jaccard similarity of its endpoints' neighborhoods —
    * `jaccard_e6 = tri·1e6 DIV (du + dv − tri)` where `tri` =
    * |N(u) ∩ N(v)| = the number of triangles through the edge (N(u)
    * contains v and N(v) contains u, so the union du + dv − tri
    * counts both endpoints; the intersection can contain neither —
    * no self-loops). High-similarity edges are intra-community;
    * sparsifying to each node's top edges by this score preserves
    * community structure at a fraction of the edges — the curation
    * use is thinning a near-dup/co-occurrence graph before clustering.
    * Exact integer fixed point; top-`k` edges by (jaccard desc, u, v)
    * — a total order, so both engines pick identical rows.
    *
    * Scale shape: the triangle relation is [[triangleStats]]'s
    * degree-oriented enumeration (every adjacency capped at O(√m) by
    * orientation) re-used verbatim; each found triangle (u,v,w)
    * explodes to its THREE edges (u,v),(u,w),(v,w) — output-bounded,
    * never corpus-shaped — and one edge-keyed agg + a degree join
    * finishes. The final top-k is a k-bounded TakeOrdered, not a
    * global sort materialization.
    */
  def edgeStructuralSim(edges: DataFrame, k: Int,
      edgesDistinct: Boolean = false): DataFrame =
    edgeStructuralSimFrom(triangleClosure(edges, edgesDistinct), k)

  /** Edge-similarity rollup over a prebuilt [[TriangleClosure]]. */
  def edgeStructuralSimFrom(tc: TriangleClosure, k: Int): DataFrame = {
    val e = tc.edges
    val deg = tc.deg
    val tri = tc.tri
    // each triangle (u,v,w) credits its three edges, normalized to
    // (min, max) so the undirected edge keys one row
    def norm(a: Column, b: Column, c: Column) =
      Seq(least(a, b).as("ea"), greatest(a, b).as("eb"), c.as("c"))
    val perEdge = tri.select(norm(col("u"), col("v"),
        size(col("ws")).cast("long")): _*)
      .unionByName(tri.select(col("u"), explode(col("ws")).as("w"))
        .select(norm(col("u"), col("w"), lit(1L)): _*))
      .unionByName(tri.select(col("v"), explode(col("ws")).as("w"))
        .select(norm(col("v"), col("w"), lit(1L)): _*))
      .groupBy("ea", "eb").agg(sum(col("c")).as("tri"))
    e.filter(col("src") < col("dst"))
      .select(col("src").as("ea"), col("dst").as("eb"))
      .join(perEdge, Seq("ea", "eb"), "left")
      .join(deg.select(col("node").as("ea"), col("d").as("du")), "ea")
      .join(deg.select(col("node").as("eb"), col("d").as("dv")), "eb")
      .select(col("ea").as("u"), col("eb").as("v"),
        col("du"), col("dv"),
        coalesce(col("tri"), lit(0L)).as("tri"),
        expr("coalesce(tri, CAST(0 AS BIGINT)) * 1000000 " +
          "DIV (du + dv - coalesce(tri, CAST(0 AS BIGINT)))").as("jaccard_e6"))
      .orderBy(col("jaccard_e6").desc, col("u"), col("v"))
      .limit(k)
  }

  /** k-core peeling (Seidman 1983), synchronous rounds: each round
    * drops every node whose degree within the currently-surviving
    * subgraph is < k. Peels until a round's frontier is EMPTY — the
    * fixpoint, since peeling only removes — so the output IS the
    * k-core at any scale factor; `rounds` is the expected fixpoint
    * depth and only sizes the hard cap (max(rounds, 64)). If the cap
    * is hit un-converged the RESIDUAL state is returned with a loud
    * stderr warning (never silently presented as the core; see
    * [[kcoreRun]] for the machine-readable `converged` flag).
    * Deterministic with no tie-breaks at all, so an
    * oracle that unrolls `rounds` full-recompute rounds matches
    * whenever `rounds` covers the fixpoint.
    *
    * DELTA peeling (VERDICT r10 item 3 — the previous form re-joined
    * the FULL edge list against the alive set twice per round, so
    * every round cost O(edges) in shuffle regardless of how few nodes
    * changed): the state carried across rounds is (node, residual
    * degree within the surviving subgraph). Each round filters the
    * frontier (deg < k) from the cached state, decrements only the
    * frontier's neighbors — one hash join of the edge list against
    * the frontier (frontier-sized build side, broadcast once AQE sees
    * it) + one frontier-edge-keyed agg — and the survivors' updated
    * degrees ARE the next state, so the fixpoint state is the answer
    * with no final recompute: `core_deg` = residual degree = degree
    * within the core, the same relation the full recompute produced.
    * Round cost tracks the FRONTIER's edges, not the graph.
    *
    * Convergence is decided with zero extra jobs: each round's state
    * materialization carries an `observe` metric counting next
    * round's frontier (`CollectMetricsExec` — computed inside the
    * localCheckpoint job that must run anyway); the per-round driver
    * sync is reading that accumulator, not launching a count().
    * Driver state: one Long per round. localCheckpoint truncates the
    * per-round lineage (the pageRank lesson).
    *
    * `edgesDistinct = true` asserts the caller's edge relation is
    * ALREADY duplicate-free and cheap to rescan (e.g. the persisted
    * [[cooccurrenceEdges]] artifact, whose output is distinct by
    * construction) — the defensive distinct + re-materialization is
    * skipped, saving a full edge-relation shuffle AND a second
    * in-memory copy per call. With duplicate edges and
    * `edgesDistinct = true` the degrees (and thus the core) are
    * WRONG — the flag is a contract, not a hint.
    */
  def kcore(edges: DataFrame, k: Int, rounds: Int,
      edgesDistinct: Boolean = false): DataFrame = {
    val r = kcoreRun(edges, k, rounds, edgesDistinct)
    if (!r.converged)
      System.err.println(s"[kcore] not converged after ${r.roundsUsed} " +
        "rounds; returning the residual peel state (a SUPERSET of the " +
        "k-core; core_deg is the residual degree within it). Callers " +
        "needing the convergence guarantee use kcoreRun(...).converged.")
    r.state
  }

  /** Result of a bounded k-core peel: `state` is (node, core_deg);
    * when `converged` the state IS the k-core, otherwise it is the
    * residual after `roundsUsed` rounds — a superset of the k-core
    * with each node's residual degree (an upper bound on its core
    * degree). Emitting the partial state instead of throwing is the
    * operational contract at scale (VERDICT r11 item 6): a 100 TB
    * peel that burns its round budget must hand back 63 rounds of
    * work plus the flag, not an exception.
    */
  final case class KcoreRun(state: DataFrame, converged: Boolean,
      roundsUsed: Int)

  def kcoreRun(edges: DataFrame, k: Int, rounds: Int,
      edgesDistinct: Boolean = false): KcoreRun = {
    val e = if (edgesDistinct) edges.select("src", "dst")
      else edges.select("src", "dst").distinct().localCheckpoint(true)
    val cap = math.max(rounds, 64)
    // materialize one round's state and read the fused frontier count
    def materialize(df: DataFrame, round: Int): (DataFrame, Long) = {
      val name = s"kcore_round_$round"
      val obs = df.observe(name, count(when(col("deg") < k, 1)).as("low"))
      val st = obs.localCheckpoint(true)
      val low = obs.queryExecution.observedMetrics.get(name) match {
        case Some(row) => row.getAs[Long]("low")
        // fallback (metric not surfaced): a cached-scan count — the
        // state was just checkpointed, so this reads blocks, not plan
        case None =>
          System.err.println(s"[kcore] observe metric '$name' missing; " +
            "falling back to cached-scan count")
          st.filter(col("deg") < k).count()
      }
      (st, low)
    }
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    var t0 = System.nanoTime()
    var (state, low) = materialize(
      e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg")), 0)
    log.info(f"kcore: degree init low=$low (${(System.nanoTime() - t0) / 1e9}%.2f s)")
    var iters = 0
    while (low > 0 && iters < cap) {
      t0 = System.nanoTime()
      val removed = state.filter(col("deg") < k).select("node")
      // (r14: a union+agg form — fold the decrement and the state
      // update into one node-keyed exchange — was built and measured:
      // 38 → 28 jobs/call but wall time within the noise band locally,
      // and it re-shuffles the FULL state every round where this join
      // broadcasts the frontier-sized decrement into the state's
      // existing layout — strictly worse at scale once the frontier
      // shrinks below the state. Kept as-was.)
      val dec = e.join(removed.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node")).agg(count(lit(1)).as("__d"))
      val next = state.filter(col("deg") >= k)
        .join(dec, Seq("node"), "left")
        .select(col("node"),
          (col("deg") - coalesce(col("__d"), lit(0L))).as("deg"))
      val (st, l) = materialize(next, iters + 1)
      Dedup.releaseCheckpoint(state) // superseded round (guide §5)
      state = st
      low = l
      iters += 1
      log.info(f"kcore: round $iters low=$low (${(System.nanoTime() - t0) / 1e9}%.2f s)")
    }
    // the returned state is its own checkpoint; the defensive distinct's
    // blocks (when built here) have no consumer anymore. releaseCheckpoint
    // no-ops on the edgesDistinct=true pass-through (not a LogicalRDD).
    Dedup.releaseCheckpoint(e)
    KcoreRun(state.select(col("node"), col("deg").as("core_deg")),
      converged = low == 0, roundsUsed = iters)
  }

  /** Bounded-radius multi-source BFS — "distance to the nearest hub"
    * (hubs = nodes with degree ≥ `minHubDegree`), the graph-curation
    * primitive behind coverage audits ("how far is every item from a
    * high-connectivity anchor?") and label-propagation seeding. For
    * every node reachable within `rounds` hops of any hub, emits
    * (node, dist, hub): `dist` = hop count to the nearest hub (hubs
    * themselves at 0), `hub` = the SMALLEST hub id among nearest-at-
    * that-distance — total, tie-free determinism, so the oracle (a
    * recursive CTE unrolling the same bounded walk) matches exactly.
    * Nodes beyond the radius are absent (bounded-radius is the
    * operator's contract, not a truncation failure).
    *
    * DELTA frontier (the r11 [[kcore]] recipe): BFS layers mean a
    * node's first-reached distance is final — later rounds can only
    * offer larger dists — so each round expands ONLY the previous
    * round's fresh nodes: one hash join of the edge list against the
    * frontier (frontier-sized build side, AQE-broadcast as it
    * shrinks), a min-struct agg collapsing multi-hub arrivals
    * map-side, and one anti-join against the settled state. Round
    * cost tracks the frontier's edges, not the graph. Convergence
    * (frontier empty) reads an observe() metric fused into the
    * state materialization — no per-round count() job; driver state
    * is one Long per round.
    *
    * `edgesDistinct` is the same contract flag as [[kcore]] /
    * [[triangleStats]]: the caller asserts a duplicate-free symmetric
    * edge relation and the defensive distinct is skipped.
    */
  def bfsFromHubs(edges: DataFrame, minHubDegree: Int, rounds: Int,
      edgesDistinct: Boolean = false): DataFrame = {
    // defensive branch checkpoints like kcore's (ADVICE r11): the
    // distinct'd relation is scanned once for hubs and once per
    // round's frontier join — without the checkpoint the full-
    // relation distinct shuffle re-executes every round
    val e = if (edgesDistinct) edges.select("src", "dst")
      else edges.select("src", "dst").distinct().localCheckpoint(true)
    val hubs = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
      .filter(col("d") >= minHubDegree).select("node")
    def materialize(df: DataFrame, round: Int): (DataFrame, Long) = {
      val name = s"bfs_round_$round"
      val obs = df.observe(name,
        count(when(col("dist") === round, 1)).as("fresh"))
      val st = obs.localCheckpoint(true)
      val fresh = obs.queryExecution.observedMetrics.get(name) match {
        case Some(row) => row.getAs[Long]("fresh")
        case None => st.filter(col("dist") === round).count() // cached scan
      }
      (st, fresh)
    }
    var (state, fresh) = materialize(
      hubs.select(col("node"), lit(0L).as("dist"), col("node").as("hub")), 0)
    var i = 0
    while (fresh > 0 && i < rounds) {
      val frontier = state.filter(col("dist") === i)
      val arrived = e
        .join(frontier.select(col("node").as("src"), col("hub")), "src")
        .groupBy(col("dst").as("node"))
        // all arrivals this round share dist = i+1; min-struct keeps
        // the smallest hub id map-side before the exchange
        .agg(min(struct(lit(i + 1L).as("d"), col("hub").as("h"))).as("__b"))
      val settled = arrived
        .join(state.select("node"), Seq("node"), "left_anti")
        .select(col("node"), col("__b.d").as("dist"), col("__b.h").as("hub"))
      val (st, f) = materialize(state.unionByName(settled), i + 1)
      Dedup.releaseCheckpoint(state) // superseded round (guide §5)
      state = st
      fresh = f
      i += 1
    }
    Dedup.releaseCheckpoint(e) // defensive-distinct blocks (kcore note)
    state
  }

  /** `score = raw·mass DIV Σraw` — L1 normalization in fixed point;
    * the 1-row total broadcasts back (the temperature-weights idiom).
    */
  private def normalize(raw: DataFrame, mass: Long): DataFrame = {
    val tot = raw.agg(sum(col("raw")).as("__tot"))
    raw.crossJoin(broadcast(tot))
      .select(col("node"), expr(s"raw * $mass DIV __tot").as("score"))
  }
}
