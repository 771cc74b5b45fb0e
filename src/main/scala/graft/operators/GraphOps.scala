package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Iterative graph computation — PageRank over a bipartite co-occurrence
  * graph, the second iterative operator family next to
  * [[DedupClusters]]' connected components (SURVEY §2.2 "iterative /
  * graph" posture).
  *
  * Exactness across engines: PageRank is a float fixed-point in every
  * textbook, which can never hash-match an oracle (per-node sums run in
  * shuffle order). Here ALL arithmetic is 64-bit integer on a 1e-12
  * score grid: damping is ×17/20 integer division, per-edge contribution
  * is floor(floor(s·17/20)/outdeg), and per-node accumulation sums exact
  * longs — associative and order-free, so Spark and DuckDB agree bit for
  * bit after any number of iterations. (All scores stay positive, so
  * truncating integer division IS floor on both engines.)
  *
  * Scale shape per iteration: one equi-join of scores onto edges (shuffle
  * on src — or co-partitioned if edges are bucketed by src at rest) and
  * one hash agg on dst with map-side partials; the node table never
  * materializes to the driver. Degrees are computed once before the loop.
  * Lineage is truncated per round like DedupClusters (localCheckpoint) so
  * a long run cannot accrete a plan of 2·iters joins.
  */
object GraphOps {
  type Q = (SparkSession, String) => DataFrame

  /** Max edge count to broadcast the triangle closing side (0 = off —
    * the locally-measured default; network-bound clusters opt in).
    * Parsed ONCE and leniently (r19, ADVICE): a malformed value falls
    * back to 0 instead of throwing NumberFormatException per query. */
  private lazy val triBcastMax: Long =
    sys.env.get("GRAFT_TRI_BCAST_MAX").flatMap(_.toLongOption).getOrElse(0L)

  /** Integer-grid PageRank. `edges` = directed (src: long, dst: long),
    * every node assumed to have ≥1 out-edge (true for the bidirectional
    * graphs this engine builds; dangling-node mass redistribution is out
    * of scope). Returns (id, score_q) on the 1e-12 grid where 1.0 ≡
    * 1e12. Damping 0.85 is the exact rational 17/20.
    *
    * @param reliableCheckpoint lineage-truncation mode, same contract as
    *   [[DedupClusters.connectedComponents]]: `false` (default) uses
    *   `localCheckpoint` — executor-local blocks, no extra I/O, right on
    *   a single node, but an executor lost mid-loop kills the job;
    *   `true` persists each round's ~|V| scores (and the loop-invariant
    *   edge/degree/node sides) to the SparkContext checkpoint dir
    *   (caller must `setCheckpointDir` to a fault-tolerant FS on a
    *   cluster) so a multi-hour 100 TB run survives executor loss.
    *   Superseded rounds and the loop-invariant inputs are reclaimed as
    *   the loop goes; the CONVERGED scores stay reliable-backed — after
    *   durably writing them, call [[DedupClusters.reclaimCheckpoint]] on
    *   the result, or repeated runs accumulate one score set each. */
  def pageRank(edges: DataFrame, iters: Int, reliableCheckpoint: Boolean = false): DataFrame = {
    // dropOriginStats: same loop-stats guard as DedupClusters — Spark 4
    // checkpoints preserve estimated Statistics, and per-round estimates
    // compound across rounds (see PlanBridge.dropOriginStats).
    def ckpt(df: DataFrame): DataFrame =
      org.apache.spark.sql.graftbridge.PlanBridge.dropOriginStats(
        if (reliableCheckpoint) df.checkpoint() else df.localCheckpoint())
    def deleteCkpt(df: DataFrame): Unit =
      if (reliableCheckpoint) DedupClusters.reclaimCheckpoint(df)
    // Materialize the edge list ONCE, already hash-partitioned on the
    // per-iteration join key. Without this the edge subtree (scan +
    // union + distinct — the expensive part) re-executes for deg, for
    // nodes, and inside EVERY iteration (iters+2 times total); with it,
    // each round's join reuses the checkpointed partitioning instead of
    // re-shuffling the (large) edge side. At cluster scale the same
    // effect comes from bucketing edges by src at rest.
    val parts = edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val e = ckpt(edges.repartition(parts, col("src")))
    // deg and nodes are NODE-sized and loop-invariant: materialize once
    // (they would otherwise re-aggregate the edge list every round).
    val deg = ckpt(e.groupBy(col("src")).agg(count(lit(1)).as("deg")))
    val nodes = ckpt(e.select(col("src").as("id")).distinct())
    // Adaptive broadcast: checkpointed RDDs report no stats, so AQE
    // cannot make this call — gate on the ACTUAL node count (free: the
    // RDD is materialized). Small graphs broadcast the node-sized sides
    // and each round costs ONE shuffle (the dst aggregation); huge
    // graphs fall back to the co-partitioned shuffle join, which is the
    // only scale-safe spelling when scores no longer fit an executor.
    val nodeCount = nodes.count()
    val small = nodeCount <= 1000000L
    val degSide = if (small) broadcast(deg) else deg
    var scores = nodes.select(col("id"), lit(1000000000000L).as("score_q"))
    for (i <- 1 to iters) {
      val prev = scores
      val scoreSide = if (small) broadcast(scores) else scores
      val contribs = scoreSide
        .join(e, col("id") === col("src"))
        .join(degSide, "src")
        .select(col("dst"), expr("(score_q * 17 DIV 20) DIV deg").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("mass"))
      scores = ckpt(nodes
        .join(contribs, col("id") === col("dst"), "left")
        .select(col("id"), (lit(150000000000L) + coalesce(col("mass"), lit(0L))).as("score_q")))
      // reclaim the superseded round's reliable files once the new round
      // materialized — NOT round 1's prev, whose plan still references
      // the checkpointed `nodes` (deleting through it would take the
      // loop-invariant side with it)
      if (i > 1) deleteCkpt(prev)
    }
    // the converged scores are self-contained post-checkpoint: the
    // loop-invariant inputs' reliable files can go now
    Seq(e, deg, nodes).foreach(deleteCkpt)
    scores
  }

  /** BFS hop distance from a source set: (id, depth) for every node
    * reachable within `maxDepth` hops, depth = the MINIMUM hop count —
    * the link-distance primitive (crawl-frontier pruning, "within N hops
    * of a seed set" filters). Exact integers, so hash-checkable against
    * a recursive-CTE oracle.
    *
    * Shape per round: one equi-join of the frontier onto the (once
    * materialized, src-partitioned) edge list + an anti-join against the
    * visited set — frontier-sized work, not graph-sized; lineage
    * truncated per round like [[pageRank]]/[[DedupClusters]]. Early-exits
    * when a frontier empties (the count is a per-round driver scalar,
    * same class as CC's convergence check).
    *
    * @param reliableCheckpoint same contract as [[pageRank]]'s: `false`
    *   (default) truncates lineage with `localCheckpoint` — right on a
    *   single node, dies with a lost executor; `true` persists the edge
    *   list and each round's frontier/visited to the SparkContext
    *   checkpoint dir (caller must `setCheckpointDir` on a cluster) so a
    *   deep traversal over a 100 TB graph survives executor loss.
    *   Superseded rounds are reclaimed as the loop goes; the FINAL
    *   visited set stays reliable-backed — after durably writing it,
    *   call [[DedupClusters.reclaimCheckpoint]] on the result. */
  def bfsDepths(
      edges: DataFrame,
      sources: DataFrame,
      maxDepth: Int,
      reliableCheckpoint: Boolean = false
  ): DataFrame = {
    // dropOriginStats: same loop-stats guard as DedupClusters/pageRank
    def ckpt(df: DataFrame): DataFrame =
      org.apache.spark.sql.graftbridge.PlanBridge.dropOriginStats(
        if (reliableCheckpoint) df.checkpoint() else df.localCheckpoint())
    def deleteCkpt(df: DataFrame): Unit =
      if (reliableCheckpoint) DedupClusters.reclaimCheckpoint(df)
    val parts = edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val e = ckpt(edges.repartition(parts, col("src")))
    var frontier = ckpt(sources.select(col("id")).distinct().withColumn("depth", lit(0L)))
    var visited = frontier
    var d = 1
    var done = false
    while (d <= maxDepth && !done) {
      val prevFrontier = frontier
      val prevVisited = visited
      // frontier size rides the checkpoint materialization as an observed
      // metric (r19, the DedupClusters recipe) — the former `isEmpty` was
      // one extra driver job per round
      val nextFrontier = e
        .join(frontier.select(col("id").as("src")), Seq("src"))
        .select(col("dst").as("id"))
        .distinct()
        .join(visited, Seq("id"), "left_anti")
        .withColumn("depth", lit(d.toLong))
        .observe(s"bfs_frontier_$d", count(lit(1)).as("n"))
      frontier = ckpt(nextFrontier)
      val frontierEmpty = nextFrontier.queryExecution.observedMetrics
        .get(s"bfs_frontier_$d").map(_.getLong(0) == 0L)
        .getOrElse(frontier.isEmpty) // defensive fallback
      if (frontierEmpty) {
        done = true
        // the dead-end frontier's files; visited stays prevVisited
        deleteCkpt(frontier)
      } else {
        visited = ckpt(visited.unionByName(frontier))
        // superseded round: both the new frontier and the new visited are
        // materialized self-contained checkpoints, so the previous
        // round's files can go (round 1 aliases frontier==visited — one
        // checkpoint, reclaim once)
        deleteCkpt(prevVisited)
        if (prevFrontier ne prevVisited) deleteCkpt(prevFrontier)
      }
      d += 1
    }
    // the traversal result is self-contained: the edge checkpoint and the
    // last round's frontier (already folded into visited) can go
    deleteCkpt(e)
    if (visited ne frontier) deleteCkpt(frontier)
    visited
  }

  /** Per-node triangle counts via degree-ordered edge orientation.
    *
    * `und` is an undirected simple graph as canonical (a < b) distinct
    * pairs. The naive wedge join (E ⋈ E on the shared endpoint) is
    * quadratic in the max degree — one celebrity node with degree d
    * yields d² wedge candidates. Orienting every edge from its lower
    * (degree, id) endpoint to its higher one caps the OUT-degree of any
    * node at O(√m) (a node with out-degree k has k neighbors of degree
    * ≥ its own, so k² ≤ 2m), which bounds the wedge join at O(m^1.5)
    * total — the standard scale guard for triangle enumeration, and the
    * reason this is not just three self-joins. Each triangle {x,y,z} is
    * enumerated exactly once: from its (degree, id)-lowest vertex, with
    * the other two in (degree, id) order.
    *
    * Shape: two node-sized broadcast-or-shuffle joins to attach degrees,
    * one wedge self-join shuffled on the oriented source, one closing
    * equi-join on (b, c), then an explode + hash agg for per-node
    * counts. No iteration, no driver-side state.
    *
    * The edge list is localCheckpoint'ed once (r18): it feeds the degree
    * aggregation, both degree-attach joins, and the closing-edge side —
    * four consumers that would otherwise each re-execute the caller's
    * (usually expensive) pair-generation subtree. The materialized count
    * is then free, and it can gate the closing join's strategy: the
    * wedge stream is O(m^1.5) rows — the dominant bytes of the whole
    * operator — and the shuffled closing join moves ALL of it over the
    * exchange just to meet the m-row edge side (measured r18 at sf0.1:
    * 475 MB of wedge shuffle write, the single largest exchange in the
    * bench). Broadcasting the EDGE side instead probes wedges where
    * they are generated — zero wedge bytes cross the exchange — but the
    * A/B at sf0.1 measured it SLOWER (7.3–8.0 s vs 5.0–5.6 s walls,
    * paired runs): on one box the compressed loop-back exchange costs
    * less than tens of millions of hash probes against an 880k-row
    * two-long-key relation, so broadcast is an honest local NEGATIVE.
    * On a network-bound cluster the O(m^1.5) exchange bytes dominate
    * instead; GRAFT_TRI_BCAST_MAX (max edge count to broadcast, default
    * 0 = off, matching the local measurement) flips the strategy there.
    * Either way the fallback is shuffled-hash, never sort-merge (which
    * would SORT the wedge stream — measured 100 s of task CPU at
    * sf0.1).
    */
  def triangleCounts(und: DataFrame): DataFrame = {
    val undM = und.select(col("a"), col("b")).localCheckpoint()
    val edgeCount = undM.count()
    val deg = undM
      .select(col("a").as("id"))
      .union(undM.select(col("b").as("id")))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("deg"))
    // Attach both endpoint degrees, then orient low → high. The a < b
    // canonical tiebreak makes (deg, id) a total order, so orientation
    // is deterministic and every edge appears exactly once. Degrees are
    // node-sized → broadcast; at graphs where nodes outgrow executors
    // this becomes two shuffle joins on the edge key, still linear.
    val withDeg = undM
      .join(broadcast(deg.select(col("id").as("a"), col("deg").as("da"))), "a")
      .join(broadcast(deg.select(col("id").as("b"), col("deg").as("db"))), "b")
    val aLower = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    val oriented = withDeg.select(
      when(aLower, col("a")).otherwise(col("b")).as("src"),
      when(aLower, col("b")).otherwise(col("a")).as("dst"),
      when(aLower, col("db")).otherwise(col("da")).as("ddeg")
    )
    // Wedges from each source, destinations in (deg, id) order; the
    // closing edge — if it exists — is oriented b → c by construction.
    // Both joins are hinted SHUFFLE_HASH: sort-merge would SORT the
    // wedge stream (O(m^1.5) rows — the dominant cost, measured 100 s
    // of task CPU at sf0.1) to join it against the edge-sized side;
    // hash-building the small side and streaming wedges through it cuts
    // that to a linear probe. Same finding as the band-key self-joins.
    val e1 = oriented.select(col("src"), col("dst").as("b"), col("ddeg").as("bdeg"))
    val e2 = oriented.select(col("src"), col("dst").as("c"), col("ddeg").as("cdeg"))
    val wedges = e1
      .join(e2.hint("shuffle_hash"), Seq("src"))
      .filter(col("bdeg") < col("cdeg") || (col("bdeg") === col("cdeg") && col("b") < col("c")))
    // closing-edge side: shuffled-hash by default (measured faster on
    // one box — see scaladoc), broadcast when the deployment opts in AND
    // the edge list fits; never sort-merge.
    val closing = oriented.select(col("src").as("b"), col("dst").as("c"))
    // Bloom pre-filter of the wedge stream (r19, guide §3.2): the wedge
    // rows are O(m^1.5) — the dominant bytes of the operator — and only
    // the ones whose (b, c) IS an oriented edge can close a triangle.
    // A bloom over the m edge keys (~1.2 MB per million at 1% fpp — task-
    // binary scale at any graph size where the edge LIST itself is
    // manageable) drops the non-closing mass BEFORE the closing
    // exchange, on both the shuffled-hash default and the broadcast
    // opt-in; false positives are removed by the exact join, false
    // negatives cannot occur. Probe and build hash the same
    // xxhash64(b, c) key expression.
    val bcKey = xxhash64(col("b"), col("c"))
    val bloom = closing.select(bcKey.as("bc")).stat
      .bloomFilter("bc", math.max(1L, edgeCount), 0.01)
    val bridge = org.apache.spark.sql.graftbridge.PlanBridge
    val wedgesPruned = wedges.filter(
      bridge.column(
        graft.functions.BloomMightContain(bridge.expression(bcKey), bloom)))
    val closingSide =
      if (edgeCount <= GraphOps.triBcastMax) broadcast(closing)
      else closing.hint("shuffle_hash")
    val tri = wedgesPruned
      .join(closingSide, Seq("b", "c"))
      .select(col("src").as("x"), col("b").as("y"), col("c").as("z"))
    tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("tri"))
  }

  val queries: Map[String, Q] = Map(
    // PageRank over the part↔supplier co-occurrence graph from lineitem
    // (nodes namespaced: part → 2k, supplier → 2k+1; every lineitem row
    // contributes both directions, so the graph is symmetric and no node
    // dangles). 3 iterations, top 20 nodes by score. The oracle unrolls
    // the same integer recurrence as three chained CTEs — a green hash
    // proves the distributed loop is EXACTLY the sequential definition.
    "graph_pagerank" -> { (spark, dir) =>
      val li = Tables.lineitem(spark, dir)
      val fwd = li.select((col("l_partkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      val edges = fwd
        .union(fwd.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      pageRank(edges, iters = 3)
        .orderBy(col("score_q").desc, col("id").asc)
        .limit(20)
        .select(col("id"), col("score_q"))
    },

    // The FAULT-TOLERANT lineage mode of the same PageRank, oracle-gated
    // at real fixture scale (the dedup_clusters_ckpt recipe applied to
    // the second iterative family): reliableCheckpoint = true persists
    // each round's scores to the SparkContext checkpoint dir, so an
    // executor lost mid-iteration replays from the last round instead of
    // killing a multi-hour run. Shares graph_pagerank's oracle BY
    // REFERENCE: both modes must land the identical integer-grid scores.
    "graph_pagerank_ckpt" -> { (spark, dir) =>
      if (spark.sparkContext.getCheckpointDir.isEmpty)
        spark.sparkContext.setCheckpointDir(Tables.gateScratchDir(spark, dir, "ckpt"))
      val li = Tables.lineitem(spark, dir)
      val fwd = li.select((col("l_partkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      val edges = fwd
        .union(fwd.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      val pr = pageRank(edges, iters = 3, reliableCheckpoint = true)
        .orderBy(col("score_q").desc, col("id").asc)
        .limit(20)
        .select(col("id"), col("score_q"))
      // gate hygiene: materialize (the "durable write" here), then
      // reclaim the converged scores' reliable files so the bench's
      // repeated passes leave nothing in the checkpoint FS
      val out = pr.localCheckpoint()
      DedupClusters.reclaimCheckpoint(pr)
      out
    },

    // Per-node triangle counts over the part–part "bought together"
    // graph (parts co-occurring in one order). The oracle enumerates
    // canonical a<b<c triangles with three plain self-joins — fine at
    // oracle scale, quadratic-in-degree at cluster scale, which is
    // exactly what the degree-ordered Spark plan avoids. Top 20 by
    // (count desc, id asc).
    "graph_triangles" -> { (spark, dir) =>
      val li = Tables
        .lineitem(spark, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val und = li
        .as("x")
        .join(li.as("y"), col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("a"), col("y.pk").as("b"))
        .distinct()
      triangleCounts(und)
        .orderBy(col("tri").desc, col("id").asc)
        .limit(20)
    },

    // BFS hop distance over the same part↔supplier graph: seeds = the
    // graph nodes with id < 10, depths within 4 hops, minimum-hop
    // semantics. The oracle is a recursive CTE taking MIN(depth) over
    // all ≤4-hop paths — a green hash proves the frontier/anti-join
    // loop IS the sequential BFS definition.
    "graph_bfs_depth" -> { (spark, dir) =>
      val li = Tables.lineitem(spark, dir)
      val fwd = li.select((col("l_partkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      val edges = fwd
        .union(fwd.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      val sources = edges.select(col("src").as("id")).distinct().filter(col("id") < 10)
      bfsDepths(edges, sources, maxDepth = 4)
        .orderBy(col("id"))
    },

    // The FAULT-TOLERANT lineage mode of the same BFS — the
    // dedup_clusters_ckpt / graph_pagerank_ckpt recipe, third
    // application: reliableCheckpoint = true persists the edge list and
    // each round's frontier/visited to the SparkContext checkpoint dir,
    // superseded rounds reclaimed as the loop goes. Shares
    // graph_bfs_depth's oracle BY REFERENCE: both modes must land the
    // identical minimum-hop depths.
    "graph_bfs_depth_ckpt" -> { (spark, dir) =>
      if (spark.sparkContext.getCheckpointDir.isEmpty)
        spark.sparkContext.setCheckpointDir(Tables.gateScratchDir(spark, dir, "ckpt"))
      val li = Tables.lineitem(spark, dir)
      val fwd = li.select((col("l_partkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      val edges = fwd
        .union(fwd.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      val sources = edges.select(col("src").as("id")).distinct().filter(col("id") < 10)
      val depths = bfsDepths(edges, sources, maxDepth = 4, reliableCheckpoint = true)
        .orderBy(col("id"))
      // gate hygiene (the pagerank_ckpt precedent): materialize, then
      // reclaim the result's reliable files so repeated passes leave
      // nothing in the checkpoint FS
      val out = depths.localCheckpoint()
      DedupClusters.reclaimCheckpoint(depths)
      out
    },

    // "Also bought" top-3 recommendations from the same co-occurrence
    // graph: weighted edges (number of orders containing both parts),
    // symmetrized, top 3 per part by (count desc, part asc) — a
    // part-partitioned window, never global. The part ≤ 200 output bound
    // sits on the window's PARTITION key, so Catalyst pushes it below
    // the window and the ranked join prunes; counts are integers, ties
    // deterministic.
    "graph_also_bought" -> { (spark, dir) =>
      val li = Tables
        .lineitem(spark, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val perOrder = li
        .as("x")
        .join(li.as("y"), col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .select(col("x.ok").as("ok"), col("x.pk").as("a"), col("y.pk").as("b"))
        .distinct()
      val cnt = perOrder.groupBy(col("a"), col("b")).agg(count(lit(1)).as("n"))
      val sym = cnt
        .select(col("a").as("part"), col("b").as("rec"), col("n"))
        .unionAll(cnt.select(col("b").as("part"), col("a").as("rec"), col("n")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("part"))
        .orderBy(col("n").desc, col("rec").asc)
      sym
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3 && col("part") <= 200)
        .select(col("part"), col("rnk"), col("rec"), col("n"))
        .orderBy(col("part"), col("rnk"))
    }
  )

  /** One unrolled iteration: scores `prev` → new per-node mass. */
  private def duckIter(prev: String): String =
    s"""SELECT n.id,
       |  CAST(150000000000 + COALESCE(SUM(($prev.s * 17 // 20) // deg.d), 0) AS BIGINT) AS s
       |FROM nodes n
       |LEFT JOIN e ON e.dst = n.id
       |LEFT JOIN $prev ON $prev.id = e.src
       |LEFT JOIN deg ON deg.src = e.src
       |GROUP BY n.id""".stripMargin

  private val pagerankOracle: String =
    s"""WITH f AS (
       |  SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM lineitem),
       |e AS (SELECT src, dst FROM f UNION SELECT dst, src FROM f),
       |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
       |nodes AS (SELECT DISTINCT src AS id FROM e),
       |it0 AS (SELECT id, CAST(1000000000000 AS BIGINT) AS s FROM nodes),
       |it1 AS (${duckIter("it0")}),
       |it2 AS (${duckIter("it1")}),
       |it3 AS (${duckIter("it2")})
       |SELECT id, s AS score_q FROM it3
       |ORDER BY score_q DESC, id ASC LIMIT 20""".stripMargin

  private val bfsOracle: String =
    """WITH RECURSIVE f AS (
      |  SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM lineitem),
      |e AS (SELECT src, dst FROM f UNION SELECT dst, src FROM f),
      |bfs(id, depth) AS (
      |  SELECT DISTINCT src AS id, CAST(0 AS BIGINT) AS depth FROM e WHERE src < 10
      |  UNION
      |  SELECT e.dst, bfs.depth + 1 FROM bfs JOIN e ON e.src = bfs.id
      |  WHERE bfs.depth < 4)
      |SELECT id, MIN(depth) AS depth FROM bfs GROUP BY id ORDER BY id""".stripMargin

  val oracles: Map[String, String] = Map(
    "graph_pagerank" -> pagerankOracle,
    // reliable-checkpoint mode must land the IDENTICAL scores
    "graph_pagerank_ckpt" -> pagerankOracle,
    "graph_bfs_depth" -> bfsOracle,
    // reliable-checkpoint mode must land the IDENTICAL depths
    "graph_bfs_depth_ckpt" -> bfsOracle,
    "graph_triangles" ->
      """WITH e AS (
        |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
        |t AS (
        |  SELECT e1.a, e1.b, e2.b AS c
        |  FROM e e1
        |  JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |n AS (
        |  SELECT a AS id FROM t
        |  UNION ALL SELECT b FROM t
        |  UNION ALL SELECT c FROM t)
        |SELECT id, COUNT(*) AS tri FROM n GROUP BY id
        |ORDER BY tri DESC, id ASC LIMIT 20""".stripMargin,
    "graph_also_bought" ->
      """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |po AS (
        |  SELECT DISTINCT x.ok, x.pk AS a, y.pk AS b
        |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
        |c AS (SELECT a, b, COUNT(*) AS n FROM po GROUP BY a, b),
        |s AS (SELECT a AS part, b AS rec, n FROM c
        |      UNION ALL SELECT b, a, n FROM c),
        |r AS (SELECT part, rec, n, CAST(ROW_NUMBER() OVER (
        |  PARTITION BY part ORDER BY n DESC, rec ASC) AS BIGINT) AS rnk FROM s)
        |SELECT part, rnk, rec, n FROM r WHERE rnk <= 3 AND part <= 200
        |ORDER BY part, rnk""".stripMargin
  )
}
