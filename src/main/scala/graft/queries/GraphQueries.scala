package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Graph analytics over two graphs derived from the TPC-H fact table, each
  * a named query with a DuckDB oracle:
  *   - the nation trade graph ([[nationShipments]]): customer nation →
  *     supplier nation per lineitem, at most |nations|² edges at any scale;
  *   - the co-purchase graph ([[copurchasePairsRaw]]): parts bought in the
  *     same order, |E| growing with the corpus.
  * Iterative queries run a FIXED number of rounds, so the oracle can unroll
  * them, and barrier rounds with localCheckpoint so a round's plan does not
  * re-evaluate the fact join once per earlier round.
  */
object GraphQueries extends QueryModule {

  /** lineitem ⋈ orders ⋈ customer ⋈ supplier, projected to the keys: one
    * row per lineitem carrying the buyer's `c_nationkey` and the seller's
    * `s_nationkey`. The nation trade graph of every nation-level query is
    * an aggregate of this. Only the fact ⋈ orders join shuffles; both
    * dimensions broadcast.
    */
  private[queries] def nationShipments(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.load(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey")
    val o = Tables.load(s, dir, "orders").select($"o_orderkey", $"o_custkey")
    val c = Tables.load(s, dir, "customer").select($"c_custkey", $"c_nationkey")
    val sup = Tables.load(s, dir, "supplier").select($"s_suppkey", $"s_nationkey")
    li.join(o, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(c), $"o_custkey" === $"c_custkey")
      .join(broadcast(sup), $"l_suppkey" === $"s_suppkey")
  }

  /** The directed nation trade graph (src, dst, w): w shipments from
    * customer nation src to supplier nation dst. */
  private def nationTradeEdges(s: SparkSession, dir: String): DataFrame =
    nationShipments(s, dir)
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(count(lit(1)).as("w"))

  /** The undirected, unweighted nation trade graph: distinct pairs a < b,
    * self-trade dropped — the oriented edge list [[triangles]] needs. */
  private def nationPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    nationShipments(s, dir)
      .filter($"c_nationkey" =!= $"s_nationkey")
      .select(least($"c_nationkey", $"s_nationkey").as("a"),
        greatest($"c_nationkey", $"s_nationkey").as("b"))
      .distinct()
  }

  /** Every ordered pair (x, y), x before y, of each row's sorted array
    * column `arr`, generated map-side by posexplode + slice. Used in place
    * of a self-join on the grouping key, which costs two more shuffles;
    * the arrays are bounded by the data model (a basket, a part's
    * suppliers, a capped neighbor set), not by the corpus. */
  private def orderedPairs(df: DataFrame, arr: String, x: String, y: String): DataFrame =
    df.select(posexplode(col(arr)).as(Seq("i", x)), col(arr))
      .select(col(x), explode(slice(col(arr), col("i") + lit(2),
        size(col(arr)) - col("i") - lit(1))).as(y))

  /** Co-purchase pairs (a, b), a < b: two parts in the same order, from
    * each order's sorted basket (at most 7 parts at any TPC-H scale), so
    * the only shuffle groups items by order (build 3.1 → 2.0 s at sf0.1
    * against the self-join, same edge set). Returned before the distinct,
    * so a caller that samples edges (doulion's md5 coin) filters before
    * the dedup shuffle.
    */
  private def copurchasePairsRaw(s: SparkSession, dir: String): DataFrame =
    orderedPairs(Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .groupBy(col("o")).agg(sort_array(collect_set(col("p"))).as("ps")),
      "ps", "a", "b")

  /** Every triangle a < b < c of an oriented edge list e(a, b), a < b,
    * exactly once: e1(a,b) ⋈ e2(b,c) ⋈ the closing e3(a,c). Columns stay
    * qualified by the aliases e1, e2, e3. */
  private def triangles(e: DataFrame): DataFrame =
    e.alias("e1")
      .join(e.alias("e2"), col("e1.b") === col("e2.a"))
      .join(e.alias("e3"),
        col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))

  /** (node, n_triangles): the triangles each node is a corner of. */
  private def trianglesPerNode(e: DataFrame): DataFrame =
    triangles(e)
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))

  /** Per-edge triangle support by the edge-iterator identity
    * sup(a, b) = |N(a) ∩ N(b)|: two |E|-row equi joins bring both
    * endpoints' sorted adjacency arrays onto the edge row, and a native
    * two-pointer merge counts the intersection in place. Nothing
    * wedge-sized crosses an exchange; the work is Σ_e deg(a) + deg(b)
    * merge steps, and the largest adjacency array bounds row skew. The
    * wedge-join form it replaced shuffled ~41 M wedge rows per pass at
    * sf0.1.
    *
    * Both joins hash the |V|-row adjacency side (`shuffle_hash`): under
    * sort-merge the second join sorts the |E|-row intermediate that
    * already carries one endpoint's array, and that sort spilled ~70 GB
    * at sf10.
    */
  private def support(ed: DataFrame): DataFrame = {
    graft.functions.SketchFunctions.register(ed.sparkSession)
    val adj = ed.select(col("a").as("n"), col("b").as("m"))
      .union(ed.select(col("b").as("n"), col("a").as("m")))
      .groupBy(col("n")).agg(sort_array(collect_list(col("m"))).as("nbrs"))
    ed.join(adj.select(col("n").as("a"), col("nbrs").as("na")).hint("shuffle_hash"), "a")
      .join(adj.select(col("n").as("b"), col("nbrs").as("nb")).hint("shuffle_hash"), "b")
      .select(col("a"), col("b"),
        graft.functions.SketchFunctions
          .sortedIntersectCount(col("na"), col("nb")).as("sup"))
  }

  /** k-truss peel at k − 2 = 12 in three support passes: round 0 on `e`,
    * rounds 1 and 2 on the edges whose support was ≥ 12 the round before
    * (peeling cascades, so each round re-counts on the survivors). Each
    * checkpointed pass serves both its round's (n_edges, min_support,
    * max_support) row and the next peel, so support runs once per round.
    */
  private def peelRounds(e: DataFrame): DataFrame = {
    def stats(sup: DataFrame, r: Long): DataFrame =
      sup.agg(count(lit(1)).as("n_edges"),
        min(col("sup")).as("min_support"), max(col("sup")).as("max_support"))
        .select(lit(r).as("round"), col("n_edges"), col("min_support"),
          col("max_support"))
    val sup0 = support(e).localCheckpoint()
    val sup1 = support(sup0.filter(col("sup") >= 12L).select(col("a"), col("b")))
      .localCheckpoint()
    val sup2 = support(sup1.filter(col("sup") >= 12L).select(col("a"), col("b")))
      .localCheckpoint()
    stats(sup0, 0L).unionByName(stats(sup1, 1L))
      .unionByName(stats(sup2, 2L))
      .orderBy(col("round"))
  }

  /** One damped fixed-point PageRank step over weighted edges
    * (src, dst, w) with out-weights `outw` (src, ow), in BIGINT rank
    * units: in(dst) = Σ_src (r(src)·w) DIV ow(src), then on every row of
    * `base` r' = `teleport` + (85·in) DIV 100. Integral DIV keeps each
    * sum order-independent, so both engines agree exactly. Returns the
    * `keep` columns of `base` plus r.
    */
  private def pageRankStep(edges: DataFrame, outw: DataFrame, r: DataFrame,
      base: DataFrame, keep: Seq[String], teleport: String): DataFrame = {
    val incoming = edges
      .join(broadcast(outw), "src")
      .join(broadcast(r.withColumnRenamed("node", "src")
        .select(col("src"), col("r"))), "src")
      .selectExpr("dst", "(r * w) DIV ow AS c")
      .groupBy(col("dst")).agg(sum(col("c")).as("inr"))
    base.join(broadcast(incoming), col("node") === col("dst"), "left")
      .selectExpr(keep :+ s"$teleport + (85 * coalesce(inr, 0L)) DIV 100 AS r": _*)
  }

  /** The weighted undirected nation trade graph and its 2-round
    * label-propagation communities, built once for
    * `graph_label_propagation`, `graph_community_modularity` (which must
    * score the same partition) and `graph_assortativity`. Returns
    * (edges (src, dst, w) with both directions stored, labels (node, lbl)).
    * Rounds are synchronous and ties go to the smallest label
    * (`max(struct(wsum, −lbl))`), so the labels are a pure function of
    * the graph.
    */
  private def nationTradeCommunities(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val dir0 = nationShipments(s, dir)
      .filter($"c_nationkey" =!= $"s_nationkey")
      .groupBy($"c_nationkey".as("a"), $"s_nationkey".as("b"))
      .agg(count(lit(1)).as("w"))
    // Each directed pair adds its weight both ways. The edge list is at
    // most |nations|² rows but callers read it 3–5 times (label rounds,
    // degree, total and internal weight); without the checkpoint
    // graph_community_modularity's plan re-ran the four-table join
    // 162 scans deep.
    val edges = dir0.select($"a".as("src"), $"b".as("dst"), $"w")
      .unionByName(dir0.select($"b".as("src"), $"a".as("dst"), $"w"))
      .groupBy($"src", $"dst").agg(sum($"w").as("w"))
      .localCheckpoint()
    val nodes = Tables.load(s, dir, "nation").select($"n_nationkey".as("node"))
    def round(lbl: DataFrame): DataFrame = {
      val adopted = edges
        .join(broadcast(lbl.withColumnRenamed("node", "dst")), "dst")
        .groupBy($"src", $"lbl").agg(sum($"w").as("wsum"))
        .groupBy($"src")
        .agg(max(struct($"wsum", (-$"lbl").as("nl"))).as("m"))
        .select($"src".as("node"), (-$"m.nl").as("lbl"))
      // isolated nodes keep their label
      nodes.join(broadcast(adopted), Seq("node"), "left")
        .select($"node", coalesce($"lbl", $"node".cast("long")).as("lbl"))
    }
    val l0 = nodes.select($"node", $"node".cast("long").as("lbl"))
    // modularity's internal-weight join reads the labels twice; the
    // checkpoint runs the two label rounds once
    (edges, round(round(l0)).localCheckpoint())
  }

  val defs: Seq[QueryDef] = Seq(

    // ── PageRank over the nation trade graph (weight = shipment count):
    //    two damped iterations (d = 0.85) of [[pageRankStep]] in
    //    fixed-point integers — ranks scale by 1e9 and every divide is an
    //    integral DIV, so the result is exact in both engines, which
    //    double-precision PageRank can never be. The edge build is the
    //    one heavy join; each iteration joins the |edges|-row table with
    //    a broadcast |nodes|-row rank frame and never touches the fact
    //    table. Dangling nodes (no out-edges) contribute nothing; their
    //    mass evaporates (the simplified variant). ───────────────────────
    QueryDef("graph_pagerank_fixed",
      (s, dir) => {
        import s.implicits._
        val edges = nationTradeEdges(s, dir)
        val nodes = Tables.load(s, dir, "nation").select($"n_nationkey".as("node"))
        val nn = nodes.agg(count(lit(1)).as("nn")) // 1-row broadcast scalar
        val outw = edges.groupBy($"src").agg(sum($"w").as("ow"))
        val r0 = nodes.crossJoin(broadcast(nn))
          .selectExpr("node", "1000000000 DIV nn AS r")
        // uniform teleport 15e9 DIV (100·nn)
        def iterate(r: DataFrame): DataFrame =
          pageRankStep(edges, outw, r, nodes.crossJoin(broadcast(nn)),
            Seq("node"), "15000000000 DIV (100 * nn)")
        val r1 = iterate(r0)
        val r2 = iterate(r1)
        r1.withColumnRenamed("r", "rank_i1")
          .join(r2.withColumnRenamed("r", "rank_i2"), "node")
          .orderBy($"node")
      },
      Some("""WITH e AS (
          SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
            CAST(count(*) AS BIGINT) AS w
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN supplier s ON l.l_suppkey = s.s_suppkey
          GROUP BY 1, 2),
        n AS (SELECT n_nationkey AS node FROM nation),
        cnt AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM n),
        ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM e GROUP BY 1),
        r0 AS (SELECT node, 1000000000 // nn AS r FROM n CROSS JOIN cnt),
        c1 AS (SELECT e.dst, CAST(sum((r0.r * e.w) // ow.ow) AS BIGINT) AS inr
          FROM e JOIN ow ON e.src = ow.src JOIN r0 ON e.src = r0.node GROUP BY 1),
        r1 AS (SELECT n.node,
            15000000000 // (100 * cnt.nn) + (85 * coalesce(c1.inr, 0)) // 100 AS r
          FROM n CROSS JOIN cnt LEFT JOIN c1 ON n.node = c1.dst),
        c2 AS (SELECT e.dst, CAST(sum((r1.r * e.w) // ow.ow) AS BIGINT) AS inr
          FROM e JOIN ow ON e.src = ow.src JOIN r1 ON e.src = r1.node GROUP BY 1),
        r2 AS (SELECT n.node,
            15000000000 // (100 * cnt.nn) + (85 * coalesce(c2.inr, 0)) // 100 AS r
          FROM n CROSS JOIN cnt LEFT JOIN c2 ON n.node = c2.dst)
        SELECT r1.node, CAST(r1.r AS BIGINT) AS rank_i1, CAST(r2.r AS BIGINT) AS rank_i2
        FROM r1 JOIN r2 ON r1.node = r2.node ORDER BY r1.node""")),

    // ── HITS hubs & authorities over the nation trade graph (the
    //    directed companion to PageRank: a good HUB nation buys from
    //    many good suppliers, a good AUTHORITY nation supplies many good
    //    buyers — the two-score decomposition PageRank's single score
    //    can't express): two mutual-reinforcement iterations in
    //    fixed-point integers — a(v) = Σ h(u)·w, h(u) = Σ a(v)·w, each
    //    rescaled to max = 1e9 via an integral DIV against the 1-row
    //    broadcast max (the pagerank_fixed discipline: BIGINT sums,
    //    order-independent, partitioning-proof). Iteration cost is
    //    |edges|-sized; the fact table is touched once. ─────────────────
    QueryDef("graph_hits_power",
      (s, dir) => {
        import s.implicits._
        val edges = nationTradeEdges(s, dir)
          // All 4 steps read `edges`, each rescale reads its input twice
          // and the output reads a2 twice: without the checkpoint the
          // final plan re-runs the edge build ~44 times (5.7 s vs ~1 s
          // at sf0.1). Each |nodes|-row step is checkpointed for the same
          // reason.
          .localCheckpoint()
        val nodes = Tables.load(s, dir, "nation").select($"n_nationkey".as("node"))
        // the ×1e9 product passes 2^63 at sf10 — DECIMAL(38,0) DIV is
        // exact integral division in Spark (bigint result), HUGEINT //
        // its DuckDB twin
        def rescale(x: DataFrame, col0: String): DataFrame = {
          val mx = x.agg(max(col(col0)).as("mx"))
          x.crossJoin(broadcast(mx))
            .selectExpr("node",
              s"(CAST($col0 AS DECIMAL(38,0)) * 1000000000) DIV mx AS $col0")
            .localCheckpoint()
        }
        val h0 = nodes.selectExpr("node", "CAST(1000000000 AS BIGINT) AS h")
        def authStep(h: DataFrame): DataFrame = rescale(
          nodes.join(broadcast(edges
              .join(broadcast(h.withColumnRenamed("node", "src")), "src")
              .groupBy($"dst").agg(sum($"h" * $"w").as("a"))),
            $"node" === $"dst", "left")
            .selectExpr("node", "coalesce(a, 0) AS a"), "a")
        def hubStep(a: DataFrame): DataFrame = rescale(
          nodes.join(broadcast(edges
              .join(broadcast(a.withColumnRenamed("node", "dst")), "dst")
              .groupBy($"src").agg(sum($"a" * $"w").as("h"))),
            $"node" === $"src", "left")
            .selectExpr("node", "coalesce(h, 0) AS h"), "h")
        val a1 = authStep(h0); val h1 = hubStep(a1)
        val a2 = authStep(h1); val h2 = hubStep(a2)
        a2.withColumnRenamed("a", "authority")
          .join(h2.withColumnRenamed("h", "hub"), "node")
          .orderBy($"node")
      },
      Some("""WITH e AS (
          SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
            CAST(count(*) AS BIGINT) AS w
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN supplier s ON l.l_suppkey = s.s_suppkey
          GROUP BY 1, 2),
        n AS (SELECT n_nationkey AS node FROM nation),
        h0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS h FROM n),
        a1r AS (SELECT n.node,
            coalesce((SELECT CAST(sum(h0.h * e.w) AS BIGINT) FROM e
              JOIN h0 ON e.src = h0.node WHERE e.dst = n.node), 0) AS a
          FROM n),
        a1 AS (SELECT node, CAST(CAST(a AS HUGEINT) * 1000000000 // (SELECT max(a) FROM a1r) AS BIGINT)
            AS a FROM a1r),
        h1r AS (SELECT n.node,
            coalesce((SELECT CAST(sum(a1.a * e.w) AS BIGINT) FROM e
              JOIN a1 ON e.dst = a1.node WHERE e.src = n.node), 0) AS h
          FROM n),
        h1 AS (SELECT node, CAST(CAST(h AS HUGEINT) * 1000000000 // (SELECT max(h) FROM h1r) AS BIGINT)
            AS h FROM h1r),
        a2r AS (SELECT n.node,
            coalesce((SELECT CAST(sum(h1.h * e.w) AS BIGINT) FROM e
              JOIN h1 ON e.src = h1.node WHERE e.dst = n.node), 0) AS a
          FROM n),
        a2 AS (SELECT node, CAST(CAST(a AS HUGEINT) * 1000000000 // (SELECT max(a) FROM a2r) AS BIGINT)
            AS a FROM a2r),
        h2r AS (SELECT n.node,
            coalesce((SELECT CAST(sum(a2.a * e.w) AS BIGINT) FROM e
              JOIN a2 ON e.dst = a2.node WHERE e.src = n.node), 0) AS h
          FROM n),
        h2 AS (SELECT node, CAST(CAST(h AS HUGEINT) * 1000000000 // (SELECT max(h) FROM h2r) AS BIGINT)
            AS h FROM h2r)
        SELECT a2.node, CAST(a2.a AS BIGINT) AS authority,
          CAST(h2.h AS BIGINT) AS hub
        FROM a2 JOIN h2 ON a2.node = h2.node ORDER BY a2.node""")),

    // ── per-node triangle participation over the undirected nation trade
    //    graph — the clustering-coefficient numerator and the canonical
    //    distributed graph-join benchmark. Edges orient low→high id
    //    (a<b), so each triangle a<b<c is enumerated exactly once by the
    //    two-hop self-join e(a,b) ⋈ e(b,c) ⋈ closure e(a,c) — the
    //    standard MR triangle algorithm (at web scale you orient by
    //    DEGREE instead of id, which bounds the join fan-out to O(m^1.5)
    //    regardless of hot vertices — noted, same plan shape). Every
    //    count is an integer; the corner-role union + groupBy is exact
    //    in any engine. ──────────────────────────────────────────────────
    QueryDef("graph_triangle_count",
      (s, dir) => {
        trianglesPerNode(nationPairs(s, dir)).orderBy(col("node"))
      },
      Some("""WITH e AS (
          SELECT DISTINCT least(c.c_nationkey, s.s_nationkey) AS a,
            greatest(c.c_nationkey, s.s_nationkey) AS b
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN supplier s ON l.l_suppkey = s.s_suppkey
          WHERE c.c_nationkey <> s.s_nationkey),
        tri AS (
          SELECT e1.a AS x, e1.b AS y, e2.b AS z
          FROM e e1 JOIN e e2 ON e1.b = e2.a
          JOIN e e3 ON e1.a = e3.a AND e2.b = e3.b),
        corners AS (
          SELECT x AS node FROM tri UNION ALL
          SELECT y FROM tri UNION ALL
          SELECT z FROM tri)
        SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
        FROM corners GROUP BY node ORDER BY node""")),

    // ── DOULION approximate triangle counting (Tsourakakis et al.,
    //    KDD'09) on the co-purchase graph — the scale answer when even
    //    the oriented O(m^1.5) exact join is too big: sparsify edges
    //    with coin p = 1/4, count triangles EXACTLY on the sample, and
    //    scale by p⁻³ = 64 (each surviving triangle needed all three
    //    edges kept, so E[est] is unbiased; variance concentrates for
    //    pm ≫ 1). The coin is md5(a:b) nibble < '4' — a pure function
    //    of the edge, so any engine / rerun / partitioning draws the
    //    SAME sample and the estimate is deterministic, exactly
    //    replayable in SQL. The coin lands BEFORE the edge distinct
    //    (pure per-pair predicate ⇒ same kept set, and the FULL edge
    //    relation never materializes or shuffles — the point of
    //    sparsifying; measured 3.55 → ~1.3 s at sf0.1): work drops ~p
    //    on the dedup shuffle and ~p^1.5 on the triangle join fan-out.
    //    |E| itself is reported as the unbiased 4·|kept| estimate, NOT
    //    counted exactly — counting it would force the full distinct
    //    this operator exists to avoid; `graph_triangle_count` stays
    //    the exact anchor. ──────────────────────────────────────────────
    QueryDef("graph_triangle_doulion",
      (s, dir) => {
        import s.implicits._
        // the coin lands before the distinct: the full edge relation is
        // never deduplicated or shuffled
        val kept = copurchasePairsRaw(s, dir)
          .filter(
            substring(md5(concat($"a".cast("string"), lit(":"),
              $"b".cast("string"))), 1, 1) < "4")
          .distinct()
          .localCheckpoint() // read 4 times: the count and 3 join sides
        kept.agg(count(lit(1)).as("n_kept"))
          .crossJoin(broadcast(
            triangles(kept).agg(count(lit(1)).as("n_tri_sampled"))))
          .select($"n_kept", ($"n_kept" * 4L).as("est_edges"),
            $"n_tri_sampled",
            ($"n_tri_sampled" * 64L).as("est_triangles"))
      },
      Some("""WITH io AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
          FROM lineitem),
        k AS (SELECT DISTINCT x.p AS a, y.p AS b
          FROM io x JOIN io y ON x.o = y.o AND x.p < y.p
          WHERE substr(md5(CAST(x.p AS VARCHAR) || ':' || CAST(y.p AS VARCHAR)),
            1, 1) < '4'),
        tri AS (SELECT CAST(count(*) AS BIGINT) AS n_tri_sampled
          FROM k e1 JOIN k e2 ON e1.b = e2.a
          JOIN k e3 ON e1.a = e3.a AND e2.b = e3.b)
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM k) AS n_kept,
          (SELECT CAST(count(*) * 4 AS BIGINT) FROM k) AS est_edges,
          n_tri_sampled, n_tri_sampled * 64 AS est_triangles
        FROM tri""")),

    // ── deterministic label propagation (2 synchronous rounds): the
    //    community-detection baseline on the nation trade graph. Every
    //    node starts labeled with its own id; each round it adopts its
    //    neighbors' WEIGHTED modal label, ties to the SMALLEST label —
    //    the argmax is `max(struct(weight_sum, −label))`, a
    //    partial-mergeable aggregate, so a round is ONE join + ONE
    //    hash aggregate over the undirected edge list (no window, no
    //    iteration state on the driver). Synchronous rounds + total
    //    tie order ⇒ the fixpoint trajectory is a pure function of the
    //    graph — engine-exact. ─────────────────────────────────────────
    QueryDef("graph_label_propagation",
      (s, dir) => {
        import s.implicits._
        val (_, labels) = nationTradeCommunities(s, dir)
        labels
          .select($"node", $"lbl".cast("long").as("community"))
          .orderBy($"node")
      },
      Some("""WITH d0 AS (
          SELECT c.c_nationkey AS a, s.s_nationkey AS b, CAST(count(*) AS BIGINT) AS w
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN supplier s ON l.l_suppkey = s.s_suppkey
          WHERE c.c_nationkey <> s.s_nationkey
          GROUP BY 1, 2),
        e AS (SELECT src, dst, CAST(sum(w) AS BIGINT) AS w FROM (
            SELECT a AS src, b AS dst, w FROM d0
            UNION ALL SELECT b, a, w FROM d0) u GROUP BY 1, 2),
        n AS (SELECT n_nationkey AS node FROM nation),
        l0 AS (SELECT node, CAST(node AS BIGINT) AS lbl FROM n),
        a1 AS (SELECT e.src, l0.lbl, CAST(sum(e.w) AS BIGINT) AS wsum
          FROM e JOIN l0 ON e.dst = l0.node GROUP BY 1, 2),
        p1 AS (SELECT src AS node, lbl FROM (SELECT src, lbl,
            row_number() OVER (PARTITION BY src ORDER BY wsum DESC, lbl ASC) AS rn
          FROM a1) t WHERE rn = 1),
        l1 AS (SELECT n.node, coalesce(p1.lbl, CAST(n.node AS BIGINT)) AS lbl
          FROM n LEFT JOIN p1 ON n.node = p1.node),
        a2 AS (SELECT e.src, l1.lbl, CAST(sum(e.w) AS BIGINT) AS wsum
          FROM e JOIN l1 ON e.dst = l1.node GROUP BY 1, 2),
        p2 AS (SELECT src AS node, lbl FROM (SELECT src, lbl,
            row_number() OVER (PARTITION BY src ORDER BY wsum DESC, lbl ASC) AS rn
          FROM a2) t WHERE rn = 1),
        l2 AS (SELECT n.node, coalesce(p2.lbl, CAST(n.node AS BIGINT)) AS lbl
          FROM n LEFT JOIN p2 ON n.node = p2.node)
        SELECT node, CAST(lbl AS BIGINT) AS community FROM l2 ORDER BY node""")),

    // ── harmonic centrality on the nation trade graph (the
    //    disconnected-safe closeness: C(u) = Σ_v 1/d(u,v) — unreachable
    //    nodes contribute 0 instead of poisoning the mean, which is why
    //    it replaced classic closeness in practice): all-sources BFS on
    //    the bounded |nations|² state (3 fixed min-relaxation rounds,
    //    the graph_bfs_distance contract, localCheckpoint per round),
    //    and because every finite distance here is ≤ 3, the reciprocal
    //    sum is EXACT INTEGER arithmetic — Σ 6 DIV d with 6/d ∈
    //    {6,3,2} — no float anywhere. Beyond-3-hop pairs count as
    //    unreached (documented bounded-round contract). ──────────────────
    QueryDef("graph_harmonic_centrality",
      (s, dir) => {
        import s.implicits._
        val e0 = nationShipments(s, dir)
          .filter($"c_nationkey" =!= $"s_nationkey")
          .select(least($"c_nationkey", $"s_nationkey").cast("long").as("a"),
            greatest($"c_nationkey", $"s_nationkey").cast("long").as("b"))
          .distinct()
        val edges = e0.union(e0.select($"b".as("a"), $"a".as("b")))
          .localCheckpoint()
        val nodes = edges.select($"a".as("node")).distinct()
        val d0 = nodes.select($"node".as("src"), $"node".as("v"), lit(0L).as("d"))
        val dist = (1 to 3).foldLeft(d0.localCheckpoint()) { (dst, _) =>
          dst.union(
            dst.join(edges, dst("v") === edges("a"))
              .select(dst("src"), edges("b").as("v"), (dst("d") + 1L).as("d")))
            .groupBy($"src", $"v").agg(min($"d").as("d"))
            .localCheckpoint()
        }
        dist.filter($"d" > 0L)
          .groupBy($"src")
          .agg(count(lit(1)).as("n_reached"),
            sum(expr("6 DIV d")).as("harmonic_x6"))
          .orderBy($"src")
      },
      Some("""WITH e0 AS MATERIALIZED (
          SELECT DISTINCT CAST(least(c.c_nationkey, s.s_nationkey) AS BIGINT)
              AS a,
            CAST(greatest(c.c_nationkey, s.s_nationkey) AS BIGINT) AS b
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN supplier s ON s.s_suppkey = l.l_suppkey
          WHERE c.c_nationkey <> s.s_nationkey),
        e AS MATERIALIZED (SELECT a, b FROM e0
          UNION ALL SELECT b AS a, a AS b FROM e0),
        n AS (SELECT DISTINCT a AS node FROM e),
        d0 AS (SELECT node AS src, node AS v, CAST(0 AS BIGINT) AS d FROM n),
        d1 AS (SELECT src, v, CAST(min(d) AS BIGINT) AS d FROM (
            SELECT src, v, d FROM d0
            UNION ALL SELECT d0.src, e.b AS v, d0.d + 1 AS d
            FROM d0 JOIN e ON e.a = d0.v) GROUP BY src, v),
        d2 AS (SELECT src, v, CAST(min(d) AS BIGINT) AS d FROM (
            SELECT src, v, d FROM d1
            UNION ALL SELECT d1.src, e.b AS v, d1.d + 1 AS d
            FROM d1 JOIN e ON e.a = d1.v) GROUP BY src, v),
        d3 AS (SELECT src, v, CAST(min(d) AS BIGINT) AS d FROM (
            SELECT src, v, d FROM d2
            UNION ALL SELECT d2.src, e.b AS v, d2.d + 1 AS d
            FROM d2 JOIN e ON e.a = d2.v) GROUP BY src, v)
        SELECT src, CAST(count(*) AS BIGINT) AS n_reached,
          CAST(sum(6 // d) AS BIGINT) AS harmonic_x6
        FROM d3 WHERE d > 0 GROUP BY src ORDER BY src""")),

    // ── k-core peeling on the customer–supplier trade graph (the
    //    community-trimming primitive: iteratively drop nodes with
    //    degree < k until the dense core remains — spam/bot subgraph
    //    mining, graph-based dedup seeding). FIXED 3 peel rounds, the
    //    same bounded-iteration contract as graph_pagerank_fixed /
    //    embed_kmeans: every round is one hash-agg degree count + two
    //    shuffle SEMI joins against the ≥k survivor set — no driver
    //    state, no convergence flag read back, deterministic at any
    //    partitioning. Node ids disjoint by parity (cust·2 / supp·2+1);
    //    undirected degrees via the doubled edge list. Output: surviving
    //    nodes and their residual degree after round 3. ────────────────
    QueryDef("graph_kcore_peel",
      (s, dir) => {
        import s.implicits._
        val e0 = Tables.load(s, dir, "orders")
          .join(Tables.load(s, dir, "lineitem"),
            $"o_orderkey" === $"l_orderkey")
          .select(($"o_custkey" * 2).as("a"), ($"l_suppkey" * 2 + 1).as("b"))
          .distinct()
        // localCheckpoint per round (the dedup_clusters iteration
        // pattern): each round references `edges` three times (degree
        // count + two semi-join branches), so without a materialization
        // barrier round 3's plan re-evaluates the base orders⋈lineitem
        // join 3³ times — measured 6.7 s at sf0.1 vs ~1 s checkpointed.
        var edges = e0.select($"a".as("src"), $"b".as("dst"))
          .union(e0.select($"b".as("src"), $"a".as("dst")))
          .localCheckpoint()
        for (_ <- 1 to 3) {
          val alive = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
            .filter($"deg" >= 3).select($"src".as("node"))
          edges = edges
            .join(alive.select($"node".as("src")), Seq("src"), "left_semi")
            .join(alive.select($"node".as("dst")), Seq("dst"), "left_semi")
            .select($"src", $"dst")
            .localCheckpoint()
        }
        edges.groupBy($"src").agg(count(lit(1)).as("degree"))
          .select(
            when($"src" % 2 === 0, lit("cust")).otherwise(lit("supp"))
              .as("kind"),
            expr("src DIV 2").as("key"), $"degree")
          .orderBy($"kind", $"key")
      },
      Some("""WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS a,
            l_suppkey * 2 + 1 AS b
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        ed0 AS (SELECT a AS src, b AS dst FROM e0
          UNION ALL SELECT b, a FROM e0),
        a1 AS (SELECT src FROM ed0 GROUP BY src HAVING count(*) >= 3),
        ed1 AS (SELECT src, dst FROM ed0 WHERE src IN (SELECT src FROM a1)
          AND dst IN (SELECT src FROM a1)),
        a2 AS (SELECT src FROM ed1 GROUP BY src HAVING count(*) >= 3),
        ed2 AS (SELECT src, dst FROM ed1 WHERE src IN (SELECT src FROM a2)
          AND dst IN (SELECT src FROM a2)),
        a3 AS (SELECT src FROM ed2 GROUP BY src HAVING count(*) >= 3),
        ed3 AS (SELECT src, dst FROM ed2 WHERE src IN (SELECT src FROM a3)
          AND dst IN (SELECT src FROM a3)),
        d AS (SELECT src, CAST(count(*) AS BIGINT) AS degree
          FROM ed3 GROUP BY src)
        SELECT CASE WHEN src % 2 = 0 THEN 'cust' ELSE 'supp' END AS kind,
          src // 2 AS key, degree
        FROM d ORDER BY kind, key""")),

    // ── Neighbor-set Jaccard between suppliers (the item–item
    //    co-occurrence / link-prediction primitive: "suppliers serving
    //    near-identical customer bases"): pair generation is the
    //    inverted-index self-join on the shared customer — each customer
    //    contributes deg² pairs, so customers with > 64 suppliers are
    //    CAPPED OUT of the pair pass (the standard frequent-item cut in
    //    co-occurrence mining; at 100 TB the hot customer is otherwise a
    //    single-key quadratic) — degrees are computed on the SAME capped
    //    edge set so the Jaccard stays internally consistent. shared /
    //    (d₁+d₂−shared) is an exact integer ratio. ─────────────────────
    QueryDef("graph_neighbor_jaccard",
      (s, dir) => {
        import s.implicits._
        // One collect_set per customer does the work of a distinct edge
        // list, a degree count, a keep-set semi join and a self-join on
        // cust: the set dedups the orders⋈lineitem rows, its size is the
        // customer's degree, and its sorted pairs feed the (s1, s2)
        // aggregate map-side. The checkpoint pins ≤ |cust| arrays of
        // ≤ 64 suppliers, not the |E|-row edge list.
        val grp = Tables.load(s, dir, "orders")
          .join(Tables.load(s, dir, "lineitem"),
            $"o_orderkey" === $"l_orderkey")
          .select($"o_custkey".as("cust"), $"l_suppkey".as("supp"))
          .groupBy($"cust").agg(sort_array(collect_set($"supp")).as("ss"))
          .filter(size($"ss") <= 64)
          .localCheckpoint()
        val deg = grp.select(explode($"ss").as("supp"))
          .groupBy($"supp").agg(count(lit(1)).as("d"))
        val shared = orderedPairs(grp, "ss", "s1", "s2")
          .groupBy($"s1", $"s2")
          .agg(count(lit(1)).as("shared"))
        shared
          .join(deg.select($"supp".as("s1"), $"d".as("d1")), Seq("s1"))
          .join(deg.select($"supp".as("s2"), $"d".as("d2")), Seq("s2"))
          .withColumn("jaccard", $"shared".cast("double")
            / ($"d1" + $"d2" - $"shared").cast("double"))
          .filter($"jaccard" >= 0.25)
          .select($"s1", $"s2", $"shared", $"d1", $"d2", $"jaccard")
          .orderBy($"s1", $"s2")
      },
      Some("""WITH e0 AS (SELECT DISTINCT o_custkey AS cust,
            l_suppkey AS supp
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        keep AS (SELECT cust FROM e0 GROUP BY cust HAVING count(*) <= 64),
        e AS (SELECT * FROM e0 WHERE cust IN (SELECT cust FROM keep)),
        deg AS (SELECT supp, CAST(count(*) AS BIGINT) AS d
          FROM e GROUP BY supp),
        sh AS (SELECT a.supp AS s1, b.supp AS s2,
            CAST(count(*) AS BIGINT) AS shared
          FROM e a JOIN e b ON a.cust = b.cust AND a.supp < b.supp
          GROUP BY a.supp, b.supp),
        j AS (SELECT sh.s1, sh.s2, sh.shared, d1.d AS d1, d2.d AS d2,
            CAST(sh.shared AS DOUBLE)
              / CAST(d1.d + d2.d - sh.shared AS DOUBLE) AS jaccard
          FROM sh JOIN deg d1 ON sh.s1 = d1.supp
            JOIN deg d2 ON sh.s2 = d2.supp)
        SELECT s1, s2, shared, d1, d2, jaccard FROM j
        WHERE jaccard >= 0.25 ORDER BY s1, s2""")),

    // ── Weighted modularity scoreboard of the label-propagation
    //    partition (closes the community-detection loop: `graph_label_
    //    propagation` finds communities, this SCORES them — the quality
    //    gate a production graph pipeline runs before trusting a
    //    partition): with W = Σw (both directions), Q = Σ_c (in_c/W −
    //    (d_c/W)²) is reported as the exact integer contribution
    //    W·in_c − d_c² per community (Q = Σ contrib / W², no float
    //    summation anywhere). Reuses the factored graph+labels build;
    //    all joins against the ≤|nations|-row label/degree frames are
    //    broadcast; the 1-row W recombine is the documented scalar
    //    shape. ──────────────────────────────────────────────────────────
    QueryDef("graph_community_modularity",
      (s, dir) => {
        import s.implicits._
        val (edges, labels) = nationTradeCommunities(s, dir)
        val wTotal = edges.agg(sum($"w").as("w_total"))
        val deg = edges.groupBy($"src".as("node")).agg(sum($"w").as("deg"))
        val internal = edges
          .join(broadcast(labels.select($"node".as("src"), $"lbl".as("la"))), "src")
          .join(broadcast(labels.select($"node".as("dst"), $"lbl".as("lb"))), "dst")
          .filter($"la" === $"lb")
          .groupBy($"la".as("community")).agg(sum($"w").as("internal_w"))
        labels
          .join(broadcast(deg), Seq("node"), "left")
          .select($"lbl".as("community"), $"node",
            coalesce($"deg", lit(0L)).as("deg"))
          .groupBy($"community")
          .agg(count(lit(1)).as("n_nodes"), sum($"deg").as("deg_sum"))
          .join(broadcast(internal), Seq("community"), "left")
          .crossJoin(broadcast(wTotal))
          .select($"community", $"n_nodes", $"deg_sum",
            coalesce($"internal_w", lit(0L)).as("internal_w"), $"w_total",
            ($"w_total" * coalesce($"internal_w", lit(0L)) -
              $"deg_sum" * $"deg_sum").as("contrib_num"))
          .orderBy($"community")
      },
      Some("""WITH d0 AS (
          SELECT c.c_nationkey AS a, s.s_nationkey AS b, CAST(count(*) AS BIGINT) AS w
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN supplier s ON l.l_suppkey = s.s_suppkey
          WHERE c.c_nationkey <> s.s_nationkey
          GROUP BY 1, 2),
        e AS (SELECT src, dst, CAST(sum(w) AS BIGINT) AS w FROM (
            SELECT a AS src, b AS dst, w FROM d0
            UNION ALL SELECT b, a, w FROM d0) u GROUP BY 1, 2),
        n AS (SELECT n_nationkey AS node FROM nation),
        l0 AS (SELECT node, CAST(node AS BIGINT) AS lbl FROM n),
        a1 AS (SELECT e.src, l0.lbl, CAST(sum(e.w) AS BIGINT) AS wsum
          FROM e JOIN l0 ON e.dst = l0.node GROUP BY 1, 2),
        p1 AS (SELECT src AS node, lbl FROM (SELECT src, lbl,
            row_number() OVER (PARTITION BY src ORDER BY wsum DESC, lbl ASC) AS rn
          FROM a1) t WHERE rn = 1),
        l1 AS (SELECT n.node, coalesce(p1.lbl, CAST(n.node AS BIGINT)) AS lbl
          FROM n LEFT JOIN p1 ON n.node = p1.node),
        a2 AS (SELECT e.src, l1.lbl, CAST(sum(e.w) AS BIGINT) AS wsum
          FROM e JOIN l1 ON e.dst = l1.node GROUP BY 1, 2),
        p2 AS (SELECT src AS node, lbl FROM (SELECT src, lbl,
            row_number() OVER (PARTITION BY src ORDER BY wsum DESC, lbl ASC) AS rn
          FROM a2) t WHERE rn = 1),
        l2 AS (SELECT n.node, coalesce(p2.lbl, CAST(n.node AS BIGINT)) AS lbl
          FROM n LEFT JOIN p2 ON n.node = p2.node),
        wt AS (SELECT CAST(sum(w) AS BIGINT) AS w_total FROM e),
        dg AS (SELECT src AS node, CAST(sum(w) AS BIGINT) AS deg
          FROM e GROUP BY src),
        intw AS (SELECT la.lbl AS community, CAST(sum(e.w) AS BIGINT)
              AS internal_w
          FROM e JOIN l2 la ON e.src = la.node
            JOIN l2 lb ON e.dst = lb.node
          WHERE la.lbl = lb.lbl GROUP BY la.lbl),
        cm AS (SELECT l2.lbl AS community,
            CAST(count(*) AS BIGINT) AS n_nodes,
            CAST(sum(coalesce(dg.deg, 0)) AS BIGINT) AS deg_sum
          FROM l2 LEFT JOIN dg ON l2.node = dg.node
          GROUP BY l2.lbl)
        SELECT cm.community, cm.n_nodes, cm.deg_sum,
          coalesce(intw.internal_w, 0) AS internal_w, wt.w_total,
          CAST(wt.w_total * coalesce(intw.internal_w, 0)
            - cm.deg_sum * cm.deg_sum AS BIGINT) AS contrib_num
        FROM cm LEFT JOIN intw ON cm.community = intw.community
        CROSS JOIN wt ORDER BY cm.community""")),

    // ── Weighted degree assortativity of the nation trade graph (do
    //    high-degree nations trade with high-degree nations? The mixing
    //    diagnostic that tells you whether a hub-and-spoke or a
    //    core-periphery rewiring is happening): Pearson correlation of
    //    endpoint degrees across edges, weighted by edge weight —
    //    reported as the exact integer moment components (S, Σwx, Σwy,
    //    num = S·Σwxy − Σwx·Σwy, den1/den2 marginal variances) in
    //    DECIMAL(38,0); shipping den1·den2 unfactored would overflow 38
    //    digits at sf10, the split pair never does. One broadcast deg
    //    join + ONE aggregate over the |nations|²-bounded edge list. ────
    QueryDef("graph_assortativity",
      (s, dir) => {
        import s.implicits._
        val (edges, _) = nationTradeCommunities(s, dir)
        val deg = edges.groupBy($"src".as("node")).agg(sum($"w").as("deg"))
        val dec = "decimal(38,0)"
        edges
          .join(broadcast(deg.select($"node".as("src"), $"deg".as("dx"))), "src")
          .join(broadcast(deg.select($"node".as("dst"), $"deg".as("dy"))), "dst")
          .agg(sum($"w").as("s_w"),
            sum(($"w".cast(dec) * $"dx".cast(dec)).cast(dec)).cast(dec).as("sx"),
            sum(($"w".cast(dec) * $"dy".cast(dec)).cast(dec)).cast(dec).as("sy"),
            sum(($"w".cast(dec) * $"dx".cast(dec) * $"dx".cast(dec)).cast(dec))
              .cast(dec).as("sxx"),
            sum(($"w".cast(dec) * $"dy".cast(dec) * $"dy".cast(dec)).cast(dec))
              .cast(dec).as("syy"),
            sum(($"w".cast(dec) * $"dx".cast(dec) * $"dy".cast(dec)).cast(dec))
              .cast(dec).as("sxy"))
          .select($"s_w",
            // exact DECIMAL internally, string emission (see
            // agg_autocorr_lag1 — driver hashes the parquet encoding)
            ($"s_w".cast(dec) * $"sxy" - $"sx" * $"sy").cast(dec)
              .cast("string").as("num"),
            ($"s_w".cast(dec) * $"sxx" - $"sx" * $"sx").cast(dec)
              .cast("string").as("den1"),
            ($"s_w".cast(dec) * $"syy" - $"sy" * $"sy").cast(dec)
              .cast("string").as("den2"),
            signum(($"s_w".cast(dec) * $"sxy" - $"sx" * $"sy")
              .cast("double")).cast("long").as("sign"))
      },
      Some("""WITH d0 AS (
          SELECT c.c_nationkey AS a, s.s_nationkey AS b, CAST(count(*) AS BIGINT) AS w
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN supplier s ON l.l_suppkey = s.s_suppkey
          WHERE c.c_nationkey <> s.s_nationkey
          GROUP BY 1, 2),
        e AS (SELECT src, dst, CAST(sum(w) AS BIGINT) AS w FROM (
            SELECT a AS src, b AS dst, w FROM d0
            UNION ALL SELECT b, a, w FROM d0) u GROUP BY 1, 2),
        dg AS (SELECT src AS node, CAST(sum(w) AS BIGINT) AS deg
          FROM e GROUP BY src),
        m AS (SELECT CAST(sum(e.w) AS BIGINT) AS s_w,
            CAST(sum(CAST(e.w AS HUGEINT) * dx.deg) AS DECIMAL(38,0)) AS sx,
            CAST(sum(CAST(e.w AS HUGEINT) * dy.deg) AS DECIMAL(38,0)) AS sy,
            CAST(sum(CAST(e.w AS HUGEINT) * dx.deg * dx.deg)
              AS DECIMAL(38,0)) AS sxx,
            CAST(sum(CAST(e.w AS HUGEINT) * dy.deg * dy.deg)
              AS DECIMAL(38,0)) AS syy,
            CAST(sum(CAST(e.w AS HUGEINT) * dx.deg * dy.deg)
              AS DECIMAL(38,0)) AS sxy
          FROM e JOIN dg dx ON e.src = dx.node JOIN dg dy ON e.dst = dy.node)
        SELECT s_w,
          CAST(CAST(CAST(s_w AS HUGEINT) * CAST(sxy AS HUGEINT)
            - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT)
            AS DECIMAL(38,0)) AS VARCHAR) AS num,
          CAST(CAST(CAST(s_w AS HUGEINT) * CAST(sxx AS HUGEINT)
            - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT)
            AS DECIMAL(38,0)) AS VARCHAR) AS den1,
          CAST(CAST(CAST(s_w AS HUGEINT) * CAST(syy AS HUGEINT)
            - CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT)
            AS DECIMAL(38,0)) AS VARCHAR) AS den2,
          CAST(sign(CAST(CAST(s_w AS HUGEINT) * CAST(sxy AS HUGEINT)
            - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT) AS DOUBLE))
            AS BIGINT) AS sign
        FROM m""")),

    // ── Bounded BFS shortest hops from nation 0 over the DIRECTED trade
    //    graph (cust-nation → supp-nation edges — "how many trade steps
    //    from market 0 to every other market", the reachability /
    //    influence-radius primitive under every network-distance
    //    feature): 3 synchronous min-propagation rounds (the
    //    graph_pagerank_fixed bounded-iteration contract — a fixed round
    //    count is what keeps a data-dependent frontier oracle-checkable),
    //    each round one |edges| ⋈ |reached| hash join + a min hash
    //    aggregate; localCheckpoint per round (kcore pattern) so round
    //    3's plan doesn't re-evaluate the fact join 3³ times. Distances
    //    are pure integers; unreached nodes are absent by construction
    //    in both engines. ──────────────────────────────────────────────
    QueryDef("graph_shortest_hops",
      (s, dir) => {
        import s.implicits._
        val edges = nationShipments(s, dir)
          .select($"c_nationkey".cast("long").as("src"),
            $"s_nationkey".cast("long").as("dst"))
          .distinct()
          .localCheckpoint()
        var dist = Seq((0L, 0L)).toDF("node", "hops")
        for (_ <- 1 to 3) {
          val relaxed = edges
            .join(dist.select($"node".as("src"), $"hops"), "src")
            .select($"dst".as("node"), ($"hops" + 1L).as("hops"))
          dist = dist.unionAll(relaxed)
            .groupBy($"node").agg(min($"hops").as("hops"))
            .localCheckpoint()
        }
        dist.orderBy($"node")
      },
      Some("""WITH e AS (SELECT DISTINCT CAST(c.c_nationkey AS BIGINT) AS src,
            CAST(s.s_nationkey AS BIGINT) AS dst
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN supplier s ON l.l_suppkey = s.s_suppkey),
        d0 AS (SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS hops),
        d1 AS (SELECT node, CAST(min(hops) AS BIGINT) AS hops FROM (
            SELECT node, hops FROM d0
            UNION ALL SELECT e.dst, d0.hops + 1 FROM e
              JOIN d0 ON e.src = d0.node) u GROUP BY node),
        d2 AS (SELECT node, CAST(min(hops) AS BIGINT) AS hops FROM (
            SELECT node, hops FROM d1
            UNION ALL SELECT e.dst, d1.hops + 1 FROM e
              JOIN d1 ON e.src = d1.node) u GROUP BY node),
        d3 AS (SELECT node, CAST(min(hops) AS BIGINT) AS hops FROM (
            SELECT node, hops FROM d2
            UNION ALL SELECT e.dst, d2.hops + 1 FROM e
              JOIN d2 ON e.src = d2.node) u GROUP BY node)
        SELECT node, hops FROM d3 ORDER BY node""")),

    // ── Per-node clustering coefficient (how clique-like is each
    //    nation's trade neighborhood — the local-density companion to
    //    `graph_triangle_count`'s raw corners): triangles per node over
    //    the same unweighted distinct edge set, degree from the
    //    both-direction edge list, coefficient = 2·tri / (deg·(deg−1))
    //    shipped as exact BIGINT components + one IEEE division. The
    //    triangle enumeration is the same a<b<c oriented 3-join; every
    //    frame is |nations|-bounded. ────────────────────────────────────
    QueryDef("graph_clustering_coeff",
      (s, dir) => {
        import s.implicits._
        val edges = nationPairs(s, dir)
        val perNode = trianglesPerNode(edges)
        val deg = edges.select($"a".as("node"))
          .unionByName(edges.select($"b".as("node")))
          .groupBy($"node").agg(count(lit(1)).as("deg"))
        deg.join(perNode, Seq("node"), "left")
          .select($"node", $"deg",
            coalesce($"n_triangles", lit(0L)).as("n_triangles"),
            (lit(2L) * coalesce($"n_triangles", lit(0L))).as("coeff_num"),
            ($"deg" * ($"deg" - 1L)).as("coeff_den"))
          .withColumn("coeff",
            when($"coeff_den" > 0L,
              $"coeff_num".cast("double") / $"coeff_den".cast("double"))
              .otherwise(lit(0.0d)))
          .orderBy($"node")
      },
      Some("""WITH e AS (
          SELECT DISTINCT least(c.c_nationkey, s.s_nationkey) AS a,
            greatest(c.c_nationkey, s.s_nationkey) AS b
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN supplier s ON l.l_suppkey = s.s_suppkey
          WHERE c.c_nationkey <> s.s_nationkey),
        tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
          FROM e e1 JOIN e e2 ON e1.b = e2.a
          JOIN e e3 ON e1.a = e3.a AND e2.b = e3.b),
        pn AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
            SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri) c GROUP BY node),
        dg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
            SELECT a AS node FROM e UNION ALL SELECT b FROM e) u
          GROUP BY node)
        SELECT dg.node, dg.deg,
          coalesce(pn.n_triangles, 0) AS n_triangles,
          2 * coalesce(pn.n_triangles, 0) AS coeff_num,
          dg.deg * (dg.deg - 1) AS coeff_den,
          CASE WHEN dg.deg * (dg.deg - 1) > 0
            THEN CAST(2 * coalesce(pn.n_triangles, 0) AS DOUBLE)
              / CAST(dg.deg * (dg.deg - 1) AS DOUBLE)
            ELSE CAST(0.0 AS DOUBLE) END AS coeff
        FROM dg LEFT JOIN pn ON dg.node = pn.node ORDER BY dg.node""")),

    // ── Bipartite projection: the supplier co-supply graph (two
    //    suppliers are linked by every part they both ship — the
    //    substitution/market-overlap structure hidden in the fact
    //    table): reduce lineitem to DISTINCT (part, supplier) FIRST —
    //    the projection self-join then fans out only (suppliers-per-
    //    part choose 2), bounded by the dimension model, never by fact
    //    rows (at web scale you'd additionally cap hot parts; same plan
    //    shape). Top-20 heaviest pairs by shared-part count via
    //    TakeOrdered. All integer counts. ────────────────────────────────
    QueryDef("graph_copurchase_projection",
      (s, dir) => {
        import s.implicits._
        // the per-part supplier set dedups (p, sk) and holds ≤ 4
        // suppliers at any scale; its pairs enter the (s1, s2) count
        // through the partial aggregate — two exchanges in all
        orderedPairs(Tables.load(s, dir, "lineitem")
            .select($"l_partkey".as("p"), $"l_suppkey".as("sk"))
            .groupBy($"p").agg(sort_array(collect_set($"sk")).as("ss")),
            "ss", "s1", "s2")
          .groupBy($"s1", $"s2")
          .agg(count(lit(1)).as("shared_parts"))
          .orderBy($"shared_parts".desc, $"s1", $"s2")
          .limit(20)
      },
      Some("""WITH ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS sk
          FROM lineitem)
        SELECT a.sk AS s1, b.sk AS s2,
          CAST(count(*) AS BIGINT) AS shared_parts
        FROM ps a JOIN ps b ON a.p = b.p AND a.sk < b.sk
        GROUP BY a.sk, b.sk
        ORDER BY shared_parts DESC, s1, s2 LIMIT 20""")),

    // ── multi-source BFS distance (the "blast radius" primitive:
    //    reachability fronts for influence propagation, fraud-ring
    //    tracing): 4 fixed rounds of frontier expansion over the
    //    customer–supplier bipartite trade graph (parity-disjoint node
    //    ids, as in kcore), seeded at the 10 lowest customers. Each round
    //    expands only the frontier — nodes first reached the round
    //    before — by one |frontier| ⋈ |edges| join, a distinct and an
    //    anti join against the settled set. With unit weights a node's
    //    distance is the round it first appears, so (node, d) equals the
    //    full min-relaxation the oracle unrolls, without re-expanding
    //    settled nodes (≈ |E| rows per round). A localCheckpoint per
    //    round stops the lineage doubling (round 4 would otherwise run
    //    the edge build 2⁴ times). Output is the distance histogram
    //    (d = -1 ⇒ unreached), O(diameter) rows. ───────────────────────
    QueryDef("graph_bfs_distance",
      (s, dir) => {
        import s.implicits._
        val e0 = Tables.load(s, dir, "orders")
          .join(Tables.load(s, dir, "lineitem"),
            $"o_orderkey" === $"l_orderkey")
          .select(($"o_custkey" * 2).cast("long").as("a"),
            ($"l_suppkey" * 2 + 1).cast("long").as("b"))
          .distinct()
        val edges = e0
          .union(e0.select($"b".as("a"), $"a".as("b")))
          .localCheckpoint()
        val seeds = Tables.load(s, dir, "customer")
          .filter($"c_custkey" <= 10)
          .select(($"c_custkey" * 2).cast("long").as("node"),
            lit(0L).as("d"))
        // frontier loop: `fresh` is the set of nodes FIRST reached this
        // round (d = round index); settled = union of all frontiers so
        // far, one-row-per-node by construction, so no min-agg is needed
        val seeds0 = seeds.localCheckpoint()
        var settled = Seq(seeds0)
        var frontier = seeds0
        for (_ <- 1 to 4) {
          val fresh = frontier.join(edges, frontier("node") === edges("a"))
            .select(edges("b").as("node"), (frontier("d") + 1L).as("d"))
            .distinct()
            .join(settled.reduce(_ unionByName _), Seq("node"), "left_anti")
            .localCheckpoint()
          settled = settled :+ fresh
          frontier = fresh
        }
        val dist = settled.reduce(_ unionByName _)
        val nodes = edges.select($"a".as("node"))
          .union(seeds.select($"node")).distinct()
        nodes.join(dist, Seq("node"), "left")
          .select($"node", coalesce($"d", lit(-1L)).as("d"))
          .groupBy($"d")
          .agg(count(lit(1)).as("n_nodes"),
            min($"node").as("min_node"), max($"node").as("max_node"))
          .orderBy($"d")
      },
      Some("""WITH e0 AS (SELECT DISTINCT
            CAST(o_custkey * 2 AS BIGINT) AS a,
            CAST(l_suppkey * 2 + 1 AS BIGINT) AS b
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        e AS (SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
        d0 AS (SELECT CAST(c_custkey * 2 AS BIGINT) AS node,
            CAST(0 AS BIGINT) AS d
          FROM customer WHERE c_custkey <= 10),
        d1 AS (SELECT node, CAST(min(d) AS BIGINT) AS d FROM (
            SELECT node, d FROM d0
            UNION ALL SELECT e.b AS node, d0.d + 1 AS d
            FROM d0 JOIN e ON e.a = d0.node) GROUP BY node),
        d2 AS (SELECT node, CAST(min(d) AS BIGINT) AS d FROM (
            SELECT node, d FROM d1
            UNION ALL SELECT e.b AS node, d1.d + 1 AS d
            FROM d1 JOIN e ON e.a = d1.node) GROUP BY node),
        d3 AS (SELECT node, CAST(min(d) AS BIGINT) AS d FROM (
            SELECT node, d FROM d2
            UNION ALL SELECT e.b AS node, d2.d + 1 AS d
            FROM d2 JOIN e ON e.a = d2.node) GROUP BY node),
        d4 AS (SELECT node, CAST(min(d) AS BIGINT) AS d FROM (
            SELECT node, d FROM d3
            UNION ALL SELECT e.b AS node, d3.d + 1 AS d
            FROM d3 JOIN e ON e.a = d3.node) GROUP BY node),
        nodes AS (SELECT DISTINCT node FROM (
            SELECT a AS node FROM e UNION ALL SELECT node FROM d0)),
        j AS (SELECT n.node, coalesce(d4.d, -1) AS d
          FROM nodes n LEFT JOIN d4 ON n.node = d4.node)
        SELECT CAST(d AS BIGINT) AS d, CAST(count(*) AS BIGINT) AS n_nodes,
          CAST(min(node) AS BIGINT) AS min_node,
          CAST(max(node) AS BIGINT) AS max_node
        FROM j GROUP BY d ORDER BY d""")),

    // ── k-truss peeling on the co-purchase graph: edge cohesion, the
    //    stricter sibling of `graph_kcore_peel`'s node degrees. An edge
    //    survives while it closes ≥ k − 2 = 12 triangles; support comes
    //    from the edge-iterator [[support]] kernel and [[peelRounds]]
    //    reports rounds 0–2. This uncapped form is the exactness
    //    reference, not the large-scale default: its support work is
    //    ∝ Σ_v deg² on hub-heavy graphs (32.6× from sf1 to sf10, past
    //    the n^1.5 envelope). Large runs use `graph_ktruss_capped` (at
    //    most 2·cap merge steps per edge, 4.2× over the same decade), and
    //    `graph_ktruss_cap_sweep` measures what each cap costs. ─────────
    QueryDef("graph_ktruss_peel",
      (s, dir) =>
        peelRounds(copurchasePairsRaw(s, dir).distinct().localCheckpoint()),
      Some("""WITH io AS MATERIALIZED (
          SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        e0 AS MATERIALIZED (
          SELECT DISTINCT least(x.p, y.p) AS a, greatest(x.p, y.p) AS b
          FROM io x JOIN io y ON x.o = y.o AND x.p < y.p),
        tri0 AS MATERIALIZED (
          SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM e0 e1
            JOIN e0 e2 ON e1.b = e2.a
            JOIN e0 e3 ON e1.a = e3.a AND e2.b = e3.b),
        sup0 AS MATERIALIZED (SELECT e.a, e.b, coalesce(h.sup, 0) AS sup
          FROM e0 e LEFT JOIN (
            SELECT a, b, CAST(count(*) AS BIGINT) AS sup FROM (
              SELECT x AS a, y AS b FROM tri0
              UNION ALL SELECT x, z FROM tri0
              UNION ALL SELECT y, z FROM tri0) GROUP BY a, b) h
          ON e.a = h.a AND e.b = h.b),
        e1 AS MATERIALIZED (SELECT a, b FROM sup0 WHERE sup >= 12),
        tri1 AS MATERIALIZED (
          SELECT t1.a AS x, t1.b AS y, t2.b AS z FROM e1 t1
            JOIN e1 t2 ON t1.b = t2.a
            JOIN e1 t3 ON t1.a = t3.a AND t2.b = t3.b),
        sup1 AS MATERIALIZED (SELECT e.a, e.b, coalesce(h.sup, 0) AS sup
          FROM e1 e LEFT JOIN (
            SELECT a, b, CAST(count(*) AS BIGINT) AS sup FROM (
              SELECT x AS a, y AS b FROM tri1
              UNION ALL SELECT x, z FROM tri1
              UNION ALL SELECT y, z FROM tri1) GROUP BY a, b) h
          ON e.a = h.a AND e.b = h.b),
        e2 AS MATERIALIZED (SELECT a, b FROM sup1 WHERE sup >= 12),
        tri2 AS MATERIALIZED (
          SELECT t1.a AS x, t1.b AS y, t2.b AS z FROM e2 t1
            JOIN e2 t2 ON t1.b = t2.a
            JOIN e2 t3 ON t1.a = t3.a AND t2.b = t3.b),
        sup2 AS MATERIALIZED (SELECT e.a, e.b, coalesce(h.sup, 0) AS sup
          FROM e2 e LEFT JOIN (
            SELECT a, b, CAST(count(*) AS BIGINT) AS sup FROM (
              SELECT x AS a, y AS b FROM tri2
              UNION ALL SELECT x, z FROM tri2
              UNION ALL SELECT y, z FROM tri2) GROUP BY a, b) h
          ON e.a = h.a AND e.b = h.b)
        SELECT CAST(0 AS BIGINT) AS round,
            CAST(count(*) AS BIGINT) AS n_edges,
            CAST(min(sup) AS BIGINT) AS min_support,
            CAST(max(sup) AS BIGINT) AS max_support FROM sup0
        UNION ALL
        SELECT 1, CAST(count(*) AS BIGINT), CAST(min(sup) AS BIGINT),
          CAST(max(sup) AS BIGINT) FROM sup1
        UNION ALL
        SELECT 2, CAST(count(*) AS BIGINT), CAST(min(sup) AS BIGINT),
          CAST(max(sup) AS BIGINT) FROM sup2
        ORDER BY round""")),

    // ── Degree-capped k-truss, the hub guard for large graphs: drop every
    //    edge incident to a node of degree > 60, then run the same
    //    3-round peel at k − 2 = 12. Per-pass support costs
    //    Σ_e deg(a) + deg(b) merge steps, and a hub's adjacency array
    //    rides on every incident edge's row, so one node of degree 10⁷
    //    alone costs ~10¹⁴ steps; capped, the work is ≤ 2·cap per edge,
    //    linear in |E|. Hubs are removed rather than their neighbor lists
    //    truncated: a hub connects everything and carries no cohesion
    //    signal. Exact on the capped subgraph; the cap is below sf0.1's
    //    max degree of 97, so it bites on the fixture. ─────────────────
    QueryDef("graph_ktruss_capped",
      (s, dir) => {
        import s.implicits._
        // e0 feeds both the degree table and the hub anti-joins, so it is
        // built once; it is released as soon as ec materializes, so only
        // ec stays pinned during the support passes.
        val e0 = copurchasePairsRaw(s, dir)
          .distinct()
          .localCheckpoint()
        val deg = e0.select($"a".as("n")).union(e0.select($"b".as("n")))
          .groupBy($"n").agg(count(lit(1)).as("deg"))
        val hubs = deg.filter($"deg" > 60L).select($"n")
        val ec = e0
          .join(hubs.select($"n".as("a")), Seq("a"), "left_anti")
          .join(hubs.select($"n".as("b")), Seq("b"), "left_anti")
          .select($"a", $"b")
          .localCheckpoint()
        Checkpoints.unpin(e0)
        peelRounds(ec)
      },
      Some("""WITH io AS MATERIALIZED (
          SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        e0 AS MATERIALIZED (
          SELECT DISTINCT x.p AS a, y.p AS b
          FROM io x JOIN io y ON x.o = y.o AND x.p < y.p),
        deg AS (SELECT n, count(*) AS deg FROM (
            SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0) GROUP BY n),
        hubs AS (SELECT n FROM deg WHERE deg > 60),
        ec AS MATERIALIZED (SELECT a, b FROM e0
          WHERE a NOT IN (SELECT n FROM hubs)
            AND b NOT IN (SELECT n FROM hubs)),
        tri0 AS MATERIALIZED (
          SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM ec e1
            JOIN ec e2 ON e1.b = e2.a
            JOIN ec e3 ON e1.a = e3.a AND e2.b = e3.b),
        sup0 AS MATERIALIZED (SELECT e.a, e.b, coalesce(h.sup, 0) AS sup
          FROM ec e LEFT JOIN (
            SELECT a, b, CAST(count(*) AS BIGINT) AS sup FROM (
              SELECT x AS a, y AS b FROM tri0
              UNION ALL SELECT x, z FROM tri0
              UNION ALL SELECT y, z FROM tri0) GROUP BY a, b) h
          ON e.a = h.a AND e.b = h.b),
        e1 AS MATERIALIZED (SELECT a, b FROM sup0 WHERE sup >= 12),
        tri1 AS MATERIALIZED (
          SELECT t1.a AS x, t1.b AS y, t2.b AS z FROM e1 t1
            JOIN e1 t2 ON t1.b = t2.a
            JOIN e1 t3 ON t1.a = t3.a AND t2.b = t3.b),
        sup1 AS MATERIALIZED (SELECT e.a, e.b, coalesce(h.sup, 0) AS sup
          FROM e1 e LEFT JOIN (
            SELECT a, b, CAST(count(*) AS BIGINT) AS sup FROM (
              SELECT x AS a, y AS b FROM tri1
              UNION ALL SELECT x, z FROM tri1
              UNION ALL SELECT y, z FROM tri1) GROUP BY a, b) h
          ON e.a = h.a AND e.b = h.b),
        e2 AS MATERIALIZED (SELECT a, b FROM sup1 WHERE sup >= 12),
        tri2 AS MATERIALIZED (
          SELECT t1.a AS x, t1.b AS y, t2.b AS z FROM e2 t1
            JOIN e2 t2 ON t1.b = t2.a
            JOIN e2 t3 ON t1.a = t3.a AND t2.b = t3.b),
        sup2 AS MATERIALIZED (SELECT e.a, e.b, coalesce(h.sup, 0) AS sup
          FROM e2 e LEFT JOIN (
            SELECT a, b, CAST(count(*) AS BIGINT) AS sup FROM (
              SELECT x AS a, y AS b FROM tri2
              UNION ALL SELECT x, z FROM tri2
              UNION ALL SELECT y, z FROM tri2) GROUP BY a, b) h
          ON e.a = h.a AND e.b = h.b)
        SELECT CAST(0 AS BIGINT) AS round,
            CAST(count(*) AS BIGINT) AS n_edges,
            CAST(min(sup) AS BIGINT) AS min_support,
            CAST(max(sup) AS BIGINT) AS max_support FROM sup0
        UNION ALL
        SELECT 1, CAST(count(*) AS BIGINT), CAST(min(sup) AS BIGINT),
          CAST(max(sup) AS BIGINT) FROM sup1
        UNION ALL
        SELECT 2, CAST(count(*) AS BIGINT), CAST(min(sup) AS BIGINT),
          CAST(max(sup) AS BIGINT) FROM sup2
        ORDER BY round""")),

    // ── Cap sensitivity of the degree-capped k-truss, on a sample: for
    //    each cap in {30, 60, 120}, the exact hub count, and over a
    //    deterministic 1/4 edge sample (md5('ks:'‖a‖':'‖b) first nibble
    //    < '4', replayable in SQL) the edges retained, edges with any
    //    triangle, and the max and total support (the Σsup cost proxy a
    //    large run sizes against). A triangle survives the coin with
    //    p³, so sampled support is sup/16 in expectation and the
    //    cross-cap ratios the cap choice reads are preserved, at ~1/16
    //    of the triangle work (the unsampled sweep took 431 s at sf10).
    //    Hubs are exact, off the full degree table. An edge survives
    //    cap c iff max(deg(a), deg(b)) ≤ c, so the sampled edges carry
    //    dmax, are checkpointed once, and each cap is a filter plus one
    //    support pass; each cap's stats collect to one row and its
    //    checkpoint is released before the next cap runs. ─────────────
    QueryDef("graph_ktruss_cap_sweep",
      (s, dir) => {
        import s.implicits._
        // e0 is built once for deg and dm and released before the sweep,
        // so only deg and dm stay pinned while the support passes run
        val e0 = copurchasePairsRaw(s, dir)
          .distinct()
          .localCheckpoint()
        val deg = e0.select($"a".as("n")).union(e0.select($"b".as("n")))
          .groupBy($"n").agg(count(lit(1)).as("deg"))
          .localCheckpoint()
        val dm = e0.filter(
            substring(md5(concat(lit("ks:"), $"a".cast("string"),
              lit(":"), $"b".cast("string"))), 1, 1) < "4")
          .join(deg.select($"n".as("a"), $"deg".as("da")), "a")
          .join(deg.select($"n".as("b"), $"deg".as("db")), "b")
          .select($"a", $"b", greatest($"da", $"db").as("dmax"))
          .localCheckpoint()
        Checkpoints.unpin(e0)
        val collected = Seq(30L, 60L, 120L).map { cap =>
          val nHubs = deg.filter($"deg" > cap).count()
          val ec = dm.filter($"dmax" <= cap).select($"a", $"b")
            .localCheckpoint()
          val r = support(ec).agg(count(lit(1)).as("n_edges"),
              sum(when($"sup" >= 1L, 1L).otherwise(0L)).as("n_sup_pos"),
              max($"sup").as("max_support"), sum($"sup").as("sum_support"))
            .head()
          Checkpoints.unpin(ec)
          Row(cap, nHubs, r.getLong(0),
            if (r.isNullAt(1)) null else r.getLong(1),
            if (r.isNullAt(2)) null else r.getLong(2),
            if (r.isNullAt(3)) null else r.getLong(3))
        }
        val schema = StructType(
          Seq("cap", "n_hubs", "n_edges").map(StructField(_, LongType, nullable = false)) ++
          Seq("n_sup_pos", "max_support", "sum_support")
            .map(StructField(_, LongType, nullable = true)))
        s.createDataFrame(
            s.sparkContext.parallelize(collected, 1), schema)
          .orderBy($"cap")
      },
      Some {
        def capBlock(cap: Int) =
          s"""hubs$cap AS (SELECT n FROM deg WHERE deg > $cap),
          ec$cap AS MATERIALIZED (SELECT a, b FROM es
            WHERE a NOT IN (SELECT n FROM hubs$cap)
              AND b NOT IN (SELECT n FROM hubs$cap)),
          tri$cap AS MATERIALIZED (
            SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM ec$cap e1
              JOIN ec$cap e2 ON e1.b = e2.a
              JOIN ec$cap e3 ON e1.a = e3.a AND e2.b = e3.b),
          sup$cap AS (SELECT e.a, e.b, coalesce(h.sup, 0) AS sup
            FROM ec$cap e LEFT JOIN (
              SELECT a, b, CAST(count(*) AS BIGINT) AS sup FROM (
                SELECT x AS a, y AS b FROM tri$cap
                UNION ALL SELECT x, z FROM tri$cap
                UNION ALL SELECT y, z FROM tri$cap) GROUP BY a, b) h
            ON e.a = h.a AND e.b = h.b)"""
        def sel(cap: Int) =
          s"""SELECT CAST($cap AS BIGINT) AS cap,
            (SELECT CAST(count(*) AS BIGINT) FROM hubs$cap) AS n_hubs,
            CAST(count(*) AS BIGINT) AS n_edges,
            CAST(sum(CASE WHEN sup >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_sup_pos,
            CAST(max(sup) AS BIGINT) AS max_support,
            CAST(sum(sup) AS BIGINT) AS sum_support FROM sup$cap"""
        s"""WITH io AS MATERIALIZED (
            SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
          e0 AS MATERIALIZED (
            SELECT DISTINCT x.p AS a, y.p AS b
            FROM io x JOIN io y ON x.o = y.o AND x.p < y.p),
          deg AS (SELECT n, count(*) AS deg FROM (
              SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0) GROUP BY n),
          es AS MATERIALIZED (SELECT a, b FROM e0
            WHERE substr(md5('ks:' || CAST(a AS VARCHAR) || ':'
              || CAST(b AS VARCHAR)), 1, 1) < '4'),
          ${capBlock(30)},
          ${capBlock(60)},
          ${capBlock(120)}
          ${sel(30)} UNION ALL ${sel(60)} UNION ALL ${sel(120)}
          ORDER BY cap"""
      }),

    // ── Personalized PageRank from a seed set (the recommender /
    //    retrieval variant of graph_pagerank_fixed: restart mass
    //    returns to the SEEDS, not uniformly, so scores rank proximity
    //    to the seed neighborhood): seeds = nations {0,1,2}, two damped
    //    iterations in the pagerank_fixed fixed-point discipline —
    //    BIGINT rank units, (r·w) DIV ow edge pushes, teleport
    //    15e9 DIV (100·|S|) only at seeds — order-independent and
    //    partitioning-proof. Same scale shape as pagerank_fixed: the
    //    fact-side edge aggregation dominates; iterations are
    //    |nations|²-bounded joins. ────────────────────────────────────
    QueryDef("graph_personalized_pagerank",
      (s, dir) => {
        import s.implicits._
        val edges = nationTradeEdges(s, dir)
        val nodes = Tables.load(s, dir, "nation")
          .select($"n_nationkey".as("node"),
            when($"n_nationkey".isin(0, 1, 2), 1L).otherwise(0L).as("seed"))
        val sc = nodes.agg(sum($"seed").as("ns"))
        val outw = edges.groupBy($"src").agg(sum($"w").as("ow"))
        val r0 = nodes.crossJoin(broadcast(sc))
          .selectExpr("node", "seed",
            "CASE WHEN seed = 1 THEN 1000000000 DIV ns ELSE 0L END AS r")
        // teleport mass returns only to the seeds
        def iterate(r: DataFrame): DataFrame =
          pageRankStep(edges, outw, r, nodes.crossJoin(broadcast(sc)),
            Seq("node", "seed"),
            "CASE WHEN seed = 1 THEN 15000000000 DIV (100 * ns) ELSE 0L END")
        val r1 = iterate(r0)
        val r2 = iterate(r1)
        r1.withColumnRenamed("r", "ppr_i1")
          .join(r2.select($"node".as("node2"), $"r".as("ppr_i2")),
            $"node" === $"node2")
          .select($"node", $"seed", $"ppr_i1", $"ppr_i2")
          .orderBy($"node")
      },
      Some("""WITH e AS (
    SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
      CAST(count(*) AS BIGINT) AS w
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY 1, 2),
  n AS (SELECT n_nationkey AS node,
      CASE WHEN n_nationkey IN (0, 1, 2) THEN 1 ELSE 0 END AS seed
    FROM nation),
  sc AS (SELECT CAST(sum(seed) AS BIGINT) AS ns FROM n),
  ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM e GROUP BY 1),
  r0 AS (SELECT node, seed,
      CASE WHEN seed = 1 THEN 1000000000 // sc.ns ELSE 0 END AS r
    FROM n, sc),
  c1 AS (SELECT e.dst, CAST(sum((r0.r * e.w) // ow.ow) AS BIGINT) AS inr
    FROM e JOIN ow ON e.src = ow.src JOIN r0 ON e.src = r0.node GROUP BY 1),
  r1 AS (SELECT n.node, n.seed,
      CASE WHEN n.seed = 1 THEN 15000000000 // (100 * sc.ns) ELSE 0 END
        + (85 * coalesce(c1.inr, 0)) // 100 AS r
    FROM n CROSS JOIN sc LEFT JOIN c1 ON n.node = c1.dst),
  c2 AS (SELECT e.dst, CAST(sum((r1.r * e.w) // ow.ow) AS BIGINT) AS inr
    FROM e JOIN ow ON e.src = ow.src JOIN r1 ON e.src = r1.node GROUP BY 1),
  r2 AS (SELECT n.node, n.seed,
      CASE WHEN n.seed = 1 THEN 15000000000 // (100 * sc.ns) ELSE 0 END
        + (85 * coalesce(c2.inr, 0)) // 100 AS r
    FROM n CROSS JOIN sc LEFT JOIN c2 ON n.node = c2.dst)
  SELECT r1.node, CAST(r1.seed AS BIGINT) AS seed,
    CAST(r1.r AS BIGINT) AS ppr_i1, CAST(r2.r AS BIGINT) AS ppr_i2
  FROM r1 JOIN r2 ON r1.node = r2.node ORDER BY r1.node""")),
  )
}
