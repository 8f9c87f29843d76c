package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Checkpoints._
import graft.Tables

/** Graph analytics over a derived trade graph — the link-analysis
  * operators of a web-corpus curation pipeline (PageRank is the classic
  * page-quality prior for crawl filtering; triangle/degree statistics are
  * the standard connectivity profile). The graph is derived from the lake
  * itself: an edge src→dst for every (supplier nation → customer nation)
  * trade relationship observed in lineitem∘orders (distinct pairs).
  *
  * Everything is BIGINT arithmetic (e9-scaled ranks, integer division at
  * every step), so the fixpoint iteration is bit-identical on any engine,
  * any partitioning, any reduction order — the house determinism
  * convention (Q.scala).
  */
object GraphQueries {

  private val E9 = 1000000000L

  /** Distinct directed trade edges: supplier nation → customer nation.
    * One shuffle to distinct; at 100 TB the fact pass is the only
    * edge-derivation cost and the result is bounded by |nations|². */
  private def edges(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey"))
    val sup = Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey"))
    val ord = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    val cust = Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
    li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("s_nationkey").as("src"), col("c_nationkey").as("dst"))
      .distinct()
  }

  private val EdgeSql =
    """SELECT DISTINCT s.s_nationkey AS src, c.c_nationkey AS dst
      |  FROM lineitem l
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey""".stripMargin

  /** PageRank by power iteration, integer-exact: ranks are e9-scaled
    * BIGINTs, damping 85/100, 8 fixed iterations.
    *   r₀(v)   = 1e9 div N
    *   rₖ₊₁(v) = (15·1e9) div (100·N) + (85 · Σ_{u→v} rₖ(u) div outdeg(u)) div 100
    * Dangling-node mass is dropped (the documented "leaked mass" variant)
    * and every division is integer, so the statistic is exactly defined —
    * no float recurrence, no order dependence (integer sums commute).
    *
    * Scale shape (Pregel-via-joins): per iteration ONE equi-join of the
    * edge list with the rank frame on src (rank frame is |V|-sized and
    * broadcastable for any dimension-sized graph; partitioned equi-join
    * for web-scale V) and ONE groupBy dst with map-side partial sums.
    * 8 iterations = 8 bounded shuffles, nothing driver-side, lineage cut
    * every other one. The oracle unrolls the same 8 as chained CTEs. */
  val pagerank: Q = new Q {
    val name = "q_pagerank"
    private val Iters = 8
    def run(spark: SparkSession, dir: String): DataFrame = {
      val nation = Tables.nation(spark, dir)
      val nodes = nation.select(col("n_nationkey").as("node"))
      val e = edges(spark, dir)
      // The fact-table pass that derives the edge list is by far the
      // expensive part; materialize it ONCE so the 8 iterations iterate
      // over the |E|-sized frame, not 8 re-reads of lineitem∘orders.
      val edgesOut = e.join(e.groupBy("src").agg(count(lit(1)).as("outdeg")), Seq("src"))
      // |V| is a 1-row scalar consumed by every iteration: collect it ONCE
      // and inline the two integer constants (OPTIMIZATION_r18 — the
      // former crossJoin(broadcast(stats)) re-ran the nation scan + agg +
      // broadcast build as extra jobs in EVERY iteration body, and the
      // per-round nodes join re-scanned nation; the ranks frame is
      // node-complete by induction from r0, so neither is needed).
      // Driver state: one long — bounded.
      val nNodes = nodes.count()
      // empty-graph guard (EmptyInputSpec): zero nodes → empty result via
      // the empty r0 frame; the constants are never used
      val base = if (nNodes == 0) 0L else 15L * E9 / (100L * nNodes)
      val r0 = nodes.select(col("node"),
        lit(if (nNodes == 0) 0L else E9 / nNodes).as("r"))
      val rFinal = settled(edgesOut) { eo =>
        def power(ranks: DataFrame): DataFrame = {
          val inflow = eo
            .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
            .select(col("dst"), expr("r div outdeg").as("contrib"))
            .groupBy("dst").agg(sum("contrib").as("inflow"))
          ranks
            .join(inflow, col("node") === col("dst"), "left")
            .select(col("node"),
              (lit(base) + expr("(85 * coalesce(inflow, 0)) div 100")).as("r"))
        }
        // a round is TWO iterations: uncut, analysis cost grows
        // superlinearly in depth (3.5 s → 2.0 s at sf0.1 for per-iteration
        // cuts), but each cut is an eager job and 2 joins deep is compact
        // (OPTIMIZATION_r18)
        iterate(r0, Iters / 2)(r => power(power(r)))
      }
      rFinal
        .join(broadcast(nation), col("node") === col("n_nationkey"))
        .select(col("node").as("nation_key"), col("n_name").as("nation_name"),
          col("r").as("pr_e9"))
        .orderBy(col("pr_e9").desc, col("nation_key"))
    }
    val oracle = Some {
      val iterCtes = (1 to Iters).map { k =>
        s"""r$k AS (
           |  SELECT n.node,
           |    CAST(${15 * E9} // (100 * s.n_nodes)
           |         + (85 * COALESCE(SUM(p.r // o.outdeg), 0)) // 100 AS BIGINT) AS r
           |  FROM nodes n CROSS JOIN stats s
           |  LEFT JOIN edges e ON e.dst = n.node
           |  LEFT JOIN r${k - 1} p ON p.node = e.src
           |  LEFT JOIN outd o ON o.src = e.src
           |  GROUP BY n.node, s.n_nodes)""".stripMargin
      }.mkString(",\n")
      s"""WITH edges AS ($EdgeSql),
         |outd AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
         |nodes AS (SELECT n_nationkey AS node FROM nation),
         |stats AS (SELECT count(*) AS n_nodes FROM nodes),
         |r0 AS (
         |  SELECT node, CAST($E9 // s.n_nodes AS BIGINT) AS r
         |  FROM nodes CROSS JOIN stats s),
         |$iterCtes
         |SELECT r$Iters.node AS nation_key, n.n_name AS nation_name,
         |  r$Iters.r AS pr_e9
         |FROM r$Iters JOIN nation n ON n.n_nationkey = r$Iters.node
         |ORDER BY pr_e9 DESC, nation_key""".stripMargin
    }
  }

  /** Per-node triangle participation counts by DEGREE-ORIENTED triangle
    * enumeration — the scale-optimal algorithm: undirected edges are
    * oriented from lower degree to higher (ties by id), which makes the
    * orientation a DAG whose max out-degree is O(√m), so the
    * out-neighbor pair join fans out O(m^1.5) worst-case instead of the
    * naive Σdeg² — the difference between feasible and not on a skewed
    * web graph. Each triangle has exactly ONE apex with out-edges to both
    * other corners, so the enumeration is duplicate-free by construction
    * (no post-dedup shuffle); per-node counts union the three corner
    * roles. Self-loops are dropped during canonicalization. */
  val triangles: Q = new Q {
    val name = "q_graph_triangles"
    def run(spark: SparkSession, dir: String): DataFrame = {
      // und feeds degree counting AND the orientation join; oriented feeds
      // all three corner roles of the wedge join — materialize each once
      // so the lineitem∘orders edge derivation runs a single time. und is
      // settled for the orientation only; the result reads oriented.
      val undirected = edges(spark, dir)
        .where(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct()
      val oriented = settled(undirected) { und =>
        val deg = und.select(col("a").as("node")).union(und.select(col("b")))
          .groupBy("node").agg(count(lit(1)).as("deg"))
        val withDeg = und
          .join(deg.select(col("node").as("a"), col("deg").as("dega")), Seq("a"))
          .join(deg.select(col("node").as("b"), col("deg").as("degb")), Seq("b"))
        withDeg.select(
          when(col("dega") < col("degb") ||
              (col("dega") === col("degb") && col("a") < col("b")), col("a"))
            .otherwise(col("b")).as("u"),
          when(col("dega") < col("degb") ||
              (col("dega") === col("degb") && col("a") < col("b")), col("b"))
            .otherwise(col("a")).as("v")).cutLineage()
      }
      val e1 = oriented.select(col("u").as("x"), col("v").as("y"))
      val e2 = oriented.select(col("u").as("x"), col("v").as("z"))
      val e3 = oriented.select(col("u").as("y"), col("v").as("z"))
      val tri = e1.join(e2, Seq("x")).where(col("y") =!= col("z")).join(e3, Seq("y", "z"))
      // corner roles IN-ROW: a 3-way self-union re-runs the wedge join
      // once per corner (the plan showed three independent join subtrees)
      tri.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("n_triangles"))
        .orderBy("node")
    }
    val oracle = Some(
      s"""WITH edges AS ($EdgeSql),
         |und AS (
         |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM edges WHERE src <> dst),
         |deg AS (
         |  SELECT node, count(*) AS deg FROM (
         |    SELECT a AS node FROM und UNION ALL SELECT b FROM und) t
         |  GROUP BY node),
         |oriented AS (
         |  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
         |              THEN u.a ELSE u.b END AS u,
         |         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
         |              THEN u.b ELSE u.a END AS v
         |  FROM und u
         |  JOIN deg da ON da.node = u.a
         |  JOIN deg db ON db.node = u.b),
         |tri AS (
         |  SELECT e1.u AS x, e1.v AS y, e2.v AS z
         |  FROM oriented e1
         |  JOIN oriented e2 ON e2.u = e1.u AND e2.v <> e1.v
         |  JOIN oriented e3 ON e3.u = e1.v AND e3.v = e2.v)
         |SELECT node, count(*) AS n_triangles FROM (
         |  SELECT x AS node FROM tri
         |  UNION ALL SELECT y FROM tri
         |  UNION ALL SELECT z FROM tri) t
         |GROUP BY node ORDER BY node""".stripMargin)
  }

  /** Bounded-hop BFS (single-source shortest hop count) from nation 0 over
    * the undirected trade graph, by iterative edge relaxation:
    *   d₀(v)   = 0 if v = source else 999 (the unreached sentinel)
    *   dₖ₊₁(v) = min(dₖ(v), min_{u~v} dₖ(u) + 1)
    * Fixed 6 iterations ≥ graph diameter, so the result is the true hop
    * distance for everything within 6 hops and the sentinel beyond —
    * exactly the statistic the oracle's 6 chained CTEs compute. Integer
    * min is order-free, so the fixpoint is engine-exact.
    *
    * Scale shape: per iteration one equi-join of the (bidirectional) edge
    * list with the |V|-sized distance frame and one min-groupBy with
    * map-side partials — the Pregel-via-joins pattern again; lineage is
    * cut per step so the plan stays O(1) deep. */
  val bfsHops: Q = new Q {
    val name = "q_bfs_hops"
    private val Iters = 6
    private val Sentinel = 999L
    def run(spark: SparkSession, dir: String): DataFrame = {
      val nation = Tables.nation(spark, dir)
      val nodes = nation.select(col("n_nationkey").as("node"))
      val und = edges(spark, dir)
        .where(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct()
      val both = und.select(explode(array(
          struct(col("a").as("src"), col("b").as("dst")),
          struct(col("b").as("src"), col("a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      val d0 = nodes.select(col("node"),
        when(col("node") === 0, lit(0L)).otherwise(lit(Sentinel)).as("d"))
      val dFinal = settled(both) { b =>
        iterate(d0, Iters) { dists =>
          val relaxed = b
            .join(dists.withColumnRenamed("node", "src"), Seq("src"))
            .select(col("dst").as("node"), (col("d") + 1L).as("d"))
          dists.union(relaxed).groupBy("node").agg(min("d").as("d"))
        }
      }
      dFinal.join(broadcast(nation), col("node") === col("n_nationkey"))
        .select(col("node").as("nation_key"), col("n_name").as("nation_name"),
          col("d").as("hop_dist"))
        .orderBy("nation_key")
    }
    val oracle = Some {
      val iterCtes = (1 to Iters).map { k =>
        s"""d$k AS (
           |  SELECT node, CAST(min(d) AS BIGINT) AS d FROM (
           |    SELECT node, d FROM d${k - 1}
           |    UNION ALL
           |    SELECT e.dst, p.d + 1 FROM bidir e JOIN d${k - 1} p ON p.node = e.src) t
           |  GROUP BY node)""".stripMargin
      }.mkString(",\n")
      s"""WITH edges AS ($EdgeSql),
         |und AS (
         |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM edges WHERE src <> dst),
         |bidir AS (SELECT a AS src, b AS dst FROM und
         |         UNION ALL SELECT b, a FROM und),
         |nodes AS (SELECT n_nationkey AS node FROM nation),
         |d0 AS (SELECT node,
         |         CAST(CASE WHEN node = 0 THEN 0 ELSE $Sentinel END AS BIGINT) AS d
         |       FROM nodes),
         |$iterCtes
         |SELECT d$Iters.node AS nation_key, n.n_name AS nation_name,
         |  d$Iters.d AS hop_dist
         |FROM d$Iters JOIN nation n ON n.n_nationkey = d$Iters.node
         |ORDER BY nation_key""".stripMargin
    }
  }

  /** Part co-purchase graph: an edge (a, b) for every part pair ordered
    * together in ≥ 2 distinct orders — the classic market-basket
    * co-occurrence miner. The per-order pair fan-out is C(items-per-order,
    * 2) — bounded by basket size, a deployment constant — so the pair
    * stream is O(|lineitem|·basket), never O(parts²); one distinct (order
    * co-occurrence, not line co-occurrence) and one count-groupBy on the
    * pair key finish it. The ≥2 support threshold is what sparsifies the
    * graph (below it, hub orders would connect everything). */
  private[queries] val CoSupport = 2
  private[queries] def copurchase(spark: SparkSession, dir: String,
                                  fanned: Boolean = false): DataFrame = {
    // Basket shape, not self-join shape: collect each order's part SET
    // (one shuffle; set semantics = order-level co-occurrence for free),
    // expand the C(basket, 2) pairs IN-ROW with a higher-order filter (no
    // join build, no (order, pa, pb) dedup exchange), then one count
    // shuffle on the pair key. Two exchanges total vs four for
    // join+distinct+count — and the expansion stays bounded by basket
    // size, a deployment constant, exactly like the self-join fan-out.
    val li = Tables.lineitem(spark, dir, fanned)
      .select(col("l_orderkey"), col("l_partkey"))
    li.groupBy("l_orderkey").agg(collect_set(col("l_partkey")).as("ps"))
      .select(explode(col("ps")).as("pa"), col("ps"))
      .select(col("pa"), explode(expr("filter(ps, p -> p > pa)")).as("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("n_orders"))
      .where(col("n_orders") >= CoSupport)
  }
  private[queries] val CopurchaseSql =
    s"""SELECT pa, pb, count(*) AS n_orders FROM (
       |  SELECT DISTINCT x.l_orderkey AS o, x.l_partkey AS pa, y.l_partkey AS pb
       |  FROM lineitem x JOIN lineitem y
       |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey) t
       |GROUP BY pa, pb HAVING count(*) >= $CoSupport""".stripMargin

  val copurchaseEdges: Q = new Q {
    val name = "q_copurchase_edges"
    def run(spark: SparkSession, dir: String): DataFrame =
      copurchase(spark, dir, fanned = true)
        .select(col("pa").as("part_a"), col("pb").as("part_b"), col("n_orders"))
        .orderBy("part_a", "part_b")
    val oracle = Some(
      s"""SELECT pa AS part_a, pb AS part_b, CAST(n_orders AS BIGINT) AS n_orders
         |FROM ($CopurchaseSql) c
         |ORDER BY part_a, part_b""".stripMargin)
  }

  /** Connected components of the co-purchase graph (product communities) —
    * the graph twin of dedup clustering, reusing the SAME adaptive CC
    * kernel (driver union-find under 1M edges, distributed pointer
    * doubling above; identical min-reachable-id labels either way, pinned
    * by DedupOpsSpec). Labels are min node ids, so the recursive-CTE
    * oracle reproduces them exactly. */
  val graphCc: Q = new Q {
    val name = "q_graph_cc"
    def run(spark: SparkSession, dir: String): DataFrame = {
      import graft.ops.DedupOps
      val parts = Tables.part(spark, dir).select(col("p_partkey").as("id"))
      val pairs = copurchase(spark, dir)
        .select(col("pa").as("id_l"), col("pb").as("id_r"))
      val cc = DedupOps.connectedComponents(parts, pairs)
      val sizes = cc.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      cc.join(sizes, Seq("cluster_id"))
        .select(col("node").as("part_key"), col("cluster_id"), col("cluster_size"))
        .orderBy("part_key")
    }
    val oracle = Some(
      s"""WITH RECURSIVE cop AS ($CopurchaseSql),
         |base AS (
         |  SELECT pa AS a, pb AS b FROM cop
         |  UNION SELECT pb, pa FROM cop
         |  UNION SELECT p_partkey, p_partkey FROM part),
         |reach(a, b) AS (
         |  SELECT a, b FROM base
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN base e ON r.b = e.a),
         |cc AS (SELECT a AS part_key, min(b) AS cluster_id FROM reach GROUP BY a),
         |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM cc GROUP BY cluster_id)
         |SELECT cc.part_key, cc.cluster_id, sz.cluster_size
         |FROM cc JOIN sz ON cc.cluster_id = sz.cluster_id
         |ORDER BY cc.part_key""".stripMargin)
  }

  /** Link prediction by neighbor-set similarity (the common-neighbors /
    * Jaccard score of the link-prediction literature): candidate part
    * pairs are generated from WEDGES — per shared neighbor, the in-row
    * expansion of its neighbor set (the basket shape again: one groupBy
    * to adjacency sets, no self-join, fan-out Σ C(deg, 2) bounded by the
    * co-purchase graph's degree) — so only pairs with ≥1 common neighbor
    * ever exist; each pair's wedge count IS its common-neighbor count,
    * and Jaccard = cn ·1e4 div (deg_a + deg_b − cn) in exact integers.
    * Top-50 by similarity, support ≥ 2 common neighbors.
    *
    * Hub suppression: each node's adjacency is CAPPED to its 32 strongest
    * neighbors (by co-order count, ties by id) before wedge expansion —
    * without it the Σ C(deg, 2) fan-out grows quadratically in hub degree
    * and a denser graph explodes (10× probe measured 19× before the cap);
    * with it per-node fan-out is ≤ C(32, 2), a deployment constant, which
    * is exactly the top-k adjacency truncation production link-prediction
    * systems run. Similarity is then Jaccard over the capped sets —
    * deterministic, and mirrored by the oracle's ranked-window CTE. */
  val linkPrediction: Q = new Q {
    val name = "q_link_prediction"
    private val MinCommon = 2
    private val TopK = 50
    private val MaxNbrs = 32
    def run(spark: SparkSession, dir: String): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val cop = copurchase(spark, dir, fanned = true)
        .select(col("pa"), col("pb"), col("n_orders")).cutLineage()
      val adj = cop.select(col("pa").as("w"), col("pb").as("n"), col("n_orders"))
        .union(cop.select(col("pb"), col("pa"), col("n_orders")))
        .withColumn("rn", row_number().over(Window.partitionBy("w")
          .orderBy(col("n_orders").desc, col("n"))))
        .where(col("rn") <= MaxNbrs)
        .select("w", "n")
      val deg = adj.groupBy(col("n").as("node")).agg(count(lit(1)).as("deg"))
      val wedges = adj.groupBy("w").agg(collect_set(col("n")).as("ns"))
        .select(explode(col("ns")).as("u"), col("ns"))
        .select(col("u"), explode(expr("filter(ns, x -> x > u)")).as("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("cn"))
        .where(col("cn") >= MinCommon)
      wedges
        .join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
        .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
        .select(col("u").as("part_a"), col("v").as("part_b"),
          col("cn").as("common_neighbors"),
          expr("cn * 10000 div (du + dv - cn)").as("jaccard_e4"))
        .orderBy(col("jaccard_e4").desc, col("part_a"), col("part_b"))
        .limit(TopK)
    }
    val oracle = Some(
      s"""WITH cop AS ($CopurchaseSql),
         |adj0 AS (SELECT pa AS w, pb AS n, n_orders FROM cop
         |         UNION ALL SELECT pb, pa, n_orders FROM cop),
         |adj AS (
         |  SELECT w, n FROM (
         |    SELECT w, n, row_number() OVER (
         |      PARTITION BY w ORDER BY n_orders DESC, n) AS rn
         |    FROM adj0) t
         |  WHERE rn <= $MaxNbrs),
         |deg AS (SELECT n AS node, count(*) AS deg FROM adj GROUP BY 1),
         |wedge AS (
         |  SELECT x.n AS u, y.n AS v, count(*) AS cn
         |  FROM adj x JOIN adj y ON x.w = y.w AND x.n < y.n
         |  GROUP BY x.n, y.n HAVING count(*) >= $MinCommon)
         |SELECT w.u AS part_a, w.v AS part_b,
         |  CAST(w.cn AS BIGINT) AS common_neighbors,
         |  CAST(w.cn * 10000 // (da.deg + db.deg - w.cn) AS BIGINT) AS jaccard_e4
         |FROM wedge w
         |JOIN deg da ON da.node = w.u
         |JOIN deg db ON db.node = w.v
         |ORDER BY jaccard_e4 DESC, part_a, part_b LIMIT $TopK""".stripMargin)
  }

  /** Weighted single-source shortest path (bounded Bellman-Ford) over the
    * nation trade graph: edge weight = 1000 − min(strength, 999) where
    * strength = distinct trading (supplier, customer) nation-pair order
    * volume is NOT available per nation edge, so the weight is derived
    * from the edge count of the underlying directed trade relation —
    * heavier trade = shorter effective distance. WEIGHTED shortest paths
    * can thread up to n−1 cheap edges to undercut one expensive edge, so
    * the unweighted-diameter bound that suffices for BFS does NOT apply;
    * the Spark side therefore runs min-plus MATRIX SQUARING — the
    * pointer-doubling of shortest paths: each round extends path length
    * 2^k, so ⌈log₂(n−1)⌉ = 5 rounds guarantee true distances where
    * round-per-edge Bellman-Ford needs 24 (measured 5.0 s → 1.6 s warm).
    * The distance matrix is ≤|V|²-sized — dimension-scale here; for
    * web-scale V the squaring join is the thing you'd NOT do and
    * delta-stepping replaces it, which is why the ORACLE keeps the
    * canonical 24-round Bellman-Ford formulation: two different exact
    * algorithms, one statistic, value-equal by the gate. Sentinel 999999
    * for unreached; integer min-plus algebra throughout. */
  val weightedSssp: Q = new Q {
    val name = "q_weighted_sssp"
    private val Iters = 24 // |nations| - 1: the Bellman-Ford convergence bound
    private val Sentinel = 999999L
    def run(spark: SparkSession, dir: String): DataFrame = {
      val nation = Tables.nation(spark, dir)
      val nodes = nation.select(col("n_nationkey").as("node"))
      // directed trade edges with multiplicity-derived weights
      val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey"))
      val sup = Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey"))
      val ord = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
      val cust = Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
      val weighted = li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("s_nationkey").as("src"), col("c_nationkey").as("dst"))
        .agg(count(lit(1)).as("strength"))
        .where(col("src") =!= col("dst"))
        .select(col("src"), col("dst"),
          (lit(1000L) - least(col("strength"), lit(999L))).as("w"))
      val closure = settled(weighted) { w =>
        val d0 = w.select(col("src").as("u"), col("dst").as("v"), col("w").as("d"))
          .union(nodes.select(col("node").as("u"), col("node").as("v"), lit(0L).as("d")))
        iterate(d0, 5) { dmat =>
          val through = dmat.alias("a").join(dmat.alias("b"), col("a.v") === col("b.u"))
            .select(col("a.u").as("u"), col("b.v").as("v"),
              (col("a.d") + col("b.d")).as("d"))
          dmat.union(through).groupBy("u", "v").agg(min("d").as("d"))
        }
      }
      nodes
        .join(closure.where(col("u") === 0)
          .select(col("v").as("node"), col("d")), Seq("node"), "left")
        .join(broadcast(nation), col("node") === col("n_nationkey"))
        .select(col("node").as("nation_key"), col("n_name").as("nation_name"),
          coalesce(col("d"), lit(Sentinel)).as("dist_w"))
        .orderBy("nation_key")
    }
    val oracle = Some {
      // every d{k} is referenced TWICE by d{k+1} (self branch + relax
      // branch): without MATERIALIZED the inlined CTE tree doubles per
      // round — 2^24 expansion that exhausts file handles. Materializing
      // makes each round one bounded evaluation (Spark's localCheckpoint
      // per round is the same decision on the other engine).
      val iterCtes = (1 to Iters).map { k =>
        s"""d$k AS MATERIALIZED (
           |  SELECT node, CAST(min(d) AS BIGINT) AS d FROM (
           |    SELECT node, d FROM d${k - 1}
           |    UNION ALL
           |    SELECT e.dst, p.d + e.w
           |    FROM wedges e JOIN d${k - 1} p ON p.node = e.src
           |    WHERE p.d < $Sentinel) t
           |  GROUP BY node)""".stripMargin
      }.mkString(",\n")
      s"""WITH wedges AS MATERIALIZED (
         |  SELECT src, dst, 1000 - least(strength, 999) AS w FROM (
         |    SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
         |      count(*) AS strength
         |    FROM lineitem l
         |    JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |    JOIN orders o ON l.l_orderkey = o.o_orderkey
         |    JOIN customer c ON o.o_custkey = c.c_custkey
         |    GROUP BY 1, 2) t
         |  WHERE src <> dst),
         |nodes AS (SELECT n_nationkey AS node FROM nation),
         |d0 AS (SELECT node,
         |         CAST(CASE WHEN node = 0 THEN 0 ELSE $Sentinel END AS BIGINT) AS d
         |       FROM nodes),
         |$iterCtes
         |SELECT d$Iters.node AS nation_key, n.n_name AS nation_name,
         |  d$Iters.d AS dist_w
         |FROM d$Iters JOIN nation n ON n.n_nationkey = d$Iters.node
         |ORDER BY nation_key""".stripMargin
    }
  }

  /** Community detection by WEIGHTED LABEL PROPAGATION over the
    * co-purchase graph — the modularity-flavored complement to `q_graph_cc`
    * (CC answers "connected at all?"; LPA answers "which cluster does the
    * connectivity WEIGHT pull you into?"). Three fixed SYNCHRONOUS
    * iterations from label(v)=v: each node adopts the label with the
    * highest co-purchase-weight sum among its neighbors, ties to the
    * smallest label, isolated nodes keep their own. Fixed iteration count
    * + integer weights + min tie-break ⇒ fully deterministic (async LPA is
    * famously not), and the oracle unrolls the same three rounds as CTEs.
    *
    * Scale shape (Pregel-via-joins, same as pagerank): per iteration ONE
    * equi-join of the undirected edge list with the |V|-sized label frame
    * and ONE (node, label) groupBy with map-side partial sums, then a
    * struct-max argmax — no window over the corpus, no driver state.
    * Lineage is cut every round. */
  val LpaRounds = 3

  /** The weighted undirected co-purchase edge list (both directions) —
    * shared by LPA and the modularity gate. */
  private def lpaEdges(spark: SparkSession, dir: String): DataFrame =
    copurchase(spark, dir).select(explode(array(
        struct(col("pa").as("src"), col("pb").as("dst"), col("n_orders").as("w")),
        struct(col("pb").as("src"), col("pa").as("dst"), col("n_orders").as("w"))))
        .as("t"))
      .select(col("t.src").as("src"), col("t.dst").as("dst"), col("t.w").as("w"))

  /** Three synchronous LPA rounds over `e` → (id, lbl). Shared by
    * q_label_propagation and q_graph_modularity so the partition the
    * quality gate scores is EXACTLY the partition the LPA query emits. */
  private def lpaLabels(spark: SparkSession, dir: String, e: DataFrame): DataFrame = {
    val nodes = Tables.part(spark, dir).select(col("p_partkey").cast("long").as("id"))
    iterate(nodes.select(col("id"), col("id").as("lbl")), LpaRounds) { labels =>
      val best = e.join(labels.select(col("id").as("dst"), col("lbl")), Seq("dst"))
        .groupBy(col("src"), col("lbl"))
        .agg(sum("w").as("s"))
        .groupBy(col("src").as("id"))
        .agg(max(struct(col("s"), (-col("lbl")).as("nl"))).as("b"))
        .select(col("id"), (-col("b.nl")).as("new_lbl"))
      labels.join(best, Seq("id"), "left")
        .select(col("id"), coalesce(col("new_lbl"), col("lbl")).as("lbl"))
    }
  }

  val labelPropagation: Q = new Q {
    val name = "q_label_propagation"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val labels = settled(lpaEdges(spark, dir))(lpaLabels(spark, dir, _))
      val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("community_size"))
      labels.join(sizes, Seq("lbl"))
        .select(col("id").as("part_key"), col("lbl").as("community"), col("community_size"))
        .orderBy("part_key")
    }
    val oracle = Some(
      s"""WITH $SqlLpaCtes,
         |sz AS (SELECT lbl, count(*) AS community_size FROM l$LpaRounds GROUP BY lbl)
         |SELECT l$LpaRounds.id AS part_key, l$LpaRounds.lbl AS community, sz.community_size
         |FROM l$LpaRounds JOIN sz ON l$LpaRounds.lbl = sz.lbl
         |ORDER BY part_key""".stripMargin)
  }

  /** The LPA CTE chain (weighted undirected edges `e` + labels `l0..lN`)
    * shared by q_label_propagation and q_graph_modularity, so both
    * oracles score the SAME partition by construction. */
  private lazy val SqlLpaCtes: String = {
    def round(i: Int) =
      s"""s$i AS (
         |  SELECT e.src AS id, l.lbl, sum(e.w) AS s
         |  FROM e JOIN l${i - 1} l ON e.dst = l.id GROUP BY e.src, l.lbl),
         |b$i AS (
         |  SELECT id, lbl,
         |    row_number() OVER (PARTITION BY id ORDER BY s DESC, lbl ASC) AS rn
         |  FROM s$i),
         |l$i AS (
         |  SELECT p.id, coalesce(b.lbl, p.lbl) AS lbl
         |  FROM l${i - 1} p LEFT JOIN b$i b ON p.id = b.id AND b.rn = 1)"""
    s"""cop AS ($CopurchaseSql),
       |e AS (SELECT pa AS src, pb AS dst, n_orders AS w FROM cop
       |      UNION ALL SELECT pb, pa, n_orders FROM cop),
       |l0 AS (SELECT CAST(p_partkey AS BIGINT) AS id, CAST(p_partkey AS BIGINT) AS lbl
       |       FROM part),
       |${(1 to LpaRounds).map(round).mkString(",\n")}""".stripMargin
  }

  /** Weighted-modularity quality gate for the LPA partition — the number
    * that tells an operator whether the communities are real structure or
    * noise, reported EXACTLY: per community c over the undirected
    * weighted co-purchase graph, modularity contribution
    * num_c = W2·intra_w2_c − deg_w_c², where W2 = Σ directed weight
    * (= 2W), intra_w2_c = directed intra-community weight (= 2e_c), and
    * deg_w_c = Σ weighted degrees. Newman's Q = Σ_c num_c / W2² — every
    * row carries w2_total, so Q is reproducible from the table without a
    * second query; q_e6 per community = num_c·10⁶ div W2² (summable).
    * All integers; the one division is the final e6 scaling.
    *
    * BIGINT headroom: deg_w_c ≤ W2, so num_c needs W2² < 2⁶³ — W2 up to
    * ~3·10⁹ total co-purchase weight; beyond that, pre-scale w (divide by
    * a power of ten) before the gate — Q is scale-invariant.
    *
    * Scale shape: the labels come from the shared LPA rounds; the intra
    * aggregate is ONE edge join against the label frame (both endpoints)
    * + a community groupBy; degrees are a node-grain groupBy. Singleton
    * communities (no intra edges, maybe no edges at all) are kept via
    * left joins with zero defaults. */
  val qGraphModularity: Q = new Q {
    val name = "q_graph_modularity"
    def run(spark: SparkSession, dir: String): DataFrame = {
      // withL feeds THREE aggregates (intra / deg / w2): cut once so the
      // double label join runs once, not per consumer (OPTIMIZATION_r18)
      val (labels, withL) = settled(lpaEdges(spark, dir)) { e =>
        val labels = lpaLabels(spark, dir, e)
        val lsrc = labels.select(col("id").as("src"), col("lbl"))
        val ldst = labels.select(col("id").as("dst"), col("lbl").as("lbl_d"))
        (labels, e.join(lsrc, Seq("src")).join(ldst, Seq("dst")).cutLineage())
      }
      val intra = withL.where(col("lbl") === col("lbl_d"))
        .groupBy("lbl").agg(sum("w").as("intra_w2"))
      val deg = withL.groupBy("lbl").agg(sum("w").as("deg_w"))
      val w2 = withL.agg(sum("w").as("w2_total"))
      labels.groupBy("lbl").agg(count(lit(1)).as("n_nodes"))
        .join(intra, Seq("lbl"), "left")
        .join(deg, Seq("lbl"), "left")
        .crossJoin(broadcast(w2))
        .select(col("lbl").as("community"), col("n_nodes"),
          coalesce(col("intra_w2"), lit(0L)).as("intra_w2"),
          coalesce(col("deg_w"), lit(0L)).as("deg_w"), col("w2_total"))
        .withColumn("contrib_num",
          col("w2_total") * col("intra_w2") - col("deg_w") * col("deg_w"))
        .withColumn("q_e6",
          expr("contrib_num * 1000000 div (w2_total * w2_total)"))
        .orderBy("community")
    }
    val oracle = Some(
      s"""WITH $SqlLpaCtes,
         |wl AS (
         |  SELECT e.src, e.dst, e.w, ls.lbl AS lbl, ld.lbl AS lbl_d
         |  FROM e JOIN l$LpaRounds ls ON e.src = ls.id
         |         JOIN l$LpaRounds ld ON e.dst = ld.id),
         |intra AS (SELECT lbl, CAST(sum(w) AS BIGINT) AS intra_w2 FROM wl
         |          WHERE lbl = lbl_d GROUP BY lbl),
         |deg AS (SELECT lbl, CAST(sum(w) AS BIGINT) AS deg_w FROM wl GROUP BY lbl),
         |w2 AS (SELECT CAST(sum(w) AS BIGINT) AS w2_total FROM wl),
         |base AS (SELECT lbl, count(*) AS n_nodes FROM l$LpaRounds GROUP BY lbl)
         |SELECT base.lbl AS community, base.n_nodes,
         |  coalesce(intra.intra_w2, 0) AS intra_w2,
         |  coalesce(deg.deg_w, 0) AS deg_w,
         |  w2.w2_total,
         |  w2.w2_total * coalesce(intra.intra_w2, 0)
         |    - coalesce(deg.deg_w, 0) * coalesce(deg.deg_w, 0) AS contrib_num,
         |  CAST((w2.w2_total * coalesce(intra.intra_w2, 0)
         |    - coalesce(deg.deg_w, 0) * coalesce(deg.deg_w, 0)) * 1000000
         |    // (w2.w2_total * w2.w2_total) AS BIGINT) AS q_e6
         |FROM base LEFT JOIN intra USING (lbl) LEFT JOIN deg USING (lbl)
         |CROSS JOIN w2
         |ORDER BY community""".stripMargin)
  }

  /** DETERMINISTIC hash-seeded random walks — the node2vec/DeepWalk
    * data-prep op: walks over the co-purchase graph generate the
    * (center, context) pairs a graph-embedding trainer consumes. True
    * random walks can't pass a cross-engine bit gate, so each step is
    * seeded arithmetic: from node v at step s of the walk started at a,
    * the successor is the neighbor ranked (hashP("a:s") mod outdeg(v)) + 1
    * in (dst asc) order — reproducible on any engine, any partitioning.
    * Walks start from the bounded strided batch (p_partkey % 50 = 0) and
    * take 3 steps; a node with no neighbors ends its walk early.
    *
    * Scale shape: the ranked adjacency is built once (one groupBy-free
    * window per src); each step is ONE equi-join of the frontier with it
    * (join on src, residual rank-pick filter) — walks never touch the
    * driver, and the frontier is |starts|-bounded. */
  val graphWalks: Q = new Q {
    val name = "q_graph_walks"
    val Steps = 3
    val StartStride = 50
    def run(spark: SparkSession, dir: String): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val cop = copurchase(spark, dir, fanned = true)
      val und = cop.select(explode(array(
          struct(col("pa").as("src"), col("pb").as("dst")),
          struct(col("pb").as("src"), col("pa").as("dst")))).as("t"))
        .select(col("t.src").as("src"), col("t.dst").as("dst"))
      val adj = und
        .withColumn("rn", row_number().over(Window.partitionBy("src").orderBy("dst")))
        .withColumn("outdeg", count(lit(1)).over(Window.partitionBy("src")))
        .cutLineage()
      val starts = Tables.part(spark, dir)
        .where(col("p_partkey") % StartStride === 0)
        .select(col("p_partkey").cast("long").as("start_key"),
          col("p_partkey").cast("long").as("node_key"), lit(0).as("step"))
      val frontiers = (1 to Steps).scanLeft(starts) { (frontier, s) =>
        val pick = graft.ops.HashOps.hashP(concat(col("start_key").cast("string"), lit(s":$s")))
        frontier
          .join(adj, col("node_key") === col("src") &&
            col("rn") === pick % col("outdeg") + 1)
          .select(col("start_key"), col("dst").cast("long").as("node_key"),
            lit(s).as("step"))
      }
      frontiers.reduce(_ union _).orderBy("start_key", "step")
    }
    val oracle = {
      def step(i: Int) = {
        val pick = graft.ops.HashOps.sqlHashP(s"concat(CAST(start_key AS VARCHAR), ':$i')")
        s"""w$i AS (
           |  SELECT w.start_key, CAST(a.dst AS BIGINT) AS node_key, $i AS step
           |  FROM w${i - 1} w JOIN adj a
           |    ON w.node_key = a.src AND a.rn = ($pick) % a.outdeg + 1)"""
      }
      Some(
        s"""WITH cop AS ($CopurchaseSql),
           |und AS (SELECT pa AS src, pb AS dst FROM cop
           |        UNION ALL SELECT pb, pa FROM cop),
           |adj AS (
           |  SELECT src, dst,
           |    row_number() OVER (PARTITION BY src ORDER BY dst) AS rn,
           |    count(*) OVER (PARTITION BY src) AS outdeg
           |  FROM und),
           |w0 AS (
           |  SELECT CAST(p_partkey AS BIGINT) AS start_key,
           |         CAST(p_partkey AS BIGINT) AS node_key, 0 AS step
           |  FROM part WHERE p_partkey % $StartStride = 0),
           |${(1 to Steps).map(step).mkString(",\n")}
           |SELECT start_key, node_key, step FROM w0
           |${(1 to Steps).map(i => s"UNION ALL SELECT start_key, node_key, step FROM w$i").mkString("\n")}
           |ORDER BY start_key, step""".stripMargin)
    }
  }

  /** k-core decomposition (fixed-round peeling) over the co-purchase
    * graph — the density filter a graph pipeline runs before expensive
    * community/embedding passes: iteratively delete nodes of degree < K
    * and report what survives. True coreness iterates to a fixpoint whose
    * round count is data-dependent; for a cross-engine bit gate the query
    * runs EXACTLY `Rounds` synchronous peel rounds (the standard
    * Pregel-style formulation — both engines unroll the same rounds, and
    * the spec checks fixpoint-reached on the fixture).
    *
    * Scale shape per round: one degree groupBy + two semi-joins, all
    * partial-aggregated equi-joins on the node key; the edge list shrinks
    * monotonically and is settled every round so lineage stays flat. No
    * driver-side state. */
  val kcore: Q = new Q {
    val name = "q_kcore"
    val K = 3
    val Rounds = 4
    def run(spark: SparkSession, dir: String): DataFrame = {
      val cop = copurchase(spark, dir, fanned = true)
      val e0 = cop.select(explode(array(
          struct(col("pa").as("src"), col("pb").as("dst")),
          struct(col("pb").as("src"), col("pa").as("dst")))).as("t"))
        .select(col("t.src").as("src"), col("t.dst").as("dst"))
      val e = settled(e0) { s =>
        iterate(s, Rounds) { e =>
          val keep = e.groupBy("src").agg(count(lit(1)).as("deg"))
            .where(col("deg") >= K).select("src")
          e.join(keep, Seq("src"), "left_semi")
            .join(keep.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi")
        }
      }
      e.groupBy("src").agg(count(lit(1)).as("degree"))
        .select(col("src").as("part_key"), col("degree"))
        .orderBy("part_key")
    }
    val oracle = {
      def round(i: Int) =
        s"""k$i AS (SELECT src FROM e${i - 1} GROUP BY src HAVING count(*) >= $K),
           |e$i AS (
           |  SELECT e.src, e.dst FROM e${i - 1} e
           |  JOIN k$i a ON e.src = a.src JOIN k$i b ON e.dst = b.src)"""
      Some(
        s"""WITH cop AS ($CopurchaseSql),
           |e0 AS (SELECT pa AS src, pb AS dst FROM cop
           |       UNION ALL SELECT pb, pa FROM cop),
           |${(1 to Rounds).map(round).mkString(",\n")}
           |SELECT src AS part_key, count(*) AS degree
           |FROM e$Rounds GROUP BY src ORDER BY part_key""".stripMargin)
    }
  }

  /** HITS (hubs & authorities) over the BIPARTITE customer→part purchase
    * graph — the mutual-reinforcement complement to PageRank: a part is
    * authoritative if bought by strong hub customers, a customer is a hub
    * if they buy authoritative parts. Two full hub↔authority rounds,
    * integer-exact: scores are e6 BIGINTs normalized by the MAX (L∞) after
    * every half-step — max is order-free and integer, where the textbook
    * L2 normalization would drag a √ into the recurrence. Output: the
    * top-100 authority parts.
    *
    * Scale shape (Pregel-via-joins): the distinct (cust, part) edge list
    * is derived once from the fact pass and settled; each
    * half-step is ONE equi-join of edges with the |part|- or |cust|-sized
    * score frame plus ONE partial-aggregated groupBy; the L∞ normalizer
    * is a 1-row broadcast. The final top-100 is a rank-filtered window
    * over the part-DIM frame (WindowGroupLimit applies). BIGINT headroom:
    * score ≤ 10⁶, so a half-step sum ≤ 10⁶·maxdeg — exact to maxdeg 10¹²;
    * the ×10⁶ renormalization products stay ≤ 10⁶·10⁶·maxdeg. */
  val hitsBipartite: Q = new Q {
    val name = "q_hits_bipartite"
    private val E6 = 1000000L
    def run(spark: SparkSession, dir: String): DataFrame = {
      val edges = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_partkey"))
        .join(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
        .distinct()
      // hub₀ ≡ e6 ⇒ auth₁(p) = e6 · indeg(p)
      // Each normalized half-step frame is consumed TWICE (the L∞ max-agg
      // broadcast branch + the next half-step's join), and the plan
      // re-derived the whole prefix chain per consumer (a2n's tree held
      // h1n's twice, each holding a1n's twice — no static ReusedExchange;
      // OPTIMIZATION_r18, guide §2.4). The frames are DIM-grain
      // (|parts| / |custs|), so settling each half-step materializes it
      // exactly once.
      val a2 = settled(edges) { e =>
        settled(e.groupBy("part").agg((count(lit(1)) * E6).as("a1"))) { a1 =>
          val a1n = a1.crossJoin(broadcast(a1.agg(max("a1").as("mx"))))
            .select(col("part"), expr(s"a1 * $E6 div mx").as("a1n"))
          settled(e.join(a1n, Seq("part")).groupBy("cust").agg(sum("a1n").as("h1"))) { h1 =>
            val h1n = h1.crossJoin(broadcast(h1.agg(max("h1").as("mx"))))
              .select(col("cust"), expr(s"h1 * $E6 div mx").as("h1n"))
            e.join(h1n, Seq("cust")).groupBy("part").agg(sum("h1n").as("a2")).cutLineage()
          }
        }
      }
      val a2n = a2.crossJoin(broadcast(a2.agg(max("a2").as("mx"))))
        .select(col("part"), expr(s"a2 * $E6 div mx").as("auth_e6"))
      a2n
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("auth_e6").desc, col("part"))).cast("long"))
        .where(col("rank") <= 100)
        .select(col("part").as("p_partkey"), col("auth_e6"), col("rank"))
        .orderBy("rank")
    }
    val oracle = Some(
      s"""WITH e AS (
         |  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
         |a1 AS (SELECT part, count(*) * $E6 AS a1 FROM e GROUP BY 1),
         |a1n AS (SELECT part, a1 * $E6 // (SELECT max(a1) FROM a1) AS a1n FROM a1),
         |h1 AS (SELECT cust, sum(a1n) AS h1 FROM e JOIN a1n USING (part) GROUP BY 1),
         |h1n AS (SELECT cust, h1 * $E6 // (SELECT max(h1) FROM h1) AS h1n FROM h1),
         |a2 AS (SELECT part, sum(h1n) AS a2 FROM e JOIN h1n USING (cust) GROUP BY 1),
         |a2n AS (SELECT part, a2 * $E6 // (SELECT max(a2) FROM a2) AS auth_e6 FROM a2),
         |r AS (
         |  SELECT part, auth_e6,
         |    row_number() OVER (ORDER BY auth_e6 DESC, part) AS rank
         |  FROM a2n)
         |SELECT part AS p_partkey, CAST(auth_e6 AS BIGINT) AS auth_e6,
         |  CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= 100 ORDER BY rank""".stripMargin)
  }

  /** Degree-distribution profile of the co-purchase graph — the first
    * statistic any graph pipeline inspects (power-law vs uniform decides
    * hub caps, salting, and orientation strategy for every downstream
    * graph operator here). Log₂-binned via `length(bin(deg))` — an exact
    * integer bit-length in both engines, no float log (the
    * q_length_histogram device).
    *
    * Scale shape: degrees are one groupBy over the edge list (node-DIM
    * output), the histogram a second groupBy to ≤ 64 bins. */
  val degreeHistogram: Q = new Q {
    val name = "q_degree_histogram"
    def run(spark: SparkSession, dir: String): DataFrame = {
      val e = copurchase(spark, dir, fanned = true)
      // both endpoints IN-ROW — a self-union re-runs the pair aggregation
      val deg = e.select(explode(array(col("pa"), col("pb"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      deg.groupBy(length(bin(col("deg"))).cast("long").as("deg_bin"))
        .agg(count(lit(1)).as("n_nodes"), min("deg").as("min_deg"),
          max("deg").as("max_deg"), sum("deg").as("sum_deg"))
        .orderBy("deg_bin")
    }
    val oracle = Some(
      s"""WITH cop AS ($CopurchaseSql),
         |deg AS (
         |  SELECT node, count(*) AS deg FROM (
         |    SELECT pa AS node FROM cop UNION ALL SELECT pb FROM cop) t
         |  GROUP BY 1)
         |SELECT CAST(length(bin(deg)) AS BIGINT) AS deg_bin,
         |  count(*) AS n_nodes, CAST(min(deg) AS BIGINT) AS min_deg,
         |  CAST(max(deg) AS BIGINT) AS max_deg, CAST(sum(deg) AS BIGINT) AS sum_deg
         |FROM deg GROUP BY 1 ORDER BY deg_bin""".stripMargin)
  }

  /** Degree assortativity of the co-purchase graph — do hubs attach to
    * hubs (assortative, r>0) or to leaves (disassortative, r<0)? The
    * number that decides whether hub-capping (link prediction) and
    * degree-orientation (triangles) pay off. Exported as the EXACT
    * Pearson sufficient statistics over directed edge endpoints
    * (x = deg(src), y = deg(dst); both directions, so Σx = Σy):
    * r = num / var_n. The √-free export is the q_acf_daily convention.
    *
    * Scale shape: one degree groupBy (node-DIM), two part-grain joins of
    * the edge list against it, one global aggregate. Headroom: deg ≤ 10⁶
    * keeps n·Σxy under 2^63 to ~10⁹ edges. */
  val graphAssortativity: Q = new Q {
    val name = "q_graph_assortativity"
    def run(spark: SparkSession, dir: String): DataFrame = {
      // the pair aggregate feeds degree AND both directions: checkpoint
      // it once, expand in-row (self-unions re-ran it up to 4×)
      val e = copurchase(spark, dir, fanned = true).select("pa", "pb").cutLineage()
      val deg = e.select(explode(array(col("pa"), col("pb"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val directed = e.select(explode(array(
          struct(col("pa").as("s"), col("pb").as("d")),
          struct(col("pb").as("s"), col("pa").as("d")))).as("t"))
        .select(col("t.s").as("s"), col("t.d").as("d"))
      directed
        .join(deg.select(col("node").as("s"), col("deg").as("x")), Seq("s"))
        .join(deg.select(col("node").as("d"), col("deg").as("y")), Seq("d"))
        .agg(count(lit(1)).as("n"), sum("x").as("sx"),
          sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sx2"))
        .select(col("n"),
          expr("n * sxy - sx * sx").as("num"),
          expr("n * sx2 - sx * sx").as("var_n"))
    }
    val oracle = Some(
      s"""WITH cop AS ($CopurchaseSql),
         |deg AS (
         |  SELECT node, count(*) AS deg FROM (
         |    SELECT pa AS node FROM cop UNION ALL SELECT pb FROM cop) t
         |  GROUP BY 1),
         |dirr AS (
         |  SELECT pa AS s, pb AS d FROM cop
         |  UNION ALL SELECT pb, pa FROM cop),
         |j AS (
         |  SELECT ds.deg AS x, dd.deg AS y
         |  FROM dirr JOIN deg ds ON dirr.s = ds.node
         |            JOIN deg dd ON dirr.d = dd.node)
         |SELECT count(*) AS n,
         |  CAST(count(*) * sum(x * y) - sum(x) * sum(x) AS BIGINT) AS num,
         |  CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS BIGINT) AS var_n
         |FROM j""".stripMargin)
  }

  def all: Seq[Q] = Seq(pagerank, triangles, bfsHops, copurchaseEdges, graphCc,
    linkPrediction, weightedSssp, labelPropagation, graphWalks, kcore,
    hitsBipartite, degreeHistogram, graphAssortativity, qGraphModularity)
}
