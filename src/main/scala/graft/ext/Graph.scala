package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.{ArtifactStore, Tables}

/** Iterative graph analytics over relational data — PageRank
  * (Brin/Page 1998, public formula) on the part co-occurrence graph
  * (parts sharing an order), the "importance over an induced graph"
  * primitive (seed selection, catalog ranking; same shape as entity
  * graphs induced from a document corpus).
  *
  * Joins [[Dedup.dedupCluster]]'s connected components as the second
  * member of the iterative-graph family; the convergence machinery
  * differs (fixed damped iterations vs fixpoint label propagation).
  */
object Graph {

  /** Fixed-point mass: ranks are BIGINT twelfths-of-a-trillion, so
    * every per-iteration operation — `r div deg` share splitting, the
    * damped `85·Σ div 100`, the `(1−d)` floor — is integer-exact and
    * ADDITION-ORDER-INDEPENDENT across partitions. That is what lets
    * the DuckDB oracle replay the identical training run (the IVF
    * fixed-point discipline); float ranks would diverge in the last
    * ulp on every re-partitioning.
    */
  private val Scale = 1000000000000L
  private val BaseNum = Scale * 15L / 100L // (1-d) numerator, d = 0.85
  private val PrIters = 3
  private val PrTopK = 20

  /** The graph family's INDEX BUILD: the symmetric co-occurrence
    * edge set, published once per corpus as a durable artifact and
    * SHARED by [[graphPagerank]] (uses it whole), [[graphTriangles]]
    * (its canonical a<b half) and the other graph operators — the
    * same build-once/query-many split as the IVF/PQ models and the
    * cluster labeling.
    *
    * Deterministic order-subset (12.5%): co-occurrence graphs grow
    * ~quadratically in items-per-group, so the gate queries bound
    * the self-join fan-out explicitly rather than relying on corpus
    * shape; the full-corpus run is the same plan minus the filter
    * (measured 4x cost at sf0.1).
    */
  private def edges(spark: SparkSession, dir: String): DataFrame =
    ArtifactStore.frame(spark, "graph-edges-v1", dir, "lineitem") {
      val li = Tables.table(spark, dir, "lineitem")
        .filter(pmod(col("l_orderkey"), lit(8)) === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey"))
      li.toDF("ok", "src").join(li.toDF("ok", "dst"), "ok")
        .filter(col("src") =!= col("dst"))
        .select("src", "dst").distinct()
    }

  /** PageRank serving index: the edge artifact pre-joined with
    * out-degrees, plus the node set and its count. Serving these from
    * memory instead of the parquet edge scan saves five re-scans per
    * hot call (deg agg + nodes distinct + count + one per iteration;
    * measured hot 1.62 s → 1.04 s); `adj`/`nodes` are a few MB of
    * longs, eagerly localCheckpointed.
    */
  private case class PrIndex(adj: DataFrame, nodes: DataFrame, n: Long)
  private def prIndex(spark: SparkSession, dir: String): PrIndex =
    ArtifactStore.memo(spark, "graph-pr-index-v1", dir, "lineitem") {
      val es = edges(spark, dir)
      val deg = es.groupBy("src").agg(count(lit(1)).as("deg"))
      val adj = es.join(deg, "src").localCheckpoint(true)
      val nodes =
        adj.select(col("src").as("node")).distinct().localCheckpoint(true)
      PrIndex(adj, nodes, nodes.count()) // driver scalar: node count only
    }

  /** PageRank top-[[PrTopK]] parts after [[PrIters]] damped
    * iterations over the shared [[edges]] set. Each iteration is one
    * equi-join + hash agg on the destination key against the
    * checkpointed [[prIndex]] adjacency (degree pre-attached, so no
    * per-iteration deg join); the node count is the only driver
    * scalar (the IVF model-scale pattern). The symmetric
    * co-occurrence edge set has no dangling nodes, so no
    * mass-redistribution term is needed.
    */
  def graphPagerank(spark: SparkSession, dir: String): DataFrame = {
    val gi = prIndex(spark, dir)
    val n = gi.n
    val base = BaseNum / n
    var rank = gi.nodes.select(col("node"), lit(Scale / n).as("r"))
    for (_ <- 1 to PrIters) {
      val contrib = gi.adj
        .join(rank.select(col("node").as("src"), col("r")), "src")
        .select(col("dst").as("node"), expr("r div deg").as("c"))
        .groupBy("node").agg(sum(col("c")).as("s"))
      rank = gi.nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(base) + expr("(85 * coalesce(s, CAST(0 AS BIGINT))) div 100")).as("r"))
    }
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("r").desc, col("node").asc)
    rank
      .orderBy(col("r").desc, col("node").asc)
      .limit(PrTopK)
      .withColumn("rn", row_number().over(w).cast("long"))
      .select(col("rn"), col("node").as("part_key"), col("r").as("rank_fp"))
      .orderBy("rn")
  }

  private val TriTopK = 20

  /** Triangle counting (top-[[TriTopK]] vertices by triangle
    * participation) over the same bounded co-occurrence graph as
    * [[graphPagerank]] — the clustering-coefficient numerator, the
    * third member of the graph family (fixpoint components, damped
    * iteration, and now motif counting). Uses the node-iterator
    * join shape (Suri & Vassilvitskii 2011 "Counting Triangles and
    * the Curse of the Last Reducer"): canonicalize edges to a < b so
    * every triangle (a,b,c), a<b<c, is enumerated exactly once by
    * two equi-joins — wedge (a,b)+(b,c) closed by (a,c). No
    * all-pairs product; the wedge join fans out on the canonical
    * edge's lower endpoint, which the a<b<c ordering keeps to the
    * low-degree direction on skewed graphs (the paper's fix for the
    * "last reducer" hub problem).
    */
  def graphTriangles(spark: SparkSession, dir: String): DataFrame = {
    // canonical a < b: each undirected co-occurrence edge once — the
    // a<b half of the shared symmetric [[edges]] set
    val canon = edges(spark, dir)
      .filter(col("src") < col("dst")).toDF("a", "b")
    val wedge = canon
      .join(canon.toDF("b", "c"), "b")
      .filter(col("a") < col("b")) // rebind sanity: a<b<c by construction
    val tri = wedge.join(canon.toDF("a", "c"), Seq("a", "c"))
      .select("a", "b", "c")
    val perNode = tri.select(col("a").as("node"))
      .union(tri.select(col("b").as("node")))
      .union(tri.select(col("c").as("node")))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_triangles").desc, col("node").asc)
    perNode.orderBy(col("n_triangles").desc, col("node").asc).limit(TriTopK)
      .withColumn("rn", row_number().over(w).cast("long"))
      .select(col("rn"), col("node").as("part_key"), col("n_triangles"))
      .orderBy("rn")
  }

  val graphTrianglesSql: String =
    s"""WITH li AS (
       |  SELECT l_orderkey, l_partkey FROM lineitem
       |  WHERE l_orderkey % 8 = 0),
       |edges AS (
       |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
       |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
       |  WHERE x.l_partkey < y.l_partkey),
       |tri AS (
       |  SELECT e1.a, e1.b, e2.b AS c
       |  FROM edges e1
       |  JOIN edges e2 ON e2.a = e1.b
       |  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b),
       |pn AS (
       |  SELECT node, count(*) AS n_triangles FROM (
       |    SELECT a AS node FROM tri
       |    UNION ALL SELECT b FROM tri
       |    UNION ALL SELECT c FROM tri)
       |  GROUP BY node),
       |ranked AS (
       |  SELECT node, n_triangles,
       |    row_number() OVER (ORDER BY n_triangles DESC, node ASC) AS rn
       |  FROM pn)
       |SELECT CAST(rn AS BIGINT) AS rn, node AS part_key,
       |  CAST(n_triangles AS BIGINT) AS n_triangles
       |FROM ranked WHERE rn <= $TriTopK ORDER BY rn""".stripMargin

  private val JacTopK = 20

  /** Neighbor-set JACCARD similarity (top-[[JacTopK]] part pairs) —
    * the link-prediction / "related items" primitive over the same
    * shared [[edges]] set, fourth member of the graph family
    * (fixpoint components, damped iteration, motif counting, and
    * now structural similarity). Common-neighbor counts come from
    * the same center-joined wedge shape as [[graphTriangles]] (two
    * scans of the edge artifact, one equi-join on the center, no
    * product); degrees broadcast back onto the candidate pairs.
    * J = c / (deg_a + deg_b − c) is ONE IEEE division of integers —
    * bit-deterministic on both engines — and ties order by (a, b).
    */
  def graphJaccard(spark: SparkSession, dir: String): DataFrame = {
    val es = edges(spark, dir)
    val deg = es.groupBy("src").agg(count(lit(1)).as("deg"))
    // Common-neighbor counts WITHOUT the wedge self-join (round 17,
    // VERDICT r16 ask #2, guide §1.2/§2.4): the old shape shuffled the
    // edge artifact TWICE onto the center key, equi-joined, and pushed
    // Σ_n deg(n)² wedge rows through the join into the (a,b) agg. Now
    // ONE shuffle groups each center's neighbors into a sorted array
    // (edges are distinct, so elements are unique and ascending), and
    // the a<b pairs generate LOCALLY by a two-stage explode — per-row
    // state is O(deg), never the flattened deg² array — feeding the
    // same partially-aggregated (a,b) count. Centers with deg 1 (no
    // pairs — the df>1 prune analog) drop before generating. Pair
    // multisets are identical to the join's, so counts are identical.
    val common = es.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("ns"))
      .filter(size(col("ns")) > 1)
      .select(col("ns"), posexplode(col("ns")).as(Seq("i", "a")))
      .select(col("a"),
        explode(slice(col("ns"), col("i") + lit(2), size(col("ns")))).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("c"))
    val scored = common
      .join(deg.toDF("a", "da"), "a")
      .join(deg.toDF("b", "db"), "b")
      .select(col("a"), col("b"), col("c"),
        (col("c").cast("double") / (col("da") + col("db") - col("c"))).as("j"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("j").desc, col("a").asc, col("b").asc)
    scored.orderBy(col("j").desc, col("a").asc, col("b").asc).limit(JacTopK)
      .withColumn("rn", row_number().over(w).cast("long"))
      .select(col("rn"), col("a").as("part_a"), col("b").as("part_b"),
        col("c").as("n_common"), round(col("j"), 6).as("jaccard"))
      .orderBy("rn")
  }

  val graphJaccardSql: String =
    s"""WITH li AS (
       |  SELECT l_orderkey, l_partkey FROM lineitem
       |  WHERE l_orderkey % 8 = 0),
       |edges AS (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |  WHERE a.l_partkey != b.l_partkey),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |common AS (
       |  SELECT e1.dst AS a, e2.dst AS b, count(*) AS c
       |  FROM edges e1 JOIN edges e2
       |    ON e1.src = e2.src AND e1.dst < e2.dst
       |  GROUP BY e1.dst, e2.dst),
       |scored AS (
       |  SELECT a, b, c,
       |    CAST(c AS DOUBLE) / (da.deg + db.deg - c) AS j
       |  FROM common JOIN deg da ON da.src = a JOIN deg db ON db.src = b),
       |ranked AS (
       |  SELECT a, b, c, j,
       |    row_number() OVER (ORDER BY j DESC, a ASC, b ASC) AS rn
       |  FROM scored)
       |SELECT CAST(rn AS BIGINT) AS rn, a AS part_a, b AS part_b,
       |  CAST(c AS BIGINT) AS n_common, round(j, 6) AS jaccard
       |FROM ranked WHERE rn <= $JacTopK ORDER BY rn""".stripMargin

  /** Oracle: the identical integer-exact run unrolled — same edge
    * derivation, same `//` floors, same damped update per iteration
    * (DuckDB sums BIGINT into HUGEINT; exactness is unaffected and
    * the output casts back).
    */
  val graphPagerankSql: String = {
    val iters = (1 to PrIters).map { i =>
      val prev = s"r${i - 1}"
      s"""c$i AS (
         |  SELECT e.dst AS node, sum(r.r // d.deg) AS s
         |  FROM edges e JOIN deg d ON d.src = e.src
         |  JOIN $prev r ON r.node = e.src
         |  GROUP BY e.dst),
         |r$i AS (
         |  SELECT nodes.node,
         |    (SELECT $BaseNum // n FROM nn) + (85 * coalesce(c$i.s, 0)) // 100 AS r
         |  FROM nodes LEFT JOIN c$i ON c$i.node = nodes.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (
       |  SELECT l_orderkey, l_partkey FROM lineitem
       |  WHERE l_orderkey % 8 = 0),
       |edges AS (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |  WHERE a.l_partkey != b.l_partkey),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |r0 AS (SELECT node, $Scale // n AS r FROM nodes, nn),
       |$iters,
       |ranked AS (
       |  SELECT node, r, row_number() OVER (ORDER BY r DESC, node ASC) AS rn
       |  FROM r$PrIters)
       |SELECT CAST(rn AS BIGINT) AS rn, node AS part_key,
       |  CAST(r AS BIGINT) AS rank_fp
       |FROM ranked WHERE rn <= $PrTopK ORDER BY rn""".stripMargin
  }

  // ----------------------------------------------------------------
  // Multi-source BFS: shortest hops + nearest-seed assignment
  // ----------------------------------------------------------------

  private val BfsMaxHops = 4L
  private val BfsSeeds = 3

  /** Multi-source BFS over the shared [[edges]] set: every node's
    * shortest HOP COUNT to the nearest of [[BfsSeeds]] seed nodes,
    * and WHICH seed (ties on distance pinned to the smallest seed
    * id) — the reachability / influence-radius / nearest-hub
    * primitive beside PageRank (global importance) and the cluster
    * labeling (undirected components). Seeds are the smallest node
    * ids — data-derived and deterministic.
    *
    * The iteration state is the lexicographic-min (dist, root) pair
    * per node, a semiring min that one hash aggregation per round
    * computes with map-side partials; hop increment preserves the
    * lex order, so [[BfsMaxHops]] relaxation rounds compute exactly
    * the min over all ≤-MaxHops walks — which is what the oracle's
    * recursive CTE enumerates. Per-round eager localCheckpoint
    * truncates lineage (the [[Dedup.dedupCluster]] discipline);
    * state is 3 longs per node, never edges×rounds. Unreached nodes
    * are absent (an outer-join frontier would surface them with a
    * sentinel; the co-occurrence graph reaches everything within 4).
    */
  def graphBfs(spark: SparkSession, dir: String): DataFrame = {
    val es = edges(spark, dir)
    val seeds = es.select(col("src").as("node")).distinct()
      .orderBy("node").limit(BfsSeeds)
      .select(col("node"), lit(0L).as("dist"), col("node").as("root"))
    // FRONTIER relaxation (round 16, guide §1.2): a node's lex-min
    // (dist, root) entry is FINAL at round = dist (its round-d root
    // is the min over all dist-(d−1) predecessors, final by
    // induction), so re-relaxing settled nodes every hop — the old
    // shape, Σ|state|·deg work per round — only regenerates
    // duplicates the min-agg discards. Joining the edges against
    // just the rows finalized last round produces the identical
    // state sequence with Σ|frontier|·deg work.
    var state = seeds.localCheckpoint(true)
    var frontier = state
    for (k <- 1L to BfsMaxHops) {
      val relaxed = frontier.join(es, frontier("node") === es("src"))
        .select(es("dst").as("node"),
          (col("dist") + 1L).as("dist"), col("root"))
      state = state.unionByName(relaxed)
        .groupBy("node")
        .agg(min(struct(col("dist"), col("root"))).as("s"))
        .select(col("node"), col("s.dist").as("dist"), col("s.root").as("root"))
        .localCheckpoint(true)
      frontier = state.filter(col("dist") === k)
    }
    state.orderBy("node")
  }

  /** Recursive-CTE twin: enumerate (node, dist, root) for every walk
    * of ≤ [[BfsMaxHops]] hops (UNION dedups, the hop cap bounds
    * recursion), then per node take min dist and the min root AT
    * that dist — the lex-min the Scala relaxation maintains.
    */
  val graphBfsSql: String =
    s"""WITH RECURSIVE li AS (
       |  SELECT l_orderkey, l_partkey FROM lineitem
       |  WHERE l_orderkey % 8 = 0),
       |edges AS (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |  WHERE a.l_partkey != b.l_partkey),
       |seeds AS (
       |  SELECT DISTINCT src AS node FROM edges ORDER BY node LIMIT $BfsSeeds),
       |reach AS (
       |  SELECT node, CAST(0 AS BIGINT) AS dist, node AS root FROM seeds
       |  UNION
       |  SELECT e.dst, r.dist + 1, r.root
       |  FROM reach r JOIN edges e ON e.src = r.node
       |  WHERE r.dist < $BfsMaxHops),
       |m AS (SELECT node, min(dist) AS dist FROM reach GROUP BY node)
       |SELECT r.node, m.dist, min(r.root) AS root
       |FROM reach r JOIN m ON m.node = r.node AND m.dist = r.dist
       |GROUP BY r.node, m.dist
       |ORDER BY r.node""".stripMargin

  // ----------------------------------------------------------------
  // Connected components: per-component census of the shared graph
  // ----------------------------------------------------------------

  /** CC labeling of the shared graph, a durable index: the fixpoint
    * propagation costs several join+checkpoint rounds (~3 s at sf0.1),
    * so hot `graph_components` calls read the labeling instead.
    */
  private def componentLabels(spark: SparkSession, dir: String): DataFrame =
    ArtifactStore.frame(spark, "graph-cc-v1", dir, "lineitem") {
      Dedup.minLabelComponents(edges(spark, dir).toDF("u", "v"))
    }

  /** Connected components of the shared co-occurrence [[edges]] set,
    * rolled up to a per-component census: component id (the
    * component's minimum part key), node count, undirected edge
    * count. Runs [[Dedup.minLabelComponents]] — the ONE CC kernel in
    * the engine (min-label propagation + path halving, per-round
    * eager checkpoint), shared with `dedup_cluster` rather than
    * re-derived — over a different graph. After convergence both
    * rollups are single map-side-combinable hash aggs; the symmetric
    * edge set counts each undirected edge twice, halved exactly.
    */
  def graphComponents(spark: SparkSession, dir: String): DataFrame = {
    val es = edges(spark, dir).toDF("u", "v")
    val labels = componentLabels(spark, dir)
    val nodes = labels.groupBy(col("lbl").as("component_id"))
      .agg(count(lit(1)).as("n_nodes"))
    val ec = es.join(labels, "u")
      .groupBy(col("lbl").as("component_id"))
      .agg((count(lit(1)) / 2).cast("long").as("n_edges"))
    nodes.join(ec, "component_id")
      .select(col("component_id"), col("n_nodes"), col("n_edges"))
      .orderBy("component_id")
  }

  val graphComponentsSql: String =
    s"""WITH RECURSIVE li AS (
       |  SELECT l_orderkey, l_partkey FROM lineitem
       |  WHERE l_orderkey % 8 = 0),
       |edges AS (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |  WHERE a.l_partkey != b.l_partkey),
       |reach AS (
       |  SELECT src AS u, src AS lbl FROM (SELECT DISTINCT src FROM edges)
       |  UNION
       |  SELECT e.dst, r.lbl FROM edges e JOIN reach r ON r.u = e.src),
       |comp AS (SELECT u, min(lbl) AS component_id FROM reach GROUP BY u),
       |nodes AS (
       |  SELECT component_id, count(*) AS n_nodes FROM comp GROUP BY 1),
       |ec AS (
       |  SELECT c.component_id, count(*) // 2 AS n_edges
       |  FROM edges e JOIN comp c ON c.u = e.src GROUP BY 1)
       |SELECT n.component_id, CAST(n.n_nodes AS BIGINT) AS n_nodes,
       |  CAST(ec.n_edges AS BIGINT) AS n_edges
       |FROM nodes n JOIN ec ON ec.component_id = n.component_id
       |ORDER BY n.component_id""".stripMargin

  // ----------------------------------------------------------------
  // k-core: iterative peeling
  // ----------------------------------------------------------------

  /** The k in the k-core gate. 6 exercises real peeling on the
    * co-occurrence graph (4-5 rounds to fixpoint at the gate SFs vs
    * 2 for k=3 — orders are near-cliques, so low k removes nothing).
    */
  private val CoreK = 6L

  /** Upper bound on peel rounds. The oracle unrolls exactly this
    * many (peeling is monotone, so rounds past the fixpoint are
    * no-ops and parity holds as long as the fixpoint lands inside
    * the bound); the Spark side REQUIREs convergence within it, so
    * a corpus needing more fails loudly instead of diverging from
    * the oracle.
    */
  private val KcoreMaxRounds = 12

  /** k-core decomposition membership (Seidman, Social Networks 1983)
    * by iterative peeling: repeatedly drop nodes with fewer than
    * [[CoreK]] neighbors inside the surviving subgraph until the
    * subgraph stabilizes — the standard density filter for entity
    * graphs (spam rings, boilerplate hubs, seed-set mining) and the
    * third member of the iterative-graph family after the damped
    * fixed-iteration PageRank and the fixpoint label-propagation
    * components.
    *
    * Scale shape: each round is one semi-join of the edge set
    * against the surviving nodes (both endpoints) + one map-side-
    * combinable degree agg + a filter — all equi-join/hash-agg, no
    * windows, no collects; the surviving set only shrinks, so round
    * cost is monotonically non-increasing. Driver traffic per round
    * is ONE count (the fixpoint test — statistics, not data), and
    * `localCheckpoint` pins each round's survivor set so the loop's
    * lineage stays O(1) instead of O(rounds). Output: every core
    * member with its in-core degree.
    */
  def graphKcore(spark: SparkSession, dir: String): DataFrame = {
    val e = edges(spark, dir)
    def degrees(kept: Option[DataFrame]): DataFrame = {
      val sub = kept.fold(e) { k =>
        e.join(k.select(col("node").as("src")), Seq("src"), "left_semi")
          .join(k.select(col("node").as("dst")), Seq("dst"), "left_semi")
      }
      sub.groupBy(col("src").as("node")).agg(count(lit(1)).as("core_deg"))
    }
    // each round's survivor set CARRIES its in-round degree (round
    // 16, guide §1.2): peeling only removes nodes, so at the
    // detection round (count unchanged ⟹ subset + equal count ⟹
    // equal set) the last peel's core_deg was computed against the
    // final surviving set — the answer. The old shape re-ran one
    // full degrees() pass after the loop just to recover it.
    var kept = degrees(None).filter(col("core_deg") >= CoreK)
      .localCheckpoint()
    var prev = -1L
    var n = kept.count()
    var rounds = 1
    // <= MaxRounds+1 iterations: the fixpoint is only OBSERVABLE via
    // one no-op peel, so a graph converging at exactly MaxRounds
    // shrinking peels needs one extra detection pass (ADVICE r12);
    // the unrolled oracle is unchanged — its MaxRounds CTEs already
    // return the fixpoint there (trailing rounds are no-ops).
    while (n != prev && rounds <= KcoreMaxRounds) {
      prev = n
      kept = degrees(Some(kept)).filter(col("core_deg") >= CoreK)
        .localCheckpoint()
      n = kept.count()
      rounds += 1
    }
    require(n == prev,
      s"graph_kcore: no fixpoint within $KcoreMaxRounds rounds (n=$n)")
    kept.select(col("node"), col("core_deg")).orderBy("node")
  }

  /** The peel loop unrolled as [[KcoreMaxRounds]] chained CTEs —
    * rounds past the fixpoint are no-ops, so this replays the Spark
    * fixpoint exactly (see [[graphKcore]]). Every CTE is
    * MATERIALIZED: DuckDB inlines CTEs by default, and each round
    * references its predecessor TWICE (both endpoints), so the
    * un-materialized plan would inline 2^rounds copies of the edge
    * self-join.
    */
  val graphKcoreSql: String = {
    val rounds = (1 to KcoreMaxRounds).map { i =>
      val prev = if (i == 1) "keep0" else s"keep${i - 1}"
      s"""keep$i AS MATERIALIZED (
         |  SELECT e.src AS node FROM edges e
         |  JOIN $prev ka ON ka.node = e.src
         |  JOIN $prev kb ON kb.node = e.dst
         |  GROUP BY e.src HAVING count(*) >= $CoreK)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS MATERIALIZED (
       |  SELECT l_orderkey, l_partkey FROM lineitem
       |  WHERE l_orderkey % 8 = 0),
       |edges AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |  WHERE a.l_partkey != b.l_partkey),
       |keep0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
       |$rounds
       |SELECT e.src AS node, CAST(count(*) AS BIGINT) AS core_deg
       |FROM edges e
       |JOIN keep$KcoreMaxRounds ka ON ka.node = e.src
       |JOIN keep$KcoreMaxRounds kb ON kb.node = e.dst
       |GROUP BY e.src HAVING count(*) >= $CoreK
       |ORDER BY node""".stripMargin
  }

  // ----------------------------------------------------------------
  // k-truss: triangle-support edge peeling
  // ----------------------------------------------------------------

  /** The k in the k-truss gate: every surviving edge closes ≥ k−2
    * triangles inside the truss. 5 peels in 4-5 rounds on the
    * co-occurrence graph (the per-order near-cliques keep low-k
    * trusses trivially full, mirroring the [[CoreK]] choice).
    */
  private val TrussK = 5L

  /** Round bound shared with the oracle, same contract as
    * [[KcoreMaxRounds]]: the unrolled rounds past the fixpoint are
    * no-ops; Spark REQUIREs convergence inside the bound.
    */
  private val TrussMaxRounds = 10

  /** k-truss decomposition membership (Cohen, NSA tech report 2008,
    * public): repeatedly drop every edge whose two endpoints share
    * fewer than k−2 common neighbors INSIDE the surviving subgraph —
    * the EDGE-level strengthening of [[graphKcore]] (a k-truss is a
    * subgraph of the (k−1)-core, but cohesion is certified by
    * triangles, not bare degree), and the standard community-core /
    * spam-ring primitive one tier above it.
    *
    * Scale shape per round: ONE common-neighbor equi-join (the
    * symmetric adjacency joined twice on the shared neighbor — the
    * same shape [[graphTriangles]] plans) + a map-side-combinable
    * support count + a filter; the edge set only shrinks. Support-0
    * edges drop out of the join's GROUP BY automatically, which is
    * exactly the peel semantics. Driver traffic is one count per
    * round; `localCheckpoint` pins each round's survivors.
    * Output: surviving canonical edges with their in-truss support.
    */
  def graphKtruss(spark: SparkSession, dir: String): DataFrame = {
    val e0 = edges(spark, dir).filter(col("src") < col("dst"))
      .select(col("src").as("a"), col("dst").as("b"))
    def support(cur: DataFrame): DataFrame = {
      val sym = cur.select(col("a").as("u"), col("b").as("v"))
        .unionAll(cur.select(col("b").as("u"), col("a").as("v")))
      cur.join(sym.select(col("u").as("a"), col("v").as("w")), Seq("a"))
        .join(sym.select(col("u").as("b"), col("v").as("w")), Seq("b", "w"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("support"))
    }
    // survivors CARRY their in-round support (round 16, guide §1.2):
    // peeling only removes edges, so at the detection round (count
    // unchanged ⟹ subset + equal count ⟹ equal set) the last peel's
    // support was computed against the final surviving set — the
    // answer. The old shape re-ran one full triangle-support join
    // after the loop just to recover it. Loop joins project (a, b).
    var cur = support(e0).filter(col("support") >= TrussK - 2)
      .localCheckpoint()
    var prev = -1L
    var n = cur.count()
    var rounds = 1
    // <= MaxRounds+1 iterations for detection — see graphKcore's note
    while (n != prev && rounds <= TrussMaxRounds) {
      prev = n
      cur = support(cur.select("a", "b")).filter(col("support") >= TrussK - 2)
        .localCheckpoint()
      n = cur.count()
      rounds += 1
    }
    require(n == prev,
      s"graph_ktruss: no fixpoint within $TrussMaxRounds rounds (n=$n)")
    cur.select(col("a"), col("b"), col("support")).orderBy("a", "b")
  }

  /** Global clustering coefficient (transitivity) of the
    * co-occurrence graph — `C = 3·triangles / wedges`, the standard
    * cohesion summary (Watts/Strogatz 1998; the "3·closed over open
    * triples" form), ALL-INTEGER: the triangle count is the same
    * canonical a<b<c enumeration [[graphTriangles]] plans, wedges are
    * `Σ_v deg(v)·(deg(v)−1)/2` from one degree agg, and the output is
    * one ppm floor division (headroom: wedge counts top ~6e9 at the
    * factor-100 audit scale). One row out; everything after the edge
    * scan is node-cardinality.
    */
  def graphClustcoeff(spark: SparkSession, dir: String): DataFrame = {
    val e = edges(spark, dir)
    val canon = e.filter(col("src") < col("dst"))
      .select(col("src").as("a"), col("dst").as("b"))
    val tri = canon.as("e1")
      .join(canon.as("e2"), col("e2.a") === col("e1.b"))
      .join(canon.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .agg(count(lit(1)).as("n_triangles"))
    val wedges = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .agg(sum(expr("deg * (deg - 1) div 2")).as("n_wedges"),
        count(lit(1)).as("n_nodes"))
    wedges.crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_wedges"), col("n_triangles"),
        expr("3 * n_triangles * 1000000 div n_wedges")
          .as("transitivity_ppm"))
  }

  val graphClustcoeffSql: String =
    """WITH li AS MATERIALIZED (
      |  SELECT l_orderkey, l_partkey FROM lineitem
      |  WHERE l_orderkey % 8 = 0),
      |edges AS MATERIALIZED (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |  WHERE a.l_partkey != b.l_partkey),
      |canon AS MATERIALIZED (
      |  SELECT src AS a, dst AS b FROM edges WHERE src < dst),
      |tri AS (
      |  SELECT count(*) AS n_triangles
      |  FROM canon e1
      |  JOIN canon e2 ON e2.a = e1.b
      |  JOIN canon e3 ON e3.a = e1.a AND e3.b = e2.b),
      |wg AS (
      |  SELECT sum(deg * (deg - 1) // 2) AS n_wedges,
      |    count(*) AS n_nodes
      |  FROM (SELECT src, count(*) AS deg FROM edges GROUP BY 1))
      |SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
      |  CAST(n_wedges AS BIGINT) AS n_wedges,
      |  CAST(n_triangles AS BIGINT) AS n_triangles,
      |  CAST(3 * n_triangles * 1000000 // n_wedges AS BIGINT)
      |    AS transitivity_ppm
      |FROM wg, tri""".stripMargin

  /** Degree assortativity of the co-occurrence graph (Newman, PRL
    * 2002, public formula) — do high-degree nodes attach to
    * high-degree nodes? — EXACT in integers: over the symmetric
    * directed edge list the x (source-degree) and y (target-degree)
    * marginals are identical, so Pearson's r needs NO square root:
    * `r = (n·Σxy − (Σx)²) / (n·Σx² − (Σx)²)`, emitted as one ppm
    * floor division of BIGINT moment sums (headroom ~3.6e16 at the
    * factor-100 audit scale). One degree agg + two broadcast joins +
    * one moment agg; everything after the edge scan is
    * node/one-row-cardinality.
    */
  def graphAssortativity(spark: SparkSession, dir: String): DataFrame = {
    val e = edges(spark, dir)
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    e.join(broadcast(deg.select(col("node").as("src"), col("deg").as("dx"))),
        "src")
      .join(broadcast(deg.select(col("node").as("dst"), col("deg").as("dy"))),
        "dst")
      .agg(
        count(lit(1)).as("n_edges"),
        sum(col("dx")).as("sx"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dx") * col("dy")).as("sxy"))
      .select(col("n_edges"), col("sx").as("sum_deg"),
        // DECIMAL(38,0) algebra: the ppm cross-multiply tops ~2e22 at
        // the factor-100 audit scale — past BIGINT (the sf1 gate
        // caught the long form), 16 orders inside DECIMAL(38); the
        // oracle side is HUGEINT throughout
        expr("""(CAST(n_edges AS DECIMAL(38,0)) * sxy
          - CAST(sx AS DECIMAL(38,0)) * sx) * 1000000
          div (CAST(n_edges AS DECIMAL(38,0)) * sxx
          - CAST(sx AS DECIMAL(38,0)) * sx)""").as("assortativity_ppm"))
  }

  val graphAssortativitySql: String =
    """WITH li AS MATERIALIZED (
      |  SELECT l_orderkey, l_partkey FROM lineitem
      |  WHERE l_orderkey % 8 = 0),
      |edges AS MATERIALIZED (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |  WHERE a.l_partkey != b.l_partkey),
      |deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1),
      |m AS (
      |  SELECT count(*) AS n, sum(dx.deg) AS sx,
      |    sum(dx.deg * dx.deg) AS sxx, sum(dx.deg * dy.deg) AS sxy
      |  FROM edges e
      |  JOIN deg dx ON dx.node = e.src
      |  JOIN deg dy ON dy.node = e.dst)
      |SELECT CAST(n AS BIGINT) AS n_edges, CAST(sx AS BIGINT) AS sum_deg,
      |  CAST((n * sxy - sx * sx) * 1000000
      |    // (n * sxx - sx * sx) AS BIGINT) AS assortativity_ppm
      |FROM m""".stripMargin

  /** The edge-peel loop unrolled as [[TrussMaxRounds]] MATERIALIZED
    * CTE rounds (each round references its predecessor THREE times —
    * un-materialized inlining would be 3^rounds).
    */
  val graphKtrussSql: String = {
    val rounds = (1 to TrussMaxRounds).map { i =>
      val prev = if (i == 1) "e0" else s"e${i - 1}"
      s"""s$i AS MATERIALIZED (
         |  SELECT a AS u, b AS v FROM $prev
         |  UNION ALL SELECT b, a FROM $prev),
         |e$i AS MATERIALIZED (
         |  SELECT e.a, e.b FROM $prev e
         |  JOIN s$i x ON x.u = e.a
         |  JOIN s$i y ON y.u = e.b AND y.v = x.v
         |  GROUP BY e.a, e.b HAVING count(*) >= ${TrussK - 2})""".stripMargin
    }.mkString(",\n")
    val last = s"e$TrussMaxRounds"
    s"""WITH li AS MATERIALIZED (
       |  SELECT l_orderkey, l_partkey FROM lineitem
       |  WHERE l_orderkey % 8 = 0),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |  WHERE a.l_partkey < b.l_partkey),
       |$rounds,
       |sf AS MATERIALIZED (
       |  SELECT a AS u, b AS v FROM $last UNION ALL SELECT b, a FROM $last)
       |SELECT e.a, e.b, CAST(count(*) AS BIGINT) AS support
       |FROM $last e
       |JOIN sf x ON x.u = e.a
       |JOIN sf y ON y.u = e.b AND y.v = x.v
       |GROUP BY e.a, e.b HAVING count(*) >= ${TrussK - 2}
       |ORDER BY a, b""".stripMargin
  }

  // ----------------------------------------------------------------
  // Degree distribution: the first diagnostic of any graph
  // ----------------------------------------------------------------

  /** Log₂-binned degree distribution of the co-occurrence graph —
    * the heavy-tail diagnostic (power-law graphs show a straight
    * log-log bin profile) that decides every downstream engine
    * choice: whether joins need skew salting, whether a 2-hop
    * neighborhood fits an executor, which peel bound k-core needs.
    * Bucket = ⌊log₂ degree⌋ computed INTEGER-exactly as
    * `length(bin(degree)) − 1` (both engines' `bin()` renders
    * minimal binary), so no float log near a power-of-two boundary
    * can flip a bucket.
    *
    * Scale shape: degrees are one map-side-combinable hash agg over
    * the edge relation; the histogram is a second agg over
    * node-scale rows into ≤ 64 buckets. Nothing beyond the edge
    * artifact's own build ever shuffles wide.
    */
  def graphDegreeDist(spark: SparkSession, dir: String): DataFrame =
    edges(spark, dir)
      .groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
      .withColumn("deg_bucket",
        (length(bin(col("deg"))) - 1).cast("long"))
      .groupBy(col("deg_bucket"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("deg")).as("min_deg"),
        max(col("deg")).as("max_deg"),
        sum(col("deg")).as("sum_deg"))
      .orderBy("deg_bucket")

  val graphDegreeDistSql: String =
    """WITH li AS (
      |  SELECT l_orderkey, l_partkey FROM lineitem
      |  WHERE l_orderkey % 8 = 0),
      |edges AS (
      |  SELECT DISTINCT x.l_partkey AS src, y.l_partkey AS dst
      |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
      |  WHERE x.l_partkey != y.l_partkey),
      |deg AS (
      |  SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1)
      |SELECT CAST(length(bin(deg)) - 1 AS BIGINT) AS deg_bucket,
      |  CAST(count(*) AS BIGINT) AS n_nodes,
      |  CAST(min(deg) AS BIGINT) AS min_deg,
      |  CAST(max(deg) AS BIGINT) AS max_deg,
      |  CAST(sum(deg) AS BIGINT) AS sum_deg
      |FROM deg GROUP BY 1 ORDER BY 1""".stripMargin

  // ----------------------------------------------------------------
  // Friends-of-friends: exact 2-hop reach
  // ----------------------------------------------------------------

  /** Exact 2-hop reach per node: how many DISTINCT nodes sit at
    * distance exactly two (reachable through a neighbor, not a
    * neighbor, not self) — the recommendation-candidate count
    * ("people you may know") and the expansion factor a 2-hop graph
    * query planner needs before choosing between push and pull.
    *
    * Scale shape: one self equi-join of the edge relation builds the
    * wedge endpoints (bounded by Σ deg² — the SAME relation
    * `graph_triangles` closes, so the cost class is already
    * priced in this family), a distinct at (node, w) grain, a
    * left-anti join back to the edges removes 1-hop, and one hash
    * agg counts. Skewed hubs ride AQE's skew-join split like the
    * triangle query does.
    */
  def graphFoaf(spark: SparkSession, dir: String): DataFrame = {
    val e = edges(spark, dir) // (src, dst), both directions
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("n_1hop"))
    val two = e.toDF("node", "mid")
      .join(e.toDF("mid", "w"), "mid")
      .filter(col("w") =!= col("node"))
      .select("node", "w").distinct()
      .join(e.toDF("node", "w"), Seq("node", "w"), "left_anti")
      .groupBy(col("node")).agg(count(lit(1)).as("n_2hop"))
    deg.join(two, Seq("node"), "left")
      .select(col("node"), col("n_1hop"),
        coalesce(col("n_2hop"), lit(0L)).as("n_2hop"))
      .orderBy("node")
  }

  val graphFoafSql: String =
    """WITH li AS (
      |  SELECT l_orderkey, l_partkey FROM lineitem
      |  WHERE l_orderkey % 8 = 0),
      |edges AS MATERIALIZED (
      |  SELECT DISTINCT x.l_partkey AS src, y.l_partkey AS dst
      |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
      |  WHERE x.l_partkey != y.l_partkey),
      |deg AS (SELECT src AS node, count(*) AS n_1hop FROM edges GROUP BY 1),
      |two AS (
      |  SELECT node, count(*) AS n_2hop FROM (
      |    SELECT DISTINCT a.src AS node, b.dst AS w
      |    FROM edges a JOIN edges b ON b.src = a.dst
      |    WHERE b.dst != a.src) t
      |  WHERE NOT EXISTS (SELECT 1 FROM edges e
      |                    WHERE e.src = t.node AND e.dst = t.w)
      |  GROUP BY node)
      |SELECT d.node, CAST(d.n_1hop AS BIGINT) AS n_1hop,
      |  CAST(COALESCE(two.n_2hop, 0) AS BIGINT) AS n_2hop
      |FROM deg d LEFT JOIN two USING (node)
      |ORDER BY node""".stripMargin

  // ----------------------------------------------------------------
  // Community detection: synchronous label propagation
  // ----------------------------------------------------------------

  /** Synchronous rounds for [[graphCommunity]] — fixed, not
    * fixpoint-detected: sync LP can 2-cycle on bipartite structure,
    * so the standard practice is a fixed small round budget; four
    * rounds give stable communities on the gate graphs and the
    * oracle unrolls exactly the same four. */
  private val LpRounds = 4

  /** Community detection by synchronous label propagation (Raghavan,
    * Albert & Kumara 2007, public formula) with the DETERMINISTIC
    * tie rule (most-frequent neighbor label; ties → smallest label):
    * after [[LpRounds]] sync rounds, report communities of size ≥ 2
    * with their size and span. Differs from `graph_components`
    * (min-label fixpoint = connectivity) by mode-voting: dense
    * regions keep their own label against a bridge, so one connected
    * component can split into several communities.
    *
    * Scale shape: per round, ONE equi-join of the edge relation with
    * the node→label map (labels are longs — no payload), then a
    * two-level map-side-combinable agg ((node,label) count → argmax
    * via max(struct(cnt, −label))). Labels localCheckpoint per round
    * (the kcore lineage discipline); rounds are a constant. The
    * oracle unrolls the identical rounds as MATERIALIZED CTEs.
    */
  def graphCommunity(spark: SparkSession, dir: String): DataFrame = {
    // Edges pre-partitioned ONCE on the round-join key (round 16,
    // guide §2.4): every LP round joins the edge relation on `dst`,
    // and `localCheckpoint` preserves the physical partitioning, so
    // paying one repartition here deletes the edges-side Exchange
    // from all [[LpRounds]] round joins (only the node-scale label
    // map still shuffles per round).
    val e = edges(spark, dir).repartition(col("dst")).localCheckpoint(true)
    var labels = e.select(col("src").as("node")).distinct()
      .withColumn("label", col("node")).localCheckpoint()
    for (_ <- 1 to LpRounds) {
      labels = e
        .join(labels.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("src"))
        .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("top"))
        .select(col("src").as("node"), (-col("top.nl")).as("label"))
        .localCheckpoint()
    }
    labels.groupBy(col("label"))
      .agg(count(lit(1)).as("n_members"),
        min(col("node")).as("min_node"), max(col("node")).as("max_node"))
      .filter(col("n_members") >= 2)
      .orderBy("label")
  }

  val graphCommunitySql: String = {
    val rounds = (1 to LpRounds).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT src AS node, label FROM (
         |    SELECT e.src, l.label, count(*) AS cnt,
         |      row_number() OVER (PARTITION BY e.src
         |        ORDER BY count(*) DESC, l.label ASC) AS rn
         |    FROM edges e JOIN l${i - 1} l ON l.node = e.dst
         |    GROUP BY e.src, l.label)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (
       |  SELECT l_orderkey, l_partkey FROM lineitem
       |  WHERE l_orderkey % 8 = 0),
       |edges AS MATERIALIZED (
       |  SELECT DISTINCT x.l_partkey AS src, y.l_partkey AS dst
       |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
       |  WHERE x.l_partkey != y.l_partkey),
       |l0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS node, src AS label FROM edges),
       |$rounds
       |SELECT label, CAST(count(*) AS BIGINT) AS n_members,
       |  CAST(min(node) AS BIGINT) AS min_node,
       |  CAST(max(node) AS BIGINT) AS max_node
       |FROM l$LpRounds
       |GROUP BY label HAVING count(*) >= 2
       |ORDER BY label""".stripMargin
  }

  // ----------------------------------------------------------------
  // Directed triad motif census (round 15)
  // ----------------------------------------------------------------

  /** Directed network-motif census (Milo et al. 2002, public): over
    * the DIRECTED part-successor graph — within each order, the part
    * at line i points at the part at line i+1 (the "ordered next"
    * relation), distinct across orders — count the two closed triad
    * motifs every motif analysis separates: FEED-FORWARD (a→b→c with
    * a→c) vs CYCLE (a→b→c with c→a), plus the open-path and
    * reciprocal-edge baselines the motif Z-scores normalize by.
    * Counts are TRIPLET counts (each 3-cycle appears under 3
    * rotations, each FFL once per its unique 2-path) — documented
    * convention, deterministic, no canonical-form tie logic.
    *
    * Every graph_* query so far is UNDIRECTED co-occurrence; this is
    * the directed complement, built from `l_linenumber` order — a
    * per-order lag window (the sessionize exchange: partition key is
    * the high-cardinality orderkey), then two hash equi-joins on the
    * edge relation (the graph_triangles cost shape) with left-join
    * closure flags and ONE global rollup. No product, no global
    * sort; the `% 8` subsetting matches the family's edge artifact
    * convention.
    */
  def graphMotifs(spark: SparkSession, dir: String): DataFrame = {
    // tie pin: (orderkey, linenumber) is unique in TPC-H but NOT in
    // the ScaleUp-derived corpora (the factor-100 corpus carries
    // ~147k colliding pairs on the %8 subset), and lead() over ties
    // is engine-nondeterministic — order by the partkey too (caught
    // by the r15 factor-100 parity sweep)
    val byLine = Window.partitionBy("ok").orderBy("ln", "src")
    val e = Tables.table(spark, dir, "lineitem")
      .filter(pmod(col("l_orderkey"), lit(8)) === 0)
      .select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
        col("l_partkey").as("src"))
      .withColumn("dst", lead(col("src"), 1).over(byLine))
      .filter(col("dst").isNotNull && col("src") =!= col("dst"))
      .select("src", "dst").distinct()
      .localCheckpoint(true) // five consumers below
    val paths = e.toDF("a", "b")
      .join(e.toDF("b", "c"), "b")
      .filter(col("a") =!= col("c"))
    val closedT = e.toDF("a", "c").withColumn("t", lit(1L))
    val closedC = e.toDF("c", "a").withColumn("y", lit(1L))
    val triads = paths
      .join(closedT, Seq("a", "c"), "left")
      .join(closedC, Seq("c", "a"), "left")
      .agg(count(lit(1)).as("n_paths"),
        sum(coalesce(col("t"), lit(0L))).as("n_feedforward"),
        sum(coalesce(col("y"), lit(0L))).as("n_cycle"))
    val recip = e.join(e.toDF("dst", "src"), Seq("src", "dst"), "left_semi")
      .agg((count(lit(1)) / 2).cast("long").as("n_recip_pairs"))
    val base = e.agg(count(lit(1)).as("n_edges"))
    base.crossJoin(recip).crossJoin(triads) // three 1-row aggregates
      .select(col("n_edges"), col("n_recip_pairs"), col("n_paths"),
        col("n_feedforward"), col("n_cycle"),
        expr("n_feedforward * 1000000L div greatest(n_paths, 1L)")
          .as("ffl_share_ppm"))
  }

  val graphMotifsSql: String =
    """WITH li AS (
      |  SELECT l_orderkey AS ok, l_linenumber AS ln, l_partkey AS p
      |  FROM lineitem WHERE l_orderkey % 8 = 0),
      |nx AS (
      |  SELECT ok, p AS src,
      |    lead(p) OVER (PARTITION BY ok ORDER BY ln, p) AS dst
      |  FROM li),
      |e AS (
      |  SELECT DISTINCT src, dst FROM nx
      |  WHERE dst IS NOT NULL AND src != dst),
      |paths AS (
      |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      |  FROM e e1 JOIN e e2 ON e1.dst = e2.src
      |  WHERE e1.src != e2.dst),
      |triads AS (
      |  SELECT count(*) AS n_paths,
      |    sum(CASE WHEN t.src IS NOT NULL THEN 1 ELSE 0 END)
      |      AS n_feedforward,
      |    sum(CASE WHEN y.src IS NOT NULL THEN 1 ELSE 0 END) AS n_cycle
      |  FROM paths p
      |  LEFT JOIN e t ON t.src = p.a AND t.dst = p.c
      |  LEFT JOIN e y ON y.src = p.c AND y.dst = p.a),
      |recip AS (
      |  SELECT count(*) // 2 AS n_recip_pairs
      |  FROM e a WHERE EXISTS (
      |    SELECT 1 FROM e b WHERE b.src = a.dst AND b.dst = a.src)),
      |base AS (SELECT count(*) AS n_edges FROM e)
      |SELECT CAST(n_edges AS BIGINT) AS n_edges,
      |  CAST(n_recip_pairs AS BIGINT) AS n_recip_pairs,
      |  CAST(n_paths AS BIGINT) AS n_paths,
      |  CAST(n_feedforward AS BIGINT) AS n_feedforward,
      |  CAST(n_cycle AS BIGINT) AS n_cycle,
      |  CAST(n_feedforward * 1000000 // greatest(n_paths, 1)
      |    AS BIGINT) AS ffl_share_ppm
      |FROM base, recip, triads""".stripMargin

  // ----------------------------------------------------------------
  // Deterministic random walks (DeepWalk/node2vec sampling primitive)
  // ----------------------------------------------------------------

  private val WalkSteps = 4

  /** Indexed-adjacency index for [[graphWalks]]: the dst-ordered
    * neighbor index and degrees, a deterministic derivative of the
    * edge artifact (a few MB of longs), so hot calls do not re-sort
    * and re-checkpoint them (measured 1.05 s → the join chain alone).
    *
    * Carries `dst_deg` — the DESTINATION node's degree, stamped by
    * one edge-grain equi-join at build time (symmetric edges ⟹ every
    * dst appears as a src) — so the walk can compute its next-hop
    * index BEFORE the step join and hit the adjacency on the full
    * (src, idx) key (VERDICT r15 finding #1: joining on src alone
    * and filtering `idx = pick` after materializes deg(v) rows per
    * walker per step — a skewed hot-key expansion at hub nodes).
    */
  private def walkAdj(spark: SparkSession, dir: String): DataFrame =
    ArtifactStore.memo(spark, "graph-walk-adj-v1", dir, "lineitem") {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("src").orderBy("dst")
      val adj = edges(spark, dir)
        .withColumn("idx", row_number().over(w).cast("long") - 1)
        .withColumn("deg", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("src")))
      val degs = adj.groupBy(col("src").as("d_node"))
        .agg(first(col("deg")).as("dst_deg"))
      adj.join(degs, adj("dst") === degs("d_node"))
        .drop("d_node")
        .localCheckpoint(true)
    }

  /** Hash-seeded random walks from EVERY node of the shared
    * symmetric [[edges]] set — the corpus-generation step of
    * DeepWalk/node2vec (Perozzi et al. 2014; Grover & Leskovec 2016):
    * graph embeddings train on exactly such a walk corpus, and the
    * walk generator, not the SGD, is the part that must scale. One
    * walk per node, [[WalkSteps]] steps; at step k from node v the
    * next hop is the neighbor at index `polyHash(start|k|v) mod
    * deg(v)` in the (src, dst-ordered) adjacency — a deterministic
    * stand-in for the uniform sampler that BOTH engines replay
    * bit-for-bit (rotating the salt recovers fresh randomness; the
    * distributional properties are the hash's). Symmetric edges ⟹
    * no dead ends.
    *
    * Scale shape: the neighbor index is a row_number per src over the
    * adjacency — degree-bounded partitions, and ScaleUp's disjoint
    * replicas keep degrees corpus-invariant; each step is ONE
    * TWO-KEY equi-join `(cur, pick) = (src, idx)` of the walk
    * frontier (state: start, cur, cur's degree) against the indexed
    * adjacency, producing EXACTLY one row per walker — the next-hop
    * index is computed from the frontier's carried degree BEFORE the
    * join (`dst_deg` threads it forward), so a hub node costs one
    * hash-lookup per visiting walker, not a deg(hub) fan-out
    * filtered after the fact (VERDICT r15 finding #1). The oracle
    * unrolls the identical recurrence.
    */
  def graphWalks(spark: SparkSession, dir: String): DataFrame = {
    val adj = walkAdj(spark, dir)
    var state = adj.groupBy(col("src").as("start"))
      .agg(first(col("deg")).as("cur_deg"))
      .withColumn("cur", col("start"))
    for (k <- 1 to WalkSteps) {
      val stepped = state
        .withColumn("pick", pmod(graft.ext.TextAnalysis.polyHashCol(
          concat(col("start"), lit(s"|$k|"), col("cur"))), col("cur_deg")))
        .drop("cur_deg")
      state = stepped
        .join(adj, stepped("cur") === adj("src") &&
          stepped("pick") === adj("idx"))
        .drop("cur", "pick", "src", "idx", "deg")
        .withColumnRenamed("dst", s"s$k")
        .withColumnRenamed("dst_deg", "cur_deg")
        .withColumn("cur", col(s"s$k"))
    }
    state
      .select(col("start") +: (1 to WalkSteps).map(k => col(s"s$k")): _*)
      .orderBy("start")
  }

  val graphWalksSql: String = {
    def hash(k: Int) = graft.ext.TextAnalysis.polyHashSql(
      s"CAST(start AS VARCHAR) || '|$k|' || CAST(cur AS VARCHAR)")
    val steps = (1 to WalkSteps).map { k =>
      val prev = s"w${k - 1}"
      val cols = (1 until k).map(j => s"$prev.s$j, ").mkString
      s"""w$k AS MATERIALIZED (
         |  SELECT $prev.start, ${cols}adj.dst AS s$k, adj.dst AS cur
         |  FROM $prev JOIN adj ON adj.src = $prev.cur
         |  WHERE adj.idx = ((${hash(k)} % adj.deg) + adj.deg) % adj.deg)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH li AS (
       |  SELECT l_orderkey, l_partkey FROM lineitem
       |  WHERE l_orderkey % 8 = 0),
       |edges AS (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |  WHERE a.l_partkey != b.l_partkey),
       |adj AS MATERIALIZED (
       |  SELECT src, dst,
       |    row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx,
       |    count(*) OVER (PARTITION BY src) AS deg
       |  FROM edges),
       |w0 AS (SELECT DISTINCT src AS start, src AS cur FROM adj),
       |$steps
       |SELECT start, ${(1 to WalkSteps).map(k => s"s$k").mkString(", ")}
       |FROM w$WalkSteps ORDER BY start""".stripMargin
  }

  // ----------------------------------------------------------------
  // HITS: hubs & authorities over the canonical directed orientation
  // ----------------------------------------------------------------

  private val HitsIters = 3
  private val HitsTopK = 20
  private val HitsScale = 1000000000L // 1e9: Σ(raw) ≤ E·1e9 ≪ 2^63 to ~1e9 edges

  /** HITS index: the directed orientation and its endpoint set,
    * edge-artifact derivatives that hot calls do not re-filter and
    * re-checkpoint.
    */
  private def hitsIndex(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    ArtifactStore.memo(spark, "graph-hits-index-v1", dir, "lineitem") {
      val canon = edges(spark, dir)
        .filter(col("src") < col("dst")).localCheckpoint(true)
      val nodes = canon.select(col("src").as("node"))
        .union(canon.select(col("dst").as("node")))
        .distinct().localCheckpoint(true)
      (canon, nodes)
    }

  /** HITS hubs & authorities (Kleinberg, JACM 1999 — public
    * algorithm) over the canonical DIRECTED orientation (`src < dst`)
    * of the shared [[edges]] set — the undirected co-occurrence graph
    * would degenerate (hub ≡ authority under symmetric updates), so
    * low ids "cite" high ids and the two scores measure genuinely
    * different structure (out-fan quality vs in-fan quality).
    *
    * Integer fixed-point like [[graphPagerank]]: L1 normalization
    * replaces the usual L2 (`score·Scale div Σscore` — a truncating
    * integral divide both engines compute identically; the
    * cross-multiply lifts to DECIMAL(38,0)/HUGEINT so `score·1e9`
    * never wraps). Each half-step is one equi-join + hash agg on the
    * edge key; the L1 total is the sanctioned 1-row broadcast
    * aggregate; [[HitsIters]] fixed rounds, state 2 longs per node.
    * The oracle unrolls the identical recurrence CTE-per-round (the
    * pagerank pattern). Each round's hub/auth state is checkpointed
    * eagerly (the Pregel discipline): without the per-round cut the
    * rounds compile into one ~50-node lazy plan whose auth subtree is
    * re-derived by both its consumers.
    */
  def graphHits(spark: SparkSession, dir: String): DataFrame = {
    val (canon, nodes) = hitsIndex(spark, dir)
    def normalize(df: DataFrame, c: String): DataFrame = {
      val tot = df.agg(sum(col(c)).as("tot"))
      df.crossJoin(broadcast(tot)) // 1-row aggregate
        .select(col("node"),
          expr(s"CAST($c AS DECIMAL(38,0)) * $HitsScale div tot").as(c))
    }
    var hub = nodes.select(col("node"), lit(HitsScale).as("h"))
    var auth = hub.select(col("node"), col("h").as("a"))
    for (_ <- 1 to HitsIters) {
      val aRaw = canon
        .join(hub.select(col("node").as("src"), col("h")), "src")
        .groupBy(col("dst").as("node")).agg(sum(col("h")).as("a"))
      auth = normalize(
        nodes.join(aRaw, Seq("node"), "left")
          .select(col("node"), coalesce(col("a"), lit(0L)).as("a")), "a")
        .localCheckpoint(true)
      val hRaw = canon
        .join(auth.select(col("node").as("dst"), col("a")), "dst")
        .groupBy(col("src").as("node")).agg(sum(col("a")).as("h"))
      hub = normalize(
        nodes.join(hRaw, Seq("node"), "left")
          .select(col("node"), coalesce(col("h"), lit(0L)).as("h")), "h")
        .localCheckpoint(true)
    }
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("a").desc, col("node").asc)
    auth.join(hub, "node")
      .orderBy(col("a").desc, col("node").asc).limit(HitsTopK)
      .withColumn("rn", row_number().over(w).cast("long"))
      .select(col("rn"), col("node").as("part_key"),
        col("a").as("auth_fp"), col("h").as("hub_fp"))
      .orderBy("rn")
  }

  /** Oracle: identical integer recurrence unrolled round-by-round —
    * same canonical orientation, same L1 `· Scale // Σ` floors
    * (HUGEINT cross-multiplies), same left-join zeros.
    */
  val graphHitsSql: String = {
    val iters = (1 to HitsIters).map { i =>
      val ph = s"h${i - 1}"
      s"""az$i AS MATERIALIZED (
         |  SELECT nodes.node, coalesce(ar.a, 0) AS a
         |  FROM nodes LEFT JOIN (
         |    SELECT e.dst AS node, sum(p.h) AS a
         |    FROM canon e JOIN $ph p ON p.node = e.src GROUP BY 1) ar
         |  ON ar.node = nodes.node),
         |a$i AS MATERIALIZED (
         |  SELECT node,
         |    CAST(a AS HUGEINT) * $HitsScale // (SELECT sum(a) FROM az$i) AS a
         |  FROM az$i),
         |hz$i AS MATERIALIZED (
         |  SELECT nodes.node, coalesce(hr.h, 0) AS h
         |  FROM nodes LEFT JOIN (
         |    SELECT e.src AS node, sum(p.a) AS h
         |    FROM canon e JOIN a$i p ON p.node = e.dst GROUP BY 1) hr
         |  ON hr.node = nodes.node),
         |h$i AS MATERIALIZED (
         |  SELECT node,
         |    CAST(h AS HUGEINT) * $HitsScale // (SELECT sum(h) FROM hz$i) AS h
         |  FROM hz$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (
       |  SELECT l_orderkey, l_partkey FROM lineitem
       |  WHERE l_orderkey % 8 = 0),
       |edges AS (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |  WHERE a.l_partkey != b.l_partkey),
       |canon AS MATERIALIZED (
       |  SELECT src, dst FROM edges WHERE src < dst),
       |nodes AS MATERIALIZED (
       |  SELECT src AS node FROM canon
       |  UNION SELECT dst FROM canon),
       |h0 AS (SELECT node, $HitsScale AS h FROM nodes),
       |$iters,
       |ranked AS (
       |  SELECT a$HitsIters.node, a$HitsIters.a, h$HitsIters.h,
       |    row_number() OVER (ORDER BY a$HitsIters.a DESC,
       |      a$HitsIters.node ASC) AS rn
       |  FROM a$HitsIters JOIN h$HitsIters
       |    ON h$HitsIters.node = a$HitsIters.node)
       |SELECT CAST(rn AS BIGINT) AS rn, node AS part_key,
       |  CAST(a AS BIGINT) AS auth_fp, CAST(h AS BIGINT) AS hub_fp
       |FROM ranked WHERE rn <= $HitsTopK ORDER BY rn""".stripMargin
  }
}
