package graft.harness

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.ops.Loops.LoopOps

/** Graph analytics over harness-derived edge sets — the iterative and
  * multiway-self-join shapes (PageRank power iteration, ordered
  * triangle enumeration) that complement the min-label connected
  * components already shipped with the dedup family
  * (graft.ops.Graphs.connectedComponents). Both queries follow the
  * repo's determinism discipline: per-edge contributions round to a
  * fixed scale and sum as DECIMAL (order-independent, map-side
  * combinable), every per-iteration result rounds before it feeds the
  * next step, so the DuckDB oracle can replay the identical
  * trajectory.
  */
object GraphQueries {
  type Q = (SparkSession, String) => DataFrame

  private val PrIters = 5
  private val PrDamp = 0.85
  // co-occurrence bucket count for the part-bucket projection
  private val Buckets = 1000
  // backbone edge budget for triangle enumeration (top edges by
  // support; keeps the post-census stages corpus-size-independent)
  private val TriEdges = 5000
  // BFS: seed nodes (suppliers below this id) and unrolled hop count
  private val BfsSeeds = 4L
  private val BfsHops = 4
  // label propagation: synchronous rounds (fixed budget, no
  // convergence test — deterministic by construction)
  private val LpIters = 3
  // k-core: synchronous peel rounds (fixed budget, same discipline)
  private val KcoreRounds = 4

  /** The undirected supplier <-> part-bucket graph: suppliers link to
    * the buckets of the parts they shipped (lineitem projected to
    * 8-byte keys, distinct). Bucket ids offset by 1e6 so the two node
    * families never collide. Symmetric closure — PageRank runs on the
    * undirected graph.
    */
  private def bipartite(s: SparkSession, d: String): DataFrame = {
    val e = Tables.lineitem(s, d)
      .select(col("l_suppkey").cast("long").as("src"),
        (lit(1000000L) + col("l_partkey") % Buckets).as("dst"))
      .distinct()
    e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** The symmetric edge frame, DST-partitioned and cached once per
    * (session, sf): all four loop queries (pagerank, bfs, labelprop,
    * kcore) previously each rebuilt + persisted + counted their own
    * copy of the identical corpus-wide distinct — the single most
    * expensive stage of each. The frame is symmetric, so the
    * src-partitioned layout kcore wants is the SAME relation with the
    * endpoint columns swapped (the alias-aware partitioning survives
    * the rename). Shared via [[SharedFrames]] (released at family
    * end); the loop queries must not unpersist it.
    */
  private val symDst = SharedFrames.Frame("graph_sym_dst") { (s, d) =>
    bipartite(s, d).repartition(col("dst"))
  }

  /** kcore's src-partitioned view of [[symDst]]: swap the endpoint
    * names on the symmetric frame instead of reshuffling it.
    */
  private def symSrc(s: SparkSession, d: String): DataFrame =
    symDst(s, d).select(col("dst").as("src"), col("src").as("dst"))

  private[graft] val sharedFrames: Seq[SharedFrames.Frame] = Seq(symDst)

  val queries: Map[String, Q] = Map(
    // PageRank by power iteration: r <- (1-d)/N + d * Σ r(u)/deg(u)
    // over in-edges, PrIters rounds. Each iteration is one keyed join
    // (ranks onto edge sources) + one keyed agg (inflow per dst) —
    // two shuffles on 8-byte keys, the canonical distributed PageRank
    // plan; the edge frame is reused across iterations (at cluster
    // scale: persisted once, partitioned by src, so the rank join
    // aligns exchange-free every round). Contributions round to 12dp
    // and sum as DECIMAL, ranks round to 9dp per round — the whole
    // trajectory is order-independent and cross-engine identical.
    // Dangling nodes cannot exist here (symmetric closure: every node
    // has out-edges), so no dangling-mass redistribution term.
    "graph_pagerank" -> ((s, d) => {
      import org.apache.spark.storage.StorageLevel
      // materialize the edge set and the (node, deg) dimension ONCE —
      // a lazy edge frame would re-run the corpus-wide distinct every
      // iteration (measured 5x the loop cost at 30x). Edges persist
      // pre-partitioned on DST — the inflow groupBy's key — and the
      // node-sized rank frame broadcasts into the join, so each
      // iteration's plan is scan-cached-edges → BroadcastHashJoin →
      // partial/final agg with ZERO exchange: HashPartitioning(dst)
      // already satisfies the groupBy(dst) distribution, and the
      // broadcast join preserves the streamed side's partitioning.
      // (The previous src-partitioned layout paid one edge-sized
      // decimal-contribution shuffle per round; with the integer-pico
      // contribution sum below, warm A/B at sf0.1: 4.6 -> 2.9 s.)
      // The broadcast is right while the node set is dimension-sized
      // (suppliers × buckets here); a web-scale node set swaps back
      // to the shuffled rank join against this same standing edge
      // partitioning — the layout choice, not the loop, changes.
      val edges = symDst(s, d) // shared, dst-partitioned, cached
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val nodes = deg.select(col("src").as("node"), col("deg"))
      val n = nodes.count()
      // the rank frame CARRIES each node's degree across iterations,
      // so the contribution stage is one join (edges × ranks), not
      // two — the degree rides along for free through the rebuild
      // because `nodes` already holds it
      var ranks = nodes.select(col("node"), col("deg"),
        round(lit(1.0) / n, 9).as("rank"))
      for (_ <- 1 to PrIters) {
        // per-edge contribution in integer picos: floor(x·1e12 + 0.5)
        // is the same three IEEE ops in both engines (the embed_gram
        // regime), total rank mass ≤ 1 bounds every inflow sum under
        // 2^41, and the LONG sum codegens to a primitive add — the
        // DECIMAL(28,12) form it replaces ran the BigDecimal slow
        // path per edge (precision > 18 leaves Spark's long-backed
        // decimal fast path)
        val contrib = edges
          .join(broadcast(ranks), edges("src") === ranks("node"))
          .select(col("dst"),
            floor(col("rank") / col("deg") * lit(1e12) + lit(0.5))
              .cast("long").as("c"))
          .groupBy(col("dst"))
          .agg((sum(col("c")).cast("double") / lit(1e12)).as("inflow"))
        ranks = nodes
          .join(contrib, nodes("node") === contrib("dst"), "left_outer")
          .select(nodes("node"), nodes("deg"),
            round(lit(1 - PrDamp) / n +
              lit(PrDamp) * coalesce(col("inflow"), lit(0.0)), 9).as("rank"))
          .loopCheckpoint()
      }
      // the final ranks are checkpoint-materialized; the loop inputs
      // can release immediately
      deg.unpersist(blocking = false) // edges is the shared frame
      ranks.select(col("node"), col("rank"))
    }),

    // Triangle census over the co-occurrence BACKBONE: part buckets
    // sharing an order form a co-occurrence graph whose density
    // SATURATES as the corpus grows (bucket cardinality is fixed, so
    // raw triangle enumeration is the quadratic trap SCALE.md warns
    // about — measured 1e8+ triangles at sf0.1). The operator instead
    // keeps the TriEdges strongest edges by support (TakeOrdered,
    // deterministic count/a/b tiebreak — the backbone-graph reduction)
    // and enumerates triangles there via the a<b<c ordered 3-way
    // self-join, so each triangle appears exactly once. The only
    // corpus-scaled stage is the pair-support groupBy; everything
    // after runs on a fixed-size edge set at every SF.
    "graph_triangles" -> ((s, d) => {
      val sets = Tables.lineitem(s, d)
        .select(col("l_orderkey"), (col("l_partkey") % Buckets).as("b"))
        .groupBy(col("l_orderkey"))
        .agg(array_sort(collect_set(col("b"))).as("bs"))
      // the backbone is consumed THREE times by the a<b<c self-join;
      // without materialization each leg replays the corpus-scaled
      // set build + pair explosion + top-k (the only corpus-scaled
      // stages) — localCheckpoint pins the ≤TriEdges-row edge set so
      // the replays read 5000 rows instead of re-scanning lineitem
      // (§2.4; the RelOps.orderedPairs caller NOTE applied). Ordering
      // is deterministic (count, a, b tiebreak), so checkpoint vs
      // recompute is identical row-for-row either way.
      val pairs = graft.ops.RelOps.orderedPairs(sets, Seq("l_orderkey"), "bs")
        .select(col("pa").as("a"), col("pb").as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("nab"))
        .orderBy(col("nab").desc, col("a"), col("b"))
        .limit(TriEdges)
        .select(col("a"), col("b"))
        .localCheckpoint()
      val ab = pairs.select(col("a"), col("b"))
      val bc = pairs.select(col("a").as("b2"), col("b").as("c"))
      val ac = pairs.select(col("a").as("a3"), col("b").as("c3"))
      val tris = ab
        .join(bc, col("b") === col("b2"))
        .join(ac, col("a") === col("a3") && col("c") === col("c3"))
        .select(col("a"), col("b"), col("c"))
      tris.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    }),

    // Neighbor-set Jaccard similarity (the classic link-prediction /
    // related-items score): for supplier pairs sharing a part bucket,
    // J(a,b) = |N(a)∩N(b)| / |N(a)∪N(b)| over backbone neighbor
    // sets. The same top-edge backbone as graph_triangles bounds the
    // quadratic co-occurrence blow-up (pairs generate only inside
    // backbone buckets, never corpus×corpus); intersection counts are
    // one bucket-keyed self-join + keyed agg, degrees a tiny census
    // joined back, and the score ships as exact integer ppm
    // (inter·10⁶ DIV union) — no IEEE division to drift cross-engine.
    "graph_jaccard" -> ((s, d) => {
      // consumed three ways (degree census, spread probe side,
      // broadcast build side) — materialize the ≤TriEdges-row backbone
      // once instead of replaying the corpus-scaled support agg +
      // top-k per consumer (§2.4, same treatment as graph_triangles)
      val bb = Tables.lineitem(s, d)
        .select(col("l_suppkey").cast("long").as("sp"),
          (col("l_partkey") % Buckets).as("bk"))
        .groupBy(col("sp"), col("bk")).agg(count(lit(1)).as("w"))
        .orderBy(col("w").desc, col("sp"), col("bk"))
        .limit(TriEdges)
        .select(col("sp"), col("bk"))
        .localCheckpoint()
      val deg = bb.groupBy(col("sp")).agg(count(lit(1)).as("dg"))
      // Pair generation is the budget fill: up to T²/2 rows when skew
      // concentrates the backbone in few buckets. The limit() above
      // collapses bb to ONE partition, so without a spread the whole
      // explosion runs in a single task (the r14 sf1z straggler:
      // 16.2 s, 5.4× uniform). Salted repartition of the probe side
      // by (bucket, sp mod 16) splits each hot bucket's generation
      // across 16 tasks against the broadcast build side — identical
      // output rows, no recall trade, no oracle change; only the
      // task-level parallelism of the fill moves.
      val bbSpread = bb.repartition(32, col("bk"), pmod(col("sp"), lit(16)))
      val pairs = bbSpread
        .join(broadcast(bb.select(col("sp").as("sp2"), col("bk"))),
          Seq("bk"))
        .filter(col("sp") < col("sp2"))
        .groupBy(col("sp"), col("sp2")).agg(count(lit(1)).as("inter"))
      pairs.join(deg, Seq("sp"))
        .join(deg.select(col("sp").as("sp2"), col("dg").as("dg2")),
          Seq("sp2"))
        .withColumn("jac_ppm",
          expr("(inter * 1000000) DIV (dg + dg2 - inter)"))
        .select(col("sp").as("a"), col("sp2").as("b"), col("inter"),
          col("dg").as("da"), col("dg2").as("db"), col("jac_ppm"))
    }),

    // Multi-source BFS hop depths from the seed suppliers: frontier
    // expansion, one keyed join + anti-join per level, frontier-sized
    // work (the join probes only the PREVIOUS level's nodes, never the
    // full label set). Levels are unrolled to BfsHops — the diameter
    // of the supplier<->bucket graph is tiny by construction, and a
    // drained frontier makes further levels no-ops — so the DuckDB
    // oracle replays the same fixed unrolling. Per-level
    // localCheckpoint keeps Catalyst's plan flat, the edge frame is
    // persisted once across levels.
    "graph_bfs_depth" -> ((s, d) => {
      import org.apache.spark.storage.StorageLevel
      // edges persist pre-partitioned on dst: each level is then
      // broadcast(frontier) ⋈ edges → dst-distinct with NO exchange
      // (the alias-aware partitioning survives the rename to `node`),
      // and the visited-set anti-join broadcasts the label side —
      // zero shuffles per level after the one-time layout
      val sym = symDst(s, d) // shared, dst-partitioned, cached
      var labels = sym.select(col("src").as("node")).distinct()
        .filter(col("node") < BfsSeeds)
        .withColumn("depth", lit(0))
        .loopCheckpoint()
      for (i <- 1 to BfsHops) {
        val frontier = labels.filter(col("depth") === i - 1)
          .select(col("node").as("fn"))
        val next = sym.join(broadcast(frontier), sym("src") === col("fn"))
          .select(col("dst").as("node")).distinct()
          .join(broadcast(labels.select(col("node"))), Seq("node"),
            "left_anti")
          .withColumn("depth", lit(i))
        labels = labels.unionByName(next).loopCheckpoint()
      }
      labels
    }),

    // Community detection by synchronous label propagation (Raghavan
    // et al. 2007): every node starts as its own community; each round
    // every node adopts the most frequent label among its neighbours
    // (tie → smallest label), all reads from the PREVIOUS round, so
    // the trajectory is deterministic and the oracle replays it as
    // unrolled CTEs — a fixed LpIters rounds, no convergence test
    // (sync LP can oscillate on bipartite graphs; a fixed budget is
    // the honest deterministic form). Per round: ONE join of labels
    // onto the persisted edge frame + two map-side-combinable aggs
    // (neighbour-label counts, then argmax as a struct max — no
    // window, no per-node sort). Label frames are node-sized,
    // edge-sized work is one equi-join per round — the same
    // frontier-bound posture as BFS, held at 30x by the persisted
    // loop-input rule from SCALE.md.
    "graph_labelprop" -> ((s, d) => {
      import org.apache.spark.storage.StorageLevel
      // same zero-exchange loop layout as pagerank/BFS: edges
      // dst-partitioned once, node-sized label frame broadcast in,
      // and both aggs run on the standing partitioning
      // (HashPartitioning(dst) satisfies the (dst, label) clustering)
      val sym = symDst(s, d) // shared, dst-partitioned, cached
      var labels = sym.select(col("src").as("node")).distinct()
        .withColumn("label", col("node"))
        .loopCheckpoint()
      for (_ <- 1 to LpIters) {
        labels = sym.join(broadcast(labels), sym("src") === labels("node"))
          .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("cnt"))
          .groupBy(col("dst"))
          .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("b"))
          .select(col("dst").as("node"), (-col("b.nl")).as("label"))
          .loopCheckpoint()
      }
      labels
    }),

    // k-core by synchronous peeling with a fixed round budget: each
    // round drops every node whose degree in the SURVIVING subgraph
    // is below k, with k = floor(avg degree / 2) + 1 derived from the
    // edge census (half the mean splits the bipartite degree modes here;
    // a constant k is degenerate at one SF and vacuous at another).
    // Exact k-core is a data-dependent
    // fixpoint; the fixed budget keeps the trajectory deterministic
    // and the oracle unrollable (the labelprop discipline). Loop
    // layout mirrors pagerank: edges persisted src-partitioned once,
    // the node-sized alive set broadcasts into both endpoint
    // semi-joins, and the degree agg runs on the standing
    // partitioning — ZERO exchange per round; the census numbers (|E|,
    // |V|, k) are the only driver-side state. floor() over the double
    // ratio is the same IEEE op in both engines.
    "graph_kcore" -> ((s, d) => {
      import org.apache.spark.storage.StorageLevel
      // the shared dst-partitioned frame, endpoint-swapped: the graph
      // is symmetric, so this IS the src-partitioned layout the peel
      // aggs want, with no second corpus distinct and no reshuffle
      val sym = symSrc(s, d)
      val eCount = sym.count()
      val v = sym.select(col("src")).distinct().count()
      val k = (eCount.toDouble / v / 2).floor.toLong + 1L
      def survivors(edges: DataFrame): DataFrame = edges
        .groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("src").as("node"))
      def peel(alive: DataFrame): DataFrame = sym
        .join(broadcast(alive.select(col("node").as("asrc"))),
          col("src") === col("asrc"))
        .join(broadcast(alive.select(col("node").as("adst"))),
          col("dst") === col("adst"))
        .select(col("src"), col("dst"))
      var alive = survivors(sym).loopCheckpoint()
      for (_ <- 2 to KcoreRounds)
        alive = survivors(peel(alive)).loopCheckpoint()
      val out = peel(alive)
        .groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .select(col("src").as("node"), col("deg"))
        .loopCheckpoint()
      out
    })
  )

  val oracle: Map[String, String] = Map(
    "graph_pagerank" -> {
      val edgeCte =
        s"""e0 AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
                          1000000 + l_partkey % $Buckets AS dst
                   FROM lineitem),
            e AS (SELECT src, dst FROM e0
                  UNION ALL SELECT dst, src FROM e0),
            deg AS (SELECT src AS node, COUNT(*) AS deg FROM e GROUP BY src),
            nn AS (SELECT COUNT(*) AS n FROM deg),
            r0 AS (SELECT node, round(CAST(1.0 AS DOUBLE) / n, 9) AS rank
                   FROM deg, nn)"""
      val iters = (1 to PrIters).map { i =>
        s"""c$i AS (SELECT e.dst,
                           CAST(SUM(CAST(floor(r.rank / deg.deg * 1e12 + 0.5)
                                         AS BIGINT)) AS DOUBLE) / 1e12 AS inflow
                    FROM e JOIN r${i - 1} r ON e.src = r.node
                           JOIN deg ON e.src = deg.node
                    GROUP BY e.dst),
            r$i AS (SELECT deg.node,
                           round(CAST(${1 - PrDamp} AS DOUBLE) / n +
                                 CAST($PrDamp AS DOUBLE) *
                                   COALESCE(c$i.inflow, CAST(0.0 AS DOUBLE)),
                                 9) AS rank
                    FROM deg LEFT JOIN c$i ON deg.node = c$i.dst, nn)"""
      }.mkString(",\n")
      s"WITH $edgeCte,\n$iters\nSELECT node, rank FROM r$PrIters"
    },
    "graph_triangles" ->
      s"""WITH sets AS (SELECT DISTINCT l_orderkey, l_partkey % $Buckets AS b
                        FROM lineitem),
          cnt AS (SELECT a.b AS a, c.b AS b, COUNT(*) AS nab
                  FROM sets a JOIN sets c
                    ON a.l_orderkey = c.l_orderkey AND a.b < c.b
                  GROUP BY 1, 2),
          p AS (SELECT a, b FROM cnt
                ORDER BY nab DESC, a, b LIMIT $TriEdges),
          t AS (SELECT ab.a AS a, ab.b AS b, bc.b AS c
                FROM p ab JOIN p bc ON ab.b = bc.a
                          JOIN p ac ON ab.a = ac.a AND bc.b = ac.b)
          SELECT node, COUNT(*) AS n_triangles
          FROM (SELECT unnest([a, b, c]) AS node FROM t)
          GROUP BY node""",
    "graph_jaccard" ->
      s"""WITH w AS (SELECT CAST(l_suppkey AS BIGINT) AS sp,
                            l_partkey % $Buckets AS bk, COUNT(*) AS w
                     FROM lineitem GROUP BY 1, 2),
          bb AS (SELECT sp, bk FROM w ORDER BY w DESC, sp, bk
                 LIMIT $TriEdges),
          deg AS (SELECT sp, COUNT(*) AS dg FROM bb GROUP BY sp),
          p AS (SELECT a.sp AS a, b.sp AS b, COUNT(*) AS inter
                FROM bb a JOIN bb b ON a.bk = b.bk AND a.sp < b.sp
                GROUP BY 1, 2)
          SELECT a, b, inter, da.dg AS da, db.dg AS db,
                 (inter * 1000000) // (da.dg + db.dg - inter) AS jac_ppm
          FROM p JOIN deg da ON p.a = da.sp JOIN deg db ON p.b = db.sp""",
    "graph_bfs_depth" -> {
      val levels = (1 to BfsHops).map { i =>
        s"""f$i AS (SELECT DISTINCT e.dst AS node
                 FROM e JOIN l${i - 1} l ON e.src = l.node
                 WHERE l.depth = ${i - 1}),
            l$i AS (SELECT node, depth FROM l${i - 1}
                 UNION ALL
                 SELECT node, $i FROM f$i
                 WHERE node NOT IN (SELECT node FROM l${i - 1}))"""
      }.mkString(",\n")
      s"""WITH e0 AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
                             1000000 + l_partkey % $Buckets AS dst
                      FROM lineitem),
          e AS (SELECT src, dst FROM e0
                UNION ALL SELECT dst, src FROM e0),
          l0 AS (SELECT DISTINCT src AS node, 0 AS depth FROM e
                 WHERE src < $BfsSeeds),
          $levels
          SELECT node, CAST(depth AS INT) AS depth FROM l$BfsHops"""
    },
    "graph_labelprop" -> {
      val rounds = (1 to LpIters).map { i =>
        s"""c$i AS (SELECT e.dst, l.label, COUNT(*) AS cnt
                 FROM e JOIN l${i - 1} l ON e.src = l.node
                 GROUP BY e.dst, l.label),
            l$i AS (SELECT dst AS node, label
                 FROM (SELECT dst, label, row_number() OVER (
                         PARTITION BY dst ORDER BY cnt DESC, label) AS rk
                       FROM c$i)
                 WHERE rk = 1)"""
      }.mkString(",\n")
      s"""WITH e0 AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
                             1000000 + l_partkey % $Buckets AS dst
                      FROM lineitem),
          e AS (SELECT src, dst FROM e0
                UNION ALL SELECT dst, src FROM e0),
          l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
          $rounds
          SELECT node, label FROM l$LpIters"""
    },
    // every round references the PREVIOUS alive set twice (both join
    // endpoints), so inlined CTEs expand the plan exponentially in
    // the round count — DuckDB 1.0 inlines by default and the
    // un-hinted form spilled >75 GB at sf1 before dying; MATERIALIZED
    // pins each round to one evaluation (17.6 s, zero spill at sf1)
    "graph_kcore" -> {
      val rounds = (2 to KcoreRounds).map { i =>
        s"""s$i AS MATERIALIZED (SELECT e.src, e.dst FROM e
                 JOIN a${i - 1} x ON e.src = x.node
                 JOIN a${i - 1} y ON e.dst = y.node),
            a$i AS MATERIALIZED (SELECT src AS node FROM s$i GROUP BY src
                 HAVING COUNT(*) >= (SELECT k FROM kk))"""
      }.mkString(",\n")
      s"""WITH e0 AS MATERIALIZED (
                   SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
                          1000000 + l_partkey % $Buckets AS dst
                   FROM lineitem),
          e AS MATERIALIZED (SELECT src, dst FROM e0
                UNION ALL SELECT dst, src FROM e0),
          kk AS MATERIALIZED (
                 SELECT CAST(floor(CAST(COUNT(*) AS DOUBLE)
                                   / COUNT(DISTINCT src) / 2) AS BIGINT) + 1
                        AS k FROM e),
          a1 AS MATERIALIZED (SELECT src AS node FROM e GROUP BY src
                 HAVING COUNT(*) >= (SELECT k FROM kk)),
          $rounds
          SELECT e.src AS node, CAST(COUNT(*) AS BIGINT) AS deg
          FROM e
          JOIN a$KcoreRounds x ON e.src = x.node
          JOIN a$KcoreRounds y ON e.dst = y.node
          GROUP BY e.src"""
    }
  )
}
