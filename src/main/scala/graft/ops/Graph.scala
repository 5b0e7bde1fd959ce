package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import Q.t

/** Graph analytics over relationship edges derived from the relational
  * tables — the companion to [[Clustering]]'s connected components: d46
  * answers "which nodes form one group", PageRank answers "which nodes
  * matter". The iterative shape is the same GraphX-style join+aggregate
  * loop, driver-controlled but with all data distributed.
  */
object Graph {

  def pack: Seq[Q] = Seq(g60PageRank, g61CcStar, g62Triangles,
    g63PersonalizedPr, g64BfsHops, g65KCore, g66Hits)

  /** Fixed-point scale for integer PageRank: every rank is a BIGINT in
    * units of 10⁻¹², and every step (damping multiply, out-degree divide)
    * is integer arithmetic — Spark's `div` and DuckDB's `//` agree on all
    * positive operands, so a 5-iteration rank vector compares bit-exact
    * across engines with zero float/ulp surface. 85·r stays ≤ 8.5×10¹³,
    * far inside BIGINT.
    */
  val Scale = 1000000000000L
  val Iters = 5

  /** Integer-scaled PageRank over a symmetric (src, dst) edge list:
    * r₀(v) = SCALE÷N, then `Iters` rounds of
    * r'(v) = (15·SCALE÷100)÷N + Σ_{u→v} (85·r(u)÷100)÷deg(u)
    * (all ÷ integer). The graph is undirected (edges appear both ways), so
    * every node has out-degree ≥ 1 and no dangling-mass term is needed.
    *
    * Scale design: degrees are joined to the edge list ONCE outside the
    * loop, and that cached edge table is ALREADY hash-partitioned on
    * `src` (its build join shuffled it there) — so each round's
    * edges ⋈ ranks is a shuffled-hash join that moves ONLY the O(nodes)
    * rank table to the edges, never the O(edges) big side and never a
    * per-round O(nodes) broadcast (which OOMs executors once the node
    * set outgrows broadcast size). The `shuffle_hash` hints also keep the
    * cached edge partitions from being re-sorted every round. Round state
    * is eagerly localCheckpoint'ed (flat plans, see [[Clustering]]) and
    * superseded rounds are released, so the loop holds ≤ 2 rank tables —
    * identical per-round plans also HIT the codegen cache, which an A/B
    * showed beats composing the rounds lazily (10.6 s vs 7.4 s at sf0.1:
    * lazy loses the cache and pays AQE replanning on the deep plan; the
    * r11 checkpoint-cadence sweep measured cadence 1 < 2 < 5 at 5.3/6.1/7.6 s
    * and attributes 3.2 s of the total to edge PREP, ~0.4 s/round to the
    * loop itself). The
    * node count is collected ONCE (one row — the same driver-side stats
    * read AQE does) and folded into the round as a literal, so a round
    * broadcasts NOTHING. A FIXED iteration count means no per-round
    * driver action beyond the checkpoint itself. On a real cluster swap
    * `checkpoint()` for durable lineage cuts.
    */
  def pageRank(edges: DataFrame, iters: Int): DataFrame = {
    val (e, deg, ew, ncnt) = edgeState(edges)
    val n = ncnt.head().getLong(0)
    // the literal fold turned the old SQL div-by-zero→NULL path into a
    // driver-side ArithmeticException — make the empty case explicit
    require(n > 0, "pageRank on an empty edge set (no nodes)")
    var ranks = deg
      .select(col("src").as("node"), lit(Scale / n).as("r"))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val next = round(ew, deg, n, ranks).localCheckpoint(true)
      Q.releaseBlocks(ranks)
      ranks = next
    }
    ew.unpersist()
    deg.unpersist()
    e.unpersist()
    ranks
  }

  /** Immutable loop state shared by [[pageRank]] and the plan-audit spec:
    * cached edges, cached out-degrees, the degree-joined edge table
    * EXPLICITLY hash-partitioned on `src` before caching (its build join
    * may broadcast the degree side, which would otherwise leave the cache
    * with the raw input's partitioning and force a per-round exchange of
    * the O(edges) side), and the one-row node count.
    */
  def edgeState(edges: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val e = edges.persist(StorageLevel.MEMORY_AND_DISK)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ew = e.join(deg, "src").repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ncnt = deg.agg(count(lit(1)).as("n"))
    (e, deg, ew, ncnt)
  }

  /** One LAZY power-iteration round over the prepared loop state —
    * exposed so [[graft.ops]] specs can assert the per-round plan shape:
    * the cached `ew` feeds its join with no exchange above it, and the
    * round broadcasts NOTHING (the node count arrives as a folded
    * literal, collected once outside the loop).
    */
  def round(ew: DataFrame, deg: DataFrame, n: Long,
      ranks: DataFrame): DataFrame = {
    // build the hash map on the rank side (O(nodes) rows of (key, long));
    // the stream side is the cached hash(src)-partitioned edge table
    val contribs = ew
      .join(ranks.withColumnRenamed("node", "src").hint("shuffle_hash"), "src")
      .select(col("dst"), expr("((85 * r) div 100) div deg").as("c"))
      .groupBy(col("dst")).agg(sum(col("c")).as("s"))
    deg
      .join(contribs.hint("shuffle_hash"), col("src") === col("dst"), "left")
      .select(col("src").as("node"),
        (lit((15 * Scale / 100) / n) +
          coalesce(col("s"), lit(0L))).as("r"))
  }

  private def iterSql(i: Int): String = s"""
      r$i AS (
        SELECT d.src AS node,
          ((15 * $Scale) // 100) // (SELECT n FROM n) +
            coalesce(CAST(c.s AS BIGINT), 0) AS r
        FROM deg d LEFT JOIN (
          SELECT e.dst, sum(((85 * p.r) // 100) // dg.deg) AS s
          FROM edges e JOIN r${i - 1} p ON e.src = p.node
            JOIN deg dg ON e.src = dg.src
          GROUP BY e.dst) c ON d.src = c.dst)"""

  /** g60: PageRank over the customer↔supplier trade graph (an edge per
    * distinct customer–supplier pair that shares an order line; node ids
    * parity-encoded — even=customer 2k, odd=supplier 2k+1 — so one id
    * space carries both sides collision-free). High-rank suppliers are the
    * ones central to many well-connected customers — the influence query
    * every marketplace/fraud team runs. The oracle replays the identical
    * integer recurrence through `Iters` unrolled CTEs.
    */
  val g60PageRank: Q = Q(
    "g60_pagerank",
    (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val pairs = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
        .distinct()
      val edges = pairs.select(col("c").as("src"), col("s").as("dst"))
        .unionAll(pairs.select(col("s").as("src"), col("c").as("dst")))
      pageRank(edges, Iters)
        .select(
          when(col("node") % 2 === 0, "customer").otherwise("supplier")
            .as("kind"),
          expr("node div 2").as("key"),
          col("r").as("rank_scaled"))
        .orderBy(col("kind"), col("key"))
    },
    Some(s"""
      WITH pairs AS (
        SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      edges AS (
        SELECT c AS src, s AS dst FROM pairs
        UNION ALL SELECT s, c FROM pairs),
      deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
      n AS (SELECT count(*) AS n FROM deg),
      r0 AS (SELECT src AS node, $Scale // (SELECT n FROM n) AS r FROM deg),
      ${(1 to Iters).map(iterSql).mkString(",")}
      SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
          AS kind,
        node // 2 AS key, r AS rank_scaled
      FROM r$Iters ORDER BY kind, key"""))

  // --------------------------------------------------- personalized PageRank

  /** g63: PERSONALIZED PageRank — the restart mass returns to a SEED SET
    * instead of spreading uniformly, so the converged ranks measure
    * proximity to the seeds ("parts related to what this customer cohort
    * buys" — the random-walk-with-restart behind every graph recsys).
    * Same integer fixed-point arithmetic and the same g60 loop shape:
    * rank state shuffles to the hash(src)-partitioned cached edges each
    * round, only one-row counts broadcast, ≤2 round states held. Seeds
    * here: the customer nodes with custkey ≡ 1 (mod 100) — a deterministic
    * cohort, so the whole recurrence unrolls into the oracle's CTEs.
    * Non-seed nodes start at rank 0 and receive mass only through edges;
    * every rank stays an exact BIGINT in 10⁻¹² units.
    */
  def personalizedPageRank(edges: DataFrame, isSeed: Column => Column,
      iters: Int): DataFrame = {
    val (e, deg, ew, _) = edgeState(edges)
    // one-row driver read, like g60's node count: the seed-cohort size
    // folds into every round as a literal, so rounds broadcast nothing
    val ns = deg.filter(isSeed(col("src"))).count()
    require(ns > 0,
      "personalizedPageRank: the seed predicate matches no node")
    var ranks = deg
      .select(col("src").as("node"),
        when(isSeed(col("src")), lit(Scale / ns))
          .otherwise(lit(0L)).as("r"))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val contribs = ew
        .join(ranks.withColumnRenamed("node", "src").hint("shuffle_hash"),
          "src")
        .select(col("dst"), expr("((85 * r) div 100) div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      val next = deg
        .join(contribs.hint("shuffle_hash"), col("src") === col("dst"), "left")
        .select(col("src").as("node"),
          (when(isSeed(col("src")), lit((15 * Scale / 100) / ns))
            .otherwise(lit(0L)) +
            coalesce(col("s"), lit(0L))).as("r"))
        .localCheckpoint(true)
      Q.releaseBlocks(ranks)
      ranks = next
    }
    ew.unpersist(); deg.unpersist(); e.unpersist()
    ranks
  }

  private def pprIterSql(i: Int): String = s"""
      p$i AS (
        SELECT d.src AS node,
          CASE WHEN d.src % 200 = 2
            THEN ((15 * $Scale) // 100) // (SELECT ns FROM s) ELSE 0 END +
            coalesce(CAST(c.s AS BIGINT), 0) AS r
        FROM deg d LEFT JOIN (
          SELECT e.dst, sum(((85 * p.r) // 100) // dg.deg) AS s
          FROM edges e JOIN p${i - 1} p ON e.src = p.node
            JOIN deg dg ON e.src = dg.src
          GROUP BY e.dst) c ON d.src = c.dst)"""

  val g63PersonalizedPr: Q = Q(
    "g63_personalized_pr",
    (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val pairs = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
        .distinct()
      val edges = pairs.select(col("c").as("src"), col("s").as("dst"))
        .unionAll(pairs.select(col("s").as("src"), col("c").as("dst")))
      personalizedPageRank(edges, n => n % 200 === 2, Iters)
        .select(
          when(col("node") % 2 === 0, "customer").otherwise("supplier")
            .as("kind"),
          expr("node div 2").as("key"),
          (col("node") % 200 === 2).as("is_seed"),
          col("r").as("rank_scaled"))
        .orderBy(col("kind"), col("key"))
    },
    Some(s"""
      WITH pairs AS (
        SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      edges AS (
        SELECT c AS src, s AS dst FROM pairs
        UNION ALL SELECT s, c FROM pairs),
      deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
      s AS (SELECT count(*) AS ns FROM deg WHERE src % 200 = 2),
      p0 AS (
        SELECT src AS node,
          CASE WHEN src % 200 = 2
            THEN $Scale // (SELECT ns FROM s) ELSE 0 END AS r
        FROM deg),
      ${(1 to Iters).map(pprIterSql).mkString(",")}
      SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
          AS kind,
        node // 2 AS key, node % 200 = 2 AS is_seed, r AS rank_scaled
      FROM p$Iters ORDER BY kind, key"""))

  // ----------------------------------------------------- multi-source BFS

  /** Multi-source BFS: hop distance from a seed cohort, FRONTIER-style —
    * each round expands only the nodes DISCOVERED last round, so an edge
    * is traversed once when its endpoint first enters the tree, not once
    * per round (the textbook distributed-BFS shape; expanding the full
    * distance table every round re-sends settled nodes forever). The
    * frontier joins the hash(src)-partitioned cached edge table each
    * round (g60's loop discipline: state shuffles to the cached big side,
    * nothing broadcasts; resident state totals one copy of the reached
    * set — the per-round fresh checkpoints — not per-round full copies).
    * Returns (node, d) for
    * every node reached within `iters` hops. Unreached nodes are absent —
    * the caller left-joins if it wants NULL-distance rows.
    */
  def bfsHops(edges: DataFrame, isSeed: Column => Column, iters: Int)
      : DataFrame = {
    val e = edges.repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // symmetric edge list ⇒ the src column enumerates every node
    val seed = e.select(col("src")).distinct().filter(isSeed(col("src")))
      .select(col("src").as("node"), lit(0L).as("d"))
      .localCheckpoint(true)
    // BFS distance is APPEND-ONLY: only each round's FRESH nodes need a
    // materialization job; the full distance table stays a lazy union of
    // the flat per-round checkpoints (scanning cached blocks, no
    // recompute), so a sweep writes each node's row ONCE total instead of
    // re-checkpointing the whole growing table every round
    var rounds = Vector(seed)
    var frontier = seed
    for (i <- 1 to iters) {
      val reached = e
        .join(frontier.withColumnRenamed("node", "src").hint("shuffle_hash"),
          "src")
        .select(col("dst").as("node")).distinct()
      val dist = rounds.reduce(_ unionAll _)
      val fresh = reached.join(dist, Seq("node"), "left_anti")
        .select(col("node"), lit(i.toLong).as("d"))
        .localCheckpoint(true)
      rounds :+= fresh
      frontier = fresh
    }
    val out = rounds.reduce(_ unionAll _).localCheckpoint(true)
    rounds.foreach(Q.releaseBlocks)
    e.unpersist()
    out
  }

  private def bfsIterSql(i: Int): String = s"""
      f$i AS (
        SELECT DISTINCT e.dst AS node
        FROM edges e JOIN f${i - 1} f ON e.src = f.node
        WHERE NOT EXISTS (SELECT 1 FROM d${i - 1} p WHERE p.node = e.dst)),
      d$i AS (
        SELECT * FROM d${i - 1}
        UNION ALL SELECT node, $i AS d FROM f$i)"""

  /** g64: hop distance from the g63 seed cohort (custkey ≡ 1 mod 100)
    * over the customer↔supplier trade graph — "how many trade hops from
    * our pilot cohort is each participant", the reachability/blast-radius
    * query behind supply-chain and fraud-propagation analyses. The oracle
    * replays the identical frontier recurrence through unrolled CTEs.
    */
  val g64BfsHops: Q = Q(
    "g64_bfs_hops",
    (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val pairs = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
        .distinct()
      val edges = pairs.select(col("c").as("src"), col("s").as("dst"))
        .unionAll(pairs.select(col("s").as("src"), col("c").as("dst")))
      bfsHops(edges, n => n % 200 === 2, Iters)
        .select(
          when(col("node") % 2 === 0, "customer").otherwise("supplier")
            .as("kind"),
          expr("node div 2").as("key"),
          col("d").as("hops"))
        .orderBy(col("kind"), col("key"))
    },
    Some(s"""
      WITH pairs AS (
        SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      edges AS (
        SELECT c AS src, s AS dst FROM pairs
        UNION ALL SELECT s, c FROM pairs),
      d0 AS (
        SELECT DISTINCT src AS node, 0 AS d FROM edges WHERE src % 200 = 2),
      f0 AS (SELECT node FROM d0),
      ${(1 to Iters).map(bfsIterSql).mkString(",")}
      SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
          AS kind,
        node // 2 AS key, CAST(d AS BIGINT) AS hops
      FROM d$Iters ORDER BY kind, key"""))

  // ------------------------------------------- star-contraction components

  /** Connected components by ALTERNATING STAR CONTRACTION — the two-phase
    * large-star/small-star algorithm of Kiveris et al., "Connected
    * Components in MapReduce and Beyond" (SoCC 2014). Where [[Clustering]]'s
    * min-label propagation (d46) needs O(diameter) rounds and carries a
    * separate O(nodes) label table through every round, star contraction
    * rewrites the EDGE SET ITSELF and converges in O(log n) rounds on any
    * topology — long chains included — with per-round state that only
    * shrinks. Each round is two keyed aggregates + two keyed joins; no
    * broadcasts, no global structures, nothing proportional to a component.
    * That is the 100 TB CC shape: a trillion-edge graph never holds more
    * than the (monotonically collapsing) edge list, hash-partitioned.
    *
    *  - large-star(u): m = min(Γ(u) ∪ u); connect every neighbor v > u
    *    to m. (Big neighbors hop toward the local minimum.)
    *  - small-star(u): over edges kept as canonical (big=a, small=b)
    *    pairs, per node a: m = min of its smaller neighbors; connect a and
    *    each of those neighbors to m.
    *
    * Fixpoints are exactly star forests (every node linked directly to its
    * component minimum), so the converged edge set IS the answer. Returns
    * (labels, rounds); labels = (node, lbl=component min) for every node
    * that appears in any input pair.
    */
  def ccStarContraction(pairs: DataFrame, maxIters: Int = 30)
      : (DataFrame, Int) = {
    var cur = pairs
      .select(greatest(col("d1"), col("d2")).as("a"),
        least(col("d1"), col("d2")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint(true)
    var curCount = cur.count()
    var stable = false
    var iter = 0
    while (!stable && iter < maxIters) {
      // large-star over the symmetric view; v > u ≥ m, so (v, m) is
      // already canonical (bigger first)
      val sym = cur.select(col("a").as("u"), col("b").as("v"))
        .unionAll(cur.select(col("b").as("u"), col("a").as("v")))
      val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val ls = sym.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b")).distinct()
        .localCheckpoint(true)
      // small-star on the canonical (a > b) large-star output: per a,
      // m = min(smaller neighbors); re-link a and each smaller neighbor
      // to m. b = m self-links drop; (b, m) needs re-canonicalizing
      // (two smaller neighbors are not ordered relative to each other).
      val minsS = ls.groupBy(col("a")).agg(min(col("b")).as("m"))
      val next = ls.join(minsS, "a")
        .select(col("b").as("n"), col("m"))
        .unionAll(minsS.select(col("a").as("n"), col("m")))
        .filter(col("n") =!= col("m"))
        .select(greatest(col("n"), col("m")).as("a"),
          least(col("n"), col("m")).as("b"))
        .distinct()
        .localCheckpoint(true)
      // set equality: both sides are distinct, so equal counts + empty
      // one-way except ⇒ identical edge sets (two narrow keyed passes;
      // at warehouse scale swap in a count + order-free checksum compare)
      val nextCount = next.count()
      stable = nextCount == curCount && next.except(cur).isEmpty
      Q.releaseBlocks(cur)
      Q.releaseBlocks(ls)
      cur = next
      curCount = nextCount
      iter += 1
    }
    require(stable,
      s"star contraction did not converge within $maxIters rounds — " +
        "raise maxIters (expected O(log n) rounds)")
    // converged star forest: children label with their root; roots (never
    // on the big side) label themselves
    val childLabels = cur.groupBy(col("a")).agg(min(col("b")).as("lbl"))
      .select(col("a").as("node"), col("lbl"))
    val rootLabels = cur.select(col("b")).except(cur.select(col("a")))
      .select(col("b").as("node"), col("b").as("lbl"))
    (childLabels.unionAll(rootLabels), iter)
  }

  /** g61: the d46 clustering deliverable — near-dup pairs → components →
    * min-id representative election — recomputed through star contraction
    * instead of label propagation. Same edge semantics (the d41 shingle
    * pairs) and same output contract, so the d46 recursive-CTE oracle pins
    * this algorithm's correctness too: two independent distributed CC
    * implementations against one engine-independent fixpoint definition.
    */
  val g61CcStar: Q = Q(
    "g61_cc_starcontract",
    (s, dir) => {
      val pairs = Dedup.d41ShingleJaccard.run(s, dir)
        .select(col("d1"), col("d2"))
      val (cc, _) = ccStarContraction(pairs)
      Q.releaseBlocks(pairs)
      cc.select(col("node").as("doc_id"), col("lbl").as("cluster"),
          (col("node") === col("lbl")).as("is_kept"))
        .orderBy(col("doc_id"))
    },
    Clustering.d46DedupClusters.oracle)

  // -------------------------------------------------------------------- HITS

  private val HitsScale = 1000000L
  private val HitsIters = 2

  /** HITS (Kleinberg 1999) over the DIRECTED customer→supplier trade
    * edges: authority(s) = Σ hub(c) over buyers, hub(c) = Σ authority(s)
    * over sellers — mutual reinforcement, the other classic link-analysis
    * eigenvector next to PageRank's random walk (here: hub = customer
    * whose basket concentrates on authoritative suppliers; authority =
    * supplier bought by strong hubs). Each half-step normalizes by the
    * current MAX (integer 10⁶·x div max — one-row broadcast, exact), so
    * scores stay bounded integers and every round is oracle-replayable.
    *
    * Scale shape: the edge list is cached TWICE, hash-partitioned on each
    * endpoint (`ec` on c, `es` on s) — the GraphX convention — so both
    * half-steps are shuffled-hash joins that move only the O(nodes) score
    * table to co-located edges; the only broadcasts are one-row maxima.
    */
  def hits(edges: DataFrame, iters: Int): DataFrame = {
    val ec = edges.repartition(col("c")).persist(StorageLevel.MEMORY_AND_DISK)
    val es = edges.repartition(col("s")).persist(StorageLevel.MEMORY_AND_DISK)
    var hub = ec.select(col("c")).distinct()
      .select(col("c"), lit(HitsScale).as("h")).localCheckpoint(true)
    var auth: DataFrame = null
    for (_ <- 1 to iters) {
      // overflow-guarded normalization (the e71 shift): scores reach
      // Scale·max_degree, so score·10⁶ overflows BIGINT past ~9×10⁶-degree
      // hubs; dividing score and max by d = max div 2⁴³ + 1 first keeps
      // the multiply in range and is the EXACT formula whenever d = 1
      val aRaw = ec.join(hub.hint("shuffle_hash"), "c")
        .groupBy(col("s")).agg(sum(col("h")).as("a"))
      val aMax = aRaw.agg(max(col("a")).as("ma"))
      val aN = aRaw.crossJoin(broadcast(aMax))
        .withColumn("da", expr(s"ma div ${1L << 43} + 1"))
        .select(col("s"),
          expr(s"(a div da) * $HitsScale div (ma div da)").as("a"))
        .localCheckpoint(true)
      if (auth != null) Q.releaseBlocks(auth)
      auth = aN
      val hRaw = es.join(auth.hint("shuffle_hash"), "s")
        .groupBy(col("c")).agg(sum(col("a")).as("h"))
      val hMax = hRaw.agg(max(col("h")).as("mh"))
      val hN = hRaw.crossJoin(broadcast(hMax))
        .withColumn("dh", expr(s"mh div ${1L << 43} + 1"))
        .select(col("c"),
          expr(s"(h div dh) * $HitsScale div (mh div dh)").as("h"))
        .localCheckpoint(true)
      Q.releaseBlocks(hub)
      hub = hN
    }
    val out = hub.select(lit("hub").as("kind"), col("c").as("key"),
        col("h").as("score"))
      .unionAll(auth.select(lit("authority").as("kind"), col("s").as("key"),
        col("a").as("score")))
      .orderBy(col("kind"), col("key"))
      .localCheckpoint(true)
    ec.unpersist(); es.unpersist()
    Q.releaseBlocks(hub); Q.releaseBlocks(auth)
    out
  }

  private def hitsIterSql(i: Int): String = s"""
      a$i AS MATERIALIZED (
        SELECT s, CAST(sum(h) AS BIGINT) AS a
        FROM edges JOIN h${i - 1} USING (c) GROUP BY s),
      am$i AS (
        SELECT max(a) AS m, max(a) // ${1L << 43} + 1 AS d FROM a$i),
      an$i AS MATERIALIZED (
        SELECT s, (a // (SELECT d FROM am$i)) * $HitsScale
          // ((SELECT m FROM am$i) // (SELECT d FROM am$i)) AS a
        FROM a$i),
      hr$i AS MATERIALIZED (
        SELECT c, CAST(sum(a) AS BIGINT) AS h
        FROM edges JOIN an$i USING (s) GROUP BY c),
      hm$i AS (
        SELECT max(h) AS m, max(h) // ${1L << 43} + 1 AS d FROM hr$i),
      h$i AS MATERIALIZED (
        SELECT c, (h // (SELECT d FROM hm$i)) * $HitsScale
          // ((SELECT m FROM hm$i) // (SELECT d FROM hm$i)) AS h
        FROM hr$i)"""

  val g66Hits: Q = Q(
    "g66_hits",
    (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val edges = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
        .distinct()
      hits(edges, HitsIters)
    },
    Some(s"""
      WITH edges AS MATERIALIZED (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      h0 AS (SELECT DISTINCT c, $HitsScale AS h FROM edges),
      ${(1 to HitsIters).map(hitsIterSql).mkString(",")}
      SELECT 'hub' AS kind, c AS key, CAST(h AS BIGINT) AS score
      FROM h$HitsIters
      UNION ALL
      SELECT 'authority', s, CAST(a AS BIGINT) FROM an$HitsIters
      ORDER BY kind, key"""))

  // ------------------------------------------------------------------ k-core

  /** K-CORE DECOMPOSITION by iterative peeling: repeatedly drop every node
    * whose degree fell below k until the survivors all have degree ≥ k —
    * the maximal subgraph where everyone keeps k neighbors, the standard
    * "dense cohesive region" extractor (community cores, fraud rings,
    * spam farms). Each round is one keyed degree count + two semi-joins
    * that shrink the edge set MONOTONICALLY; nothing broadcasts, no state
    * beyond the current (hash-partitioned) edge list — the same
    * only-the-edges discipline as [[ccStarContraction]].
    *
    * Runs a FIXED `rounds` count so the recurrence unrolls into the
    * oracle's CTEs (a production fixpoint loop stops on a per-round
    * removed==0 check — one driver count, same plan shape); the emitted
    * `converged` flag — computed distributed, no driver action — reports
    * whether the fixed horizon actually reached the fixpoint, so the
    * result is self-certifying either way. Returns (node, core_degree,
    * converged) for survivors of the symmetric `edges`.
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    var e = edges.localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val keep = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("src").as("n"))
      val next = e
        .join(keep.withColumnRenamed("n", "src").hint("shuffle_hash"),
          Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("n", "dst").hint("shuffle_hash"),
          Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
        .localCheckpoint(true)
      Q.releaseBlocks(e)
      e = next
    }
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("core_degree"))
    val conv = deg.agg((sum(when(col("core_degree") < k, 1L).otherwise(0L))
      === 0L).as("converged"))
    deg.crossJoin(broadcast(conv))
      .select(col("src").as("node"), col("core_degree"), col("converged"))
  }

  // MATERIALIZED is load-bearing: each round references the previous edge
  // CTE twice (degree count + filter) and the keep CTE twice, so DuckDB's
  // default CTE INLINING re-expands the base self-join 3^rounds times —
  // the 6-round 3-core would inline it ~729×. Materializing makes the
  // oracle evaluate each round once, like the engine does.
  private def kcoreIterSql(i: Int, k: Int): String = s"""
      k$i AS MATERIALIZED (
        SELECT src AS n FROM e${i - 1} GROUP BY src HAVING count(*) >= $k),
      e$i AS MATERIALIZED (
        SELECT e.src, e.dst FROM e${i - 1} e
          JOIN k$i a ON e.src = a.n JOIN k$i b ON e.dst = b.n)"""

  /** g65: the 3-core of the bought-together part graph (g62's support≥2
    * co-purchase edges) — parts that stay after everything with fewer
    * than 3 co-purchase partners is recursively peeled away: the stable
    * cross-sell backbone, as opposed to pairs that co-occurred twice by
    * chance. 6 peeling rounds, unrolled into the oracle's CTEs.
    */
  val g65KCore: Q = {
    val K = 3
    val Rounds = 6
    Q(
      "g65_kcore",
      (s, dir) => {
        val lp = t(s, dir, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
          .distinct()
        val e0 = lp.as("a").join(lp.as("b"),
            col("a.ok") === col("b.ok") && col("a.p") < col("b.p"))
          .groupBy(col("a.p").as("x"), col("b.p").as("y"))
          .agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") >= 2)
          .select(col("x"), col("y"))
        val sym = e0.select(col("x").as("src"), col("y").as("dst"))
          .unionAll(e0.select(col("y").as("src"), col("x").as("dst")))
        kCore(sym, K, Rounds)
          .select(col("node").as("partkey"), col("core_degree"),
            col("converged"))
          .orderBy(col("partkey"))
      },
      Some(s"""
      WITH lp AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
      eu AS (
        SELECT a.p AS x, b.p AS y
        FROM lp a JOIN lp b ON a.ok = b.ok AND a.p < b.p
        GROUP BY 1, 2 HAVING count(*) >= 2),
      e0 AS MATERIALIZED (
        SELECT x AS src, y AS dst FROM eu
        UNION ALL SELECT y, x FROM eu),
      ${(1 to Rounds).map(kcoreIterSql(_, K)).mkString(",")},
      deg AS (
        SELECT src, count(*) AS core_degree FROM e$Rounds GROUP BY src),
      conv AS (
        SELECT CAST(sum(CASE WHEN core_degree < $K THEN 1 ELSE 0 END) AS BIGINT)
          = 0 AS converged FROM deg)
      SELECT src AS partkey, core_degree, (SELECT converged FROM conv)
          AS converged
      FROM deg ORDER BY partkey"""))
  }

  // ------------------------------------------------------ triangle counting

  /** g62: triangle counting by DEGREE-ORDERED ORIENTATION — each undirected
    * edge points from its lower-(degree, id) endpoint to the higher, wedges
    * are generated only between a node's ORIENTED out-neighbors, and a
    * wedge closes iff its (v, w) leg is itself an oriented edge. The
    * orientation is the whole scale story: out-degree is bounded by O(√m)
    * on any graph (the arboricity argument behind every MapReduce/GraphX
    * triangle counter), so the wedge self-join fans out per node by the
    * SQUARE of a bounded quantity instead of the square of a hub's raw
    * degree — a celebrity node with 10⁸ followers contributes zero wedges
    * from its own adjacency. Three keyed joins + keyed aggregates; nothing
    * broadcast, nothing global.
    *
    * Graph: parts that co-occur in at least MinSupport=2 DISTINCT orders
    * ("bought-together") — the association-rule support threshold, which
    * is also what keeps a co-occurrence graph sparse enough to mean
    * anything (one shared basket is noise; the raw ≥1 graph at sf0.1 is
    * 1.2M edges of it, the ≥2 graph is 3.6k edges of signal).
    * Output: one row — edges, wedge count Σd(d−1)/2, triangles, and the
    * global clustering coefficient 3T/W (6dp-rounded; T, W exact BIGINTs).
    *
    * The (deg, id) total order packs into one BIGINT `deg·2³² + id` so the
    * orientation predicate is a single integer compare in both engines
    * (ids must stay below 2³² — `raise_error` guards the pack, the e60
    * pattern).
    */
  /** The g62 core over any canonical (x < y) edge frame — exposed for
    * planted-graph specs. Eager ([[Q.materialized]] over the cached
    * oriented edge table).
    */
  def triangleStats(edges: DataFrame): DataFrame = {
    // the edge input feeds FOUR consumers (degrees, the orientation join,
    // the edge count, and — through `oriented` — the wedge join): pay its
    // possibly-expensive lineage once
    val e0 = edges.persist(StorageLevel.MEMORY_AND_DISK)
    val deg = e0.select(col("x").as("n")).unionAll(e0.select(col("y").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val okey = when(col("n") < (1L << 32),
        col("d") * lit(1L << 32) + col("n"))
      .otherwise(raise_error(concat(
        lit("node id overflows the orientation pack: "),
        col("n").cast("string"))))
    val keyed = deg.select(col("n"), okey.as("k"))
    val oriented = e0
      .join(keyed.select(col("n").as("x"), col("k").as("kx")), "x")
      .join(keyed.select(col("n").as("y"), col("k").as("ky")), "y")
      .select(
        when(col("kx") < col("ky"), col("kx")).otherwise(col("ky")).as("ks"),
        when(col("kx") < col("ky"), col("ky")).otherwise(col("kx")).as("kd"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wedges = oriented.as("w1").join(oriented.as("w2"),
        col("w1.ks") === col("w2.ks") && col("w1.kd") < col("w2.kd"))
      .select(col("w1.kd").as("ks"), col("w2.kd").as("kd"))
    val tri = wedges.join(oriented, Seq("ks", "kd"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val stats = e0.agg(count(lit(1)).as("n_edges")).crossJoin(broadcast(
      deg.agg(expr("sum(d * (d - 1) div 2)").as("n_wedges"))))
    val res = stats.crossJoin(broadcast(tri))
      .select(col("n_edges"), col("n_wedges"), col("n_triangles"),
        org.apache.spark.sql.functions
          .round(lit(3L) * col("n_triangles") / col("n_wedges"), 6)
          .as("clustering_coeff"))
    Q.materialized(res, oriented, e0)
  }

  val g62Triangles: Q = Q(
    "g62_triangles",
    (s, dir) => {
      val lp = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
        .distinct()
      val e0 = lp.as("a").join(lp.as("b"),
          col("a.ok") === col("b.ok") && col("a.p") < col("b.p"))
        .groupBy(col("a.p").as("x"), col("b.p").as("y"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 2)
        .select(col("x"), col("y"))
      triangleStats(e0)
    },
    Some(s"""
      WITH lp AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
      e0 AS (
        SELECT a.p AS x, b.p AS y
        FROM lp a JOIN lp b ON a.ok = b.ok AND a.p < b.p
        GROUP BY 1, 2 HAVING count(*) >= 2),
      deg AS (
        SELECT n, count(*) AS d FROM (
          SELECT x AS n FROM e0 UNION ALL SELECT y FROM e0) t GROUP BY n),
      keyed AS (SELECT n, d * ${1L << 32} + n AS k FROM deg),
      oriented AS (
        SELECT CASE WHEN kx.k < ky.k THEN kx.k ELSE ky.k END AS ks,
               CASE WHEN kx.k < ky.k THEN ky.k ELSE kx.k END AS kd
        FROM e0 JOIN keyed kx ON e0.x = kx.n JOIN keyed ky ON e0.y = ky.n),
      tri AS (
        SELECT count(*) AS n_triangles FROM (
          SELECT w1.kd AS ks, w2.kd AS kd
          FROM oriented w1 JOIN oriented w2
            ON w1.ks = w2.ks AND w1.kd < w2.kd) w
        WHERE EXISTS (
          SELECT 1 FROM oriented o WHERE o.ks = w.ks AND o.kd = w.kd))
      SELECT (SELECT count(*) FROM e0) AS n_edges,
        (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
        n_triangles,
        round(3 * n_triangles /
          (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) FROM deg), 6)
          AS clustering_coeff
      FROM tri"""))
}
