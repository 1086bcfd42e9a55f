package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.load

/** Graph analytics over the co-purchase graph (parts co-ordered in
  * one order = an edge) — the join-intensive workload family, done
  * with the standard scale trick: DEGREE ORIENTATION. Orient every
  * edge from its (degree, id)-smaller endpoint; each triangle then
  * has exactly one pivot with two out-edges, so enumeration is
  * out-wedges ⋈ closing-edge — and a vertex's out-degree is bounded
  * by ~√(2·|E|) whatever its real degree, which caps the wedge
  * fan-out a hub vertex can produce (the unoriented wedge join
  * explodes quadratically on hubs; the oriented one cannot).
  * Everything is equi-joins on vertex/edge keys — co-partitionable,
  * no cartesian anywhere.
  */
object Graph {

  /** Distinct co-purchase pairs as BIT-PACKED canonical keys
    * ((p1<<32)|p2, p1<p2) — the edge list every query in this family
    * starts from. Built with one shuffle on the order key: rows
    * hash-repartition by order and sort by (o, p) within partitions,
    * then a streaming run-walk generates each order's pairs with NO
    * per-group array aggregation (measured ~30% faster than the
    * groupBy+collect_set formulation it replaced — no collect_set
    * buffers, no encoder round-trip for the array column; equality
    * spec-pinned). The distinct on the packed key is the second and
    * final shuffle. Packed longs keep every downstream hash a fast
    * single-long hash.
    */
  /** Shared run-walk pair fan-out: for (group, member) rows already
    * hash-partitioned on group and sorted by (group, member), emit
    * every within-group member pair as a packed long (a<<32|b, a<b) —
    * streaming, with NO per-group array aggregation (no collect_set
    * buffers, no encoder round-trip). Adjacent duplicates (a sorted
    * group with repeated members) collapse in the walk.
    */
  /** Per-group member runs from (group, member) rows already
    * hash-partitioned on group and sorted by (group, member):
    * contiguous, member-sorted, adjacent duplicates collapsed.
    */
  private def memberRuns(it: Iterator[(Long, Long)]): Iterator[Array[Long]] =
    new Iterator[Array[Long]] {
      private var carry: (Long, Long) = if (it.hasNext) it.next() else null
      def hasNext: Boolean = carry != null
      def next(): Array[Long] = {
        val g = carry._1
        val buf = scala.collection.mutable.ArrayBuffer[Long](carry._2)
        carry = null
        while (it.hasNext && carry == null) {
          val e = it.next()
          if (e._1 == g) { if (buf.last != e._2) buf += e._2 }
          else carry = e
        }
        buf.toArray
      }
    }

  private def packedPairFanout(
      sorted: org.apache.spark.sql.Dataset[(Long, Long)]): org.apache.spark.sql.Dataset[Long] = {
    import sorted.sparkSession.implicits._
    sorted.mapPartitions { it =>
      memberRuns(it).flatMap { s =>
        if (s.length < 2) Iterator.empty
        else for (i <- s.indices.iterator; j <- (i + 1 until s.length).iterator)
          yield (s(i) << 32) | s(j)
      }
    }
  }

  /** Session-scoped memo of the edge list, one entry per (Spark app,
    * data dir). Six queries in this family (q81/q87/q107/q124/q131/
    * q173) start from the same ~2.4 M-row packed-pair table; at 100 TB
    * that build is two fact shuffles you want to pay ONCE per session
    * — the "shuffle facts once at load" story (same rationale as
    * q66's bucketed load). The persist is deliberately NOT registered
    * with [[graft.Caches]]: releaseAll between queries must not evict
    * a table whose whole point is cross-query reuse.
    */
  private val edgeMemo =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** Memoize a persisted frame WITHOUT running the build inside the
    * ConcurrentHashMap bin lock (computeIfAbsent would hold it across
    * a full Spark job — any same-bucket memo access from another
    * thread blocks for the build's duration). Lost races unpersist
    * their redundant copy and adopt the winner's.
    */
  private def memoized(key: String)(build: => DataFrame): DataFrame = {
    val hit = edgeMemo.get(key)
    if (hit != null) return hit
    val df = build
    val prev = edgeMemo.putIfAbsent(key, df)
    if (prev != null) { df.unpersist(blocking = false); prev } else df
  }

  /** Unpersist and drop every memoized edge layout belonging to this
    * session's app, so long-lived sessions sweeping many data dirs —
    * and test harnesses cycling SparkSessions — don't accumulate
    * persisted storage with no eviction path. Deliberately a separate
    * hook from [[graft.Caches.releaseAll]] (which must NOT evict the
    * memo between queries): call it at session teardown.
    */
  def releaseEdgeMemo(spark: SparkSession): Unit = {
    val prefix = spark.sparkContext.applicationId + ":"
    val it = edgeMemo.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey.startsWith(prefix)) {
        e.getValue.unpersist(blocking = false)
        it.remove()
      }
    }
  }

  private[queries] def copurchasePackedPairs(spark: SparkSession, dir: String): DataFrame =
    memoized(s"${spark.sparkContext.applicationId}:$dir") {
      val df = buildCopurchasePackedPairs(spark, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count() // materialize: the build is load cost, not query cost
      df
    }

  /** Both-direction adjacency (u, v) derived from the packed pairs —
    * the second shared layout of the loaded graph: q87 aggregates
    * contributions on v (hence the one-time repartition on v, reused
    * by every PageRank iteration), q107 probes it by frontier, q131
    * fans anchors out over it. Memoized and persisted alongside the
    * packed list for the same once-per-session reason.
    */
  private[queries] def copurchaseDirectedEdges(spark: SparkSession, dir: String): DataFrame = {
    val packed = copurchasePackedPairs(spark, dir)
    memoized(s"${spark.sparkContext.applicationId}:$dir:directed") {
      import spark.implicits._
      val df = packed
        .select(explode(array(
            struct(shiftright($"pk", 32).as("u"),
              $"pk".bitwiseAND(lit(0xffffffffL)).as("v")),
            struct($"pk".bitwiseAND(lit(0xffffffffL)).as("u"),
              shiftright($"pk", 32).as("v")))).as("e"))
        .select($"e.u", $"e.v")
        .repartition($"v")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count()
      df
    }
  }

  private def buildCopurchasePackedPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    packedPairFanout(
      load(spark, dir, "lineitem")
        .select($"l_orderkey".as("o"), $"l_partkey".cast("long").as("p"))
        .repartition($"o").sortWithinPartitions($"o", $"p")
        .as[(Long, Long)])
      .toDF("pk").distinct()
  }

  def q81_triangles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = copurchasePackedPairs(spark, dir) // session-memoized & persisted

    // degree table: |V| rows — ALWAYS tiny next to |E|; broadcast it
    // so orientation never shuffles the edge list
    val deg = edges
      .select(explode(array(shiftright($"pk", 32),
        $"pk".bitwiseAND(lit(0xffffffffL)))).as("p"))
      .groupBy($"p").agg(count(lit(1)).as("d"))
    val nVertices = deg.count()
    val nEdges = edges.count()

    // orient u→v iff (deg(u), u) < (deg(v), v): each triangle then
    // has exactly ONE pivot with two out-edges, and out-degree is
    // bounded by ~√(2|E|) however hubby the vertex — the cap that
    // keeps the wedge fan-out polynomial on skewed graphs
    val oriented = graft.Caches.tracked(edges
      .select(shiftright($"pk", 32).as("p1"),
        $"pk".bitwiseAND(lit(0xffffffffL)).as("p2"))
      .join(broadcast(deg.select($"p".as("p1"), $"d".as("d1"))), "p1")
      .join(broadcast(deg.select($"p".as("p2"), $"d".as("d2"))), "p2")
      .select(
        when($"d1" < $"d2" || ($"d1" === $"d2" && $"p1" < $"p2"), $"p1")
          .otherwise($"p2").as("u"),
        when($"d1" < $"d2" || ($"d1" === $"d2" && $"p1" < $"p2"), $"p2")
          .otherwise($"p1").as("v")))

    // wedge at the pivot: two out-neighbors, canonical v1 < v2; the
    // closing edge is exactly the canonical packed pair. The wedge
    // stream is the big intermediate (Σ outdeg² — two orders past
    // |E| on a dense graph); it must NEVER hit an exchange: the
    // self-join shuffles only the |E|-sized oriented list on u, and
    // the closing check probes a BROADCAST long-keyed edge set, so
    // wedges flow map-side straight into the partial count. (Past
    // broadcast reach: shuffle semi-join on pk, same plan minus the
    // hint.)
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        $"e1.u" === $"e2.u" && $"e1.v" < $"e2.v")
      .select(shiftleft($"e1.v", 32).bitwiseOR($"e2.v").as("pk"))
    val nTri = wedges.join(broadcast(edges), Seq("pk"), "left_semi").count()

    Seq((nVertices, nEdges, nTri)).toDF("n_vertices", "n_edges", "n_triangles")
  }

  /** q87 — PageRank (3 synchronous iterations, d = 0.85) over the
    * undirected co-purchase graph. Per iteration exactly ONE shuffle:
    * the contribution aggregate on the destination key. The rank and
    * degree vectors are |V|-sized — orders of magnitude under |E| —
    * so both join map-side via broadcast; the |E|-sized edge list is
    * built once (the shared run-walk builder, no self-join) and
    * persisted across iterations. No dangling mass: every vertex of a
    * co-purchase graph has degree ≥ 1 by construction. On a cluster
    * past broadcast reach the same plan runs with the edge list
    * hash-partitioned on u and the rank vector co-partitioned — the
    * shuffle count per iteration is unchanged.
    */
  def q87_pagerank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // session-memoized directed adjacency, pre-partitioned on the
    // destination key: the broadcast join is narrow, so every
    // iteration's groupBy(v) reuses that partitioning — 3 aggregate
    // exchanges become 0
    val edges = copurchaseDirectedEdges(spark, dir)
    val deg = graft.Caches.tracked(
      edges.groupBy($"u").agg(count(lit(1)).as("d")))
    val n = deg.count().toDouble

    // each iteration broadcasts ONE pre-divided |V|-vector (pr/deg),
    // so the |E|-sized edge list sees a single map-side join before
    // the destination-key aggregate — the iteration's only shuffle
    var pr = deg.select($"u", lit(1.0 / n).as("pr"))
    for (_ <- 1 to 3) {
      val contrib = pr.join(deg, "u").select($"u", ($"pr" / $"d").as("w"))
      // persist each iterate: the broadcast exchange materializes its
      // input EAGERLY per consumer, so an unpersisted pr re-runs every
      // earlier iteration's aggregate once per remaining iteration
      pr = graft.Caches.tracked(edges
        .join(broadcast(contrib), "u")
        .groupBy($"v")
        .agg(sum($"w").as("m"))
        .select($"v".as("u"), (lit(0.15 / n) + lit(0.85) * $"m").as("pr")))
    }
    pr.select($"u".as("part"), round($"pr" * 1e8).cast("long").as("pr_e8"))
      .orderBy($"part")
  }

  /** q99 — market-basket association rules: support, confidence and
    * lift for co-purchased part pairs (min support 3), top-20 by
    * lift. Pair counts come from the same group-wise fan-out as q81
    * (one shuffle on the basket key, never a fact self-join); the
    * per-part counts are a |P|-sized vector joined back broadcast;
    * the only scalar on the driver is the basket count. Lift keeps a
    * fixed float expression tree (1e6 · n_ab · N, then one divide) so
    * both engines round identically.
    */
  def q99_market_basket(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = graft.Caches.tracked(load(spark, dir, "lineitem")
      .select($"l_orderkey".as("o"), $"l_partkey".cast("long").as("p"))
      .distinct())
    val nBaskets = li.select($"o").distinct().count().toDouble
    val partCounts = li.groupBy($"p").agg(count(lit(1)).as("n_p"))
    // same streaming run-walk as the edge builder (measured ~30%
    // faster than collect_set: no array buffers, no encoder
    // round-trip), aggregated to pair COUNTS instead of distinct
    val ab = packedPairFanout(
        li.repartition($"o").sortWithinPartitions($"o", $"p")
          .as[(Long, Long)])
      .toDF("pk")
      .groupBy($"pk").agg(count(lit(1)).as("n_ab"))
      .filter($"n_ab" >= 3)
      .select(shiftright($"pk", 32).as("pa"),
        $"pk".bitwiseAND(lit(0xffffffffL)).as("pb"), $"n_ab")
    ab.join(broadcast(partCounts.select($"p".as("pa"), $"n_p".as("n_a"))), "pa")
      .join(broadcast(partCounts.select($"p".as("pb"), $"n_p".as("n_b"))), "pb")
      .select($"pa", $"pb", $"n_ab",
        round(lit(10000) * $"n_ab" / $"n_a").cast("long").as("conf_bp"),
        round(lit(1e6) * $"n_ab" * lit(nBaskets) / ($"n_a" * $"n_b"))
          .cast("long").as("lift_e6"))
      .orderBy($"lift_e6".desc, $"pa", $"pb").limit(20)
  }

  /** Frontiers larger than this run the hop join as a keyed shuffle
    * join instead of a broadcast — an unconditional broadcast of BFS
    * state is O(|V|) driver memory, which is an OOM (not a slowdown)
    * once the frontier saturates a 100 TB graph.
    */
  final val BfsBroadcastMaxRows = 4L << 20

  /** q107 — bounded-hop BFS: co-purchase distance from a seed part
    * (min part id, 3 hops) — the "blast radius" / related-items
    * traversal. FRONTIER-DELTA iteration: each hop equi-joins the |E|
    * edge list against only the nodes first reached on the PREVIOUS
    * hop (never the whole reached set — in a BFS every shortest path
    * extends a shortest path, so older nodes cannot discover anything
    * new), dedups the candidates, and anti-joins away already-seen
    * nodes. The anti-join side is the last TWO frontiers, not the
    * full reached set: on an undirected graph a neighbor of a
    * depth-(h−1) node sits at depth h−2, h−1 or h, so older frontiers
    * cannot appear among the candidates — BFS state is O(frontier),
    * never O(reached). Broadcasts are SIZE-GATED
    * ([[BfsBroadcastMaxRows]], on materialized delta counts): past
    * the gate a hop falls back to keyed shuffle joins, so no O(|V|)
    * structure ever lands on the driver. Output is the reach
    * histogram: parts first reached at each depth — exactly the
    * per-hop delta cardinality the driver already materializes to
    * steer the gate, so no depth column rides through the hop
    * pipelines (keeping every hop's plan IDENTICAL up to the probe:
    * one codegen compile serves all hops) and no final aggregate job
    * runs (same driver-assembled-scalars shape as q81).
    */
  def q107_bfs_hops(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = copurchaseDirectedEdges(spark, dir) // session-memoized
    val seedRow = edges.agg(min(least($"u", $"v"))).head()
    // an empty co-purchase graph has no BFS to run — return the empty
    // hop histogram instead of decoding NULL into a non-nullable Long
    // (degenerate-probe finding)
    if (seedRow.isNullAt(0))
      return Seq.empty[(Long, Long)].toDF("d", "n_parts")
    val seed = seedRow.getLong(0)
    var prev = spark.emptyDataset[Long].toDF("p")
    var curr = Seq(seed).toDF("p")
    var currRows = 1L
    var seenRows = 1L // |prev ∪ curr|
    val hist = scala.collection.mutable.ArrayBuffer((0L, 1L))
    // stop as soon as a frontier empties: further hops would schedule
    // full edge-scan jobs against an empty probe for identical output
    for (h <- 1 to 3 if currRows > 0) {
      def gated(df: DataFrame, rows: Long) =
        if (rows <= BfsBroadcastMaxRows) broadcast(df) else df
      val delta = graft.Caches.tracked(
        edges.join(gated(curr, currRows), $"u" === $"p")
          .select($"v".as("p")).distinct()
          .join(gated(prev.unionByName(curr).select($"p".as("seen")),
              seenRows),
            $"p" === $"seen", "left_anti"))
      val deltaRows = delta.count() // materializes the tracked cache
      if (deltaRows > 0) hist += ((h.toLong, deltaRows))
      seenRows = currRows + deltaRows
      prev = curr
      curr = delta
      currRows = deltaRows
    }
    hist.toSeq.toDF("d", "n_parts").orderBy($"d")
  }

  /** q121 — frequent 3-itemsets (Apriori's expensive level, done
    * directly): co-purchased part triples with support ≥ 2. The
    * candidate space never materializes — each basket fans out to its
    * own C(k,3) ≤ 35 triples (basket size is bounded), counts
    * partial-aggregate on the triple key, and the support filter
    * prunes before any output. The 100 TB lever is the same as q99's:
    * one shuffle on the basket key, one on the (bounded-support)
    * triple key.
    *
    * STRUCTURAL INVERSE SCALING of the organic corpus: with
    * TPC-H-shaped data the part catalog grows with SF while basket
    * size stays bounded, so the probability that two orders share
    * the same 3 parts falls ~cubically in |parts| — 12 organic
    * support-≥2 triples at sf0.01, zero at sf0.1/sf1.0, in BOTH
    * engines. A real retail corpus, unlike a key-uniform synthetic
    * one, keeps popular triples at every scale — so (round-19
    * directive #5, the q344 planting pattern) a deterministic
    * fixture basket set derived from the corpus itself rides along:
    * every [[PlantBasketMod]]-th distinct orderkey contributes one
    * planted basket (orderkey + [[PlantBasketOffset]]) holding the
    * same three planted parts, so the planted triple's support is
    * 15/148/1480 at sf0.01/0.1/1.0 and the support-count path is
    * hash-verified >0 rows at EVERY scale — the standing selfcheck
    * vacuity WARN this query used to carry is retired. Planted ids
    * sit at 2·10⁹, above every real order/part key at every scale.
    */
  final val PlantBasketMod = 1000L
  final val PlantBasketOffset = 2000000000L
  final val PlantPartBase = 2000000000L

  def q121_frequent_triples(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // same streaming run-walk as the pair builders (no collect_set
    // buffers, no encoder round-trip), fanned to sorted triples
    val organic = load(spark, dir, "lineitem")
      .select($"l_orderkey".as("o"), $"l_partkey".cast("long").as("p"))
    val planted = load(spark, dir, "lineitem")
      .select($"l_orderkey").distinct()
      .filter($"l_orderkey" % PlantBasketMod === 0)
      .select(($"l_orderkey" + PlantBasketOffset).as("o"),
        explode(array(lit(PlantPartBase + 1), lit(PlantPartBase + 2),
          lit(PlantPartBase + 3))).as("p"))
    organic.unionByName(planted)
      .repartition($"o").sortWithinPartitions($"o", $"p")
      .as[(Long, Long)]
      .mapPartitions { it =>
        memberRuns(it).flatMap { s =>
          if (s.length < 3) Iterator.empty
          else for {
            i <- s.indices.iterator
            j <- (i + 1 until s.length).iterator
            k <- (j + 1 until s.length).iterator
          } yield (s(i), s(j), s(k))
        }
      }
      .toDF("pa", "pb", "pc")
      .groupBy($"pa", $"pb", $"pc").agg(count(lit(1)).as("n"))
      .filter($"n" >= 2)
      .orderBy($"n".desc, $"pa", $"pb", $"pc")
  }

  /** q124 — degree distribution in log2 buckets: the one-glance
    * skew diagnostic that decides salting / orientation strategy for
    * every other query in this family. Bucket = floor(log2(degree)),
    * computed as bit length − 1 — integer-exact in both engines, no
    * float log. Two bounded aggregates past the edge list.
    */
  /** q173 — degree assortativity: do high-degree parts co-purchase
    * with other high-degree parts? Pearson r over (deg(u), deg(v))
    * for both orientations of every edge — the structural diagnostic
    * behind hub-and-spoke vs mesh topology calls (and the skew
    * forecast for q81's orientation trick). Plan: the |V|-row degree
    * table broadcasts, the edge list never shuffles, and r derives
    * from FIVE exact integer sums in one aggregate (q104's algebraic
    * form — engine corr() implementations differ in accumulation
    * order; the fixed tree over exact longs does not). Symmetry makes
    * Σx = Σy, so the tree needs only n, Σx, Σxy, Σx².
    */
  def q173_assortativity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = copurchasePackedPairs(spark, dir) // session-memoized & persisted
    val deg = edges
      .select(explode(array(shiftright($"pk", 32),
        $"pk".bitwiseAND(lit(0xffffffffL)))).as("p"))
      .groupBy($"p").agg(count(lit(1)).as("d"))
    val s = edges
      .select(shiftright($"pk", 32).as("u"),
        $"pk".bitwiseAND(lit(0xffffffffL)).as("v"))
      .join(broadcast(deg.select($"p".as("u"), $"d".as("x"))), "u")
      .join(broadcast(deg.select($"p".as("v"), $"d".as("y"))), "v")
      .agg((count(lit(1)) * 2).as("n"),
        sum($"x" + $"y").as("sx"),
        (sum($"x" * $"y") * 2).as("sxy"),
        sum($"x" * $"x" + $"y" * $"y").as("sxx"))
    s.select($"n".as("n_samples"),
      round(lit(1e6) * $"sx" / $"n").cast("long").as("mean_deg_micro"),
      round(lit(1e6)
        * ($"n".cast("double") * $"sxy" - $"sx".cast("double") * $"sx")
        / ($"n".cast("double") * $"sxx" - $"sx".cast("double") * $"sx"))
        .cast("long").as("assortativity_micro"))
  }

  def q124_degree_distribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = copurchasePackedPairs(spark, dir)
    val deg = edges
      .select(explode(array(shiftright($"pk", 32),
        $"pk".bitwiseAND(lit(0xffffffffL)))).as("p"))
      .groupBy($"p").agg(count(lit(1)).as("d"))
    deg.withColumn("bucket", (length(conv($"d", 10, 2)) - 1).cast("long"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_vertices"),
        min($"d").as("min_deg"), max($"d").as("max_deg"))
      .orderBy($"bucket")
  }

  /** q131 — anchored link prediction by common-neighbor Jaccard: for
    * each anchor part (a hash-strided query set, the q122 idiom),
    * rank the parts NOT yet co-purchased with it by neighborhood
    * overlap — the recommender candidate-generation query as it is
    * actually run at scale. The per-ANCHOR shape is the deliberate
    * scale choice: the full all-pairs similarity matrix is
    * output-bound (Σ C(deg,2) — 148M pairs at sf0.1, quadratically
    * worse at 100 TB) and DOA as a serving query; anchoring bounds
    * work to Σ_{w∈N(anchor)} deg(w) per anchor and composes back to
    * the full matrix by sweeping anchor strides if a batch job truly
    * needs it.
    *
    * Plan: anchor adjacency is tiny → broadcast; wedges
    * anchor—w—candidate enumerate via ONE map-side broadcast join
    * against the |E| list (the edge list never shuffles); the only
    * exchange is the (anchor, candidate) count aggregate, sized by
    * the candidate fan-out. Already-adjacent pairs drop via a
    * broadcast anti-probe on the canonical packed key; degrees join
    * back broadcast; the per-anchor top-5 is the row_number ≤ k
    * pattern RankLimitRewrite plans as bounded TopK heaps.
    */
  def q131_link_prediction(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val und = copurchasePackedPairs(spark, dir) // session-memoized
    val edges = copurchaseDirectedEdges(spark, dir) // session-memoized
    val deg = edges.groupBy($"u").agg(count(lit(1)).as("d"))
    val anch = edges.filter($"u" % 200 === 0)
      .select($"u".as("anchor"), $"v".as("w"))
    val cand = edges.join(broadcast(anch), $"u" === $"w")
      .filter($"v" =!= $"anchor")
      .groupBy($"anchor", $"v").agg(count(lit(1)).as("cn"))
      .filter($"cn" >= 2)
      .withColumn("pk",
        when($"anchor" < $"v", shiftleft($"anchor", 32).bitwiseOR($"v"))
          .otherwise(shiftleft($"v", 32).bitwiseOR($"anchor")))
      .join(broadcast(und), Seq("pk"), "left_anti")
    val ranked = cand
      .join(broadcast(deg.select($"u".as("anchor"), $"d".as("da"))), "anchor")
      .join(broadcast(deg.select($"u".as("v"), $"d".as("db"))), "v")
      .withColumn("jaccard_e6",
        round(lit(1e6) * $"cn" / ($"da" + $"db" - $"cn")).cast("long"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"anchor").orderBy($"jaccard_e6".desc, $"v")
    ranked.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 5)
      .select($"anchor", $"rank", $"v".as("candidate"), $"cn", $"jaccard_e6")
      .orderBy($"anchor", $"rank")
  }

  /** q251 — label-propagation communities (synchronous LPA, 3
    * rounds) over the SUPPORT-≥2 co-purchase backbone: one-off
    * co-purchases are noise edges that glue everything into one
    * blob (the raw graph collapses to 3 giant components under
    * LPA); requiring a pair in ≥2 distinct orders leaves the
    * modular structure the propagation is meant to find. The
    * backbone reuses q99's streaming run-walk + packed-pair count
    * (one shuffle on the order key, one on the packed key). Each
    * round is exactly TWO bounded exchanges: neighbor labels attach
    * map-side via a broadcast of the |V|-sized label vector (past
    * broadcast reach: co-partition the label vector with the edge
    * list on u — q87's documented fallback, same exchange count),
    * contributions aggregate on (v, label), and the winner is a
    * max_by on v — deterministic under ties via the (count, −label)
    * struct order, so both engines elect the same label with no RNG
    * anywhere. Output is the community-size census (bounded by the
    * size domain), not the |V|-row membership table.
    */
  /** Both-direction (u, v) edges of the SUPPORT-≥2 co-purchase
    * backbone (pairs co-ordered in ≥2 distinct orders): the noise
    * one-off co-purchases are stripped, leaving the modular structure
    * community/core analyses need. Shared by q251 (LPA) and q261
    * (k-core). One shuffle on the order key (q99's run-walk), one on
    * the packed pair key, partitioned on v for destination-keyed
    * aggregates.
    */
  private def supportBackboneEdges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // dropDuplicates AFTER the order-key repartition: hash-partitioning
    // on o clusters every (o, p) group, so the dedup aggregate reuses
    // that exchange instead of adding its own (o, p)-keyed one — the
    // same 600 k-row set reaches the run walk through ONE exchange
    // instead of two (round-19 optimization, guide §2.4; shared by
    // q251/q261/q334, verified identical output by their oracles).
    val li = load(spark, dir, "lineitem")
      .select($"l_orderkey".as("o"), $"l_partkey".cast("long").as("p"))
    val backbone = packedPairFanout(
        li.repartition($"o").dropDuplicates("o", "p")
          .sortWithinPartitions($"o", $"p")
          .as[(Long, Long)])
      .toDF("pk")
      .groupBy($"pk").agg(count(lit(1)).as("n_ab"))
      .filter($"n_ab" >= 2)
      .select(shiftright($"pk", 32).as("u"),
        $"pk".bitwiseAND(lit(0xffffffffL)).as("v"))
    backbone
      .select(explode(array(struct($"u", $"v"),
        struct($"v".as("u"), $"u".as("v")))).as("e"))
      .select($"e.u", $"e.v")
      .repartition($"v")
  }

  def q251_label_propagation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = graft.Caches.tracked(supportBackboneEdges(spark, dir))
    var labels = edges.select($"u".as("p")).distinct()
      .select($"p", $"p".as("lbl"))
    for (_ <- 1 to 3) {
      labels = edges
        .join(broadcast(labels.select($"p".as("u"), $"lbl")), "u")
        .groupBy($"v", $"lbl").agg(count(lit(1)).as("cnt"))
        .groupBy($"v")
        .agg(max_by($"lbl", struct($"cnt", -$"lbl")).as("lbl"))
        .select($"v".as("p"), $"lbl")
    }
    labels.groupBy($"lbl").agg(count(lit(1)).as("sz"))
      .groupBy($"sz").agg(count(lit(1)).as("n_communities"))
      .orderBy($"sz")
  }

  /** q261 — bounded k-core peeling (k = 3, 4 rounds) on the
    * support-≥2 co-purchase backbone: the density-core extraction
    * that separates the catalog's structural heart from its sparse
    * fringe (recommendation quality concentrates in the core). Each
    * round is one degree aggregate on the destination-partitioned
    * edge list plus two semi-join filters on the |V|-bounded survivor
    * set — the round count is FIXED (a full decomposition's data-
    * dependent iteration count cannot be promised at 100 TB; four
    * rounds with the round-by-round census lets the caller read
    * convergence directly: the core has stabilized iff the last two
    * rows are equal). Only bounded per-round scalars hit the driver.
    */
  def q261_kcore_peel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    var e = graft.Caches.tracked(supportBackboneEdges(spark, dir))
    val census = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    // Per-round census as ONE aggregate action (countDistinct + count
    // in the same job) — two separate actions here would double the
    // driver round-trips per round for the same scalars.
    def tally(round: Long): Unit = {
      val r = e.agg(countDistinct($"u").as("nv"), count(lit(1)).as("ne")).head()
      census += ((round, r.getLong(0), r.getLong(1) / 2))
    }
    tally(0L)
    for (r <- 1 to 4) {
      val keep = e.groupBy($"u").agg(count(lit(1)).as("deg"))
        .filter($"deg" >= 3).select($"u")
      e = graft.Caches.tracked(
        e.join(keep, Seq("u"), "left_semi")
          .join(keep.select($"u".as("v")), Seq("v"), "left_semi")
          .select($"u", $"v"))
      tally(r.toLong)
    }
    census.toSeq.toDF("round", "n_vertices", "n_edges")
  }

  /** q334 — Newman–Girvan modularity of the brand partition over the
    * support-≥2 co-purchase backbone: Q = Σ_c [e_c/m − (d_c/2m)²],
    * the "do co-purchases concentrate within brands" statistic — the
    * partition-quality readout that completes the community pair
    * (q251 finds communities, q334 scores a given partition; the
    * brand attribute is the natural fixed partition, so no iterative
    * label state enters the oracle). All counting runs on the
    * DIRECTED both-ways edge list D = 2m (no halving anywhere:
    * Q = Σ_c (D·intra_c − d_c²)/D²); the part→brand map is a
    * broadcast dim join, so the edge list never shuffles, and
    * everything after the two |brands|-bounded aggregates is
    * dimension-sized. The squares/cross-products are decimal(38,0)/
    * HUGEINT (d_c ≤ D, and D² clears int64 only to D≈3e9 — a real
    * 100 TB edge count), each output ONE micro-rounded division.
    * Per-brand rows carry their own contribution plus the global Q,
    * so a single anti-community brand is ITS row, not a diluted
    * average.
    */
  def q334_brand_modularity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pb = load(spark, dir, "part")
      .select($"p_partkey".cast("long").as("p"), $"p_brand".as("brand"))
    val eb = graft.Caches.tracked(supportBackboneEdges(spark, dir)
      .join(broadcast(pb.select($"p".as("u"), $"brand".as("bu"))), "u")
      .join(broadcast(pb.select($"p".as("v"), $"brand".as("bv"))), "v"))
    val deg = eb.groupBy($"bu".as("brand"))
      .agg(count(lit(1)).as("deg_sum"), countDistinct($"u").as("n_nodes"))
    val intra = eb.filter($"bu" === $"bv").groupBy($"bu".as("brand"))
      .agg(count(lit(1)).as("intra_dir"))
    val tot = eb.agg(count(lit(1)).as("dd"))
    val dec = "decimal(38,0)"
    val rows = graft.Caches.tracked(deg
      .join(intra, Seq("brand"), "left")
      .crossJoin(broadcast(tot))
      .select($"brand", $"n_nodes", $"deg_sum",
        coalesce($"intra_dir", lit(0L)).as("intra_dir"), $"dd"))
    val q = rows.agg(
        sum($"intra_dir").as("si"),
        sum($"deg_sum".cast(dec) * $"deg_sum".cast(dec)).as("sd2"),
        max($"dd").as("d"))
      .select(round(lit(1e6)
        * ($"d".cast(dec) * $"si".cast(dec) - $"sd2").cast("double")
        / ($"d".cast(dec) * $"d".cast(dec)).cast("double"))
        .cast("long").as("q_micro"))
    rows.crossJoin(broadcast(q))
      .select($"brand", $"n_nodes", $"deg_sum", $"intra_dir",
        round(lit(1e6)
          * ($"dd".cast(dec) * $"intra_dir".cast(dec)
            - $"deg_sum".cast(dec) * $"deg_sum".cast(dec)).cast("double")
          / ($"dd".cast(dec) * $"dd".cast(dec)).cast("double"))
          .cast("long").as("contrib_micro"),
        $"q_micro")
      .orderBy($"brand")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q334_brand_modularity" -> q334_brand_modularity,
    "q261_kcore_peel" -> q261_kcore_peel,
    "q251_label_propagation" -> q251_label_propagation,
    "q131_link_prediction" -> q131_link_prediction,
    "q124_degree_distribution" -> q124_degree_distribution,
    "q173_assortativity" -> q173_assortativity,
    "q121_frequent_triples" -> q121_frequent_triples,
    "q81_triangles" -> q81_triangles,
    "q87_pagerank" -> q87_pagerank,
    "q99_market_basket" -> q99_market_basket,
    "q107_bfs_hops" -> q107_bfs_hops)

  val oracle: Map[String, String] = Map(
    "q334_brand_modularity" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |e0 AS (SELECT a.p AS u, b.p AS v
        |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |e AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
        |pb AS (SELECT p_partkey AS p, p_brand AS brand FROM part),
        |eb AS MATERIALIZED (SELECT e.u, e.v, bu.brand AS bu, bv.brand AS bv
        |  FROM e JOIN pb bu ON bu.p = e.u JOIN pb bv ON bv.p = e.v),
        |deg AS (SELECT bu AS brand, CAST(COUNT(*) AS BIGINT) AS deg_sum,
        |    CAST(COUNT(DISTINCT u) AS BIGINT) AS n_nodes FROM eb GROUP BY 1),
        |intra AS (SELECT bu AS brand, CAST(COUNT(*) AS BIGINT) AS intra_dir
        |  FROM eb WHERE bu = bv GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS dd FROM eb),
        |r AS MATERIALIZED (SELECT deg.brand, n_nodes, deg_sum,
        |    COALESCE(intra_dir, 0) AS intra_dir, dd
        |  FROM deg LEFT JOIN intra ON intra.brand = deg.brand CROSS JOIN tot),
        |q AS (SELECT CAST(ROUND(1e6
        |    * CAST(CAST(MAX(dd) AS HUGEINT) * SUM(intra_dir)
        |      - SUM(CAST(deg_sum AS HUGEINT) * deg_sum) AS DOUBLE)
        |    / CAST(CAST(MAX(dd) AS HUGEINT) * MAX(dd) AS DOUBLE)) AS BIGINT)
        |    AS q_micro FROM r)
        |SELECT brand, n_nodes, deg_sum, intra_dir,
        |  CAST(ROUND(1e6
        |    * CAST(CAST(dd AS HUGEINT) * intra_dir
        |      - CAST(deg_sum AS HUGEINT) * deg_sum AS DOUBLE)
        |    / CAST(CAST(dd AS HUGEINT) * dd AS DOUBLE)) AS BIGINT)
        |    AS contrib_micro,
        |  q.q_micro
        |FROM r, q ORDER BY brand""".stripMargin,
    "q261_kcore_peel" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |e0 AS (SELECT a.p AS u, b.p AS v
        |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |e AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
        |d1 AS (SELECT u FROM e GROUP BY u HAVING COUNT(*) >= 3),
        |e1 AS MATERIALIZED (SELECT e.u, e.v FROM e
        |  JOIN d1 a ON e.u = a.u JOIN d1 b ON e.v = b.u),
        |d2 AS (SELECT u FROM e1 GROUP BY u HAVING COUNT(*) >= 3),
        |e2 AS MATERIALIZED (SELECT e1.u, e1.v FROM e1
        |  JOIN d2 a ON e1.u = a.u JOIN d2 b ON e1.v = b.u),
        |d3 AS (SELECT u FROM e2 GROUP BY u HAVING COUNT(*) >= 3),
        |e3 AS MATERIALIZED (SELECT e2.u, e2.v FROM e2
        |  JOIN d3 a ON e2.u = a.u JOIN d3 b ON e2.v = b.u),
        |d4 AS (SELECT u FROM e3 GROUP BY u HAVING COUNT(*) >= 3),
        |e4 AS MATERIALIZED (SELECT e3.u, e3.v FROM e3
        |  JOIN d4 a ON e3.u = a.u JOIN d4 b ON e3.v = b.u)
        |SELECT CAST(0 AS BIGINT) AS round,
        |  CAST((SELECT COUNT(DISTINCT u) FROM e) AS BIGINT) AS n_vertices,
        |  CAST((SELECT COUNT(*) FROM e) // 2 AS BIGINT) AS n_edges
        |UNION ALL SELECT 1, (SELECT COUNT(DISTINCT u) FROM e1),
        |  (SELECT COUNT(*) FROM e1) // 2
        |UNION ALL SELECT 2, (SELECT COUNT(DISTINCT u) FROM e2),
        |  (SELECT COUNT(*) FROM e2) // 2
        |UNION ALL SELECT 3, (SELECT COUNT(DISTINCT u) FROM e3),
        |  (SELECT COUNT(*) FROM e3) // 2
        |UNION ALL SELECT 4, (SELECT COUNT(DISTINCT u) FROM e4),
        |  (SELECT COUNT(*) FROM e4) // 2
        |ORDER BY 1""".stripMargin,
    "q251_label_propagation" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |e0 AS (SELECT a.p AS u, b.p AS v
        |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |e AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
        |l0 AS (SELECT DISTINCT u AS p, u AS lbl FROM e),
        |c1 AS (SELECT e.v, l.lbl, COUNT(*) AS cnt
        |  FROM e JOIN l0 l ON e.u = l.p GROUP BY 1, 2),
        |l1 AS (SELECT v AS p, lbl FROM (SELECT v, lbl, ROW_NUMBER()
        |    OVER (PARTITION BY v ORDER BY cnt DESC, lbl) AS rn FROM c1)
        |  WHERE rn = 1),
        |c2 AS (SELECT e.v, l.lbl, COUNT(*) AS cnt
        |  FROM e JOIN l1 l ON e.u = l.p GROUP BY 1, 2),
        |l2 AS (SELECT v AS p, lbl FROM (SELECT v, lbl, ROW_NUMBER()
        |    OVER (PARTITION BY v ORDER BY cnt DESC, lbl) AS rn FROM c2)
        |  WHERE rn = 1),
        |c3 AS (SELECT e.v, l.lbl, COUNT(*) AS cnt
        |  FROM e JOIN l2 l ON e.u = l.p GROUP BY 1, 2),
        |l3 AS (SELECT v AS p, lbl FROM (SELECT v, lbl, ROW_NUMBER()
        |    OVER (PARTITION BY v ORDER BY cnt DESC, lbl) AS rn FROM c3)
        |  WHERE rn = 1)
        |SELECT sz, CAST(COUNT(*) AS BIGINT) AS n_communities FROM (
        |  SELECT lbl, CAST(COUNT(*) AS BIGINT) AS sz FROM l3 GROUP BY 1)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q173_assortativity" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |e AS (SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
        |deg AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS d FROM (
        |    SELECT u AS p FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
        |j AS (SELECT d1.d AS x, d2.d AS y
        |  FROM e JOIN deg d1 ON e.u = d1.p JOIN deg d2 ON e.v = d2.p),
        |s AS (SELECT CAST(2 * COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x + y) AS BIGINT) AS sx,
        |    CAST(2 * SUM(x * y) AS BIGINT) AS sxy,
        |    CAST(SUM(x * x + y * y) AS BIGINT) AS sxx
        |  FROM j)
        |SELECT n AS n_samples,
        |  CAST(ROUND(1e6 * sx / n) AS BIGINT) AS mean_deg_micro,
        |  CAST(ROUND(1e6
        |    * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sx)
        |    / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))
        |    AS BIGINT) AS assortativity_micro
        |FROM s""".stripMargin,
    "q131_link_prediction" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (SELECT DISTINCT a.p AS u, b.p AS v
        |      FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
        |ed AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
        |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM ed GROUP BY 1),
        |anch AS (SELECT u AS anchor, v AS w FROM ed WHERE u % 200 = 0),
        |cand AS (SELECT a.anchor, ed.v, CAST(COUNT(*) AS BIGINT) AS cn
        |         FROM ed JOIN anch a ON ed.u = a.w
        |         WHERE ed.v <> a.anchor
        |         GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |nonadj AS (SELECT c.* FROM cand c
        |           LEFT JOIN e ON e.u = LEAST(c.anchor, c.v)
        |                      AND e.v = GREATEST(c.anchor, c.v)
        |           WHERE e.u IS NULL),
        |j AS (SELECT anchor, nonadj.v AS candidate, cn,
        |        CAST(ROUND(1e6 * cn / (da.d + db.d - cn)) AS BIGINT) AS jaccard_e6
        |      FROM nonadj JOIN deg da ON anchor = da.u
        |                  JOIN deg db ON nonadj.v = db.u),
        |r AS (SELECT *, ROW_NUMBER() OVER
        |        (PARTITION BY anchor ORDER BY jaccard_e6 DESC, candidate) AS rank
        |      FROM j)
        |SELECT anchor, CAST(rank AS BIGINT) AS rank, candidate, cn, jaccard_e6
        |FROM r WHERE rank <= 5 ORDER BY anchor, rank""".stripMargin,
    "q124_degree_distribution" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (SELECT a.p AS u, b.p AS v FROM li a
        |      JOIN li b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
        |deg AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS d FROM (
        |    SELECT u AS p FROM e UNION ALL SELECT v FROM e) GROUP BY 1)
        |SELECT CAST(length(printf('%b', d)) - 1 AS BIGINT) AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_vertices,
        |  CAST(MIN(d) AS BIGINT) AS min_deg, CAST(MAX(d) AS BIGINT) AS max_deg
        |FROM deg GROUP BY 1 ORDER BY 1""".stripMargin,
    "q121_frequent_triples" ->
      s"""WITH org AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |pl AS (SELECT o + $PlantBasketOffset AS o,
        |    unnest([$PlantPartBase + 1, $PlantPartBase + 2, $PlantPartBase + 3]) AS p
        |  FROM (SELECT DISTINCT l_orderkey AS o FROM lineitem
        |        WHERE l_orderkey % $PlantBasketMod = 0)),
        |li AS MATERIALIZED (SELECT o, p FROM org UNION ALL SELECT o, p FROM pl),
        |pr AS MATERIALIZED (SELECT a.o, a.p AS pa, b.p AS pb
        |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p)
        |SELECT pr.pa, pr.pb, c.p AS pc, CAST(COUNT(*) AS BIGINT) AS n
        |FROM pr JOIN li c ON pr.o = c.o AND pr.pb < c.p
        |GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2
        |ORDER BY n DESC, pa, pb, pc""".stripMargin,
    "q107_bfs_hops" ->
      """WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (SELECT a.p AS u, b.p AS v FROM li a
        |      JOIN li b ON a.o = b.o AND a.p <> b.p GROUP BY 1, 2),
        |seed AS (SELECT MIN(LEAST(u, v)) AS s FROM e),
        |reach(p, d) AS (
        |  SELECT s, 0 FROM seed
        |  UNION ALL
        |  SELECT e.v, r.d + 1 FROM reach r JOIN e ON e.u = r.p WHERE r.d < 3),
        |m AS (SELECT p, MIN(d) AS d FROM reach GROUP BY 1)
        |SELECT CAST(d AS BIGINT) AS d, CAST(COUNT(*) AS BIGINT) AS n_parts
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    "q99_market_basket" ->
      // li/ab MATERIALIZED: li feeds three consumers (n, pc, both
      // join sides of ab) — unmaterialized, DuckDB re-inlines the
      // DISTINCT scan per reference and the replay exceeded a 300 s
      // budget at sf1.0; materialized it runs in ~3 s (the q320
      // exponential-inlining lesson). Result set identical.
      """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |n AS (SELECT COUNT(DISTINCT o) AS c FROM li),
        |pc AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS n_p FROM li GROUP BY 1),
        |ab AS MATERIALIZED (SELECT a.p AS pa, b.p AS pb, CAST(COUNT(*) AS BIGINT) AS n_ab
        |       FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        |       GROUP BY 1, 2 HAVING COUNT(*) >= 3)
        |SELECT pa, pb, n_ab,
        |  CAST(ROUND(10000 * n_ab / na.n_p) AS BIGINT) AS conf_bp,
        |  CAST(ROUND(1e6 * n_ab * CAST((SELECT c FROM n) AS DOUBLE)
        |    / (na.n_p * nb.n_p)) AS BIGINT) AS lift_e6
        |FROM ab JOIN pc na ON ab.pa = na.p JOIN pc nb ON ab.pb = nb.p
        |ORDER BY lift_e6 DESC, pa, pb LIMIT 20""".stripMargin,
    "q87_pagerank" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (SELECT a.p AS u, b.p AS v FROM li a
        |      JOIN li b ON a.o = b.o AND a.p <> b.p GROUP BY 1, 2),
        |deg AS (SELECT u, COUNT(*) AS d FROM e GROUP BY 1),
        |n AS (SELECT COUNT(*) AS c FROM deg),
        |p0 AS (SELECT u, 1.0 / (SELECT c FROM n) AS pr FROM deg),
        |p1 AS (SELECT e.v AS u, 0.15 / (SELECT c FROM n)
        |         + 0.85 * SUM(p0.pr / deg.d) AS pr
        |       FROM e JOIN p0 ON e.u = p0.u JOIN deg ON e.u = deg.u GROUP BY e.v),
        |p2 AS (SELECT e.v AS u, 0.15 / (SELECT c FROM n)
        |         + 0.85 * SUM(p1.pr / deg.d) AS pr
        |       FROM e JOIN p1 ON e.u = p1.u JOIN deg ON e.u = deg.u GROUP BY e.v),
        |p3 AS (SELECT e.v AS u, 0.15 / (SELECT c FROM n)
        |         + 0.85 * SUM(p2.pr / deg.d) AS pr
        |       FROM e JOIN p2 ON e.u = p2.u JOIN deg ON e.u = deg.u GROUP BY e.v)
        |SELECT u AS part, CAST(ROUND(pr * 1e8) AS BIGINT) AS pr_e8
        |FROM p3 ORDER BY part""".stripMargin,
    "q81_triangles" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (SELECT DISTINCT a.p AS p1, b.p AS p2
        |      FROM li a JOIN li b ON a.o = b.o AND a.p < b.p)
        |SELECT
        |  CAST((SELECT COUNT(*) FROM (SELECT p1 AS p FROM e
        |        UNION SELECT p2 FROM e)) AS BIGINT) AS n_vertices,
        |  CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
        |  CAST((SELECT COUNT(*) FROM e e1
        |        JOIN e e2 ON e1.p2 = e2.p1
        |        JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2) AS BIGINT) AS n_triangles""".stripMargin)
}
