package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Link-graph authority scoring: fixed-point integer PageRank over an
  * edge list — the host/document authority signal real web-curation
  * pipelines feed into quality filtering (CommonCrawl publishes
  * exactly this ranking over its host graph), and the one classic
  * iterative-numeric workload the engine lacked next to its iterative
  * min-label components ([[DedupCluster]]).
  *
  * Arithmetic is exact integer fixed point, like every scored surface
  * in this repo ([[Dsir]], [[graft.plans.Log2Fp]]): ranks live in
  * units of `1/scale`, each node's out-contribution is `rank DIV
  * outdeg`, damping is `(dampNum/dampDen)` applied as integer
  * multiply-then-DIV, and dangling mass redistributes as `DIV n`.
  * Long sums are order-free, so the result is bit-stable under any
  * partitioning and reproducible verbatim by a DuckDB oracle — no
  * float power iteration to drift in the last ulp.
  *
  * Scale shape (the reason this is an operator and not a loop in a
  * notebook): edges are deduped, hash-partitioned on `src` ONCE,
  * stamped with their source's out-degree, and persisted (out-degree
  * persists separately for the dangling anti-join) — each of the
  * `iters` rounds then joins the node-sized rank table onto the
  * stationary deg-stamped edge partitions (the rank side shuffles, the
  * 100 TB edge side does not — and is never re-aggregated: before r15
  * every round re-derived outdeg twice) and pays exactly one
  * edge-sized shuffle, the `GROUP BY dst`. Ranks are
  * locally-checkpointed per round so lineage stays one round deep
  * (the rank frame feeds three places per round — contribs, the
  * dangling aggregate, and the next rank join — so an unbroken plan
  * would grow 3^iters). The dangling term rides as a broadcast 1-row
  * cross join, never a driver collect, and `n` (node count) is the
  * one scalar materialized up front — it also materializes the edge
  * persist.
  */
object LinkGraph {

  /** PageRank after exactly `iters` synchronous rounds (fixed
    * iteration count, not convergence-tested: a deterministic oracle
    * needs a deterministic round count, and at damping 0.85 the
    * ranking order is stable well before 5 rounds on web-shaped
    * graphs).
    *
    * Node set = every id appearing as `src` or `dst` (isolated nodes
    * never enter; callers wanting them union zero-degree ids into the
    * edge list as self-loops first). Initial rank is `scale` per node
    * (uniform, total mass `n·scale`); per round
    * `r'(v) = ((dampDen−dampNum)·scale) DIV dampDen
    *        + (dampNum·(Σ_{u→v} r(u) DIV outdeg(u) + D DIV n)) DIV dampDen`
    * where `D` is the summed rank of dangling nodes (no out-edges).
    * Truncating DIV leaks a few units of mass per round — fine: the
    * output is an authority RANKING in fixed units, not a probability
    * that must sum to one.
    *
    * Returns `(node, rank_fp)`, one row per node.
    */
  def pageRank(edgesIn: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 5, dampNum: Long = 85L, dampDen: Long = 100L,
      scale: Long = 1L << 20): DataFrame =
    run(edgesIn, srcCol, dstCol, None, None, iters, dampNum, dampDen, scale)

  /** Personalized PageRank: teleport (and dangling) mass flows ONLY to
    * `seeds` — ranks become link proximity to a trusted set, the
    * seed-expansion signal curation pipelines use to grow a quality
    * domain list from a hand-audited one (and, symmetrically, to grow
    * a spam list from known spam). Seeds outside the graph's node set
    * are ignored; at least one must remain.
    *
    * The recurrence generalizes [[pageRank]] exactly: initial rank is
    * `(scale·n) DIV m` on each of the `m` seeds (total mass `≈n·scale`,
    * same as uniform), zero elsewhere; per round the teleport term
    * `((dampDen−dampNum)·scale·n) DIV (dampDen·m)` and the dangling
    * share `D DIV m` land on seeds only. With seeds = all nodes every
    * quotient collapses to the uniform one (`⌊a·n/(b·n)⌋ = ⌊a/b⌋`), so
    * [[pageRank]] IS this operator with a full seed set — one
    * arithmetic, two query surfaces (q158 pins uniform, q160 pins
    * seeded, both against unrolled-CTE oracles).
    */
  def personalizedPageRank(edgesIn: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String,
      iters: Int = 5, dampNum: Long = 85L, dampDen: Long = 100L,
      scale: Long = 1L << 20): DataFrame =
    run(edgesIn, srcCol, dstCol, Some(seeds.select(col(seedCol))), None,
      iters, dampNum, dampDen, scale)

  /** Warm-start PageRank: resume iteration from a previous run's
    * `(node, rank_fp)` table instead of uniform mass — the incremental
    * twin for an EVOLVING link graph. The damped iteration is a
    * contraction toward a unique fixed point regardless of init, so
    * yesterday's converged ranks are a valid (and near-converged)
    * starting vector for today's slightly-changed graph: a daily
    * re-rank pays 1-2 rounds instead of the full cold count. Nodes
    * new to the graph (absent from `prevRanks`) start at the uniform
    * `scale`; departed nodes' rows are simply ignored. The warm
    * result is an APPROXIMATION of the cold fixed point that tightens
    * with rounds — LinkGraphSpec pins the contract (one warm round
    * from converged ranks moves ≈nothing; one cold round is far),
    * which is why this surface is spec-covered rather than
    * hash-oracle'd: equality with a cold run is not the claim.
    */
  def pageRankFrom(edgesIn: DataFrame, srcCol: String, dstCol: String,
      prevRanks: DataFrame,
      iters: Int = 2, dampNum: Long = 85L, dampDen: Long = 100L,
      scale: Long = 1L << 20): DataFrame =
    run(edgesIn, srcCol, dstCol, None, Some(prevRanks),
      iters, dampNum, dampDen, scale)

  /** Triangle counting + local clustering coefficient over an
    * undirected graph, by degree-ordered edge orientation (Schank &
    * Wagner's forward algorithm / Suri & Vassilvitskii's MapReduce
    * form) — the standard way to make triangle enumeration survive
    * hubs at scale: orient every edge from its lower-(degree, id)
    * endpoint to the higher one, enumerate wedges ONLY from the low
    * endpoint (out-degree under this orientation is O(√m) on any
    * graph, regardless of hub in-degree), and close each wedge with
    * one equi-join back onto the oriented edge list. Each triangle is
    * produced exactly once. A celebrity node with 10M followers never
    * enumerates its C(10M,2) neighbor pairs — its edges all point IN.
    *
    * Everything is equi-join + aggregate (shuffles on `src` for the
    * wedge self-join and on the `(v,w)` pair for the close), so AQE
    * skew handling applies; no windows, no driver-side adjacency.
    * Input edges may be directed, duplicated, or self-looped — they
    * are canonicalized (`least/greatest`, self-loops dropped,
    * distinct) first.
    *
    * Returns one row per node: `(node, deg, tri_cnt, cc_fp)` where
    * `cc_fp = (2·tri·scale) DIV (deg·(deg−1))` — the local clustering
    * coefficient in exact integer fixed point (0 for deg ≤ 1), so the
    * output is bit-stable and DuckDB-reproducible like every scored
    * surface here.
    */
  def triangles(edgesIn: DataFrame, aCol: String, bCol: String,
      scale: Long = 1000000L): DataFrame = {
    val und = edgesIn
      .select(least(col(aCol).cast("long"), col(bCol).cast("long")).as("a"),
        greatest(col(aCol).cast("long"), col(bCol).cast("long")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(eager = true) // feeds deg AND the orientation join
    // deg feeds THREE consumers (both orientation joins and the final
    // output join) — materialized once; as lazy lineage each consumer
    // re-ran the union+aggregate over the edge table (r15: two
    // edge-sized scans removed at any graph size)
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(eager = true)
    // total order (deg, node): the orientation rank. Edge points from
    // the lower-ranked endpoint to the higher-ranked one.
    val ranked = und
      .join(deg.select(col("node").as("a"), col("deg").as("__da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("__db")), "b")
    val lowFirst = struct(col("__da"), col("a")) < struct(col("__db"), col("b"))
    val oriented = ranked.select(
        when(lowFirst, col("a")).otherwise(col("b")).as("src"),
        when(lowFirst, col("b")).otherwise(col("a")).as("dst"),
        when(lowFirst, col("__db")).otherwise(col("__da")).as("__dd"))
      .localCheckpoint(eager = true) // feeds both wedge sides + the close
    // wedges from each low endpoint: ordered out-neighbor pairs
    // (rank(v) < rank(w)); the closing edge, if present, is oriented
    // v→w under the same rank order, so one equi-join closes them.
    val e1 = oriented.select(col("src"), col("dst").as("v"), col("__dd").as("__dv"))
    val e2 = oriented.select(col("src"), col("dst").as("w"), col("__dd").as("__dw"))
    val wedges = e1.join(e2, Seq("src"))
      .filter(struct(col("__dv"), col("v")) < struct(col("__dw"), col("w")))
      .select(col("src").as("u"), col("v"), col("w"))
    val tris = wedges.join(
        oriented.select(col("src").as("v"), col("dst").as("w")),
        Seq("v", "w"), "left_semi")
      .localCheckpoint(eager = true) // unpivots three ways below
    val perNode = tris.select(col("u").as("node"))
      .unionAll(tris.select(col("v").as("node")))
      .unionAll(tris.select(col("w").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("tri_cnt"))
    val out = deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("tri_cnt"), lit(0L)).as("tri_cnt"),
        when(col("deg") >= 2,
            expr(s"(2 * coalesce(tri_cnt, CAST(0 AS BIGINT)) * CAST($scale AS BIGINT)) DIV (deg * (deg - 1))"))
          .otherwise(lit(0L)).as("cc_fp"))
    out
  }

  private def run(edgesIn: DataFrame, srcCol: String, dstCol: String,
      seedsIn: Option[DataFrame], warmStart: Option[DataFrame],
      iters: Int, dampNum: Long, dampDen: Long, scale: Long): DataFrame = {
    require(iters >= 1 && dampNum >= 0 && dampNum <= dampDen && scale >= 1,
      s"pageRank: bad parameters iters=$iters damp=$dampNum/$dampDen scale=$scale")
    val edges0 = edgesIn
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct()
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // out-degree is STATIONARY: compute it once, persist it, and stamp
    // `deg` onto the persisted edge partitions — before r15 each round
    // re-derived outdeg from the edge table TWICE (the contrib join and
    // the dangling anti-join both hung a fresh edge-sized aggregate
    // under the round's job), i.e. 2·iters edge scans that a 100 TB
    // edge list pays for nothing. Both persists stay src-partitioned,
    // so no per-round exchange is added and the contrib join drops to
    // ONE join (ranks → edges) from two (ranks → outdeg → edges).
    // `rank_fp DIV deg` now evaluates per edge instead of per node —
    // value-identical (same quotient fanned out), integer DIVs are
    // cheap, and the shuffle still carries only the quotient.
    val outdeg = edges0.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val edges = edges0.join(outdeg, "src")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val allNodes = edges0.select(col("src").as("node"))
      .union(edges0.select(col("dst").as("node"))).distinct()
    // seed AND dangling flags ride the node frame (both stationary,
    // node-sized, derived once) and from there the RANK frame itself —
    // so the per-round loop needs neither a nodes join nor an outdeg
    // anti-join (before r15 each round paid both: a node-sized SMJ
    // against the persisted nodes AND a node-sized anti-join against
    // outdeg just to find the dangling mass). Uniform PR is the
    // all-seeds instance of the same loop.
    val seeded = seedsIn match {
      case Some(s) =>
        val sd = s.select(s.columns.head).toDF("node")
          .select(col("node").cast("long").as("node")).distinct()
        allNodes.join(sd.withColumn("__seed", lit(true)), Seq("node"), "left")
          .select(col("node"), coalesce(col("__seed"), lit(false)).as("__seed"))
      case None => allNodes.withColumn("__seed", lit(true))
    }
    val nodes = seeded
      .join(outdeg.select(col("src").as("node"), lit(true).as("__out")),
        Seq("node"), "left")
      .select(col("node"), col("__seed"),
        coalesce(col("__out"), lit(false)).as("__dang_src"))
      .withColumn("__dang", !col("__dang_src")).drop("__dang_src")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count() // materializes the edge and node persists
    require(n > 0, "pageRank: empty edge list")
    val m = if (seedsIn.isEmpty) n else nodes.filter(col("__seed")).count()
    require(m > 0, "personalizedPageRank: no seed is a node of the graph")
    // ⌊(dampDen−dampNum)·scale·n / (dampDen·m)⌋ — overflows long only
    // past ~10^11 nodes at the default scale; require keeps it honest
    require(n <= Long.MaxValue / ((dampDen - dampNum).max(1L) * scale),
      s"pageRank: n=$n too large for scale=$scale without overflow")
    val teleport = (dampDen - dampNum) * scale * n / (dampDen * m)
    val init = scale * n / m

    // the rank frame carries (node, __seed, __dang, rank_fp): one row
    // per node every round, so IT is the node universe — each round
    // left-joins inbound mass back onto it and reads the dangling sum
    // off a flag filter, touching nothing but itself and the edges
    var ranks = (warmStart match {
      case Some(w) =>
        nodes.join(
            w.select(col("node").cast("long").as("node"),
              col("rank_fp").cast("long").as("__prev")),
            Seq("node"), "left")
          .select(col("node"), col("__seed"), col("__dang"),
            coalesce(col("__prev"), lit(scale)).as("rank_fp"))
      case None => nodes
        .select(col("node"), col("__seed"), col("__dang"),
          when(col("__seed"), lit(init)).otherwise(lit(0L)).as("rank_fp"))
    }).localCheckpoint(eager = false)
    var round = 0
    while (round < iters) {
      val prev = ranks
      // per-edge contribution off the deg-stamped stationary edge
      // partitions: the rank side shuffles (node-sized), the edge side
      // reads its persisted src partitions in place
      val inbound = ranks.join(edges, ranks("node") === edges("src"))
        .select(col("dst"), expr("rank_fp DIV deg").as("__c"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("__c")).as("__in"))
      // dangling mass: a flag-filtered scan of the checkpointed rank
      // frame — no join at all (was a node-sized anti-join vs outdeg).
      // It stays a BROADCAST SUBQUERY, not a collected driver literal:
      // the literal variant (r16, measured and reverted) changes the
      // generated code every round, so whole-stage codegen recompiles
      // per round instead of hitting the cache — ABBA A/B read it
      // ~25-30% SLOWER (q158 3.0/3.6 → 4.2/5.1 s) with identical job
      // structure; round plans must stay structurally identical.
      val dangling = ranks.filter(col("__dang"))
        .agg(coalesce(sum(col("rank_fp")), lit(0L)).as("__d"))
      val next = ranks
        .select(col("node"), col("__seed"), col("__dang"))
        .join(inbound, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"), col("__seed"), col("__dang"),
          (when(col("__seed"), lit(teleport)).otherwise(lit(0L)) +
            expr(s"$dampNum * (coalesce(__in, CAST(0 AS BIGINT)) + " +
              s"CASE WHEN __seed THEN __d DIV $m ELSE CAST(0 AS BIGINT) END)" +
              s" DIV $dampDen")
          ).as("rank_fp"))
      // eager: materialize THIS round, THEN release the previous one.
      // Checkpointing every SECOND round instead (r16 verdict item,
      // measured and rejected): the un-checkpointed round feeds the
      // next round's THREE consumers, which recompute its edge-join
      // subtree concurrently — ABBA A/B read ~2× wall and ~3× cpu
      // (q158 3.0-4.9 → 6.3-6.8 s, cpu 9-17 → 24-27; q160 cpu 17-24
      // → 43-48). One eager checkpoint per round is the measured floor
      // for the DataFrame loop.
      ranks = next.localCheckpoint(eager = true)
      prev.unpersist()
      // edges0 is only the SETUP's input (outdeg/allNodes/the deg-stamp
      // join): once round 0's job has materialized the deg-stamped
      // `edges` persist, keeping the raw edge table pinned as well
      // would double-pin the edge bytes for the rest of the loop at
      // the operator's design scale (r15 advice)
      if (round == 0) edges0.unpersist()
      round += 1
    }
    edges.unpersist()
    outdeg.unpersist()
    edges0.unpersist()
    nodes.unpersist()
    ranks.select(col("node"), col("rank_fp"))
  }
}
