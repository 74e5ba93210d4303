package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LinkGraphSpec extends SparkSpec {
  import spark.implicits._

  /** Driver-side reference: the same fixed-point recurrence in plain
    * Scala Maps — an implementation independent of every Spark
    * operator the production path uses, so a match means the
    * distributed join/agg assembly computes the declared arithmetic,
    * not merely "agrees with itself".
    */
  private def refRank(edges: Seq[(Long, Long)], iters: Int,
      dampNum: Long = 85L, dampDen: Long = 100L,
      scale: Long = 1L << 20): Map[Long, Long] = {
    val es = edges.distinct
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.size.toLong
    val outdeg = es.groupBy(_._1).map { case (s, g) => s -> g.size.toLong }
    val teleport = (dampDen - dampNum) * scale / dampDen
    var r = nodes.map(_ -> scale).toMap
    for (_ <- 1 to iters) {
      val dangling = nodes.filterNot(outdeg.contains).map(r).sum
      val contrib = r.collect { case (u, ru) if outdeg.contains(u) => u -> ru / outdeg(u) }
      val inbound = es.groupBy(_._2).map { case (d, g) =>
        d -> g.map(e => contrib(e._1)).sum
      }
      r = nodes.map(v => v ->
        (teleport + dampNum * (inbound.getOrElse(v, 0L) + dangling / n) / dampDen)
      ).toMap
    }
    r
  }

  private def run(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    LinkGraph.pageRank(edges.toDF("s", "d"), "s", "d", iters = iters)
      .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap

  test("pageRank matches the driver-side fixed-point reference, " +
      "including a dangling node") {
    // 1->2, 1->3, 2->3, 4 dangling-in-only? use: 3->1 cycle + 4 with
    // only an in-edge (dangling: no out-edges)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (2L, 4L))
    for (iters <- Seq(1, 3, 5)) {
      val got = run(edges, iters)
      val want = refRank(edges, iters)
      assert(got == want, s"iters=$iters: $got != $want")
    }
    // authority sanity on the 5-round result: 3 collects from 1 and 2
    // and must outrank the leaf 4 (one inbound from a split vote)
    val r5 = run(edges, 5)
    assert(r5(3L) > r5(4L) && r5(3L) > r5(2L))
  }

  test("pageRank is partitioning-invariant and dedupes edge multiplicity") {
    val edges = (1L to 40L).map(i => (i, i % 7 + 100L)) ++
      Seq((100L, 1L), (101L, 2L), (102L, 3L))
    val dup = edges ++ edges ++ edges // multiplicity must not triple contribs
    val base = run(edges, 4)
    val viaDup = LinkGraph.pageRank(
        dup.toDF("s", "d").repartition(7), "s", "d", iters = 4)
      .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
    assert(viaDup == base)
    assert(base == refRank(edges, 4))
  }

  /** Driver-side seeded reference — same independence argument as
    * [[refRank]].
    */
  private def refSeeded(edges: Seq[(Long, Long)], seeds: Set[Long],
      iters: Int, dampNum: Long = 85L, dampDen: Long = 100L,
      scale: Long = 1L << 20): Map[Long, Long] = {
    val es = edges.distinct
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val sd = seeds.filter(nodes.contains)
    val n = nodes.size.toLong
    val m = sd.size.toLong
    val outdeg = es.groupBy(_._1).map { case (s, g) => s -> g.size.toLong }
    val teleport = (dampDen - dampNum) * scale * n / (dampDen * m)
    val init = scale * n / m
    var r = nodes.map(v => v -> (if (sd(v)) init else 0L)).toMap
    for (_ <- 1 to iters) {
      val dangling = nodes.filterNot(outdeg.contains).map(r).sum
      val contrib = r.collect { case (u, ru) if outdeg.contains(u) => u -> ru / outdeg(u) }
      val inbound = es.groupBy(_._2).map { case (d, g) =>
        d -> g.map(e => contrib(e._1)).sum
      }
      r = nodes.map(v => v ->
        ((if (sd(v)) teleport else 0L) +
          dampNum * (inbound.getOrElse(v, 0L) +
            (if (sd(v)) dangling / m else 0L)) / dampDen)
      ).toMap
    }
    r
  }

  test("personalizedPageRank matches the seeded driver reference; " +
      "all-seeds collapses to uniform pageRank exactly") {
    import org.apache.spark.sql.functions.col
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (2L, 4L),
      (4L, 5L), (5L, 4L), (9L, 1L)) // 9 only points in; 4-5 a far cycle
    val seedDf = Seq(1L, 77L).toDF("node") // 77 not in the graph: ignored
    val got = LinkGraph.personalizedPageRank(edges.toDF("s", "d"), "s", "d",
        seedDf, "node", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == refSeeded(edges, Set(1L, 77L), 4))
    // proximity: 1's direct successors outrank the far cycle node 5
    assert(got(2L) > got(5L) && got(3L) > got(5L))
    // seed-in-only node 9 gets rank 0 (nothing links to it, not a seed)
    assert(got(9L) == 0L)
    // all-seeds == uniform, bit for bit
    val allSeeds = edges.flatMap(e => Seq(e._1, e._2)).distinct.toDF("node")
    val seededAll = LinkGraph.personalizedPageRank(edges.toDF("s", "d"),
        "s", "d", allSeeds, "node", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val uniform = run(edges, 4)
    assert(seededAll == uniform)
  }

  test("pageRankFrom: one warm round from converged ranks moves ~nothing; " +
      "one cold round is far; new nodes enter at uniform mass") {
    val edges = (1L to 40L).map(i => (i, i % 7 + 100L)) ++
      Seq((100L, 1L), (101L, 2L), (102L, 3L))
    val cold30 = LinkGraph.pageRank(edges.toDF("s", "d"), "s", "d", iters = 30)
      .persist()
    val r30 = cold30.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def maxDelta(m: Map[Long, Long]) =
      r30.keys.map(k => math.abs(m(k) - r30(k))).max
    val warm1 = LinkGraph.pageRankFrom(edges.toDF("s", "d"), "s", "d",
        cold30, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cold1 = run(edges, 1)
    assert(maxDelta(warm1) * 10 < maxDelta(cold1),
      s"warm delta ${maxDelta(warm1)} not << cold delta ${maxDelta(cold1)}")
    // rank ORDER is already the converged one after a single warm round
    def order(m: Map[Long, Long]) =
      m.toSeq.sortBy { case (n, r) => (-r, n) }.map(_._1).take(10)
    assert(order(warm1) == order(r30))
    // graph grows a node: the newcomer is absent from prevRanks and
    // must enter at `scale`, flowing mass from its first warm round on
    val grown = edges ++ Seq((999L, 100L), (1L, 999L))
    val warmGrown = LinkGraph.pageRankFrom(grown.toDF("s", "d"), "s", "d",
        cold30, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(warmGrown.contains(999L) && warmGrown(999L) > 0L)
    cold30.unpersist()
  }

  test("personalizedPageRank requires a seed inside the graph") {
    intercept[IllegalArgumentException] {
      LinkGraph.personalizedPageRank(Seq((1L, 2L)).toDF("s", "d"), "s", "d",
        Seq(99L).toDF("node"), "node")
    }
  }

  test("pageRank rejects bad parameters and empty graphs") {
    intercept[IllegalArgumentException] {
      LinkGraph.pageRank(Seq((1L, 2L)).toDF("s", "d"), "s", "d", iters = 0)
    }
    intercept[IllegalArgumentException] {
      LinkGraph.pageRank(Seq.empty[(Long, Long)].toDF("s", "d"), "s", "d")
    }
  }

  /** Driver-side brute force: enumerate all C(n,3) node triples over
    * the canonicalized edge set — independent of the orientation
    * trick, so a match pins "each triangle counted exactly once". */
  private def refTriangles(edges: Seq[(Long, Long)]): Map[Long, (Long, Long)] = {
    val es = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct.toSet
    val nodes = es.toSeq.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    def adj(a: Long, b: Long) = es((math.min(a, b), math.max(a, b)))
    val triCnt = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    for {
      Seq(u, v, w) <- nodes.combinations(3)
      if adj(u, v) && adj(u, w) && adj(v, w)
      x <- Seq(u, v, w)
    } triCnt(x) += 1L
    val deg = nodes.map(v => v -> es.count(e => e._1 == v || e._2 == v).toLong).toMap
    nodes.map(v => v -> (deg(v), triCnt(v))).toMap
  }

  private def runTri(edges: Seq[(Long, Long)]): Map[Long, (Long, Long, Long)] =
    LinkGraph.triangles(edges.toDF("x", "y"), "x", "y")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

  test("triangles matches brute-force enumeration and canonicalizes " +
      "directed / duplicated / self-loop input") {
    // K4 minus one edge glued to a triangle, plus noise: reversed
    // duplicates, a self-loop, and a pendant vertex
    val edges = Seq(
      (1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (4L, 5L), (5L, 6L), (6L, 4L),
      (7L, 7L), (3L, 7L), (3L, 7L))
    val got = runTri(edges)
    val ref = refTriangles(edges)
    assert(got.keySet == ref.keySet)
    for ((v, (d, t)) <- ref) {
      assert(got(v)._1 == d, s"deg($v)")
      assert(got(v)._2 == t, s"tri($v)")
      val expCc = if (d >= 2) 2L * t * 1000000L / (d * (d - 1L)) else 0L
      assert(got(v)._3 == expCc, s"cc($v)")
    }
    // spot-check the hand-countable cells: node 1 sits in the two
    // K4−e triangles {1,2,3},{1,2,4}; node 5 in {4,5,6} only
    assert(got(1L) == ((3L, 2L, 666666L)))
    assert(got(5L) == ((2L, 1L, 1000000L)))
    assert(got(7L)._2 == 0L) // self-loop contributes nothing
  }

  test("triangles: a star has none (the hub never enumerates its pairs), " +
      "a clique has C(n-1,2) per node, partitioning-invariant") {
    val star = (2L to 40L).map(i => (1L, i))
    val gotStar = runTri(star)
    assert(gotStar.values.forall(_._2 == 0L))
    assert(gotStar(1L)._1 == 39L)
    val k5 = for (a <- 1L to 5L; b <- (a + 1L) to 5L) yield (a, b)
    val gotK5 = runTri(k5)
    assert(gotK5.values.forall { case (d, t, cc) =>
      d == 4L && t == 6L && cc == 1000000L })
    val repart = LinkGraph.triangles(
        k5.toDF("x", "y").repartition(7), "x", "y")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(repart == gotK5.map { case (k, v) => k -> v._2 })
  }
}
