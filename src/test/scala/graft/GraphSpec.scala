package graft

import org.apache.spark.sql.functions._

/** Invariants of the iterative graph family (`ops/Graph.scala`) that
  * the oracle hash-compare can't see on its own: PageRank mass
  * conservation and rank positivity. The co-order graph is symmetric,
  * so every node has outdeg ≥ 1 and no rank mass leaks to dangling
  * nodes — total mass must stay ~1 through every round (drift bounded
  * by the per-round 9-dp quantization × node count).
  */
class GraphSpec extends SparkSpecBase {

  test("pagerank conserves rank mass on the dangling-free co-order graph") {
    val pr = CatalogRun.frame(spark, sf, "graph_pagerank")
    val row = pr.agg(
      sum(col("pr")).as("mass"),
      min(col("pr")).as("lo"),
      count(lit(1)).as("n")).head()
    val mass = row.getDouble(0)
    assert(math.abs(mass - 1.0) < 1e-4, s"rank mass drifted: $mass")
    assert(row.getDouble(1) > 0.0, "a node lost all rank")
    assert(row.getLong(2) > 0)
  }

  test("triangle counts match the hand-counted graph, any orientation") {
    // K4 minus edge (1,4): triangles {1,2,3} and {2,3,4}; degree-rank
    // orientation must still count each exactly once per member node.
    import spark.implicits._
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("a", "b")
    val got = ops.Graph.triangleCount(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got === Seq(
      (1L, 2L, 1L, 1.0),
      (2L, 3L, 2L, 0.666666667), // 2·2/(3·2) at the 9-dp quantum
      (3L, 3L, 2L, 0.666666667),
      (4L, 2L, 1L, 1.0)), got.toString)
  }

  test("a triangle-free graph reports zero triangles, nodes retained") {
    // the 4-cycle: no triangles; every node still appears with its
    // degree and a 0.0 coefficient (left join, not inner).
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("a", "b")
    val got = ops.Graph.triangleCount(edges).collect()
    assert(got.length === 4)
    assert(got.forall(_.getLong(2) == 0L), got.mkString(","))
    assert(got.forall(_.getDouble(3) == 0.0), got.mkString(","))
  }

  test("pagerank ranks high-degree nodes above low-degree ones on average") {
    // suppliers serve many customers (dense side of the bipartite
    // graph), so the mean supplier rank must exceed the mean customer
    // rank — the qualitative property PageRank exists to measure.
    val pr = CatalogRun.frame(spark, sf, "graph_pagerank")
    val means = pr.groupBy(col("node_type")).agg(avg(col("pr")).as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(means("supplier") > means("customer"), means.toString)
  }

  test("components: labels are min-reachable ids and edges connect same-component nodes") {
    import spark.implicits._
    val comp = CatalogRun.frame(spark, sf, "graph_components")
      .select(
        when($"node_type" === "customer", $"node_key" * 2)
          .otherwise($"node_key" * 2 + 1).as("node"),
        $"component").cache()
    // the label is a MIN over a set containing the node itself
    assert(comp.filter($"component" > $"node").count() === 0)
    // co-order graphs are connected enough that labels actually merge
    assert(comp.select($"component").distinct().count() < comp.count())
    // within 6 rounds on this graph, direct neighbors must share labels:
    // re-derive one hop and check no edge crosses components
    val co = Tables.orders(spark, sf).select($"o_orderkey", $"o_custkey")
      .join(Tables.lineitem(spark, sf).select($"l_orderkey", $"l_suppkey"),
        $"o_orderkey" === $"l_orderkey")
      .select(($"o_custkey" * 2).as("a"), ($"l_suppkey" * 2 + 1).as("b"))
      .distinct()
    val crossing = co
      .join(comp.select($"node".as("a"), $"component".as("ca")), "a")
      .join(comp.select($"node".as("b"), $"component".as("cb")), "b")
      .filter($"ca" =!= $"cb")
    assert(crossing.count() === 0,
      "bounded rounds did not converge on testdata — raise CcRounds")
    comp.unpersist()
  }

  test("sssp: seeds at 0, hops bounded, triangle inequality holds per edge") {
    import spark.implicits._
    val dist = CatalogRun.frame(spark, sf, "graph_sssp")
      .select(
        when($"node_type" === "customer", $"node_key" * 2)
          .otherwise($"node_key" * 2 + 1).as("node"),
        $"dist").cache()
    // every nation-0 customer that trades at all is a seed at distance 0
    val seeds = Tables.customer(spark, sf).filter($"c_nationkey" === 0)
      .select(($"c_custkey" * 2).as("node"))
      .join(dist, "node")
    assert(seeds.filter($"dist" =!= 0).count() === 0)
    assert(seeds.count() > 0, "no seed reached the graph — degenerate testdata")
    // the round bound caps every reported distance
    assert(dist.filter($"dist" > 4 || $"dist" < 0).count() === 0)
    // BFS correctness: adjacent reached nodes differ by at most 1 hop
    val co = Tables.orders(spark, sf).select($"o_orderkey", $"o_custkey")
      .join(Tables.lineitem(spark, sf).select($"l_orderkey", $"l_suppkey"),
        $"o_orderkey" === $"l_orderkey")
      .select(($"o_custkey" * 2).as("a"), ($"l_suppkey" * 2 + 1).as("b"))
      .distinct()
    val slack = co
      .join(dist.select($"node".as("a"), $"dist".as("da")), "a")
      .join(dist.select($"node".as("b"), $"dist".as("db")), "b")
      .filter(abs($"da" - $"db") > 1)
    assert(slack.count() === 0, "an edge spans a >1 hop gap")
    dist.unpersist()
  }

  test("sssp matches a reference BFS on seeded random graphs") {
    import spark.implicits._
    // 20 deterministic pseudo-random undirected graphs on ≤ 10 nodes;
    // compare the bounded superstep loop against a plain queue BFS
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 20) {
      val n = 3 + rnd.nextInt(8)
      val und = (for {
        a <- 0 until n; b <- (a + 1) until n if rnd.nextDouble() < 0.35
      } yield (a.toLong, b.toLong)).toSeq
      if (und.nonEmpty) {
        val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
        val seed = und.head._1
        val got = ops.Graph.bfsDistances(
          edges, Seq(seed).toDF("seed"), rounds = n)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // reference BFS over the same adjacency, from the same seed
        val adj = (und ++ und.map(_.swap)).groupBy(_._1)
          .map { case (k, vs) => k -> vs.map(_._2) }
        val want = scala.collection.mutable.Map(seed -> 0L)
        var frontier = List(seed)
        while (frontier.nonEmpty) {
          frontier = frontier.flatMap(u => adj.getOrElse(u, Nil)
            .filterNot(want.contains).map { v => want(v) = want(u) + 1; v })
        }
        assert(got === want.toMap, s"trial $trial, n=$n, edges=$und")
      }
    }
  }

  test("converged components equal the bounded op on the co-order graph") {
    // compare collected sets: an exceptAll over the two UNROLLED
    // iteration plans builds a plan string big enough to OOM the test
    // JVM (the results are a few hundred rows at sf0.001)
    def rows(name: String) = CatalogRun.frame(spark, sf, name)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows("graph_components") === rows("graph_components_converged"),
      "CcRounds covers this graph's diameter, so the two must agree")
  }

  test("kcore: cycles survive whole, chains peel from the ends, layers count") {
    import spark.implicits._
    def onion(und: Seq[(Long, Long)]): Map[Long, Int] = {
      val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
      ops.Graph.kcoreOf(edges).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    }
    // a 4-cycle is its own 2-core: nobody peels
    val cyc = onion(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)))
    assert(cyc === Map(1L -> 0, 2L -> 0, 3L -> 0, 4L -> 0))
    // a 5-path peels layer by layer from both ends and empties
    val path = onion(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))
    assert(path === Map(1L -> 1, 2L -> 2, 3L -> 3, 4L -> 2, 5L -> 1))
    // lollipop: the tail peels outside-in, the triangle is the core
    val lol = onion(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L)))
    assert(lol === Map(1L -> 0, 2L -> 0, 3L -> 0, 4L -> 2, 5L -> 1))
  }

  test("kcore: the testdata fixpoint lands strictly inside the round bound") {
    import org.apache.spark.sql.functions._
    val rep = CatalogRun.frame(spark, sf, "graph_kcore")
    val maxRound = rep.agg(max(col("peeled_round"))).head().getInt(0)
    assert(maxRound < ops.Graph.PeelRoundsForSpec,
      s"a node peeled in the last round ($maxRound) — raise PeelRounds")
  }

  test("kcore matches a reference sequential peel on seeded random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 15) {
      val n = 3 + rnd.nextInt(8)
      val und = (for {
        a <- 0 until n; b <- (a + 1) until n if rnd.nextDouble() < 0.4
      } yield (a.toLong, b.toLong)).toSeq
      if (und.nonEmpty) {
        val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
        val got = ops.Graph.kcoreOf(edges).collect()
          .map(r => r.getLong(0) -> r.getInt(1)).toMap
        // reference peel: round-synchronous removal of degree-<2 nodes
        val nodes = und.flatMap(e => Seq(e._1, e._2)).distinct
        var alive = nodes.toSet
        val want = scala.collection.mutable.Map.empty[Long, Int]
        var r = 1
        var changed = true
        while (changed && r <= ops.Graph.PeelRoundsForSpec) {
          val deg = alive.map(u => u ->
            und.count(e => (e._1 == u && alive(e._2)) ||
              (e._2 == u && alive(e._1)))).toMap
          val drop = alive.filter(deg(_) < 2)
          changed = drop.nonEmpty
          drop.foreach(want(_) = r)
          alive --= drop
          r += 1
        }
        alive.foreach(want(_) = 0)
        assert(got === want.toMap, s"trial $trial, n=$n, edges=$und")
      }
    }
  }

  test("converged pagerank: tolerance stops inside the bound, mass conserved") {
    val pr = CatalogRun.frame(spark, sf, "graph_pagerank_converged").cache()
    val rounds = pr.agg(max(col("rounds_run"))).head().getInt(0)
    assert(rounds < ops.Graph.PrMaxRoundsForSpec,
      s"tolerance never hit inside the bound ($rounds) — raise PrMaxRounds")
    assert(pr.select(countDistinct(col("rounds_run"))).head().getLong(0) === 1,
      "rounds_run must be one constant across all rows")
    val row = pr.agg(sum(col("pr")), min(col("pr"))).head()
    assert(math.abs(row.getDouble(0) - 1.0) < 1e-4,
      s"rank mass drifted: ${row.getDouble(0)}")
    assert(row.getDouble(1) > 0.0, "a node lost all rank")
    pr.unpersist()
  }

  test("converged pagerank: a symmetric cycle is stationary at round 1") {
    import spark.implicits._
    // a 4-cycle is degree-regular: r0 is uniform and round 1 maps it to
    // itself exactly, so the delta mass is 0 < tol and the loop stops
    // immediately with every node at 1/4
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    val edges = (cyc ++ cyc.map(_.swap)).toDF("src", "dst")
    val (ranks, rounds) = ops.Graph.pagerankConvergedOf(edges)
    assert(rounds === 1)
    val got = ranks.collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got === Map(1L -> 0.25, 2L -> 0.25, 3L -> 0.25, 4L -> 0.25))
  }

  test("fixpoint loop outruns the round bound on a long chain") {
    import spark.implicits._
    // a 20-node path has diameter 19 > CcRounds = 6: the bounded loop
    // CANNOT fully label it, the converged loop must
    val chain = (0L until 19L).map(i => (i, i + 1))
    val edges = (chain ++ chain.map(_.swap)).toDF("src", "dst")
    val labels = ops.Graph.componentsConvergedOf(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.length === 20)
    assert(labels.forall(_._2 === 0L),
      "every chain node must reach the min label at fixpoint")
  }

  test("modularity: two triangles score the textbook Q = 1/2") {
    import spark.implicits._
    // two disjoint triangles, symmetric directed edges: M = 12, each
    // community has in = 6, deg_sum = 6 -> contribution = 6/12 - (6/12)^2
    // = 0.25 each, Q = 0.5 (the classic perfectly-separated example)
    val tri = Seq((1L,2L),(2L,3L),(1L,3L),(4L,5L),(5L,6L),(4L,6L))
    val edges = (tri ++ tri.map(_.swap)).toDF("src", "dst")
    val labels = Seq((1L,1L),(2L,1L),(3L,1L),(4L,4L),(5L,4L),(6L,4L))
      .toDF("node", "label")
    val out = ops.Graph.modularityOf(edges, labels)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out(1L) === ((3L, 6L, 6L, 0.25)))
    assert(out(4L) === ((3L, 6L, 6L, 0.25)))
    // merging both triangles into ONE label wipes the structure: Q -> it
    // can only fall (here to 12/12 - 1 = 0 for the single community)
    val merged = ops.Graph.modularityOf(edges,
      labels.select(col("node"), lit(1L).as("label")))
      .collect()
    assert(merged.length === 1 && merged.head.getDouble(4) === 0.0)
  }

  test("graph_modularity catalog rows: Q in [-1, 1], counts consistent") {
    import spark.implicits._
    val out = CatalogRun.frame(spark, sf, "graph_modularity").cache()
    val q = out.agg(sum("contribution")).head.getDouble(0)
    assert(q >= -1.0 - 1e-9 && q <= 1.0 + 1e-9, s"Q = $q out of range")
    assert(out.filter(col("internal_edges") > col("degree_sum")).count() === 0,
      "internal edges cannot exceed the community degree sum")
  }

  test("louvain step: two triangles + bridge, the hand-traced round") {
    import spark.implicits._
    // nodes 0,1,2 and 3,4,5 are triangles, 2-3 is the bridge; from
    // singletons the even color moves: 0->cty(1) g=20, 2->cty(0) g=16
    // (tie 0/1 broken to the smaller label), 4->cty(5) g=20 — targets
    // all distinct so the capacity cap keeps every move; accepted
    // partition {0,1},{2},{3},{4,5}: qint -34 -> 6 on M=14
    val und = Seq((0L,1L),(0L,2L),(1L,2L),(3L,4L),(3L,5L),(4L,5L),(2L,3L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val out = ops.Graph.louvainStepOf(spark, edges).cache()
    val rows = out.collect().map(r => (r.getLong(0),
      (r.getLong(1), r.getLong(2)))).toMap
    assert(rows === Map(0L -> ((1L, 0L)), 1L -> ((2L, 2L)),
      3L -> ((1L, 0L)), 5L -> ((2L, 2L))))
    val qs = out.select("q_before", "q_after").distinct().collect()
    assert(qs.length === 1)
    assert(qs.head.getDouble(0) === -0.173469) // -34/196, half-up 6dp
    assert(qs.head.getDouble(1) === 0.030612) // 6/196
  }

  test("louvain step on the corpus: Q non-decreasing, nodes conserved") {
    import spark.implicits._
    val out = CatalogRun.frame(spark, sf, "graph_louvain_step").cache()
    val qs = out.select("q_before", "q_after").distinct().collect()
    assert(qs.length === 1, "q scalars must be constant across rows")
    assert(qs.head.getDouble(1) >= qs.head.getDouble(0),
      "the gate must never commit a Q-decreasing round")
    // node conservation vs the raw co-order node set
    val comps = CatalogRun.frame(spark, sf, "graph_components")
    assert(out.agg(sum("n_nodes")).head.getLong(0) === comps.count())
    assert(out.filter(col("internal_edges") > col("degree_sum")).count() === 0)
  }

  test("personalized pagerank: mass 1, seed floor, seed concentration") {
    import spark.implicits._
    val pr = CatalogRun.frame(spark, sf, "graph_pagerank_personalized")
      .cache()
    val nSeeds = pr.filter(col("is_seed")).count()
    assert(nSeeds > 0, "hash slice produced no seeds — widen the modulus")
    val mass = pr.agg(sum(col("pr"))).head.getDouble(0)
    assert(math.abs(mass - 1.0) < 1e-4, s"walk mass drifted: $mass")
    // every seed receives the restart mass every round, so its final
    // rank is at least the teleport floor (contributions are >= 0)
    val floor = 0.15 / nSeeds - 1e-9
    assert(pr.filter(col("is_seed") && col("pr") < floor).count() === 0)
    // rank concentrates at the seeds: their mean beats the non-seeds'
    val m = pr.groupBy("is_seed").agg(avg("pr")).collect()
      .map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(m(true) > m(false),
      s"seed mean ${m(true)} must exceed non-seed mean ${m(false)}")
    assert(pr.filter(col("pr") < 0).count() === 0)
    pr.unpersist()
  }

  test("general louvain phase: hand-traced gains, gate, and stats on a path") {
    import spark.implicits._
    // path 1-2-3-4 (odd movers 1,3), base partition {1},{2},{3,4}.
    // M=6; gains: node 1 -> c2 = 12-2-2 = 8 (moves); node 3 -> c2 =
    // 0+4-8 = -4 (stays). Accepted: Q*36 goes -2 -> 6; final
    // communities {1,2} and {3,4}, each in=2, deg=3,
    // contribution 2/6-(3/6)^2 = 1/12... = 0.083333 each.
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val base = Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 3L))
      .toDF("node", "label")
    val out = ops.Graph.louvainGeneralPhase(spark, edges, base, 1)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6))).toMap
    assert(out.keySet === Set(2L, 3L), out.toString)
    assert(out(2L) === ((2L, 2L, 3L, 0.083333, -0.055556, 0.166667)))
    assert(out(3L) === ((2L, 2L, 3L, 0.083333, -0.055556, 0.166667)))
  }

  test("multi-level louvain: two triangles + bridge converge to the triangles") {
    import spark.implicits._
    // the textbook fixture: Louvain's fixpoint is the two triangles
    // {0,1,2} and {3,4,5} (M=14; per community in=6, deg=7,
    // contribution 6/14 - (7/14)^2 = 0.178571, Q = 0.357143). The
    // singleton rounds cannot reach it in one pass (capacity-1 admits
    // one mover per target), so CONTRACTION must do real work here —
    // the trace the multi-level loop exists for.
    val und = Seq((0L,1L),(0L,2L),(1L,2L),(3L,4L),(3L,5L),(4L,5L),(2L,3L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val ops.Graph.LouvainRun(lab, qs, moves, _, _, _, _, cleanup) =
      ops.Graph.louvainMultiLevelRun(spark, edges)
    val part = lab.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    cleanup()
    assert(part.keySet === Set(0L, 1L, 2L, 3L, 4L, 5L))
    assert(Set(part(0L), part(1L), part(2L)).size === 1,
      s"left triangle must share one label: $part")
    assert(Set(part(3L), part(4L), part(5L)).size === 1,
      s"right triangle must share one label: $part")
    assert(part(0L) !== part(3L), s"triangles must stay apart: $part")
    assert(qs.zip(qs.tail).forall { case (a, b) => b >= a - 1e-12 },
      s"Q must be monotone across levels: $qs")
    assert(math.abs(qs.last - 0.357142857) < 1e-6,
      s"final Q must be the two-triangle optimum: ${qs.last}")
    assert(moves.head > 0, "level 1 must accept moves on this fixture")
  }

  test("multi-level louvain on the corpus: monotone Q, continuity, conservation") {
    import spark.implicits._
    val out = CatalogRun.frame(spark, sf, "graph_louvain").cache()
    val q = out.select("q_level1", "q_level2", "q_final").distinct().collect()
    assert(q.length === 1, "level Q scalars must be constant across rows")
    val (q1, q2, qf) =
      (q.head.getDouble(0), q.head.getDouble(1), q.head.getDouble(2))
    assert(q1 <= q2 + 1e-12 && q2 <= qf + 1e-12,
      s"Q must be monotone across levels: $q1, $q2, $qf")
    // level 1 IS the step1+step2 trajectory (parity 0 then 1 from
    // singletons), so its Q must land exactly on step2's q_after —
    // the cross-op continuity pin
    val s2 = CatalogRun.frame(spark, sf, "graph_louvain_step2")
      .select("q_after").distinct().head.getDouble(0)
    assert(q1 === s2,
      s"q_level1 ($q1) must equal graph_louvain_step2's q_after ($s2)")
    val comps = CatalogRun.frame(spark, sf, "graph_components")
    assert(out.agg(sum("n_nodes")).head.getLong(0) === comps.count())
    assert(out.filter(col("internal_edges") > col("degree_sum")).count() === 0)
    out.unpersist()
  }

  test("store-fed multi-level louvain: refines past the stored phase-1 partition") {
    import spark.implicits._
    val out = CatalogRun.frame(spark, sf, "graph_louvain_store").cache()
    val q = out.select("q_level1", "q_level2", "q_final").distinct().collect()
    assert(q.length === 1, "level Q scalars must be constant across rows")
    val (q1, q2, qf) =
      (q.head.getDouble(0), q.head.getDouble(1), q.head.getDouble(2))
    assert(q1 <= q2 + 1e-12 && q2 <= qf + 1e-12,
      s"Q must be monotone across levels: $q1, $q2, $qf")
    // level 1 here = phase-1 store + BOTH parity rounds, a superset of
    // step2's single odd round from the same base — gated rounds never
    // lose Q, so q_level1 must be at least step2's q_after
    val s2 = CatalogRun.frame(spark, sf, "graph_louvain_step2")
      .select("q_after").distinct().head.getDouble(0)
    assert(q1 >= s2 - 1e-12,
      s"store-fed q_level1 ($q1) must not fall below step2 q_after ($s2)")
    val comps = CatalogRun.frame(spark, sf, "graph_components")
    assert(out.agg(sum("n_nodes")).head.getLong(0) === comps.count(),
      "every original node must land in exactly one community")
    assert(out.filter(col("internal_edges") > col("degree_sum")).count() === 0)
    out.unpersist()
  }

  test("louvain step2 on the corpus: continues step 1's trajectory") {
    import spark.implicits._
    val s1 = CatalogRun.frame(spark, sf, "graph_louvain_step")
      .select("q_before", "q_after").distinct().head
    val s2q = CatalogRun.frame(spark, sf, "graph_louvain_step2").cache()
    val s2 = s2q.select("q_before", "q_after").distinct().collect()
    assert(s2.length === 1)
    assert(s2.head.getDouble(0) === s1.getDouble(1),
      "phase 2 must start exactly where phase 1's accepted partition ends")
    assert(s2.head.getDouble(1) >= s2.head.getDouble(0),
      "the gate must never commit a Q-decreasing phase")
    // node conservation through both phases
    val comps = CatalogRun.frame(spark, sf, "graph_components")
    assert(s2q.agg(sum("n_nodes")).head.getLong(0) === comps.count())
    assert(s2q.filter(col("internal_edges") > col("degree_sum")).count() === 0)
    s2q.unpersist()
  }

  test("incremental pagerank: the store round-trips through parquet") {
    import spark.implicits._
    // old: a 6-cycle; today's batch attaches a pendant 7-8 edge to
    // node 1 — the warm start must coalesce uniform mass for 7 and 8
    val oldU = (1L to 6L).map(i => (i, i % 6 + 1))
    val oldE = (oldU ++ oldU.map(_.swap)).toDF("src", "dst")
    val fullU = oldU ++ Seq((1L, 7L), (7L, 8L))
    val fullE = (fullU ++ fullU.map(_.swap)).toDF("src", "dst")
    val (store, rs) = ops.Graph.pagerankConvergedOf(oldE)
    assert(rs >= 1)
    val (warm, rw) = ops.Graph.pagerankConvergedOf(fullE, Some(store))
    val dir = java.nio.file.Files.createTempDirectory("prstore").toString
    store.write.mode("overwrite").parquet(dir)
    val (warm2, rw2) =
      ops.Graph.pagerankConvergedOf(fullE, Some(spark.read.parquet(dir)))
    assert(rw2 === rw)
    val a = warm.orderBy("node").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = warm2.orderBy("node").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a === b, "parquet store and in-query store must be identical")
    assert(a.map(_._1).toSet === (1L to 8L).toSet)
    // warm init carries 1 (the old fixpoint) + 2/8 (uniform mass for
    // the two unseen nodes) = 1.25; each round contracts the excess by
    // the damping factor, so mass must sit strictly inside (1, 1.25]
    // until full convergence — and every node must hold positive rank
    val mass = a.map(_._2).sum
    assert(mass > 1.0 - 1e-9 && mass <= 1.25 + 1e-9,
      s"warm mass outside the contraction envelope: $mass after $rw rounds")
    assert(a.forall(_._2 > 0.0), "a node lost all rank under warm start")
  }

  test("incremental pagerank on the corpus: warm rounds beat the cold start") {
    import spark.implicits._
    val inc =
      CatalogRun.frame(spark, sf, "graph_pagerank_incremental").cache()
    val rounds = inc.select("rounds_store", "rounds_warm").distinct().collect()
    assert(rounds.length === 1, "round counts must be constant across rows")
    val (rStore, rWarm) = (rounds.head.getInt(0), rounds.head.getInt(1))
    val cold = CatalogRun.frame(spark, sf, "graph_pagerank_converged")
      .select("rounds_run").head.getInt(0)
    assert(rWarm >= 1 && rWarm < cold,
      s"warm start ($rWarm) must re-converge in fewer rounds than cold ($cold)")
    assert(rStore >= 1 && rStore < ops.Graph.PrMaxRoundsForSpec)
    // the warm fixpoint covers exactly the full co-order node set
    val coldN = CatalogRun.frame(spark, sf, "graph_pagerank_converged").count()
    assert(inc.count() === coldN)
    // mass = 1 + damped excess from store-unseen nodes (uniform init);
    // on this corpus every node appears in some old order, so the
    // envelope is tight — but state the invariant, not the accident
    val mass = inc.agg(sum(col("pr"))).head.getDouble(0)
    assert(mass > 1.0 - 1e-4 && mass < 1.05,
      s"rank mass outside the warm-start envelope: $mass")
  }
}
