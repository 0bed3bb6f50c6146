package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.functions.Exact._
import graft.functions.TextFns.{hash60, hash60Sql}
import SmallData.finalCheckpoint

/** [EXT] Iterative graph scoring — the Pregel-shaped family beyond the
  * connected components in [[Dedup]] (`dedup_clusters`). PageRank over
  * the customer↔supplier co-order graph is the reference workload: a
  * fixed number of synchronous rounds, each one a keyed join + keyed
  * aggregate, with NOTHING driver-side between rounds.
  *
  * Scale design: per round, the rank table joins the edge list on the
  * source key (one shuffle) and contributions aggregate on the
  * destination key (one shuffle, map-side combined) — the same two
  * shuffles per superstep a 1000-executor Pregel implementation pays,
  * with state = one (node, rank) row per vertex. Round count is the
  * latency knob, exactly like `dedup_clusters`' hop bound.
  *
  * Cross-engine determinism: double sums are order-dependent, so each
  * round quantizes the per-edge contribution (`roundHalfUp` to 12 dp),
  * sums it EXACTLY as DECIMAL(27,12) (associative), and re-quantizes
  * the damped rank to 9 dp — both engines therefore walk through
  * bit-identical rank vectors round by round, for ANY partitioning.
  */
object Graph {

  private val Damping = 0.85
  private val PrRounds = 5
  private val Dec12 = DecimalType(27, 12)

  /** Symmetric edge list: customer node = 2·custkey, supplier node =
    * 2·suppkey + 1; one edge per DISTINCT (customer, supplier) order
    * relationship, in both directions (PageRank on the undirected
    * co-order graph). Every node in the graph has outdeg ≥ 1 by
    * construction, so no dangling-mass handling is needed — and the
    * oracle needs none either. */
  private[graft] def coOrderEdges(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val co = Tables.orders(s, d).select($"o_orderkey", $"o_custkey")
      .join(Tables.lineitem(s, d).select($"l_orderkey", $"l_suppkey"),
        $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("cust"), $"l_suppkey".as("supp"))
      .distinct()
    co.select(($"cust" * 2).as("src"), ($"supp" * 2 + 1).as("dst"))
      .unionByName(co.select(($"supp" * 2 + 1).as("src"), ($"cust" * 2).as("dst")))
  }

  /** [[PrRounds]] synchronous PageRank rounds (damping [[Damping]]),
    * then decode node ids back to (node_type, node_key). */
  private def graphPagerank(s: SparkSession, d: String) = {
    import s.implicits._
    val edges = coOrderEdges(s, d)
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("outdeg"))
    // NOTE the loop-invariant edges⋈deg subtree is deliberately NOT
    // hoisted into a repartitioned cache: the round chain's identical
    // subtrees dedup via ReuseExchange, and an A/B measured the
    // explicit repartition+cache SLOWER (extra wide shuffle + cache
    // write per bench run: 4.4-5.4 s → 6.8 s) — the opposite outcome
    // from [[bfsDistances]]/[[graphComponents]], whose closed tables
    // were cached anyway so pre-partitioning them was free.
    val nStats = deg.agg(count(lit(1)).as("n_nodes")) // 1 row
    var ranks = deg.crossJoin(broadcast(nStats))
      .select($"src".as("node"),
        roundHalfUp(lit(1.0) / $"n_nodes", 9).as("pr"))
    for (_ <- 1 to PrRounds) {
      val contrib = edges.join(deg, "src")
        .join(ranks, $"src" === $"node")
        .select($"dst", roundHalfUp($"pr" / $"outdeg", 12).as("c"))
      ranks = contrib.groupBy($"dst")
        .agg(sum($"c".cast(Dec12)).cast("double").as("s"))
        .crossJoin(broadcast(nStats))
        .select($"dst".as("node"),
          roundHalfUp(lit(1.0 - Damping) / $"n_nodes" + lit(Damping) * $"s", 9)
            .as("pr"))
    }
    ranks
      .select(
        when($"node" % 2 === 0, lit("customer")).otherwise(lit("supplier"))
          .as("node_type"),
        expr("node div 2").cast("long").as("node_key"), $"pr")
      .orderBy($"node_type", $"node_key")
  }

  /** One oracle round: `r{i}` from `r{i-1}` — the exact CTE twin of
    * the Spark round above. `mat` marks the CTE `AS MATERIALIZED` for
    * the converged variant, where each round is referenced by the next
    * round AND two delta probes AND the final round-pick union —
    * without it DuckDB's inlining re-expands the whole prefix per
    * reference (the `graph_kcore` spill lesson). */
  private def prRoundSql(i: Int, mat: Boolean = false,
                         p: String = ""): String = {
    val contrib = roundHalfUpSql(s"${p}r${i - 1}.pr / d.outdeg", 12)
    val damped = roundHalfUpSql(
      s"${1.0 - Damping} / n.n_nodes + $Damping * " +
        s"CAST(SUM(CAST($contrib AS DECIMAL(27,12))) AS DOUBLE)", 9)
    s"""${p}r$i AS ${if (mat) "MATERIALIZED " else ""}(
       |  SELECT e.dst AS node, $damped AS pr
       |  FROM ${p}edges e
       |  JOIN ${p}deg d ON d.src = e.src
       |  JOIN ${p}r${i - 1} ON ${p}r${i - 1}.node = e.src
       |  CROSS JOIN ${p}n n
       |  GROUP BY e.dst, n.n_nodes
       |)""".stripMargin
  }

  private def pagerankOracle: String = {
    val rounds = (1 to PrRounds).map(prRoundSql(_)).mkString(",\n")
    s"""WITH co AS (
       |  SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
       |),
       |edges AS (
       |  SELECT cust * 2 AS src, supp * 2 + 1 AS dst FROM co
       |  UNION ALL
       |  SELECT supp * 2 + 1 AS src, cust * 2 AS dst FROM co
       |),
       |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
       |n AS (SELECT COUNT(*) AS n_nodes FROM deg),
       |r0 AS (
       |  SELECT src AS node, ${roundHalfUpSql("1.0 / n.n_nodes", 9)} AS pr
       |  FROM deg CROSS JOIN n
       |),
       |$rounds
       |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       |  node // 2 AS node_key, pr
       |FROM r$PrRounds
       |ORDER BY node_type, node_key""".stripMargin
  }

  /** Deterministic ~5% seed set for personalized PageRank (hash-
    * membership, so seeds always exist in the graph and both engines
    * pick the identical set). */
  private def pprSeed(c: Column): Column =
    hash60(concat(lit("ppr:"), c.cast("string"))) % 20 === 0
  private def pprSeedSql(x: String): String =
    s"${hash60Sql(s"'ppr:' || $x")} % 20 = 0"

  /** Personalized PageRank — the random-walk-with-restart primitive
    * behind graph-based recommendation and trust propagation: teleport
    * mass returns to a SEED set (here a deterministic ~5% hash slice
    * of nodes) instead of the uniform vector, so rank concentrates in
    * the seeds' neighborhood and the output ranks every node by
    * proximity-via-walks to the seeds — what `graph_pagerank`'s
    * global centrality cannot express. Same [[PrRounds]] synchronous
    * supersteps, same two keyed shuffles per round, same quantized
    * DECIMAL-exact arithmetic; the only change is the restart vector:
    * r₀ = 1/|S| on seeds, each round adds (1−d)/|S| to seed nodes
    * only. Rank mass stays exactly 1 (no dangling nodes), which the
    * spec pins along with seed-neighborhood concentration.
    *
    * Scale: identical to `graph_pagerank` — the seed set rides as a
    * row-local hash predicate (never a join), |S| as one broadcast
    * scalar row. */
  private def graphPagerankPersonalized(s: SparkSession, d: String) = {
    import s.implicits._
    val edges = coOrderEdges(s, d)
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("outdeg"))
    val sStats = deg.filter(pprSeed($"src"))
      .agg(count(lit(1)).as("n_seeds")) // 1 row
    var ranks = deg.crossJoin(broadcast(sStats))
      .select($"src".as("node"),
        roundHalfUp(when(pprSeed($"src"), lit(1.0) / $"n_seeds")
          .otherwise(lit(0.0)), 9).as("pr"))
    for (_ <- 1 to PrRounds) {
      val contrib = edges.join(deg, "src")
        .join(ranks, $"src" === $"node")
        .select($"dst", roundHalfUp($"pr" / $"outdeg", 12).as("c"))
      ranks = contrib.groupBy($"dst")
        .agg(sum($"c".cast(Dec12)).cast("double").as("s"))
        .crossJoin(broadcast(sStats))
        .select($"dst".as("node"),
          roundHalfUp(when(pprSeed($"dst"),
            lit(1.0 - Damping) / $"n_seeds").otherwise(lit(0.0)) +
            lit(Damping) * $"s", 9).as("pr"))
    }
    ranks.select(
        when($"node" % 2 === 0, lit("customer")).otherwise(lit("supplier"))
          .as("node_type"),
        expr("node div 2").cast("long").as("node_key"), $"pr",
        pprSeed($"node").as("is_seed"))
      .orderBy($"node_type", $"node_key")
  }

  private def pprOracle: String = {
    def round(i: Int): String = {
      val contrib = roundHalfUpSql(s"r${i - 1}.pr / d.outdeg", 12)
      val damped = roundHalfUpSql(
        s"CASE WHEN ${pprSeedSql("e.dst")} THEN ${1.0 - Damping} / ns.n " +
          s"ELSE 0.0 END + $Damping * " +
          s"CAST(SUM(CAST($contrib AS DECIMAL(27,12))) AS DOUBLE)", 9)
      s"""r$i AS (
         |  SELECT e.dst AS node, $damped AS pr
         |  FROM edges e
         |  JOIN deg d ON d.src = e.src
         |  JOIN r${i - 1} ON r${i - 1}.node = e.src
         |  CROSS JOIN ns
         |  GROUP BY e.dst, ns.n
         |)""".stripMargin
    }
    val rounds = (1 to PrRounds).map(round).mkString(",\n")
    s"""WITH co AS (
       |  SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
       |),
       |edges AS (
       |  SELECT cust * 2 AS src, supp * 2 + 1 AS dst FROM co
       |  UNION ALL
       |  SELECT supp * 2 + 1 AS src, cust * 2 AS dst FROM co
       |),
       |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
       |ns AS (
       |  SELECT COUNT(*) AS n FROM deg WHERE ${pprSeedSql("src")}
       |),
       |r0 AS (
       |  SELECT src AS node,
       |    ${roundHalfUpSql(
            s"CASE WHEN ${pprSeedSql("src")} THEN 1.0 / ns.n " +
              "ELSE 0.0 END", 9)} AS pr
       |  FROM deg CROSS JOIN ns
       |),
       |$rounds
       |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       |  node // 2 AS node_key, pr,
       |  ${pprSeedSql("node")} AS is_seed
       |FROM r$PrRounds
       |ORDER BY node_type, node_key""".stripMargin
  }

  private val PrMaxRounds = 16
  /** L1 delta-mass stop threshold. The co-order graph is BIPARTITE
    * (customer↔supplier), so rank mass oscillates between the two
    * sides and the residual decays as the pure teleport series:
    * measured delta-mass is ≈1.49·0.85^(k−1) at BOTH sf0.01 and sf0.1
    * — scale-INVARIANT, because it is governed by the damping factor,
    * not the graph size. At 0.25 the loop stops at round 12 at any
    * scale (and would at 100×) — and the measurement answers the
    * "is 5 rounds enough?" question honestly: at round 5, 0.78 of the
    * total rank mass is still moving. */
  private[graft] val PrTol = 0.25
  /** Spec visibility for the fixpoint-inside-bound invariant. */
  private[graft] def PrMaxRoundsForSpec: Int = PrMaxRounds

  /** Tolerance-terminated PageRank — `graph_pagerank`'s production
    * twin, the `graph_components_converged` pattern applied to rank
    * iteration: run until the per-round L1 delta mass drops below
    * [[PrTol]] (an exact DECIMAL sum of 9 dp-quantized per-node
    * deltas, so both engines compute the bit-identical stop round),
    * bounded by [[PrMaxRounds]]. Each round is the same two keyed
    * shuffles as the fixed-round op; the probe is one scalar aggregate
    * feeding control flow (the honest Pregel pattern, priced in
    * BASELINE); `rounds_run` reports where the tolerance landed so the
    * convergence behavior is a queryable artifact, not a code comment. */
  private def graphPagerankConverged(s: SparkSession, d: String) = {
    import s.implicits._
    val (ranks, rounds) = pagerankConvergedOf(coOrderEdges(s, d))
    ranks.select(
        when($"node" % 2 === 0, lit("customer")).otherwise(lit("supplier"))
          .as("node_type"),
        expr("node div 2").cast("long").as("node_key"), $"pr",
        lit(rounds).cast("int").as("rounds_run"))
      .orderBy($"node_type", $"node_key")
  }

  /** Spec hook: the tolerance loop over an arbitrary symmetric edge
    * frame — returns ((node, pr) at the stop round, rounds run).
    *
    * Unlike the unrolled 5-round chain (whose NOTE above explains
    * ReuseExchange already dedups its identical per-round subtrees
    * inside ONE job), the tolerance loop runs each round as separate
    * jobs bracketed by `localCheckpoint`, so the loop-invariant
    * edges⋈outdeg wiring must be a real cache — pre-partitioned on
    * the per-round join key, the [[componentsConvergedOf]] shape. */
  private[graft] def pagerankConvergedOf(edges: DataFrame,
      init: Option[DataFrame] = None): (DataFrame, Int) = {
    val s = edges.sparkSession
    import s.implicits._
    // same small-graph physical gate as the cc/louvain loops: the
    // per-round rank frames are stats-free checkpoint leaves, so
    // below the gate they ride explicit broadcasts into the keyed
    // folds and the loop runs with edge-scaled partitions, AQE off
    // (its per-exchange stage jobs were 12.2 s of the 13.7 s warm
    // run, 95 broadcast-thread stages for a 16-round loop)
    val g = SmallData.graph(s, edges.count())
    g.withConfs {
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("outdeg"))
    // The within-partition sort only pays above the gate, where the
    // per-round join is a sort-merge over the cached src runs; below
    // it the rank side rides an explicit broadcast hash join, which
    // never reads sorted runs — skip the sort there (round-18).
    val wired0 = edges.join(deg, "src").repartition($"src")
    val wired = (if (g.small) wired0
      else wired0.sortWithinPartitions($"src")).cache()
    // One scalar job up front (the honest control-flow pattern): as a
    // broadcast 1-row frame the node count would re-derive its whole
    // edge lineage EVERY round — nothing in the loop caches it — which
    // doubled the per-round cost when first measured.
    val nNodes = wired.select($"src").distinct().count()
    val nodes = wired.select($"src".as("node")).distinct()
    var ranks = (init match {
      // warm start: stored ranks where present, uniform mass for nodes
      // the store has never seen (the day's new arrivals)
      case Some(st) => nodes
        .join(st.select($"node", $"pr".as("sp")), Seq("node"), "left")
        .select($"node",
          coalesce($"sp", roundHalfUp(lit(1.0 / nNodes), 9)).as("pr"))
      case None => nodes
        .select($"node", roundHalfUp(lit(1.0 / nNodes), 9).as("pr"))
    }).localCheckpoint()
    var round = 0
    var dm = Double.MaxValue
    while (round < PrMaxRounds && dm >= PrTol) {
      round += 1
      // prev rides the round plan and the checkpoint is LAZY, so the
      // delta probe's aggregate is the one job that materializes the
      // round — one Spark job per superstep, not three (round, probe
      // join, checkpoint); on loop state this small the job floor IS
      // the operator's cost, so halving jobs halves the op.
      // BOTH rank attaches reference the SAME unprojected broadcast
      // frame keyed on node, so the two build sides canonicalize to
      // one exchange and ReuseExchange collects the broadcast ONCE
      // per round instead of twice (round-18: the projected `prev`
      // build side was a second, distinct broadcast job every round —
      // 40 broadcast stages, 4.2 s of the incremental op's 13.6).
      val rb = g.bc(ranks)
      val next = wired.join(rb.as("r1"), $"src" === $"r1.node")
        .select($"dst", roundHalfUp($"r1.pr" / $"outdeg", 12).as("c"))
        .groupBy($"dst")
        .agg(sum($"c".cast(Dec12)).cast("double").as("s"))
        .select($"dst".as("node"),
          roundHalfUp(lit((1.0 - Damping) / nNodes) + lit(Damping) * $"s", 9)
            .as("pr"))
        .as("nx")
        .join(rb.as("r2"), $"nx.node" === $"r2.node")
        .select($"nx.node".as("node"), $"nx.pr".as("pr"),
          $"r2.pr".as("prev"))
        .localCheckpoint(false)
      dm = {
        // NULL on an empty graph (SUM over zero rows) = converged
        val r = next
          .agg(sum(roundHalfUp(abs($"pr" - $"prev"), 9).cast(Dec12))
            .cast("double"))
          .head
        if (r.isNullAt(0)) 0.0 else r.getDouble(0)
      }
      ranks = next.select($"node", $"pr")
    }
    // every loop round is checkpoint-backed by the delta probe's
    // action, so the wiring cache has served its purpose — drop it
    // (repeated calls in a long-lived session must not accumulate
    // cached blocks; the incremental op calls this twice per run)
    wired.unpersist(false)
    (finalCheckpoint(ranks), round)
    }
  }

  /** Oracle: unroll [[PrMaxRounds]] rounds + their delta probes, pick
    * the first round whose delta mass is below [[PrTol]] (else the
    * bound), and emit THAT round's vector — every CTE the engine's
    * loop would have produced, with the stop decision made in SQL.
    * All rounds are `AS MATERIALIZED`: r{i} is referenced by r{i+1},
    * two delta probes, and the round-pick union, and DuckDB's default
    * inlining would re-expand the whole prefix per reference. */
  /** The unrolled tolerance loop as CTE text: `${p}r1..${p}r{max}`
    * rounds off a caller-provided `${p}r0`/`${p}edges`/`${p}deg`/
    * `${p}n`, the per-round delta probes, the stop pick, and
    * `${p}allr` — shared by the converged and incremental oracles so
    * every variant walks bit-identical round arithmetic. */
  private def prUnrolledSql(p: String): String = {
    val rounds = (1 to PrMaxRounds).map(prRoundSql(_, mat = true, p = p))
      .mkString(",\n")
    val deltas = (1 to PrMaxRounds).map { i =>
      s"""${p}d$i AS MATERIALIZED (
         |  SELECT $i AS round,
         |    CAST(SUM(CAST(${roundHalfUpSql("ABS(a.pr - b.pr)", 9)}
         |      AS DECIMAL(27,12))) AS DOUBLE) AS dm
         |  FROM ${p}r$i a JOIN ${p}r${i - 1} b ON a.node = b.node
         |)""".stripMargin
    }.mkString(",\n")
    val dunion = (1 to PrMaxRounds).map(i => s"SELECT * FROM ${p}d$i")
      .mkString(" UNION ALL ")
    val runion = (1 to PrMaxRounds)
      .map(i => s"SELECT $i AS round, node, pr FROM ${p}r$i")
      .mkString(" UNION ALL ")
    s"""$rounds,
       |$deltas,
       |${p}stop AS (
       |  SELECT CAST(COALESCE(MIN(round), $PrMaxRounds) AS INT) AS sr
       |  FROM ($dunion) t WHERE dm < $PrTol
       |),
       |${p}allr AS ($runion)""".stripMargin
  }

  private def pagerankConvergedOracle: String = {
    s"""WITH co AS (
       |  SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
       |),
       |edges AS (
       |  SELECT cust * 2 AS src, supp * 2 + 1 AS dst FROM co
       |  UNION ALL
       |  SELECT supp * 2 + 1 AS src, cust * 2 AS dst FROM co
       |),
       |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
       |n AS (SELECT COUNT(*) AS n_nodes FROM deg),
       |r0 AS MATERIALIZED (
       |  SELECT src AS node, ${roundHalfUpSql("1.0 / n.n_nodes", 9)} AS pr
       |  FROM deg CROSS JOIN n
       |),
       |${prUnrolledSql("")}
       |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       |  node // 2 AS node_key, pr, s.sr AS rounds_run
       |FROM allr CROSS JOIN stop s WHERE allr.round = s.sr
       |ORDER BY node_type, node_key""".stripMargin
  }

  /** Incremental PageRank — rank maintenance under edge ingest, the
    * last member of the incremental family (pairs, clusters, lexical,
    * SCD2, semantic, IVF/IVFPQ already maintain their stores). The
    * store is yesterday's converged rank vector over the old edge set
    * (deterministic ~10% of ORDERS held out as today's batch, the
    * dedup family's `hash60("inc:"||key) % 10` convention); today's
    * merge WARM-STARTS [[pagerankConvergedOf]] from that vector —
    * stored ranks where present, uniform teleport mass for nodes the
    * store has never seen — and re-converges on the full graph.
    *
    * The op's value is the measured round count: the warm start's
    * initial displacement from the new fixpoint is only the
    * increment's perturbation, so the L1 delta mass starts far below
    * the cold start's oscillating teleport series and the tolerance
    * loop stops at `rounds_warm` = 1 (measured at sf0.01 AND sf0.1)
    * vs the cold start's scale-invariant 12
    * (`graph_pagerank_converged`) — the nightly superstep bill
    * collapses to the store read plus one merge round, queryable from
    * the output instead of asserted in prose. Store round-trip
    * (parquet write → read → warm start) is spec-proven identical to
    * the in-query stand-in, the `scd2_incremental` pattern.
    *
    * Scale: both loops are the converged op's two-shuffle supersteps;
    * the store is one (node, pr) row per vertex — the artifact a
    * 1000-executor nightly job persists. Nothing here is
    * increment²-shaped; the warm loop's per-round cost equals the cold
    * loop's, the saving is purely the round count. */
  private def graphPagerankIncremental(s: SparkSession, d: String) = {
    import s.implicits._
    // ONE orders⋈lineitem pass feeds both loops (round-18): the pair
    // fold carries an any-old-order flag, so the old edge set (pairs
    // with ≥1 order outside today's ~10% batch — exactly the oracle's
    // DISTINCT-over-filtered-orders set) and the full set are two
    // projections of one cached |pairs|-row frame instead of two
    // full joins + distincts over the fact tables.
    val co = Tables.orders(s, d).select($"o_orderkey", $"o_custkey")
      .join(Tables.lineitem(s, d).select($"l_orderkey", $"l_suppkey"),
        $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_custkey".as("cust"), $"l_suppkey".as("supp"))
      .agg(max(when(
        hash60(concat(lit("inc:"), $"o_orderkey")) % 10 =!= 0, 1)
        .otherwise(0)).as("has_old"))
      .cache()
    def doubled(c: DataFrame) = c
      .select(($"cust" * 2).as("src"), ($"supp" * 2 + 1).as("dst"))
      .unionByName(
        c.select(($"supp" * 2 + 1).as("src"), ($"cust" * 2).as("dst")))
    val (store, rStore) = pagerankConvergedOf(
      doubled(co.filter($"has_old" === 1).select($"cust", $"supp")))
    val (ranks, rWarm) = pagerankConvergedOf(
      doubled(co.select($"cust", $"supp")), Some(store))
    co.unpersist(false)
    ranks.select(
        when($"node" % 2 === 0, lit("customer")).otherwise(lit("supplier"))
          .as("node_type"),
        expr("node div 2").cast("long").as("node_key"), $"pr",
        lit(rStore).cast("int").as("rounds_store"),
        lit(rWarm).cast("int").as("rounds_warm"))
      .orderBy($"node_type", $"node_key")
  }

  /** Oracle: the converged unroll TWICE — once over the old edge set
    * (prefix `st`, producing the store vector at its own stop round),
    * once over the full graph with `r0 = COALESCE(store.pr, 1/n)`
    * (the warm init) — so DuckDB walks the exact store-build and
    * re-converge arithmetic the engine's two loops execute. */
  private def pagerankIncrementalOracle: String = {
    s"""WITH stco AS (
       |  SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
       |  WHERE ${hash60Sql("'inc:' || o.o_orderkey")} % 10 <> 0
       |),
       |stedges AS (
       |  SELECT cust * 2 AS src, supp * 2 + 1 AS dst FROM stco
       |  UNION ALL
       |  SELECT supp * 2 + 1 AS src, cust * 2 AS dst FROM stco
       |),
       |stdeg AS (SELECT src, COUNT(*) AS outdeg FROM stedges GROUP BY src),
       |stn AS (SELECT COUNT(*) AS n_nodes FROM stdeg),
       |str0 AS MATERIALIZED (
       |  SELECT src AS node, ${roundHalfUpSql("1.0 / n.n_nodes", 9)} AS pr
       |  FROM stdeg CROSS JOIN stn n
       |),
       |${prUnrolledSql("st")},
       |store AS MATERIALIZED (
       |  SELECT node, pr FROM stallr CROSS JOIN ststop s
       |  WHERE stallr.round = s.sr
       |),
       |co AS (
       |  SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
       |),
       |edges AS (
       |  SELECT cust * 2 AS src, supp * 2 + 1 AS dst FROM co
       |  UNION ALL
       |  SELECT supp * 2 + 1 AS src, cust * 2 AS dst FROM co
       |),
       |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
       |n AS (SELECT COUNT(*) AS n_nodes FROM deg),
       |r0 AS MATERIALIZED (
       |  SELECT d.src AS node,
       |    COALESCE(st.pr, ${roundHalfUpSql("1.0 / n.n_nodes", 9)}) AS pr
       |  FROM deg d CROSS JOIN n LEFT JOIN store st ON st.node = d.src
       |),
       |${prUnrolledSql("")}
       |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       |  node // 2 AS node_key, pr,
       |  sts.sr AS rounds_store, s.sr AS rounds_warm
       |FROM allr CROSS JOIN stop s CROSS JOIN ststop sts
       |WHERE allr.round = s.sr
       |ORDER BY node_type, node_key""".stripMargin
  }

  /** Supplier co-supply edges: two suppliers are adjacent when they
    * ship lines of the same order. Canonical undirected form (a < b),
    * DISTINCT — the unipartite projection the triangle family needs
    * (the customer↔supplier graph is bipartite, hence triangle-free).
    * Exposed to specs so hand graphs can exercise the orientation. */
  private def coSupplyEdges(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = Tables.lineitem(s, d)
      .select($"l_orderkey", $"l_suppkey").distinct()
    pairs.as("x").join(pairs.as("y"), "l_orderkey")
      .filter($"x.l_suppkey" < $"y.l_suppkey")
      .select($"x.l_suppkey".as("a"), $"y.l_suppkey".as("b"))
      .distinct()
  }

  /** Per-node triangle participation + local clustering coefficient
    * over the co-supply graph.
    *
    * Scale design: the classic compact-forward orientation — rank
    * nodes by (degree, id), orient every edge low→high rank, build
    * wedges by self-joining oriented edges on the middle vertex, close
    * them with a semi-check join on the third edge. Wedge count is
    * Σ outdeg(v)², and degree-ranking bounds every out-degree by
    * O(√|E|), so the join never explodes on a hub the way naive a<b
    * orientation does. Each triangle materializes exactly ONCE (its
    * rank-ordered orientation), so the per-node counts are
    * orientation-invariant — the oracle uses plain id-order and must
    * agree by construction. Three keyed shuffles total (orient, wedge,
    * close), all on edge keys.
    *
    * Cross-engine determinism: counts and integer degrees only; the
    * coefficient 2T / d(d-1) divides exact integers as doubles
    * (identical IEEE results), NULLIF-guarded for degree-1 nodes. */
  private[graft] def triangleCount(edges: DataFrame): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val deg = edges.select($"a".as("node"), $"b".as("other"))
      .unionByName(edges.select($"b".as("node"), $"a".as("other")))
      .groupBy($"node").agg(count(lit(1)).as("degree"))
    // orient low(deg,id) → high(deg,id)
    val da = deg.select($"node".as("a"), $"degree".as("dega"))
    val db = deg.select($"node".as("b"), $"degree".as("degb"))
    val oriented = edges.join(da, "a").join(db, "b")
      .select(
        when($"dega" < $"degb" || ($"dega" === $"degb" && $"a" < $"b"),
          struct($"a".as("lo"), $"b".as("hi")))
          .otherwise(struct($"b".as("lo"), $"a".as("hi"))).as("e"))
      .select($"e.lo", $"e.hi")
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"), $"e1.hi" === $"e2.lo")
      .select($"e1.lo".as("x"), $"e1.hi".as("y"), $"e2.hi".as("z"))
    val tris = wedges.join(oriented.as("e3"),
      $"x" === $"e3.lo" && $"z" === $"e3.hi", "leftsemi")
    val perNode = tris
      .select(explode(array($"x", $"y", $"z")).as("node"))
      .groupBy($"node").agg(count(lit(1)).as("n_triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select($"node".as("supplier"), $"degree",
        coalesce($"n_triangles", lit(0L)).as("n_triangles"),
        roundHalfUp(lit(2.0) * coalesce($"n_triangles", lit(0L)) /
          nullif($"degree" * ($"degree" - 1), lit(0)), 9).as("clustering"))
      .orderBy($"supplier")
  }

  private def graphTriangles(s: SparkSession, d: String) =
    triangleCount(coSupplyEdges(s, d))

  private def trianglesOracle: String =
    s"""WITH pairs AS (
       |  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
       |),
       |edges AS (
       |  SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
       |  FROM pairs x JOIN pairs y
       |    ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey
       |),
       |deg AS (
       |  SELECT node, COUNT(*) AS degree FROM (
       |    SELECT a AS node FROM edges UNION ALL SELECT b FROM edges
       |  ) GROUP BY node
       |),
       |tris AS (
       |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |  FROM edges e1
       |  JOIN edges e2 ON e2.a = e1.b
       |  WHERE EXISTS (SELECT 1 FROM edges e3
       |                WHERE e3.a = e1.a AND e3.b = e2.b)
       |),
       |pernode AS (
       |  SELECT node, COUNT(*) AS n_triangles FROM (
       |    SELECT x AS node FROM tris
       |    UNION ALL SELECT y FROM tris
       |    UNION ALL SELECT z FROM tris
       |  ) GROUP BY node
       |)
       |SELECT d.node AS supplier, d.degree,
       |  COALESCE(p.n_triangles, 0) AS n_triangles,
       |  ${roundHalfUpSql(
      "2.0 * COALESCE(p.n_triangles, 0) / NULLIF(d.degree * (d.degree - 1), 0)",
      9)} AS clustering
       |FROM deg d LEFT JOIN pernode p ON p.node = d.node
       |ORDER BY supplier""".stripMargin

  /** Log₂-binned degree distribution of the co-order graph — the
    * "is this graph power-law?" probe that sizes every downstream
    * graph job (hub detection, partitioning strategy, whether PageRank
    * needs skew handling).
    *
    * Scale: degree is one keyed count shuffle over the edge list; the
    * binning collapses nodes onto ≤ 64 rows map-side, and the share
    * window runs over those bin rows only. The bin index is
    * `length(bin(degree)) - 1` — INTEGER arithmetic on the binary
    * string in both engines, immune to the `floor(log2(2^k))`
    * float-edge ambiguity. */
  private def graphDegrees(s: SparkSession, d: String) = {
    import s.implicits._
    val all = org.apache.spark.sql.expressions.Window.partitionBy()
    coOrderEdges(s, d)
      .groupBy($"src").agg(count(lit(1)).as("degree"))
      .groupBy((length(bin($"degree")) - 1).cast("long").as("degree_bin"))
      .agg(count(lit(1)).as("n_nodes"),
        min($"degree").as("min_degree"), max($"degree").as("max_degree"))
      .withColumn("share", roundHalfUp(
        lit(1.0) * $"n_nodes" / sum($"n_nodes").over(all), 6))
      .orderBy($"degree_bin")
  }

  private def degreesOracle: String =
    s"""WITH co AS (
       |  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |),
       |edges AS (
       |  SELECT cust * 2 AS src, supp * 2 + 1 AS dst FROM co
       |  UNION ALL
       |  SELECT supp * 2 + 1 AS src, cust * 2 AS dst FROM co
       |),
       |deg AS (SELECT src, COUNT(*) AS degree FROM edges GROUP BY src),
       |bins AS (
       |  SELECT CAST(length(bin(degree)) - 1 AS BIGINT) AS degree_bin,
       |    COUNT(*) AS n_nodes, MIN(degree) AS min_degree,
       |    MAX(degree) AS max_degree
       |  FROM deg GROUP BY 1
       |)
       |SELECT degree_bin, n_nodes, min_degree, max_degree,
       |  ${roundHalfUpSql("1.0 * n_nodes / SUM(n_nodes) OVER ()", 6)}
       |    AS share
       |FROM bins
       |ORDER BY degree_bin""".stripMargin

  private val CcRounds = 6

  /** Connected components of the co-order graph by bounded min-label
    * propagation — the explicit graph-family form of the machinery
    * `dedup_clusters` applies to the near-dup pair graph: every node's
    * label is the MINIMUM node id reachable within [[CcRounds]] hops
    * (labels shrink monotonically; on this graph's diameter the bound
    * converges to true components, and the bound itself is the latency
    * knob a 1000-executor job tunes — `Dedup.clustersConverged` shows
    * the iterate-to-fixpoint variant of the same loop).
    *
    * Scale: per round one src-keyed join ships labels along edges and
    * one map-side-combined min-aggregate collapses them — the same two
    * shuffles per superstep as [[graphPagerank]], state = one
    * (node, label) row per vertex. Labels are exact integers, so no
    * quantization is needed for cross-engine identity. */
  // CLOSED-neighborhood form (self-loops added to the edge list), the
  // same shape as `dedup_clusters`: each round is exactly ONE join +
  // one min-aggregate and the label table is consumed ONCE — the
  // union-with-previous form reads labels twice per round, which under
  // lazy evaluation doubles the recompute tree every round (2^rounds:
  // measured 72 s at sf0.1 vs ~1 s for this form).
  /** [[CcRounds]] rounds of min-label propagation over the closed
    * (self-edge-augmented) edge list — the shared core of
    * `graph_components` and `graph_modularity`'s partition.
    *
    * Physical shape: the closed list is partitioned by `src` ONCE and
    * cached, so the per-round groupBy(src) inherits its partitioning
    * (the broadcast-hash label attach preserves it) — one edge
    * shuffle total instead of one per superstep, the
    * partitioning-reuse pattern a 1000-executor Pregel job lives by.
    * Below the small-graph gate the |V|-row label frame additionally
    * carries an EXPLICIT broadcast (it is a chained aggregate with no
    * stats at static-planning time) and the loop runs with
    * edge-scaled shuffle partitions and AQE off — the per-round
    * broadcast threads otherwise re-plan and re-submit each tiny
    * exchange as its own stage-job. Codegen stays ON either way: the
    * loop is |E|-row passes, where compiled row throughput wins. */
  private[graft] def ccLabels(s: SparkSession, edges: DataFrame)
      : DataFrame = {
    import s.implicits._
    val g = SmallData.graph(s, edges.count())
    g.withConfs {
    val nodes = edges.select($"src".as("node")).distinct()
    val closed = edges
      .unionByName(nodes.select($"node".as("src"), $"node".as("dst")))
      .repartition($"src").sortWithinPartitions($"src")
      .cache()
    var labels = nodes.select($"node", $"node".as("label"))
    for (_ <- 1 to CcRounds) {
      labels = closed.join(g.bc(labels), $"dst" === $"node")
        .groupBy($"src").agg(min($"label").as("label"))
        .withColumnRenamed("src", "node")
    }
    val out = finalCheckpoint(labels)
    closed.unpersist(false)
    out
    }
  }

  private def graphComponents(s: SparkSession, d: String) = {
    import s.implicits._
    ccLabels(s, coOrderEdges(s, d))
      .select(
        when($"node" % 2 === 0, lit("customer")).otherwise(lit("supplier"))
          .as("node_type"),
        expr("node div 2").cast("long").as("node_key"),
        $"label".as("component"))
      .orderBy($"node_type", $"node_key")
  }

  /** Modularity of the [[graphComponents]] partition — the
    * partition-quality score (Newman Q) that tells you whether the
    * component/cluster structure is REAL before you act on it (cap a
    * syndication family, peel a spam cluster): per community,
    * `in_c/M − (deg_c/M)²` over the directed symmetric edge list
    * (M = all directed edges, so the undirected 2m cancels); Q = the
    * sum over communities, in [−1, 1], ≈ 0 for hash-random structure.
    * Labels are the SAME bounded-round propagation as
    * `graph_components` (its oracle CTEs reused verbatim), so the
    * score measures exactly the partition that op ships.
    *
    * Scale: two label joins on the edge key + map-side-combined
    * aggregates onto |communities| rows; the 1-row edge total rides a
    * broadcast cross join. The score is exact-integer counts divided
    * once at the end — one literal formula order, both engines. */
  private def graphModularity(s: SparkSession, d: String) = {
    import s.implicits._
    // edges cached (the score folds reference it three times — mTot,
    // degrees, intra-community count — and each uncached reference
    // re-derived the orders⋈lineitem distinct); the output is
    // |communities|-sized, so materializing it inside lets the cache
    // release before the caller's action.
    val edges = coOrderEdges(s, d).cache()
    val out = modularityOf(edges, ccLabels(s, edges)).localCheckpoint()
    edges.unpersist(false)
    out
  }

  /** Per-community modularity rows from a directed-symmetric edge
    * list and a (node, label) partition — the [[graphModularity]]
    * core, reusable against any partition (GraphSpec feeds it the
    * two-triangles fixture whose Q = ½ is textbook). */
  private[graft] def modularityOf(edges: DataFrame,
                                  labelsIn: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    val labels = labelsIn.cache() // joined twice below
    val mTot = edges.agg(count(lit(1)).as("m")) // 1 row
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
    val dsum = labels.join(deg, $"node" === $"src")
      .groupBy($"label")
      .agg(count(lit(1)).as("n_nodes"), sum($"deg").as("degree_sum"))
    val inC = edges
      .join(labels.select($"node".as("src"), $"label".as("la")), "src")
      .join(labels.select($"node".as("dst"), $"label".as("lb")), "dst")
      .filter($"la" === $"lb")
      .groupBy($"la".as("label")).agg(count(lit(1)).as("n_in"))
    dsum.join(inC, Seq("label"), "left")
      .crossJoin(broadcast(mTot))
      .select($"label".as("component"), $"n_nodes",
        coalesce($"n_in", lit(0L)).as("internal_edges"),
        $"degree_sum",
        roundHalfUp(lit(1.0) * coalesce($"n_in", lit(0L)) / $"m" -
          (lit(1.0) * $"degree_sum" / $"m") * (lit(1.0) * $"degree_sum" / $"m"),
          6).as("contribution"))
      .orderBy($"component")
  }

  /** One parallel Louvain move phase (Blondel et al. 2008,
    * arXiv:0803.0476) from the singleton partition — the community-
    * IMPROVING pass `graph_modularity` (a scorer) lacks. Sequential
    * Louvain moves one node at a time; a naive all-nodes parallel
    * round is NOT safe (measured at sf0.01: label swaps between
    * restless singletons, then — with one side pinned — whole customer
    * cohorts herding onto the lowest-degree suppliers, Σdeg_c²
    * exploding 25M → 512M and the batch LOSING modularity). The safe
    * parallel subset shipped here: (1) only the even color moves (an
    * exact 2-coloring of the bipartite co-order graph — movers are
    * pairwise non-adjacent and every target community is stationary);
    * (2) each target community admits ONE mover (best gain, then
    * smallest node) — with unshared stationary targets the batch's ΔQ
    * is EXACTLY the sum of the individual gains, so a committed round
    * can only increase Q. The whole batch is still gated on the exact
    * modularity ordering (general graphs lose the additivity
    * guarantee; if Q would decrease the partition stands and
    * q_after = q_before). A full Louvain alternates colors and
    * re-derives gains round over round — this op is one such round,
    * the unit the loop repeats.
    *
    * All gain/gate arithmetic is exact integers over the directed-
    * symmetric list: with M directed edges, moving node i (degree k,
    * own-community degree deg_a, d_ia internal edges) into community b
    * satisfies ΔQ·M² = 2M(d_ib − d_ia) − 2k(deg_b − deg_a) − 2k², and
    * Q·M² = in_total·M − Σ_c deg_c² — so the argmax, the positivity
    * test, and the accept gate never compare floats (BIGINT-safe while
    * in_total·M < 2⁶³, i.e. to ~3·10⁹ directed edges; past that the
    * gate comparison moves to DECIMAL, nothing else changes).
    *
    * Scale: d_ic is one edge⋈label join folded map-side onto
    * (node, community) rows; candidate gains join that frame against
    * the ≤|communities| degree table; the per-node argmax window
    * partitions on node (never global); the two Q evaluations are
    * keyed joins + one-row aggregates. No stage touches N² anything. */
  private def graphLouvainStep(s: SparkSession, d: String) = {
    louvainStepOf(s, coOrderEdges(s, d).cache())
  }

  /** The move phase over any `(node, label)` base partition — split
    * out so GraphSpec can drive the two-triangles hand case. */
  private[graft] def louvainStepOf(s: SparkSession,
                                   edges: DataFrame): DataFrame = {
    import s.implicits._
    val mTot = edges.agg(count(lit(1)).as("m")) // 1 row
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("k"))
      .withColumnRenamed("src", "node").cache()
    // Singleton base specializes the general gain
    // 2M(d_ib−d_ia) − 2k(deg_b−deg_a) − 2k² to 2M − 2·k_src·k_dst per
    // DISTINCT edge (d_ia = 0, deg_a = k, d_ib = 1): no label joins,
    // no (node, community) fold — two degree lookups per edge row.
    // Half-coloring: only EVEN nodes move this phase (an exact
    // 2-coloring of the bipartite co-order graph — movers pairwise
    // non-adjacent, targets stationary). The DuckDB oracle keeps the
    // GENERAL formulation, so the hash gate proves this specialized
    // derivation equals the textbook algorithm.
    val cand = edges.filter($"src" % 2 === 0)
      .join(deg.select($"node".as("src"), $"k"), "src")
      .join(deg.select($"node".as("dst"), $"k".as("kb")), "dst")
      .crossJoin(broadcast(mTot))
      .select($"src".as("node"), $"dst".as("b"),
        (lit(2L) * $"m" - lit(2L) * $"k" * $"kb").as("gain"))
    val w = Window.partitionBy($"node").orderBy($"gain".desc, $"b".asc)
    // Per-TARGET capacity 1 (best gain wins the slot): movers are then
    // pairwise non-adjacent with stationary, unshared targets, so the
    // batch's ΔQ is EXACTLY Σ individual gains > 0 on the bipartite
    // graph — without the cap the per-node "best" move herds whole
    // customer cohorts onto the lowest-degree suppliers and the
    // (Σk_i)² degree cross-terms swamp the 1-edge in-gains (measured
    // at sf0.01: Σdeg_c² 25M → 512M, batch rejected).
    val wt = Window.partitionBy($"b").orderBy($"gain".desc, $"node".asc)
    val best = cand.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1 && $"gain" > 0)
      .withColumn("tr", row_number().over(wt))
      .filter($"tr" === 1)
      .select($"node", $"b").cache()
    val moved = deg.select($"node").join(best, Seq("node"), "left")
      .select($"node", coalesce($"b", $"node").as("label"))
    // Community stats in closed form — the gate's Q integers AND the
    // output rows derive from these frames; accepted node labels never
    // rejoin the edge list. Base (singletons): n_in = 0, degree = k.
    // Moved: group members by final label; a community has internal
    // edges (exactly 2: the one mover-target edge, both directions)
    // iff it received a mover AND its anchor node itself stayed.
    val sbst = deg.select($"node".as("label"),
      lit(1L).as("n_nodes"), lit(0L).as("n_in"), $"k".as("degree_sum"))
      .cache()
    val inC = best.join(best.select($"node".as("b2")),
        $"b" === $"b2", "left_anti")
      .select($"b".as("label"), lit(2L).as("n_in"))
    val smst = moved.join(deg, "node").groupBy($"label")
      .agg(count(lit(1)).cast("long").as("n_nodes"),
        sum($"k").as("degree_sum"))
      .join(inC, Seq("label"), "left")
      .select($"label", $"n_nodes",
        coalesce($"n_in", lit(0L)).as("n_in"), $"degree_sum")
      .cache()
    def qof(st: DataFrame) = st.agg(sum($"n_in").as("it"),
      sum($"degree_sum" * $"degree_sum").as("s2"))
    val qcmp = qof(sbst).select($"it".as("ib"), $"s2".as("sb"))
      .crossJoin(qof(smst).select($"it".as("im"), $"s2".as("sm")))
      .crossJoin(mTot)
      .withColumn("acc", $"im" * $"m" - $"sm" >= $"ib" * $"m" - $"sb")
      .withColumn("qbd",
        lit(1.0) * $"ib" / $"m" - lit(1.0) * $"sb" / $"m" / $"m")
      .withColumn("qad", when($"acc",
        lit(1.0) * $"im" / $"m" - lit(1.0) * $"sm" / $"m" / $"m")
        .otherwise($"qbd"))
      .select($"acc", roundHalfUp($"qbd", 6).as("q_before"),
        roundHalfUp($"qad", 6).as("q_after"))
      .cache() // 1 row, three consumers
    val accFlag = broadcast(qcmp.select($"acc"))
    val accepted = smst.crossJoin(accFlag).filter($"acc")
      .unionByName(sbst.crossJoin(accFlag).filter(!$"acc"))
    val out = accepted
      .crossJoin(broadcast(mTot))
      .select($"label".as("component"), $"n_nodes",
        $"n_in".as("internal_edges"), $"degree_sum",
        roundHalfUp(lit(1.0) * $"n_in" / $"m" -
          (lit(1.0) * $"degree_sum" / $"m") *
            (lit(1.0) * $"degree_sum" / $"m"), 6).as("contribution"))
      .crossJoin(broadcast(qcmp.select($"q_before", $"q_after")))
      .orderBy($"component")
      // ≤|communities| rows: eager-checkpoint so the op's caches have
      // served their (single-materialization) purpose here, then drop
      // them — repeated calls in a long-lived session must not
      // accumulate cached blocks
      .localCheckpoint()
    Seq(deg, best, sbst, smst, qcmp, edges).foreach(_.unpersist(false))
    out
  }

  /** The phase-1 ACCEPTED partition as labels — [[louvainStepOf]]'s
    * internal decision re-derived (same candidate/capacity/gate
    * arithmetic; the step op renders closed-form singleton stats, so
    * it never materializes this frame itself). Feeds phase 2. */
  private[graft] def louvainPhase1Labels(s: SparkSession,
                                         edges: DataFrame): DataFrame = {
    import s.implicits._
    // |V|-row sides broadcast below the small-graph gate (the
    // louvainMoveBest discipline): the caller's edge frame is cached
    // and the deg/best frames chain off stats-free plans, so the
    // static planner would sort-merge the |E|-row candidate stream
    // against them per attach.
    val bc = SmallData.graph(s, edges.count()).bc _
    val mTot = edges.agg(count(lit(1)).as("m"))
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("k"))
      .withColumnRenamed("src", "node").cache()
    val cand = edges.filter($"src" % 2 === 0)
      .join(bc(deg.select($"node".as("src"), $"k")), "src")
      .join(bc(deg.select($"node".as("dst"), $"k".as("kb"))), "dst")
      .crossJoin(broadcast(mTot))
      .select($"src".as("node"), $"dst".as("b"),
        (lit(2L) * $"m" - lit(2L) * $"k" * $"kb").as("gain"))
    val w = Window.partitionBy($"node").orderBy($"gain".desc, $"b".asc)
    val wt = Window.partitionBy($"b").orderBy($"gain".desc, $"node".asc)
    val best = cand.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1 && $"gain" > 0)
      .withColumn("tr", row_number().over(wt))
      .filter($"tr" === 1)
      .select($"node", $"b").cache()
    val moved = deg.select($"node").join(bc(best), Seq("node"), "left")
      .select($"node", coalesce($"b", $"node").as("label")).cache()
    // the step op's gate integers (singleton base: ib = 0, sb = Σk²)
    val qi = deg.agg(sum($"k" * $"k").as("sb"))
      .crossJoin(best.join(bc(best.select($"node".as("b2"))),
          $"b" === $"b2", "left_anti")
        .agg((count(lit(1)) * 2).as("im")))
      .crossJoin(moved.join(deg, "node").groupBy($"label")
        .agg(sum($"k").as("ds")).agg(sum($"ds" * $"ds").as("sm")))
      .crossJoin(mTot)
      .select(($"im" * $"m" - $"sm" >= lit(0L) * $"m" - $"sb").as("acc"))
    val out = moved.crossJoin(broadcast(qi))
      .select($"node", when($"acc", $"label").otherwise($"node").as("label"))
      .localCheckpoint()
    Seq(deg, best, moved).foreach(_.unpersist(false))
    out
  }

  /** One GENERAL-base Louvain move phase (the machinery phase 1's
    * singleton specialization avoids): per-node edge counts into each
    * neighbor community (`d_ic`), the textbook gain
    * `2M(d_ib − d_ia) − 2k(deg_b − deg_a) − 2k²` on exact integers,
    * movers restricted to one color (pairwise non-adjacent on the
    * bipartite graph), a SOURCE/TARGET-disjointness filter plus
    * capacity-1 windows per target AND per source community (so every
    * affected community sees exactly one membership event — the batch
    * additivity conditions), and the exact-integer Q gate with
    * fallback to the base partition. Output schema = the step op's
    * (component stats + q_before/q_after), stats computed generally
    * via two label joins (the `graph_modularity` folds). */
  private[graft] def louvainGeneralPhase(s: SparkSession, edges: DataFrame,
      base: DataFrame, moverParity: Int): DataFrame = {
    import s.implicits._
    // Same small-graph physical gate as louvainMultiLevelRun: below
    // 20M edges the phase's dozen keyed folds run interpreted with
    // edge-scaled shuffle partitions, and every |V|-or-smaller side
    // (labels, degrees, community degrees, d_ic, winners) rides an
    // explicit broadcast — the base label frame is a stats-free
    // checkpoint leaf, so the static planner otherwise sort-merged
    // the |E|-row folds against it (measured: 20.1 s of the step2
    // warm run sat in those broadcast/shuffle stages). Above the
    // gate nothing changes.
    val g = SmallData.louvain(s, edges.count())
    g.withConfs {
    val bc = g.bc _
    val mTot = edges.agg(count(lit(1)).as("m"))
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("k"))
      .withColumnRenamed("src", "node").cache()
    val lbl = base.cache()
    val cdeg = lbl.join(bc(deg), "node").groupBy($"label")
      .agg(sum($"k").as("degc")).cache()
    // only mover-side rows ever feed gains/deltas, so the edge fold
    // and the self-community decoration restrict to the mover parity
    // up front (community degrees still fold over ALL nodes)
    val dic = edges.filter($"src" % 2 === moverParity)
      .join(bc(lbl.select($"node".as("dst"), $"label".as("c"))), "dst")
      .groupBy($"src", $"c").agg(count(lit(1)).as("dcount"))
      .withColumnRenamed("src", "node").cache()
    val selfx = lbl.filter($"node" % 2 === moverParity)
      .join(bc(deg), "node")
      .join(bc(cdeg.select($"label", $"degc".as("deg_a"))), "label")
      .join(bc(dic.select($"node", $"c".as("label"), $"dcount".as("d_ia"))),
        Seq("node", "label"), "left")
      .select($"node", $"label".as("a"), $"k", $"deg_a",
        coalesce($"d_ia", lit(0L)).as("d_ia"))
    val cand = dic.select($"node", $"c".as("b"), $"dcount")
      .join(bc(selfx), "node")
      .filter($"b" =!= $"a")
      .join(bc(cdeg.select($"label".as("b"), $"degc".as("deg_b"))), "b")
      .crossJoin(broadcast(mTot))
      .select($"node", $"a", $"b", $"k", $"d_ia", $"dcount",
        (lit(2L) * $"m" * ($"dcount" - $"d_ia") -
          lit(2L) * $"k" * ($"deg_b" - $"deg_a") -
          lit(2L) * $"k" * $"k").as("gain"))
    // Argmax via max_by hash aggregation instead of row_number
    // windows: same winners (tie-break keys are unique per group —
    // (node, b) unique in cand, node unique in winners — and the
    // negated secondary key encodes "then smallest b/node"), but a
    // map-side-combined agg replaces each exchange+sort+window; the
    // ORACLE keeps the ROW_NUMBER formulation, so the hash gate
    // proves the argmax algebra.
    val winners = cand
      .groupBy($"node")
      .agg(max_by(struct($"a", $"b", $"k", $"d_ia", $"dcount", $"gain"),
        struct($"gain", -$"b")).as("w"))
      .select($"node", $"w.*")
      .filter($"gain" > 0)
      .cache()
    val disjoint = winners
      .join(bc(winners.select($"a".as("b")).distinct()), Seq("b"),
        "left_anti")
      .join(bc(winners.select($"b".as("a")).distinct()), Seq("a"),
        "left_anti")
    val best = disjoint
      .groupBy($"b")
      .agg(max_by(struct($"node", $"a", $"k", $"d_ia", $"dcount", $"gain"),
        struct($"gain", -$"node")).as("w"))
      .select($"b", $"w.*")
      .groupBy($"a")
      .agg(max_by(struct($"node", $"b", $"k", $"d_ia", $"dcount"),
        struct($"gain", -$"node")).as("w"))
      .select($"a", $"w.*").cache()
    // Base per-label stats: ONE edges⋈labels⋈labels fold + one keyed
    // degree fold. The MOVED side is then maintained by EXACT DELTAS —
    // the disjointness + capacity constraints guarantee each affected
    // community sees exactly one membership event, so
    // in_B += 2·d_iB, in_A −= 2·d_iA, deg_B += k, deg_A −= k are the
    // whole update (the production incremental shape; the ORACLE
    // recomputes the moved partition from scratch, so the hash gate
    // PROVES the delta maintenance). An earlier draft re-joined the
    // full edge list for the moved side too — 43 s vs ~20 s at sf0.1.
    val binc = edges
      .join(bc(lbl.select($"node".as("src"), $"label".as("la"))), "src")
      .join(bc(lbl.select($"node".as("dst"), $"label".as("lb"))), "dst")
      .filter($"la" === $"lb")
      .groupBy($"la".as("label")).agg(count(lit(1)).as("n_in")).cache()
    val bstat = lbl.join(bc(deg), "node").groupBy($"label")
      .agg(count(lit(1)).cast("long").as("n_nodes"),
        sum($"k").as("degree_sum")).cache()
    val dIn = best.select($"b".as("label"), (lit(2L) * $"dcount").as("din"))
      .unionByName(best.select($"a".as("label"),
        (lit(-2L) * $"d_ia").as("din")))
      .groupBy($"label").agg(sum($"din").as("din"))
    val dDeg = best.select($"b".as("label"), $"k".as("dk"), lit(1L).as("dn"))
      .unionByName(best.select($"a".as("label"), (-$"k").as("dk"),
        lit(-1L).as("dn")))
      .groupBy($"label").agg(sum($"dk").as("dk"), sum($"dn").as("dn"))
    // n_in = 0 rows are harmless here (Σ unaffected; the output joins
    // FROM mstat, which already dropped emptied labels)
    val minc = binc.join(dIn, Seq("label"), "full_outer")
      .select($"label",
        (coalesce($"n_in", lit(0L)) + coalesce($"din", lit(0L))).as("n_in"))
      .cache()
    val mstat = bstat.join(dDeg, Seq("label"), "left")
      .select($"label",
        ($"n_nodes" + coalesce($"dn", lit(0L))).as("n_nodes"),
        ($"degree_sum" + coalesce($"dk", lit(0L))).as("degree_sum"))
      .filter($"n_nodes" > 0L).cache()
    def scal(inc: DataFrame, st: DataFrame) =
      inc.agg(coalesce(sum($"n_in"), lit(0L)).as("i")).crossJoin(
        st.agg(sum($"degree_sum" * $"degree_sum").as("s")))
    // Gate scalars via ONE driver-side job (the pagerankConvergedOf
    // honest-control-flow pattern). The earlier broadcast-crossJoin
    // form spawned several broadcast jobs that each re-walked the
    // whole phase lineage BEFORE the caches had filled — measured
    // 24 s vs ~14 s for this one-pass form at sf0.1; the oracle keeps
    // the branch logic in SQL, so the hash gate proves the pick.
    val qrow = scal(binc, bstat).select($"i".as("ib"), $"s".as("sb"))
      .crossJoin(scal(minc, mstat).select($"i".as("im"), $"s".as("sm")))
      .crossJoin(mTot)
      .head
    def lg(i: Int): Long = if (qrow.isNullAt(i)) 0L else qrow.getLong(i)
    val (ib, sb, im, sm, m) = (lg(0), lg(1), lg(2), lg(3), lg(4))
    val acc = im * m - sm >= ib * m - sb
    // m = 0 only on an empty graph (then ib = im = 0 and q is NULL on
    // both engines via the oracle's division; here the frames below
    // are empty so the literals never render)
    def q(i: Long, s2: Long): Double =
      1.0 * i / m - 1.0 * s2 / m / m
    val qBefore = if (m == 0L) 0.0 else q(ib, sb)
    val qAfter = if (acc && m != 0L) q(im, sm) else qBefore
    def stats(inc: DataFrame, st: DataFrame) =
      st.join(inc, Seq("label"), "left")
        .select($"label", $"n_nodes", $"degree_sum",
          coalesce($"n_in", lit(0L)).as("n_in"))
    val chosen = if (acc) stats(minc, mstat) else stats(binc, bstat)
    val out = chosen
      .select($"label".as("component"), $"n_nodes",
        $"n_in".as("internal_edges"), $"degree_sum",
        roundHalfUp(lit(1.0) * $"n_in" / lit(m) -
          (lit(1.0) * $"degree_sum" / lit(m)) *
            (lit(1.0) * $"degree_sum" / lit(m)), 6).as("contribution"),
        roundHalfUp(lit(qBefore), 6).as("q_before"),
        roundHalfUp(lit(qAfter), 6).as("q_after"))
      .orderBy($"component")
      .localCheckpoint()
    Seq(deg, lbl, cdeg, dic, winners, best,
        binc, bstat, minc, mstat, edges)
      .foreach(_.unpersist(false))
    out
    }
  }

  /** Second Louvain phase — community refinement CONTINUES past the
    * round-12 move round: phase 1's accepted partition (re-derived by
    * [[louvainPhase1Labels]], the same arithmetic the step op gates)
    * becomes the base, and the ODD color moves through the
    * general-base machinery ([[louvainGeneralPhase]]) the singleton
    * phase specialized away — per-(node, community) edge folds, the
    * full textbook gain, and the exact-integer Q gate. `q_before`
    * here equals `graph_louvain_step`'s `q_after` (spec-pinned
    * continuity), so the two ops read as one trajectory.
    *
    * Scale: d_ic is one edge⋈label keyed fold; gains join that frame
    * against ≤|communities| degree rows; every window is keyed
    * (node / target / source community); the Q integers are two label
    * joins + one-row folds — the `graph_modularity` shape. Nothing
    * touches N². */
  private def graphLouvainStep2(s: SparkSession, d: String) = {
    val edges = coOrderEdges(s, d).cache()
    louvainGeneralPhase(s, edges, louvainPhase1Labels(s, edges),
      moverParity = 1)
  }

  // Multi-level Louvain bounds — the latency knobs a production job
  // tunes (the CcRounds convention): at most [[LouvMoveRounds]]
  // alternating-parity move rounds per level, at most [[LouvLevels]]
  // contraction levels. The oracle unrolls both bounds in full; the
  // engine's early exits are provable no-ops (a level whose rounds
  // accept nothing contracts to an isomorphic graph, so every later
  // round recomputes the identical no-move decision).
  private val LouvMoveRounds = 2
  private val LouvLevels = 3

  /** The accepted MOVE SET of one weighted general Louvain round over
    * `(src, dst, w)` edges (self-loops carry contracted communities'
    * internal weight) against `base` labels — the unit the multi-level
    * loop chains. Same algebra as [[louvainGeneralPhase]] with
    * `COUNT(*)` generalized to `SUM(w)` and d_ic excluding self-loops
    * (a mover's self-loop moves WITH it, so it cancels out of the gain
    * and of the global Σin_c delta — the derivation in the
    * [[graphLouvain]] scaladoc). Entirely LAZY: no action runs here.
    *
    * The per-round Q gate the oracle renders is PROVABLY always-accept
    * for this pipeline: capacity-1 + source/target disjointness make
    * per-move gain deltas exact (each affected community sees exactly
    * one membership event), so the gate margin
    * `(im·M − sm) − (ib·M − sb) = Σ accepted gains` is strictly
    * positive whenever any move exists — and with zero moves the
    * "moved" partition IS the base, so `base ⟕ best` is the correct
    * next label frame UNCONDITIONALLY. The engine therefore never
    * materializes a per-round gate probe (the round-14 profile showed
    * the serial probe jobs, not data movement, dominate this op); the
    * ORACLE still evaluates the gate CASE from scratch every round, so
    * the hash gate re-proves the always-accept argument on every
    * driver run.
    *
    * Returns one row per accepted mover:
    * (node, a, b, k, d_ia, dcount, deg_a, deg_b) — the label update
    * needs (node, b); the stats pass re-derives the gate integers'
    * exact deltas (ib += Σ2(d_iB − d_iA),
    * sb += Σ(2k(deg_B − deg_A) + 2k²)) from the rest. Intermediate
    * frames this round caches are appended to `cleanup`. */
  private[graft] def louvainMoveBest(s: SparkSession, wedges: DataFrame,
      deg: DataFrame, m: Long, base: DataFrame, level: Int, parity: Int,
      cleanup: scala.collection.mutable.ArrayBuffer[DataFrame])
      : DataFrame = {
    import s.implicits._
    // Mover coloring. Level 1 is the bipartite co-order graph, where
    // node % 2 is an EXACT 2-coloring (and keeps level 1 ≡ the
    // step1/step2 trajectory). Contracted levels are NOT bipartite and
    // community ids skew even (min-id labels), so a parity coloring
    // can trap symmetric swaps forever: two adjacent communities that
    // each win a move into the other are both killed by the
    // disjointness filter EVERY round (measured on the two-triangles
    // fixture: {0,1} ⇄ {2} deadlock at every level). A LEVEL-SALTED
    // hash coloring gives any deadlocked pair a fresh coin each level
    // — safety never depended on the coloring (the disjointness +
    // capacity-1 filters alone guarantee one membership event per
    // community), only liveness does.
    val moverPred =
      if (level == 1) $"dst" % 2 === parity
      else hash60(concat(lit(s"louv$level:"), $"dst".cast("string"))) % 2 ===
        parity
    // SYMMETRIC exchange-lean fold: the edge list stores BOTH
    // directions of every undirected edge, so d_ic(i) = Σ w over rows
    // (n → i) with label(n) = c — the LABEL ATTACH rides the src side,
    // co-partitioned with the wedge cache (zero shuffle), and the
    // mover restriction moves to dst. The (dst, c) partials map-side
    // combine before the ONE pair-sized shuffle; the old form instead
    // re-shuffled the whole edge list to dst every round (the probe
    // showed per-stage driver overhead × stage count, not data, is
    // this op's cost at test scale — and at real scale the saved |E|
    // exchange is the dominant data movement). The per-node argmax
    // orders by the node-constant-free score 2M·d_ic − 2k·deg_c
    // (gain = score + const(node), so the argmax and the `b ASC`
    // tie-break are IDENTICAL to the oracle's order-by-gain form);
    // the true gain is reconstructed for the >0 filter and the gate
    // deltas afterwards. c = a rows ride the same fold (their argmax
    // ordering key is NULL, which max_by skips) and produce d_ia in
    // place of the textbook form's extra dic self-join. The final
    // groupBy keys (node, k, a) start with the join key, so the
    // ninfo attach's partitioning satisfies it with no exchange.
    // |V|-sized frames broadcast into every attach below the small-
    // graph gate (cached/staged leaves carry no size stats, so the
    // static planner would sort-merge the edge fold per attach); the
    // co-partitioned shuffle shape stands above it.
    val bc = SmallData.louvain(s, m).bc _
    // deg broadcast for the same reason: base is a staged leaf, so
    // this |V|⋈|V| attach would sort-merge inside the fold's
    // broadcast threads every round
    val ninfo = base.join(bc(deg), "node").cache()
    cleanup += ninfo
    val cdeg = ninfo.groupBy($"label").agg(sum($"k").as("degc")).cache()
    cleanup += cdeg
    val fold = wedges.filter(moverPred && $"src" =!= $"dst")
      .join(bc(base.select($"node".as("src"), $"label".as("c"))), "src")
      .groupBy($"dst", $"c").agg(sum($"w").as("dcount"))
      .join(bc(cdeg.select($"label".as("c"), $"degc".as("deg_c"))), "c")
      .withColumnRenamed("dst", "node")
      .join(bc(ninfo.select($"node", $"label".as("a"), $"k")), "node")
      .groupBy($"node", $"k", $"a")
      .agg(
        max_by(struct($"c".as("b"), $"dcount", $"deg_c"),
          when($"c" =!= $"a",
            struct(lit(2L) * lit(m) * $"dcount" -
              lit(2L) * $"k" * $"deg_c", -$"c"))).as("x"),
        coalesce(sum(when($"c" === $"a", $"dcount")), lit(0L)).as("d_ia"))
      .filter($"x".isNotNull)
    val winners = fold
      .join(bc(cdeg.select($"label".as("a"), $"degc".as("deg_a"))), "a")
      .select($"node", $"a", $"x.b".as("b"), $"k", $"d_ia",
        $"x.dcount".as("dcount"), $"deg_a", $"x.deg_c".as("deg_b"))
      .withColumn("gain", lit(2L) * lit(m) * ($"dcount" - $"d_ia") -
        lit(2L) * $"k" * ($"deg_b" - $"deg_a") - lit(2L) * $"k" * $"k")
      .filter($"gain" > 0).cache()
    cleanup += winners
    // left_anti needs no deduplicated right side — the old .distinct()
    // calls were two pure-overhead aggregation stages per round
    val disjoint = winners
      .join(bc(winners.select($"a".as("b"))), Seq("b"), "left_anti")
      .join(bc(winners.select($"b".as("a"))), Seq("a"), "left_anti")
    disjoint.groupBy($"b")
      .agg(max_by(struct($"node", $"a", $"k", $"d_ia", $"dcount",
        $"deg_a", $"deg_b", $"gain"), struct($"gain", -$"node")).as("x"))
      .select($"b", $"x.*")
      .groupBy($"a")
      .agg(max_by(struct($"node", $"b", $"k", $"d_ia", $"dcount",
        $"deg_a", $"deg_b"), struct($"gain", -$"node")).as("x"))
      .select($"a", $"x.*")
  }

  /** Everything a louvain op needs from one multi-level run: the
    * composed per-original-node labels (lazy), per-level Q and move
    * counts, the CACHED level-1 wedge/degree frames (so the output
    * stats tail never re-folds the raw edge list), the edge total,
    * the run's small-data gate, and the cleanup thunk. */
  private[graft] final case class LouvainRun(
      labels: DataFrame, qLevels: Seq[Double], moves: Seq[Long],
      wedges1: DataFrame, deg1: DataFrame, m: Long,
      gate: SmallData.Gate, cleanup: () => Unit)

  /** The full multi-level loop as a spec-drivable hook: returns the
    * composed per-ORIGINAL-node labels (LAZY — the caller's output
    * action materializes it from the filled caches), the per-level Q
    * values (the running gate integers rendered once per level), the
    * per-level accepted move counts, and a cleanup thunk the caller
    * MUST invoke after materializing the labels (unpersists every
    * intermediate cache AND every lazily-checkpointed frame's blocks,
    * so no orphaned checkpoint blocks survive the call).
    *
    * Job structure: the m probe, then ONE SMALL EAGER JOB PER FOLD —
    * level-1 init scalars (ib₀ self-loop fold, sb₀ = Σk²) and, per
    * move round, a one-row aggregate over the staged best frame
    * (move count + the two exact gate deltas), ~15 sub-second jobs
    * end-to-end. A prior revision folded all of these into one
    * 12-branch union action ("3 driver jobs"); measured at sf0.1 the
    * union job read 22.9 s warm where the same folds run piecewise in
    * ~4 s — Catalyst does not deduplicate the branches' chained
    * lineages (no common-subplan reuse across a union; concurrent
    * branch stages re-materialize the shared upstream work), so
    * fewer-but-bigger jobs LOST to more-but-tiny ones by 6×. The
    * per-round gate remains provably always-accept (see
    * [[louvainMoveBest]]), so no job is a control-flow gate — the
    * stats are pure output decoration, and the oracle's from-scratch
    * gate evaluation re-proves that on every driver run.
    *
    * `level1Base` (the [[graphLouvainStore]] path) starts level 1
    * from an existing partition — e.g. the persisted phase-1 label
    * store — instead of singletons; its init rows then fold ib₀/sb₀
    * over the base labels (two extra keyed folds, same stats job). */
  private[graft] def louvainMultiLevel(s: SparkSession, edges0: DataFrame,
      level1Base: Option[DataFrame] = None)
      : (DataFrame, Seq[Double], Seq[Long], () => Unit) = {
    val r = louvainMultiLevelRun(s, edges0, level1Base)
    (r.labels, r.qLevels, r.moves, r.cleanup)
  }

  /** `refineLevels = true` runs the FULL LEIDEN cycle (Traag, Waltman
    * & van Eck 2019, arXiv:1810.08473 §A) instead of plain Louvain:
    * after each level's gated move rounds, the partition REFINES into
    * its connected fragments (EXACT per-community union-find —
    * [[graft.expressions.CcFragments]], one keyed shuffle), the graph
    * aggregates ON THE REFINED partition, and the
    * next level's move rounds start from each fragment's ORIGINAL
    * community (not singletons) — the constraint that lets whole
    * fragments relocate while keeping the standing partition's Q as
    * the floor. The output labels compose the FRAGMENT maps, so every
    * emitted community is a union of per-level connected fragments —
    * connected in the original graph by construction, UNCONDITIONALLY
    * (the refinement is exact, not round-bounded), the guarantee
    * Louvain lacks.
    * The Q-gate scalars carry across levels unchanged: the refined
    * contraction preserves both integers for the COMMUNITY partition
    * (fragments respect communities), and the base regroups fragments
    * back to exactly that partition. */
  private[graft] def louvainMultiLevelRun(s: SparkSession,
      edges0: DataFrame, level1Base: Option[DataFrame] = None,
      refineLevels: Boolean = false)
      : LouvainRun = {
    import s.implicits._
    // m first (fills the caller's edge cache), then partition count AS
    // A FUNCTION OF THE GRAPH SIZE (memory pattern: scale geometry
    // with N, don't pin it): ~200k edge rows per partition, floored at
    // 8, capped at the cluster's parallelism. At test scale this keeps
    // the dozens of |V|-sized stages at a handful of tasks each (the
    // per-stage scheduling floor, not data, dominates this op's bench
    // cost); at cluster scale the cap rises with the executor count.
    // Contracted levels shrink the graph, so their partition counts
    // shrink too (¼ per level, floored at 1).
    val m = edges0.count()
    // GRAFT_LOUV_TRACE=1: force-materialize at phase boundaries and
    // print wall-clock deltas (local diagnosis only; perturbs the lazy
    // staging, so never on in benchmarked runs).
    val trace = sys.env.get("GRAFT_LOUV_TRACE").contains("1")
    var traceT0 = System.nanoTime()
    def tr(tag: String, df: DataFrame = null): Unit = if (trace) {
      if (df != null) df.count()
      val t1 = System.nanoTime()
      println(f"    [louv] $tag%-28s ${(t1 - traceT0) / 1e9}%7.3f s")
      traceT0 = t1
    }
    val nPart = SmallData.graphPartitions(s, m)
    def nPartAt(level: Int): Int = math.max(4, nPart >> (level - 1))
    val g = SmallData.louvain(s, m)
    g.withConfs {
    var wedges = edges0.select($"src", $"dst", lit(1L).as("w"))
      .repartition(nPart, $"src").sortWithinPartitions($"src").cache()
    val cleanup = scala.collection.mutable.ArrayBuffer[DataFrame](wedges)
    val staged = SmallData.stager()
    val deg1deg = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val wedges1 = wedges
    // Per-round stats collect EAGERLY to driver scalars (one small job
    // per fold) rather than as one 12-branch union action. Measured on
    // this op at sf0.1: the union job read 22.9 s warm where the SAME
    // folds run piecewise in ~4 s — the branches' chained lineages are
    // not deduplicated across a union (no common-subplan reuse in
    // Catalyst; lazy localCheckpoint leaves materialize under
    // concurrent branch stages with duplicated upstream work), so the
    // "one action" design re-executed most of the pipeline per branch.
    // ~15 sub-second driver-gated jobs beat that 6× — and at cluster
    // scale the per-job floor is amortized by the same keyed folds.
    val qLevels = scala.collection.mutable.ArrayBuffer.empty[Double]
    val movesPerLevel = scala.collection.mutable.ArrayBuffer.empty[Long]
    var ib = 0L
    var sb = 0L
    var ibF = 0L
    var sbF = 0L
    var nextBase: Option[DataFrame] = None
    val perLevelLabels = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (level <- 1 to LouvLevels) {
      val deg = wedges.groupBy($"src").agg(sum($"w").as("k"))
        .withColumnRenamed("src", "node").cache()
      cleanup += deg
      if (level == 1) deg1deg += deg
      var labels = (if (level == 1) level1Base else nextBase) match {
        case Some(b) => b.select($"node", $"label")
        case _ => deg.select($"node", $"node".as("label"))
      }
      // Level-1 init rows: ib₀ (internal edge weight of the base
      // partition — the self-loop fold when the base is singletons)
      // and sb₀ = Σ per-community degree². Levels ≥ 2 need NO init
      // branches: contraction preserves both gate integers (each
      // community becomes a node whose self-loop carries the
      // partition's internal weight and whose degree is the
      // community degree), so ib₀/sb₀ of level l+1 ARE level l's
      // final running scalars — maintained on the driver below.
      if (level == 1) {
        if (level1Base.isDefined) {
          val b = staged(labels); labels = b
          // Same symmetric doubled-edge fold as contraction/louvainOutput:
          // attach the src label co-partitioned (free), partial-combine
          // onto (dst, ls) BEFORE the dst attach so only pair-sized
          // partials shuffle — the naive two-attach re-shuffled the full
          // edge list to dst and made the store-fed 10× ratio 3.0× vs
          // the live op's 2.1× (round-15 rehearsal, BASELINE.md).
          ib = wedges
            .join(b.select($"node".as("src"), $"label".as("ls")), "src")
            .groupBy($"dst", $"ls").agg(sum($"w").as("w"))
            .join(b.select($"node".as("dst"), $"label".as("ld")), "dst")
            .filter($"ls" === $"ld")
            .agg(coalesce(sum($"w"), lit(0L))).head.getLong(0)
          sb = b.join(deg, "node")
            .groupBy($"label").agg(sum($"k").as("ds"))
            .agg(coalesce(sum($"ds" * $"ds"), lit(0L))).head.getLong(0)
        } else {
          ib = wedges.filter($"src" === $"dst")
            .agg(coalesce(sum($"w"), lit(0L))).head.getLong(0)
          sb = deg.agg(coalesce(sum($"k" * $"k"), lit(0L))).head.getLong(0)
        }
      }
      var levelMoves = 0L
      for (round <- 0 until LouvMoveRounds) {
        // stage BEST, not labels: best is the round's one computed
        // reusable frame (and the smaller one — movers only); the
        // label chain is then a lazy ladder of joins against staged
        // leaves, whose plan grows LINEARLY per round and whose
        // re-references cost only a cheap join re-execution. (An
        // unstaged chain re-referencing a chained non-leaf multiplies
        // the plan tree ~7× per round — the driver OOM'd ANALYZING
        // the 6-round chain before a single task ran.)
        val best = staged(louvainMoveBest(s, wedges, deg, m, labels,
          level = level, parity = round % 2, cleanup))
        // the round's ONE eager job: materializes the staged best and
        // folds its exact gate deltas to driver scalars
        val r = best.agg(
          count(lit(1)),
          coalesce(sum(lit(2L) * ($"dcount" - $"d_ia")), lit(0L)),
          coalesce(sum(lit(2L) * $"k" * ($"deg_b" - $"deg_a") +
            lit(2L) * $"k" * $"k"), lit(0L))).head
        levelMoves += r.getLong(0); ib += r.getLong(1); sb += r.getLong(2)
        tr(s"L$level round$round gate")
        // movers-only best rides map-side into the ladder join below
        // the small-graph gate: both sides are stats-free staged
        // leaves, so the static plan inside the NEXT round's broadcast
        // threads would otherwise sort-merge them (2 extra shuffle
        // stages per round, re-executed per reference until the lazy
        // checkpoint pins)
        val bestB = g.bc(best.select($"node", $"b"))
        labels = staged(labels
          .join(bestB, Seq("node"), "left")
          .select($"node", coalesce($"b", $"label").as("label")))
      }
      movesPerLevel += levelMoves
      // levels ≥ 2 inherited ib/sb as this level's starting scalars
      // (contraction preserves the gate integers)
      qLevels += (if (m == 0L) 0.0 else 1.0 * ib / m - 1.0 * sb / m / m)
      if (!refineLevels) {
        perLevelLabels += labels
        if (level < LouvLevels) {
          // Contraction: below the small-graph gate both |V|-row label
          // attaches broadcast (map-side) and ONE (ls, ld) combine
          // shuffles; above it the symmetric-fold discipline stands —
          // src attach co-partitioned (free), a partial (dst, ls)
          // combine collapsing parallel edges BEFORE the dst shuffle,
          // so only pair-sized partials ever move.
          val lblS = labels.select($"node".as("src"), $"label".as("ls"))
          val lblD = labels.select($"node".as("dst"), $"label".as("ld"))
          wedges = staged(
            (if (g.small)
              wedges.join(broadcast(lblS), "src").join(broadcast(lblD), "dst")
            else
              wedges.join(lblS, "src")
                .groupBy($"dst", $"ls").agg(sum($"w").as("w"))
                .join(lblD, "dst"))
            .groupBy($"ls".as("src"), $"ld".as("dst"))
            .agg(sum($"w").as("w"))
            .repartition(nPartAt(level + 1), $"src")
            .sortWithinPartitions($"src"))
          tr(s"L$level contract", wedges)
        }
      } else {
        // LEIDEN refinement: split this level's communities into their
        // connected fragments EXACTLY — one keyed shuffle + row-local
        // union-find. Move rounds are capacity-1 ([[louvainMoveBest]]),
        // so a level-l community holds ≤ 1 + l·LouvMoveRounds members
        // (induction in the [[graft.expressions.CcFragments]] scaladoc)
        // — the per-community edge group is CONSTANT-sized at any graph
        // scale, so collect_list + cc_fragments is bounded per-row work
        // and every emitted fragment is a connected component
        // UNCONDITIONALLY. This replaces LeidenCc iterative min-label
        // propagation rounds (2 shuffles each, exact only up to the
        // round budget — and provably short of the level ≥ 2 geometry,
        // where fragment-seeded bases allow diameter > 2·move-rounds);
        // one self-edge per member keeps isolated members visible.
        graft.expressions.GraftFunctions.ensure(s)
        val lbl = staged(labels)
        // Below the 20M-edge gate the graph is single-box-sized, so
        // the |V|-row label/fragment maps BROADCAST into every edge
        // attach (a staged leaf carries no size stats — the planner
        // would otherwise sort-merge the full edge list per attach;
        // measured 57 s of a 1.17M-edge fold at sf0.1, vs a scan +
        // map-side joins broadcast). Above the gate the maps may be
        // executor-memory-sized, so the co-partitioned shuffle shape
        // stands — same adaptivity contract as the codegen switch.
        val mapSide = g.bc _
        val fragRows = staged(wedges
          .join(mapSide(lbl.select($"node".as("src"), $"label".as("ls"))),
            "src")
          .join(mapSide(lbl.select($"node".as("dst"), $"label".as("ld"))),
            "dst")
          .filter($"ls" === $"ld")
          .select($"ls".as("label"), $"src", $"dst")
          .unionByName(lbl.select($"label", $"node".as("src"),
            $"node".as("dst")))
          .groupBy($"label")
          .agg(collect_list(struct($"src".cast("long"),
            $"dst".cast("long"))).as("es"))
          .select($"label", explode(expr("cc_fragments(es)")).as("f"))
          .select($"f.node".as("node"), $"f.flabel".as("flabel"), $"label"))
        tr(s"L$level fragRows", fragRows)
        val frag = fragRows.select($"node", $"flabel")
        perLevelLabels += frag.select($"node", $"flabel".as("label"))
        val fragS = mapSide(frag.select($"node".as("src"), $"flabel".as("fs")))
        val fragD = mapSide(frag.select($"node".as("dst"), $"flabel".as("fd")))
        if (level == LouvLevels) {
          // gate integers of the FINAL (refined) partition — the
          // output's q_final; two driver-scalar folds over the
          // twice-contracted level-L graph. With map-side attaches the
          // intra fold needs no intermediate combine: attach both
          // fragment ends, filter, one scalar agg.
          ibF = wedges
            .join(fragS, "src").join(fragD, "dst")
            .filter($"fs" === $"fd")
            .agg(coalesce(sum($"w"), lit(0L))).head.getLong(0)
          tr("ibF")
          sbF = frag.join(deg, "node")
            .groupBy($"flabel").agg(sum($"k").as("ds"))
            .agg(coalesce(sum($"ds" * $"ds"), lit(0L))).head.getLong(0)
          tr("sbF")
        } else {
          // Fragment contraction: map-side attach both ends, then ONE
          // (fs, fd) combine — the partial (dst, fs) pre-combine only
          // pays when the dst attach is itself a shuffle join, so it
          // rides the non-broadcast branch only.
          wedges = staged(
            (if (g.small)
              wedges.join(fragS, "src").join(fragD, "dst")
            else
              wedges.join(fragS, "src")
                .groupBy($"dst", $"fs").agg(sum($"w").as("w"))
                .join(fragD, "dst"))
            .groupBy($"fs".as("src"), $"fd".as("dst"))
            .agg(sum($"w").as("w"))
            .repartition(nPartAt(level + 1), $"src")
            .sortWithinPartitions($"src"))
          tr(s"L$level frag-contract", wedges)
          // fragRows already pairs each fragment with its community —
          // the constrained re-seed needs no join back through lbl,
          // and no distinct: each fragment has exactly one root row
          // (node = flabel = the fragment's min id).
          nextBase = Some(staged(fragRows
            .filter($"node" === $"flabel")
            .select($"flabel".as("node"), $"label")))
        }
      }
    }
    if (refineLevels)
      qLevels += (if (m == 0L) 0.0 else 1.0 * ibF / m - 1.0 * sbF / m / m)
    // Lazy composition down to original nodes: |V|-row joins over the
    // cached per-level labels, materialized by the caller's action.
    var fullLab = perLevelLabels.head
    for (level <- 1 until LouvLevels)
      fullLab = fullLab
        .join(perLevelLabels(level)
          .select($"node".as("pl"), $"label".as("nl")), $"label" === $"pl")
        .select($"node", $"nl".as("label"))
    LouvainRun(fullLab, qLevels.toSeq, movesPerLevel.toSeq,
      wedges1, deg1deg.head, m, g,
      () => {
        cleanup.foreach(_.unpersist(false))
        staged.close()
      })
    }
  }

  /** Louvain TO CONVERGENCE with graph contraction (Blondel et al.
    * 2008, arXiv:0803.0476, the full multi-level algorithm the two
    * single-phase ops build toward): each level runs gated
    * alternating-parity move rounds until a whole parity cycle
    * accepts nothing (or [[LouvMoveRounds]]), then the partition
    * CONTRACTS — communities become nodes, parallel edges collapse to
    * weighted edges, internal edges to self-loops — and the next
    * level moves whole communities at once, which no amount of
    * single-node moving can express.
    *
    * Weighted-gain algebra on exact integers: with M directed edges
    * and w-weighted degrees, moving node i (degree k, self-loop w_ii)
    * from A to B keeps the unweighted phase's gain form
    * `2M(d_iB − d_iA) − 2k(deg_B − deg_A) − 2k²` because the
    * self-loop moves WITH i (its −w_ii and +w_ii cancel), with d_ic
    * excluding self-loop rows. The per-round accept gate compares
    * Q·M² = Σin·M − Σdeg² on BIGINTs maintained as driver scalars by
    * the same capacity-1 delta argument as `graph_louvain_step2` —
    * and the oracle recomputes both integers from scratch each round,
    * so the hash gate proves the running maintenance. Per-level Q
    * values emit as columns (q_level1 ≤ q_level2 ≤ q_final, the
    * monotone trace GraphSpec pins); final stats render per community
    * over the ORIGINAL edge list via the `graph_modularity` folds.
    *
    * Scale: per round one keyed edge⋈label fold (d_ic) + |V|-row
    * frames + two driver-scalar jobs; per level one contraction fold;
    * every level after the first works on the CONTRACTED graph, which
    * shrinks with the community count — the classic reason multi-level
    * Louvain tractably handles billion-edge graphs. Rounds and levels
    * are bounded knobs; labels localCheckpoint per round so plan depth
    * stays constant. */
  /** Shared output tail for the multi-level ops: the final modularity
    * stats rendered from the run's OWN cached level-1 wedge/degree
    * frames (the generic [[modularityOf]] would re-fold the raw edge
    * list — measured ~10 s of the op's tail at sf0.1), with the n_in
    * fold using the same symmetric label-attach discipline as the
    * move rounds. Materializes the output, then releases every
    * intermediate via the run's cleanup thunk. */
  private[ops] def louvainOutput(s: SparkSession, run: LouvainRun): DataFrame =
      run.gate.withConfs { run.gate.staging { stage =>
    import s.implicits._
    val lbl = stage(run.labels) // referenced three times below
    // same small-graph broadcast gate as the run itself: the composed
    // |V|-row label map rides map-side into the edge folds
    val bc = run.gate.bc _
    val dsum = lbl.join(bc(run.deg1), "node").groupBy($"label")
      .agg(count(lit(1)).as("n_nodes"), sum($"k").as("degree_sum"))
    val inC = (if (run.gate.small)
        run.wedges1
          .join(bc(lbl.select($"node".as("src"), $"label".as("ls"))), "src")
          .join(bc(lbl.select($"node".as("dst"), $"label".as("ld"))), "dst")
      else
        run.wedges1
          .join(lbl.select($"node".as("src"), $"label".as("ls")), "src")
          .groupBy($"dst", $"ls").agg(sum($"w").as("w"))
          .join(lbl.select($"node".as("dst"), $"label".as("ld")), "dst"))
      .filter($"ld" === $"ls")
      .groupBy($"ls".as("label")).agg(sum($"w").as("n_in"))
    val base = dsum.join(inC, Seq("label"), "left")
      .select($"label".as("component"), $"n_nodes",
        coalesce($"n_in", lit(0L)).as("internal_edges"), $"degree_sum",
        roundHalfUp(lit(1.0) * coalesce($"n_in", lit(0L)) / lit(run.m) -
          (lit(1.0) * $"degree_sum" / lit(run.m)) *
            (lit(1.0) * $"degree_sum" / lit(run.m)), 6).as("contribution"))
    val out = run.qLevels.init.zipWithIndex
      .foldLeft(base) { case (df, (q, i)) =>
        df.withColumn(s"q_level${i + 1}", roundHalfUp(lit(q), 6))
      }
      .withColumn("q_final", roundHalfUp(lit(run.qLevels.last), 6))
      .orderBy($"component")
      .localCheckpoint()
    run.cleanup()
    out
  } }

  private def graphLouvain(s: SparkSession, d: String) = {
    val edges0 = coOrderEdges(s, d).cache()
    val out = louvainOutput(s, louvainMultiLevelRun(s, edges0))
    edges0.unpersist(false)
    out
  }

  /** Multi-level Louvain FED FROM THE PERSISTED PHASE-1 STORE — the
    * production nightly shape of [[graphLouvain]]: level 1 starts at
    * the materialized phase-1 partition ([[ensureLouvainStore]])
    * instead of singletons, runs its gated move rounds FROM there
    * (the refinement pass over yesterday's communities), then
    * contracts and climbs the remaining levels exactly like the live
    * op. The ORACLE recomputes phase 1 from scratch and unrolls the
    * same rounds from its `final` partition, so the hash gate proves
    * store-fed multi-level ≡ live derivation on every driver run —
    * the `graph_louvain_step2_store` precedent applied to the whole
    * trajectory.
    *
    * Scale: the store read is |V| label rows (metadata-sized next to
    * the edge list); what it buys is skipping the phase-1 singleton
    * round's full-graph candidate fold, the most expensive round of
    * the live op — and at 100 TB the nightly refinement job re-reads
    * the store while only the weekly full rebuild pays phase 1. */
  private def graphLouvainStore(s: SparkSession, d: String) = {
    val edges0 = coOrderEdges(s, d).cache()
    val base = s.read.parquet(ensureLouvainStore(s, d))
    val out = louvainOutput(s,
      louvainMultiLevelRun(s, edges0, Some(base)))
    edges0.unpersist(false)
    out
  }

  /** FULL LEIDEN to the level bound (arXiv:1810.08473 §A — the
    * complete move → refine → aggregate-on-refined cycle, composing
    * the pieces `graph_louvain` and `graph_leiden_refine` each ship
    * half of): per level the same gated move rounds as Louvain, then
    * the partition refines into its connected fragments, the graph
    * contracts BY FRAGMENT, and the next level starts each fragment
    * at its original community — so whole fragments (not just whole
    * communities) can relocate, which is exactly the move class
    * Louvain's community-contraction cannot express, and the one that
    * repairs its internally-disconnected communities. Output: the
    * `graph_louvain` stats over the COMPOSED FRAGMENT partition —
    * every emitted community is connected in the original graph by
    * construction (GraphLeidenSpec pins zero split communities and
    * q_final ≥ Louvain's at equal round/level bounds). The oracle
    * unrolls the whole trajectory — moves, propagation rounds,
    * refined contractions, constrained re-seeds — so the hash gate
    * proves the running gate integers AND the refinement algebra.
    *
    * Scale: Louvain's per-level costs plus ONE keyed fold of the
    * intra-community edge list per level (strictly smaller than the
    * level's graph; capacity-1 move rounds bound every community
    * group at 1 + level·rounds members, so the per-group union-find
    * is constant work at any scale); the refined contraction shrinks
    * less per level than Louvain's (fragments ≥ communities), the
    * honest price of the connectivity guarantee. */
  private def graphLeiden(s: SparkSession, d: String) = {
    val edges0 = coOrderEdges(s, d).cache()
    val out = louvainOutput(s,
      louvainMultiLevelRun(s, edges0, refineLevels = true))
    edges0.unpersist(false)
    out
  }

  /** Spec hook: the composed-fragment label map [[graphLeiden]]'s
    * stats summarize, materialized with the run's staging released. */
  private[graft] def leidenLabelsForSpec(s: SparkSession, d: String)
      : DataFrame = {
    val edges0 = coOrderEdges(s, d).cache()
    val run = louvainMultiLevelRun(s, edges0, refineLevels = true)
    val out = run.labels.localCheckpoint()
    run.cleanup()
    edges0.unpersist(false)
    out
  }

  /** Oracle twin of [[graphLeiden]]: the Louvain multi-level unroll
    * with a propagation chain + fragment contraction + constrained
    * re-seed between levels, the composed-fragment label maps, and
    * the final-partition gate integers from scratch.
    *
    * The engine computes each community's fragments EXACTLY
    * (union-find per community group — [[graft.expressions.CcFragments]]);
    * the oracle renders min-label propagation with `l·R` rounds at
    * level `l`, which converges to the same exact components because
    * capacity-1 move rounds bound a level-l community at `1 + l·R`
    * members — every member is within `l·R` hops of its fragment's
    * min-id node, so round `l·R` has already reached the fixpoint. */
  private def leidenOracle: String = {
    val R = LouvMoveRounds
    val levels = (1 to LouvLevels).map { l =>
      val rounds = (1 to R).map(louvRoundSql(l, _)).mkString(",\n")
      val fin = s"lab_${l}_$R"
      val ccRounds = R * l
      val prop = (1 to ccRounds).map { i =>
        s"""lf_${l}_$i AS MATERIALIZED (
           |  SELECT c.src AS node, MIN(f.flabel) AS flabel
           |  FROM lcl_$l c JOIN lf_${l}_${i - 1} f ON c.dst = f.node
           |  GROUP BY c.src
           |)""".stripMargin
      }.mkString(",\n")
      val refine =
        s"""lint_$l AS (
           |  SELECT e.src, e.dst FROM we_$l e
           |  JOIN $fin x ON x.node = e.src
           |  JOIN $fin y ON y.node = e.dst
           |  WHERE x.label = y.label
           |),
           |lcl_$l AS MATERIALIZED (
           |  SELECT src, dst FROM lint_$l
           |  UNION ALL
           |  SELECT node AS src, node AS dst FROM deg_$l
           |),
           |lf_${l}_0 AS (SELECT node, node AS flabel FROM deg_$l),
           |$prop,
           |fr_$l AS MATERIALIZED (
           |  SELECT node, flabel FROM lf_${l}_$ccRounds
           |)""".stripMargin
      val contract =
        if (l == LouvLevels) ""
        else s""",
           |we_${l + 1} AS MATERIALIZED (
           |  SELECT x.flabel AS src, y.flabel AS dst, SUM(e.w) AS w
           |  FROM we_$l e
           |  JOIN fr_$l x ON x.node = e.src
           |  JOIN fr_$l y ON y.node = e.dst
           |  GROUP BY x.flabel, y.flabel
           |)""".stripMargin
      val init =
        if (l == 1) s"SELECT node, node AS label FROM deg_$l"
        else
          s"""SELECT DISTINCT f.flabel AS node, b.label
             |  FROM fr_${l - 1} f
             |  JOIN lab_${l - 1}_$R b ON b.node = f.node""".stripMargin
      s"""deg_$l AS MATERIALIZED (
         |  SELECT src AS node, SUM(w) AS k FROM we_$l GROUP BY src
         |),
         |lab_${l}_0 AS MATERIALIZED (
         |  $init
         |),
         |$rounds,
         |ql_$l AS MATERIALIZED (
         |  SELECT
         |    (SELECT COALESCE(SUM(e.w), 0) FROM we_$l e
         |      JOIN $fin x ON x.node = e.src
         |      JOIN $fin y ON y.node = e.dst AND y.label = x.label) AS qi,
         |    (SELECT COALESCE(SUM(t.degc * t.degc), 0) FROM (
         |      SELECT SUM(d.k) AS degc FROM $fin f
         |      JOIN deg_$l d ON d.node = f.node GROUP BY f.label) t) AS qs
         |),
         |$refine$contract""".stripMargin
    }.mkString(",\n")
    val glMaps = (2 to LouvLevels).map { l =>
      s"""gl_$l AS MATERIALIZED (
         |  SELECT g.node, f.flabel AS label
         |  FROM gl_${l - 1} g JOIN fr_$l f ON f.node = g.label
         |)""".stripMargin
    }.mkString(",\n")
    val contrib = roundHalfUpSql(
      "1.0 * COALESCE(i.n_in, 0) / m.m - " +
        "(1.0 * d.degree_sum / m.m) * (1.0 * d.degree_sum / m.m)", 6)
    def qExpr(a: String, i: String, ss: String) =
      roundHalfUpSql(s"1.0 * $a.$i / m.m - 1.0 * $a.$ss / m.m / m.m", 6)
    val qCols = ((1 to LouvLevels).map(i =>
      s"${qExpr(s"q$i", "qi", "qs")} AS q_level$i") :+
      s"${qExpr("qf", "qi", "qs")} AS q_final").mkString(",\n  ")
    val qJoins = (1 to LouvLevels)
      .map(i => s"CROSS JOIN ql_$i q$i").mkString(" ") + " CROSS JOIN qf"
    s"""WITH co AS (
       |  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |),
       |edges AS MATERIALIZED (
       |  SELECT cust * 2 AS src, supp * 2 + 1 AS dst FROM co
       |  UNION ALL
       |  SELECT supp * 2 + 1 AS src, cust * 2 AS dst FROM co
       |),
       |we_1 AS MATERIALIZED (
       |  SELECT src, dst, CAST(1 AS BIGINT) AS w FROM edges
       |),
       |mt AS (SELECT COALESCE(SUM(w), 0) AS m FROM we_1),
       |$levels,
       |qf AS MATERIALIZED (
       |  SELECT
       |    (SELECT COALESCE(SUM(e.w), 0) FROM we_$LouvLevels e
       |      JOIN fr_$LouvLevels x ON x.node = e.src
       |      JOIN fr_$LouvLevels y ON y.node = e.dst
       |        AND y.flabel = x.flabel) AS qi,
       |    (SELECT COALESCE(SUM(t.degc * t.degc), 0) FROM (
       |      SELECT SUM(d.k) AS degc FROM fr_$LouvLevels f
       |      JOIN deg_$LouvLevels d ON d.node = f.node
       |      GROUP BY f.flabel) t) AS qs
       |),
       |gl_1 AS (SELECT node, flabel AS label FROM fr_1),
       |$glMaps,
       |fdsum AS (
       |  SELECT f.label, COUNT(*) AS n_nodes,
       |    CAST(SUM(dg.k) AS BIGINT) AS degree_sum
       |  FROM gl_$LouvLevels f JOIN deg_1 dg ON dg.node = f.node
       |  GROUP BY f.label
       |),
       |finc AS (
       |  SELECT a.label, COUNT(*) AS n_in
       |  FROM edges e
       |  JOIN gl_$LouvLevels a ON e.src = a.node
       |  JOIN gl_$LouvLevels b2 ON e.dst = b2.node AND b2.label = a.label
       |  GROUP BY a.label
       |)
       |SELECT d.label AS component, d.n_nodes,
       |  CAST(COALESCE(i.n_in, 0) AS BIGINT) AS internal_edges,
       |  d.degree_sum,
       |  $contrib AS contribution,
       |  $qCols
       |FROM fdsum d CROSS JOIN mt m
       |LEFT JOIN finc i ON i.label = d.label
       |$qJoins
       |ORDER BY component""".stripMargin
  }

  /** One oracle move round at level `l`, round `r` (1-based), parity
    * `p`: the TEXTBOOK weighted formulation (d_ic / selfx / cand
    * CTEs, ROW_NUMBER argmax chains, from-scratch gate integers) —
    * every specialization the engine round makes (score-ordered
    * argmax, running-scalar gate, max_by aggregation) must reproduce
    * these values bit-for-bit to pass the hash gate. */
  private def louvRoundSql(l: Int, r: Int): String = {
    val p = (r - 1) % 2
    val prev = s"lab_${l}_${r - 1}"
    // level 1: the exact bipartite parity coloring; contracted
    // levels: the level-salted hash coloring (see louvainWeightedMove)
    def mover(col: String): String =
      if (l == 1) s"$col % 2 = $p"
      else graft.functions.TextFns.hash60Sql(
        s"'louv$l:' || CAST($col AS VARCHAR)") + s" % 2 = $p"
    s"""cd_${l}_$r AS MATERIALIZED (
       |  SELECT b.label, SUM(d.k) AS degc
       |  FROM $prev b JOIN deg_$l d ON d.node = b.node GROUP BY b.label
       |),
       |dc_${l}_$r AS MATERIALIZED (
       |  SELECT e.src AS node, lb.label AS c, SUM(e.w) AS dcount
       |  FROM we_$l e JOIN $prev lb ON lb.node = e.dst
       |  WHERE ${mover("e.src")} AND e.src <> e.dst
       |  GROUP BY e.src, lb.label
       |),
       |sx_${l}_$r AS (
       |  SELECT b.node, b.label AS a, d.k, ca.degc AS deg_a,
       |    COALESCE(o.dcount, 0) AS d_ia
       |  FROM $prev b
       |  JOIN deg_$l d ON d.node = b.node
       |  JOIN cd_${l}_$r ca ON ca.label = b.label
       |  LEFT JOIN dc_${l}_$r o ON o.node = b.node AND o.c = b.label
       |  WHERE ${mover("b.node")}
       |),
       |cn_${l}_$r AS (
       |  SELECT s.node, s.a, t.c AS b,
       |    2 * m.m * (t.dcount - s.d_ia) - 2 * s.k * (cb.degc - s.deg_a)
       |      - 2 * s.k * s.k AS gain
       |  FROM sx_${l}_$r s
       |  JOIN dc_${l}_$r t ON t.node = s.node AND t.c <> s.a
       |  JOIN cd_${l}_$r cb ON cb.label = t.c
       |  CROSS JOIN mt m
       |),
       |wn_${l}_$r AS MATERIALIZED (
       |  SELECT node, a, b, gain FROM (
       |    SELECT node, a, b, gain, ROW_NUMBER() OVER (PARTITION BY node
       |      ORDER BY gain DESC, b ASC) AS rn FROM cn_${l}_$r) t
       |  WHERE rn = 1 AND gain > 0
       |),
       |bs_${l}_$r AS MATERIALIZED (
       |  SELECT node, b FROM (
       |    SELECT node, b, gain, ROW_NUMBER() OVER (PARTITION BY a
       |      ORDER BY gain DESC, node ASC) AS sr FROM (
       |      SELECT node, a, b, gain, ROW_NUMBER() OVER (PARTITION BY b
       |        ORDER BY gain DESC, node ASC) AS tr
       |      FROM wn_${l}_$r
       |      WHERE b NOT IN (SELECT a FROM wn_${l}_$r)
       |        AND a NOT IN (SELECT b FROM wn_${l}_$r)) u
       |    WHERE tr = 1) v
       |  WHERE sr = 1
       |),
       |mv_${l}_$r AS MATERIALIZED (
       |  SELECT b.node, COALESCE(bs.b, b.label) AS label
       |  FROM $prev b LEFT JOIN bs_${l}_$r bs ON bs.node = b.node
       |),
       |qx_${l}_$r AS MATERIALIZED (
       |  SELECT
       |    (SELECT COALESCE(SUM(e.w), 0) FROM we_$l e
       |      JOIN $prev x ON x.node = e.src
       |      JOIN $prev y ON y.node = e.dst AND y.label = x.label) AS ib,
       |    (SELECT COALESCE(SUM(degc * degc), 0) FROM cd_${l}_$r) AS sb,
       |    (SELECT COALESCE(SUM(e.w), 0) FROM we_$l e
       |      JOIN mv_${l}_$r x ON x.node = e.src
       |      JOIN mv_${l}_$r y ON y.node = e.dst AND y.label = x.label) AS im,
       |    (SELECT COALESCE(SUM(degc * degc), 0) FROM (
       |      SELECT SUM(d.k) AS degc FROM mv_${l}_$r f
       |      JOIN deg_$l d ON d.node = f.node GROUP BY f.label) t) AS sm,
       |    (SELECT COUNT(*) FROM bs_${l}_$r) AS nm
       |),
       |lab_${l}_$r AS MATERIALIZED (
       |  SELECT b.node,
       |    CASE WHEN q.nm > 0 AND (q.im * m.m - q.sm) >= (q.ib * m.m - q.sb)
       |      THEN mv.label ELSE b.label END AS label
       |  FROM $prev b JOIN mv_${l}_$r mv ON mv.node = b.node
       |  CROSS JOIN qx_${l}_$r q CROSS JOIN mt m
       |)""".stripMargin
  }

  /** Oracle: the full multi-level unroll — [[LouvLevels]] levels of
    * ([[LouvMoveRounds]] textbook rounds + from-scratch per-level Q +
    * contraction), then the composed label map and the modularity
    * stats over the ORIGINAL edges. Rounds the engine skips after
    * quiescence are identity CTEs here (the gate keeps the standing
    * partition), so early exit and full unroll agree by construction.
    *
    * `fromStore` prepends the phase-1 chain ([[louvainPhase1Sql]])
    * and starts level 1 at its `final` partition instead of
    * singletons — the from-scratch twin of [[graphLouvainStore]]'s
    * persisted-store read. */
  private def louvainMultiOracle: String = louvainMultiOracleBody(false)
  private def louvainStoreOracle: String = louvainMultiOracleBody(true)

  private def louvainMultiOracleBody(fromStore: Boolean): String = {
    val R = LouvMoveRounds
    val levels = (1 to LouvLevels).map { l =>
      val rounds = (1 to R).map(louvRoundSql(l, _)).mkString(",\n")
      val fin = s"lab_${l}_$R"
      val contract =
        if (l == LouvLevels) ""
        else s""",
           |we_${l + 1} AS MATERIALIZED (
           |  SELECT x.label AS src, y.label AS dst, SUM(e.w) AS w
           |  FROM we_$l e
           |  JOIN $fin x ON x.node = e.src
           |  JOIN $fin y ON y.node = e.dst
           |  GROUP BY x.label, y.label
           |)""".stripMargin
      val init =
        if (l == 1 && fromStore) "SELECT node, label FROM final"
        else s"SELECT node, node AS label FROM deg_$l"
      s"""deg_$l AS MATERIALIZED (
         |  SELECT src AS node, SUM(w) AS k FROM we_$l GROUP BY src
         |),
         |lab_${l}_0 AS MATERIALIZED (
         |  $init
         |),
         |$rounds,
         |ql_$l AS MATERIALIZED (
         |  SELECT
         |    (SELECT COALESCE(SUM(e.w), 0) FROM we_$l e
         |      JOIN $fin x ON x.node = e.src
         |      JOIN $fin y ON y.node = e.dst AND y.label = x.label) AS qi,
         |    (SELECT COALESCE(SUM(t.degc * t.degc), 0) FROM (
         |      SELECT SUM(d.k) AS degc FROM $fin f
         |      JOIN deg_$l d ON d.node = f.node GROUP BY f.label) t) AS qs
         |)$contract""".stripMargin
    }.mkString(",\n")
    val flMaps = (2 to LouvLevels).map { l =>
      s"""fl_$l AS MATERIALIZED (
         |  SELECT f.node, n.label
         |  FROM fl_${l - 1} f JOIN lab_${l}_$R n ON n.node = f.label
         |)""".stripMargin
    }.mkString(",\n")
    val contrib = roundHalfUpSql(
      "1.0 * COALESCE(i.n_in, 0) / m.m - " +
        "(1.0 * d.degree_sum / m.m) * (1.0 * d.degree_sum / m.m)", 6)
    def qExpr(a: String) =
      roundHalfUpSql(s"1.0 * $a.qi / m.m - 1.0 * $a.qs / m.m / m.m", 6)
    // q_level1..q_level{L-1} + q_final, derived from LouvLevels (the
    // engine derives its columns from the same constant, so changing
    // the level count shifts both schemas together)
    val qCols = ((1 until LouvLevels).map(i =>
      s"${qExpr(s"q$i")} AS q_level$i") :+
      s"${qExpr(s"q$LouvLevels")} AS q_final").mkString(",\n  ")
    val qJoins = (1 to LouvLevels)
      .map(i => s"CROSS JOIN ql_$i q$i").mkString(" ")
    // store mode reuses the phase-1 chain's co/edges/mt CTEs (same
    // definitions; mt's COUNT(*) equals SUM(w) on unit weights)
    val prefix =
      if (fromStore)
        s"""$louvainPhase1Sql,
           |we_1 AS MATERIALIZED (
           |  SELECT src, dst, CAST(1 AS BIGINT) AS w FROM edges
           |)""".stripMargin
      else
        s"""co AS (
           |  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           |),
           |edges AS MATERIALIZED (
           |  SELECT cust * 2 AS src, supp * 2 + 1 AS dst FROM co
           |  UNION ALL
           |  SELECT supp * 2 + 1 AS src, cust * 2 AS dst FROM co
           |),
           |we_1 AS MATERIALIZED (
           |  SELECT src, dst, CAST(1 AS BIGINT) AS w FROM edges
           |),
           |mt AS (SELECT COALESCE(SUM(w), 0) AS m FROM we_1)""".stripMargin
    s"""WITH $prefix,
       |$levels,
       |fl_1 AS (SELECT node, label FROM lab_1_$R),
       |$flMaps,
       |fdsum AS (
       |  SELECT f.label, COUNT(*) AS n_nodes,
       |    CAST(SUM(dg.k) AS BIGINT) AS degree_sum
       |  FROM fl_$LouvLevels f JOIN deg_1 dg ON dg.node = f.node
       |  GROUP BY f.label
       |),
       |finc AS (
       |  SELECT a.label, COUNT(*) AS n_in
       |  FROM edges e
       |  JOIN fl_$LouvLevels a ON e.src = a.node
       |  JOIN fl_$LouvLevels b2 ON e.dst = b2.node AND b2.label = a.label
       |  GROUP BY a.label
       |)
       |SELECT d.label AS component, d.n_nodes,
       |  CAST(COALESCE(i.n_in, 0) AS BIGINT) AS internal_edges,
       |  d.degree_sum,
       |  $contrib AS contribution,
       |  $qCols
       |FROM fdsum d CROSS JOIN mt m
       |LEFT JOIN finc i ON i.label = d.label
       |$qJoins
       |ORDER BY component""".stripMargin
  }

  /** Where the persisted phase-1 label store lives, one subdir per
    * source data dir. Staged lazily once per JVM (the
    * [[RefSql.ensureStaged]] convention): the first caller in a
    * session pays the phase-1 derivation + parquet write, every later
    * caller reads the store — which is exactly the nightly-job shape
    * (phase 1 materialized once, downstream refinement jobs attach). */
  private val LouvainStoreDir = "/tmp/graft_louvain_store"

  /** Build-if-missing the phase-1 label store for data dir `d` and
    * return its path. Always rebuilt on the first call of each JVM
    * (never trusts a store left by older code or other data);
    * published atomically via [[StoreStage]]. */
  private[graft] def ensureLouvainStore(s: SparkSession, d: String)
      : String =
    StoreStage.ensure(LouvainStoreDir, d) { tmp =>
      val edges = coOrderEdges(s, d).cache()
      louvainPhase1Labels(s, edges).write.parquet(tmp)
      edges.unpersist(false)
    }

  /** The phase-1 label store itself, as a catalog op: build (first
    * call per session) or reuse the persisted parquet labels and emit
    * them. The oracle recomputes phase 1 from scratch, so the hash
    * gate proves the STORE CONTENT — what every downstream store-fed
    * job will read — equals the live derivation.
    *
    * Scale: the build is `graph_louvain_step`'s own cost paid once
    * per refresh; the store is one (node, label) row per vertex —
    * metadata-sized next to the edge list it summarizes. */
  private def graphLouvainLabelStore(s: SparkSession, d: String) = {
    import s.implicits._
    s.read.parquet(ensureLouvainStore(s, d)).orderBy($"node")
  }

  private def louvainLabelStoreOracle: String =
    s"""WITH $louvainPhase1Sql
       |SELECT node, label FROM final ORDER BY node""".stripMargin

  /** Second Louvain phase FED FROM THE PERSISTED STORE — the
    * production shape of `graph_louvain_step2`, whose in-query
    * phase-1 re-derivation exists only so its oracle can watch the
    * whole flow. Here phase-1 labels come from the parquet store
    * ([[ensureLouvainStore]]); the general phase then runs the same
    * odd-mover machinery, and the ORACLE still recomputes phase 1
    * from scratch — so the hash gate proves store-fed phase 2 emits
    * exactly what the live derivation emits (the LouvainStoreSpec
    * claim, enforced on every driver run, not just in the spec).
    *
    * Scale: the nightly community-refinement job reads |V| label rows
    * instead of re-walking the full edge list through the phase-1
    * gain/capacity windows — at 100 TB the store read is
    * metadata-sized while the avoided recompute is edge-scaled. */
  private def graphLouvainStep2Store(s: SparkSession, d: String) = {
    val labels = s.read.parquet(ensureLouvainStore(s, d))
    louvainGeneralPhase(s, coOrderEdges(s, d).cache(), labels,
      moverParity = 1)
  }

  /** Leiden-style refinement of the phase-1 Louvain partition (Traag,
    * Waltman & van Eck 2019, "From Louvain to Leiden", arXiv:
    * 1810.08473): Louvain can emit communities that are INTERNALLY
    * DISCONNECTED (§3 of the paper — up to 25% of communities in
    * their measurements), and Leiden's fix is a refinement phase that
    * splits every community into its connected parts before
    * aggregation. This op runs exactly that diagnosis-and-repair:
    * bounded-round min-label propagation (`graph_components`'s
    * [[CcRounds]] convention, oracle-mirrored) over the INTRA-
    * community subgraph — an edge survives only if both endpoints
    * share a phase-1 label, so fragments of different communities can
    * never merge — then one fold per (community, fragment). Output:
    * one row per refined fragment with its size and whether its
    * parent community was split. Phase-1 labels come from the
    * PERSISTED store ([[ensureLouvainStore]] — the nightly shape);
    * the ORACLE recomputes phase 1 from scratch, so the hash gate
    * proves store-fed refinement ≡ live on every driver run.
    *
    * Scale: the intra-community filter is two co-partitioned label
    * attaches; the propagation is [[CcRounds]] keyed folds over the
    * FILTERED edge list (strictly smaller than the input graph); the
    * summary is community-bounded. Same partitioning-reuse discipline
    * as `graph_components` (one edge shuffle total, cached sorted).
    *
    * Bound caveat (the documented `graph_components` convention): the
    * split flag is exact only for fragments within radius
    * [[CcRounds]] of their min-id node — a genuinely connected
    * community whose members lie further from its min-id node would
    * be reported as split. The oracle mirrors the bound, so the gate
    * proves bounded-propagation equivalence, not full convergence;
    * a production run of the same plan raises the round knob (or adds
    * the `graph_components_converged` driver-scalar quiescence probe:
    * loop until a round changes zero labels). Community diameters in
    * a modularity partition are small (intra-community paths are what
    * the objective rewards), so radius > [[CcRounds]] fragments need
    * pathological geometry. */
  private def graphLeidenRefine(s: SparkSession, d: String) = {
    val edges = coOrderEdges(s, d)
    val labels = s.read.parquet(ensureLouvainStore(s, d))
    leidenRefineOf(s, edges, labels)
  }

  /** [[graphLeidenRefine]] over arbitrary (src, dst) edges (both
    * directions present) and (node, label) community labels. */
  private[graft] def leidenRefineOf(s: SparkSession, edges: DataFrame,
      labels: DataFrame): DataFrame = {
    import s.implicits._
    val intra = edges
      .join(labels.select($"node".as("src"), $"label".as("ls")), "src")
      .join(labels.select($"node".as("dst"), $"label".as("ld")), "dst")
      .filter($"ls" === $"ld")
      .select($"src", $"dst")
    // self-edges keep every member visible to the propagation even
    // when all its intra-community edges were filtered away
    val closed = intra
      .unionByName(labels.select($"node".as("src"), $"node".as("dst")))
      .repartition($"src").sortWithinPartitions($"src")
      .cache()
    var frag = labels.select($"node", $"node".as("flabel"))
    for (_ <- 1 to CcRounds) {
      frag = closed.join(frag, $"dst" === $"node")
        .groupBy($"src").agg(min($"flabel").as("flabel"))
        .withColumnRenamed("src", "node")
    }
    val out = labels.join(frag, "node")
      .groupBy($"label", $"flabel").agg(count(lit(1)).as("n_nodes"))
      .withColumn("split",
        count(lit(1)).over(Window.partitionBy($"label")) > 1)
      .select($"label".as("component"), $"flabel".as("refined"),
        $"n_nodes".cast("long").as("n_nodes"), $"split")
      .orderBy($"component", $"refined")
      .localCheckpoint()
    closed.unpersist(false)
    out
  }

  private def leidenRefineOracle: String = {
    val rounds = (1 to CcRounds).map { i =>
      s"""lf$i AS (
         |  SELECT c.src AS node, MIN(f.flabel) AS flabel
         |  FROM lclosed c JOIN lf${i - 1} f ON c.dst = f.node
         |  GROUP BY c.src
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH $louvainPhase1Sql,
       |lintra AS (
       |  SELECT e.src, e.dst
       |  FROM edges e
       |  JOIN final l1 ON l1.node = e.src
       |  JOIN final l2 ON l2.node = e.dst
       |  WHERE l1.label = l2.label
       |),
       |lclosed AS MATERIALIZED (
       |  SELECT src, dst FROM lintra
       |  UNION ALL
       |  SELECT node AS src, node AS dst FROM final
       |),
       |lf0 AS (SELECT node, node AS flabel FROM final),
       |$rounds,
       |fr AS (
       |  SELECT l.label AS component, f.flabel AS refined,
       |    COUNT(*) AS n_nodes
       |  FROM final l JOIN lf$CcRounds f ON f.node = l.node
       |  GROUP BY 1, 2
       |)
       |SELECT component, refined, CAST(n_nodes AS BIGINT) AS n_nodes,
       |  (COUNT(*) OVER (PARTITION BY component) > 1) AS split
       |FROM fr
       |ORDER BY component, refined""".stripMargin
  }

  /** Oracle: the shared phase-1 chain, then the general phase with
    * ODD movers over `final` — d_ic/community-degree folds, textbook
    * gain, the argmax + source/target-disjointness + two capacity
    * windows in the engine's exact order, the integer Q gate, and the
    * general stats tail. */
  private def louvainStep2Oracle: String = {
    val contrib = roundHalfUpSql(
      "1.0 * COALESCE(i.n_in, 0) / m.m - " +
        "(1.0 * d.degree_sum / m.m) * (1.0 * d.degree_sum / m.m)", 6)
    s"""WITH $louvainPhase1Sql,
       |cdeg2 AS MATERIALIZED (
       |  SELECT f.label, SUM(d.k) AS degc
       |  FROM final f JOIN deg d ON d.node = f.node GROUP BY f.label
       |),
       |dic2 AS MATERIALIZED (
       |  SELECT e.src AS node, lb.label AS c, COUNT(*) AS dcount
       |  FROM edges e JOIN final lb ON lb.node = e.dst
       |  GROUP BY e.src, lb.label
       |),
       |selfx2 AS (
       |  SELECT f.node, f.label AS a, d.k, ca.degc AS deg_a,
       |    COALESCE(o.dcount, 0) AS d_ia
       |  FROM final f
       |  JOIN deg d ON d.node = f.node
       |  JOIN cdeg2 ca ON ca.label = f.label
       |  LEFT JOIN dic2 o ON o.node = f.node AND o.c = f.label
       |),
       |cand2 AS (
       |  SELECT s.node, s.a, t.c AS b,
       |    2 * m.m * (t.dcount - s.d_ia) - 2 * s.k * (cb.degc - s.deg_a)
       |      - 2 * s.k * s.k AS gain
       |  FROM selfx2 s
       |  JOIN dic2 t ON t.node = s.node AND t.c <> s.a
       |  JOIN cdeg2 cb ON cb.label = t.c
       |  CROSS JOIN mt m
       |  WHERE s.node % 2 = 1
       |),
       |win2 AS MATERIALIZED (
       |  SELECT node, a, b, gain FROM (
       |    SELECT node, a, b, gain, ROW_NUMBER() OVER (PARTITION BY node
       |      ORDER BY gain DESC, b ASC) AS rn
       |    FROM cand2) t
       |  WHERE rn = 1 AND gain > 0
       |),
       |dis2 AS MATERIALIZED (
       |  SELECT w.node, w.a, w.b, w.gain FROM win2 w
       |  WHERE w.b NOT IN (SELECT a FROM win2)
       |    AND w.a NOT IN (SELECT b FROM win2)
       |),
       |best2 AS (
       |  SELECT node, b FROM (
       |    SELECT node, a, b, gain, ROW_NUMBER() OVER (PARTITION BY a
       |      ORDER BY gain DESC, node ASC) AS sr
       |    FROM (
       |      SELECT node, a, b, gain, ROW_NUMBER() OVER (PARTITION BY b
       |        ORDER BY gain DESC, node ASC) AS tr
       |      FROM dis2) t
       |    WHERE tr = 1) u
       |  WHERE sr = 1
       |),
       |moved2 AS MATERIALIZED (
       |  SELECT f.node, COALESCE(bs.b, f.label) AS label
       |  FROM final f LEFT JOIN best2 bs ON bs.node = f.node
       |),
       |m2deg AS (
       |  SELECT mv.label, SUM(d.k) AS degc
       |  FROM moved2 mv JOIN deg d ON d.node = mv.node GROUP BY mv.label
       |),
       |q2b AS (
       |  SELECT
       |    (SELECT COUNT(*) FROM edges e JOIN final x ON x.node = e.src
       |      JOIN final y ON y.node = e.dst AND y.label = x.label) AS ib,
       |    (SELECT SUM(degc * degc) FROM cdeg2) AS sb
       |),
       |q2m AS (
       |  SELECT
       |    (SELECT COUNT(*) FROM edges e JOIN moved2 x ON x.node = e.src
       |      JOIN moved2 y ON y.node = e.dst AND y.label = x.label) AS im,
       |    (SELECT SUM(degc * degc) FROM m2deg) AS sm
       |),
       |qc2 AS MATERIALIZED (
       |  SELECT (q2m.im * m.m - q2m.sm) >= (q2b.ib * m.m - q2b.sb) AS acc,
       |    1.0 * q2b.ib / m.m - 1.0 * q2b.sb / m.m / m.m AS qbd,
       |    CASE WHEN (q2m.im * m.m - q2m.sm) >= (q2b.ib * m.m - q2b.sb)
       |      THEN 1.0 * q2m.im / m.m - 1.0 * q2m.sm / m.m / m.m
       |      ELSE 1.0 * q2b.ib / m.m - 1.0 * q2b.sb / m.m / m.m END AS qad
       |  FROM q2b CROSS JOIN q2m CROSS JOIN mt m
       |),
       |fin2 AS MATERIALIZED (
       |  SELECT f.node,
       |    CASE WHEN qc2.acc THEN mv.label ELSE f.label END AS label
       |  FROM final f JOIN moved2 mv ON mv.node = f.node CROSS JOIN qc2
       |),
       |f2dsum AS (
       |  SELECT nl.label, COUNT(*) AS n_nodes,
       |    CAST(SUM(dg.k) AS BIGINT) AS degree_sum
       |  FROM fin2 nl JOIN deg dg ON dg.node = nl.node GROUP BY nl.label
       |),
       |f2inc AS (
       |  SELECT a.label, COUNT(*) AS n_in
       |  FROM edges e
       |  JOIN fin2 a ON e.src = a.node
       |  JOIN fin2 b2 ON e.dst = b2.node AND b2.label = a.label
       |  GROUP BY a.label
       |)
       |SELECT d.label AS component, d.n_nodes,
       |  CAST(COALESCE(i.n_in, 0) AS BIGINT) AS internal_edges,
       |  d.degree_sum,
       |  $contrib AS contribution,
       |  ${roundHalfUpSql("qc2.qbd", 6)} AS q_before,
       |  ${roundHalfUpSql("qc2.qad", 6)} AS q_after
       |FROM f2dsum d CROSS JOIN mt m LEFT JOIN f2inc i ON i.label = d.label
       |CROSS JOIN qc2
       |ORDER BY component""".stripMargin
  }

  private def modularityOracle: String = {
    val rounds = (1 to CcRounds).map { i =>
      s"""l$i AS (
         |  SELECT c.src AS node, MIN(l.label) AS label
         |  FROM closed c JOIN l${i - 1} l ON c.dst = l.node
         |  GROUP BY c.src
         |)""".stripMargin
    }.mkString(",\n")
    val contrib = roundHalfUpSql(
      "1.0 * COALESCE(i.n_in, 0) / m.m - " +
        "(1.0 * d.degree_sum / m.m) * (1.0 * d.degree_sum / m.m)", 6)
    s"""WITH co AS (
       |  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |),
       |edges AS (
       |  SELECT cust * 2 AS src, supp * 2 + 1 AS dst FROM co
       |  UNION ALL
       |  SELECT supp * 2 + 1 AS src, cust * 2 AS dst FROM co
       |),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |closed AS (
       |  SELECT src, dst FROM edges
       |  UNION ALL SELECT node, node FROM nodes
       |),
       |l0 AS (SELECT node, node AS label FROM nodes),
       |$rounds,
       |mt AS (SELECT COUNT(*) AS m FROM edges),
       |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
       |nodelab AS (SELECT node, label FROM l$CcRounds),
       |dsum AS (
       |  SELECT nl.label, COUNT(*) AS n_nodes,
       |    CAST(SUM(dg.deg) AS BIGINT) AS degree_sum
       |  FROM nodelab nl JOIN deg dg ON dg.src = nl.node
       |  GROUP BY nl.label
       |),
       |inc AS (
       |  SELECT a.label, COUNT(*) AS n_in
       |  FROM edges e
       |  JOIN nodelab a ON e.src = a.node
       |  JOIN nodelab b ON e.dst = b.node AND b.label = a.label
       |  GROUP BY a.label
       |)
       |SELECT d.label AS component, d.n_nodes,
       |  CAST(COALESCE(i.n_in, 0) AS BIGINT) AS internal_edges,
       |  d.degree_sum,
       |  $contrib AS contribution
       |FROM dsum d CROSS JOIN mt m LEFT JOIN inc i ON i.label = d.label
       |ORDER BY component""".stripMargin
  }

  /** Oracle twin of [[graphLouvainStep]]: singleton base, integer
    * gains/argmax, the exact-integer accept gate, modularity rows over
    * the accepted partition. Multi-referenced CTEs MATERIALIZED (the
    * kcore inlining rule). */
  /** Phase-1 CTE chain (singleton base, even movers, general gain,
    * exact-integer gate) through the accepted partition `final` —
    * shared verbatim by [[louvainOracle]] and the step-2 oracle so
    * both walk the identical phase-1 decision. */
  private def louvainPhase1Sql: String =
    s"""co AS (
       |  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |),
       |edges AS MATERIALIZED (
       |  SELECT cust * 2 AS src, supp * 2 + 1 AS dst FROM co
       |  UNION ALL
       |  SELECT supp * 2 + 1 AS src, cust * 2 AS dst FROM co
       |),
       |base AS MATERIALIZED (
       |  SELECT DISTINCT src AS node, src AS label FROM edges
       |),
       |mt AS (SELECT COUNT(*) AS m FROM edges),
       |deg AS MATERIALIZED (
       |  SELECT src AS node, COUNT(*) AS k FROM edges GROUP BY src
       |),
       |cdeg AS MATERIALIZED (
       |  SELECT b.label, SUM(d.k) AS degc
       |  FROM base b JOIN deg d ON d.node = b.node GROUP BY b.label
       |),
       |dic AS MATERIALIZED (
       |  SELECT e.src AS node, lb.label AS c, COUNT(*) AS dcount
       |  FROM edges e JOIN base lb ON lb.node = e.dst
       |  GROUP BY e.src, lb.label
       |),
       |selfx AS (
       |  SELECT b.node, b.label AS a, d.k, ca.degc AS deg_a,
       |    COALESCE(o.dcount, 0) AS d_ia
       |  FROM base b
       |  JOIN deg d ON d.node = b.node
       |  JOIN cdeg ca ON ca.label = b.label
       |  LEFT JOIN dic o ON o.node = b.node AND o.c = b.label
       |),
       |cand AS (
       |  SELECT f.node, t.c AS b,
       |    2 * m.m * (t.dcount - f.d_ia) - 2 * f.k * (cb.degc - f.deg_a)
       |      - 2 * f.k * f.k AS gain
       |  FROM selfx f
       |  JOIN dic t ON t.node = f.node AND t.c <> f.a
       |  JOIN cdeg cb ON cb.label = t.c
       |  CROSS JOIN mt m
       |  WHERE f.node % 2 = 0
       |),
       |best AS (
       |  SELECT node, b FROM (
       |    SELECT node, b, gain, ROW_NUMBER() OVER (PARTITION BY b
       |      ORDER BY gain DESC, node ASC) AS tr
       |    FROM (
       |      SELECT node, b, gain, ROW_NUMBER() OVER (PARTITION BY node
       |        ORDER BY gain DESC, b ASC) AS rn FROM cand) t
       |    WHERE rn = 1 AND gain > 0) u
       |  WHERE tr = 1
       |),
       |moved AS MATERIALIZED (
       |  SELECT b.node, COALESCE(bs.b, b.label) AS label
       |  FROM base b LEFT JOIN best bs ON bs.node = b.node
       |),
       |mdeg AS (
       |  SELECT mv.label, SUM(d.k) AS degc
       |  FROM moved mv JOIN deg d ON d.node = mv.node GROUP BY mv.label
       |),
       |qb AS (
       |  SELECT
       |    (SELECT COUNT(*) FROM edges e JOIN base x ON x.node = e.src
       |      JOIN base y ON y.node = e.dst AND y.label = x.label) AS ib,
       |    (SELECT SUM(degc * degc) FROM cdeg) AS sb
       |),
       |qm AS (
       |  SELECT
       |    (SELECT COUNT(*) FROM edges e JOIN moved x ON x.node = e.src
       |      JOIN moved y ON y.node = e.dst AND y.label = x.label) AS im,
       |    (SELECT SUM(degc * degc) FROM mdeg) AS sm
       |),
       |qc AS MATERIALIZED (
       |  SELECT (qm.im * m.m - qm.sm) >= (qb.ib * m.m - qb.sb) AS acc,
       |    1.0 * qb.ib / m.m - 1.0 * qb.sb / m.m / m.m AS qbd,
       |    CASE WHEN (qm.im * m.m - qm.sm) >= (qb.ib * m.m - qb.sb)
       |      THEN 1.0 * qm.im / m.m - 1.0 * qm.sm / m.m / m.m
       |      ELSE 1.0 * qb.ib / m.m - 1.0 * qb.sb / m.m / m.m END AS qad
       |  FROM qb CROSS JOIN qm CROSS JOIN mt m
       |),
       |final AS MATERIALIZED (
       |  SELECT b.node,
       |    CASE WHEN qc.acc THEN mv.label ELSE b.label END AS label
       |  FROM base b JOIN moved mv ON mv.node = b.node CROSS JOIN qc
       |)""".stripMargin

  private def louvainOracle: String = {
    val contrib = roundHalfUpSql(
      "1.0 * COALESCE(i.n_in, 0) / m.m - " +
        "(1.0 * d.degree_sum / m.m) * (1.0 * d.degree_sum / m.m)", 6)
    s"""WITH $louvainPhase1Sql,
       |fdsum AS (
       |  SELECT nl.label, COUNT(*) AS n_nodes,
       |    CAST(SUM(dg.k) AS BIGINT) AS degree_sum
       |  FROM final nl JOIN deg dg ON dg.node = nl.node GROUP BY nl.label
       |),
       |finc AS (
       |  SELECT a.label, COUNT(*) AS n_in
       |  FROM edges e
       |  JOIN final a ON e.src = a.node
       |  JOIN final b2 ON e.dst = b2.node AND b2.label = a.label
       |  GROUP BY a.label
       |)
       |SELECT d.label AS component, d.n_nodes,
       |  CAST(COALESCE(i.n_in, 0) AS BIGINT) AS internal_edges,
       |  d.degree_sum,
       |  $contrib AS contribution,
       |  ${roundHalfUpSql("qc.qbd", 6)} AS q_before,
       |  ${roundHalfUpSql("qc.qad", 6)} AS q_after
       |FROM fdsum d CROSS JOIN mt m LEFT JOIN finc i ON i.label = d.label
       |CROSS JOIN qc
       |ORDER BY component""".stripMargin
  }

  private def componentsOracle: String = {
    val rounds = (1 to CcRounds).map { i =>
      s"""l$i AS (
         |  SELECT c.src AS node, MIN(l.label) AS label
         |  FROM closed c JOIN l${i - 1} l ON c.dst = l.node
         |  GROUP BY c.src
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH co AS (
       |  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |),
       |edges AS (
       |  SELECT cust * 2 AS src, supp * 2 + 1 AS dst FROM co
       |  UNION ALL
       |  SELECT supp * 2 + 1 AS src, cust * 2 AS dst FROM co
       |),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |closed AS (
       |  SELECT src, dst FROM edges
       |  UNION ALL SELECT node, node FROM nodes
       |),
       |l0 AS (SELECT node, node AS label FROM nodes),
       |$rounds
       |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       |  node // 2 AS node_key, label AS component
       |FROM l$CcRounds
       |ORDER BY node_type, node_key""".stripMargin
  }

  /** Connected components iterated TO FIXPOINT — the answer to "is
    * [[CcRounds]] enough at 100×?" in code instead of prose: the same
    * closed-neighborhood min-label superstep as [[graphComponents]],
    * but looped until a changed-label probe returns zero. The probe is
    * the honest price of convergence detection — one anti-join-shaped
    * count per superstep (label vs previous label), exactly what a
    * production Pregel driver pays; each round's label table is
    * cached + materialized so lineage stays one superstep deep (no
    * 2^rounds recompute tree) and the previous round unpersists as
    * soon as the probe has read it. Rounds are data-dependent but
    * deterministic; on the co-order graph the loop stops one probe
    * after the diameter is covered, so the output equals
    * `graph_components` whenever [[CcRounds]] ≥ diameter — and keeps
    * being right when it isn't. Oracle: DuckDB reaches the same
    * fixpoint declaratively via a recursive CTE in the FRONTIER-MIN
    * form (each iteration joins the last frontier to the edges and
    * takes MIN per node; final answer = MIN over everything emitted) —
    * per-iteration cost is |edges|, accumulated rows are each node's
    * decreasing label sequence. The naive reachable-label CLOSURE form
    * is quadratic in component size (Σ|component|² pairs) and ground
    * to a halt on sf0.1's giant co-order component; same fixpoint,
    * linear price. */
  private def graphComponentsConverged(s: SparkSession, d: String) = {
    import s.implicits._
    componentsConvergedOf(coOrderEdges(s, d))
      .select(
        when($"node" % 2 === 0, lit("customer")).otherwise(lit("supplier"))
          .as("node_type"),
        expr("node div 2").cast("long").as("node_key"),
        $"label".as("component"))
      .orderBy($"node_type", $"node_key")
  }

  /** Spec hook: the fixpoint min-label loop over an arbitrary directed
    * `(src, dst)` edge frame — returns `(node, label)` at convergence.
    *
    * Each round's label table is `localCheckpoint`ed (eager), not just
    * cached: a cache truncates EXECUTION but leaves the logical plan
    * nesting every previous round, so the per-round AQE plan (and its
    * explain string) grows with the iteration count — the classic
    * iterative-lineage blowup Pregel loops checkpoint away. The
    * checkpoint pins each round to its materialized blocks, keeping
    * plans (and driver memory) constant-size at any round count; label
    * state is one (node, label) row per vertex, the cheapest thing in
    * the loop to persist. */
  private[graft] def componentsConvergedOf(edges: DataFrame): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    // same small-graph physical gate + explicit label broadcast as
    // [[ccLabels]] — the per-round label frames are stats-free
    // checkpoint leaves
    val g = SmallData.graph(s, edges.count())
    g.withConfs {
    val nodes = edges.select($"src".as("node")).distinct()
    val closed = edges
      .unionByName(nodes.select($"node".as("src"), $"node".as("dst")))
      .repartition($"src").sortWithinPartitions($"src")
      .cache()
    var labels = nodes.select($"node", $"node".as("label")).localCheckpoint()
    var changed = 1L
    while (changed > 0) {
      val next = closed.join(g.bc(labels), $"dst" === $"node")
        .groupBy($"src").agg(min($"label").as("label"))
        .withColumnRenamed("src", "node")
        .localCheckpoint()
      changed = next
        .join(g.bc(labels.select($"node", $"label".as("prev"))), "node")
        .filter($"label" < $"prev").count()
      labels = next
    }
    closed.unpersist(false)
    finalCheckpoint(labels)
    }
  }

  private def componentsConvergedOracle: String =
    s"""WITH RECURSIVE co AS (
       |  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |),
       |edges AS (
       |  SELECT cust * 2 AS src, supp * 2 + 1 AS dst FROM co
       |  UNION ALL
       |  SELECT supp * 2 + 1 AS src, cust * 2 AS dst FROM co
       |),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |lab(node, label) AS (
       |  SELECT node, node AS label FROM nodes
       |  UNION
       |  SELECT e.src AS node, MIN(l.label) AS label
       |  FROM edges e JOIN lab l ON e.dst = l.node
       |  GROUP BY e.src
       |)
       |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       |  node // 2 AS node_key, MIN(label) AS component
       |FROM lab GROUP BY node
       |ORDER BY node_type, node_key""".stripMargin

  private val CoreK = 2
  private val PeelRounds = 6
  /** Spec visibility for the fixpoint-inside-bound invariant. */
  private[graft] def PeelRoundsForSpec: Int = PeelRounds

  /** K-core onion decomposition (k = [[CoreK]]) of the co-order graph
    * — the link-graph quality/spam signal: nodes peel in rounds
    * (remove everything with fewer than k surviving neighbors,
    * repeat), `peeled_round` records each node's onion layer and
    * `in_core` = survived every peel. A customer/supplier in the
    * 2-core has redundant co-order relationships; leaves and chains
    * (single-relationship tendrils) peel layer by layer — the shape
    * used to separate organically-linked pages from spam tendrils in
    * web-graph curation.
    *
    * Peeling is MONOTONE (the removed set only grows), so unlike
    * label propagation there is no oscillation: [[PeelRounds]] rounds
    * mirror exactly in the oracle's unrolled CTEs (the
    * `graph_components` bound pattern — the bound is the latency knob,
    * and `GraphSpec` proves the testdata fixpoint lands well inside
    * it), and the loop EXITS EARLY once a round peels nothing —
    * monotonicity makes the remaining rounds provable no-ops, so the
    * output stays identical to the oracle's full unroll. Per round: one degree count over the surviving subgraph
    * (edges semi-joined to the alive set on BOTH endpoints — the
    * cached edge table is partitioned+sorted on src ONCE) and one
    * anti-join to name the peeled layer; each round's alive set is
    * `localCheckpoint`ed so the plan stays one round deep (the
    * iterative-lineage rule every Pregel loop here follows). State is
    * one row per alive node, shrinking every round. */
  private def graphKcore(s: SparkSession, d: String) = {
    import s.implicits._
    kcoreOf(coOrderEdges(s, d))
      .select(
        when($"node" % 2 === 0, lit("customer")).otherwise(lit("supplier"))
          .as("node_type"),
        expr("node div 2").cast("long").as("node_key"),
        $"peeled_round", $"in_core")
      .orderBy($"node_type", $"node_key")
  }

  /** Spec hook: the bounded peel loop over an arbitrary symmetric
    * `(src, dst)` edge frame — returns `(node, peeled_round, in_core)`
    * with `peeled_round` = 0 for k-core members. */
  private[graft] def kcoreOf(edges0: DataFrame): DataFrame = {
    val s = edges0.sparkSession
    import s.implicits._
    val edges = edges0
      .repartition($"src").sortWithinPartitions($"src").cache()
    var alive = edges.select($"src".as("node")).distinct().localCheckpoint()
    val layers = Seq.newBuilder[DataFrame]
    var r = 1
    var peeled = 1L
    // Early exit at the fixpoint: peeling is monotone, so a round that
    // removes nothing proves every remaining round removes nothing —
    // the output is IDENTICAL to running the full bound (the oracle's
    // no-op tail rounds), minus their cost. The layer count doubles as
    // the probe; its localCheckpoint is the materialization the final
    // union needed anyway.
    while (r <= PeelRounds && peeled > 0) {
      val deg = edges
        .join(alive.select($"node".as("src")), "src")
        .join(alive.select($"node".as("dst")), "dst")
        .groupBy($"src").agg(count(lit(1)).as("deg"))
      val next = deg.filter($"deg" >= CoreK).select($"src".as("node"))
        .localCheckpoint()
      val layer = alive.join(next, Seq("node"), "left_anti")
        .select($"node", lit(r).as("peeled_round"))
        .localCheckpoint()
      peeled = layer.count()
      layers += layer
      alive = next
      r += 1
    }
    layers.result().reduce(_.unionByName(_))
      .unionByName(alive.select($"node", lit(0).as("peeled_round")))
      .withColumn("in_core", $"peeled_round" === 0)
  }

  /** Unrolled peel rounds. Each `a{i}` is referenced 4× downstream
    * (both endpoint joins of round i+1, two layer anti-joins, the
    * final union) — `AS MATERIALIZED` stops DuckDB's CTE inlining
    * from re-expanding the whole prefix per reference (3^rounds
    * blowup, the oracle-side twin of the iterative-lineage rule the
    * Spark loop solves with localCheckpoint; observed as a spill
    * blowup at sf0.1 before materialization). */
  private def kcoreOracle: String = {
    val rounds = (1 to PeelRounds).map { i =>
      s"""d$i AS (
         |  SELECT e.src AS node, COUNT(*) AS deg
         |  FROM edges e
         |  JOIN a${i - 1} s ON e.src = s.node
         |  JOIN a${i - 1} t ON e.dst = t.node
         |  GROUP BY e.src
         |),
         |a$i AS MATERIALIZED (SELECT node FROM d$i WHERE deg >= $CoreK),
         |p$i AS (
         |  SELECT a.node, $i AS peeled_round
         |  FROM a${i - 1} a LEFT JOIN a$i b ON a.node = b.node
         |  WHERE b.node IS NULL
         |)""".stripMargin
    }.mkString(",\n")
    val union = (1 to PeelRounds).map(i => s"SELECT * FROM p$i")
      .mkString("\n  UNION ALL ") +
      s"\n  UNION ALL SELECT node, 0 AS peeled_round FROM a$PeelRounds"
    s"""WITH co AS (
       |  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |),
       |edges AS MATERIALIZED (
       |  SELECT cust * 2 AS src, supp * 2 + 1 AS dst FROM co
       |  UNION ALL
       |  SELECT supp * 2 + 1 AS src, cust * 2 AS dst FROM co
       |),
       |a0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
       |$rounds,
       |onion AS (
       |  $union
       |)
       |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       |  node // 2 AS node_key, CAST(peeled_round AS INT) AS peeled_round,
       |  peeled_round = 0 AS in_core
       |FROM onion
       |ORDER BY node_type, node_key""".stripMargin
  }

  private val SsspRounds = 4

  /** Bounded multi-source BFS: hop distance from the nearest
    * nation-0 customer, over the co-order graph — the "blast radius /
    * nearest-seed" query behind contamination tracing and influence
    * caps. Nodes farther than [[SsspRounds]] hops are absent from the
    * output (the bound is the latency knob, as in [[graphComponents]]).
    *
    * Scale: the same closed-neighborhood superstep as
    * [[graphComponents]] — weighted self-loops (w=0) fold "keep my
    * current distance" into the single per-round join + min-aggregate,
    * so the distance table is consumed ONCE per round (no
    * union-with-previous recompute blow-up) and the reached set grows
    * frontier-by-frontier: round i touches only nodes within i hops,
    * never the whole graph. Distances are exact integers — no
    * quantization needed for cross-engine identity. */
  /** Spec hook: [[SsspRounds]]-bounded BFS over an arbitrary directed
    * (src, dst) edge list from a (seed) frame — the superstep loop
    * alone, so tests can drive random graphs against a reference BFS. */
  private[graft] def bfsDistances(edges: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val nodes = edges.select($"src".as("node")).distinct()
    // Same partitioning-reuse as [[graphComponents]]: one edge shuffle
    // total, every round's SMJ reads the cached src-partitioned runs.
    val closed = edges.withColumn("w", lit(1L))
      .unionByName(
        nodes.select($"node".as("src"), $"node".as("dst"), lit(0L).as("w")))
      .repartition($"src").sortWithinPartitions($"src")
      .cache()
    var dist = nodes.join(seeds, $"node" === $"seed", "leftsemi")
      .select($"node", lit(0L).as("dist"))
    for (_ <- 1 to rounds) {
      dist = closed.join(dist, $"src" === $"node")
        .groupBy($"dst").agg(min($"dist" + $"w").as("dist"))
        .withColumnRenamed("dst", "node")
    }
    dist
  }

  private def graphSssp(s: SparkSession, d: String) = {
    import s.implicits._
    val seeds = Tables.customer(s, d)
      .filter($"c_nationkey" === 0)
      .select(($"c_custkey" * 2).as("seed"))
    bfsDistances(coOrderEdges(s, d), seeds, SsspRounds)
      .select(
        when($"node" % 2 === 0, lit("customer")).otherwise(lit("supplier"))
          .as("node_type"),
        expr("node div 2").cast("long").as("node_key"), $"dist")
      .orderBy($"node_type", $"node_key")
  }

  private def ssspOracle: String = {
    val rounds = (1 to SsspRounds).map { i =>
      s"""d$i AS (
         |  SELECT c.dst AS node, MIN(d.dist + c.w) AS dist
         |  FROM closed c JOIN d${i - 1} d ON c.src = d.node
         |  GROUP BY c.dst
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH co AS (
       |  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |),
       |edges AS (
       |  SELECT cust * 2 AS src, supp * 2 + 1 AS dst FROM co
       |  UNION ALL
       |  SELECT supp * 2 + 1 AS src, cust * 2 AS dst FROM co
       |),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |closed AS (
       |  SELECT src, dst, CAST(1 AS BIGINT) AS w FROM edges
       |  UNION ALL SELECT node, node, CAST(0 AS BIGINT) FROM nodes
       |),
       |d0 AS (
       |  SELECT n.node, CAST(0 AS BIGINT) AS dist
       |  FROM nodes n
       |  WHERE EXISTS (SELECT 1 FROM customer c
       |                WHERE n.node = c.c_custkey * 2 AND c.c_nationkey = 0)
       |),
       |$rounds
       |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       |  node // 2 AS node_key, dist
       |FROM d$SsspRounds
       |ORDER BY node_type, node_key""".stripMargin
  }

  // Similarity-kNN knobs: middle-vertex (customer) degree cap — the
  // wedge-join skew guard, same idiom as the LSH MaxBucket — and the
  // per-node neighbor-list length.
  private val SimMaxCoDeg = 1024
  private val SimTopK = 5

  /** Item-item similarity kNN: for every supplier, its [[SimTopK]]
    * most-similar suppliers by Jaccard over shared CUSTOMER sets —
    * the collaborative-filtering candidate generator (and the graph
    * twin of `knn_graph`, which does the same over embeddings).
    *
    * Scale: common-neighbor counts come from ONE self-join of the
    * bipartite (customer, supplier) adjacency on the customer key —
    * cost Σ deg(cust)², bounded by dropping middle vertices above
    * [[SimMaxCoDeg]] (enforced + oracle-mirrored, the wedge analogue
    * of the LSH bucket cap; a retail-scale "everyone's customer" hub
    * would otherwise quadratically dominate). Degrees join in from a
    * supplier-count aggregate (dimension-sized → broadcast), and the
    * top-k cut is a per-supplier window over its candidate ROWS only
    * — never a global sort.
    *
    * Determinism: ranking key = (jaccard quantized to 6 dp DESC,
    * neighbor id ASC) — the quantization makes float ties exact, the
    * id breaks them identically in both engines. */
  private def graphSimilarity(s: SparkSession, d: String) = {
    import s.implicits._
    // the adjacency feeds three consumers (degree cap, degrees, wedge
    // join) — cache it so the orders⋈lineitem distinct runs once; it is
    // |distinct (cust, supp)| rows (two longs each), far smaller than
    // the fact table. The harness clears the cache between queries.
    val adj = Tables.orders(s, d).select($"o_orderkey", $"o_custkey")
      .join(Tables.lineitem(s, d).select($"l_orderkey", $"l_suppkey"),
        $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("cust"), $"l_suppkey".as("supp"))
      .distinct().cache()
    // The wedge join EXPANDS ~40× (Σ deg(cust)² rows from a compact
    // adjacency): its INPUT is small enough that AQE would coalesce the
    // shuffle to a task or two and serialize the expansion + partial
    // aggregate behind it. Pin the expansion width with an explicit
    // numPartitions repartition on the join key (AQE preserves
    // user-specified repartitioning); both sides co-partition, so the
    // self-join adds no further exchange.
    val target = s.sparkContext.defaultParallelism
    val kept = adj.join(
      adj.groupBy($"cust").agg(count(lit(1)).as("cd"))
        .filter($"cd" <= SimMaxCoDeg).select($"cust"),
      Seq("cust"))
      .repartition(target, $"cust")
    // cached: the symmetric union below reads `common` twice, and
    // without the cache each branch would re-run the whole wedge join
    val common = kept.as("l").join(kept.as("r"),
        $"l.cust" === $"r.cust" && $"l.supp" < $"r.supp")
      .groupBy($"l.supp".as("a"), $"r.supp".as("b"))
      .agg(count(lit(1)).as("common"))
      .cache()
    val deg = adj.groupBy($"supp").agg(count(lit(1)).as("d"))
    val sym = common.unionByName(
      common.select($"b".as("a"), $"a".as("b"), $"common"))
    val scored = sym
      .join(deg.select($"supp".as("a"), $"d".as("da")), "a")
      .join(deg.select($"supp".as("b"), $"d".as("db")), "b")
      .select($"a".as("supplier"), $"b".as("nbr"), $"common",
        roundHalfUp(lit(1.0) * $"common" / ($"da" + $"db" - $"common"), 6)
          .as("jaccard"))
    val w = Window.partitionBy($"supplier")
      .orderBy($"jaccard".desc, $"nbr".asc)
    scored
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= SimTopK)
      .orderBy($"supplier", $"rk")
  }

  private def similarityOracle: String =
    s"""WITH adj AS (
       |  SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
       |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       |),
       |kept AS (
       |  SELECT a.cust, a.supp FROM adj a
       |  JOIN (SELECT cust FROM adj GROUP BY cust
       |        HAVING COUNT(*) <= $SimMaxCoDeg) k ON k.cust = a.cust
       |),
       |common AS (
       |  SELECT l.supp AS a, r.supp AS b, COUNT(*) AS common
       |  FROM kept l JOIN kept r ON l.cust = r.cust AND l.supp < r.supp
       |  GROUP BY 1, 2
       |),
       |deg AS (SELECT supp, COUNT(*) AS d FROM adj GROUP BY supp),
       |sym AS (
       |  SELECT a, b, common FROM common
       |  UNION ALL SELECT b, a, common FROM common
       |),
       |scored AS (
       |  SELECT s.a AS supplier, s.b AS nbr, s.common,
       |    ${roundHalfUpSql("1.0 * s.common / (da.d + db.d - s.common)", 6)}
       |      AS jaccard
       |  FROM sym s
       |  JOIN deg da ON da.supp = s.a
       |  JOIN deg db ON db.supp = s.b
       |),
       |ranked AS (
       |  SELECT supplier, nbr, common, jaccard,
       |    CAST(row_number() OVER (PARTITION BY supplier
       |      ORDER BY jaccard DESC, nbr ASC) AS INT) AS rk
       |  FROM scored
       |)
       |SELECT supplier, nbr, common, jaccard, rk
       |FROM ranked WHERE rk <= $SimTopK
       |ORDER BY supplier, rk""".stripMargin

  val defs: Seq[OpDef] = Seq(
    OpDef("graph_similarity", graphSimilarity _, similarityOracle),
    OpDef("graph_pagerank", graphPagerank _, pagerankOracle),
    OpDef("graph_pagerank_personalized", graphPagerankPersonalized _,
      pprOracle),
    OpDef("graph_pagerank_incremental", graphPagerankIncremental _,
      pagerankIncrementalOracle),
    OpDef("graph_pagerank_converged", graphPagerankConverged _,
      pagerankConvergedOracle),
    OpDef("graph_triangles", graphTriangles _, trianglesOracle),
    OpDef("graph_degrees", graphDegrees _, degreesOracle),
    OpDef("graph_components", graphComponents _, componentsOracle),
    OpDef("graph_modularity", graphModularity _, modularityOracle),
    OpDef("graph_louvain_step", graphLouvainStep _, louvainOracle),
    OpDef("graph_louvain_step2", graphLouvainStep2 _, louvainStep2Oracle),
    OpDef("graph_louvain", graphLouvain _, louvainMultiOracle),
    OpDef("graph_louvain_store", graphLouvainStore _, louvainStoreOracle),
    OpDef("graph_louvain_label_store", graphLouvainLabelStore _,
      louvainLabelStoreOracle),
    OpDef("graph_louvain_step2_store", graphLouvainStep2Store _,
      louvainStep2Oracle),
    OpDef("graph_leiden_refine", graphLeidenRefine _, leidenRefineOracle),
    OpDef("graph_leiden", graphLeiden _, leidenOracle),
    OpDef("graph_components_converged", graphComponentsConverged _,
      componentsConvergedOracle),
    OpDef("graph_kcore", graphKcore _, kcoreOracle),
    OpDef("graph_sssp", graphSssp _, ssspOracle)
  )
}
