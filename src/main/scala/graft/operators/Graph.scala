package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import graft.functions.Num.r8
import scala.util.chaining._

/** Graph kernels over edge lists (`src`, `dst` — or `left`, `right` for
  * the bipartite link-prediction pair): breadth-first distances, the
  * fixed-round walks and votes (PageRank, personalized PageRank, Katz,
  * label propagation, k-core, HITS), triangle counts and one-scalar
  * structural audits.
  *
  * Every iterative kernel runs a FIXED round count (BFS: a depth cap), so
  * its result is a deterministic function of the edge list that a plain
  * SQL oracle recomputes by unrolling the same rounds. Every value that
  * crosses a merge is integral — LONG-quantized sums, micro-unit scores —
  * so results are bit-identical under any partition count, merge order
  * or join strategy; the only floats are single IEEE divisions re-gridded
  * to 1e-8 ([[graft.functions.Num.r8]]).
  *
  * Scale shape: the edge list is hash-distributed on the join key and cut
  * ONCE ([[Dist.byKeysCut]] re-declares that partitioning on the cut);
  * each round joins a |V|-row state frame against it and shuffles
  * (node, value) pairs only — never edges twice, never attributes.
  * Scalars the driver needs (|V|, id ranges, a renormalizing max) ride
  * the cut's job as observe metrics instead of separate actions.
  *
  * The cut rule ([[rounds]]): a fixed small round count stays LAZY by
  * default — the rounds compose into one DAG, AQE plans every stage and
  * the scheduler floor is paid once; `checkpointEvery = c` cuts the
  * state frame after every c-th round, for long loops that want bounded
  * plans and restartable state. A kernel whose per-round frame feeds TWO
  * consumers cuts every round by default (k-core) or eagerly per
  * half-round (HITS): uncut, each consumer re-derives the whole upstream
  * chain, doubling per round.
  */
object Graph {

  /** Min hop distance from `seed` to every node reachable within
    * `maxDepth` hops over DIRECTED edges (`src`, `dst`). Returns
    * (node, dist) including (seed, 0). Undirected graphs pass a
    * symmetrized edge list. `maxDepth` bounds the loop on BOTH engines
    * (the DuckDB oracle caps its recursive CTE identically), so results
    * are well-defined even on cyclic graphs.
    *
    * Scale shape (the same discipline as [[Components]]): the edge list
    * is partitioned on `src` and persisted for the call; each round joins
    * the CURRENT FRONTIER against it, anti-joins the visited set to keep
    * only newly reached nodes, and cuts eagerly, so the driver sees one
    * observe-metric count per round, never rows, and the loop stops at
    * the first empty frontier. ONE hop per round: a fused two-hop round
    * serializes the same shuffle stages plus a union and a wider
    * anti-join, and measured slower at every SF (SCALE.md "graph_bfs
    * two-hop experiment"). The persisted edge list is released however
    * the loop ends. */
  def bfs(edges: DataFrame, seed: Long, maxDepth: Int): DataFrame = {
    require(maxDepth >= 0)
    val spark = edges.sparkSession
    import spark.implicits._
    val e = Dist.byKeys(edges.select(col("src"), col("dst")), col("src")).persist()
    try {
      var visited = Seq((seed, 0)).toDF("node", "dist").pipe(Checkpointing.cut)
      var frontier = visited
      var depth = 0
      var done = false
      while (depth < maxDepth && !done) {
        val obs = new Observation(s"bfs_$depth")
        // dist rides as a COLUMN (frontier dist + 1), not a per-round
        // literal: a literal is constant-folded into the generated code,
        // so every round would compile a fresh whole-stage-codegen plan
        val next = frontier.join(e, frontier("node") === e("src"))
          .select(col("dst").as("node"), (frontier("dist") + lit(1)).as("dist"))
          .distinct()
          .join(visited, Seq("node"), "left_anti")
          .observe(obs, count(lit(1)).as("n"))
          .pipe(Checkpointing.cut)
        done = obs.get("n").asInstanceOf[Long] == 0
        if (!done) {
          // visited is a union of ≤ maxDepth frames that are EACH cut, so
          // its plan stays shallow without a cut of its own
          visited = visited.unionAll(next)
          frontier = next
        }
        depth += 1
      }
      visited
    } finally e.unpersist()
  }

  /** `iters` applications of `step(state, round)` (rounds 1-based) to
    * `init`, composed lazily into one plan, with the state cut after
    * every `cutEvery`-th round (0 = never) — the cut rule of every
    * fixed-round kernel. */
  private def rounds(init: DataFrame, iters: Int, cutEvery: Int)(
      step: (DataFrame, Int) => DataFrame): DataFrame =
    (1 to iters).foldLeft(init) { (x, i) =>
      step(x, i).pipe(y => if (cutEvery > 0 && i % cutEvery == 0) Checkpointing.cut(y) else y)
    }

  /** PageRank by power iteration over DIRECTED edges (`src`, `dst`) —
    * the web-graph quality signal pretraining pipelines rank crawl
    * sources with. Per round:
    * rank(v) ← (1−d)/N + d·Σ_{u→v} rank(u)/outdeg(u), N the observed
    * node count. Dangling mass (nodes with no out-edges) is dropped,
    * identically on both engines; callers wanting mass conservation
    * symmetrize or add self-loops upstream. See [[walk]] for the
    * exactness contract and the plan shape. */
  def pagerank(edges: DataFrame, iters: Int, damping: Double = 0.85,
      checkpointEvery: Int = 0): DataFrame =
    walk(edges, iters, damping, checkpointEvery)(
      n => lit(teleportMass(damping)) / lit(n.toDouble), n => r8(lit(1.0) / lit(n.toDouble)))

  /** Personalized PageRank — random walk with restart to a SEED set
    * (Haveliwala 2002; the similar-item / trust-propagation workhorse):
    * [[pagerank]]'s walk with the teleport mass landing only on `seeds`,
    * (1−d)/|S| each, so ranks measure proximity TO the seeds instead of
    * global centrality. Non-seed nodes with no in-edges sit at exactly
    * 0.0; seeds should be graph nodes (a seed absent from the edge set
    * contributes no mass — caller's contract) and must be distinct (a
    * repeated seed would spread (1−d)/|S| over fewer nodes and lose
    * mass). The seed test is an `isin` literal — no extra join, no extra
    * exchange vs [[pagerank]]. */
  def personalizedPagerank(edges: DataFrame, seeds: Seq[Long], iters: Int,
      damping: Double = 0.85, checkpointEvery: Int = 0): DataFrame = {
    require(iters >= 0 && seeds.nonEmpty)
    require(seeds.distinct.size == seeds.size, "personalizedPagerank: seeds must be " +
      s"distinct; repeated: ${seeds.diff(seeds.distinct).distinct.mkString(", ")}")
    val isSeed = col("node").isin(seeds: _*)
    val k = lit(seeds.size.toDouble)
    walk(edges, iters, damping, checkpointEvery)(
      _ => when(isSeed, lit(teleportMass(damping)) / k).otherwise(lit(0.0)),
      _ => when(isSeed, r8(lit(1.0) / k)).otherwise(lit(0.0)))
  }

  /** The teleport mass 1 − d, subtracted in decimal as SQL subtracts two
    * decimal literals (1.0 − 0.85 = 0.15 exactly, where the double
    * subtraction gives 0.15000000000000002), then read as a double: a
    * one-ulp larger teleport flips an r8 step whenever a rank lands on a
    * half grid step. */
  private def teleportMass(damping: Double): Double =
    (BigDecimal(1) - BigDecimal(damping)).toDouble

  /** The random walk behind [[pagerank]] and [[personalizedPagerank]]:
    * rank(v) ← r8(teleport(v) + d·Σ_{u→v} rank(u)/outdeg(u)) from the
    * start ranks, where `teleport(n)` and `start(n)` are per-node columns
    * given the observed node count n.
    *
    * Exactness: each contribution is quantized to the 1e-8 grid,
    * floor(rank·1e8/outdeg + 0.5), BEFORE the sum, and summed as a LONG —
    * associative and commutative, so the per-node total is bit-identical
    * under any partition count or merge order, where a double sum's
    * accumulation order would differ between Spark's partial aggregation
    * and a single-threaded oracle and could flip an r8 grid step. Ranks
    * are re-gridded with r8 every round (1e-8; a coarser grid zeroes
    * O(1/N) ranks on large graphs), so the next round's input is
    * bit-identical on both engines. The oracle applies the identical
    * quantization before ITS sum.
    *
    * Plan shape: setup is two eager materializations — the
    * degree-annotated, src-partitioned edge cut every round joins, and
    * the node frame derived from it, whose has-inbound flag and counts
    * (|V|, |no-inbound|) ride the same job as observe metrics. Nodes with
    * no in-edges hold the constant r8(teleport) from the first round on,
    * so their contributions are a constant frame unioned BELOW each
    * round's exchange (sum(s ∪ consts) ≡ sum(s) + consts exactly in
    * LONG): the loop-carried frame stays a pure aggregate output,
    * hash-partitioned on `node` and co-partitioned with the edge cut, so
    * a sort-merge join never re-exchanges it. Their rank rows rejoin the
    * output once after the loop. A symmetrized graph observes no such
    * nodes and skips both unions. One exchange per round plus the
    * output's; rounds follow the [[rounds]] cut rule. */
  private def walk(edges: DataFrame, iters: Int, damping: Double, cutEvery: Int)(
      teleport: Long => Column, start: Long => Column): DataFrame = {
    require(iters >= 0)
    val e = edges.select(col("src"), col("dst")).distinct()
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val ed = Dist.byKeysCut(e.join(outdeg, "src"), "src")
    val obs = new Observation()
    val nodes = ed.select(col("src").as("node"), lit(false).as("recv"))
      .unionAll(ed.select(col("dst").as("node"), lit(true).as("recv")))
      .groupBy("node").agg(bool_or(col("recv")).as("recv"))
      .observe(obs, count(lit(1)).as("n"),
        count(when(!col("recv"), lit(1))).as("n_norecv"))
      .localCheckpoint(true)
    val n = obs.get("n").asInstanceOf[Long]
    val hasNoRecv = obs.get("n_norecv").asInstanceOf[Long] > 0L
    val base = teleport(n)
    val noRecv = nodes.filter(!col("recv")).select(col("node"), r8(base).as("rank"))
    def quantized(r: DataFrame): DataFrame =
      r.join(ed, r("node") === ed("src"))
        .select(col("dst").as("node"),
          floor(col("rank") * lit(100000000L) / col("outdeg") + lit(0.5)).cast("long").as("wq"))
    val noRecvContrib = quantized(noRecv)
    // the first round's input is the FULL start frame (every node); later
    // rounds carry the aggregate output (nodes WITH in-edges) plus the
    // constant no-inbound contributions
    val ranks = rounds(nodes.select(col("node"), start(n).as("rank")), iters, cutEvery) {
      (r, i) =>
        val fromRanks = quantized(r)
        (if (i == 1 || !hasNoRecv) fromRanks else fromRanks.unionAll(noRecvContrib))
          .groupBy("node").agg(sum(col("wq")).as("wq"))
          .select(col("node"),
            r8(base + lit(damping) * (col("wq").cast("double") / lit(100000000.0))).as("rank"))
    }
    if (iters >= 1 && hasNoRecv) ranks.unionAll(noRecv) else ranks
  }

  /** Katz centrality (Katz 1953) with a DYADIC attenuation factor —
    * x_i(v) = 1 + α·Σ_{j→v} x_{i−1}(j), α = 1/attenuationDiv — run a
    * fixed round count in 1e8 micro-units: the per-round update is
    * `1e8 + (Σ incoming) div attenuationDiv`, pure BIGINT floor
    * division, so there is NO floating-point operation anywhere in the
    * chain. Counts walks of all lengths attenuated by α^len — the
    * centrality that sees beyond the 1-hop degree without pagerank's
    * stochastic normalization. Convergence/overflow contract:
    * α·maxInDegree < 1 keeps values bounded (fixture supplier degree
    * ~24 ≪ 64); values ≤ 1e8/(1−α·d) fit LONG by orders of magnitude.
    *
    * Scale shape: [[walk]]'s — src-partitioned edge cut, one exchange
    * per round shipping (node, LONG) pairs, the [[rounds]] cut rule.
    * Nodes without in-edges keep their row because a zero-contribution
    * row per node is unioned INTO the per-round sum: sum(s ∪ {0}) ≡
    * coalesce(sum(s), 0) exactly (LONG addition), and the |V| extra rows
    * ride the same exchange instead of a per-round |V|⋈|V| outer join. */
  def katzCentrality(edges: DataFrame, iters: Int,
      attenuationDiv: Long = 64L, checkpointEvery: Int = 0): DataFrame = {
    require(iters >= 0 && attenuationDiv >= 2)
    val e = edges.select(col("src"), col("dst")).distinct()
    val ed = Dist.byKeysCut(e, "src")
    val nodes = ed.select(col("src").as("node"))
      .unionAll(ed.select(col("dst").as("node")))
      .distinct().localCheckpoint(true)
    val unit = lit(100000000L)
    val zeroes = nodes.select(col("node"), lit(0L).as("katz_u"))
    rounds(nodes.select(col("node"), unit.as("katz_u")), iters, checkpointEvery) { (x, _) =>
      x.join(ed, x("node") === ed("src"))
        .select(col("dst").as("node"), col("katz_u"))
        .unionAll(zeroes)
        .groupBy("node").agg(sum(col("katz_u")).as("s"))
        .select(col("node"),
          (unit + expr(s"CAST(s DIV $attenuationDiv AS BIGINT)")).as("katz_u"))
    }.select(col("node"), col("katz_u"),
      r8(col("katz_u").cast("double") / lit(100000000.0)).as("katz"))
  }

  /** Observes the min and max endpoint id of `df`'s (src, dst) rows into
    * `obs` as `lo`/`hi`, on whatever job evaluates `df`. */
  private def observeIds(df: DataFrame, obs: Observation): DataFrame =
    df.observe(obs, min(least(col("src"), col("dst"))).cast("long").as("lo"),
      max(greatest(col("src"), col("dst"))).cast("long").as("hi"))

  /** Fails LOUDLY unless every id [[observeIds]] saw lies in [0, bound):
    * `who`'s id order-embedding is exact only there, and an id outside it
    * would decode silently to a wrong answer. An empty frame passes. */
  private def requireIdsBelow(obs: Observation, bound: Long, who: String): Unit = {
    val (lo, hi) = (obs.get("lo"), obs.get("hi"))
    require(lo == null || (lo.asInstanceOf[Long] >= 0L && hi.asInstanceOf[Long] < bound),
      s"$who: node ids must lie in [0, $bound) for its exact id order-embedding " +
        s"(observed [$lo, $hi]); pass a larger id bound")
  }

  /** Synchronous label propagation over DIRECTED edges (`src`, `dst`) —
    * the classic community-detection primitive (Raghavan et al. 2007):
    * every node starts labeled with its own id; each round it adopts the
    * label most frequent among its in-neighbors, ties broken toward the
    * SMALLEST label. A fixed round count plus the deterministic
    * tie-break makes the result a pure integer function of the edge
    * list, so a plain SQL oracle unrolls the identical rounds as CTEs
    * (synchronous LPA can oscillate on bipartite graphs — a property of
    * the algorithm, identical on both engines, bounded by the fixed
    * rounds). Undirected graphs pass a symmetrized edge list, which also
    * guarantees every node receives votes each round.
    *
    * Scale shape: the edge list is src-partitioned and cut ONCE; each
    * round joins the |V|-row label frame against it and makes ONE
    * exchange of (node, label) vote pairs, hash-distributed by `node`
    * alone — that satisfies both downstream aggregates (every
    * (node, label) group lives in node's partition), so the per-(node,
    * label) count and the per-node argmax run back to back in one stage.
    * The argmax is a plain LONG max over the order-embedding
    * cnt·idBound + (idBound−1−label) — highest count, then smallest
    * label — which keeps every round in codegen'd hash aggregates with
    * no sorts (a struct max is not hash-aggregable). `idBound` caps node
    * ids so the embedding is exact: ids outside [0, idBound) fail loudly
    * (checked on the edge cut's job), and cnt·idBound must fit a LONG —
    * at the default 2³¹ that allows 4.3·10⁹ same-label in-votes per
    * node; a larger idBound shrinks that to 2⁶³/idBound. Rounds follow
    * the [[rounds]] cut rule. */
  def labelPropagation(edges: DataFrame, iters: Int,
      checkpointEvery: Int = 0, idBound: Long = 1L << 31): DataFrame = {
    require(iters >= 1)
    require(idBound >= 2, s"labelPropagation: idBound must be >= 2, got $idBound")
    val e = edges.select(col("src"), col("dst")).distinct()
    val idObs = new Observation()
    val ed = Dist.byKeysCutVia(e, observeIds(_, idObs), "src")
    requireIdsBelow(idObs, idBound, "labelPropagation")
    val init = ed.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    rounds(init, iters, checkpointEvery) { (labels, _) =>
      Dist.byKeys(
          labels.join(ed, labels("node") === ed("src"))
            .select(col("dst").as("node"), col("label")),
          col("node"))
        .groupBy("node", "label").agg(count(lit(1)).as("cnt"))
        .groupBy("node")
        .agg(max(col("cnt") * lit(idBound)
          + (lit(idBound - 1L) - col("label"))).as("m"))
        .select(col("node"),
          (lit(idBound - 1L) - pmod(col("m"), lit(idBound))).as("label"))
    }
  }

  /** Fixed-round k-core peeling over a SYMMETRIZED edge list: each round
    * drops every node whose remaining degree is < k and restricts the
    * edge set to surviving endpoints — the degeneracy filter that
    * separates cohesive cores from tendrils (spam/bot subgraphs, weakly
    * attached crawl fringes). A fixed round count (instead of
    * peel-until-stable) keeps the result a deterministic function the
    * oracle can unroll; R rounds compute the k-core exactly whenever
    * peeling stabilizes within R (each round removes ≥1 node until
    * stable, so R bounds cascade depth).
    *
    * Returns the surviving `(node, deg)` frame (degree within the final
    * subgraph). Symmetry makes per-direction src-counts equal true
    * degrees and is PRESERVED by each round's two-sided restriction.
    *
    * Scale shape: each round is ONE map-side-combined degree aggregate
    * plus two semi-joins restricting the edge list. The edge frame is
    * hash-distributed by `src` ONCE up front: that partitioning satisfies
    * the distinct, every round's degree aggregate and the final degree
    * output, and survives the (broadcast) semi-joins and each round's
    * cut, so the setup exchange is the only shuffle of the peel. Every
    * round's edge frame is CUT by default (`checkpointEvery = 1`): it
    * feeds TWO consumers per round (its degree aggregate and the next
    * restriction), so a lazy composition re-derives the whole peel prefix
    * per consumer. Pass 0 for the lazy DAG on small fixed peels. */
  def kcore(edges: DataFrame, k: Int, rounds: Int,
      checkpointEvery: Int = 1): DataFrame = {
    require(k >= 1 && rounds >= 1)
    val init = Dist.byKeys(edges.select(col("src"), col("dst")), col("src")).distinct()
    Graph.rounds(init, rounds, checkpointEvery) { (e, _) =>
      val keep = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("__d"))
        .filter(col("__d") >= k).select("node")
      e.join(keep.select(col("node").as("src")), Seq("src"), "left_semi")
        .join(keep.select(col("node").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
    }.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
  }

  /** The undirected edge set of a directed edge list: one (u, v) row per
    * unordered endpoint pair, u < v, self-loops dropped. */
  private def undirected(edges: DataFrame): DataFrame = edges
    .select(least(col("src"), col("dst")).as("u"), greatest(col("src"), col("dst")).as("v"))
    .filter(col("u") =!= col("v")).distinct()

  /** (node, deg) — each node's degree in an [[undirected]] edge set. */
  private def undirectedDegrees(und: DataFrame): DataFrame =
    und.select(col("u").as("node")).unionAll(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))

  /** Exact per-node triangle counts over an UNDIRECTED graph given as a
    * directed edge list (symmetry not required — edges are canonicalized;
    * self-loops dropped). The clustering-coefficient numerator: community
    * cohesion, spam/link-farm signals, graph-quality audits.
    *
    * Scale shape — DEGREE ORIENTATION (Schank–Wagner node-iterator++,
    * the standard distributed-triangle trick): every undirected edge is
    * oriented from its lower-(degree, id) endpoint to the higher, which
    * turns each triangle into exactly ONE (apex → a, apex → b, a → b)
    * pattern and bounds the wedge mass by Σ_v C(outdeg⁺(v), 2) with
    * outdeg⁺ ≤ O(√|E|) on any graph — the self-join never sees a high-
    * degree hub's full neighborhood square. Two equi-joins total (wedge
    * build on the apex, closure probe on (a, b)), both on the oriented
    * frame; per-node attribution explodes 3 rows per triangle, then one
    * count aggregate. `nodeIdBound` caps ids so the (deg, id) order
    * collapses into one scalar key (deg·bound + id) — a plain long
    * column both engines compare identically; ids outside
    * [0, nodeIdBound) fail loudly, checked on the orientation cut's job. */
  def triangleCounts(edges: DataFrame, nodeIdBound: Long = 1000000L): DataFrame =
    triangleCountsWithDeg(edges, nodeIdBound).select(col("node"), col("n_tri"))

  /** [[triangleCounts]] plus each node's undirected degree — the shared
    * core for the per-node count query and [[clusteringCoeff]]. Output
    * (node, deg, n_tri). */
  def triangleCountsWithDeg(edges: DataFrame,
      nodeIdBound: Long = 1000000L): DataFrame = {
    require(nodeIdBound >= 1,
      s"triangleCounts: nodeIdBound must be >= 1, got $nodeIdBound")
    val und = undirected(edges)
    val deg = undirectedDegrees(und)
      .select(col("node"), col("deg"), (col("deg") * nodeIdBound + col("node")).as("ok"))
    val idObs = new Observation()
    val oriented = und
      .join(deg.select(col("node").as("u"), col("ok").as("u_ok")), "u")
      .join(deg.select(col("node").as("v"), col("ok").as("v_ok")), "v")
      .select(
        when(col("u_ok") < col("v_ok"), col("u")).otherwise(col("v")).as("src"),
        when(col("u_ok") < col("v_ok"), col("v")).otherwise(col("u")).as("dst"),
        greatest(col("u_ok"), col("v_ok")).as("dst_ok"))
      .pipe(observeIds(_, idObs))
      .localCheckpoint(true)
    requireIdsBelow(idObs, nodeIdBound, "triangleCounts")
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst_ok") < col("e2.dst_ok"))
      .select(col("e1.src").as("apex"), col("e1.dst").as("a"), col("e2.dst").as("b"))
    val tri = wedges.join(oriented.as("e3"),
      col("a") === col("e3.src") && col("b") === col("e3.dst"))
    val perNode = tri
      .select(explode(array(col("apex"), col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    deg.select(col("node"), col("deg"))
      .join(perNode, Seq("node"), "left_outer")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }

  /** Local clustering coefficient per node — c_v = 2·T_v/(deg_v·(deg_v−1))
    * for deg ≥ 2, else 0: "how close is v's neighborhood to a clique",
    * the per-node community-cohesion / spam-farm signal built directly on
    * [[triangleCountsWithDeg]]. Both the numerator (2·T_v) and the
    * denominator (deg·(deg−1)) are exact BIGINTs (deg² < 2⁵³ at any
    * realistic degree), so `coeff` is ONE IEEE division on the 1e-8 grid
    * — cross-engine deterministic. Adds only a narrow projection over
    * the triangle pipeline's existing shuffles. */
  def clusteringCoeff(edges: DataFrame, nodeIdBound: Long = 1000000L): DataFrame =
    triangleCountsWithDeg(edges, nodeIdBound)
      .select(col("node"), col("deg"), col("n_tri"),
        when(col("deg") >= 2, r8(
            (col("n_tri") * 2L).cast("double")
              / (col("deg") * (col("deg") - 1L)).cast("double")))
          .otherwise(lit(0.0)).as("coeff"))

  /** Degree assortativity of an UNDIRECTED graph (directed edge list is
    * canonicalized; self-loops dropped): the Pearson correlation of the
    * endpoint degrees (j, k) over the DIRECTED-BOTH-WAYS edge set — the
    * standard Newman 2002 mixing coefficient. r > 0: hubs attach to hubs
    * (social cores); r < 0: hubs attach to leaves (stars / hub-spoke) —
    * a one-scalar structural audit of any graph the engine builds.
    *
    * Exactness: with both directions present Σj = Σk and Σj² = Σk², so
    * r = (m2·Σjk − (Σj)²) / (m2·Σj² − (Σj)²) with every sum a BIGINT —
    * merge-order-proof; `assortativity` is ONE IEEE division of
    * exact-in-double longs on the 1e-8 grid. Overflow contract:
    * m2·Σjk < 2⁶³ — holds through ~10⁹ edges at bounded degree; beyond
    * that the sums must move to DECIMAL (documented, same rule as
    * [[modularity]]'s m2² bound).
    *
    * Scale shape: one degree aggregate (map-side combined), two co-keyed
    * joins of the |V|-row degree frame onto the edge list (each keyed by
    * one endpoint — the two honest shuffles of any edge-attribute join),
    * then ONE global aggregate combined to a single row. No windows, no
    * self-joins, no collects. */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val und = undirected(edges)
    val both = und.select(col("u").as("s"), col("v").as("d"))
      .unionAll(und.select(col("v").as("s"), col("u").as("d")))
    val deg = both.groupBy(col("s").as("node")).agg(count(lit(1)).as("deg"))
    val jk = both
      .join(deg.select(col("node").as("s"), col("deg").as("j")), "s")
      .join(deg.select(col("node").as("d"), col("deg").as("k")), "d")
    jk.agg(count(lit(1)).as("m2"), sum(col("j")).as("s_j"),
        sum(col("j") * col("k")).as("s_jk"),
        sum(col("j") * col("j")).as("s_j2"))
      .select(col("m2"), col("s_j"), col("s_jk"), col("s_j2"),
        (col("m2") * col("s_jk") - col("s_j") * col("s_j")).as("r_num"),
        (col("m2") * col("s_j2") - col("s_j") * col("s_j")).as("r_den"))
      .select(col("m2"), col("s_j"), col("s_jk"), col("s_j2"),
        col("r_num"), col("r_den"),
        when(col("r_den") > 0, r8(
            col("r_num").cast("double") / col("r_den").cast("double")))
          .otherwise(lit(0.0)).as("assortativity"))
  }

  /** Gini coefficient of the UNDIRECTED degree distribution — the
    * inequality audit beside [[degreeAssortativity]]'s mixing audit:
    * G = 0 all nodes equal, G → 1 a few hubs own the edges. One scalar
    * row (n, sum_deg, s1, g_num, gini).
    *
    * The key scale move: Σᵢ i·d₍ᵢ₎ over the SORTED degrees does not
    * need a global per-node rank — within a block of equal degree v the
    * rank sum is fixed under any tie order (v·(c·C_prev + c(c+1)/2)),
    * so the whole statistic computes from the (degree VALUE, count)
    * distribution: O(distinct degrees) rows, a frame bounded by
    * O(√E) values — the prefix window never sees node-level data.
    * Everything BIGINT (overflow contract n²·maxdeg < 2⁶³, same rule as
    * [[modularity]]'s m2² bound); gini = ONE r8-gridded IEEE division.
    *
    * Scale shape: one degree aggregate, one tiny value-count aggregate,
    * one window + one final aggregate over the distinct-degree frame. */
  def degreeGini(edges: DataFrame): DataFrame = {
    val dist = undirectedDegrees(undirected(edges)).groupBy("deg").agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("deg")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    dist
      .withColumn("cprev", coalesce(sum("c").over(w), lit(0L)))
      .select(
        sum(col("c")).as("n"),
        sum(col("deg") * col("c")).as("sum_deg"),
        // 2·Σᵢ i·d₍ᵢ₎ kept DOUBLED so every term stays integral without
        // a division (c·(c+1) is even, but `/` in the DSL is double)
        sum(col("deg") * (lit(2L) * col("c") * col("cprev")
          + col("c") * (col("c") + 1L))).as("s1_x2"))
      .select(col("n"), col("sum_deg"), col("s1_x2"),
        (col("s1_x2") - (col("n") + 1L) * col("sum_deg")).as("g_num"))
      .select(col("n"), col("sum_deg"), col("s1_x2"), col("g_num"),
        when(col("n") * col("sum_deg") > 0, r8(
            col("g_num").cast("double")
              / (col("n") * col("sum_deg")).cast("double")))
          .otherwise(lit(0.0)).as("gini"))
  }

  /** Reciprocity of a DIRECTED edge list — the fraction of (distinct,
    * non-loop) edges whose reverse also exists: near 1 on mutual-follow
    * social graphs, near 0 on citation/crawl DAGs; with [[
    * degreeAssortativity]] and [[degreeGini]] the third one-scalar
    * structural audit. Pure integers + ONE r8 IEEE division.
    *
    * Scale shape: one distinct, then a LEFT SEMI self-join keyed on the
    * reversed pair — both sides fed from one localCheckpoint, co-keyed,
    * never cartesian; two count aggregates. */
  def reciprocity(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .localCheckpoint(true)
    val mutual = e.join(
      e.select(col("dst").as("src"), col("src").as("dst")),
      Seq("src", "dst"), "left_semi")
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(mutual.agg(count(lit(1)).as("n_recip")))
      .select(col("n_edges"), col("n_recip"),
        when(col("n_edges") > 0, r8(
            col("n_recip").cast("double") / col("n_edges").cast("double")))
          .otherwise(lit(0.0)).as("reciprocity"))
  }

  /** The hub-guarded center frame of a BIPARTITE edge list (left, right):
    * its distinct edges whose center `right` has 2 ≤ degree ≤ `maxDeg`
    * (degree column named `deg`), each carrying its center's
    * `ctrCols(degree)`, cut once so both sides of [[centerPairs]]'s
    * self-join read one materialization. */
  private def guardedCenters(edges: DataFrame, maxDeg: Long, deg: String)(
      ctrCols: Column => Seq[Column]): DataFrame = {
    val e = edges.select(col("left"), col("right")).distinct()
    val ctr = e.groupBy("right").agg(count(lit(1)).as(deg))
      .filter(col(deg) >= 2 && col(deg) <= maxDeg)
      .select(col("right") +: ctrCols(col(deg)): _*)
    e.join(ctr, "right").localCheckpoint(true)
  }

  /** Left-node pairs u < v sharing ≥ `minCn` centers of a
    * [[guardedCenters]] frame: (u, v, cn, aggs...), the aggregates taken
    * over the shared centers' rows on side `a`. One center-keyed shuffle
    * feeds the self-join; the pair aggregate is map-side combined. */
  private def centerPairs(t: DataFrame, minCn: Long, aggs: Column*): DataFrame =
    t.as("a").join(t.as("b"),
        col("a.right") === col("b.right") && col("a.left") < col("b.left"))
      .groupBy(col("a.left").as("u"), col("b.left").as("v"))
      .agg(count(lit(1)).as("cn"), aggs: _*)
      .filter(col("cn") >= minCn)

  /** Adamic–Adar link prediction over a BIPARTITE edge list
    * (left, right): for every pair of left nodes sharing ≥ `minCn`
    * right-side neighbors, the common-neighbor count and the AA score
    * Σ_w 1/ln(deg w) over the shared centers w — rarer shared neighbors
    * weigh more (Adamic & Adar 2003). The candidate-pair primitive for
    * recommendation / related-item mining over co-occurrence graphs
    * (parts co-supplied, docs co-cited, users co-active).
    *
    * Exactness: each center's term is quantized ONCE to integer
    * micro-units (floor(10⁸/ln(deg)+0.5), the dq_drift_psi recipe —
    * libm-ulp drift absorbed by the grid), so the per-pair sum is
    * merge-order-proof BIGINT; `aa` is one exact IEEE division of that
    * integer. Wedge centers always have deg ≥ 2 (a deg-1 center has no
    * pair), so ln is never 0.
    *
    * Scale shape: wedge mass is Σ_w C(deg w, 2) — linear in edges when
    * center degree is bounded, which `maxDeg` ENFORCES (the skew guard:
    * a viral hub center contributes C(deg,2) ≈ deg² wedges and ~zero AA
    * weight apiece; dropping centers past the cap is the standard
    * hub-filter, part of the declared contract and mirrored by the
    * oracle). */
  def adamicAdar(edges: DataFrame, maxDeg: Long = 1000L, minCn: Long = 1L): DataFrame = {
    val tagged = guardedCenters(edges, maxDeg, "deg")(d =>
      Seq(floor(lit(100000000.0) / log(d.cast("double")) + 0.5).cast("long").as("aa_unit")))
    centerPairs(tagged, minCn, sum(col("a.aa_unit")).as("aa_micro"))
      .select(col("u"), col("v"), col("cn"), col("aa_micro"),
        (col("aa_micro").cast("double") / 100000000.0).as("aa"))
  }

  /** Neighbor-set Jaccard similarity over a bipartite co-occurrence
    * graph — [[adamicAdar]]'s unweighted sibling and the other classic
    * link-prediction / related-item score: for left-node pairs sharing
    * ≥ `minCn` centers, J(u,v) = |Γu∩Γv| / |Γu∪Γv| =
    * cn / (deg_u + deg_v − cn). All three terms are exact integers over
    * the GUARDED center set (centers with 2 ≤ degree ≤ `maxDeg`; the
    * same hub guard and the same declared contract — degrees count
    * guarded co-occurrences, so the score is a pure function of the
    * guarded subgraph on both engines); J is ONE IEEE division on the
    * 1e-8 grid.
    *
    * Scale shape = [[adamicAdar]]'s, plus two degree attachments: joins
    * against the |left-nodes|-row frame, co-keyed on each pair endpoint. */
  def jaccardPairs(edges: DataFrame, maxDeg: Long = 1000L,
      minCn: Long = 1L): DataFrame = {
    val t = guardedCenters(edges, maxDeg, "d")(_ => Nil)
    val deg = t.groupBy("left").agg(count(lit(1)).as("deg"))
    centerPairs(t, minCn)
      .join(deg.select(col("left").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("left").as("v"), col("deg").as("dv")), "v")
      .select(col("u"), col("v"), col("cn"), col("du"), col("dv"),
        r8(col("cn").cast("double")
          / (col("du") + col("dv") - col("cn")).cast("double")).as("jac"))
  }

  /** Newman modularity of a community assignment over a SYMMETRIZED edge
    * list — the standard "are these communities real" score for
    * [[labelPropagation]]'s output (Q ≈ 0: no better than random;
    * Q ≳ 0.3: meaningful structure). Per community c:
    * Q_c = L_c/m − (d_c/2m)², with L_c intra-community edges, d_c the
    * degree mass, m the undirected edge count.
    *
    * Exactness: with m2 = 2m directed sym edges and intra2_c = 2L_c,
    * Q_c·m2² = m2·intra2_c − d_c² — pure BIGINT (q_num). The only float
    * is the final q_contrib = q_num/m2², ONE IEEE division re-gridded to
    * 1e-8 ([[graft.functions.Num.r8]]) — cross-engine deterministic.
    * m2² must fit a LONG: m2 ≤ 3·10⁹ directed edges; beyond that emit
    * q_num against a DECIMAL m2², or report the double only.
    *
    * Scale shape: degrees are one map-side-combined aggregate on the
    * edge list; labels join node-keyed (co-partitioned with the degree
    * frame); the intra count re-keys the edge list twice (src then dst
    * label tag — the two honest shuffles of any edge-attribute join);
    * everything downstream is O(communities). The m2 scalar rides a
    * one-row broadcast, never a driver collect. Both inputs are
    * referenced more than once (edges by deg/intra/m2, labels by the
    * two intra tags and dTot), so a LIVE computation is cut once before
    * use (the [[Components]] discipline): uncut, a label frame fed by
    * [[labelPropagation]] would replan its whole fixed-round chain per
    * reference; bare scans stay uncut, a pushed-down re-read being
    * cheaper than copying 100 TB into block storage. */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    def once(df: DataFrame): DataFrame =
      if (Checkpointing.isCheapRescan(df)) df else Checkpointing.cut(df)
    val e = once(edges.select(col("src"), col("dst")))
    val lab = once(labels.select(col("node"), col("label")))
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val dTot = deg.join(lab, "node").groupBy("label")
      .agg(count(lit(1)).as("n_nodes"), sum("deg").as("d_tot"))
    val intra = e
      .join(lab.select(col("node").as("src"), col("label").as("sl")), "src")
      .join(lab.select(col("node").as("dst"), col("label").as("dl")), "dst")
      .filter(col("sl") === col("dl"))
      .groupBy(col("sl").as("label")).agg(count(lit(1)).as("intra2"))
    val m2 = e.agg(count(lit(1)).as("m2"))
    dTot.join(intra, Seq("label"), "left_outer")
      .select(col("label"), col("n_nodes"),
        coalesce(col("intra2"), lit(0L)).as("intra2"), col("d_tot"))
      .crossJoin(broadcast(m2))
      .select(col("label"), col("n_nodes"), col("intra2"), col("d_tot"),
        (col("m2") * col("intra2") - col("d_tot") * col("d_tot")).as("q_num"),
        r8(
          (col("m2") * col("intra2") - col("d_tot") * col("d_tot")).cast("double")
            / (col("m2") * col("m2")).cast("double")).as("q_contrib"))
  }

  /** HITS hubs-and-authorities (Kleinberg 1999) over DIRECTED edges —
    * the mutual-reinforcement ranking beside [[pagerank]]'s random walk:
    * a good hub points at good authorities, a good authority is pointed
    * at by good hubs. A FIXED round count with max-normalization makes
    * the result a deterministic function of the edge list: scores live
    * as INTEGER micro-units in [0, 10⁸] (hubs start at 10⁸), each
    * half-round sums the opposite side's units along edges — pure LONG
    * arithmetic, associative under any partition or merge order — and
    * renormalizes `unit = floor(raw/max·10⁸ + 0.5)`. The raw sums and
    * their max are exact longs < 2⁵³ (documented regime: in-degree ·
    * 10⁸ < 2⁵³, i.e. in-degree ≲ 9·10⁷ — beyond that, pre-scale the
    * unit grid), so the conversion to double is exact and the
    * divide/multiply/floor chain is the same correctly-rounded IEEE
    * sequence in any engine — the oracle unrolls the identical rounds
    * as CTEs, no rounding-grid slack needed.
    *
    * Scale shape: the edge list is partitioned and cut ONCE PER
    * DIRECTION (src-keyed for the hub→auth half-round, dst-keyed for
    * auth→hub); each half-round joins a |V|-row unit frame against its
    * co-keyed edge copy and shuffles (node, unit) contribution pairs
    * only. Every src has out-edges and every dst in-edges by construction
    * of the edge list, so no node ever loses its score row.
    *
    * Unlike [[walk]], the rounds do NOT stay lazy: each half-round's
    * raw-sum frame feeds TWO consumers (its max and the renormalized
    * select), so every |V|-row raw frame is cut eagerly — 2·iters cuts —
    * and the max rides that cut's job as an observe metric, returning as
    * a literal. The per-half-round cut is the minimal shape: renormalizing
    * in-plan against a broadcast max re-runs the aggregate stage for the
    * max every round and measured slower (OPTIMIZATION_r16.md). */
  def hits(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1)
    val e = edges.select(col("src"), col("dst")).distinct()
    val edSrc = Dist.byKeysCut(e, "src")
    val edDst = Dist.byKeysCut(edSrc, "dst")
    val unit = lit(100000000L)
    var hub = edSrc.select(col("src").as("node")).distinct()
      .select(col("node"), unit.as("unit"))
    var auth: DataFrame = null
    def renorm(raw0: DataFrame): DataFrame = {
      val mObs = new Observation()
      val raw = raw0.observe(mObs, max(col("raw")).as("m"))
        .localCheckpoint(true) // single eval for both consumers
      mObs.get("m") match {
        // an EMPTY graph observes a null max (zero rows): the empty frame
        // with the unit column in place
        case null => raw.select(col("node"), col("raw").as("unit"))
        case m => raw.select(col("node"),
          floor(col("raw").cast("double") / lit(m.asInstanceOf[Long]).cast("double")
            * lit(100000000.0) + lit(0.5)).cast("long").as("unit"))
      }
    }
    for (_ <- 1 to iters) {
      auth = renorm(
        hub.join(edSrc, hub("node") === edSrc("src"))
          .groupBy(col("dst").as("node")).agg(sum("unit").as("raw")))
      hub = renorm(
        auth.join(edDst, auth("node") === edDst("dst"))
          .groupBy(col("src").as("node")).agg(sum("unit").as("raw")))
    }
    hub.select(lit("hub").as("role"), col("node"), col("unit"))
      .unionAll(auth.select(lit("auth").as("role"), col("node"), col("unit")))
      .select(col("role"), col("node"), col("unit"),
        (col("unit").cast("double") / lit(100000000.0)).as("score"))
  }
}
