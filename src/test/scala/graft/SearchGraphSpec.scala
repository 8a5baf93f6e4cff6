package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Graph, Search}

/** Unit coverage for the round-8 additions: BM25 relevance search,
  * power-iteration PageRank, and span-level exact dedup — hand-computed
  * expectations on crafted frames (the fixture-scale oracle gate runs
  * the DuckDB twin; these pin the semantics on inputs small enough to
  * reason about by hand). */
class SearchGraphSpec extends SparkTestBase {

  import spark.implicits._

  // ---- BM25 ---------------------------------------------------------------

  private val corpus = Seq(
    (1L, "spark join spark spark"), // tf(spark)=3, dl=4
    (2L, "join stream window sort"), // tf(join)=1, dl=4
    (3L, "scan filter agg sort group limit sort scan") // no query terms, dl=8
  ).toDF("doc_id", "text")

  private def bm25Ref(tf: Long, dl: Long, df: Long, n: Long, avgdl: Double,
      k1: Double = 1.2, b: Double = 0.75): Double =
    math.log(1.0 + (n - df + 0.5) / (df + 0.5)) *
      (tf * (k1 + 1)) / (tf + k1 * (1.0 - b + b * dl / avgdl))

  private def r4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000

  test("bm25 matches the closed-form score and excludes non-matching docs") {
    val out = Search.bm25(corpus, col("text"), col("doc_id"),
        Seq("spark", "join"), topK = 10)
      .as[(Long, Int, Double)].collect().toSeq
    val avgdl = 16.0 / 3
    // doc1: spark(tf=3,df=1) + join(tf=1,df=2); doc2: join(tf=1,df=2)
    val d1 = r4(bm25Ref(3, 4, 1, 3, avgdl) + bm25Ref(1, 4, 2, 3, avgdl))
    val d2 = r4(bm25Ref(1, 4, 2, 3, avgdl))
    assert(out === Seq((1L, 2, d1), (2L, 1, d2))) // doc3 absent, desc order
  }

  test("bm25 rarer terms score higher at equal tf/dl (idf monotonicity)") {
    val docs = Seq(
      (1L, "rare filler filler filler"),
      (2L, "common filler filler filler"),
      (3L, "common filler filler filler")
    ).toDF("doc_id", "text")
    val out = Search.bm25(docs, col("text"), col("doc_id"),
        Seq("rare", "common"), topK = 10)
      .as[(Long, Int, Double)].collect().toSeq
    assert(out.head._1 === 1L) // df(rare)=1 < df(common)=2 -> higher idf
    assert(out.map(_._1) === Seq(1L, 2L, 3L)) // equal scores tie-break by id
    assert(out(1)._3 === out(2)._3)
  }

  test("bm25 topK truncates after the rounded-score ordering") {
    val docs = (1L to 30L).map(i => (i, "term " + ("pad " * i.toInt).trim))
      .toDF("doc_id", "text")
    val out = Search.bm25(docs, col("text"), col("doc_id"), Seq("term"), topK = 5)
      .as[(Long, Int, Double)].collect().toSeq
    assert(out.size === 5)
    // shortest docs win under length normalization
    assert(out.map(_._1) === Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("bm25 with precomputed corpus stats is identical and saves a scan") {
    val withStats = Search.bm25(corpus, col("text"), col("doc_id"),
      Seq("spark", "join"), topK = 10, corpusStats = Some((3L, 16.0 / 3)))
    val derived = Search.bm25(corpus, col("text"), col("doc_id"),
      Seq("spark", "join"), topK = 10)
    assert(withStats.collect().toSeq === derived.collect().toSeq)
    def nAggs(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.size
    // stats subtree gone; postings + df-dedup + df + scoring remain
    assert(nAggs(withStats) === 4, s"got ${nAggs(withStats)}")
    assert(nAggs(derived) === 5, s"got ${nAggs(derived)}")
  }

  test("bm25Batch equals the single-query form, query by query") {
    val queries = Seq((1, "spark"), (1, "join"), (2, "window")).toDF("query_id", "term")
    val batch = Search.bm25Batch(corpus, col("text"), col("doc_id"), queries, topK = 10)
      .as[(Int, Long, Int, Double)].collect().toSeq
    def single(qid: Int, terms: Seq[String]) =
      Search.bm25(corpus, col("text"), col("doc_id"), terms, topK = 10)
        .as[(Long, Int, Double)].collect().toSeq
        .map { case (d, n, s) => (qid, d, n, s) }
    assert(batch === single(1, Seq("spark", "join")) ++ single(2, Seq("window")))
    // a duplicated (query_id, term) row must not double-count the term —
    // the single form's isin dedups, and the two APIs must agree
    val dupQueries = Seq((1, "spark"), (1, "spark"), (1, "join")).toDF("query_id", "term")
    val dedupBatch = Search.bm25Batch(corpus, col("text"), col("doc_id"), dupQueries, topK = 10)
      .as[(Int, Long, Int, Double)].collect().toSeq
    assert(dedupBatch === single(1, Seq("spark", "join")))
  }

  // ---- PageRank -----------------------------------------------------------

  test("pagerank on a symmetric 2-cycle is uniform and mass-conserving") {
    val e = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val out = Graph.pagerank(e, iters = 5).as[(Long, Double)].collect().toMap
    assert(out === Map(1L -> 0.5, 2L -> 0.5))
  }

  test("pagerank: no-inbound source node holds the base rank; exact hand replay (round 16)") {
    // 3→1, 1→2, 2→1: node 3 has out-edges but NO in-edges (noRecv
    // nonzero), exercising the constant-contribution union path the
    // symmetrized oracle queries never reach
    val e = Seq((3L, 1L), (1L, 2L), (2L, 1L)).toDF("src", "dst")
    val out = Graph.pagerank(e, iters = 4).as[(Long, Double)].collect().toMap
    val n = 3.0; val d = 0.85; val base = (1.0 - d) / n
    def g(x: Double) = math.floor(x * 1e8 + 0.5) / 1e8
    def wq(r: Double, deg: Long) = math.floor(r * 1e8 / deg + 0.5).toLong
    var (x1, x2, x3) = (g(1 / n), g(1 / n), g(1 / n))
    for (_ <- 1 to 4) {
      val n1 = g(base + d * ((wq(x3, 1) + wq(x2, 1)).toDouble / 1e8))
      val n2 = g(base + d * (wq(x1, 1).toDouble / 1e8))
      val n3 = g(base)
      x1 = n1; x2 = n2; x3 = n3
    }
    assert(out === Map(1L -> x1, 2L -> x2, 3L -> x3), out.toString)
  }

  test("pagerank ranks a star center above its leaves; total mass ~1") {
    // undirected star: center 0 <-> leaves 1..4
    val leaves = (1L to 4L)
    val e = (leaves.map(l => (0L, l)) ++ leaves.map(l => (l, 0L))).toDF("src", "dst")
    val out = Graph.pagerank(e, iters = 8).as[(Long, Double)].collect().toMap
    assert(out(0L) > out(1L) * 2)
    leaves.foreach(l => assert(out(l) === out(1L))) // symmetry
    // symmetrized graph has no dangling mass; drift is rounding only
    assert(math.abs(out.values.sum - 1.0) < 1e-3)
  }

  test("personalized pagerank: mass stays near the seeds; unreachable nodes are exactly 0") {
    // two disjoint 2-cycles: {1,2} (seeded) and {3,4} (unreachable)
    val e = Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L)).toDF("src", "dst")
    val out = Graph.personalizedPagerank(e, seeds = Seq(1L), iters = 6)
      .as[(Long, Double)].collect().toMap
    assert(out(3L) == 0.0 && out(4L) == 0.0,
      "no teleport and no path from the seed → exactly zero rank")
    assert(out(1L) > out(2L), "the seed keeps the teleport mass advantage")
    assert(math.abs(out(1L) + out(2L) - 1.0) < 1e-3, "seeded component holds all mass")
    // hand replay on the 2-cycle: r(1) = 0.15 + 0.85·r_prev(2), r(2) = 0.85·r_prev(1)
    var (r1, r2) = (1.0, 0.0)
    def g(x: Double) = math.floor(x * 1e8 + 0.5) / 1e8
    for (_ <- 1 to 6) { val n1 = g(0.15 + 0.85 * g(r2)); val n2 = g(0.85 * g(r1)); r1 = n1; r2 = n2 }
    assert(math.abs(out(1L) - r1) < 1e-7 && math.abs(out(2L) - r2) < 1e-7,
      s"hand replay: want ($r1,$r2) got (${out(1L)},${out(2L)})")
    // seeding EVERY node with uniform teleport reproduces plain pagerank
    val ppr = Graph.personalizedPagerank(e, seeds = Seq(1L, 2L, 3L, 4L), iters = 5)
      .as[(Long, Double)].collect().toMap
    val pr = Graph.pagerank(e, iters = 5).as[(Long, Double)].collect().toMap
    assert(ppr === pr, "all-node seed set must degenerate to global pagerank")
  }

  test("personalized pagerank teleport is the decimal 1 - d, exact at an r8 half step") {
    // seeds {1, 2, 3}: in round 2 node 3's rank·1e8 lands on a .5 grid
    // step, where a one-ulp larger teleport ((1.0 - 0.85) in double)
    // would round it up to 0.13185186
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 1L), (2L, 3L), (2L, 4L))
    val seeds = Set(1L, 2L, 3L)
    val out = Graph.personalizedPagerank(edges.toDF("src", "dst"), seeds.toSeq.sorted, iters = 2)
      .as[(Long, Double)].collect().toMap
    // hand replay with the oracle's teleport: DECIMAL 0.15 divided in DOUBLE
    def g(x: Double) = math.floor(x * 1e8 + 0.5) / 1e8
    val outdeg = edges.groupBy(_._1).view.mapValues(_.size).toMap
    var r = (1L to 4L).map(v => v -> (if (seeds(v)) g(1.0 / 3) else 0.0)).toMap
    for (_ <- 1 to 2) {
      val wq = edges.groupBy(_._2).view.mapValues(_.map { case (u, _) =>
        math.floor(r(u) * 100000000L / outdeg(u) + 0.5).toLong }.sum).toMap
      r = r.keys.map(v => v -> g((if (seeds(v)) 0.15 / 3 else 0.0) +
        0.85 * (wq(v).toDouble / 100000000.0))).toMap
    }
    assert(r(3L) == 0.13185185)
    assert(out == r, s"want $r got $out")
  }

  test("katz centrality: hand replay on a star; center dominates; pure integer chain") {
    // undirected star: center 0 <-> leaves 1..4, α = 1/64, 2 rounds
    val leaves = (1L to 4L)
    val e = (leaves.map(l => (0L, l)) ++ leaves.map(l => (l, 0L))).toDF("src", "dst")
    val out = Graph.katzCentrality(e, iters = 2)
      .select("node", "katz_u").as[(Long, Long)].collect().toMap
    // round 1: center gets 1e8 + (4·1e8)/64, leaves 1e8 + 1e8/64
    val c1 = 100000000L + (4L * 100000000L) / 64
    val l1 = 100000000L + 100000000L / 64
    // round 2: center sums the 4 round-1 leaves; each leaf sees the center
    val c2 = 100000000L + (4L * l1) / 64
    val l2 = 100000000L + c1 / 64
    assert(out(0L) == c2, s"center: got ${out(0L)} want $c2")
    leaves.foreach(l => assert(out(l) == l2, s"leaf $l: got ${out(l)} want $l2"))
    assert(out(0L) > out(1L), "the hub must out-rank its spokes")
  }

  test("pagerank with zero iterations returns the uniform start vector") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val out = Graph.pagerank(e, iters = 0).as[(Long, Double)].collect().toMap
    assert(out === Map(1L -> 0.33333333, 2L -> 0.33333333, 3L -> 0.33333333))
  }

  test("pagerank checkpointEvery (long-loop mode) is result-identical to the lazy DAG") {
    val leaves = (1L to 4L)
    val e = (leaves.map(l => (0L, l)) ++ leaves.map(l => (l, 0L))).toDF("src", "dst")
    val lazyForm = Graph.pagerank(e, iters = 8).collect().toSet
    val cut = Graph.pagerank(e, iters = 8, checkpointEvery = 2).collect().toSet
    assert(cut === lazyForm)
  }

  test("pagerank drops dangling mass deterministically (directed chain)") {
    // 1 -> 2 -> 3; node 3 dangles. After one round at d=0.85, N=3:
    // base = 0.15/3 = 0.05; contribs: 2 gets 0.3333, 3 gets 0.3333
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val out = Graph.pagerank(e, iters = 1).as[(Long, Double)].collect().toMap
    def r8(x: Double): Double = math.floor(x * 1e8 + 0.5) / 1e8
    val expect2 = r8(0.15 / 3 + 0.85 * 0.33333333)
    assert(out(1L) === 0.05)
    assert(out(2L) === expect2)
    assert(out(3L) === expect2)
  }

  // ---- label propagation --------------------------------------------------

  test("labelPropagation: two disjoint triangles converge to per-component min labels") {
    def tri(a: Long, b: Long, c: Long) = Seq((a, b), (b, c), (c, a))
    val und = (tri(1L, 2L, 3L) ++ tri(10L, 11L, 12L))
    val e = (und ++ und.map(_.swap)).toDF("src", "dst")
    val out = Graph.labelPropagation(e, iters = 4).as[(Long, Long)].collect().toMap
    // in a triangle each node sees the two OTHER labels (tie -> smaller);
    // after round 1 labels are (1,1,1)/(10,10,10) and stay fixed
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("labelPropagation: majority vote wins over a smaller minority label (round 2)") {
    // round 1 (all votes distinct ids, min wins): 20<-2, 21<-5, 22<-5
    // round 2 at node 9: votes {2 x1, 5 x2} -> majority 5 despite 2 < 5
    // (a pure min rule would give 2 — discriminates vote counting)
    val und = Seq((9L, 20L), (9L, 21L), (9L, 22L), (20L, 2L), (21L, 5L), (22L, 5L))
    val e = (und ++ und.map(_.swap)).toDF("src", "dst")
    val out = Graph.labelPropagation(e, iters = 2).as[(Long, Long)].collect().toMap
    assert(out(9L) === 5L, out.toString)
  }

  test("labelPropagation: checkpointEvery is result-identical to the lazy DAG") {
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (7L, 8L))
    val e = (und ++ und.map(_.swap)).toDF("src", "dst")
    val lazyForm = Graph.labelPropagation(e, iters = 4).collect().toSet
    val cut = Graph.labelPropagation(e, iters = 4, checkpointEvery = 2).collect().toSet
    assert(cut === lazyForm)
  }

  test("labelPropagation: out-of-bound node id fails LOUDLY (round 16, ADVICE r15)") {
    // the argmax order-embedding cnt·idBound + (idBound−1−label) is exact
    // only for ids in [0, idBound): ids at/past the bound must throw, not
    // silently decode to a wrong label
    val e = Seq((1L, 9L), (9L, 1L)).toDF("src", "dst")
    val ex = intercept[IllegalArgumentException] {
      Graph.labelPropagation(e, iters = 1, idBound = 8L)
    }
    assert(ex.getMessage.contains("idBound") || ex.getMessage.contains("[0, 8)"),
      ex.getMessage)
    // negative ids break the embedding the same way
    val neg = Seq((-1L, 2L), (2L, -1L)).toDF("src", "dst")
    intercept[IllegalArgumentException] {
      Graph.labelPropagation(neg, iters = 1)
    }
    // in-bound ids at the edge of the range still work (after one round
    // each node adopts its only neighbor's label)
    val ok = Seq((0L, 7L), (7L, 0L)).toDF("src", "dst")
    assert(Graph.labelPropagation(ok, iters = 1, idBound = 8L)
      .as[(Long, Long)].collect().toMap === Map(0L -> 7L, 7L -> 0L))
  }

  test("triangleCounts: out-of-bound node id fails LOUDLY (round 16, ADVICE r15)") {
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 100L), (3L, 100L))
    val e = und.toDF("src", "dst")
    val ex = intercept[IllegalArgumentException] {
      Graph.triangleCounts(e, nodeIdBound = 100L)
    }
    assert(ex.getMessage.contains("nodeIdBound") || ex.getMessage.contains("[0, 100)"),
      ex.getMessage)
    // the same graph passes with an adequate bound (and counts correctly)
    val out = Graph.triangleCounts(e, nodeIdBound = 101L)
      .as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 100L -> 1L))
  }

  // ---- triangle counting --------------------------------------------------

  test("triangleCounts: K4 gives 3 per node; chain gives 0; direction/self-loops canonicalized") {
    // K4 on {1,2,3,4}: C(4,3)=4 triangles, each node in 3 of them.
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)
    // chain 10-11-12 (no triangle); noise: reversed dup + self-loop
    val e = (k4 ++ Seq((11L, 10L), (10L, 11L), (11L, 12L), (7L, 7L)))
      .toDF("src", "dst")
    val out = Graph.triangleCounts(e, nodeIdBound = 100L)
      .as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      10L -> 0L, 11L -> 0L, 12L -> 0L))
  }

  test("triangleCounts: one shared edge between two triangles counts both") {
    // triangles {1,2,3} and {2,3,4} share edge (2,3): nodes 2,3 -> 2 each
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
    val out = Graph.triangleCounts(und.toDF("src", "dst"), nodeIdBound = 10L)
      .as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
  }

  test("clusteringCoeff: K4 all 1.0; shared-edge pair exact fractions; pendant 0") {
    // triangles {1,2,3} and {2,3,4} + pendant 4-5: deg(2)=deg(3)=3 with 2
    // triangles -> c = 4/6; deg(1)=2, 1 triangle -> c = 1; deg(4)=3 with
    // 1 triangle -> c = 2/6; deg(5)=1 -> 0 by the deg>=2 rule.
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
    val out = Graph.clusteringCoeff(und.toDF("src", "dst"), nodeIdBound = 10L)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) === ((2L, 1L, 1.0)))
    assert(out(2L) === ((3L, 2L, math.floor(4.0 / 6.0 * 1e8 + 0.5) / 1e8)))
    assert(out(3L) === ((3L, 2L, math.floor(4.0 / 6.0 * 1e8 + 0.5) / 1e8)))
    assert(out(4L) === ((3L, 1L, math.floor(2.0 / 6.0 * 1e8 + 0.5) / 1e8)))
    assert(out(5L) === ((1L, 0L, 0.0)))
  }

  test("degreeAssortativity: star is -1; K4 degenerate (r_den=0) -> 0; hand path") {
    // star 0-{1,2,3}: every directed edge pairs deg 3 with deg 1 -> r = -1
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
    val rs = Graph.degreeAssortativity(star).collect()(0)
    assert(rs.getAs[Long]("m2") === 6L)
    assert(rs.getAs[Double]("assortativity") === -1.0)
    // K4: all degrees equal -> zero variance, r_den = 0 -> defined 0.0
    val k4 = (for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b))
      .toDF("src", "dst")
    val rk = Graph.degreeAssortativity(k4).collect()(0)
    assert(rk.getAs[Long]("r_den") === 0L)
    assert(rk.getAs[Double]("assortativity") === 0.0)
    // path 1-2-3: directed-both (j,k) pairs: (1,2),(2,1),(2,1),(1,2)
    // m2=4, s_j=6, s_jk=8, s_j2=10 -> r = (32-36)/(40-36) = -1
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val rp = Graph.degreeAssortativity(path).collect()(0)
    assert((rp.getAs[Long]("m2"), rp.getAs[Long]("s_j"),
      rp.getAs[Long]("s_jk"), rp.getAs[Long]("s_j2")) === ((4L, 6L, 8L, 10L)))
    assert(rp.getAs[Double]("assortativity") === -1.0)
  }

  test("degreeGini: star vs regular ring; blockwise rank sums match brute force") {
    // ring 1-2-3-4-1: all degree 2 -> perfect equality, gini 0
    val ring = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val rr = Graph.degreeGini(ring).collect()(0)
    assert(rr.getAs[Long]("n") === 4L && rr.getAs[Double]("gini") === 0.0)
    // star 0-{1..4}: degrees sorted [1,1,1,1,4]; brute-force check
    val star = (1L to 4L).map(i => (0L, i)).toDF("src", "dst")
    val rs = Graph.degreeGini(star).collect()(0)
    val degs = Seq(1L, 1L, 1L, 1L, 4L)
    val s1 = degs.zipWithIndex.map { case (d, i) => (i + 1) * d }.sum
    val n = degs.size; val sd = degs.sum
    val gnum = 2 * s1 - (n + 1) * sd
    assert(rs.getAs[Long]("s1_x2") === 2L * s1)
    assert(rs.getAs[Long]("g_num") === gnum.toLong)
    assert(rs.getAs[Double]("gini") ===
      math.floor(gnum.toDouble / (n.toLong * sd).toDouble * 1e8 + 0.5) / 1e8)
  }

  test("eval_retrieval_mrr: relevance and ranks recomputed driver-side on the fixture") {
    val out = QueriesLLM.all("eval_retrieval_mrr")(spark, sf)
      .as[(Int, Long, Long, Long, Int, Double)].collect().toSeq
    val queries = Map(1 -> Seq("spark", "join"), 2 -> Seq("window", "stream"),
      3 -> Seq("scan", "join"))
    val docTokens = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .map { case (id, t) => id -> t.toLowerCase.split("\\s+").toSeq }
    val ranked = QueriesLLM.all("search_bm25_batch")(spark, sf)
      .select("query_id", "doc_id").as[(Int, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSeq }
    for ((q, terms) <- queries) {
      // the planted-relevance pick: most matched terms, then total tf,
      // then smallest doc_id — over docs with at least one query term
      val cands = docTokens.flatMap { case (id, ts) =>
        val matched = terms.count(ts.contains)
        val tf = ts.count(terms.contains)
        if (matched > 0) Some((id, matched, tf)) else None
      }
      val rel = cands.sortBy { case (id, m, tf) => (-m, -tf, id) }.headOption
      val row = out.find(_._1 == q)
      assert(row.isDefined === rel.isDefined, s"query $q presence")
      for ((rid, rm, rtf) <- rel; o <- row) {
        assert((o._2, o._3, o._4) === ((rid, rm.toLong, rtf.toLong)),
          s"query $q relevant pick")
        // ranked output is already (score DESC, doc_id) ordered per query
        val idx = ranked.getOrElse(q, Seq.empty).indexOf(rid)
        val wantRnk = if (idx >= 0) idx + 1 else 0
        assert(o._5 === wantRnk, s"query $q rank")
        val wantRr = if (idx >= 0)
          math.floor(1.0 / (idx + 1) * 1e8 + 0.5) / 1e8 else 0.0
        assert(o._6 === wantRr, s"query $q rr")
      }
    }
    // the metric must be NON-VACUOUS on the fixture: the strongest
    // lexical match should surface in someone's top-10
    assert(out.exists(_._6 > 0.0), s"all rr zero: $out")
  }

  test("eval_retrieval_ndcg: dcg/idcg recomputed driver-side; ndcg in (0,1]; ideal beats actual") {
    val out = QueriesLLM.all("eval_retrieval_ndcg")(spark, sf)
      .as[(Int, Long, Long, Double)].collect().toSeq
    val queries = Map(1 -> Seq("spark", "join"), 2 -> Seq("window", "stream"),
      3 -> Seq("scan", "join"))
    val w = (1 to 10).map(i => math.round(1e8 * math.log(2.0) / math.log(i + 1.0)))
    val docTokens = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .map { case (id, t) => id -> t.toLowerCase.split("\\s+").toSeq }
    val ranked = QueriesLLM.all("search_bm25_batch")(spark, sf)
      .select("query_id", "doc_id").as[(Int, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSeq }
    for ((q, terms) <- queries) {
      val grade = docTokens.flatMap { case (id, ts) =>
        val m = terms.count(ts.contains)
        if (m > 0) Some(id -> m) else None
      }.toMap
      val gain = (g: Int) => (1L << g) - 1
      val dcg = ranked.getOrElse(q, Seq.empty).zipWithIndex.map { case (id, i) =>
        gain(grade.getOrElse(id, 0)) * w(i)
      }.sum
      val idcg = grade.toSeq.sortBy { case (id, g) => (-g, id) }.take(10)
        .zipWithIndex.map { case ((_, g), i) => gain(g) * w(i) }.sum
      val row = out.find(_._1 == q).get
      assert((row._2, row._3) === ((dcg, idcg)), s"query $q dcg/idcg")
      assert(row._4 === math.floor(dcg.toDouble / idcg * 1e8 + 0.5) / 1e8, s"query $q ndcg")
      assert(row._4 > 0.0 && row._4 <= 1.0, s"query $q ndcg bounds")
      assert(dcg <= idcg, s"query $q ideal must dominate the actual ranking")
    }
  }

  test("reciprocity: mutual pair counts both directions; DAG is 0; loops/dups drop") {
    // edges 1->2, 2->1 (mutual), 1->3 (one-way), 3->3 (loop), dup 1->2
    val e = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 3L), (1L, 2L))
      .toDF("src", "dst")
    val r = Graph.reciprocity(e).collect()(0)
    assert((r.getLong(0), r.getLong(1)) === ((3L, 2L)))
    assert(r.getDouble(2) ===
      math.floor(2.0 / 3.0 * 1e8 + 0.5) / 1e8)
    val dag = Graph.reciprocity(Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"))
      .collect()(0)
    assert((dag.getLong(1), dag.getDouble(2)) === ((0L, 0.0)))
  }

  // ---- k-core -------------------------------------------------------------

  test("kcore: K4 with a pendant chain peels to the clique; cascade removes the chain stepwise") {
    // K4 {1,2,3,4} + chain 4-5-6: deg(6)=1,deg(5)=2 < 3 peel; 4 keeps deg 3
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)
    val und = k4 ++ Seq((4L, 5L), (5L, 6L))
    val e = (und ++ und.map(_.swap)).toDF("src", "dst")
    val out = Graph.kcore(e, k = 3, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("kcore: k above the max degree empties the graph") {
    val und = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    val e = (und ++ und.map(_.swap)).toDF("src", "dst")
    assert(Graph.kcore(e, k = 3, rounds = 2).count() === 0L)
    // the triangle itself IS a 2-core
    val two = Graph.kcore(e, k = 2, rounds = 2).as[(Long, Long)].collect().toMap
    assert(two === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  // ---- input contracts and physical regimes ---------------------------------

  test("personalized pagerank: a repeated seed fails loudly, naming it") {
    // (1−d)/|S| over 3 listed seeds but 2 distinct nodes would lose mass
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val ex = intercept[IllegalArgumentException] {
      Graph.personalizedPagerank(e, seeds = Seq(1L, 1L, 2L), iters = 2)
    }
    assert(ex.getMessage.contains("repeated: 1"), ex.getMessage)
  }

  test("bfs releases its persisted edge list when a round fails") {
    spark.catalog.clearCache()
    val bad = spark.range(0, 20).select(col("id").as("src"),
      when(col("id") > 5L, raise_error(lit("bad edge"))).otherwise(col("id") + 1).as("dst"))
    intercept[Exception](Graph.bfs(bad, seed = 0L, maxDepth = 3))
    assert(spark.sharedState.cacheManager.isEmpty, "bfs left its edge list cached")
  }

  test("graph kernels give identical rows under every physical regime") {
    // a seeded 60-node digraph: nodes 0..54 draw 2–3 out-edges among
    // 0..54 and the five nodes 55..59 point into it with no in-edges (the
    // walks' no-inbound path); the symmetrized copy feeds the undirected
    // kernels
    val rnd = new scala.util.Random(20261020L)
    val inner = for {
      s <- 0L until 55L
      _ <- 1 to 2 + rnd.nextInt(2)
    } yield (s, rnd.nextInt(55).toLong)
    val directed = (inner ++ (55L until 60L).map(s => (s, s - 50L))).distinct
    val d = directed.toDF("src", "dst")
    val sym = (directed ++ directed.map(_.swap)).distinct.toDF("src", "dst")
    val kernels: Seq[(String, () => DataFrame)] = Seq(
      "bfs" -> (() => Graph.bfs(d, seed = 55L, maxDepth = 6)),
      "pagerank" -> (() => Graph.pagerank(d, iters = 5)),
      "ppr" -> (() => Graph.personalizedPagerank(d, Seq(1L, 2L, 57L), iters = 5)),
      "katz" -> (() => Graph.katzCentrality(d, iters = 4)),
      "labelPropagation" -> (() => Graph.labelPropagation(sym, iters = 4)),
      "kcore" -> (() => Graph.kcore(sym, k = 3, rounds = 4)),
      "hits" -> (() => Graph.hits(d, iters = 3)),
      "triangleCounts" -> (() => Graph.triangleCounts(sym, nodeIdBound = 64L)))
    def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)
    val want = kernels.map { case (name, run) => name -> rows(run()) }.toMap
    assert(want.values.forall(_.nonEmpty))
    assert(want("pagerank").size == 60 && want("bfs").size > 10, want("bfs"))
    val regimes = Seq(
      Map("spark.sql.autoBroadcastJoinThreshold" -> "-1"),
      Map("spark.sql.adaptive.enabled" -> "false"),
      Map("spark.sql.shuffle.partitions" -> "1"),
      Map("spark.sql.shuffle.partitions" -> "7"),
      Map("spark.sql.codegen.wholeStage" -> "false"))
    for (conf <- regimes) {
      val before = conf.keys.map(k => k -> spark.conf.getOption(k))
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try kernels.foreach { case (name, run) =>
        assert(rows(run()) === want(name), s"$name under $conf")
      } finally before.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("modularity: two bridged triangles score the textbook Q = 5/14 per side") {
    // triangles {1,2,3} and {4,5,6} + bridge 3-4: m = 7 undirected, m2 = 14.
    // Per side: L_c = 3 (intra2 = 6), d_c = 2+2+3 = 7 →
    // q_num = 14·6 − 49 = 35, Q_c = 35/196, Q = 70/196 = 0.35714286 (r8).
    val und = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L), (6L, 4L), (3L, 4L))
    val e = (und ++ und.map(_.swap)).toDF("src", "dst")
    val lab = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 20L), (5L, 20L), (6L, 20L))
      .toDF("node", "label")
    val out = Graph.modularity(e, lab).orderBy("label")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(out === Seq(
      (10L, 3L, 6L, 7L, 35L, 0.17857143), (20L, 3L, 6L, 7L, 35L, 0.17857143)),
      out.toString)
    // a community with zero intra edges gets intra2 = 0, negative q_num
    val labX = Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L), (5L, 5L), (6L, 6L))
      .toDF("node", "label")
    val solo = Graph.modularity(e, labX)
    assert(solo.count() === 6L)
    assert(solo.filter(col("intra2") =!= 0L).count() === 0L)
  }

  test("adamic-adar: shared-center weights sum in micro-units; deg-1 and capped hubs drop") {
    // centers: 10 (deg 3), 11 (deg 2), 12 (deg 1 — never a wedge center)
    val e = Seq((1L, 10L), (2L, 10L), (3L, 10L), (1L, 11L), (2L, 11L), (1L, 12L))
      .toDF("left", "right")
    val u3 = math.floor(1e8 / math.log(3.0) + 0.5).toLong // 91023923
    val u2 = math.floor(1e8 / math.log(2.0) + 0.5).toLong // 144269504
    val got = Graph.adamicAdar(e).orderBy("u", "v")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got === Seq(
      (1L, 2L, 2L, u3 + u2, (u3 + u2) / 1e8),
      (1L, 3L, 1L, u3, u3 / 1e8),
      (2L, 3L, 1L, u3, u3 / 1e8)), got.toString)
    // minCn filters to the multi-center pair; maxDeg drops the deg-3 hub
    assert(Graph.adamicAdar(e, minCn = 2L).count() === 1L)
    val capped = Graph.adamicAdar(e, maxDeg = 2L)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(capped === Seq((1L, 2L, 1L, u2, u2 / 1e8)), capped.toString)
  }

  test("jaccardPairs: hand-computed guarded-set Jaccard; hub cap respected (round 9)") {
    // guarded centers 10 (d3), 11 (d2); 12 (d1) dropped → deg 1→2, 2→2, 3→1
    // cn (1,2)=2 (1,3)=1 (2,3)=1 → J = 1.0, 0.5, 0.5
    val e = Seq((1L, 10L), (2L, 10L), (3L, 10L), (1L, 11L), (2L, 11L), (1L, 12L))
      .toDF("left", "right")
    val got = Graph.jaccardPairs(e).orderBy("u", "v")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(got === Seq(
      (1L, 2L, 2L, 2L, 2L, 1.0),
      (1L, 3L, 1L, 2L, 1L, 0.5),
      (2L, 3L, 1L, 2L, 1L, 0.5)), got.toString)
    // maxDeg = 2 drops the deg-3 hub: only center 11 remains, degs 1/1
    val capped = Graph.jaccardPairs(e, maxDeg = 2L)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(capped === Seq((1L, 2L, 1L, 1L, 1L, 1.0)), capped.toString)
  }

  test("hits: hand-traced 2-round micro-unit scores; repartition-proof (round 9)") {
    // h1→{a1,a2}, h2→a1. Round 1: a_raw a1=2e8,a2=1e8 → a1=1e8,a2=5e7;
    // h_raw h1=1.5e8,h2=1e8 → h1=1e8,h2=66666667. Round 2: a_raw
    // a1=166666667,a2=1e8 → a1=1e8,a2=60000000; h_raw h1=1.6e8,h2=1e8
    // → h1=1e8,h2=62500000.
    val e = Seq((1L, 10L), (1L, 20L), (2L, 10L)).toDF("src", "dst")
    val got = Graph.hits(e, iters = 2).orderBy("role", "node")
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(got === Seq(
      ("auth", 10L, 100000000L, 1.0), ("auth", 20L, 60000000L, 0.6),
      ("hub", 1L, 100000000L, 1.0), ("hub", 2L, 62500000L, 0.625)),
      got.toString)
    val re = Graph.hits(e.repartition(5), iters = 2).collect().toSet
    assert(re === Graph.hits(e, iters = 2).collect().toSet)
  }

  test("hits: an EMPTY graph returns an empty frame, not an NPE (round 16, ADVICE r15)") {
    val e = Seq.empty[(Long, Long)].toDF("src", "dst")
    val out = Graph.hits(e, iters = 2)
    assert(out.columns.toSeq === Seq("role", "node", "unit", "score"))
    assert(out.count() === 0L)
  }

  test("kcore: checkpointEvery is result-identical to the lazy DAG") {
    val und = (1L to 6L).flatMap(a => (a + 1 to 6L).map(b => (a, b))) // K6
    val e = (und ++ und.map(_.swap)).toDF("src", "dst")
    val lazyForm = Graph.kcore(e, k = 4, rounds = 3).collect().toSet
    val cut = Graph.kcore(e, k = 4, rounds = 3, checkpointEvery = 1).collect().toSet
    assert(cut === lazyForm)
  }

  // ---- span dedup ---------------------------------------------------------

  private def words(prefix: String, n: Int): String =
    (0 until n).map(i => s"$prefix$i").mkString(" ")

  test("spanDedup strips a shared tile from the later doc only") {
    val shared = words("s", 10)
    val docs = Seq(
      (1L, shared + " " + words("a", 10)),
      (2L, shared + " " + words("b", 10))
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, col("text"), col("doc_id"), tileTokens = 10)
      .orderBy("doc_id").as[(Long, Int, Int, String)].collect().toSeq
    assert(out === Seq(
      (1L, 2, 2, shared + " " + words("a", 10)), // first occurrence keeps all
      (2L, 2, 1, words("b", 10)))) // later copy loses the shared span
  }

  test("spanDedup: an exact duplicate doc survives as an empty row") {
    val t = words("x", 20)
    val docs = Seq((5L, t), (9L, t)).toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, col("text"), col("doc_id"), tileTokens = 10)
      .orderBy("doc_id").as[(Long, Int, Int, String)].collect().toSeq
    assert(out === Seq((5L, 2, 2, t), (9L, 2, 0, "")))
  }

  test("spanDedup tiles a ragged tail and preserves in-doc order") {
    val t = words("w", 25) // tiles: [0,10) [10,20) [20,25)
    val docs = Seq((1L, t)).toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, col("text"), col("doc_id"), tileTokens = 10)
      .as[(Long, Int, Int, String)].collect().toSeq
    assert(out === Seq((1L, 3, 3, t))) // reassembly is the identity here
  }

  test("spanDedup within-doc repeats collapse to the first tile") {
    val tile = words("r", 10)
    val docs = Seq((1L, tile + " " + tile + " " + tile)).toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, col("text"), col("doc_id"), tileTokens = 10)
      .as[(Long, Int, Int, String)].collect().toSeq
    assert(out === Seq((1L, 3, 1, tile)))
  }
}
