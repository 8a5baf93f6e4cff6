package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.{Dedup, Sessionize}
import graft.functions.TimeOps

/** ScalaCheck-generated property tests (SURVEY.md §5.2.3). Deterministic:
  * fixed seeds, no RNG in the operators themselves. */
class PropertySpec extends SparkTestBase {
  import spark.implicits._

  private def samples[T](g: Gen[T], seed: Long, n: Int): Seq[T] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(seed + i)))

  private val wordGen = Gen.oneOf((1 to 40).map(i => s"w$i"))
  private val docGen: Gen[String] = Gen.chooseNum(5, 60)
    .flatMap(n => Gen.listOfN(n, wordGen).map(_.mkString(" ")))

  test("property: dedup(dedup(x)) == dedup(x) with injected duplicates") {
    val texts = samples(docGen, seed = 7, n = 40)
    val withDups = (texts ++ texts.take(10)).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = withDups.toDF("doc_id", "text")
    val once = Dedup.exact(df, col("text"), col("doc_id"))
    val kept = df.join(once.select(col("keep_id").as("doc_id")), "doc_id")
    val twice = Dedup.exact(kept, col("text"), col("doc_id"))
    assert(once.count() == twice.count())
    assert(twice.filter(col("n_dups") > 1).count() == 0)
  }

  test("property: minhash jaccard estimate within 4 sigma of exact (64 perms)") {
    val texts = samples(docGen, seed = 21, n = 30)
    // inject pairs with controlled overlap: doc i and doc i+100 share a prefix
    val pairs = texts.zipWithIndex.flatMap { case (t, i) =>
      val words = t.split(" ")
      val mutated = (words.take(words.length * 2 / 3) ++ Seq("zz1", "zz2", "zz3")).mkString(" ")
      Seq((i.toLong, t), ((i + 100).toLong, mutated))
    }
    val df = pairs.toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(df, col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def shingleSet(t: String): Set[String] = {
      val w = t.toLowerCase.split("\\s+")
      (0 to w.length - 3).map(i => w.slice(i, i + 3).mkString(" ")).toSet
    }
    val byId = pairs.toMap
    var checked = 0
    for (i <- 0 until 30; j = i + 100 if sigs.contains(i.toLong) && sigs.contains(j.toLong)) {
      val (sa, sb) = (shingleSet(byId(i.toLong)), shingleSet(byId(j.toLong)))
      if (sa.nonEmpty && sb.nonEmpty) {
        val exact = sa.intersect(sb).size.toDouble / sa.union(sb).size
        val est = sigs(i.toLong).zip(sigs(j.toLong)).count { case (a, b) => a == b } / 64.0
        val sigma = math.sqrt(exact * (1 - exact) / 64.0) max 0.04
        assert(math.abs(est - exact) <= 4 * sigma,
          s"pair ($i,$j): est=$est exact=$exact")
        checked += 1
      }
    }
    assert(checked >= 20)
  }

  test("property: session count equals scala reference on generated event streams") {
    val evGen = for {
      user <- Gen.chooseNum(1L, 5L)
      sec <- Gen.chooseNum(0L, 100000L)
    } yield (user, sec)
    val events = samples(evGen, seed = 99, n = 400).distinct
    val df = events.map { case (u, s) => (u, s * 1000000000L) }.toDF("user_id", "ts")
    val got = Sessionize.sessions(df, col("ts"), gapSec = 1800, col("user_id"))
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = events.groupBy(_._1).map { case (u, es) =>
      val secs = es.map(_._2).sorted
      val nSessions = 1 + secs.zip(secs.tail).count { case (a, b) => b - a >= 1800 }
      u -> nSessions.toLong
    }
    assert(got == want)
  }

  test("property: union-all count additivity on generated partitions") {
    val ids = samples(Gen.chooseNum(0L, 1000L), seed = 5, n = 300)
    val df = ids.map(Tuple1(_)).toDF("id")
    val even = df.filter(pmod(col("id"), lit(2)) === 0)
    val odd = df.filter(pmod(col("id"), lit(2)) === 1)
    assert(even.union(odd).count() == df.count())
  }

  test("property: text kernels == composable forms on generated whitespace-heavy strings") {
    import graft.plans.TextExpressions
    import graft.functions.TextOps
    // strings with runs of mixed whitespace, empties, and short tokens —
    // the split(\s+) edge-case space
    val tokenGen = Gen.oneOf(Gen.stringOfN(3, Gen.alphaNumChar),
      Gen.stringOfN(1, Gen.alphaChar), Gen.const(""))
    val sepGen = Gen.oneOf(" ", "  ", "\t", "\n", " \t ")
    val strGen = for {
      n <- Gen.chooseNum(0, 12)
      toks <- Gen.listOfN(n, tokenGen)
      seps <- Gen.listOfN(n, sepGen)
    } yield toks.zip(seps).map { case (t, s) => t + s }.mkString
    val rows = samples(strGen, seed = 31, n = 120).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = rows.toDF("doc_id", "text")
    val mismatch = df.select(
        TextExpressions.simhash64(col("text")).as("k_sh"),
        TextOps.simhash64(col("text")).as("r_sh"),
        TextExpressions.minhashSig(col("text")).as("k_sig"),
        TextExpressions.winnowFingerprints(col("text")).as("k_fp"),
        TextOps.fingerprints(col("text")).as("r_fp"))
      .filter(!(col("k_sh") <=> col("r_sh")) || !(col("k_fp") <=> col("r_fp")))
    assert(mismatch.isEmpty)
    // include a NULL-text doc here: the agg form must restore it as a
    // NULL signature (the kernel form's contract), not the short-doc
    // sentinel that collides in every band
    val dfN = df.unionByName(Seq((999L, Option.empty[String])).toDF("doc_id", "text"))
    val a = Dedup.minhashSignatures(dfN, col("text"), col("doc_id"))
    val b = Dedup.minhashSignaturesAgg(dfN, col("text"), col("doc_id"))
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
    assert(b.filter(col("doc_id") === 999L).filter(col("sig").isNull).count() == 1)
  }

  test("property: two-phase packing == naive window on generated lengths and sparse keys") {
    import graft.operators.Packing
    val rowGen = for {
      key <- Gen.chooseNum(0L, 100000L)
      len <- Gen.chooseNum(0L, 5000L)
    } yield (key, len)
    val rows = samples(rowGen, seed = 43, n = 300).distinctBy(_._1)
    val df = rows.toDF("k", "len")
    val naive = Packing.packChunksNaive(df, col("k"), col("len"), 1024L)
    for (bw <- Seq(13L, 1000L)) {
      val fast = Packing.packChunks(df, col("k"), col("len"), 1024L, bw)
      assert(fast.except(naive).isEmpty && naive.except(fast).isEmpty, s"bw=$bw")
    }
  }

  test("property: unpivot(pivot(x)) == x for complete long-form tables") {
    // pivot and unpivot are inverses when every (key, pivot-value) cell is
    // populated — generate complete grids and round-trip them
    val keys = Seq("k1", "k2", "k3")
    val cats = Seq("a", "b")
    val valGen = Gen.chooseNum(-1000.0, 1000.0)
    val cells = for {
      (k, i) <- keys.zipWithIndex
      (c, j) <- cats.zipWithIndex
    } yield (k, c, samples(valGen, 7L * (i * 31 + j + 1), 1).head)
    val long = cells.toDF("key", "cat", "v")
    val wide = long.groupBy("key").pivot("cat", cats).agg(first("v"))
    val back = wide.unpivot(Array(col("key")),
        cats.map(col).toArray, "cat", "v")
      .select("key", "cat", "v")
    val a = long.orderBy("key", "cat").collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val b = back.orderBy("key", "cat").collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    assert(a.sameElements(b))
  }

  test("property: pivot equals the manual CASE aggregation on the fixture") {
    val pv = QueriesCore.aggPivot(spark, sf)
    val manual = Tables.orders(spark, sf)
      .groupBy("o_orderstatus")
      .agg(
        graft.functions.Num.r4(sum(when(col("o_orderpriority") === "1-URGENT", col("o_totalprice")))).as("p_urgent"),
        graft.functions.Num.r4(sum(when(col("o_orderpriority") === "2-HIGH", col("o_totalprice")))).as("p_high"),
        graft.functions.Num.r4(sum(when(col("o_orderpriority") === "3-MEDIUM", col("o_totalprice")))).as("p_medium"))
      .orderBy("o_orderstatus")
    assert(pv.except(manual).isEmpty && manual.except(pv).isEmpty)
  }

  test("property: hash-sample fraction monotone and salt-sensitive") {
    import graft.operators.Sampling
    val ids = samples(Gen.chooseNum(0L, 1000000L), seed = 57, n = 500).distinct
    val df = ids.map(Tuple1(_)).toDF("id")
    val f25 = Sampling.hashSample(df, col("id"), 0.25).collect().map(_.getLong(0)).toSet
    val f50 = Sampling.hashSample(df, col("id"), 0.50).collect().map(_.getLong(0)).toSet
    assert(f25.subsetOf(f50))
    val other = Sampling.hashSample(df, col("id"), 0.25, salt = "s1")
      .collect().map(_.getLong(0)).toSet
    assert(other != f25) // a different salt draws a different sample
    assert(math.abs(f50.size.toDouble / ids.size - 0.5) < 0.1)
  }

  test("property: exactDiscrete == sorted-rank PERCENTILE_DISC on generated multisets") {
    import graft.operators.Percentiles
    val valGen = Gen.chooseNum(-20, 20).map(_.toDouble)
    val listGen = Gen.chooseNum(1, 200).flatMap(n => Gen.listOfN(n, valGen))
    val probs = Seq(0.01, 0.25, 0.5, 0.75, 0.9, 0.99)
    samples(listGen, seed = 31, n = 12).zipWithIndex.foreach { case (vs, i) =>
      val df = vs.map(v => ("g", v)).toDF("k", "v")
      val got = Percentiles.exactDiscrete(df, "v", Seq("k"),
        probs.zipWithIndex.map { case (p, j) => s"p$j" -> p }).head()
      val sorted = vs.sorted
      probs.zipWithIndex.foreach { case (p, j) =>
        val want = sorted(math.ceil(p * sorted.length).toInt.max(1) - 1)
        assert(got.getDouble(1 + j) == want, s"case $i p=$p: ${got.getDouble(1 + j)} != $want")
      }
    }
  }

  test("property: canonicalizeUrl is idempotent on generated noisy URLs") {
    import graft.functions.TextOps
    val host = Gen.oneOf("Data.Example.ORG", "cdn.example.org", "A.B.example.net")
    val port = Gen.oneOf("", ":443")
    val path = Gen.chooseNum(1, 4).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b7", "x-y")).map(_.mkString("/", "/", "")))
    val tail = Gen.oneOf("", "/", "?utm_source=z", "/?utm_medium=m", "?id=3&utm_campaign=c")
    val urlGen = for { h <- host; p <- port; pa <- path; t <- tail }
      yield s"https://$h$p$pa$t"
    val urls = samples(urlGen, seed = 17, n = 60)
    val df = urls.toDF("url")
      .select(TextOps.canonicalizeUrl(col("url")).as("c1"))
      .select(col("c1"), TextOps.canonicalizeUrl(col("c1")).as("c2"))
    assert(df.filter(!(col("c1") <=> col("c2"))).count() == 0)
    // and the canonical form never retains the noise markers
    val canon = df.select("c1").collect().map(_.getString(0))
    assert(canon.forall(u => !u.contains(":443") && !u.contains("utm_") &&
      !u.takeWhile(_ != '/').exists(_.isUpper) && !u.endsWith("/")))
  }

  test("property: approx_top_k == exact counts whenever capacity covers the domain") {
    import graft.plans.SpaceSaving
    val itemGen = Gen.chooseNum(0, 30).map(i => s"t$i") // domain 31 < capacity
    val listGen = Gen.chooseNum(50, 400).flatMap(n => Gen.listOfN(n, itemGen))
    samples(listGen, seed = 23, n = 6).foreach { items =>
      val df = items.toDF("item").repartition(5)
      val got = df.agg(SpaceSaving.approxTopK(col("item"), 31, 64).as("top"))
        .selectExpr("explode(top) AS t").selectExpr("t.item", "t.est_count")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = items.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      assert(got == want)
    }
  }

  test("property: resampleFill output = one row per key-bucket in each key's span, no NULLs, idempotent sums") {
    import graft.operators.Temporal
    val obsGen = for {
      k <- Gen.chooseNum(1L, 5L); b <- Gen.chooseNum(0L, 20L)
      v <- Gen.chooseNum(-50, 50).map(_.toDouble)
    } yield (k, b, v)
    val rowsGen = Gen.chooseNum(10, 80).flatMap(n => Gen.listOfN(n, obsGen))
    samples(rowsGen, seed = 31, n = 4).foreach { rows =>
      val df = rows.toDF("k", "b", "v").repartition(5)
      val out = Temporal.resampleFill(df, "k", col("b"), col("v"), v => sum(v))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.get(2)))
      val spans = rows.groupBy(_._1).map { case (k, rs) =>
        k -> (rs.map(_._2).min, rs.map(_._2).max) }
      val wantRows = spans.map { case (_, (lo, hi)) => hi - lo + 1 }.sum
      assert(out.length == wantRows, s"grid size mismatch: ${out.length} vs $wantRows")
      assert(out.forall(_._3 != null), "filled value must never be NULL")
      // observed buckets carry the exact bucket sum
      val sums = rows.groupBy(r => (r._1, r._2)).map { case (kb, rs) => kb -> rs.map(_._3).sum }
      out.foreach { case (k, b, v) =>
        sums.get((k, b)).foreach(s => assert(math.abs(s - v.asInstanceOf[Double]) < 1e-9)) }
    }
  }

  test("property: scd2 run rows partition the input (n_rows sums per key; runs contiguous)") {
    import graft.operators.Temporal
    val evGen = for {
      k <- Gen.chooseNum(1L, 4L); t <- Gen.chooseNum(0L, 1000L)
      a <- Gen.oneOf("x", "y", "z")
    } yield (k, t, a)
    val rowsGen = Gen.chooseNum(15, 60).flatMap(n => Gen.listOfN(n, evGen))
    samples(rowsGen, seed = 37, n = 4).foreach { rows =>
      val withId = rows.zipWithIndex.map { case ((k, t, a), i) => (k, t, i.toLong, a) }
      val df = withId.toDF("k", "ts", "id", "attr").repartition(5)
      val out = Temporal.scd2(df, "k", col("ts"), col("id"), col("attr"))
        .select("k", "run", "n_rows", "eff_from", "eff_to")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), if (r.isNullAt(4)) None else Some(r.getLong(4))))
      val byKey = withId.groupBy(_._1)
      // row conservation per key
      byKey.foreach { case (k, rs) =>
        assert(out.filter(_._1 == k).map(_._3).sum == rs.size) }
      // runs are numbered 1..maxRun with each eff_to == next run's eff_from
      out.groupBy(_._1).foreach { case (_, runs) =>
        val sorted = runs.sortBy(_._2)
        assert(sorted.map(_._2) sameElements (1L to sorted.length))
        sorted.sliding(2).foreach {
          case Array(a, b) => assert(a._5.contains(b._4), s"gap between runs: $a -> $b")
          case _ =>
        }
        assert(sorted.last._5.isEmpty, "last run must be open")
      }
    }
  }

  test("property: bucket-refinement percentiles == buffering percentile on random frames") {
    import graft.operators.Percentiles
    // random groups, random doubles (negatives, heavy ties via rounding),
    // random bucket widths — the refinement path must agree with Spark's
    // buffering percentile bit-for-bit on every draw
    val rowGen = for {
      g <- Gen.oneOf("a", "b", "c")
      v <- Gen.chooseNum(-1000.0, 1000.0)
      tie <- Gen.oneOf(true, false)
    } yield (g, if (tie) math.rint(v / 10) * 10 else v)
    val probs = Seq("p10" -> 0.1, "p50" -> 0.5, "p77" -> 0.77, "p99" -> 0.99)
    for ((seed, width) <- Seq((101L, 7.0), (202L, 333.3), (303L, 1e9))) {
      val df = samples(rowGen, seed, n = 400).toDF("k", "v")
      val got = Percentiles.exactContinuousMulti(df, Seq("k"),
        Seq(("v", width, probs)))
        .collect().map(r => r.getString(0) ->
          (1 to 4).map(r.getDouble).toList).toMap
      val want = df.groupBy("k")
        .agg(expr("percentile(v, array(0.1, 0.5, 0.77, 0.99))").as("q"))
        .collect().map(r => r.getString(0) -> r.getSeq[Double](1).toList).toMap
      assert(got.keySet == want.keySet, s"seed=$seed width=$width")
      // interpolation formulas (lo + fr*(hi-lo) vs (1-fr)*lo + fr*hi) are
      // algebraically equal but may differ in the final ulp on arbitrary
      // doubles — compare to 1e-12 relative (the oracle gate rounds to 4
      // decimals, so this is far tighter than the gated contract)
      for (k <- want.keySet; (g, w) <- got(k).zip(want(k)))
        assert(math.abs(g - w) <= 1e-12 * math.max(1.0, math.abs(w)),
          s"seed=$seed width=$width k=$k got=$g want=$w")
    }
  }

  test("property: stars CC == propagation CC == driver union-find on random pair graphs") {
    import graft.operators.Components
    val edgeGen = for {
      a <- Gen.chooseNum(0L, 60L); b <- Gen.chooseNum(0L, 60L)
    } yield (a, b)
    for (seed <- Seq(11L, 22L, 33L)) {
      val edges = samples(edgeGen, seed, n = 80).toDF("a_id", "b_id")
      val stars = Components.connectedComponentsStars(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // maxDriverEdges = -1 forces the distributed propagation loop
      val prop = Components.connectedComponents(edges, maxDriverEdges = -1L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val uf = Components.connectedComponents(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(stars == prop, s"seed=$seed")
      assert(uf == prop, s"seed=$seed (driver union-find vs distributed)")
    }
  }

  test("property: spanDedup equals the in-memory reference on random corpora") {
    val texts = samples(docGen, seed = 33, n = 30)
    // inject shared spans: doc i+200 reuses doc i's first 20 tokens
    val docs: Seq[(Long, String)] = texts.zipWithIndex.flatMap { case (t, i) =>
      val borrowed = (t.split(" ").take(20) ++ Seq(s"own${i}a", s"own${i}b",
        s"own${i}c", s"own${i}d", s"own${i}e")).mkString(" ")
      Seq((i.toLong, t), ((i + 200).toLong, borrowed))
    }
    def tilesOf(t: String): Vector[String] =
      t.toLowerCase.split("\\s+").grouped(10).map(_.mkString(" ")).toVector
    val winners = scala.collection.mutable.Map.empty[String, (Long, Int)]
    docs.sortBy(_._1).foreach { case (id, t) =>
      tilesOf(t).zipWithIndex.foreach { case (tile, i) =>
        if (!winners.contains(tile)) winners(tile) = (id, i)
      }
    }
    val expected = docs.sortBy(_._1).map { case (id, t) =>
      val ts = tilesOf(t)
      val kept = ts.zipWithIndex.filter { case (tile, i) => winners(tile) == ((id, i)) }
      (id, ts.size, kept.size, kept.map(_._1).mkString(" "))
    }
    val got = Dedup.spanDedup(docs.toDF("doc_id", "text"), col("text"), col("doc_id"),
        tileTokens = 10)
      .orderBy("doc_id").as[(Long, Int, Int, String)].collect().toSeq
    assert(got === expected)
  }

  test("property: pagerank matches the in-memory power iteration on random digraphs") {
    val edgeGen = for {
      a <- Gen.chooseNum(0L, 15L); b <- Gen.chooseNum(0L, 15L) if a != b
    } yield (a, b)
    for (seed <- Seq(3L, 17L, 29L)) {
      val edges = samples(Gen.listOfN(40, edgeGen), seed, 1).head.distinct
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val out = edges.groupBy(_._1).view.mapValues(_.size).toMap
      val n = nodes.size
      def r8d(x: Double) = math.floor(x * 1e8 + 0.5) / 1e8
      var ranks = nodes.map(_ -> r8d(1.0 / n)).toMap
      // the teleport 1 - d as SQL's decimal subtraction gives it (0.15),
      // as Graph.pagerank and the DuckDB oracle compute it
      val base = 0.15 / n
      for (_ <- 1 to 6) {
        // contributions quantized to the 1e-8 grid BEFORE the sum and
        // summed as longs — the operator's exact arithmetic (ADVICE r8),
        // so the reference is bit-identical, not merely within an ulp
        val contrib = edges.groupBy(_._2).view.mapValues(
          _.map { case (u, _) => math.floor(ranks(u) * 1e8 / out(u) + 0.5).toLong }.sum).toMap
        ranks = nodes.map(v =>
          v -> r8d(base + 0.85 * (contrib.getOrElse(v, 0L).toDouble / 1e8))).toMap
      }
      val got = graft.operators.Graph.pagerank(edges.toDF("src", "dst"), iters = 6)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got.keySet == ranks.keySet, s"seed=$seed")
      // integer contribution sums are associative+commutative, so the
      // result is EXACT under any partition count or merge order — no
      // grid-step tolerance needed (that was the flakiness the
      // quantization removed)
      for (v <- nodes)
        assert(got(v) == ranks(v), s"seed=$seed node=$v got=${got(v)} want=${ranks(v)}")
    }
  }

  test("property: bm25 matches the in-memory reference on random corpora") {
    val texts = samples(docGen, seed = 55, n = 40)
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val q = Seq("w1", "w2", "w3")
    val toks = docs.map { case (id, t) => id -> t.toLowerCase.split("\\s+").toSeq }.toMap
    val nDocs = docs.size
    val avgdl = toks.values.map(_.size).sum.toDouble / nDocs
    val dfreq = q.map(term => term -> toks.count(_._2.contains(term))).toMap
    def r4d(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    val expected = docs.flatMap { case (id, _) =>
      val matched = q.filter(t => toks(id).contains(t))
      if (matched.isEmpty) None else {
        val dl = toks(id).size
        val score = matched.map { t =>
          val tf = toks(id).count(_ == t)
          math.log(1.0 + (nDocs - dfreq(t) + 0.5) / (dfreq(t) + 0.5)) *
            (tf * (1.2 + 1)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
        }.sum
        Some((id, matched.size, r4d(score)))
      }
    }.sortBy { case (id, _, s) => (-s, id) }
    val got = graft.operators.Search.bm25(docs.toDF("doc_id", "text"),
        col("text"), col("doc_id"), q, topK = 1000)
      .as[(Long, Int, Double)].collect().toSeq
    assert(got === expected)
  }

  test("property: temperatureSample selects exactly the reference's ranked prefix") {
    val srcGen = Gen.frequency(6 -> Gen.const("a"), 3 -> Gen.const("b"), 1 -> Gen.const("c"))
    val rows = samples(srcGen, seed = 61, n = 200).zipWithIndex
      .map { case (s, i) => (i.toLong, s) }
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val bySrc = rows.groupBy(_._2)
    val total = rows.size
    def wq(n: Int): Long = math.floor(math.pow(n.toDouble, 0.5) * 1000000.0 + 0.5).toLong
    val wqSum = bySrc.values.map(g => wq(g.size)).sum
    val k = math.floor(0.4 * total + 0.5).toLong
    val expected = bySrc.flatMap { case (src, g) =>
      val t = math.min(g.size.toLong,
        math.floor(k.toDouble * wq(g.size).toDouble / wqSum.toDouble + 0.5).toLong)
      g.map { case (id, _) => (md5hex(id + ":s0"), id) }.sorted.take(t.toInt).map(_._2)
    }.toSet
    val got = graft.operators.Sampling.temperatureSample(rows.toDF("id", "src"),
        col("id"), col("src"), alpha = 0.5, keepRatio = 0.4)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got === expected)
  }

  test("property: morton code preserves per-dimension containment at every bucket granularity") {
    import graft.sources.FileView
    val vGen = Gen.chooseNum(0L, 255L)
    val pairGen = for { a <- vGen; b <- vGen } yield (a, b)
    samples(Gen.listOfN(64, pairGen), seed = 41, n = 3).foreach { pts =>
      val z = pts.toDF("a", "b")
        .select(col("a"), col("b"), FileView.mortonCode(col("a"), col("b"), 8).as("z"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // two points sharing the top 2k bits of z must share the top k bits
      // of BOTH dimensions (z-order's locality guarantee, the property the
      // sink's per-file pruning rests on)
      for (k <- 1 to 4; pair <- z.combinations(2); p = pair(0); q = pair(1)) {
        if ((p._3 >> (16 - 2 * k)) == (q._3 >> (16 - 2 * k))) {
          assert((p._1 >> (8 - k)) == (q._1 >> (8 - k)), s"$p $q k=$k dim a")
          assert((p._2 >> (8 - k)) == (q._2 >> (8 - k)), s"$p $q k=$k dim b")
        }
      }
    }
  }

  test("property: katz centrality equals the naive adjacency replay on generated digraphs") {
    val edgeGen = for {
      s <- Gen.chooseNum(0L, 14L); d <- Gen.chooseNum(0L, 14L) if s != d
    } yield (s, d)
    for (seed <- Seq(7L, 23L)) {
      val edges = samples(edgeGen, seed, 60).distinct
      val df = edges.toDF("src", "dst")
      val got = graft.operators.Graph.katzCentrality(df, iters = 3)
        .select("node", "katz_u").as[(Long, Long)].collect().toMap
      // driver replay of the pure-integer recursion
      val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
      val in = edges.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
      var x = nodes.map(_ -> 100000000L).toMap
      for (_ <- 1 to 3)
        x = nodes.map(n =>
          n -> (100000000L + in.getOrElse(n, Nil).map(x).sum / 64L)).toMap
      assert(got == x, s"seed=$seed: got $got want $x")
    }
  }

  test("property: tokenBudgetSample equals the naive per-source prefix model on generated corpora") {
    val rowGen = for {
      id <- Gen.chooseNum(1L, 400L)
      src <- Gen.oneOf("s0", "s1", "s2")
      nt <- Gen.chooseNum(1L, 30L)
    } yield (id, src, nt)
    for (seed <- Seq(3L, 19L)) {
      val rows = samples(rowGen, seed, 120).distinctBy(_._1)
      val df = rows.toDF("doc_id", "source", "n_tokens")
      val budget = 150L
      val got = graft.operators.Sampling.tokenBudgetSample(df, col("doc_id"),
          col("source"), col("n_tokens"), budget)
        .select("doc_id", "cum_before").as[(Long, Long)].collect().toMap
      // naive model: per source, md5-coordinate order, exclusive prefix
      def coord(id: Long): BigInt = {
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$id:budget".getBytes("UTF-8"))
        BigInt(1, md.take(6)) // first 12 hex chars = first 6 bytes
      }
      val want = rows.groupBy(_._2).values.flatMap { grp =>
        val ordered = grp.sortBy(r => (coord(r._1), r._1))
        ordered.scanLeft(0L)((acc, r) => acc + r._3).zip(ordered)
          .collect { case (before, r) if before < budget => r._1 -> before }
      }.toMap
      assert(got == want, s"seed=$seed: ${got.size} vs ${want.size}")
    }
  }
}
