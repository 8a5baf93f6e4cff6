package graft

import org.apache.spark.sql.functions._
import graft.functions.{Num, TextOps}
import graft.operators.{Dedup, Similarity}
import graft.plans.TextExpressions

/** Bit-for-bit equality of the per-row codegen kernels
  * (plans.TextKernels/TextExpressions) against the composable forms they
  * replaced, on the fixture corpus plus adversarial edge strings. */
class TextKernelsSpec extends SparkTestBase {
  import spark.implicits._

  // edge strings the split(\s+) semantics have to survive: empties,
  // leading/trailing/multi whitespace, tabs/newlines, short docs, unicode
  private val edges = Seq(
    "", " ", "  ", "a", " a", "a ", "\ta\n b ", "a  b\t\tc",
    "one two", "one two three", "one two three four five",
    "Héllo Wörld straße", "café É naïve", "日本語 テスト です",
    "MiXeD CaSe TeXt Here", "a b c d e f g h i j k l m n o p")
  private def edgeDf = edges.zipWithIndex
    .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  private def fixtureDf = Tables.documents(spark, sf).select("doc_id", "text")

  private def assertEqual(df: org.apache.spark.sql.DataFrame,
      kernel: org.apache.spark.sql.Column, reference: org.apache.spark.sql.Column): Unit = {
    val diff = df.select(col("doc_id"), kernel.as("k"), reference.as("r"))
      .filter(!(col("k") <=> col("r")))
    val bad = diff.limit(5).collect()
    assert(bad.isEmpty, s"kernel != reference for: ${bad.mkString(", ")}")
  }

  test("simhash64 kernel == HOF fold on fixture + edges") {
    assertEqual(fixtureDf, TextExpressions.simhash64(col("text")), TextOps.simhash64(col("text")))
    assertEqual(edgeDf, TextExpressions.simhash64(col("text")), TextOps.simhash64(col("text")))
  }

  test("simhash sketches kernel frame == explode+aggregate frame") {
    val df = fixtureDf
    val a = Dedup.simhashSketches(df, col("text"), col("doc_id"))
    val b = Dedup.simhashSketchesAgg(df, col("text"), col("doc_id"))
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
  }

  test("minhash signatures kernel frame == explode+aggregate frame (fixture + edges)") {
    for (df <- Seq(fixtureDf, edgeDf)) {
      val a = Dedup.minhashSignatures(df, col("text"), col("doc_id"))
      val b = Dedup.minhashSignaturesAgg(df, col("text"), col("doc_id"))
      assert(a.except(b).isEmpty && b.except(a).isEmpty)
    }
  }

  test("winnowing fingerprints kernel == HOF form on fixture + ascii edges") {
    // unicode rows excluded: substr counts codepoints of the ORIGINAL text
    // while the kernel windows over the lowered text's codepoints — they
    // agree whenever lowercasing preserves length (all of the fixture).
    val ascii = edgeDf.filter(length(col("text")) === octet_length(col("text")))
    assertEqual(fixtureDf,
      TextExpressions.winnowFingerprints(col("text")), TextOps.fingerprints(col("text")))
    assertEqual(ascii,
      TextExpressions.winnowFingerprints(col("text")), TextOps.fingerprints(col("text")))
  }

  test("repetition stats kernel == explode+count form == HOF fold (fixture + edges)") {
    for (df <- Seq(fixtureDf, edgeDf); n <- Seq(2, 3)) {
      // HOF reference: n_grams from the shingle array size, (max_c, dup_c)
      // from the run-length fold — both composable, both exact
      val sh = TextOps.shingles(col("text"), n)
      val hof = TextOps.repetitionStats(sh)
      assertEqual(df, TextExpressions.repetitionStats(col("text"), n),
        struct(size(sh).cast("long").as("n_grams"),
          hof("max_c").as("max_c"), hof("dup_c").as("dup_c")))
      // relational reference: the groupBy the kernel replaced (docs with
      // < n tokens drop out of the explode, so inner-join the survivors)
      val kernel = df.select(col("doc_id"),
          TextExpressions.repetitionStats(col("text"), n).as("st"))
        .filter(col("st.n_grams") > 0)
        .select(col("doc_id"), col("st.n_grams").as("n"),
          col("st.max_c").as("m"), col("st.dup_c").as("d"))
      val grouped = df.select(col("doc_id"),
          explode(TextOps.shingles(col("text"), n)).as("gram"))
        .groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n"), max("c").as("m"),
          sum(when(col("c") > 1, col("c")).otherwise(lit(0L))).as("d"))
      assert(kernel.except(grouped).isEmpty && grouped.except(kernel).isEmpty)
    }
  }

  test("repetition query plan: zero shuffles before the gate ORDER BY") {
    val plan = QueriesLLM.textRepetition(spark, sf)
      .queryExecution.executedPlan.toString
    // exactly the one range-partitioning exchange the sort gate requires
    assert("Exchange".r.findAllIn(plan).size == 1, plan.take(2000))
  }

  test("char entropy kernel: hand values, empty/NULL edges, == explode+groupBy form") {
    import graft.plans.TextKernels
    import org.apache.spark.unsafe.types.UTF8String
    def k(s: String) = TextKernels.charEntropyBits(UTF8String.fromString(s))
    assert(k("aaaa") === 0.0)
    assert(k("ab") === 1.0)           // two equiprobable symbols = 1 bit
    assert(k("abab") === 1.0)
    assert(math.abs(k("abcd") - 2.0) < 1e-12)
    assert(k("") === 0.0)
    assert(k("a") === 0.0)
    // multi-byte: one CJK code point is ONE symbol, not 3 byte-symbols
    assert(k("一一一") === 0.0)
    assert(k("一二") === 1.0)
    // NULL propagates through the expression
    val nulls = Seq((1L, Option.empty[String])).toDF("doc_id", "text")
      .select(TextExpressions.charEntropy(col("text")).as("e")).collect()
    assert(nulls.head.isNullAt(0))
    // relational reference on the fixture: explode chars -> counts -> the
    // same (ln n - sum c ln c / n) / ln 2 chain, compared on the r4 grid
    val kernel = fixtureDf.select(col("doc_id"),
      Num.r4(TextExpressions.charEntropy(col("text"))).as("e"))
    val grouped = fixtureDf
      .select(col("doc_id"), explode(split(col("text"), "")).as("c"))
      .groupBy("doc_id", "c").agg(count(lit(1)).cast("double").as("cnt"))
      .groupBy("doc_id")
      .agg(Num.r4((log(sum("cnt")) - sum(col("cnt") * log(col("cnt"))) / sum("cnt"))
        / log(lit(2.0))).as("e"))
    assert(kernel.except(grouped).isEmpty && grouped.except(kernel).isEmpty)
  }

  test("shingle hash set kernel == relational distinct set (fixture + edges)") {
    for (df <- Seq(fixtureDf, edgeDf)) {
      val kernel = df.select(col("doc_id"),
        explode(TextExpressions.shingleHashSet(col("text"))).as("sh"))
      val relational = TextOps.shingleRows(df, col("text"), col("doc_id"), 3)
        .select(col("doc_id"), xxhash64(col("sh")).as("sh")).distinct()
      assert(kernel.except(relational).isEmpty && relational.except(kernel).isEmpty)
    }
  }

  test("srp sketch kernel == HOF form on fixture embeddings") {
    val emb = Tables.embeddings(spark, sf)
    assertEqual(emb.withColumnRenamed("vec_id", "doc_id"),
      Similarity.srpBucket(col("embedding"), 16),
      Similarity.srpBucketHof(col("embedding"), 16))
  }

  test("per-row sketch stage has zero shuffles (agg form has one)") {
    val df = fixtureDf
    // AQE wraps the executed plan, hiding exchange children from collect();
    // the initial plan's toString still names them (see PlanAuditSpec)
    def nShuffles(d: org.apache.spark.sql.DataFrame): Int =
      "Exchange".r.findAllIn(d.queryExecution.executedPlan.toString).size
    assert(nShuffles(Dedup.simhashSketches(df, col("text"), col("doc_id"))) == 0)
    assert(nShuffles(Dedup.minhashSignatures(df, col("text"), col("doc_id"))) == 0)
    assert(nShuffles(Dedup.simhashSketchesAgg(df, col("text"), col("doc_id"))) >= 1)
  }

  test("broadcast-literal IVF assignment == relational cross-join form, zero shuffle") {
    val emb = Tables.embeddings(spark, sf)
    val a = Similarity.ivfAssign(emb, 16)
    val b = Similarity.ivfAssignRelational(emb, 16)
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
    assert(!a.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("pairsLsh: precision 1.0 vs brute force, recall >= 0.8 at tau=0.35 (16x4 bands)") {
    val emb = Tables.embeddings(spark, sf)
    val truth = Similarity.pairsAboveThreshold(emb, 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = Similarity.pairsLsh(emb, 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(truth.nonEmpty, "fixture must contain pairs above tau")
    assert(lsh.subsetOf(truth), s"false positives: ${(lsh -- truth).take(3)}")
    val recall = lsh.size.toDouble / truth.size
    assert(recall >= 0.8, s"recall $recall too low (${lsh.size}/${truth.size})")
  }

  test("pairsLsh near-dup regime: planted dups at tau=0.9, 8x8 bands prune hard") {
    // fixture embeddings have no near-identical pairs (max cosine ~0.48),
    // so plant them: 40 base vectors, each with a tiny-perturbation twin
    val rnd = new scala.util.Random(7)
    val base = (0 until 40).map(i => (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat)))
    val twins = base.map { case (i, v) =>
      (i + 1000L, v.map(x => x + 0.02f * rnd.nextGaussian().toFloat))
    }
    val fillers = (0 until 400).map(i => (i + 2000L, Array.fill(64)(rnd.nextGaussian().toFloat)))
    val df = (base ++ twins ++ fillers).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val truth = Similarity.pairsAboveThreshold(df, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.size >= 35, s"expected ~40 planted pairs, got ${truth.size}")
    val lsh = Similarity.pairsLsh(df, 0.9, bands = 8, bitsPerBand = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(truth))
    assert(lsh.size.toDouble / truth.size >= 0.9,
      s"near-dup recall ${lsh.size}/${truth.size}")
    // the pruning claim: candidate volume stays near-linear, not O(n^2)
    val n = df.count()
    val cands = Similarity.pairsLshCandidateCount(df, bands = 8, bitsPerBand = 8)
    assert(cands < n * n / 20,
      s"8x8 banding should prune hard: $cands candidates for $n vectors")
  }

  test("levenshtein_within kernel == builtin levenshtein(a,b,k) on edge lattice + fixture pairs") {
    // edge lattice: every ordered pair of the edge strings, at thresholds
    // spanning degenerate (0), tight (1), and the production cut (20)
    val pairs = edgeDf.select(col("text").as("ta"))
      .crossJoin(edgeDf.select(col("text").as("tb")))
      .withColumn("doc_id", monotonically_increasing_id())
    for (k <- Seq(0, 1, 5, 20)) {
      assertEqual(pairs,
        TextExpressions.levenshteinWithin(col("ta"), col("tb"), k),
        levenshtein(col("ta"), col("tb"), k))
    }
    // real corpus pairs: blocked prefix join, the exact shape
    // editDistancePairs verifies (includes true near-dups AND
    // over-threshold pairs, so both the -1 and the >=0 branch are hit)
    val d = fixtureDf.select(col("doc_id"), col("text"),
      substring(col("text"), 1, 8).as("pfx"))
    val corpus = d.as("x").join(d.as("y"),
        col("x.pfx") === col("y.pfx") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_id"),
        col("x.text").as("ta"), col("y.text").as("tb"))
    assertEqual(corpus,
      TextExpressions.levenshteinWithin(col("ta"), col("tb"), 20),
      levenshtein(col("ta"), col("tb"), 20))
    // NULL propagation matches the builtin
    val withNull = Seq((1L, "abc", null: String), (2L, null: String, "x"),
      (3L, null: String, null: String)).toDF("doc_id", "ta", "tb")
    assertEqual(withNull,
      TextExpressions.levenshteinWithin(col("ta"), col("tb"), 5),
      levenshtein(col("ta"), col("tb"), 5))
  }

  test("tableCapacity: smallest power of two >= max(4, 2n), bounded below Int overflow") {
    import graft.plans.TextKernels.{MaxTableKeys, tableCapacity}
    def reference(n: Int): Long = { var c = 4L; while (c < 2L * n) c <<= 1; c }
    (0 to 5000).foreach(n => assert(tableCapacity(n).toLong == reference(n), s"n=$n"))
    assert(tableCapacity(MaxTableKeys) == (1 << 30))
    assert(tableCapacity(MaxTableKeys - 1) == (1 << 30))
    assert(tableCapacity((1 << 28) + 1) == (1 << 30))
    Seq(MaxTableKeys + 1, Int.MaxValue, -1).foreach { n =>
      intercept[IllegalArgumentException](tableCapacity(n))
    }
  }
}
