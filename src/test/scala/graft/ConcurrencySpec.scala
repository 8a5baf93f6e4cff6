package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

/** A shared SparkSession serves many queries at once on a real cluster
  * (notebooks, schedulers, a BI layer). The engine's registered queries
  * must be safe to PLAN and EXECUTE concurrently on one session — no
  * shared mutable state in operators, no temp-view collisions, no
  * cross-query config bleed (the streaming harness restores its
  * shuffle-partition override in a finally). */
class ConcurrencySpec extends SparkTestBase {

  test("a mixed batch of registered queries is result-identical under concurrency") {
    // spans joins, aggs, windows, dedup, sampling, percentiles, url parse,
    // and the iterative CC loop (its per-round observe metrics are keyed
    // by (name, dataset id) in ObservationManager, so concurrent runs with
    // identical metric names must not cross-talk — pinned here)
    val names = Seq("q1_pricing", "join_inner", "win_rank", "dedup_exact",
      "sample_mixture", "agg_percentile_disc", "fn_url", "agg_multi_distinct",
      "dedup_semantic",
      // SQL-surface queries (scoped temp views) and round-8 additions
      "sub_scalar", "join_existence", "search_bm25", "dq_audit")
    def run(name: String): Map[String, String] =
      SparkEntry.queries(name)(spark, sf).collect()
        .map(_.toString).groupBy(identity).map { case (k, v) => k -> v.length.toString }
    val sequential = names.map(n => n -> run(n)).toMap
    val concurrent = Await.result(
      Future.sequence(names.map(n => Future(n -> run(n)))), 5.minutes).toMap
    names.foreach { n =>
      assert(concurrent(n) == sequential(n), s"$n diverged under concurrency")
    }
  }

  test("the SAME SQL-surface query run concurrently with itself stays correct") {
    // withViews serializes the register->analyze->drop window per view
    // name; without it one thread's drop races another's analysis
    val expected = SparkEntry.queries("sub_scalar")(spark, sf).count()
    val counts = Await.result(Future.sequence(
      (1 to 4).map(_ => Future(SparkEntry.queries("sub_scalar")(spark, sf).count()))),
      5.minutes)
    assert(counts.forall(_ == expected), counts.toString)
  }

  test("SqlFrontEnd.run serves dashboard texts concurrently over two directories") {
    // every call binds and drops the same bare view names; without the
    // bind -> analyze -> drop lock one call drops (or rebinds to the
    // other directory) a view another call has not yet analyzed
    val texts = Seq(
      """SELECT n_name, count(*) AS n_orders,
        |  floor(sum(o_totalprice) * 100 + 0.5) / 100 AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY n_name ORDER BY revenue DESC, n_name LIMIT 5""".stripMargin,
      """SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      """SELECT source, lang, count(*) AS n_docs FROM documents
        |GROUP BY ROLLUP (source, lang)
        |ORDER BY source NULLS FIRST, lang NULLS FIRST""".stripMargin,
      """SELECT l_returnflag, l_linestatus, CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
    val dirs = Seq(sf, sf.replace("sf0.001", "sf0.01"))
    def run(text: String, dir: String): Seq[String] =
      SqlFrontEnd.run(spark, dir, text).collect().map(_.toString).toSeq
    val calls = for (t <- texts; d <- dirs) yield (t, d)
    val expected = calls.map(c => c -> run(c._1, c._2)).toMap
    texts.foreach(t => assert(expected((t, dirs(0))) != expected((t, dirs(1)))))
    val concurrent = Await.result(Future.sequence(
      (1 to 3).flatMap(_ => calls).map(c => Future(c -> run(c._1, c._2)))), 5.minutes)
    concurrent.foreach { case ((t, d), got) =>
      assert(got == expected((t, d)), s"$d diverged under concurrency:\n$t")
    }
  }

  test("the streaming harness's config override never bleeds across threads") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val fs = (1 to 3).map { _ =>
      Future(SparkEntry.queries("stream_tumbling")(spark, sf).collect().length)
    } :+ Future {
      // a streaming replay (sets partitions=8 in a finally-restored scope)
      SparkEntry.queries("stream_dedup_live")(spark, sf).collect().length
    }
    val counts = Await.result(Future.sequence(fs), 5.minutes)
    assert(counts.forall(_ > 0))
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
  }
}
