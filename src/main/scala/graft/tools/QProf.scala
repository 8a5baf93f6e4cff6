package graft.tools

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.graftbridge.ListenerBusBridge
import graft.{Engine, SparkEntry}

/** Per-query fixed-cost profiler:
  * for each named query, reports — per repetition — the Spark JOB and
  * STAGE count, the dataframe-CONSTRUCTION time (which includes every
  * eager action the query builder runs: localCheckpoints, observes,
  * collects), the final noop-sink ACTION time, and the janino compile
  * count and time, so a row's cost can be split into driver-blocking
  * action train vs plan execution vs code generation.
  *
  * Usage: runMain graft.tools.QProf <query> [query...] [--reps=N]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32).
  */
object QProf {
  def main(args: Array[String]): Unit = {
    val reps = args.find(_.startsWith("--reps="))
      .map(_.stripPrefix("--reps=").toInt).getOrElse(3)
    val names = args.filterNot(_.startsWith("--"))
    require(names.nonEmpty, "usage: QProf <query> [query...] [--reps=N]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Engine.configure(
      SparkSession.builder().master(s"local[$cpus]").appName("graft-qprof"),
      cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    System.setProperty("graft.bench.fast",
      sys.env.getOrElse("SPARK_GRAFT_STREAM_FAST", "1"))
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
      }
    })
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      for (rep <- 1 to reps) {
        spark.catalog.clearCache()
        if (spark.sparkContext.getPersistentRDDs.nonEmpty) System.gc()
        val (j0, s0, k0) = (jobs.get, stages.get, tasks.get)
        val (c0, ns0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        val (j1, s1, k1) = (jobs.get, stages.get, tasks.get)
        // force analysis + optimization + physical planning (AQE plan
        // shell) WITHOUT executing — isolates Catalyst's share
        df.queryExecution.executedPlan
        val tp = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        // listener events are async: read the counters once all posted
        // events have been delivered
        ListenerBusBridge.drain(spark.sparkContext)
        val (j2, s2, k2) = (jobs.get, stages.get, tasks.get)
        val (c1, ns1) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
        println(f"[qprof] $name%-28s rep=$rep " +
          f"cons=${(t1 - t0) / 1e9}%7.3f s (jobs=${j1 - j0}%3d stages=${s1 - s0}%3d tasks=${k1 - k0}%5d)  " +
          f"plan=${(tp - t1) / 1e9}%6.3f s  " +
          f"act=${(t2 - tp) / 1e9}%7.3f s (jobs=${j2 - j1}%3d stages=${s2 - s1}%3d tasks=${k2 - k1}%5d)  " +
          f"janino=${(ns1 - ns0) / 1e6}%7.1f ms (compiles=${c1 - c0}%3d)  total=${(t2 - t0) / 1e9}%7.3f s")
      }
    }
    spark.stop()
  }
}
