package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.security.MessageDigest
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import graft.{Engine, SparkEntry, SqlFrontEnd, Tables}
import graft.sources.{FileView, Snapshots}

/** One benchmark run of one workload, driven by `run.py`.
  *
  * Reads the seeded operation plan `<out>/plan.json`, sets the session up
  * three times, runs every distinct operation once untimed (the first
  * pass), then runs the plan's timed sequence closed-loop: whole blocks of
  * the plan, `--seconds` / the plan's nominal block length of them.
  * Every operation's action is `collect()`: the caller waits for the rows,
  * as a dashboard viewer or a pipeline step does. Results are written
  * after the timed section: `<out>/result.json` (latencies, per-op
  * fingerprints, traced counters) and `<out>/rows/<id>.json` (the rows of
  * the first execution of each distinct operation, for the oracle check).
  *
  * With `--trace 1` the timed phase is split in two halves of whole blocks:
  * the first runs untraced, the second with spans and listeners on, so the
  * run reports its own tracing overhead.
  */
object Main {

  final case class Out(schema: StructType, rows: Array[Row])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = opt("data")
    val outDir = new File(opt("out"))
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val plan = new ObjectMapper().readTree(new File(outDir, "plan.json"))
    val workload = plan.get("workload").asText()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spans = new Spans
    spans.on = trace
    val heap = new HeapWatch

    // set-up: session up + inputs bound, three times; the first is timed
    // from JVM start, the others after stopping the previous session
    def setUp(): SparkSession = {
      val s = spans("Engine.session")(Engine.session(s"local[$cores]", cores))
      spans("Tables.load")(bind(s, data, plan.get("bind")))
      s
    }
    val setupS = mutable.ArrayBuffer.empty[Double]
    spans.op = "setup-0"
    var spark = setUp()
    setupS += (System.currentTimeMillis() - jvmStart) / 1e3
    for (i <- 1 to 2) {
      spark.stop()
      spans.op = s"setup-$i"
      val t0 = System.nanoTime()
      spark = setUp()
      setupS += (System.nanoTime() - t0) / 1e9
    }
    spans.on = false

    val runner = new Runner(spark, data, new File(outDir, "work").getPath, spans)
    val records = mutable.ArrayBuffer.empty[Map[String, Any]]
    val firstHash = mutable.Map.empty[String, String]
    val rowsDir = new File(outDir, "rows")
    rowsDir.mkdirs()
    val listeners = new Listeners(spark)

    def execute(op: JsonNode, phase: String, seq: Int, traced: Boolean): Unit = {
      val id = op.get("id").asText()
      val tag = s"$seq"
      spark.sparkContext.setJobGroup(s"pb-$tag", id, interruptOnCancel = false)
      spans.op = tag
      listeners.current = tag
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val janino0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      val res = try Right(spans(s"op.${op.get("kind").asText()}")(runner.run(op)))
      catch { case e: Throwable => Left(e) }
      val lat = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.clearJobGroup()
      if (traced) listeners.settle(tag)
      // untimed: fingerprint, dump the first execution, side measurements
      val rec = mutable.Map[String, Any]("seq" -> seq, "id" -> id, "kind" -> op.get("kind").asText(),
        "phase" -> phase, "latency_s" -> lat, "traced" -> traced,
        "janino_compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0),
        "janino_ns" -> (CodeGenerator.compileTime - janino0))
      res match {
        case Left(e) =>
          rec("error") = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
        case Right(out) =>
          val json = Rows.toJson(out)
          val h = Rows.sha(json)
          rec("rows") = out.rows.length
          rec("hash") = h
          firstHash.get(id) match {
            case None =>
              firstHash(id) = h
              val pw = new PrintWriter(new File(rowsDir, s"$id.json"))
              try pw.write(json) finally pw.close()
            case Some(h0) => if (h0 != h) rec("error") = "result differs from the first execution"
          }
      }
      rec ++= runner.sideFacts(op, traced)
      records += rec.toMap
    }

    // first pass: every distinct operation once, cold
    val firstOps = plan.get("first").elements().asScala.toSeq
    val tFirst = System.nanoTime()
    firstOps.zipWithIndex.foreach { case (op, i) => execute(op, "first", i, traced = false) }
    val firstPassS = (System.nanoTime() - tFirst) / 1e9

    // timed phase: the seeded sequence, closed loop, one client. It runs a
    // fixed number of whole blocks (each block has the same mix of
    // operation kinds): `seconds` / the plan's nominal block length, so
    // every run does the same work whatever the host's speed
    val timed = plan.get("timed").elements().asScala.toIndexedSeq
    val block = plan.get("block").asInt()
    val blocks = math.max(if (trace) 2 else 1, math.round(seconds / plan.get("block_seconds").asDouble()).toInt)
    val total = math.min(blocks * block, timed.size)
    var seq = firstOps.size
    heap.start()
    val tTimed = System.nanoTime()
    def elapsed = (System.nanoTime() - tTimed) / 1e9
    for (k <- 0 until total) {
      if (trace && k == (blocks / 2) * block) {
        listeners.attach()
        spans.on = true
      }
      execute(timed(k), "timed", seq, spans.on)
      seq += 1
    }
    val timedS = elapsed
    spans.on = false
    val heapMb = heap.stop()

    val result = Map[String, Any](
      "workload" -> workload,
      "setup_s" -> setupS.toSeq,
      "first_pass_s" -> firstPassS,
      "timed_s" -> timedS,
      "heap_live_mb" -> heapMb,
      "cores" -> cores,
      "ops" -> records.toSeq,
      "lake" -> runner.lakeFacts(),
      "counters" -> listeners.byOp.map { case (op, c) => op -> Rows.fields(c) }.toMap,
      "job_start_ms" -> listeners.jobStartMs.toMap,
      "oracles" -> oracles(firstOps ++ timed))
    val pw = new PrintWriter(new File(outDir, "result.json"))
    try pw.write(Json(result)) finally pw.close()
    if (trace) {
      val sp = new PrintWriter(new File(outDir, "spans.json"))
      try sp.write(Json(spans.all.map(s => Map("name" -> s.name, "op" -> s.op, "parent" -> s.parent,
        "start_ns" -> s.start, "end_ns" -> s.end, "start_ms" -> s.startMs, "end_ms" -> s.endMs)).toSeq))
      finally sp.close()
    }
    spark.stop()
  }

  /** DuckDB oracle text per distinct `query`/`ppr` operation: the
    * engine's own `SparkEntry.oracleSql`, and for seeded personalized
    * PageRank the `graph_ppr` oracle with the seed list replaced. */
  private def oracles(ops: Seq[JsonNode]): Map[String, String] = ops.flatMap { op =>
    val id = op.get("id").asText()
    op.get("kind").asText() match {
      case "query" => SparkEntry.oracleSql.get(op.get("name").asText()).map(id -> _)
      case "ppr" =>
        val seeds = op.get("sources").elements().asScala.map(_.asLong()).mkString("(", ", ", ")")
        val fixed = graft.QueriesAnalytics.graphPprSeeds.mkString("(", ", ", ")")
        Some(id -> graft.QueriesAnalytics.graphPprSql.replace(fixed, seeds))
      case _ => None
    }
  }.toMap

  /** Binds the workload's inputs: each listed table through [[Tables]]
    * (path resolution; the events footer sniff), or a lake batch. */
  private def bind(spark: SparkSession, data: String, names: JsonNode): Unit =
    names.elements().asScala.map(_.asText()).foreach {
      case "region" => Tables.region(spark, data)
      case "nation" => Tables.nation(spark, data)
      case "customer" => Tables.customer(spark, data)
      case "supplier" => Tables.supplier(spark, data)
      case "part" => Tables.part(spark, data)
      case "orders" => Tables.orders(spark, data)
      case "lineitem" => Tables.lineitem(spark, data)
      case "events" => Tables.events(spark, data)
      case "documents" => Tables.documents(spark, data)
      case "embeddings" => Tables.embeddings(spark, data)
      case other => spark.read.parquet(s"$data/$other")
    }
}

/** Executes one operation of the plan against the engine's entry points. */
final class Runner(spark: SparkSession, data: String, work: String, spans: Spans) {
  import Main.Out

  private val lakeRoot = s"$work/lake"
  private val feedRoot = s"$work/feed"
  private val streamCkpt = s"$work/feed_ckpt"
  private var lakeVersion = 0L
  private var lakeBytesWritten = 0L

  private def action(df: DataFrame): Out = {
    val rows = spans("spark.action")(df.collect())
    Out(df.schema, rows)
  }

  private def one(schema: StructType, values: Any*): Out =
    Out(schema, Array(Row.fromSeq(values)))

  private val versionSchema = StructType(Seq(StructField("version", LongType)))

  private def edges(): DataFrame = spans("Tables.load") {
    val ed = Tables.lineitem(spark, data)
      .select((col("l_partkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    ed.unionAll(ed.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** Per-group aggregate of a lake snapshot: the read a lake dashboard
    * renders, exact in its long columns. */
  private def lakeAgg(df: DataFrame): DataFrame =
    df.groupBy("grp").agg(count(lit(1)).as("n"), sum("id").as("sum_id"),
        min("id").as("min_id"), max("id").as("max_id"),
        (floor(sum("value") * 100 + 0.5) / 100).as("sum_value"))
      .orderBy("grp")

  private def batch(op: JsonNode): DataFrame =
    spark.read.parquet(s"$data/${op.get("batch").asText()}")

  private def commit(f: => Long): Out = {
    val v = spans("sources.commit")(f)
    lakeVersion = v
    one(versionSchema, v)
  }

  def run(op: JsonNode): Out = op.get("kind").asText() match {
    case "sql" =>
      action(spans("SqlFrontEnd.run")(SqlFrontEnd.run(spark, data, op.get("text").asText())))
    case "query" =>
      val layer = op.get("layer").asText()
      action(spans(layer)(SparkEntry.queries(op.get("name").asText())(spark, data)))
    case "fileview" =>
      action(spans("FileView.scan")(FileView.scan(spark, s"$data/${op.get("glob").asText()}")
        .select(regexp_extract(col("path"), "([^/]+/[^/]+)$", 1).as("file"), col("file_size"))
        .orderBy("file")))
    case "ppr" =>
      val seeds = op.get("sources").elements().asScala.map(_.asLong()).toSeq
      val e = edges()
      action(spans("operators.construct")(
        graft.operators.Graph.personalizedPagerank(e, seeds, iters = 6).orderBy("node")))
    case "append" => commit(Snapshots.commitAppend(spark, lakeRoot, batch(op)))
    case "delete" => commit(Snapshots.commitDelete(spark, lakeRoot, batch(op)))
    case "merge" => commit(Snapshots.commitMerge(spark, lakeRoot, batch(op), Seq("id")))
    case "compact" => commit(Snapshots.commitReplaceClustered(spark, lakeRoot, Seq("id"), 4))
    case "feed_append" =>
      val v = spans("sources.commit")(Snapshots.commitAppend(spark, feedRoot, batch(op)))
      one(versionSchema, v)
    case "vacuum" =>
      val keepFrom = math.max(1L, lakeVersion - op.get("keep").asLong() + 1)
      spans("sources.commit")(Snapshots.vacuum(spark, lakeRoot, keepFrom))
      one(StructType(Seq(StructField("keep_from", LongType))), keepFrom)
    case "read_current" =>
      action(lakeAgg(spans("sources.read")(Snapshots.readSnapshot(spark, lakeRoot))))
    case "read_version" =>
      val v = math.max(1L, lakeVersion - op.get("back").asLong())
      action(lakeAgg(spans("sources.read")(Snapshots.readSnapshot(spark, lakeRoot, v))))
    case "read_pruned" =>
      val f = Seq(GreaterThanOrEqual("id", op.get("lo").asLong()), LessThanOrEqual("id", op.get("hi").asLong()))
      action(spans("sources.read")(Snapshots.readSnapshotPruned(spark, lakeRoot, f)).orderBy("id"))
    case "meta_agg" =>
      val (n, mm) = spans("sources.read")(
        (Snapshots.metadataRowCount(spark, lakeRoot), Snapshots.metadataMinMaxLong(spark, lakeRoot, "id")))
      one(StructType(Seq(StructField("n", LongType), StructField("min_id", LongType),
          StructField("max_id", LongType))),
        n.map(Long.box).orNull, mm.map(x => Long.box(x._1)).orNull, mm.map(x => Long.box(x._2)).orNull)
    case "diff" =>
      val from = math.max(1L, lakeVersion - op.get("back").asLong())
      action(spans("sources.read")(Snapshots.snapshotDiff(spark, lakeRoot, from, lakeVersion))
        .groupBy("change").agg(count(lit(1)).as("n"), sum("id").as("sum_id"),
          (floor(sum("value") * 100 + 0.5) / 100).as("sum_value"))
        .orderBy("change"))
    case "stream_tail" =>
      val got = mutable.ArrayBuffer.empty[(Long, Long)]
      spans("streaming.run") {
        val q = spark.readStream.format("graft.sources.v2.SnapshotStreamSource")
          .option("root", feedRoot).load()
          .writeStream.trigger(Trigger.AvailableNow())
          .option("checkpointLocation", streamCkpt)
          .foreachBatch { (df: DataFrame, _: Long) =>
            val r = df.agg(count(lit(1)), coalesce(sum("id"), lit(0L))).head()
            got.synchronized(got += ((r.getLong(0), r.getLong(1))))
            ()
          }.start()
        q.awaitTermination()
      }
      one(StructType(Seq(StructField("n", LongType), StructField("sum_id", LongType))),
        got.map(_._1).sum, got.map(_._2).sum)
  }

  /** Untimed facts about the operation just run: lake bytes and files
    * written by commits; manifest pruning on traced pruned reads. */
  def sideFacts(op: JsonNode, traced: Boolean): Map[String, Any] = op.get("kind").asText() match {
    case "append" | "delete" | "merge" | "compact" | "vacuum" | "feed_append" =>
      val (files, bytes) = Lake.tree(Seq(lakeRoot, feedRoot))
      val written = Lake.newBytes(files)
      lakeBytesWritten += written._2
      Map("files_written" -> written._1, "bytes_written" -> written._2, "lake_bytes" -> bytes)
    case "read_pruned" if traced =>
      val f = Seq(GreaterThanOrEqual("id", op.get("lo").asLong()), LessThanOrEqual("id", op.get("hi").asLong()))
      val (kept, total) = Snapshots.pruneCounts(spark, lakeRoot, f)
      Map("files_kept" -> kept, "files_total" -> total)
    case _ => Map.empty
  }

  def lakeFacts(): Map[String, Any] =
    if (lakeVersion == 0L) Map.empty
    else {
      val live = Snapshots.readSnapshot(spark, lakeRoot).inputFiles.toSeq
      val liveBytes = live.map(p => new File(new java.net.URI(p)).length()).sum
      val (_, total) = Lake.tree(Seq(lakeRoot))
      Map("bytes_written" -> lakeBytesWritten, "lake_bytes" -> total, "live_bytes" -> liveBytes,
        "live_files" -> live.size, "version" -> lakeVersion)
    }
}

/** File-system accounting for the lake roots. */
object Lake {
  private val seen = mutable.Map.empty[String, Long]

  /** (files, bytes) under `roots`, remembering every file seen. */
  def tree(roots: Seq[String]): (Map[String, Long], Long) = {
    val files = roots.flatMap { r =>
      val d = new File(r)
      if (!d.exists()) Nil
      else java.nio.file.Files.walk(d.toPath).iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p))
        .map(p => p.toString -> p.toFile.length()).toSeq
    }.toMap
    (files, files.values.sum)
  }

  /** Files (count, bytes) in `files` not seen by an earlier call. */
  def newBytes(files: Map[String, Long]): (Long, Long) = {
    val fresh = files.filter { case (p, _) => !seen.contains(p) }
    seen ++= fresh
    (fresh.size.toLong, fresh.values.sum)
  }
}

/** Peak heap after garbage collection during the timed phase, in MiB,
  * counting one full collection at the end of the phase. */
final class HeapWatch {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  @volatile private var peak = 0L
  @volatile private var on = false
  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if HeapWatch.heapPools(pool) => u.getUsed
        }.sum
        synchronized { peak = math.max(peak, after) }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }
  def start(): Unit = on = true
  def stop(): Double = {
    on = false
    System.gc()
    math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed) / 1048576.0
  }
}

object HeapWatch {
  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
}

/** Result rows as JSON, typed by the schema so the checker can rebuild
  * the Python values a Parquet reader would give. */
object Rows {
  def toJson(out: Main.Out): String = {
    val sb = new StringBuilder
    sb ++= "{\"columns\":" ++= Json(out.schema.fields.map(_.name).toSeq)
    sb ++= ",\"types\":" ++= Json(out.schema.fields.map(f => typeTag(f.dataType)).toSeq)
    sb ++= ",\"rows\":["
    out.rows.iterator.zipWithIndex.foreach { case (r, i) =>
      if (i > 0) sb += ','
      sb += '['
      out.schema.fields.indices.foreach { j =>
        if (j > 0) sb += ','
        value(sb, if (r.isNullAt(j)) null else r.get(j), out.schema.fields(j).dataType)
      }
      sb += ']'
    }
    sb ++= "]}"
    sb.toString
  }

  private def typeTag(t: DataType): String = t match {
    case ArrayType(e, _) => s"array<${typeTag(e)}>"
    case _: StructType => "struct"
    case _: MapType => "map"
    case other => other.typeName
  }

  private def value(sb: StringBuilder, v: Any, t: DataType): Unit = (v, t) match {
    case (null, _) => sb ++= "null"
    case (f: Float, _) => sb ++= Json.num(f.toDouble)
    case (d: Double, _) => sb ++= Json.num(d)
    case (n: java.lang.Number, _: DecimalType) => sb ++= Json.str(n.toString)
    case (d: java.math.BigDecimal, _) => sb ++= Json.str(d.toPlainString)
    case (n: java.lang.Number, _) => sb ++= n.toString
    case (b: Boolean, _) => sb ++= b.toString
    case (s: String, _) => sb ++= Json.str(s)
    case (d: java.sql.Date, _) => sb ++= Json.str(d.toLocalDate.toString)
    case (d: java.time.LocalDate, _) => sb ++= Json.str(d.toString)
    case (t: java.time.LocalDateTime, _) => sb ++= Json.str(t.toString)
    case (t: java.sql.Timestamp, _) => sb ++= (t.getTime / 1000 * 1000000 + t.getNanos / 1000).toString
    case (i: java.time.Instant, _) => sb ++= (i.getEpochSecond * 1000000 + i.getNano / 1000).toString
    case (s: scala.collection.Seq[_], ArrayType(et, _)) =>
      sb += '['
      s.iterator.zipWithIndex.foreach { case (x, i) => if (i > 0) sb += ','; value(sb, x, et) }
      sb += ']'
    case (r: Row, st: StructType) =>
      sb += '{'
      st.fields.indices.foreach { j =>
        if (j > 0) sb += ','
        sb ++= Json.str(st.fields(j).name) += ':'
        value(sb, if (r.isNullAt(j)) null else r.get(j), st.fields(j).dataType)
      }
      sb += '}'
    case (m: scala.collection.Map[_, _], MapType(_, vt, _)) =>
      sb += '{'
      m.iterator.zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb += ','
        sb ++= Json.str(k.toString) += ':'
        value(sb, x, vt)
      }
      sb += '}'
    case (other, _) => sb ++= Json.str(other.toString)
  }

  def sha(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  def fields(c: OpCounters): Map[String, Any] =
    c.getClass.getDeclaredFields.toSeq.map { f => f.setAccessible(true); f.getName -> f.get(c) }.toMap
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN) "\"NaN\"" else if (d.isInfinite) (if (d > 0) "\"Infinity\"" else "\"-Infinity\"")
    else d.toString

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: Boolean => b.toString
    case n: java.lang.Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => a.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
