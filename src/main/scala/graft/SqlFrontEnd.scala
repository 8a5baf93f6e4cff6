package graft

import scala.util.matching.Regex
import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL string front-end over the engine's tables — the packaging of the
  * reference's third entry point (SURVEY.md §3.3): wiki dashboards whose
  * graphs run SQL against the provisioned file view
  * (`copy_from_template.py:14-16, 343-356`). The reference binds the
  * query's table reference via `entityMap = {"source_table": view_id}`;
  * here the binding is temp-view registration of a dataset under its
  * bare table name, and execution is Spark's own SQL front-end —
  * SURVEY §3.4's "no SQL parser of our own" stands: parse, analysis,
  * optimization and execution are all Catalyst, so a SQL dashboard query
  * and its DataFrame twin compile to the same physical plan.
  *
  * Scale: registration is metadata-only (no scan); each view is the
  * explicit-schema parquet reader, so pushdown/pruning reach the files
  * exactly as in the DataFrame API.
  */
object SqlFrontEnd {

  /** Every TESTDATA dataset under its bare name (the driver's DuckDB
    * oracle uses the same names — one SQL text can run on both engines). */
  val tableNames: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  private def load(spark: SparkSession, dir: String, name: String): DataFrame =
    name match {
      case "region"     => Tables.region(spark, dir)
      case "nation"     => Tables.nation(spark, dir)
      case "customer"   => Tables.customer(spark, dir)
      case "supplier"   => Tables.supplier(spark, dir)
      case "part"       => Tables.part(spark, dir)
      case "orders"     => Tables.orders(spark, dir)
      case "lineitem"   => Tables.lineitem(spark, dir)
      case "events"     => Tables.events(spark, dir)
      case "documents"  => Tables.documents(spark, dir)
      case "embeddings" => Tables.embeddings(spark, dir)
    }

  /** A table name as an identifier token: case-insensitive, with no
    * identifier character (`[A-Za-z0-9_]`) on either side. */
  private val tokens: Seq[(String, Regex)] = tableNames.map(n =>
    n -> s"(?i)(?<![A-Za-z0-9_])$n(?![A-Za-z0-9_])".r)

  /** The tables whose names occur in `sql` as identifier tokens. The scan
    * over-approximates: a name inside a string literal or a comment is
    * bound needlessly, but a referenced table — in a CTE, a subquery,
    * backticks, any case — is never missed. */
  private[graft] def referencedTables(sql: String): Seq[String] =
    tokens.collect { case (n, re) if re.findFirstIn(sql).isDefined => n }

  /** Serializes the bind → analyze → drop window of [[run]]: every call
    * binds and drops the same view names, so an unserialized call could
    * drop a view that a concurrent call has bound but not yet analyzed,
    * or rebind it to another directory. */
  private val bindLock = new Object

  /** Bind the [[referencedTables]] of `sql` for `dir` as temp views, run
    * `sql`, then DROP every [[tableNames]] view: the binding is scoped to
    * the call. The per-call rebinding mirrors the reference's per-study
    * entityMap substitution (the same query text targets whichever
    * dataset directory is passed), and `dir` needs only the tables the
    * text names. Dropping afterwards keeps bare names like `lineitem` from
    * silently resolving to a stale directory in later, unrelated
    * `spark.sql` text in the same session (a wrong-data trap in multi-SF
    * runs). `spark.sql` analyzes eagerly, so the returned DataFrame stays
    * valid after the drop. Safe for concurrent calls on one session: the
    * tables load outside the lock, and binding, analysis and the drop run
    * under it. */
  def run(spark: SparkSession, dir: String, sql: String): DataFrame = {
    val tables = referencedTables(sql).map(n => n -> load(spark, dir, n))
    bindLock.synchronized {
      try {
        tables.foreach { case (n, df) => df.createOrReplaceTempView(n) }
        spark.sql(sql)
      } finally tableNames.foreach(spark.catalog.dropTempView(_))
    }
  }
}
