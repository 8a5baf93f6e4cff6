package graft

import java.nio.file.{Files, Paths}

/** [[SqlFrontEnd.run]] binds exactly the tables its text names as
  * identifier tokens, wherever they appear, and leaves no view behind. */
class SqlFrontEndSpec extends SparkTestBase {

  private def graftViews: Seq[String] =
    spark.catalog.listTables().collect().toSeq
      .filter(t => t.isTemporary && SqlFrontEnd.tableNames.contains(t.name)).map(_.name)

  private def count(sql: String, dir: String = sf): Long =
    SqlFrontEnd.run(spark, dir, sql).collect().head.getLong(0)

  test("token scan: case-insensitive, whole identifiers only, over-approximating") {
    assert(SqlFrontEnd.referencedTables("select * from ORDERS o join LineItem l") ==
      Seq("orders", "lineitem"))
    assert(SqlFrontEnd.referencedTables("select * from `nation`, region") == Seq("region", "nation"))
    // an identifier character on either side makes it another name
    assert(SqlFrontEnd.referencedTables("select orders_x, xorders, orders2 from parts") == Nil)
    // a name inside a string literal is bound needlessly, never missed
    assert(SqlFrontEnd.referencedTables("select 'events' as s") == Seq("events"))
  }

  test("a table named only inside a CTE, a scalar subquery, backticks or mixed case is bound") {
    assert(count("WITH o AS (SELECT * FROM orders) SELECT count(*) FROM o") ==
      Tables.orders(spark, sf).count())
    assert(count("SELECT (SELECT count(*) FROM nation) AS n") == Tables.nation(spark, sf).count())
    assert(count("SELECT count(*) FROM `region`") == Tables.region(spark, sf).count())
    assert(count("SELECT count(*) FROM SuPpLiEr") == Tables.supplier(spark, sf).count())
    assert(graftViews.isEmpty)
  }

  test("a directory holding only the named table answers its text") {
    val dir = Files.createTempDirectory("sqlfe-orders")
    Files.copy(Paths.get(sf, "orders.parquet"), dir.resolve("orders.parquet"))
    assert(count("SELECT count(*) FROM orders WHERE o_totalprice > 0", dir.toString) ==
      Tables.orders(spark, sf).where("o_totalprice > 0").count())
    assert(graftViews.isEmpty)
  }

  test("no graft view survives a call, whether it succeeds or fails") {
    SqlFrontEnd.run(spark, sf, "SELECT count(*) FROM orders JOIN customer ON o_custkey = c_custkey")
      .collect()
    assert(graftViews.isEmpty)
    intercept[Exception](SqlFrontEnd.run(spark, sf, "SELECT no_such_column FROM lineitem"))
    assert(graftViews.isEmpty)
    // a table missing from the directory fails loudly, and the views bound
    // before it are dropped too
    val dir = Files.createTempDirectory("sqlfe-partial")
    Files.copy(Paths.get(sf, "orders.parquet"), dir.resolve("orders.parquet"))
    intercept[Exception](SqlFrontEnd.run(spark, dir.toString, "SELECT * FROM orders, part"))
    assert(graftViews.isEmpty)
  }
}
