package graft

import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.DatasetBridge

/** [[DatasetBridge.declareHashPartitioning]] binds each key to exactly one
  * output column or fails. */
class DatasetBridgeSpec extends SparkTestBase {

  private def cut(cols: String*) =
    spark.range(0, 100, 1, 4).repartition(4, col("id"))
      .select(cols.map(c => col("id").as(c)): _*).localCheckpoint(true)

  test("a unique key name is declared as the hash partitioning") {
    val df = DatasetBridge.declareHashPartitioning(cut("k", "v"), Seq("k"))
    df.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        assert(lr.outputPartitioning match {
          case HashPartitioning(Seq(a: org.apache.spark.sql.catalyst.expressions.Attribute), 4) =>
            a.name == "k"
          case _ => false
        }, lr.outputPartitioning)
      case other => fail(s"expected a LogicalRDD, got ${other.getClass.getSimpleName}")
    }
  }

  test("a key name matching two columns, or none, fails") {
    val dup = intercept[IllegalArgumentException](
      DatasetBridge.declareHashPartitioning(cut("k", "k"), Seq("k")))
    assert(dup.getMessage.contains("matches 2 columns"), dup.getMessage)
    val missing = intercept[IllegalArgumentException](
      DatasetBridge.declareHashPartitioning(cut("k", "v"), Seq("w")))
    assert(missing.getMessage.contains("matches 0 columns"), missing.getMessage)
  }
}
