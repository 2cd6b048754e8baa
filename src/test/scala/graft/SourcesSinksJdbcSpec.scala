package graft

import graft.streaming.Sinks
import graft.sources.Sources
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** S4/S5 against a REAL JDBC database — embedded Derby (in Spark's
  * jar set), standing in for the ClickHouse-over-JDBC deployment. The
  * sink is the headline architecture change vs the reference (batched
  * micro-batch inserts instead of one HTTP POST per row) — this spec
  * proves the actual JDBC write/read round-trip, not just the plan.
  */
class SourcesSinksJdbcSpec extends SparkSpec {
  import spark.implicits._

  private val url = "jdbc:derby:memory:graftdb;create=true"

  test("S5: foreachBatch jdbcAppend lands micro-batches in the database, invalid rows filtered") {
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(java.lang.Long, java.lang.Long, String)]
    val rows = in.toDF().toDF("id", "_lsn", "name")
    val ckpt = tempDir("jdbc-ckpt")
    val w = Sinks.append(rows, ckpt, Sinks.Jdbc(url, "users_cur", batchSize = 100))
    in.addData((1L, 10L, "a"), (2L, 20L, "b"), (null, 30L, "bad-id"))
    drain(w)
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "users_cur").load()
    assert(back.count() === 2)
    assert(back.select("name").as[String].collect().toSet === Set("a", "b"))
  }

  test("S4: partitioned JDBC scan reads back in parallel slices") {
    val df = Sources.jdbcTableUrl(spark, url, "users_cur",
      partitionColumn = Some("id"), numPartitions = 2,
      lowerBound = 0L, upperBound = 10L)
    assert(df.rdd.getNumPartitions === 2)
    assert(df.orderBy(col("id")).select("id").as[Long].collect().toSeq === Seq(1L, 2L))
  }
}
