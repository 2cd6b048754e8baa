package graft

import graft.tools.DumpPlans
import java.nio.file.{Files, Paths}

class DumpPlansSpec extends SparkSpec {
  import spark.implicits._

  /** The tables q1_agg, q_topk and q_topk_freq read, a few rows each:
    * plans only need the schema, so the spec runs without the parquet
    * fixtures. */
  private lazy val sf: String = {
    val dir = tempDir("dumpplans-sf")
    Seq(("A", "F", 17.0, 21168.23, 0.04, 0.02), ("N", "O", 36.0, 45983.16, 0.09, 0.06))
      .toDF("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax")
      .write.parquet(s"$dir/lineitem.parquet")
    Seq((1L, 370L, 172799.49), (2L, 781L, 38426.09))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    Seq("click", "view").toDF("event_type").write.parquet(s"$dir/events.parquet")
    dir
  }

  test("dump writes one <query>_<suffix>.txt per query with the formatted plan") {
    val dir = Paths.get(tempDir("dumpplans"))
    val written = DumpPlans.dump(spark, sf, dir.toString, "after", Seq("q1_agg", "q_topk"))
    assert(written.map(_.getFileName.toString) ==
      Seq("q1_agg_after.txt", "q_topk_after.txt"))
    assert(Files.list(dir).count() == 2)
    written.foreach { p =>
      val txt = Files.readString(p)
      assert(txt.nonEmpty, s"$p is empty")
      assert(txt.contains("Physical Plan"), s"$p has no Physical Plan section")
    }
  }

  test("a plan that runs a graft Aggregator names it without an identity hash") {
    val dir = Paths.get(tempDir("dumpplans"))
    val Seq(p) = DumpPlans.dump(spark, sf, dir.toString, "after", Seq("q_topk_freq"))
    val txt = Files.readString(p)
    val hashed = raw"graft\.functions\.\w+@[0-9a-f]+".r.findAllIn(txt).toSeq
    assert(hashed.isEmpty, s"identity hashes in the plan: ${hashed.distinct}")
    assert(txt.contains("TopK(3, 64)"), "the aggregator is in the plan")
  }

  test("an unknown query name fails before anything is written") {
    val dir = Paths.get(tempDir("dumpplans"), "out")
    val e = intercept[IllegalArgumentException] {
      DumpPlans.dump(spark, sf, dir.toString, "after", Seq("q1_agg", "q_no_such_query"))
    }
    assert(e.getMessage.contains("q_no_such_query"))
    assert(!Files.exists(dir))
  }
}
