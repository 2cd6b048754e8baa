package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSession()
    new java.io.File(outDir).mkdirs()
    // local-iteration filter: SPARK_GRAFT_ONLY=q_a,q_b dumps just those
    // queries (the driver sets no env, so its runs stay full-suite)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.filter {
      case (name, _) => only.forall(_.contains(name))
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // operator-scoped caches (LSH signature tables etc.) must not
      // accumulate across the 56-query session
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Self-limiting oracle preamble (VERDICT r19 task #1): every
    // oracle announces its own DuckDB resource bounds so a pressured
    // driver box can't OOM a 64MB-tier query (the r18/r19 q_f* flake
    // — tiny-block allocation failures under box-level pressure).
    // 512MB = 2× the registry-wide worst-case min_limit (the cluster
    // family's 256MB, ORACLE_MEMORY.md); threads=4 bounds concurrent
    // operator memory. duckdb's con.sql()/execute() both run the SET
    // statements and return the final SELECT's relation (verified on
    // the driver's duckdb 1.0). tools/oracle_mem_audit.py strips the
    // preamble so its ladder still measures the bare query.
    val preamble = "SET memory_limit='512MB'; SET threads=4; "
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(preamble + v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
