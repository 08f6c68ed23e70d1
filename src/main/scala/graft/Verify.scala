package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json for the DuckDB oracle compare, and verify_errors.json
  * (query → error) for the queries that failed. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // gate main: staged artifacts may be served from / written to the
    // cross-invocation StageCache (keyed by dataset + code fingerprint,
    // so a stale hit is impossible by construction)
    graft.operators.StageCache.enableDefault()
    val spark = GraftSession.build()
    // optional dev filter: SPARK_GRAFT_ONLY=name1,name2 (driver never sets it)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val failures = dump(spark, sfDir, outDir,
      SparkEntry.queries.filter { case (name, _) => only.forall(_.contains(name)) })
    writeJson(s"$outDir/verify_errors.json", failures)
    writeJson(s"$outDir/oracle_sql.json", SparkEntry.oracleSql)
    spark.stop()
  }

  /** Writes each query's result to `<outDir>/<name>` and returns the
    * failed ones, query → error. Each key's dir is deleted before its
    * query is built, so a query that throws leaves no output, never the
    * previous run's parquet for the oracle to compare. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           queries: Iterable[(String, (SparkSession, String) => DataFrame)]): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    queries.flatMap { case (name, fn) =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(outDir, name))
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> e.toString)
      }
    }.toMap
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in an oracle query would otherwise make a strict JSON
  // reader (Python's json.load) reject the file and skip every compare.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def writeJson(path: String, m: Map[String, String]): Unit = {
    Files.writeString(Paths.get(path),
      m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    ()
  }
}
