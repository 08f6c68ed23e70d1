package graft

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

class VerifySpec extends AnyFunSuite with SparkFixture {

  test("a query that throws leaves no stale output behind and is reported as failed") {
    val out = java.nio.file.Files.createTempDirectory("graft_verify").toFile
    try {
      // a previous run's results for both keys
      spark.range(3).write.parquet(s"$out/broken")
      spark.range(3).write.parquet(s"$out/fine")
      val queries = Seq[(String, (SparkSession, String) => DataFrame)](
        "broken" -> ((_, _) => throw new IllegalStateException("boom")),
        "fine" -> ((s, _) => s.range(5).toDF()))
      val failures = Verify.dump(spark, "unused", out.toString, queries)
      assert(!new File(out, "broken").exists(), "stale parquet survived a failed query")
      assert(failures.keySet == Set("broken"))
      assert(failures("broken").contains("boom"))
      assert(spark.read.parquet(s"$out/fine").count() == 5L)
    } finally FileUtils.deleteDirectory(out)
  }
}
