package graft

/** Dev tool: write declared queries' `.explain("formatted")` to files —
  * the optimization rounds' before/after plan evidence
  * (`plans/rNN/<query>_{before,after}.txt`). With no query names it
  * dumps every declared query, in declaration order. A query whose plan
  * cannot be built is reported on stderr, leaves no file, and the rest
  * are still dumped.
  * Not part of the bench or oracle surface.
  *
  * Usage: tools/run.sh graft.PlanDump <outDir> <suffix> [query...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <suffix> [query...]")
    val outDir = args(0)
    val suffix = args(1)
    val names = if (args.length > 2) args.drop(2).toSeq else SparkEntry.allDefs.map(_.name)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build()
    graft.operators.StageCache.enableDefault()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query: $name"))
      val file = java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt")
      java.nio.file.Files.deleteIfExists(file)
      try {
        val p = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(file, p.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"wrote $file (${p.length} chars)")
      } catch { case e: Exception =>
        System.err.println(s"[plandump] $name failed: $e")
      }
    }
    spark.stop()
  }
}
