package graft

import graft.obs.EngineListener

/** Dev tool: run one declared query and print every Spark job it
  * submits — description/call site, wall, stage/task counts — so a
  * "24 jobs for one probe" bench entry can be attributed to specific
  * actions (guide §1.5: label your jobs). Not part of the bench or
  * oracle surface.
  *
  * Usage: tools/run.sh graft.JobTrace <query> [runs]
  */
object JobTrace {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: JobTrace <query> [runs]"))
    val runs = args.lift(1).map(_.toInt).getOrElse(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build()
    graft.operators.StageCache.enableDefault()
    val metrics = EngineListener.attach(spark)

    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query: $name"))
    (1 to runs).foreach { r =>
      metrics.drainJobs()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      // force analysis + optimization + physical planning (AQE root)
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      val n = df.count()
      val t3 = System.nanoTime()
      val jobs = metrics.drainJobs()
      println(f"== run $r: $name rows=$n wall=${(t3 - t0) / 1e9}%.3f s jobs=${jobs.size} " +
        f"construct=${(t1 - t0) / 1e9}%.3f plan=${(t2 - t1) / 1e9}%.3f exec=${(t3 - t2) / 1e9}%.3f")
      jobs.foreach { j =>
        println(f"  job ${j.id}%4d ${j.ms}%8d ms stages=${j.stages}%2d tasks=${j.tasks}%4d  ${j.site.take(50)}%-50s ${j.description.take(80)}")
      }
    }
    spark.stop()
  }
}
