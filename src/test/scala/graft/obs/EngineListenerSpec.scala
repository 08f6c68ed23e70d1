package graft.obs

import org.scalatest.funsuite.AnyFunSuite

class EngineListenerSpec extends AnyFunSuite with graft.SparkFixture {
  import EngineListener.Fields

  test("records are as wide as the field list; shuffle bytes and jobs grow over a shuffle") {
    val l = EngineListener.attach(spark)
    try {
      l.drainJobs()
      val m0 = l.snapshot()
      assert(m0.length == Fields.size)
      spark.range(0, 20000, 1, 4).selectExpr("id % 97 AS k").groupBy("k").count().collect()
      val d = EngineListener.delta(l.snapshot(), m0)
      val jobs = l.drainJobs()
      assert(d.length == Fields.size)
      assert(EngineListener.formatted(d).length == Fields.size)
      assert(EngineListener.zero.length == Fields.size)
      assert(d(Fields.indexOf("shuffle_write_mb")) > 0L, d.mkString(","))
      assert(d(Fields.indexOf("shuffle_read_mb")) > 0L, d.mkString(","))
      assert(jobs.nonEmpty && jobs.forall(j => j.stages > 0 && j.tasks > 0), jobs)
      assert(l.drainJobs().isEmpty, "drained jobs are not reported twice")
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
