package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one session factory: its conf, the shared test session built from
  * it, and the env knobs that size the mains' sessions and runs. */
class GraftSessionSpec extends AnyFunSuite with SparkFixture {

  test("conf carries the extensions, UTC, the codegen cache and one shuffle partition per core") {
    val c = GraftSession.conf(7).toMap
    assert(c("spark.master") == "local[7]")
    assert(c("spark.sql.shuffle.partitions") == "7")
    assert(c("spark.sql.session.timeZone") == "UTC")
    assert(c("spark.sql.extensions") == "graft.GraftExtensions")
    assert(c("spark.sql.codegen.cache.maxEntries") == "5000")
    assert(c("spark.ui.enabled") == "false")
  }

  test("the shared test session is the factory's session for 4 cores") {
    val built = spark.sparkContext.getConf
    GraftSession.conf(4).foreach { case (k, v) => assert(built.get(k) == v, k) }
    // static SQL confs cannot be changed after the session starts, so the
    // session's own view must match what it was built with
    assert(spark.conf.get("spark.sql.extensions") == "graft.GraftExtensions")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "5000")
  }

  test("SPARK_GRAFT_CPUS and SPARK_GRAFT_RUNS take positive integers and name a bad value") {
    assert(GraftSession.cores(Map.empty) == Runtime.getRuntime.availableProcessors())
    assert(GraftSession.cores(Map("SPARK_GRAFT_CPUS" -> "3")) == 3)
    assert(Bench.runs(Map.empty) == 2)
    assert(Bench.runs(Map("SPARK_GRAFT_RUNS" -> " 5 ")) == 5)
    val readers = Seq[(String, Map[String, String] => Int)](
      "SPARK_GRAFT_CPUS" -> (env => GraftSession.cores(env)),
      "SPARK_GRAFT_RUNS" -> (env => Bench.runs(env)))
    for ((name, read) <- readers; bad <- Seq("", "0", "-2", "four", "4 cores", "2.5", "99999999999")) {
      val e = intercept[IllegalArgumentException](read(Map(name -> bad)))
      assert(e.getMessage.contains(name) && e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }
}
