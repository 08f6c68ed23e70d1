package graftbench

import graft.QueryDef
import org.apache.spark.sql.functions.{col, concat, lit}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class QueryMixSpec extends AnyFunSuite {

  test("the sample takes every module; the pass interleaves the modules and depends only on the seed") {
    val s = QueryMix.sample
    assert(s.map(_._1).distinct == QueryMix.Modules)
    assert(s.map(_._2.name).distinct.size == s.size)
    val pass = (seed: Long) => QueryMix.ordered(seed)
    val names = (seed: Long) => pass(seed).map(_._2.name)
    assert(names(3L) == names(3L))
    assert((1L to 5L).map(names).distinct.size > 1)
    assert(names(3L).sorted == s.map(_._2.name).sorted)
    // the modules' places in the pass do not depend on the seed, and each
    // module's queries are spread over it: the graph module has one query
    // in each sixth of the pass
    assert((1L to 5L).map(k => pass(k).map(_._1)).distinct.size == 1)
    val graphAt = pass(3L).zipWithIndex.collect { case ((m, _), i) if m == "graph" => i * 6 / s.size }
    assert(graphAt == (0 until 6))
    // a rotation keeps each element's predecessor
    val r = QueryMix.rotated(1 to 7, 3L, 0L)
    assert(r.sorted == (1 to 7))
    val at = r.indexOf(2)
    assert(at == 0 || r(at - 1) == 1)
  }

  test("fingerprints ignore row order and read every column; failed queries are counted") {
    val dir = Files.createTempDirectory("perfbench_qmix")
    sys.addShutdownHook(Bench.deleteTree(dir))
    val spark = Bench.newSession(dir)
    try {
      import spark.implicits._
      val df = Seq((1L, "a", 0.1 + 0.2), (2L, "b", 1.5), (3L, "c", -2.0)).toDF("id", "s", "x")
      val fp = QueryMix.fingerprint(df)
      assert(fp.rows == 3)
      assert(QueryMix.fingerprint(df.orderBy(col("id").desc).repartition(3)) == fp)
      // floating columns count at 10 significant digits
      val near = Seq((1L, "a", 0.3), (2L, "b", 1.5), (3L, "c", -2.0)).toDF("id", "s", "x")
      assert(QueryMix.fingerprint(near) == fp)
      // a change in any column moves the fingerprint
      assert(QueryMix.fingerprint(df.withColumn("s", concat(col("s"), lit("!")))) != fp)
      assert(QueryMix.fingerprint(df.withColumn("x", col("x") * 2)) != fp)

      val clock = new Clock
      val ledger = new Ledger
      val tracer = new Tracer("t", enabled = false, clock)
      val ref = Map("good" -> (3L, Some(fp.hash)), "wrong" -> (3L, Some(fp.hash + 1)))
      val good = QueryDef("good", (_, _) => df, None)
      val wrong = QueryDef("wrong", (_, _) => df, None)
      val broken = QueryDef("broken", (_, _) => throw new IllegalStateException("boom"), None)
      val runs = Seq(good, wrong, broken).map(d => QueryMix.runOne(spark, "", "m", d, clock, tracer, ledger, ref))
      assert(runs.map(_.failed) == Seq(false, false, true))
      assert(runs.forall(_.endUs >= runs.head.startUs))
      // three queries, two row checks, two fingerprint checks
      assert(ledger.attempted == 3 + 2 + 2)
      assert(ledger.failed == 2)
      assert(ledger.failures.exists(_.startsWith("query broken")))
      assert(ledger.failures.exists(_.startsWith("wrong: fingerprint")))
    } finally {
      spark.stop()
      Bench.deleteTree(dir)
    }
  }
}
