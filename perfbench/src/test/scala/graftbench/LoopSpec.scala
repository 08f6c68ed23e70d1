package graftbench

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}

class LoopSpec extends AnyFunSuite {

  private def withEnv(body: (Env, Path) => Unit): Unit = {
    val dir = Files.createTempDirectory("perfbench_loop")
    // Spark's own shutdown can recreate its local dir under `dir`
    sys.addShutdownHook(Bench.deleteTree(dir))
    val env = Bench.newEnv(dir)
    try body(env, dir)
    finally {
      env.spark.stop()
      Bench.deleteTree(dir)
    }
  }

  /** Two backlog waves of two chunks per partition, drained one trigger
    * (one chunk per partition) at a time, then the graph build and checks. */
  private def twoWaves(env: Env, ledger: Ledger, runDir: Path): (IngestRun, GraphResult) = {
    val clock = new Clock
    val run = new IngestRun(env, runDir, new Gen(Bench.traffic, 1L), traced = true,
      clock, new Tracer("t", enabled = false, clock), ledger)
    run.start(Some(Bench.Partitions))
    for (w <- 1 to 2) {
      run.publishBacklog(stream = w, chunks = 2 * Bench.Partitions, recs = 200)
      run.drain()
    }
    run.stop()
    (run, run.finish(reads = 1))
  }

  test("a clean run passes every check against the generator's truth") {
    withEnv { (env, dir) =>
      val ledger = new Ledger
      val (run, g) = twoWaves(env, ledger, dir.resolve("ok"))
      assert(ledger.failed == 0, ledger.failures.mkString("; "))
      val bs = run.loop.batches.toSeq
      // one chunk per partition per trigger
      assert(bs.size == 4)
      assert(bs.map(_.records).sum == 2 * 2 * Bench.Partitions * 200)
      assert(bs.forall(b => b.traced && b.decodeUs > 0))
      // batches + start, two drains, stop + graph build + four checks
      assert(ledger.attempted == bs.size + 4 + 1 + 4)
      assert(g.nObjects > 0 && g.nEdges > 0)
    }
  }

  test("a failed batch is counted, never dropped") {
    withEnv { (env, dir) =>
      val ledger = new Ledger
      val runDir = Files.createDirectories(dir.resolve("broken"))
      // the sink table path is a plain file, so every merge fails
      Files.write(runDir.resolve("sink"), "not a table".getBytes)
      val (run, _) = twoWaves(env, ledger, runDir)
      val bs = run.loop.batches.toSeq
      assert(bs.nonEmpty && bs.forall(_.failed))
      assert(ledger.failures.count(_.startsWith("batch ")) == bs.size)
      // the checks on the graph those batches never built fail too
      assert(ledger.failures.exists(_.contains("edge multiset")))
      assert(ledger.failed > bs.size && ledger.failed <= ledger.attempted)
    }
  }
}
