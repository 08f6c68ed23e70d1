package graftbench

import graft.{QueryDef, SparkEntry}
import graft.benchstage.Staging
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.{Callable, Executors}
import scala.jdk.CollectionConverters._

/** One query execution: its module, wall span on the benchmark clock and
  * whether it failed. */
final case class QueryRun(name: String, module: String, startUs: Long, endUs: Long, failed: Boolean) {
  def ms: Double = (endUs - startUs) / 1e3
}

/** Row count and order-independent fingerprint of a query result. */
final case class Fingerprint(rows: Long, hash: BigDecimal)

/** The batch query suite: graft's declared queries over the benchmark's
  * sf0.01 tables, after the staged builds `graft.Bench` runs, each query
  * executed once, cold, by one client. */
object QueryMix {
  /** Short names of `SparkEntry.modules`, in its order. */
  val Modules: Seq[String] = Seq("avro", "relational", "graph", "text", "dedup", "similarity",
    "multimodal", "pipeline")
  /** Every `Stride`-th query of each module is in the sample. */
  val Stride = 4

  def defsByModule: Seq[(String, Seq[QueryDef])] = {
    val ms = SparkEntry.modules
    require(ms.size == Modules.size, s"graft declares ${ms.size} query modules, not ${Modules.size}")
    Modules.zip(ms.map(_.defs))
  }

  /** The fixed sample: each module's queries 0, Stride, 2 Stride, ... in
    * declaration order, so every module is in it. */
  def sample: Seq[(String, QueryDef)] =
    defsByModule.flatMap { case (m, ds) =>
      ds.zipWithIndex.collect { case (d, i) if i % Stride == 0 => (m, d) }
    }

  /** The pass: each module's sampled queries rotated to start at a
    * seed-chosen one, and the modules interleaved so that each module's
    * queries are spread evenly over the pass (module `m`'s `i`-th of `n`
    * queries sits at `(i + 1/2) / n` of it). Which queries run before a
    * query decides what it finds already loaded, compiled and cached, and
    * a slow stretch of the host slows the queries it overlaps. Run as
    * blocks, a module's time depended on where its block fell (on a 4-core
    * VM rotating the whole pass spread the graph module's time to an IQR
    * over median of 0.30 over ten seeds), and a shuffle moved the median
    * query time by up to 17 % between seeds. */
  def ordered(seed: Long): Seq[(String, QueryDef)] =
    Modules.zipWithIndex.flatMap { case (m, j) =>
      val qs = rotated(sample.filter(_._1 == m), seed, j.toLong)
      qs.zipWithIndex.map { case (q, i) => ((i + 0.5) / qs.size, j, q) }
    }.sortBy(k => (k._1, k._2)).map(_._3)

  /** `xs` rotated to start at an element chosen by `seed` and `salt`. */
  def rotated[T](xs: Seq[T], seed: Long, salt: Long): Seq[T] =
    if (xs.isEmpty) xs
    else {
      val k = java.lang.Math.floorMod(Gen.mix(seed, 0x51L, salt), xs.size.toLong).toInt
      xs.drop(k) ++ xs.take(k)
    }

  /** One action that reads every output column, so Catalyst can prune
    * none: the row count and the exact sum of each row's xxhash64.
    * Floating columns are hashed at 10 significant digits, so the low
    * bits a summation order leaves do not count. */
  def fingerprint(df: DataFrame): Fingerprint = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      f.dataType match {
        case DoubleType | FloatType => format_string("%.9e", c)
        case _ => c
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.agg(count(lit(1)), sum(h.cast(DecimalType(20, 0)))).head()
    Fingerprint(r.getLong(0), if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
  }

  // ---- reference values ------------------------------------------------

  /** `<data dir>.reference.tsv`: name, rows, fingerprint (`-` where only
    * the row count is checked). */
  def referencePath(dataDir: Path): Path = dataDir.resolveSibling(s"${dataDir.getFileName}.reference.tsv")

  def readReference(p: Path): Map[String, (Long, Option[BigDecimal])] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(name, rows, fp) = l.split("\t")
      name -> (rows.toLong, if (fp == "-") None else Some(BigDecimal(fp)))
    }.toMap

  /** Runs the staging and then every declared query once, in declaration
    * order, and writes each result's row count and fingerprint. Queries
    * without oracle SQL (graft's rows-only keys) keep the row count only.
    * When `file` already exists, a fingerprint that differs from the one
    * recorded there is replaced by `-`; run it twice. */
  def recordReference(dataDir: Path, workDir: Path, file: Path): String = {
    val spark = Bench.newSession(workDir)
    val ledger = new Ledger
    val clock = new Clock
    stage(spark, dataDir.toString, new Tracer("reference", enabled = false, clock), clock, ledger)
    val before = readReference(file)
    val lines = defsByModule.flatMap(_._2).map { d =>
      val fp = ledger.attempt(d.name)(fingerprint(d.fn(spark, dataDir.toString)))
        .getOrElse(throw new IllegalStateException(s"${d.name} failed: ${ledger.failures.last}"))
      val keep = d.oracle.isDefined && before.get(d.name).forall(_._2.contains(fp.hash))
      before.get(d.name).foreach { case (rows, _) =>
        require(rows == fp.rows, s"${d.name}: ${fp.rows} rows, ${rows} before")
      }
      if (d.oracle.isDefined && !keep) println(s"${d.name}: fingerprint differs between recordings")
      s"${d.name}\t${fp.rows}\t${if (keep) fp.hash.toString else "-"}"
    }
    spark.stop()
    Files.write(file, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    s"""{"queries":${lines.size},"rows_only":${lines.count(_.endsWith("\t-"))}}"""
  }

  // ---- staging -----------------------------------------------------------

  /** Bench's staged builds, its chains run concurrently; each tier's own
    * span in seconds (spans overlap). A tier that throws is counted. */
  def stage(spark: SparkSession, dir: String, tracer: Tracer, clock: Clock,
            ledger: Ledger): Map[String, Double] = {
    val chains = Staging.chains(spark, dir)
    val parent = tracer.currentId
    val pool = Executors.newFixedThreadPool(chains.size)
    try {
      chains.map { chain =>
        pool.submit(new Callable[Seq[(String, Double)]] {
          def call(): Seq[(String, Double)] = tracer.within(parent) {
            chain.map { case (name, body) =>
              val t0 = clock.nowUs
              tracer.span(s"stage.$name")(ledger.attempt(s"stage $name")(body()))
              name -> (clock.nowUs - t0) / 1e6
            }
          }
        })
      }.flatMap(_.get()).toMap
    } finally pool.shutdown()
  }

  // ---- the workload ------------------------------------------------------

  def run(o: Opts): String = {
    val clock = new Clock
    val tracer = new Tracer(s"${o.workload}-${o.seed}", o.trace, clock)
    val ledger = new Ledger
    val m = new Metrics
    val dir = o.dataDir.toString
    val reference = readReference(referencePath(o.dataDir))

    val mainUs = clock.nowUs
    var stageWallS = 0.0
    var sessionUs = mainUs
    val (spark, tierS) = tracer.span("setup") {
      val s = tracer.span("setup.session")(Bench.newSession(o.workDir))
      val t0 = clock.nowUs
      sessionUs = t0
      val tiers = stage(s, dir, tracer, clock, ledger)
      stageWallS = (clock.nowUs - t0) / 1e6
      (s, tiers)
    }
    val setupEnd = clock.nowUs
    m.put("setup_s", (setupEnd - Bench.jvmStartUs) / 1e6, "s")
    // a hit could only come from an earlier run's cache entries
    val (hits, misses) = Staging.cacheEvents()
    ledger.check("stage.cache_hits == 0", hits == 0, s"$hits hits: the run's StageCache root was not empty")
    val stagedBytes = sys.env.get("GRAFT_STAGE_CACHE").fold(0L)(r => Bench.dirBytes(java.nio.file.Paths.get(r)))
    val inputRows = parquetRows(o.dataDir)

    val probes = new Probes(spark, o.trace)
    val cpu0 = Bench.hostCpu
    // one cold pass over the sample
    val passStart = clock.nowUs
    val runs = ordered(o.seed).map { case (module, d) =>
      runOne(spark, dir, module, d, clock, tracer, ledger, reference)
    }
    val steal = Bench.stealPct(cpu0, Bench.hostCpu)

    val ms = runs.map(_.ms)
    val suiteS = ms.sum / 1e3
    val tail = Stats.tail(ms.toArray)
    val graphS = runs.filter(_.module == "graph").map(_.ms).sum / 1e3
    m.put("rate_per_s", runs.size / math.max(suiteS, 1e-6), "1/s")
    m.put("p50_ms", Stats.median(ms), "ms")
    m.put("tail_ms", tail.value, "ms")
    m.put("graph_s", graphS, "s")
    m.put("stored_bytes_per_rec", stagedBytes.toDouble / math.max(inputRows, 1L), "B")
    m.put("rss_peak_mb", Bench.rssPeakMb, "MB")
    println(f"query_p50_ms ${Stats.median(ms)}%.1f, query_tail_ms ${tail.value}%.1f " +
      f"(p${tail.percentile}%s over ${tail.samples}%d queries), suite_s $suiteS%.2f, " +
      f"staging ${stageWallS}%.2f s, ${runs.size}%d queries, pass wall ${(clock.nowUs - passStart) / 1e6}%.2f s")
    runs.sortBy(-_.ms).take(5).foreach(r => println(f"  slowest: ${r.name} ${r.ms}%.0f ms"))

    m.put("stage.wall_s", stageWallS, "s")
    Staging.Tiers.foreach(t => m.put(s"stage.${t}_s", tierS.getOrElse(t, 0.0), "s"))
    m.put("stage.cache_hits", hits.toDouble, "count")
    m.put("stage.cache_misses", misses.toDouble, "count")
    Modules.foreach { mod =>
      val xs = runs.filter(_.module == mod).map(_.ms)
      m.put(s"q.${mod}_s", xs.sum / 1e3, "s")
      m.put(s"q.${mod}_p50_ms", Stats.median(xs), "ms")
    }
    m.put("q.count", runs.size.toDouble, "count")
    m.put("host.steal_pct", steal, "pct")
    m.put("setup.jvm_s", (mainUs - Bench.jvmStartUs) / 1e6, "s")
    m.put("setup.session_s", (sessionUs - mainUs) / 1e6, "s")
    m.put("fresh.tail_pctl", tail.percentile, "pct")
    m.put("fresh.samples", tail.samples.toDouble, "count")

    probes.stop()
    probes.put(m, runs.map(r => (r.startUs / 1000L, r.endUs / 1000L)))
    m.put("fail_ratio", ledger.failed.toDouble / math.max(ledger.attempted, 1L), "ratio")
    if (o.trace) {
      tracer.record("measure", runs.head.startUs, runs.last.endUs, -1)
      probes.record(tracer)
      tracer.write(o.outDir.resolve(s"trace-${o.workload}-seed${o.seed}.jsonl"))
    }
    Bench.finish(m, ledger)
  }

  /** Rows of every parquet file in `dir`, from the footers. */
  def parquetRows(dir: Path): Long = {
    val files = Files.list(dir)
    try files.iterator.asScala.filter(_.toString.endsWith(".parquet")).map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(new org.apache.parquet.io.LocalInputFile(f))
      try r.getRecordCount finally r.close()
    }.sum
    finally files.close()
  }

  /** One timed execution. A query that throws keeps its time and counts
    * as failed; one that returns is checked against the reference. */
  def runOne(spark: SparkSession, dir: String, module: String, d: QueryDef, clock: Clock,
             tracer: Tracer, ledger: Ledger,
             reference: Map[String, (Long, Option[BigDecimal])]): QueryRun = {
    val t0 = clock.nowUs
    val fp = tracer.span(s"query.${d.name}") {
      ledger.attempt(s"query ${d.name}")(fingerprint(d.fn(spark, dir)))
    }
    val r = QueryRun(d.name, module, t0, clock.nowUs, failed = fp.isEmpty)
    fp.foreach(check(ledger, reference, d.name, _))
    r
  }

  /** Row count, and the fingerprint where one is recorded, against the
    * reference; a query with no reference fails. */
  def check(ledger: Ledger, reference: Map[String, (Long, Option[BigDecimal])], name: String,
            fp: Fingerprint): Unit =
    reference.get(name) match {
      case None => ledger.check(s"$name: reference", ok = false, "no reference value")
      case Some((rows, hash)) =>
        ledger.check(s"$name: rows", fp.rows == rows, s"got ${fp.rows}, reference $rows")
        hash.foreach(h => ledger.check(s"$name: fingerprint", fp.hash == h, s"got ${fp.hash}, reference $h"))
    }
}
