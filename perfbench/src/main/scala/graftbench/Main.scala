package graftbench

import graft.avro.SchemaRegistry
import graft.config.PipelineConfig
import org.apache.avro.Schema
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Command line: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --workdir <dir> --out <dir> --data <dir>`. Prints progress lines, then
  * one JSON object as the last line of stdout. See CONTRACT.md.
  * `--record-reference <file> --data <dir> --workdir <dir>` instead runs
  * every declared query once and writes its row count and fingerprint
  * (see [[QueryMix]]). */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val json = kv.get("record-reference") match {
      case Some(file) =>
        QueryMix.recordReference(Paths.get(need("data")), Paths.get(need("workdir")), Paths.get(file))
      case None =>
        Bench.run(Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
          need("trace") == "1", Paths.get(need("workdir")), Paths.get(need("out")),
          Paths.get(need("data"))))
    }
    println(json)
    System.out.flush()
    sys.exit(0)
  }
}

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, workDir: Path,
                      outDir: Path, dataDir: Path)

/** Session, registry and schemas: what a consumer sets up before polling. */
final case class Env(spark: SparkSession, writerSchemas: Map[Int, String], readerJson: String, framer: Framer)

object Bench {
  val Partitions = 4
  val Workloads: Seq[String] = Seq("ingest", "query_mix")

  /** The consumer's config, in the reference's YAML shape. */
  val ConfigYaml: String =
    s"""kafka:
       |  bootstrap.servers: file-log
       |  group.id: perfbench
       |type_map:
       |  spo:
       |    key_column: subject
       |    columns:
       |      - subject
       |      - predicate
       |      - object
       |""".stripMargin

  /** Each value's basis is given in CONTRACT.md ("Inputs"). */
  val traffic: Traffic = Traffic(subjects = 4500, objects = 300, subjectZipf = 0.08, objectZipf = 0.03,
    predicates = 5, badMagic = 1.0 / 97, truncated = 1.0 / 101, unknownId = 0.01, v2Share = 0.5)

  /** Catch-up shape: a wave is `BacklogChunks` chunks per partition of
    * `BacklogRecs` records, so 300k records in three 100k-record triggers;
    * the phase drains one wave per `SecondsPerWave` of `--seconds`. */
  val BacklogChunks = 3
  val BacklogRecs = 25000
  val SecondsPerWave = 6
  /** Live shape: one `LiveRecs` chunk every `LiveIntervalMs` (10k rec/s),
    * measured for half of `--seconds` after a lead-in: per-trigger code is
    * compiled by the JIT only after a few dozen triggers, and trigger time
    * falls until then. */
  val LiveIntervalMs = 250
  val LiveRecs = 2500
  val LiveLeadInMs = 5000

  /** Epoch microseconds at which this JVM started: set-up is timed from
    * there, so class loading and JIT warm-up count toward it. */
  def jvmStartUs: Long = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000L

  def run(o: Opts): String = {
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    Files.createDirectories(o.workDir)
    if (o.workload == "query_mix") return QueryMix.run(o)
    val clock = new Clock
    val tracer = new Tracer(s"${o.workload}-${o.seed}", o.trace, clock)
    val ledger = new Ledger
    val m = new Metrics

    // one cold set-up: session, config + registry, the stream started and
    // a warm-up wave applied
    val mainUs = clock.nowUs
    var sessionUs = mainUs
    val (env, run) = tracer.span("setup") {
      val e = tracer.span("setup.session")(newEnv(o.workDir))
      sessionUs = clock.nowUs
      val r = new IngestRun(e, o.workDir.resolve("ingest"), new Gen(traffic, o.seed), o.trace, clock, tracer, ledger)
      tracer.span("setup.warmup") {
        r.start(Some(Partitions))
        r.publishBacklog(stream = 0, chunks = Partitions * BacklogChunks, recs = BacklogRecs)
        r.drain()
      }
      (e, r)
    }
    val setupEnd = clock.nowUs
    m.put("setup_s", (setupEnd - jvmStartUs) / 1e6, "s")
    val spark = env.spark

    val probes = new Probes(spark, o.trace)
    val measureStart = clock.nowUs
    val cpu0 = hostCpu
    // a consumer that starts behind: it catches up on a backlog, then
    // follows live traffic
    val catchUp = tracer.span("catch_up")(Ingest.catchUp(run, math.max(2, o.seconds / SecondsPerWave), clock, tracer))
    val live = tracer.span("live")(Ingest.live(run, env, math.max(1, o.seconds / 2), clock, tracer))
    val measureEnd = clock.nowUs
    val steal = stealPct(cpu0, hostCpu)
    run.stop()
    val graph = run.finish(reads = 3)

    // a run whose batches all failed has no samples; its failures are counted
    val fresh = if (live.fresh.ms.isEmpty) Fresh(Array(0.0), Array(0L)) else live.fresh
    val tail = Stats.tail(fresh.ms, fresh.group)
    val freshP50 = Stats.median(fresh.ms)
    val bytesPerRec = graph.sinkBytes.toDouble / math.max(run.truth.ok, 1L)
    m.put("rate_per_s", catchUp.recPerS, "1/s")
    m.put("p50_ms", freshP50, "ms")
    m.put("tail_ms", tail.value, "ms")
    m.put("graph_s", graph.buildS, "s")
    m.put("stored_bytes_per_rec", bytesPerRec, "B")
    m.put("rss_peak_mb", rssPeakMb, "MB")
    println(f"ingest_rec_per_s ${catchUp.recPerS}%.0f, live ${live.recPerS}%.0f rec/s, fresh_p50_ms $freshP50%.1f, " +
      f"fresh_tail_ms ${tail.value}%.1f (p${tail.percentile}%s over ${tail.samples}%d record samples, " +
      f"${tail.beyond}%d beyond), graph_build_s ${graph.buildS}%.3f, sink_bytes_per_rec $bytesPerRec%.2f")

    // per-layer metrics (only the traced run reports them)
    val batches = catchUp.batches ++ live.batches
    val ok = batches.filter(!_.failed)
    val records = batches.map(_.records).sum.toDouble
    def count(cls: String) = batches.map(_.counts.getOrElse(cls, 0L)).sum.toDouble
    val decodeUs = ok.map(_.decodeUs).sum
    m.put("avro.decode_ms", decodeUs / 1e3, "ms")
    m.put("avro.decode_ns_per_rec", decodeUs * 1e3 / math.max(ok.map(_.records).sum, 1L), "ns")
    m.put("avro.records", records, "count")
    for (cls <- Status.Classes) m.put(s"avro.$cls", count(cls), "count")
    m.put("avro.ok_ratio", if (records == 0) 0.0 else count("ok") / records, "ratio")

    m.put("sink.tally_p50_ms", Stats.median(ok.map(_.tallyUs / 1e3)), "ms")
    m.put("sink.merge_p50_ms", Stats.median(ok.map(_.mergeUs / 1e3)), "ms")
    m.put("sink.merge_s", ok.map(_.mergeUs).sum / 1e6, "s")
    m.put("sink.write_mb", graph.batchBytes / 1e6, "MB")
    m.put("sink.compact_s", graph.compactS, "s")
    m.put("sink.files", graph.sinkFiles.toDouble, "count")
    m.put("graph.objects_s", graph.objectsS, "s")
    m.put("graph.relationships_s", graph.relationshipsS, "s")
    m.put("graph.n_objects", graph.nObjects.toDouble, "count")
    m.put("graph.n_edges", graph.nEdges.toDouble, "count")
    m.put("gen.s", catchUp.genS + live.genS, "s")
    m.put("gen.lag_p50_ms", Stats.median(live.genLagMs.toSeq), "ms")
    m.put("gen.lag_max_ms", if (live.genLagMs.isEmpty) 0.0 else live.genLagMs.max, "ms")
    m.put("fresh.tail_pctl", tail.percentile, "pct")
    m.put("fresh.samples", tail.samples.toDouble, "count")
    m.put("host.steal_pct", steal, "pct")
    m.put("setup.jvm_s", (mainUs - jvmStartUs) / 1e6, "s")
    m.put("setup.session_s", (sessionUs - mainUs) / 1e6, "s")
    m.put("setup.warmup_s", (setupEnd - sessionUs) / 1e6, "s")

    // engine and stream layers of the measured phase: read after stop,
    // which drains the listener bus
    val measuredIds = batches.map(_.id).toSet
    val prog = probes.stop().filter(p => p.durationMs.containsKey("addBatch") && measuredIds(p.batchId))
    def phaseP50(k: String) = Stats.median(prog.map(p => Option(p.durationMs.get(k)).fold(0.0)(_.toDouble)))
    m.put("stream.batches", prog.size.toDouble, "count")
    m.put("stream.trigger_p50_ms", phaseP50("triggerExecution"), "ms")
    m.put("stream.latest_offset_p50_ms", phaseP50("latestOffset"), "ms")
    m.put("stream.get_batch_p50_ms", phaseP50("getBatch"), "ms")
    m.put("stream.query_planning_p50_ms", phaseP50("queryPlanning"), "ms")
    m.put("stream.wal_commit_p50_ms", phaseP50("walCommit"), "ms")
    m.put("stream.commit_offsets_p50_ms", phaseP50("commitOffsets"), "ms")
    m.put("stream.add_batch_s", prog.map(_.durationMs.get("addBatch").toDouble).sum / 1e3, "s")
    m.put("stream.backlog_recs_max", if (live.batches.isEmpty) 0.0 else live.batches.map(_.backlogRecs).max.toDouble, "count")
    val triggerWindows = prog.map { p =>
      val s = java.time.Instant.parse(p.timestamp).toEpochMilli
      (s, s + p.durationMs.get("triggerExecution").longValue)
    }
    probes.put(m, triggerWindows)
    m.put("fail_ratio", ledger.failed.toDouble / math.max(ledger.attempted, 1L), "ratio")

    if (o.trace) {
      tracer.record("measure", measureStart, measureEnd, -1)
      probes.record(tracer)
      tracer.write(o.outDir.resolve(s"trace-${o.workload}-seed${o.seed}.jsonl"))
    }
    finish(m, ledger)
  }

  /** Prints the failures, then returns the result line. */
  def finish(m: Metrics, ledger: Ledger): String = {
    ledger.failures.foreach(f => println(s"FAILED $f"))
    println(s"ops: ${ledger.attempted} attempted, ${ledger.failed} failed")
    m.json(correct = ledger.failed == 0, ledger.attempted, ledger.failed)
  }

  /** The session the mains of graft build, on `local[<cores>]`. */
  def newSession(workDir: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def newEnv(workDir: Path): Env = {
    val spark = newSession(workDir)
    val cfg = PipelineConfig.parseYaml(ConfigYaml)
    val v1Json = cfg.schemas("spo").avroSchemaJson
    val v2Json = withDefaultedField(v1Json, "source", "gen")
    val registry = new SchemaRegistry
    val v1Id = registry.register("spo-value", v1Json)
    val v2Id = registry.register("spo-value", v2Json)
    val parse = (j: String) => new Schema.Parser().parse(j)
    val framer = new Framer(parse(v1Json), v1Id, parse(v2Json), v2Id, unknownId = 9999)
    Env(spark, registry.snapshot, v2Json, framer)
  }

  /** Writer v2: v1 plus a string field with a default, so v1 frames go
    * through the resolving reader. */
  def withDefaultedField(v1Json: String, name: String, default: String): String = {
    val v1 = new Schema.Parser().parse(v1Json)
    val fields = v1.getFields.asScala.map(f => new Schema.Field(f, f.schema())) :+
      new Schema.Field(name, Schema.create(Schema.Type.STRING), null, default)
    Schema.createRecord(v1.getName, v1.getDoc, v1.getNamespace, false, fields.asJava).toString
  }

  /** Host CPU time since boot from /proc/stat: (all, steal, idle+iowait). */
  def hostCpu: Array[Long] = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val v = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      Array(v.take(8).sum, v(7), v(3) + v(4))
    } finally f.close()
  }

  /** Share of host CPU time the hypervisor took between two readings;
    * also prints how busy the host was. */
  def stealPct(cpu0: Array[Long], cpu1: Array[Long]): Double = {
    val total = math.max(cpu1.sum - cpu0.sum, 1L).toDouble
    println(f"host over the measured phase: ${100.0 * (cpu1(1) - cpu0(1)) / total}%.1f%% steal, " +
      f"${100.0 * (1.0 - (cpu1(2) - cpu0(2)) / total)}%.1f%% busy")
    100.0 * (cpu1(1) - cpu0(1)) / total
  }

  def rssPeakMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  def dirStats(d: Path): (Long, Long) = {
    if (!Files.exists(d)) return (0L, 0L)
    val s = Files.walk(d)
    try {
      val files = s.iterator.asScala.filter(Files.isRegularFile(_)).toSeq
      (files.size.toLong, files.map(Files.size).sum)
    } finally s.close()
  }

  def dirBytes(d: Path): Long = dirStats(d)._2

  def deleteTree(d: Path): Unit =
    if (Files.exists(d)) {
      val s = Files.walk(d)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
}

/** Freshness samples, one per applied record, with the id of the batch
  * that applied it (records of one batch share its stalls). */
final case class Fresh(ms: Array[Double], group: Array[Long])


/** Named metrics in insertion order. The run prints them all; run.py
  * keeps the end-to-end ones of an untraced run and the per-layer ones of
  * a traced run. */
final class Metrics {
  private val entries = ArrayBuffer.empty[(String, Double, String)]

  def put(name: String, value: Double, unit: String): Unit =
    entries += ((name, value, unit))

  def json(correct: Boolean, attempted: Long, failed: Long): String = {
    val ms = entries.map { case (n, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "0" else v.toString
      s""""$n":{"value":$num,"unit":"$u"}"""
    }
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{${ms.mkString(",")}}}"""
  }
}
