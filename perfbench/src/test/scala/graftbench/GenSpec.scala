package graftbench

import graft.avro.ConfluentFraming
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class GenSpec extends AnyFunSuite {
  private val traffic = Bench.traffic

  private def framer = {
    val v1 = graft.config.PipelineConfig.parseYaml(Bench.ConfigYaml).schemas("spo").avroSchemaJson
    val v2 = Bench.withDefaultedField(v1, "source", "gen")
    val p = (j: String) => new org.apache.avro.Schema.Parser().parse(j)
    new Framer(p(v1), 1, p(v2), 2, unknownId = 9999)
  }

  private def truthOf(rs: Iterable[Rec]) = { val t = new Truth; t.addAll(rs); t }

  test("same seed gives the same records, frame bytes and truth") {
    val a = new Gen(traffic, 42L).records(stream = 3, file = 7, n = 2000)
    val b = new Gen(traffic, 42L).records(stream = 3, file = 7, n = 2000)
    assert(a.toSeq == b.toSeq)
    val (fa, fb) = (framer, framer)
    assert(a.map(fa.frame).toSeq.map(_.toSeq) == b.map(fb.frame).toSeq.map(_.toSeq))
    val (ta, tb) = (truthOf(a), truthOf(b))
    assert(ta.counts == tb.counts)
    assert(ta.objectNames.toSeq == tb.objectNames.toSeq)
    assert(ta.edgesById == tb.edgesById)
    assert(Truth.fingerprint(ta.edgesById) == Truth.fingerprint(tb.edgesById))
  }

  test("same seed gives the same topic-log file bytes; another seed does not") {
    val dir = Files.createTempDirectory("perfbench_gen")
    try {
      def chunk(seed: Long, name: String) = {
        val f = framer
        val rs = new Gen(traffic, seed).records(1, 0, 500)
        val p = dir.resolve(name)
        TopicLog.write(p, 0, 0L, Array.tabulate(rs.length)(_.toLong), rs.map(f.frame))
        Files.readAllBytes(p).toSeq
      }
      assert(chunk(5L, "a.parquet") == chunk(5L, "b.parquet"))
      assert(chunk(5L, "c.parquet") != chunk(6L, "d.parquet"))
    } finally Bench.deleteTree(dir)
  }

  test("another seed or another file gives other records") {
    val a = new Gen(traffic, 1L).records(0, 0, 100).toSeq
    assert(a != new Gen(traffic, 2L).records(0, 0, 100).toSeq)
    assert(a != new Gen(traffic, 1L).records(0, 1, 100).toSeq)
  }

  test("malformed frames unframe to the class the truth counts them in") {
    val f = framer
    val rs = new Gen(traffic, 9L).records(0, 0, 20000)
    val seen = rs.groupMapReduce(_.kind)(_ => 1L)(_ + _)
    assert(Seq(Rec.Ok, Rec.BadMagic, Rec.Truncated, Rec.UnknownId).forall(seen.contains),
      s"every class is generated: $seen")
    rs.foreach { r =>
      (r.kind, ConfluentFraming.unframe(f.frame(r))) match {
        case (Rec.Ok, ConfluentFraming.Framed(id, _, _, _)) => assert(id == (if (r.v2) 2 else 1))
        case (Rec.UnknownId, ConfluentFraming.Framed(id, _, _, _)) => assert(id == 9999)
        case (Rec.BadMagic, ConfluentFraming.BadMagic) =>
        case (Rec.Truncated, ConfluentFraming.Truncated) =>
        case other => fail(s"unexpected $other")
      }
    }
    val t = truthOf(rs)
    assert(t.counts("ok") + t.counts("bad_magic") + t.counts("truncated") +
      t.counts("unknown_schema_id") == rs.length)
    assert(t.edgesById.values.sum == t.counts("ok"))
    assert(t.edgeCount == t.edgesById.size)
    assert(t.edgeFingerprint == Truth.fingerprint(t.edgesById))
  }

  test("truth ids follow name order from 1, as the sink assigns them") {
    val t = truthOf(Seq(
      Rec(Rec.Ok, "b", "p", "a", v2 = false),
      Rec(Rec.Ok, "b", "p", "a", v2 = true),
      Rec(Rec.Ok, "c", "q", "b", v2 = false),
      Rec(Rec.BadMagic, "z", "p", "y", v2 = false)))
    assert(t.objectNames.toSeq == Seq("a", "b", "c"))
    assert(t.edgesById == Map((2L, 1L, "p") -> 2L, (3L, 2L, "q") -> 1L))
    assert(t.counts == Map("ok" -> 3L, "bad_magic" -> 1L, "truncated" -> 0L,
      "unknown_schema_id" -> 0L, "decode_error" -> 0L))
  }
}
