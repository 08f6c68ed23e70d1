package graftbench

import graft.avro.ConfluentFraming
import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{BinaryEncoder, EncoderFactory}

import java.io.ByteArrayOutputStream
import java.util.SplittableRandom
import scala.collection.mutable

/** The traffic dimensions the generator controls.
  *
  * @param subjects    distinct subject entities (`user_<i>`)
  * @param objects     distinct object entities (`k_<i>`); subjects plus
  *                    objects is the dictionary size
  * @param subjectZipf Zipf exponent of subject popularity
  * @param objectZipf  Zipf exponent of object popularity
  * @param predicates  distinct predicates, drawn uniformly
  * @param badMagic    share of frames whose magic byte is wrong
  * @param truncated   share of frames cut short of the 5-byte CP1 header
  * @param unknownId   share of frames naming a schema id the registry lacks
  * @param v2Share     share of well-formed frames written with writer v2
  */
final case class Traffic(
    subjects: Int,
    objects: Int,
    subjectZipf: Double,
    objectZipf: Double,
    predicates: Int,
    badMagic: Double,
    truncated: Double,
    unknownId: Double,
    v2Share: Double)

object Rec {
  val Ok = 0
  val BadMagic = 1
  val Truncated = 2
  val UnknownId = 3
}

/** One generated message: its SPO content, the writer version, and
  * whether (and how) its frame is malformed. */
final case class Rec(kind: Int, subject: String, predicate: String, obj: String, v2: Boolean)

/** Zipf(s) over ranks `0 until n`, sampled by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }

  def sample(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    val at = if (i >= 0) i else -i - 1
    math.min(at, n - 1)
  }
}

/** Seeded message generator. A file's records depend only on
  * (seed, stream, file), so any file of any run can be regenerated. */
final class Gen(t: Traffic, seed: Long) {
  private val subjects = new Zipf(t.subjects, t.subjectZipf)
  private val objects = new Zipf(t.objects, t.objectZipf)

  def records(stream: Int, file: Int, n: Int): Array[Rec] = {
    val rng = new SplittableRandom(Gen.mix(seed, stream.toLong, file.toLong))
    Array.fill(n) {
      val s = "user_" + subjects.sample(rng.nextDouble())
      val o = "k_" + objects.sample(rng.nextDouble())
      val p = "p" + rng.nextInt(t.predicates)
      val u = rng.nextDouble()
      val kind =
        if (u < t.badMagic) Rec.BadMagic
        else if (u < t.badMagic + t.truncated) Rec.Truncated
        else if (u < t.badMagic + t.truncated + t.unknownId) Rec.UnknownId
        else Rec.Ok
      Rec(kind, s, p, o, rng.nextDouble() < t.v2Share)
    }
  }
}

object Gen {
  /** splitmix64 finalizer over the combined key. */
  def mix(a: Long, b: Long, c: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b * 0xBF58476D1CE4E5B9L + c * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

/** Producer side: Avro-encodes records with avro-java's own writer and
  * frames them with [[ConfluentFraming.frame]] — never through
  * `AvroCodec.encode`, so the producer is not the code under test. */
final class Framer(v1: Schema, v1Id: Int, v2: Schema, v2Id: Int, unknownId: Int) {
  private val w1 = new GenericDatumWriter[GenericRecord](v1)
  private val w2 = new GenericDatumWriter[GenericRecord](v2)
  private val r1 = new GenericData.Record(v1)
  private val r2 = new GenericData.Record(v2)
  private val out = new ByteArrayOutputStream(128)
  private var enc: BinaryEncoder = _

  /** A framer of its own for another thread. */
  def copy: Framer = new Framer(v1, v1Id, v2, v2Id, unknownId)

  def frame(r: Rec): Array[Byte] = {
    val (w, rec, id) = if (r.v2) (w2, r2, v2Id) else (w1, r1, v1Id)
    rec.put("subject", r.subject)
    rec.put("predicate", r.predicate)
    rec.put("object", r.obj)
    if (r.v2) rec.put("source", "gen-v2")
    out.reset()
    enc = EncoderFactory.get().binaryEncoder(out, enc)
    w.write(rec, enc)
    enc.flush()
    val body = out.toByteArray
    r.kind match {
      case Rec.Ok => ConfluentFraming.frame(id, body)
      case Rec.BadMagic =>
        val f = ConfluentFraming.frame(id, body)
        f(0) = 0x7f
        f
      case Rec.Truncated => ConfluentFraming.frame(id, body).take(3)
      case Rec.UnknownId => ConfluentFraming.frame(unknownId, body)
    }
  }
}

/** Ground truth for a set of generated records, in plain Scala: the
  * per-class error counts and the graph the sink must end up holding
  * (dense ids by name order, edges counted per (source, target,
  * predicate)). */
final class Truth {
  var records = 0L
  var ok = 0L
  var badMagic = 0L
  var truncated = 0L
  var unknownId = 0L
  private val edges = mutable.HashMap.empty[(String, String, String), Long]

  def add(r: Rec): Unit = {
    records += 1
    r.kind match {
      case Rec.Ok =>
        ok += 1
        val k = (r.subject, r.obj, r.predicate)
        edges.update(k, edges.getOrElse(k, 0L) + 1L)
      case Rec.BadMagic => badMagic += 1
      case Rec.Truncated => truncated += 1
      case Rec.UnknownId => unknownId += 1
    }
  }

  def addAll(rs: Iterable[Rec]): Unit = rs.foreach(add)

  /** Status tally the consume loop must report (decode errors: none). */
  def counts: Map[String, Long] = Map(
    "ok" -> ok, "bad_magic" -> badMagic, "truncated" -> truncated,
    "unknown_schema_id" -> unknownId, "decode_error" -> 0L)

  /** Entity names in object-id order (id = position + 1). */
  def objectNames: Array[String] =
    edges.keysIterator.flatMap { case (s, o, _) => Iterator(s, o) }.toArray.distinct.sorted

  /** Distinct (source, target, predicate) edges. */
  def edgeCount: Int = edges.size

  /** [[Truth.fingerprint]] of [[edgesById]], without building it. */
  def edgeFingerprint: Long = {
    val id = objectNames.zipWithIndex.map { case (n, i) => n -> (i + 1L) }.toMap
    edges.iterator.map { case ((s, o, p), n) => Truth.edgeHash(id(s), id(o), p, n) }.sum
  }

  /** (source_id, target_id, predicate) -> n, ids as the sink assigns them. */
  def edgesById: Map[(Long, Long, String), Long] = {
    val id = objectNames.zipWithIndex.map { case (n, i) => n -> (i + 1L) }.toMap
    edges.iterator.map { case ((s, o, p), n) => (id(s), id(o), p) -> n }.toMap
  }
}

object Truth {
  def edgeHash(source: Long, target: Long, predicate: String, n: Long): Long =
    Gen.mix(source, target, predicate.hashCode.toLong * 31L + n)

  /** Order-independent fingerprint of an edge multiset. */
  def fingerprint(edges: Iterable[((Long, Long, String), Long)]): Long =
    edges.iterator.map { case ((a, b, p), n) => edgeHash(a, b, p, n) }.sum
}
