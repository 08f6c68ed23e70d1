package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

/** A timed region: times are microseconds on the benchmark clock,
  * `parent` is the id of the enclosing span (-1 for a root). */
final case class Span(id: Int, name: String, startUs: Long, endUs: Long, parent: Int, run: String) {
  def durUs: Long = endUs - startUs
}

/** In-memory span recorder, written out once when the run ends. When
  * disabled it still runs the body but records nothing. */
final class Tracer(val run: String, val enabled: Boolean, clock: Clock) {
  private val spans = ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private var nextId = 0

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = synchronized { nextId += 1; nextId }
    val parent = open.get.headOption.getOrElse(-1)
    open.set(id :: open.get)
    val start = clock.nowUs
    try body
    finally {
      open.set(open.get.tail)
      add(Span(id, name, start, clock.nowUs, parent, run))
    }
  }

  /** Records a span timed elsewhere (Spark jobs, planning phases). */
  def record(name: String, startUs: Long, endUs: Long, parent: Int): Unit =
    if (enabled) add(Span(synchronized { nextId += 1; nextId }, name, startUs, endUs, parent, run))

  def currentId: Int = open.get.headOption.getOrElse(-1)

  /** Runs `body` with `parent` as the enclosing span, for work that a
    * span on another thread caused. */
  def within[T](parent: Int)(body: => T): T = {
    val saved = open.get
    open.set(if (parent < 0) Nil else List(parent))
    try body finally open.set(saved)
  }

  /** The innermost recorded span containing `[startUs, endUs)`, or -1. */
  def innermost(startUs: Long, endUs: Long): Int = {
    val hits = all.filter(s => s.startUs <= startUs && endUs <= s.endUs)
    if (hits.isEmpty) -1 else hits.minBy(_.durUs).id
  }

  private def add(s: Span): Unit = synchronized { spans += s }

  def all: Seq[Span] = synchronized(spans.toList)

  def write(path: Path): Unit = {
    val all = this.all
    val self = Spans.selfUs(all)
    val lines = all.sortBy(_.startUs).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","start_us":${s.startUs},"end_us":${s.endUs},""" +
        s""""parent":${s.parent},"run":"${s.run}","self_us":${self(s.id)}}"""
    }
    Files.createDirectories(path.getParent)
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Spans {
  /** Self time of each span: its duration minus the part of it that its
    * direct children cover (overlapping children count once). */
  def selfUs(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startUs, c.endUs))
      s.id -> (s.durUs - Stats.coveredWithin((s.startUs, s.endUs), kids))
    }.toMap
  }
}

/** Wall clock in epoch microseconds with nanoTime resolution. */
final class Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}
