package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

/** A span: a named interval (epoch milliseconds) with the span that
  * caused it and counters recorded at the same boundary.
  */
final case class Span(id: Int, parent: Int, name: String, startMs: Double,
    endMs: Double, attrs: Map[String, Any]) {
  def durMs: Double = endMs - startMs
}

/** In-memory span recorder, written out once when the run ends. Span 0
  * is the root; every other span names its parent.
  */
final class Tracer {
  private val buf = ArrayBuffer[Span]()
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  /** Epoch milliseconds with sub-millisecond resolution. */
  def now(): Double = wall0 + (System.nanoTime() - nano0) / 1e6

  val root: Int = add(-1, "run", now(), now())

  def add(parent: Int, name: String, startMs: Double, endMs: Double,
      attrs: Map[String, Any] = Map.empty): Int = synchronized {
    val id = buf.size
    buf += Span(id, parent, name, startMs, endMs, attrs)
    id
  }

  /** Open a span now; [[end]] closes it. Children may name it first. */
  def begin(parent: Int, name: String): Int = add(parent, name, now(), Double.NaN)

  def end(id: Int, attrs: Map[String, Any] = Map.empty): Unit = synchronized {
    buf(id) = buf(id).copy(endMs = now(), attrs = buf(id).attrs ++ attrs)
  }

  /** Time `f` as a child of `parent`; returns its value and span id. */
  def time[T](parent: Int, name: String)(f: => T): (T, Int) =
    timeIn(parent, name)(_ => f)

  /** Like [[time]], handing `f` its own span id for children. */
  def timeIn[T](parent: Int, name: String)(f: Int => T): (T, Int) = {
    val id = begin(parent, name)
    val v = f(id)
    end(id)
    (v, id)
  }

  def spans: Seq[Span] = synchronized(buf.toList)

  /** Self time of one span: its duration minus the part of its
    * interval that its children cover.
    */
  def selfMs(id: Int): Double = {
    val all = spans
    val sp = all(id)
    val kids = all.filter(_.parent == id)
      .map(k => (math.max(k.startMs, sp.startMs), math.min(k.endMs, sp.endMs)))
      .filter(iv => iv._2 > iv._1).sortBy(_._1)
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    kids.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) covered += curE - curS
    sp.durMs - covered
  }

  /** Sum of self times over every span with this name. */
  def selfMsByName(name: String): Double =
    spans.filter(_.name == name).map(s => selfMs(s.id)).sum

  def close(): Unit = synchronized {
    buf(root) = buf(root).copy(endMs = now())
  }

  def write(file: File): Unit = {
    close()
    file.getParentFile.mkdirs()
    val body = spans.map(s => Json(Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "self_ms" -> selfMs(s.id), "attrs" -> s.attrs)))
      .mkString("[\n", ",\n", "\n]\n")
    Files.write(file.toPath, body.getBytes(StandardCharsets.UTF_8))
  }
}
