package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext

/** One timed interval of a traced run. `parent` is 0 for a root span;
  * `start`/`end` are System.nanoTime() readings. `kind` names the layer:
  * workload, phase, job (a Spark job), verb (a FileOps call). */
final case class Span(id: Long, parent: Long, name: String, kind: String,
    start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span recorder for the traced run; nothing is recorded while
  * `enabled` is false. Spans opened on the driver thread nest through a
  * thread-local stack, and the innermost open span is published as a
  * Spark local property so the jobs it triggers can name it as parent.
  * Spans finished on other threads (Spark jobs seen by the listener,
  * FileOps verbs inside executor tasks) name their parent explicitly. */
object Trace {
  @volatile var enabled: Boolean = false
  /** parent of FileOps verb spans: the exec phase span currently open */
  @volatile var execParent: Long = 0L
  @volatile var sc: SparkContext = _
  val JobProperty = "perfbench.span"

  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def reset(): Unit = { spans.clear(); execParent = 0L }
  def all: Seq[Span] = spans.asScala.toSeq

  def record(parent: Long, name: String, kind: String, start: Long, end: Long): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), parent, name, kind, start, end))

  private def publish(id: Long): Unit =
    if (sc != null) sc.setLocalProperty(JobProperty, if (id == 0L) null else id.toString)

  /** Times `body` as a span under the innermost open one. A span of kind
    * `exec` also becomes the parent of the FileOps verb spans. */
  def span[T](name: String, kind: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      val parent = outer.headOption.getOrElse(0L)
      stack.set(id :: outer)
      publish(id)
      val prevExec = execParent
      if (kind == "exec") execParent = id
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        execParent = prevExec
        stack.set(outer)
        publish(parent)
        spans.add(Span(id, parent, name, kind, t0, t1))
      }
    }

  /** Self time of every span: its duration minus the part of its interval
    * that the union of its children's intervals covers. Children running
    * in parallel are counted once; a child sticking out of its parent is
    * clipped to the parent. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curS = 0L
      var curE = 0L
      var open = false
      iv.foreach { case (a, b) =>
        if (!open) { curS = a; curE = b; open = true }
        else if (a > curE) { covered += curE - curS; curS = a; curE = b }
        else if (b > curE) curE = b
      }
      if (open) covered += curE - curS
      s.id -> (s.dur - covered)
    }.toMap
  }

  /** spans as JSON lines, times relative to the earliest start */
  def dump(path: java.nio.file.Path, spans: Seq[Span]): Unit = {
    val t0 = if (spans.isEmpty) 0L else spans.map(_.start).min
    val lines = spans.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"kind":${Json.str(s.kind)},""" +
        s""""name":${Json.str(s.name)},"start_us":${(s.start - t0) / 1000},""" +
        s""""end_us":${(s.end - t0) / 1000}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
    ()
  }
}
