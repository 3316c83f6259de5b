package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.exec.{DirEntry, FileOps}

/** JVM-wide per-verb counters. Copy tasks run in the driver JVM under
  * Spark local mode, so the deserialized decorators in every task feed
  * this one registry. */
object VerbStats {
  /** the verbs the copy, verify and repair paths call */
  val Verbs: Seq[String] = Seq("mkdirs", "exists", "length", "createFile",
    "readRange", "append", "flush", "setOwnership", "listDir")

  final class Stat {
    val n = new AtomicLong(0L)
    val busyNs = new AtomicLong(0L)
    val latNs = new ConcurrentLinkedQueue[java.lang.Long]()
    def latencies: Array[Long] = latNs.asScala.map(_.longValue).toArray.sorted
  }

  val stats: Map[String, Stat] = Verbs.map(_ -> new Stat).toMap
  val bytesRead = new AtomicLong(0L)
  val bytesWritten = new AtomicLong(0L)

  def reset(): Unit = {
    stats.values.foreach { s => s.n.set(0L); s.busyNs.set(0L); s.latNs.clear() }
    bytesRead.set(0L)
    bytesWritten.set(0L)
  }

  def time[T](verb: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      val s = stats(verb)
      s.n.incrementAndGet()
      s.busyNs.addAndGet(t1 - t0)
      s.latNs.add(t1 - t0)
      Trace.record(Trace.execParent, verb, "verb", t0, t1)
    }
  }
}

/** Timing decorator: forwards every FileOps verb to `inner` unchanged and
  * records count, busy time, latency and bytes of the [[VerbStats.Verbs]]
  * in [[VerbStats]]; whole-file write/read and metadata pass straight
  * through. */
final class TimingFileOps(inner: FileOps) extends FileOps {
  import VerbStats.time

  override def mkdirs(path: String): Boolean = time("mkdirs")(inner.mkdirs(path))
  override def exists(path: String): Boolean = time("exists")(inner.exists(path))
  override def write(path: String, content: Array[Byte]): Unit = inner.write(path, content)
  override def read(path: String): Array[Byte] = inner.read(path)
  override def setOwnership(path: String, owner: String, group: String, perms: String): Unit =
    time("setOwnership")(inner.setOwnership(path, owner, group, perms))
  override def listDir(path: String): Seq[DirEntry] = time("listDir")(inner.listDir(path))
  override def getMetadata(path: String): Map[String, String] = inner.getMetadata(path)
  override def setMetadata(path: String, meta: Map[String, String]): Unit =
    inner.setMetadata(path, meta)
  override def length(path: String): Long = time("length")(inner.length(path))
  override def readRange(path: String, offset: Long, len: Int): Array[Byte] = time("readRange") {
    val b = inner.readRange(path, offset, len)
    VerbStats.bytesRead.addAndGet(b.length.toLong)
    b
  }
  override def createFile(path: String): Unit = time("createFile")(inner.createFile(path))
  override def append(path: String, offset: Long, data: Array[Byte]): Unit = time("append") {
    inner.append(path, offset, data)
    VerbStats.bytesWritten.addAndGet(data.length.toLong)
  }
  override def flush(path: String, totalLen: Long): Unit = time("flush")(inner.flush(path, totalLen))
}
