package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{CacheTracker, SparkEntry, Tables}

/** One timed query of a pass: its wall and process CPU seconds and its
  * fingerprint, or the error it failed with. */
final case class QueryRun(name: String, seconds: Double, cpuS: Double,
    result: Either[String, (Long, String)])

/** A fixed set of bench queries over a copy of the engine's sf0.01
  * tables, run in a seed-permuted order; each result is collected in full
  * and fingerprinted against the pinned value (perfbench/pins/query_mix.tsv
  * pins all 42 bench queries). */
final class QueryMix(spark: SparkSession, dataDir: String) {
  private val registry = SparkEntry.queries

  def order(seed: Long): Seq[String] =
    TreeGen.shuffle(new java.util.SplittableRandom(seed), QueryMix.Queries)

  /** SHA-256 of every table file, then the query order */
  def manifest(order: Seq[String]): String = {
    val files = Files.list(java.nio.file.Paths.get(dataDir))
    val tables = try files.iterator.asScala.toVector.sortBy(_.getFileName.toString) finally files.close()
    TreeGen.manifest(tables.map(p => s"${p.getFileName} ${sha256(p)}") ++ order)
  }

  private def sha256(p: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(Files.readAllBytes(p)).map(b => "%02x".formatLocal(java.util.Locale.ROOT, b & 0xff)).mkString
  }

  /** bytes of every table file */
  def tableBytes: Long = {
    val files = Files.list(java.nio.file.Paths.get(dataDir))
    try files.iterator.asScala.map(Files.size).sum finally files.close()
  }

  /** set-up: decode every column of every table once, so page-cache and
    * first-read costs are not billed to whichever query reads first */
  def warmTables(): Unit = Tables.names.foreach { t =>
    val df = if (t == "events") Tables.events(spark, dataDir) else Tables.table(spark, dataDir, t)
    df.write.format("noop").mode("overwrite").save()
  }

  /** one pass; each query's result fully collected, then the cached
    * helper frames released, as the engine's own bench does */
  def pass(names: Seq[String]): Seq[QueryRun] = names.map { n =>
    var rows: Array[org.apache.spark.sql.Row] = null
    var cols: Seq[String] = Nil
    var err: String = null
    val cpu0 = Host.processCpuS
    val secs = Trace.span(n, "query") {
      val t0 = System.nanoTime()
      try {
        val df = registry(n)(spark, dataDir)
        cols = df.columns.toSeq
        rows = df.collect()
      } catch { case e: Exception => err = e.toString }
      CacheTracker.releaseAll(blocking = true)
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println(f"[perfbench] query $n%s $secs%.3f s")
    val cpu = Host.processCpuS - cpu0
    val run = QueryRun(n, secs, cpu, if (err != null) Left(err) else Right(Canon.fingerprint(cols, rows)))
    // untimed: start the next query on a collected heap, so no query is
    // billed for the garbage of the one before it in the seeded order
    Trace.span("gc", "jvm")(System.gc())
    run
  }
}

object QueryMix {
  /** The timed set: 3 of the 42 bench queries, two of the largest plans
    * (rec_item_item, graph_triangles) and the TPC-H join that ramps under
    * host contention (tpch_q5). A warm pass of all 42 takes about 30 s on
    * 4 CPUs and its warm-up another 70 s, more than a run may take; these
    * 3 leave room for the timed passes. */
  val Queries: Seq[String] = Seq("tpch_q5", "graph_triangles", "rec_item_item")

  /** name -> (rows, fingerprint) */
  def loadPins(p: Path): Map[String, (Long, String)] =
    Files.readAllLines(p).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val f = l.split("\t")
        f(0) -> (f(1).toLong, f(2))
      }.toMap

  def writePins(p: Path, runs: Seq[QueryRun]): Unit = {
    val lines = "# name\trows\tfingerprint (perfbench/src/perfbench/Canon.scala)" +:
      runs.sortBy(_.name).map { r =>
        val (n, h) = r.result.fold(e => sys.error(s"${r.name} failed: $e"), identity)
        s"${r.name}\t$n\t$h"
      }
    Files.write(p, lines.asJava)
    ()
  }
}
