package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, launched by perfbench/run.py:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --cpus N --work DIR --data DIR --pins FILE --spec BENCHMARK.json
  *
  * Set-up: JVM and Spark start; the set-up proper (writing the source
  * tree, laying down the damaged destination, or reading the tables),
  * once untimed and then [[SetupReps]] times more (their median is the
  * per-layer `setup.rounds_s`); and one cold run of the job, code
  * generation and JIT included (`setup.cold_run_s`). `setup_s` is the time
  * from JVM start to the end of all that. The job then runs warm at least
  * [[MinReps]] times and until `seconds` of timed work have passed, and the
  * other end-to-end metrics come from the fastest warm repetition: the JIT
  * is still converging over the first few, and host noise only ever adds
  * time. With
  * `--trace 1` one more, traced, repetition follows and the per-layer
  * metrics come from it. The last stdout line is the result object. */
object Main {
  val SetupReps = 3
  /** timed repetitions at least */
  val MinReps = 3

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cpus: Int, work: Path, data: String, pins: Path, spec: Path)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("cpus").toInt, Paths.get(need("work")),
      need("data"), Paths.get(need("pins")), Paths.get(need("spec")))
  }

  def median(xs: scala.collection.Seq[Double]): Double = {
    require(xs.nonEmpty)
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** times of the repeated set-up, after one untimed round: the set-up
    * code is JIT-compiled like the job, and a cold round reads up to twice
    * a warm one */
  def setups(body: => Unit): Seq[Double] = {
    val cold = timed(body)
    val ts = (1 to SetupReps).map(_ => timed(body))
    System.err.println(s"[perfbench] set-up: cold $cold then $ts")
    ts
  }

  /** names and units of the metrics BENCHMARK.json declares */
  def spec(p: Path): (Seq[(String, String)], Seq[(String, String)]) = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile)
    def list(k: String) = root.get(k).elements.asScala.map(n =>
      n.get("name").asText -> n.get("unit").asText).toSeq
    (list("end_to_end"), list("per_layer"))
  }

  /** the outcome of one run before it is filtered to the declared names */
  final class Outcome {
    val e2e = new mutable.LinkedHashMap[String, Double]
    val layer = new mutable.LinkedHashMap[String, Double]
    var attempted = 0L
    var failed = 0L
    val problems = mutable.ArrayBuffer.empty[String]
    def fail(msgs: Seq[String]): Unit = { failed += msgs.size; problems ++= msgs.take(20) }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val (e2eSpec, layerSpec) = spec(a.spec)
    Files.createDirectories(a.work.resolve("tmp"))
    val spark = graft.Sessions.local(a.cpus.toString)
    spark.sparkContext.setLogLevel("WARN")
    Trace.sc = spark.sparkContext
    val probe = SparkProbe.install(spark)
    HeapWatch.install()

    val out = new Outcome
    val traced = a.workload match {
      case "migrate_fresh" => migrate(spark, probe, a, fresh = true, out)
      case "migrate_resync" => migrate(spark, probe, a, fresh = false, out)
      case "query_mix" => queryMix(spark, probe, a, out)
      case "pin" => pin(spark, a); spark.stop(); sys.exit(0)
      case w => sys.error(s"unknown workload $w")
    }
    if (a.trace) {
      Trace.dump(a.work.getParent.resolve("traces").resolve(s"${a.workload}-${a.seed}.jsonl"), traced)
      Trace.enabled = false
    }
    spark.stop()

    val metrics = new Json.Metrics
    val (wanted, values) = if (a.trace) (layerSpec, out.layer) else (e2eSpec, out.e2e)
    val unknown = values.keySet -- wanted.map(_._1)
    require(unknown.isEmpty, s"metrics not declared in ${a.spec}: ${unknown.mkString(", ")}")
    // a per-layer metric the workload does not exercise reads 0
    wanted.foreach { case (n, u) => metrics.put(n, values.getOrElse(n, 0.0), u) }
    if (!a.trace) e2eSpec.foreach { case (n, _) =>
      require(out.e2e.contains(n), s"end-to-end metric $n was not measured")
    }
    out.problems.foreach(p => System.err.println(s"[perfbench] CHECK FAILED: $p"))
    val correct = out.failed == 0L && out.problems.isEmpty
    println(Json.result(correct, math.max(1L, out.attempted), out.failed, metrics))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  // ---- migrations ---------------------------------------------------

  def migrate(spark: SparkSession, probe: SparkProbe, a: Args, fresh: Boolean,
      out: Outcome): Seq[Span] = {
    val tree = TreeGen.tree(a.seed)
    val m = new Migrate(spark, a.cpus, a.seed, a.work, tree)
    println(s"manifest ${a.workload} seed=${a.seed} sha256=${m.manifest(!fresh)}")

    out.layer("setup.rounds_s") = median(setups {
      m.src.wipe(); m.dst.wipe()
      m.writeSource(tree.entries)
      if (!fresh) {
        m.seedDestination()
        m.writeSource(m.damage.added)
      }
    })

    val allEntries = m.sourceEntries(withAdded = !fresh)
    val expected = if (fresh) Set.empty[String] else m.expectedRewrites
    def prepare(): Unit = {
      if (fresh) m.dst.wipe() else m.applyDamage()
      System.gc()
    }
    def check(r: RepResult): Unit = {
      out.attempted += r.copyStatus.values.sum + r.verify.size
      out.failed += r.copyStatus.filter(_._1.endsWith("_failed")).values.sum +
        r.verify.count(_._2 != "ok")
      out.problems ++= r.verify.filter(_._2 != "ok").take(5).map(v => s"verify ${v._1}: ${v._2}")
      if (r.verify.size != allEntries.count(_.isDir))
        out.fail(Seq(s"verify covered ${r.verify.size} directories, expected ${allEntries.count(_.isDir)}"))
      if (fresh) {
        out.fail(m.byteFailures(m.byteSample(m.tree.files)))
        out.fail(m.aclFailures(allEntries))
      } else {
        val got = m.rewritten()
        if (got != expected)
          out.fail(Seq(s"rewritten set differs from the damage set: extra " +
            s"${(got -- expected).take(5)} missing ${(expected -- got).take(5)}"))
        val files = allEntries.filter(e => !e.isDir && expected(e.name))
        out.fail(m.byteFailures(m.byteSample(files)))
        out.fail(m.aclFailures(files))
      }
    }

    // one cold repetition first, so the warm ones do not pay first-run
    // code generation and JIT; its output is checked like theirs
    prepare()
    val warm = m.job(fresh, timing = false)
    check(warm)
    out.layer("setup.cold_run_s") = warm.wallS
    System.err.println(s"[perfbench] warm-up: ${warm.phases}")

    out.e2e("setup_s") = Host.sinceJvmStartS
    val host0 = Host.stat()
    val cpu0 = Host.processCpuS
    val reps = mutable.ArrayBuffer.empty[RepResult]
    while (reps.size < MinReps || reps.map(_.wallS).sum < a.seconds) {
      prepare()
      val r = m.job(fresh, timing = false)
      check(r)
      reps += r
      System.err.println(s"[perfbench] repetition ${reps.size}: ${r.phases}")
    }
    val host1 = Host.stat()
    val cpu1 = Host.processCpuS
    val best = reps.minBy(_.wallS)
    out.e2e("wall_s") = best.wallS
    out.e2e("cpu_s") = best.cpuS
    out.e2e("mib_per_s") = best.verifiedMiB / best.wallS
    if (!a.trace) return Nil

    prepare()
    val (r, spans) = tracedRun(spark, probe, out) {
      VerbStats.reset()
      m.job(fresh, timing = true)
    }
    check(r)
    val L = out.layer
    L("sources.scan_s") = r.phase("scan")
    L("sources.dirs_listed") = r.scanDirs.toDouble
    L("sources.rows_emitted") = r.scanRows.toDouble
    L("sources.entries_per_s") = r.scanRows / r.phase("scan")
    L("operators.remap_s") = r.phase("remap")
    L("operators.pack_s") = r.phase("pack")
    L("operators.units") = r.units.toDouble
    L("exec.copy_s") = r.phase("copy")
    L("exec.verify_s") = r.phase("verify")
    L("exec.repair_s") = r.phase("repair")
    VerbStats.Verbs.foreach { v =>
      val s = VerbStats.stats(v)
      L(s"exec.ops.$v.n") = s.n.get.toDouble
      L(s"exec.ops.$v.busy_s") = s.busyNs.get / 1e9
    }
    Seq("append", "readRange", "setOwnership", "listDir").foreach { v =>
      val lat = VerbStats.stats(v).latencies
      def q(p: Double) = if (lat.isEmpty) 0.0 else lat(math.min(lat.length - 1, (p * lat.length).toInt)) / 1e6
      L(s"exec.ops.$v.p50_ms") = q(0.50)
      L(s"exec.ops.$v.p99_ms") = q(0.99)
    }
    L("exec.bytes_read_mib") = VerbStats.bytesRead.get / 1048576.0
    L("exec.bytes_written_mib") = VerbStats.bytesWritten.get / 1048576.0
    L("exec.files_ok") = r.copyStatus.getOrElse("file_ok", 0L).toDouble
    L("exec.files_skipped") = r.copyStatus.getOrElse("file_skipped", 0L).toDouble
    L("exec.files_failed") = r.copyStatus.getOrElse("file_failed", 0L).toDouble
    L("exec.dirs_ok") = r.copyStatus.getOrElse("dir_ok", 0L).toDouble
    L("exec.dst_objects_per_src_entry") = m.dstObjects.toDouble / allEntries.size
    val created = r.copyStatus.getOrElse("file_ok", 0L)
    val needed = if (fresh) m.tree.files.size.toLong else (m.rewritten() & expected).size.toLong
    L("exec.recopy_precision") = if (created == 0L) 0.0 else needed.toDouble / created
    hostAndOverhead(out, host0, host1, cpu1 - cpu0, r.wallS / out.e2e("wall_s"))
    spans
  }

  // ---- query mix ----------------------------------------------------

  def queryMix(spark: SparkSession, probe: SparkProbe, a: Args, out: Outcome): Seq[Span] = {
    val q = new QueryMix(spark, a.data)
    val pins = QueryMix.loadPins(a.pins)
    val order = q.order(a.seed)
    println(s"manifest query_mix seed=${a.seed} sha256=${q.manifest(order)}")
    require(QueryMix.Queries.forall(pins.contains), "a timed query has no pinned result")

    def check(runs: Seq[QueryRun]): Unit = {
      out.attempted += runs.size
      out.fail(runs.flatMap { r =>
        r.result match {
          case Left(e) => Some(s"${r.name} failed: $e")
          case Right(got) if !pins.get(r.name).contains(got) =>
            Some(s"${r.name}: got ${got._1} rows ${got._2}, pinned ${pins.get(r.name)}")
          case _ => None
        }
      })
    }

    out.layer("setup.rounds_s") = median(setups(q.warmTables()))
    val tableMiB = q.tableBytes / 1048576.0
    // warm-up pass: every query's first-run planning, code generation and
    // JIT happen here; its results are checked too
    val warm = q.pass(order)
    check(warm)
    out.layer("setup.cold_run_s") = warm.map(_.seconds).sum

    final case class Pass(wallS: Double, cpuS: Double)
    def onePass(): (Pass, Seq[QueryRun]) = {
      HeapWatch.reset()
      val runs = Trace.span("query_mix", "workload")(q.pass(order))
      (Pass(runs.map(_.seconds).sum, runs.map(_.cpuS).sum), runs)
    }

    out.e2e("setup_s") = Host.sinceJvmStartS
    val host0 = Host.stat()
    val cpu0 = Host.processCpuS
    val passes = mutable.ArrayBuffer.empty[Pass]
    while (passes.size < MinReps || passes.map(_.wallS).sum < a.seconds) {
      val (p, runs) = onePass()
      check(runs)
      passes += p
    }
    val host1 = Host.stat()
    val cpu1 = Host.processCpuS
    val best = passes.minBy(_.wallS)
    out.e2e("wall_s") = best.wallS
    out.e2e("cpu_s") = best.cpuS
    // a fixed numerator, the size of the tables, so the figure moves only
    // with time and a change that reads fewer bytes is not penalised
    out.e2e("mib_per_s") = tableMiB / best.wallS
    if (!a.trace) return Nil

    val ((p, runs), spans) = tracedRun(spark, probe, out)(onePass())
    check(runs)
    runs.foreach(r => out.layer(s"query.${r.name}_s") = r.seconds)
    hostAndOverhead(out, host0, host1, cpu1 - cpu0, p.wallS / out.e2e("wall_s"))
    spans
  }

  /** writes the pins file from one pass over all 42 bench queries */
  def pin(spark: SparkSession, a: Args): Unit = {
    val q = new QueryMix(spark, a.data)
    val runs = q.pass(graft.SparkEntry.benchQueries)
    QueryMix.writePins(a.pins, runs)
    println(s"pinned ${runs.size} queries to ${a.pins}")
  }

  // ---- traced repetition ----------------------------------------------

  /** runs `body` traced and fills the Spark and trace layer metrics */
  def tracedRun[T](spark: SparkSession, probe: SparkProbe, out: Outcome)(body: => T): (T, Seq[Span]) = {
    val sc = spark.sparkContext
    SparkProbe.drain(sc)
    probe.reset()
    probe.shapes = true
    val (cg0, cgNs0) = SparkProbe.codegen
    Trace.reset()
    Trace.enabled = true
    val res = body
    out.layer("jvm.peak_heap_mib") = HeapWatch.peakOrLiveMiB()
    SparkProbe.drain(sc)
    Trace.enabled = false
    probe.shapes = false
    val (cg1, cgNs1) = SparkProbe.codegen
    val spans = Trace.all
    val L = out.layer
    val MiB = 1048576.0
    L("spark.jobs") = probe.jobs.get.toDouble
    L("spark.stages") = probe.stages.get.toDouble
    L("spark.tasks") = probe.tasks.get.toDouble
    L("spark.failed_tasks") = probe.failedTasks.get.toDouble
    L("spark.executor_run_s") = probe.runMs.get / 1e3
    L("spark.executor_cpu_s") = probe.cpuNs.get / 1e9
    L("spark.gc_s") = probe.gcMs.get / 1e3
    L("spark.scheduler_delay_s") = probe.delayMs.get / 1e3
    L("spark.fetch_wait_s") = probe.fetchWaitMs.get / 1e3
    L("spark.shuffle_read_mib") = probe.shuffleReadB.get / MiB
    L("spark.shuffle_write_mib") = probe.shuffleWriteB.get / MiB
    L("spark.spill_mib") = probe.spillB.get / MiB
    L("spark.peak_exec_mem_mib") = probe.peakExecMemB.get / MiB
    L("spark.max_task_shuffle_read_mib") = probe.maxTaskShuffleReadB.get / MiB
    L("spark.planning_s") = probe.planningMs.get / 1e3
    L("spark.codegen_compiles") = (cg1 - cg0).toDouble
    L("spark.codegen_compile_s") = (cgNs1 - cgNs0) / 1e9
    L("spark.plan.exchanges") = probe.exchanges.get.toDouble
    L("spark.plan.broadcasts") = probe.broadcasts.get.toDouble
    L("spark.plan.sorts") = probe.sorts.get.toDouble
    L("spark.plan.non_codegen_nodes") = probe.nonCodegen.get.toDouble

    val self = Trace.selfTimes(spans)
    spans.groupBy(_.kind).foreach { case (k, ss) =>
      L(s"trace.self.${k}_s") = ss.map(s => self(s.id)).sum / 1e9
    }
    val root = spans.filter(_.kind == "workload")
    L("trace.unattributed_ratio") = root.map(s => self(s.id)).sum.toDouble / root.map(_.dur).sum
    (res, spans)
  }

  def hostAndOverhead(out: Outcome, h0: (Double, Double), h1: (Double, Double),
      ownCpuS: Double, overhead: Double): Unit = {
    out.layer("host.steal_s") = h1._2 - h0._2
    out.layer("host.foreign_cpu_s") = math.max(0.0, (h1._1 - h0._1) - ownCpuS)
    out.layer("trace.overhead_ratio") = overhead
  }
}
