package graft

import org.apache.spark.sql.SparkSession

/** Shared local-mode SparkSession builder for the tool mains (Bench,
  * Verify, RunOne, ScaleData). One place for the settings every entry
  * point needs:
  *
  *  - UTC session timezone: the NTZ↔LTZ timestamp casts in
  *    Tables.events/StreamOps.eventStream are instant-preserving only
  *    under UTC (the loaders also enforce it themselves).
  *  - `spark.network.timeout` raised 120s → 600s: in local mode the
  *    driver and all "executors" share one JVM, so a long GC pause
  *    (multi-second young collections on a large heap — SCALING.md §GC)
  *    stalls every heartbeat at once; at the default timeout one pause
  *    becomes executor-lost + task-retry cascades that bill tens of
  *    seconds to whichever query was running (the BENCH_r04
  *    acl_map_entries 24s artifact). On a real cluster the same setting
  *    is the standard defense for GC-heavy executors.
  *  - AQE on (Spark 4 default, pinned explicitly), shuffle partitions =
  *    parallelism (32-thread local mode needs 32, not the 200 default).
  *  - `spark.sql.codegen.cache.maxEntries` raised 100 → 4096 (static
  *    conf, so set here at session build; a `-D` system property still
  *    overrides). The default 100-entry JVM-wide cache of compiled
  *    whole-stage-codegen classes is far below the working set of a
  *    multi-query engine — this 300-query surface (and the 42-query
  *    bench) evicts continuously, so every re-execution of a large-plan
  *    query re-runs Janino on every stage. Measured (r13, interleaved
  *    A/B/B/A on the 2-query premium reproducer from SCALING.md r12):
  *    pipeline_corpus_prep warm 9.8/5.5 s at 100 entries vs 3.7/3.3 s at
  *    8192 — the entire r12 "shared-bench premium on large-plan queries"
  *    was recompile time. Cost: cached GeneratedClass references keyed by
  *    source text, tens of KB each — ≤ a few hundred MB at the cap,
  *    appropriate for any driver/executor sized for analytics; lower it
  *    via conf on memory-tight deployments.
  */
object Sessions {
  def local(cpus: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.network.timeout", "600s")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries",
        sys.props.getOrElse("spark.sql.codegen.cache.maxEntries", "4096"))
      .getOrCreate()
}
