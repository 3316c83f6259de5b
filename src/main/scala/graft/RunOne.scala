package graft


/** Dev helper: run a single registered query and show plan + rows.
  * Usage: runMain graft.RunOne <queryName> [sfDir] [explain] [jobs] [show] [conf:k=v ...]
  * `explain` prints the AQE-final formatted plan after the first timed
  * iteration — the per-query plan evidence, e.g.
  * `sbt "runMain graft.RunOne <q> <sfDir> explain" > plans/rNN/<q>_<tag>.txt`.
  * `jobs` prints a per-Spark-job wall/desc line after each iteration —
  * the job-count/orchestration attribution view (r12: most bench queries
  * at sf0.1 are bound by per-job fixed cost, not compute).
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Sessions.local(cpus)
    if (args.contains("jobs")) {
      val t0 = System.nanoTime()
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          private val starts =
            new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
          override def onJobStart(
              js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            starts.put(js.jobId, (System.nanoTime(),
              Option(js.properties.getProperty("spark.job.description"))
                .getOrElse(js.stageInfos.headOption.map(_.name).getOrElse(""))))
          override def onJobEnd(
              je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val (s, desc) = starts.getOrDefault(je.jobId, (0L, "?"))
            println(f"[job] id=${je.jobId}%3d at=${(s - t0) / 1e9}%7.2f " +
              f"wall=${(System.nanoTime() - s) / 1e9}%6.3f  ${desc.take(110)}")
          }
        })
    }
    spark.sparkContext.setLogLevel("WARN")
    // ad-hoc runtime confs for A/B splits, e.g. conf:spark.graft.merge.checkKeys=false
    args.filter(_.startsWith("conf:")).foreach { a =>
      val kv = a.stripPrefix("conf:").split("=", 2)
      spark.conf.set(kv(0), kv(1))
    }
    val df = SparkEntry.queries(name)(spark, sfDir)
    (1 to 3).foreach { it =>
      val t0 = System.nanoTime()
      // Dataset.count() spelled out (the same plan Bench times), so the
      // executed plan stays reachable: `explain` prints it after the first
      // iteration, when AQE has finalized it (isFinalPlan=true).
      val counted = SparkEntry.queries(name)(spark, sfDir).groupBy().count()
      val n = counted.collect().head.getLong(0)
      println(f"[runone] $name iter$it rows=$n in ${(System.nanoTime() - t0) / 1e9}%.2f sec")
      if (it == 1 && args.contains("explain")) counted.explain("formatted")
    }
    if (args.contains("show")) df.show(20, truncate = false)
    spark.stop()
  }
}
