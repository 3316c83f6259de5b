package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.exec.CopyExecutor

/** Tests of the benchmark's own machinery; run with
  * `python3 perfbench/run.py --selftest`. Exits non-zero on the first
  * failed check. */
object SelfTest {
  private var n = 0
  private def check(what: String)(ok: => Boolean): Unit = {
    n += 1
    if (!ok) { System.err.println(s"FAIL $what"); sys.exit(1) }
    println(s"ok   $what")
  }

  def main(args: Array[String]): Unit = {
    val work = java.nio.file.Paths.get(args(0))
    spanArithmetic()
    generatorDeterminism()
    jsonUnderCommaLocale()
    decoratorIdentity(work)
    println(s"$n checks passed")
  }

  def spanArithmetic(): Unit = {
    val root = Span(1, 0, "w", "workload", 0, 100)
    val a = Span(2, 1, "a", "phase", 10, 40)
    val b = Span(3, 1, "b", "phase", 30, 60) // overlaps a
    val c = Span(4, 1, "c", "phase", 90, 130) // sticks out of root
    val a1 = Span(5, 2, "a1", "job", 10, 20)
    val a2 = Span(6, 2, "a2", "job", 15, 25)
    val self = Trace.selfTimes(Seq(root, a, b, c, a1, a2))
    check("self time: parent minus the union of overlapping children, clipped")(
      self(1) == 100 - (50 + 10))
    check("self time: overlapping children counted once")(self(2) == 30 - 15)
    check("self time: leaf span is its duration")(self(3) == 30 && self(5) == 10)
    check("self time: no children")(self(4) == 40)
    check("self time: empty input")(Trace.selfTimes(Nil).isEmpty)
  }

  def generatorDeterminism(): Unit = {
    val t1 = TreeGen.tree(7L)
    val t2 = TreeGen.tree(7L)
    val t3 = TreeGen.tree(8L)
    check("tree: same seed, same tree")(t1 == t2)
    check("tree: other seed, other tree")(t1 != t3)
    check("tree: 150 files, 32 directories")(t1.files.size == TreeGen.NFiles && t1.dirs.size == 32)
    check("tree: every file's parent directory exists")(
      t1.files.forall(f => t1.dirs.exists(_.name == f.parent)))
    check("tree: each large file has a directory of its own")(
      t1.files.filter(_.len >= 20 * TreeGen.MiB).map(_.parent).distinct.size == 2)
    check("damage: same seed, same damage")(TreeGen.damage(7L, t1) == TreeGen.damage(7L, t2))
    val d = TreeGen.damage(7L, t1)
    check("damage: a 40 MiB file torn at the 20 MiB chunk boundary")(
      d.truncated.exists { case (n, len) =>
        len == CopyExecutor.BlockSize && t1.files.exists(f => f.name == n && f.len >= 40 * TreeGen.MiB)
      })
    check("damage: one removed directory is empty")(d.removedDirs.exists(t1.empty))
    check("id map: same seed, same map; 70 % mapped")(
      TreeGen.idMap(7L) == TreeGen.idMap(7L) && TreeGen.idMap(7L)._1.size == 140)
    val b1 = new Array[Byte](1000); val b2 = new Array[Byte](1000)
    TreeGen.fill(TreeGen.content(7L, "/x"), b1, 1000)
    TreeGen.fill(TreeGen.content(7L, "/x"), b2, 1000)
    check("content: a function of seed and name")(java.util.Arrays.equals(b1, b2))
    val b3 = new Array[Byte](997)
    TreeGen.fill(TreeGen.content(7L, "/x"), b3, 997)
    check("content: a partial last long is a prefix of the whole one")(
      java.util.Arrays.equals(b3, b1.take(997)))
    val m1 = TreeGen.manifest(t1.entries.map(TreeGen.describe))
    check("manifest: same seed, same hash")(m1 == TreeGen.manifest(t2.entries.map(TreeGen.describe)))
    check("manifest: other seed, other hash")(m1 != TreeGen.manifest(t3.entries.map(TreeGen.describe)))
    val names = (1 to 42).map(i => s"q$i")
    val o1 = TreeGen.shuffle(new java.util.SplittableRandom(3L), names)
    check("query order: a seeded permutation")(
      o1 == TreeGen.shuffle(new java.util.SplittableRandom(3L), names) && o1.sorted == names.sorted &&
        o1 != TreeGen.shuffle(new java.util.SplittableRandom(4L), names))
  }

  def jsonUnderCommaLocale(): Unit = {
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try {
      val m = new Json.Metrics
      m.put("latency_ms", 1.2034, "ms")
      m.put("setup_s", 0.000123456789, "s")
      m.put("n", 42.0, "count")
      m.put("big", 1.5e17, "count")
      val line = Json.result(true, 1000, 0, m)
      val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
      val back = tree.get("metrics").fields.asScala.map(e =>
        e.getKey -> e.getValue.get("value").asDouble).toMap
      check(s"json: round-trips under a comma-decimal locale: $line")(
        back == Map("latency_ms" -> 1.2034, "setup_s" -> 0.000123456789, "n" -> 42.0, "big" -> 1.5e17) &&
          tree.get("attempted").asLong == 1000L && tree.get("correct").asBoolean)
    } finally java.util.Locale.setDefault(saved)
  }

  /** the same copy with and without the timing decorator lands the same
    * bytes, sidecars and statuses */
  def decoratorIdentity(work: Path): Unit = {
    val spark = graft.Sessions.local("2")
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    try {
      val srcDir = work.resolve("st-src")
      Migrate.deleteTree(srcDir)
      Files.createDirectories(srcDir)
      val src = Account("stsrc", srcDir)
      val block = 64 * 1024
      val files = Seq("/a/x.bin" -> (2L * block + 17), "/a/y.bin" -> 3L * block,
        "/a/b/z.bin" -> 5L, "/a/b/e.bin" -> 0L)
      val r = new java.util.SplittableRandom(1L)
      files.foreach { case (n, len) =>
        val p = src.local(n)
        Files.createDirectories(p.getParent)
        val buf = new Array[Byte](len.toInt)
        TreeGen.fill(r, buf, buf.length)
        Files.write(p, buf)
      }
      val inv = (Seq(("/a", "/", true, 0L), ("/a/b", "/a", true, 0L)) ++
        files.map { case (n, len) => (n, n.substring(0, n.lastIndexOf('/')), false, len) })
        .toDF("name", "parent_directory", "is_folder", "length")
        .selectExpr("*", "'u1' AS owner", "'g1' AS grp", "'rw-r-----' AS perms")
      def copy(tag: String, timing: Boolean): (Set[(String, String, String)], Map[String, Seq[Byte]]) = {
        val dir = work.resolve(s"st-$tag")
        Migrate.deleteTree(dir)
        Files.createDirectories(dir)
        val dst = Account(s"st$tag", dir)
        val (s, d) = if (timing) (new TimingFileOps(src.ops), new TimingFileOps(dst.ops))
                     else (src.ops, dst.ops)
        val res = CopyExecutor.copyInventory(spark, inv, d, 2, Some(s), block.toLong)
          .collect().map(x => (x.getString(0), x.getString(1), x.getString(2))).toSet
        val st = Files.walk(dir)
        val bytes = try st.iterator.asScala.filter(Files.isRegularFile(_)).map { p =>
          dir.relativize(p).toString -> Files.readAllBytes(p).toSeq
        }.toMap finally st.close()
        (res, bytes)
      }
      VerbStats.reset()
      val (plainRes, plainBytes) = copy("plain", timing = false)
      val (timedRes, timedBytes) = copy("timed", timing = true)
      check(s"decorator: statuses identical: $plainRes vs $timedRes")(plainRes == timedRes && plainRes.forall(_._2 == "ok"))
      check("decorator: bytes and sidecars identical")(plainBytes == timedBytes && plainBytes.size == 10)
      check("decorator: counted the chunked verbs")(
        VerbStats.stats("append").n.get == 3 + 3 + 1 &&
          VerbStats.bytesWritten.get == files.map(_._2).sum)
    } finally spark.stop()
  }
}
