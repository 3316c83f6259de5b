package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.exec.{CopyExecutor, FileOps, HadoopFileOps}
import graft.operators.PackingOps
import graft.sources.InventoryDataSource

/** A graftfs account whose objects live in a local backing directory. */
final case class Account(name: String, dir: Path) {
  val backing: Path = dir.toAbsolutePath.normalize
  val uri: String = s"graftfs://$name"
  val conf: Map[String, String] = Map(
    "fs.graftfs.impl" -> "graft.exec.GraftFsFileSystem",
    s"fs.graftfs.root.$name" -> backing.toString,
    "fs.graftfs.token.provider" -> "graft.exec.CountingTokenProvider")
  def fs: FileSystem = {
    val c = new Configuration()
    conf.foreach { case (k, v) => c.set(k, v) }
    new HPath(uri + "/").getFileSystem(c)
  }
  def ops: FileOps = new HadoopFileOps(uri, conf)
  def local(name: String): Path = Paths.get(backing.toString + name)
  def wipe(): Unit = { Migrate.deleteTree(backing); Files.createDirectories(backing); () }
}

/** What one timed repetition of a migration produced. */
final case class RepResult(wallS: Double, cpuS: Double,
    phases: Seq[(String, Double)], units: Int, copyStatus: Map[String, Long],
    verify: Seq[(String, String, Long)], scanDirs: Long, scanRows: Long) {
  def verifiedMiB: Double = verify.filter(_._2 == "ok").map(_._3).sum / 1048576.0
  def phase(p: String): Double = phases.filter(_._1 == p).map(_._2).sum
}

/** The two migration workloads: the reference's whole job on an empty
  * destination (fresh), and its re-run over a damaged destination
  * (resync). Both run one closed loop: the driver thread submits each
  * step and waits for it; Spark's local[N] runs N copy tasks at a time. */
final class Migrate(spark: SparkSession, cpus: Int, seed: Long, work: Path,
    val tree: TreeGen.Tree) {
  import Migrate._

  val src: Account = Account("src", work.resolve("src"))
  val dst: Account = Account("dst", work.resolve("dst"))
  val (users, groups) = TreeGen.idMap(seed)
  lazy val damage: Damage = TreeGen.damage(seed, tree)
  def sourceEntries(withAdded: Boolean): Vector[Entry] =
    if (withAdded) (tree.entries ++ damage.added).sortBy(_.name) else tree.entries

  def manifest(resync: Boolean): String = TreeGen.manifest(
    Seq(s"seed=$seed") ++ sourceEntries(resync).map(TreeGen.describe) ++
      users.toSeq.sorted.map(u => s"user ${u._1}->${u._2}") ++
      groups.toSeq.sorted.map(g => s"group ${g._1}->${g._2}") ++
      (if (resync) damage.deleted.map("delete " + _) ++
        damage.truncated.map(t => s"truncate ${t._1} ${t._2}") ++
        damage.removedDirs.map("rmdir " + _)
      else Nil))

  // ---- inputs -------------------------------------------------------

  /** writes the source tree: bytes straight into the store's backing
    * directory, then ownership through the store's setOwner/setPermission,
    * so a listing returns them the way an HDFS listing would */
  def writeSource(entries: Seq[Entry]): Unit = {
    val buf = new Array[Byte](1 << 20)
    entries.foreach { e =>
      val p = src.local(e.name)
      if (e.isDir) Files.createDirectories(p)
      else {
        Files.createDirectories(p.getParent)
        val out = Files.newOutputStream(p)
        try {
          val r = TreeGen.content(seed, e.name)
          var left = e.len
          while (left > 0) {
            val n = math.min(left, buf.length.toLong).toInt
            TreeGen.fill(r, buf, n)
            out.write(buf, 0, n)
            left -= n
          }
        } finally out.close()
      }
    }
    val fs = src.fs
    entries.foreach { e =>
      val p = new HPath(src.uri + e.name)
      fs.setOwner(p, e.owner, e.grp)
      fs.setPermission(p, FsPermission.valueOf((if (e.isDir) "d" else "-") + e.perms))
    }
  }

  /** lays down the destination a clean copy of the tree leaves: payload
    * bytes plus one `.acl` sidecar per entry with the remapped owner */
  def seedDestination(): Unit = tree.entries.foreach { e =>
    val p = dst.local(e.name)
    if (e.isDir) Files.createDirectories(p)
    else {
      Files.createDirectories(p.getParent)
      Files.copy(src.local(e.name), p)
    }
    Files.write(dst.local(e.name + ".acl"), aclLine(e).getBytes("UTF-8"))
  }

  private def aclLine(e: Entry): String =
    s"${users.getOrElse(e.owner, e.owner)}:${groups.getOrElse(e.grp, e.grp)}:${e.perms}"

  /** applies the damage set to a complete destination, then ages every
    * remaining payload file so the files the repair rewrites stand out by
    * modification time */
  def applyDamage(): Unit = {
    damage.removedDirs.foreach(d => deleteTree(dst.local(d)))
    damage.deleted.foreach(n => Files.deleteIfExists(dst.local(n)))
    damage.added.foreach(e => Files.deleteIfExists(dst.local(e.name)))
    damage.truncated.foreach { case (n, len) =>
      val ch = java.nio.channels.FileChannel.open(dst.local(n), java.nio.file.StandardOpenOption.WRITE)
      try ch.truncate(len) finally ch.close()
    }
    val old = java.nio.file.attribute.FileTime.fromMillis(OldMtimeMs)
    payloadFiles(dst).foreach(p => Files.setLastModifiedTime(p, old))
  }

  /** the payload files the repair must rewrite */
  def expectedRewrites: Set[String] =
    (damage.deleted ++ damage.truncated.map(_._1) ++ damage.added.map(_.name) ++
      tree.files.map(_.name).filter(n => damage.removedDirs.exists(d => n.startsWith(d + "/")))).toSet

  // ---- the job ------------------------------------------------------

  private def scan(): DataFrame = {
    val r = src.conf.foldLeft(
      spark.read.format("graft-inventory").option("root", src.uri + "/")) {
      case (rd, (k, v)) => rd.option("hadoop." + k, v)
    }
    r.load().select("name", "parent_directory", "is_folder", "length", "owner", "grp", "perms")
  }

  /** the broadcast identity remap: mapped principals replaced, unmapped
    * ones passed through */
  private def remap(inv: DataFrame): DataFrame = {
    import spark.implicits._
    val mu = users.toSeq.toDF("u_source", "u_target")
    val mg = groups.toSeq.toDF("g_source", "g_target")
    inv.join(broadcast(mu), col("owner") === col("u_source"), "left")
      .join(broadcast(mg), col("grp") === col("g_source"), "left")
      .select(col("name"), col("parent_directory"), col("is_folder"), col("length"),
        coalesce(col("u_target"), col("owner")).as("owner"),
        coalesce(col("g_target"), col("grp")).as("grp"), col("perms"))
  }

  private def materialize(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_ONLY)
    p.count()
    p
  }

  /** directory totals packed next-fit into units of 1/4 of the tree (the
    * Data Box size of the reference); a directory larger than a unit (unit
    * 0: the 40 MiB file's) ships as a unit of its own, 4 units in all */
  private def pack(rem: DataFrame): Map[String, Long] = {
    val sizes = rem.filter(!col("is_folder"))
      .groupBy(col("parent_directory").as("path")).agg(sum("length").as("size"))
    val capacity = (sizes.agg(sum("size")).first().getLong(0) + 3) / 4
    val asg = PackingOps.nextFitDist(spark, sizes, capacity = capacity)
      .select("path", "unit").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    graft.CacheTracker.releaseAll()
    val top = asg.values.max
    asg ++ asg.filter(_._2 == 0L).keys.toSeq.sorted.zipWithIndex
      .map { case (d, i) => d -> (top + 1 + i) }
  }

  private def tally(res: DataFrame, into: mutable.Map[String, Long]): Unit =
    res.groupBy(col("status"), col("detail") === "dir").count().collect().foreach { r =>
      val k = (if (r.getBoolean(1)) "dir_" else "file_") + r.getString(0)
      into(k) = into.getOrElse(k, 0L) + r.getLong(2)
    }

  private def collectVerify(v: DataFrame): Seq[(String, String, Long)] =
    v.select("dir", "status", "src_bytes").collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq

  /** One repetition of the job. fresh: scan, remap, pack, one copy per
    * unit, verify. resync: scan, remap, repair (verify, then re-copy of
    * the damaged directories with the exists/length preflight), final
    * verify. */
  def job(fresh: Boolean, timing: Boolean): RepResult = {
    val srcOps = if (timing) new TimingFileOps(src.ops) else src.ops
    val dstOps = if (timing) new TimingFileOps(dst.ops) else dst.ops
    val phases = mutable.ArrayBuffer.empty[(String, Double)]
    def phase[T](name: String, kind: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val out = Trace.span(name, kind)(body)
      phases += name.takeWhile(_ != ' ') -> (System.nanoTime() - t0) / 1e9
      out
    }
    val status = mutable.Map.empty[String, Long]
    HeapWatch.reset()
    val cpu0 = Host.processCpuS
    val t0 = System.nanoTime()
    var units = 0
    val (d0, r0) = (InventoryDataSource.dirsListed.get, InventoryDataSource.rowsEmitted.get)
    val verify = Trace.span(if (fresh) "migrate_fresh" else "migrate_resync", "workload") {
      val inv = phase("scan", "sources")(materialize(scan()))
      val rem = phase("remap", "operators")(materialize(remap(inv)))
      val out = if (fresh) {
        val asg = phase("pack", "operators")(pack(rem))
        val byUnit = asg.toSeq.groupBy(_._2).toSeq.sortBy(_._1).map(_._2.map(_._1))
        units = byUnit.size
        val withFiles = asg.keySet
        val bare = tree.dirs.map(_.name).filterNot(withFiles)
        byUnit.zipWithIndex.foreach { case (dirs, i) =>
          val folders = if (i == 0) dirs ++ bare else dirs
          phase(s"copy unit ${i + 1}", "exec") {
            val slice = rem.filter((!col("is_folder") && col("parent_directory").isin(dirs: _*)) ||
              (col("is_folder") && col("name").isin(folders: _*)))
            tally(CopyExecutor.copyInventory(spark, slice, dstOps, cpus, Some(srcOps)), status)
          }
        }
        phase("verify", "exec")(collectVerify(CopyExecutor.verifyCopy(spark, rem, dstOps, cpus)))
      } else {
        val after = phase("repair", "exec") {
          val (res, after) = CopyExecutor.repairCopy(spark, rem, dstOps, cpus, Some(srcOps))
          tally(res, status)
          after
        }
        phase("verify", "exec")(collectVerify(after))
      }
      inv.unpersist(blocking = true)
      rem.unpersist(blocking = true)
      out
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = Host.processCpuS - cpu0
    spark.catalog.clearCache()
    RepResult(wall, cpu, phases.toSeq, units, status.toMap, verify,
      InventoryDataSource.dirsListed.get - d0, InventoryDataSource.rowsEmitted.get - r0)
  }

  // ---- checks -------------------------------------------------------

  /** every entry's .acl sidecar carries the remapped owner and group and
    * the source permissions; returns the failures */
  def aclFailures(entries: Seq[Entry]): Seq[String] = entries.flatMap { e =>
    val want = aclLine(e)
    val p = dst.local(e.name + ".acl")
    val got = if (Files.exists(p)) new String(Files.readAllBytes(p), "UTF-8") else "<missing>"
    if (got == want) None else Some(s"acl ${e.name}: want $want got $got")
  }

  /** byte-identity of the listed files against the source */
  def byteFailures(names: Seq[String]): Seq[String] = names.flatMap { n =>
    val d = dst.local(n)
    if (!Files.exists(d)) Some(s"missing $n")
    else if (Files.mismatch(src.local(n), d) != -1L) Some(s"bytes differ: $n")
    else None
  }

  /** multi-chunk files plus a seeded sample of 50 others */
  def byteSample(files: Seq[Entry]): Seq[String] = {
    val (multi, rest) = files.partition(_.len > CopyExecutor.BlockSize)
    multi.map(_.name) ++
      TreeGen.shuffle(new java.util.SplittableRandom(seed ^ 0x2545f4914f6cdd1dL), rest.map(_.name)).take(50)
  }

  /** destination payload files rewritten since [[applyDamage]] */
  def rewritten(): Set[String] = payloadFiles(dst)
    .filter(p => Files.getLastModifiedTime(p).toMillis > OldMtimeMs + 1000L)
    .map(p => "/" + dst.backing.relativize(p).toString.replace('\\', '/')).toSet

  def dstObjects: Long = {
    val s = Files.walk(dst.backing)
    try s.iterator.asScala.count(p => p != dst.backing).toLong finally s.close()
  }
}

object Migrate {
  /** 2000-01-01: destination payload is aged to this before a repair */
  val OldMtimeMs = 946684800000L

  def payloadFiles(a: Account): Seq[Path] = {
    val s = Files.walk(a.backing)
    try s.iterator.asScala.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && !n.endsWith(".acl") && !n.endsWith(".meta") &&
        n != "_graftfs_owners" && n != "_copied"
    }.toVector
    finally s.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator.asScala.toVector.reverse.foreach(Files.delete) finally s.close()
  }
}
