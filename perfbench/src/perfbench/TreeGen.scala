package perfbench

import java.util.SplittableRandom

/** One entry of a generated source tree, as an HDFS listing returns it. */
final case class Entry(name: String, isDir: Boolean, len: Long,
    owner: String, grp: String, perms: String) {
  def parent: String = {
    val i = name.lastIndexOf('/')
    if (i <= 0) "/" else name.substring(0, i)
  }
}

/** The seeded damage a re-run must repair: deleted and truncated
  * destination files (truncated to the given length), destination
  * directories removed whole, and source files added after the copy. */
final case class Damage(deleted: Seq[String], truncated: Seq[(String, Long)],
    removedDirs: Seq[String], added: Seq[Entry])

/** Seeded generator of the migration inputs. The same seed gives the same
  * tree, contents, identity map and damage set; [[manifest]] hashes all of
  * them so two runs can show they received identical inputs.
  *
  * Shape (fixed counts, seeded sizes and placement). Each file costs the
  * copy path a few process-spawning metadata calls, so the file count sets
  * the run length; it is kept small while the proportions stay:
  *  - 150 files: 90 % small (0 B to 64 KiB), 9 % medium (64 KiB to 16 MiB),
  *    and two large ones, of 20 to 22 MiB and of 40 to 42 MiB, so the
  *    20 MiB chunk loop runs two and three blocks per file.
  *  - a fixed skeleton of 32 directories up to depth 4; three hot
  *    directories hold 25 small files each, three leaves stay empty, each
  *    large file sits in a directory of its own, the other files are dealt
  *    round the remaining directories. Sizes are drawn one per stratum, so
  *    the total and the unit layout barely move from seed to seed.
  *  - owners Zipf over 200 users, groups Zipf over 40 groups; 70 % of
  *    each are mapped by the identity map.
  */
object TreeGen {
  val MiB: Long = 1L << 20
  val NFiles = 150
  val NUsers = 200
  val NGroups = 40

  private val FilePerms = Vector("rw-r--r--", "rw-r-----", "rw-rw-r--", "rwxr-x---")
  private val DirPerms = Vector("rwxr-xr-x", "rwxr-x---", "rwxrwxr-x")

  /** Zipf(1.1) sampler over 0 until n */
  private final class Zipf(n: Int) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, 1.1))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    def draw(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private def user(i: Int) = f"u$i%03d"
  private def group(i: Int) = f"g$i%02d"

  final case class Tree(entries: Vector[Entry], hot: Set[String], empty: Set[String]) {
    def files: Vector[Entry] = entries.filterNot(_.isDir)
    def dirs: Vector[Entry] = entries.filter(_.isDir)
  }

  /** The directory skeleton and the role of each directory are fixed, so
    * every seed gets the same depth profile and unit layout: 8 top-level
    * directories, 12 below them, 8 at depth 3, 4 at depth 4; indices 19,
    * 27 and 31 are the empty leaves, 6, 14 and 21 the hot directories, 17
    * and 30 hold the large files. The seed draws the sizes, owners,
    * contents and the damage. */
  val Skeleton: Vector[String] = {
    val top = (0 until 8).map(i => f"/d$i%02d")
    val d2 = (0 until 12).map(i => f"${top(i % 8)}/s$i%02d")
    val d3 = (0 until 8).map(i => f"${d2(i)}/t$i%02d")
    val d4 = (0 until 4).map(i => f"${d3(i)}/u$i%02d")
    (top ++ d2 ++ d3 ++ d4).toVector
  }

  /** `n` log-uniform sizes in [lo, hi), one per equal-probability stratum,
    * so their sum barely moves from seed to seed */
  private def stratified(r: SplittableRandom, n: Int, lo: Long, hi: Long): Vector[Long] =
    Vector.tabulate(n) { i =>
      val u = (i + r.nextDouble()) / n
      math.exp(math.log(lo.toDouble) + u * (math.log(hi.toDouble) - math.log(lo.toDouble))).toLong
    }

  def tree(seed: Long): Tree = {
    val r = new SplittableRandom(seed)
    val users = new Zipf(NUsers)
    val groups = new Zipf(NGroups)
    def own(isDir: Boolean) = (user(users.draw(r)), group(groups.draw(r)),
      if (isDir) DirPerms(r.nextInt(DirPerms.size)) else FilePerms(r.nextInt(FilePerms.size)))

    val dirs = Skeleton
    val empty = Set(19, 27, 31).map(dirs)
    val hot = Set(6, 14, 21).map(dirs)
    val bigDirs = Vector(17, 30).map(dirs)
    val other = dirs.filterNot(d => empty(d) || hot(d) || bigDirs.contains(d))

    val nSmall = NFiles * 90 / 100
    val small = shuffle(r, Vector.fill(nSmall / 50)(0L) ++ stratified(r, nSmall - nSmall / 50, 16, 64 * 1024))
    val medium = stratified(r, NFiles * 9 / 100, 64 * 1024 + 1, 16 * MiB)
    val large = Vector(20 * MiB + r.nextLong(2 * MiB), 40 * MiB + r.nextLong(2 * MiB))

    // hot directories take 25 small files each; the other small files and
    // the medium ones (largest first, dealt back and forth so no directory
    // collects two large ones) go round the remaining directories; every
    // large file has a directory to itself
    val perHot = 25
    def deal(xs: Seq[Long]): Seq[(Long, String)] = xs.zipWithIndex.map { case (len, i) =>
      val k = i % other.size
      len -> other(if ((i / other.size) % 2 == 0) k else other.size - 1 - k)
    }
    val placed: Vector[(Long, String)] =
      hot.toVector.sorted.zipWithIndex.flatMap { case (d, h) =>
        small.slice(h * perHot, (h + 1) * perHot).map(_ -> d)
      } ++ deal(small.drop(3 * perHot)) ++ deal(medium.sortBy(-_))

    val files = placed.zipWithIndex.map { case ((len, dir), i) =>
      val (o, g, p) = own(false)
      Entry(f"$dir/f$i%04d.dat", isDir = false, len, o, g, p)
    } ++ large.zip(bigDirs).zipWithIndex.map { case ((len, dir), i) =>
      val (o, g, p) = own(false)
      Entry(f"$dir/big$i%02d.bin", isDir = false, len, o, g, p)
    }
    val dirEntries = dirs.map { d => val (o, g, p) = own(true); Entry(d, isDir = true, 0L, o, g, p) }
    Tree((dirEntries ++ files).sortBy(_.name), hot, empty)
  }

  /** identity map: 70 % of users and groups, chosen by the seed */
  def idMap(seed: Long): (Map[String, String], Map[String, String]) = {
    val r = new SplittableRandom(seed ^ 0x1d3a9b5c7e2f4a61L)
    def pick(n: Int, name: Int => String) =
      shuffle(r, (0 until n).toVector).take(n * 7 / 10).map(i => name(i) -> s"aad-${name(i)}").toMap
    (pick(NUsers, user), pick(NGroups, group))
  }

  /** The damage set for the re-run workload, laid out so every seed
    * damages the same number of directories of each kind: two leaf
    * directories with files and one empty one removed; one file deleted and
    * one new source file added in one hot directory and in two other
    * directories; two files truncated, the 40 MiB file torn exactly at the
    * first 20 MiB chunk boundary and one in a second hot directory. That is
    * 2 % deleted, about 1 % truncated and 2 % added. */
  def damage(seed: Long, t: Tree): Damage = {
    val r = new SplittableRandom(seed ^ 0x5bd1e9955bd1e995L)
    val byDir = t.files.groupBy(_.parent)
    val dirs = t.dirs.map(_.name)
    val leaves = dirs.filter(d => !dirs.exists(_.startsWith(d + "/"))).toSet
    val bigDirs = t.files.filter(_.len >= 20 * MiB).map(_.parent).toSet
    val others = shuffle(r, dirs.filter(d => byDir.contains(d) && !t.hot(d) && !bigDirs(d)))
    val removedFull = others.filter(leaves).take(2)
    val damaged = others.filterNot(removedFull.contains).take(2)
    val hot = shuffle(r, t.hot.toVector.sorted)
    def pick(d: String, not: Set[String] = Set.empty): Entry = {
      val c = byDir(d).filter(f => f.len > 1 && !not(f.name)).sortBy(_.name)
      c(r.nextInt(c.size))
    }
    val deleted = (hot.take(1) ++ damaged).map(d => pick(d).name)
    val torn = t.files.filter(_.len >= 40 * MiB).head
    val truncated = Seq((torn.name, 20 * MiB), { val e = pick(hot(1)); (e.name, e.len / 2) })
    val sizes = stratified(r, deleted.size, 16, 256 * 1024)
    val added = (hot.take(1) ++ damaged).zip(sizes).zipWithIndex.map { case ((d, len), i) =>
      Entry(f"$d/new$i%03d.dat", isDir = false, len, user(r.nextInt(NUsers)),
        group(r.nextInt(NGroups)), FilePerms(r.nextInt(FilePerms.size)))
    }
    val removed = (shuffle(r, t.empty.toVector.sorted).head +: removedFull).sorted
    Damage(deleted.sorted, truncated.sortBy(_._1), removed, added.sortBy(_.name))
  }

  /** the content stream of one file: a function of (seed, name) only */
  def content(seed: Long, name: String): SplittableRandom =
    new SplittableRandom(seed * 0x9e3779b97f4a7c15L + name.hashCode)

  /** the next `n` bytes of a content stream, each long little-endian; `n`
    * is a multiple of 8 except for the last block of a file. Whole longs
    * are stored eight bytes at a time: a byte loop made set-up time swing
    * with how the JIT compiled it. */
  def fill(r: SplittableRandom, buf: Array[Byte], n: Int): Unit = {
    val bb = java.nio.ByteBuffer.wrap(buf).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i + 8 <= n) { bb.putLong(i, r.nextLong()); i += 8 }
    if (i < n) {
      var w = r.nextLong()
      while (i < n) { buf(i) = w.toByte; w >>>= 8; i += 1 }
    }
  }

  def shuffle[T](r: SplittableRandom, xs: Seq[T]): Vector[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector.asInstanceOf[Vector[T]]
  }

  /** SHA-256 over every generated input, as hex */
  def manifest(parts: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update((p + "\n").getBytes("UTF-8")))
    md.digest().map(b => "%02x".formatLocal(java.util.Locale.ROOT, b & 0xff)).mkString
  }

  def describe(e: Entry): String = s"${e.name}|${e.isDir}|${e.len}|${e.owner}|${e.grp}|${e.perms}"
}
