package chainbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

/** One framed blk record (magic, length, block body) and its block hash. */
final case class Rec(bytes: Array[Byte], hash: String)

/** Seeded input generation. The corpus content never depends on the seed;
  * the seed only decides what lies outside the engine: how blocks are dealt
  * across blk files and where the tip feed is cut into files. Every draw starts from the records sorted by
  * block hash, so the same seed gives byte-identical files whatever order
  * the corpus files were read in.
  */
object Inputs {

  private val Magic = Array[Byte](0xf9.toByte, 0xbe.toByte, 0xb4.toByte, 0xd9.toByte)

  /** A separate random stream per purpose, so adding a draw to one
    * workload never shifts another's.
    */
  def rng(seed: Long, purpose: String): java.util.Random =
    new java.util.Random(seed * 0x9E3779B97F4A7C15L ^ purpose.hashCode.toLong)

  private def sha256d(b: Array[Byte], off: Int, len: Int): Array[Byte] = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(b, off, len)
    md.digest(md.digest())
  }

  private val Hex = "0123456789abcdef".toCharArray
  private def revHex(h: Array[Byte]): String = {
    val out = new Array[Char](h.length * 2)
    h.indices.foreach { i =>
      val b = h(h.length - 1 - i) & 0xff
      out(2 * i) = Hex(b >>> 4); out(2 * i + 1) = Hex(b & 0xf)
    }
    new String(out)
  }

  /** Split blk files into framed records, sorted by block hash. A file ends
    * at its zero padding (or at its last byte).
    */
  def readRecords(dir: String): Array[Rec] = {
    val files = Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.matches("blk\\d+\\.dat")).toSeq.sortBy(_.toString)
    val out = Array.newBuilder[Rec]
    files.foreach { f =>
      val b = Files.readAllBytes(f)
      var p = 0
      while (p + 8 <= b.length && java.util.Arrays.equals(b.slice(p, p + 4), Magic)) {
        val len = (b(p + 4) & 0xff) | (b(p + 5) & 0xff) << 8 |
          (b(p + 6) & 0xff) << 16 | (b(p + 7) & 0xff) << 24
        out += Rec(b.slice(p, p + 8 + len), revHex(sha256d(b, p + 8, 80)))
        p += 8 + len
      }
    }
    out.result().sortBy(_.hash)
  }

  /** Fisher-Yates permutation of `n` indices. */
  def permutation(n: Int, r: java.util.Random): Array[Int] = {
    val idx = Array.range(0, n)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = idx(i); idx(i) = idx(j); idx(j) = t
      i -= 1
    }
    idx
  }

  /** Deal records round-robin into `nFiles` files in a seeded order. */
  def deal(recs: Seq[Rec], nFiles: Int, seed: Long): Seq[Seq[Rec]] = {
    val order = permutation(recs.size, rng(seed, "deal"))
    val files = Array.fill(nFiles)(Vector.newBuilder[Rec])
    order.indices.foreach(i => files(i % nFiles) += recs(order(i)))
    files.map(_.result()).toSeq
  }

  /** Cut an ordered sequence into three non-empty parts at seeded points,
    * with element `pivot` always in the middle part: `[0, a)`, `[a, b)`,
    * `[b, n)` for `a` drawn from `pivot-window+1 .. pivot` and `b` from
    * `pivot+1 .. pivot+window`.
    */
  def cutAround[A](xs: Seq[A], pivot: Int, window: Int, seed: Long): Seq[Seq[A]] = {
    require(pivot - window >= 0 && pivot + window < xs.size,
      s"pivot $pivot and window $window leave no room in ${xs.size}")
    val r = rng(seed, "cuts")
    val a = pivot - r.nextInt(window)
    val b = pivot + 1 + r.nextInt(window)
    Seq(xs.slice(0, a), xs.slice(a, b), xs.slice(b, xs.size))
  }

  /** Write one blk file: the records, then 8 bytes of zero padding the way
    * Core pads its files.
    */
  def writeBlk(path: Path, recs: Seq[Rec]): Unit = {
    Files.createDirectories(path.getParent)
    val out = new BufferedOutputStream(new FileOutputStream(path.toFile), 1 << 20)
    try { recs.foreach(r => out.write(r.bytes)); out.write(new Array[Byte](8)) }
    finally out.close()
  }

  def blkName(i: Int): String = f"blk$i%05d.dat"

  /** Deal `recs` into `nFiles` blk files under `dir`; returns the paths. */
  def writeDealt(dir: Path, recs: Seq[Rec], nFiles: Int, seed: Long): Seq[Path] =
    deal(recs, nFiles, seed).zipWithIndex.map { case (f, i) =>
      val p = dir.resolve(blkName(i))
      writeBlk(p, f)
      p
    }
}
