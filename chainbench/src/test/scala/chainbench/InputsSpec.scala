package chainbench

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The seeded generation: the same seed gives byte-identical inputs, a
  * different seed a different deal of the same blocks.
  */
class InputsSpec extends AnyFunSuite {

  private val scratch: Path = Paths.get("target", "inputs-spec").toAbsolutePath

  /** A framed record whose 80-byte header starts with `i`. */
  private def record(i: Int): Array[Byte] = {
    val body = new Array[Byte](80 + i % 7)
    java.nio.ByteBuffer.wrap(body).putInt(i)
    val len = body.length
    Array[Byte](0xf9.toByte, 0xbe.toByte, 0xb4.toByte, 0xd9.toByte,
      len.toByte, (len >> 8).toByte, (len >> 16).toByte, (len >> 24).toByte) ++ body
  }

  private def corpus(n: Int): Seq[Rec] = {
    val dir = scratch.resolve(s"corpus$n")
    Run.deleteRecursively(dir)
    // two files, so reading has to merge them back into one sorted set
    Inputs.writeBlk(dir.resolve("blk00000.dat"), (0 until n by 2).map(i => Rec(record(i), "")))
    Inputs.writeBlk(dir.resolve("blk00001.dat"), (1 until n by 2).map(i => Rec(record(i), "")))
    Inputs.readRecords(dir.toString).toSeq
  }

  private def dealtBytes(recs: Seq[Rec], seed: Long, tag: String): Seq[Seq[Byte]] = {
    val dir = scratch.resolve(tag)
    Run.deleteRecursively(dir)
    Inputs.writeDealt(dir, recs, 8, seed).map(p => Files.readAllBytes(p).toSeq)
  }

  test("records read back whole, once each, in hash order") {
    val recs = corpus(200)
    assert(recs.length == 200)
    assert(recs.map(_.hash).distinct.length == 200)
    assert(recs.map(_.hash) == recs.map(_.hash).sorted)
  }

  test("the same seed gives byte-identical deals and feeds") {
    val recs = corpus(200)
    assert(dealtBytes(recs, 7, "a") == dealtBytes(recs, 7, "b"))
    assert(Inputs.cutAround(recs, 140, 20, 7).map(_.map(_.hash)) ==
      Inputs.cutAround(recs, 140, 20, 7).map(_.map(_.hash)))
  }

  test("a different seed deals differently but the same blocks") {
    val recs = corpus(200)
    val a = dealtBytes(recs, 7, "a")
    val b = dealtBytes(recs, 8, "b")
    assert(a != b)
    def blocks(files: Seq[Seq[Byte]]) = {
      val dir = scratch.resolve("reread")
      Run.deleteRecursively(dir)
      files.zipWithIndex.foreach { case (f, i) =>
        Files.createDirectories(dir)
        Files.write(dir.resolve(Inputs.blkName(i)), f.toArray)
      }
      Inputs.readRecords(dir.toString).toSeq.map(r => r.hash -> r.bytes.toSeq)
    }
    // identical block content is what keeps every expected digest the same
    assert(blocks(a) == blocks(b))
    assert(blocks(a) == recs.map(r => r.hash -> r.bytes.toSeq))
    val xs = (0 until 300).toSeq
    assert((1 to 10).map(Inputs.cutAround(xs, 140, 20, _).map(_.size)).distinct.size > 1)
  }

  test("feed cuts cover the feed in order, the pivot always in the middle file") {
    val xs = (0 until 300).toSeq
    (1 to 200).foreach { seed =>
      val parts = Inputs.cutAround(xs, 140, 20, seed)
      assert(parts.size == 3)
      assert(parts.forall(_.nonEmpty))
      assert(parts.flatten == xs)
      assert(parts(1).contains(140))
    }
    // both ends of each window are reachable, and nothing beyond them
    val sizes = (1 to 2000).map(Inputs.cutAround(xs, 140, 20, _).map(_.size))
    assert(sizes.map(_.head).min == 121 && sizes.map(_.head).max == 140)
    assert(sizes.map(_.last).min == 140 && sizes.map(_.last).max == 159)
  }
}
