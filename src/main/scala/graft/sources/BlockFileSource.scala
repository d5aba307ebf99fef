package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Raw `blk*.dat` block-file source (SURVEY.md §2.1 S1) — replaces the
  * reference's bitcoinj `BlockFileLoader` (BlockchainToGraph.java:358–379)
  * with a from-scratch parser of the public Bitcoin wire format, run as a
  * distributed flatMap over `spark.read.format("binaryFile")`.
  *
  * One task per file; parsing is pure and embarrassingly parallel, so 100 TB
  * of block files is just ~66k files fanned across executors — vs the
  * reference's single-threaded driver loop. Chain ordering is NOT done here
  * (files arrive out of order, BlockchainToGraph.java:389–412): the parsed
  * bronze rows carry prev-hash pointers and [[graft.chain.BestChain]] orders
  * them set-wise.
  */
object BlockFileSource {

  case class RawInput(prev_tx_hash: String, prev_index: Int)
  case class RawOutput(idx: Int, value: Long, script: Array[Byte])
  case class RawTx(tx_hash: String, is_coinbase: Boolean,
      inputs: Seq[RawInput], outputs: Seq[RawOutput])
  case class RawBlock(hash: String, parent_hash: String, ts: Long, txs: Seq[RawTx])

  /** Start-of-record magics, big-endian as they appear in the file (public
    * chain parameters; the reference inherits them from bitcoinj's
    * NetworkParameters). Mainnet is the default everywhere.
    */
  val Magic: Int = 0xf9beb4d9
  val TestnetMagic: Int = 0x0b110907
  val RegtestMagic: Int = 0xfabfb5da
  val SignetMagic: Int = 0x0a03cf40

  /** Per-thread digest instance: `MessageDigest.getInstance` does a JCA
    * provider lookup + allocation PER CALL, and this runs once per block
    * header plus once per transaction — millions of times per blk file
    * task. `digest()` auto-resets the instance, so reuse is safe.
    */
  private val sha256 = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("SHA-256"))

  /** Per-thread 32-byte output scratch for the double hash: every caller
    * hex-encodes the result immediately, so reusing one buffer removes the
    * two fresh 32-byte arrays `MessageDigest.digest()` would otherwise
    * allocate per call — once per header plus once per tx, millions of
    * times per blk-file task at corpus scale.
    */
  private val shaOut = ThreadLocal.withInitial[Array[Byte]](() => new Array[Byte](32))

  /** Finish a double SHA-256 over whatever has been `update`d into `md`.
    * Returns the PER-THREAD scratch — valid only until the thread's next
    * sha256d/finishDouble call; callers hex it immediately.
    */
  private def finishDouble(md: MessageDigest): Array[Byte] = {
    val out = shaOut.get()
    md.digest(out, 0, 32)
    md.update(out, 0, 32)
    md.digest(out, 0, 32)
    out
  }

  private def sha256d(bytes: Array[Byte], from: Int, len: Int): Array[Byte] = {
    val md = sha256.get()
    md.update(bytes, from, len)
    finishDouble(md)
  }

  private val HexChars = "0123456789abcdef".toCharArray

  private def hashHex(h: Array[Byte]): String = hashHex(h, 0, h.length)

  /** Little-endian hash bytes → big-endian display hex (Bitcoin convention),
    * straight off a RANGE of the backing buffer — no intermediate 32-byte
    * copy per hash (the `bytes(32)`-then-hex form allocated one per input
    * and per header). Table-driven, zero intermediate allocations: the
    * format-string version built a java.util.Formatter + regex Matcher PER
    * BYTE — 64 per hash, several hashes per tx, millions per blk file —
    * which showed up as both GC pressure (an 8g 30× parse OOM'd with this
    * frame on top) and parse CPU.
    */
  private def hashHex(h: Array[Byte], off: Int, len: Int): String = {
    val out = new Array[Char](len * 2)
    var i = off + len - 1
    var j = 0
    while (i >= off) {
      val b = h(i) & 0xFF
      out(j) = HexChars(b >>> 4)
      out(j + 1) = HexChars(b & 0xF)
      i -= 1; j += 2
    }
    new String(out)
  }

  private def rangeAllZero(a: Array[Byte], off: Int, len: Int): Boolean = {
    var i = off
    val end = off + len
    while (i < end) { if (a(i) != 0) return false; i += 1 }
    true
  }

  private final class Reader(val buf: ByteBuffer) {
    def u8(): Int = buf.get() & 0xFF
    def u32(): Long = buf.getInt() & 0xFFFFFFFFL
    def i32(): Int = buf.getInt()
    def i64(): Long = buf.getLong()
    def varInt(): Long = u8() match {
      case 0xfd => buf.getShort() & 0xFFFFL
      case 0xfe => buf.getInt() & 0xFFFFFFFFL
      case 0xff => buf.getLong()
      case n => n.toLong
    }
    def bytes(n: Int): Array[Byte] = {
      // Bounds-check BEFORE allocating: a corrupt varint length would
      // otherwise allocate up to 2 GiB transiently (an OutOfMemoryError the
      // lenient catch must not have to own) before buf.get even underflows.
      if (n < 0 || n > buf.remaining()) throw new java.nio.BufferUnderflowException()
      val a = new Array[Byte](n); buf.get(a); a
    }
    def skip(n: Int): Unit = buf.position(buf.position() + n)
    /** Bounds-checked [[skip]] that reports an over-read as BufferUnderflow
      * — the same parse-shaped class [[bytes]] uses — instead of
      * position()'s IllegalArgumentException.
      */
    def skipChecked(n: Int): Unit = {
      if (n < 0 || n > buf.remaining()) throw new java.nio.BufferUnderflowException()
      buf.position(buf.position() + n)
    }
  }

  /** Read a count varint and reject values that could not possibly fit in
    * the buffer's remaining bytes (at `minBytesPer` wire bytes each) BEFORE
    * sizing an array from it — a corrupt count would otherwise allocate
    * gigabytes transiently. An over-claim surfaces as BufferUnderflow, the
    * same parse-shaped class an honest over-read hits.
    */
  private def checkedCount(r: Reader, minBytesPer: Int): Int = {
    val n = r.varInt()
    if (n < 0 || n > r.buf.remaining().toLong / minBytesPer)
      throw new java.nio.BufferUnderflowException()
    n.toInt
  }

  /** A framed record claims more bytes than the file has left — DATA
    * truncation, not a stream failure. Deliberately NOT an IOException:
    * the lenient catch below quarantines parse-shaped corruption but lets
    * genuine java.io.IOException (S3A/HDFS socket reset mid-read) propagate
    * to fail the task so Spark's retry re-reads the file — a raw
    * EOFException here would be indistinguishable from the transient case.
    */
  private[graft] final class TruncatedRecordException(msg: String)
    extends RuntimeException(msg)

  /** Parse one transaction; returns (tx, txid source range) handling the
    * segwit marker (txid excludes witness data, BIP-141).
    */
  private def parseTx(r: Reader, raw: Array[Byte]): RawTx = {
    val start = r.buf.position()
    r.i32() // version
    var segwit = false
    val mark = r.buf.position()
    if (r.u8() == 0x00) {
      if (r.u8() == 0x01) segwit = true
      else r.buf.position(mark)
    } else r.buf.position(mark)
    val afterMarker = r.buf.position()
    val nIn = checkedCount(r, minBytesPer = 41) // >= 32+4+1+4 wire bytes/input
    var coinbase = false
    val inputs = new Array[RawInput](nIn)
    var i = 0
    while (i < nIn) {
      val prevOff = r.buf.position()
      r.skipChecked(32) // prev tx hash — hexed straight off the buffer below
      val vout = r.u32().toInt
      val scriptLen = r.varInt().toInt
      r.skip(scriptLen)
      r.u32() // sequence
      // Coinbase marker: the single input spends the all-zero outpoint —
      // byte-equal to the old `hex == "0"*64 && prev_index == -1` string
      // check, without building the hex for the one input that is dropped.
      if (nIn == 1 && vout == -1 && rangeAllZero(raw, prevOff, 32)) coinbase = true
      else inputs(i) = RawInput(hashHex(raw, prevOff, 32), vout)
      i += 1
    }
    val nOut = checkedCount(r, minBytesPer = 9) // >= 8+1 wire bytes/output
    val outputs = new Array[RawOutput](nOut)
    var o = 0
    while (o < nOut) {
      val value = r.i64()
      val scriptLen = r.varInt().toInt
      outputs(o) = RawOutput(o, value, r.bytes(scriptLen))
      o += 1
    }
    val afterOutputs = r.buf.position()
    if (segwit) {
      var w = 0
      while (w < nIn) { // witness stacks, excluded from txid
        val items = r.varInt().toInt
        var j = 0
        while (j < items) { r.skip(r.varInt().toInt); j += 1 }
        w += 1
      }
    }
    r.i32() // locktime
    val end = r.buf.position()
    val txid =
      if (!segwit) hashHex(sha256d(raw, start, end - start))
      else { // txid = version ++ (body without marker/witness) ++ locktime,
             // streamed straight into the digest — the old form copied the
             // whole body into a ByteArrayOutputStream per segwit tx
        val md = sha256.get()
        md.update(raw, start, 4)
        md.update(raw, afterMarker, afterOutputs - afterMarker)
        md.update(raw, end - 4, 4)
        hashHex(finishDouble(md))
      }
    RawTx(txid, coinbase,
      if (coinbase) Seq.empty
      else scala.collection.immutable.ArraySeq.unsafeWrapArray(inputs),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(outputs))
  }

  /** Parse one blk-file's bytes into blocks (magic-framed records).
    * Strict: any framing or body corruption throws (kills the task — the
    * right default for trusted node output, and what the reference does:
    * BlockchainToGraph.java:431 asserts-and-dies).
    */
  def parseFile(raw: Array[Byte], networkMagic: Int = Magic): Seq[RawBlock] =
    parseCore(raw, networkMagic, lenient = false)._1

  /** Lenient parse: on corruption, RESYNC at the next magic marker and keep
    * going, returning (blocks, bytes skipped). At 100 TB one flipped byte in
    * one of ~66k files must quarantine a region, not kill the scan.
    */
  def parseFileLenient(raw: Array[Byte], networkMagic: Int = Magic): (Seq[RawBlock], Long) =
    parseCore(raw, networkMagic, lenient = true)

  /** The 4 magic bytes as they appear on disk (big-endian constant). */
  private def magicBytes(networkMagic: Int): Array[Byte] = Array(
    (networkMagic >>> 24).toByte, (networkMagic >>> 16).toByte,
    (networkMagic >>> 8).toByte, networkMagic.toByte)

  private def findMagic(raw: Array[Byte], from: Int, m: Array[Byte], until: Int): Int = {
    var i = math.max(from, 0)
    while (i + 4 <= until) {
      if (raw(i) == m(0) && raw(i + 1) == m(1) && raw(i + 2) == m(2) && raw(i + 3) == m(3))
        return i
      i += 1
    }
    -1
  }

  private def parseCore(
      raw: Array[Byte], networkMagic: Int, lenient: Boolean): (Seq[RawBlock], Long) = {
    var skipped = 0L
    val out = parseIterator(raw, networkMagic, lenient, skipped += _).toVector
    (out, skipped)
  }

  /** Incremental record-at-a-time parse — the form the distributed scans
    * flatMap over. A whole-file parse materializes the ENTIRE file's block
    * graph (tens of thousands of nested RawBlock/RawTx objects per 27 MB
    * file at corpus scale) before the first row reaches the downstream
    * encoder; with 32 such tasks concurrent that transient graph is
    * gigabytes of driver-JVM heap in local mode (the measured bk0@30×
    * OOM-at-8g trigger) and the same multiplier per executor at 100 TB. The
    * iterator yields one block per `next()`, so each block is encoded to
    * Tungsten bytes (or consumed) and becomes garbage before the next is
    * built — per-task transient heap drops from O(file) to O(block).
    * `onSkip` fires once per quarantined corrupt region (lenient mode).
    */
  private[graft] def parseIterator(
      raw: Array[Byte], networkMagic: Int, lenient: Boolean,
      onSkip: Long => Unit): Iterator[RawBlock] = new Iterator[RawBlock] {
    private val r = new Reader(ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN))
    private val m = magicBytes(networkMagic)
    private var nextBlock: RawBlock = _
    private var done = false
    private def advance(): Unit = {
      while (nextBlock == null && !done) {
        if (r.buf.remaining() < 8) { done = true; return }
        val recordStart = r.buf.position()
        try {
          val magic = ((r.u8()) | (r.u8() << 8) | (r.u8() << 16) | (r.u8() << 24))
          if (magic == 0) { /* zero padding at file tail */ }
          else if (Integer.reverseBytes(magic) != networkMagic)
            throw new IllegalArgumentException(f"bad magic 0x$magic%08x")
          else {
            val size = r.u32().toInt
            val blockStart = r.buf.position()
            val headerHash = hashHex(sha256d(raw, blockStart, 80))
            r.i32() // version
            val prevOff = r.buf.position()
            r.skipChecked(32) // prev hash — hexed straight off the buffer
            r.skip(32) // merkle root
            val time = r.u32()
            r.skip(8) // bits, nonce
            val nTx = checkedCount(r, minBytesPer = 10) // >= 4+1+1+4 bytes/tx
            val txs = new Array[RawTx](nTx)
            var ti = 0
            while (ti < nTx) { txs(ti) = parseTx(r, raw); ti += 1 }
            require(r.buf.position() == blockStart + size,
              s"block size mismatch: read ${r.buf.position() - blockStart}, framed $size")
            nextBlock = RawBlock(headerHash, hashHex(raw, prevOff, 32), time,
              scala.collection.immutable.ArraySeq.unsafeWrapArray(txs))
          }
        } catch {
          case e: Throwable if lenient =>
            // quarantine [recordStart, next magic) and carry on
            val next = findMagic(raw, recordStart + 1, m, raw.length)
            if (next < 0) {
              onSkip(raw.length - recordStart)
              done = true
            } else {
              onSkip(next - recordStart)
              r.buf.position(next)
            }
        }
      }
    }
    def hasNext: Boolean = { if (nextBlock == null && !done) advance(); nextBlock != null }
    def next(): RawBlock = {
      if (!hasNext) throw new NoSuchElementException("exhausted blk file")
      val b = nextBlock; nextBlock = null; b
    }
  }

  /** Streaming record-at-a-time parse over an InputStream: the O(block)
    * end-to-end form of [[parseIterator]]. `binaryFile`'s `content` column
    * materializes each file's WHOLE byte array per task — at real 128 MiB
    * blk files × 32 concurrent tasks that is ~4 GiB of raw input arrays
    * pinned before parsing starts, the remaining amplifier of the 30×-corpus
    * OOM at the 8 g default heap and a true per-executor multiplier at
    * 100 TB. This form keeps a single reused buffer holding only the record
    * being parsed (grown on demand, hard-capped at `maxRecordBytes`), so
    * peak task input heap is O(largest block), not O(file).
    *
    * Semantics are byte-identical to [[parseIterator]] (spec-gated in
    * BlockFileSpec): same framing walk, same zero-padding tolerance, same
    * strict-mode errors, and the same lenient magic-resync with the same
    * skipped-byte accounting — the resync scans forward through the stream
    * keeping only a 3-byte seam, so a corrupt region longer than the buffer
    * still quarantines in O(chunk) memory.
    */
  private[graft] def parseStream(
      in: java.io.InputStream, networkMagic: Int, lenient: Boolean,
      onSkip: Long => Unit,
      maxRecordBytes: Int = 1 << 25): Iterator[RawBlock] = new Iterator[RawBlock] {
    private val m = magicBytes(networkMagic)
    private var buf = new Array[Byte](1 << 16)
    private var pos = 0 // start of the current record within buf
    private var len = 0 // valid bytes in buf([0, len))
    private var eof = false
    private var nextBlock: RawBlock = _
    private var done = false

    /** Ensure ≥n buffered bytes at `pos` (compact + grow + read); false =
      * EOF before n. Consumed bytes advance `pos`; the unread tail slides to
      * the front only when the next record would not fit behind `pos` —
      * amortized ONE copy per buffer fill. (The previous form slid the whole
      * unread tail to the front after EVERY record: with a 64 KiB buffer
      * over ~1.5 KiB corpus blocks that re-copied ~40× the bytes parsed.)
      */
    private def ensure(n: Int): Boolean = {
      if (pos + n > buf.length) {
        System.arraycopy(buf, pos, buf, 0, len - pos)
        len -= pos
        pos = 0
        if (n > buf.length) {
          var cap = buf.length.toLong
          while (cap < n) cap <<= 1
          buf = java.util.Arrays.copyOf(buf, math.min(cap, Int.MaxValue - 8).toInt)
        }
      }
      while (len - pos < n && !eof) {
        val r = in.read(buf, len, buf.length - len)
        if (r < 0) eof = true else len += r
      }
      len - pos >= n
    }
    private def leU32(off: Int): Long = {
      val o = pos + off
      ((buf(o) & 0xFFL)) | ((buf(o + 1) & 0xFFL) << 8) |
        ((buf(o + 2) & 0xFFL) << 16) | ((buf(o + 3) & 0xFFL) << 24)
    }

    /** Lenient resync: skip ≥1 byte, then scan the stream for the next magic
      * keeping only a 3-byte seam between chunks. Accounting matches the
      * whole-array form exactly: onSkip(total bytes from record start to the
      * magic, or to EOF when none is found).
      */
    private def resync(): Unit = {
      pos += 1
      var skipped = 1L
      while (true) {
        val k = findMagic(buf, pos, m, len)
        if (k >= 0) { onSkip(skipped + (k - pos)); pos = k; return }
        if (eof) { onSkip(skipped + (len - pos)); pos = len; done = true; return }
        val keep = math.min(3, len - pos)
        skipped += (len - pos) - keep
        pos = len - keep
        ensure(keep + 1) // read at least one more chunk
      }
    }

    private def advance(): Unit = {
      while (nextBlock == null && !done) {
        if (!ensure(8)) { done = true; return }
        try {
          val magic = leU32(0).toInt
          if (magic == 0) { pos += 4 } // zero padding at file tail
          else if (Integer.reverseBytes(magic) != networkMagic)
            throw new IllegalArgumentException(f"bad magic 0x$magic%08x")
          else {
            val size = leU32(4).toInt
            if (size < 0 || size.toLong + 8 > maxRecordBytes)
              throw new IllegalArgumentException(
                s"framed block size $size exceeds record cap $maxRecordBytes")
            if (!ensure(8 + size))
              throw new TruncatedRecordException(
                s"framed block size $size but only ${len - pos - 8} bytes remain")
            val recStart = pos
            val r = new Reader(
              ByteBuffer.wrap(buf, recStart, 8 + size).order(ByteOrder.LITTLE_ENDIAN))
            r.skip(8)
            val headerHash = hashHex(sha256d(buf, recStart + 8, 80))
            r.i32() // version
            val prevOff = r.buf.position()
            r.skipChecked(32) // prev hash — hexed straight off the buffer
            r.skip(32) // merkle root
            val time = r.u32()
            r.skip(8) // bits, nonce
            val nTx = checkedCount(r, minBytesPer = 10) // >= 4+1+1+4 bytes/tx
            val txs = new Array[RawTx](nTx)
            var ti = 0
            while (ti < nTx) { txs(ti) = parseTx(r, buf); ti += 1 }
            require(r.buf.position() == recStart + 8 + size,
              s"block size mismatch: read ${r.buf.position() - recStart - 8}, framed $size")
            nextBlock = RawBlock(headerHash, hashHex(buf, prevOff, 32), time,
              scala.collection.immutable.ArraySeq.unsafeWrapArray(txs))
            pos += 8 + size
          }
        } catch {
          // Parse-shaped failures ONLY (bad magic / size cap / require
          // mismatch → IllegalArgumentException; Reader over-read →
          // BufferUnderflow/IndexOutOfBounds; corrupt varint →
          // NegativeArraySize; framed-size-past-EOF → TruncatedRecord).
          // A java.io.IOException raised by `ensure`'s in.read — a transient
          // remote-FS fault, not corruption — propagates and fails the task
          // for retry: the old binaryFile path got that retry for free by
          // materializing bytes before parsing, and this streamed form must
          // not silently quarantine data a retry would have read.
          case _: IllegalArgumentException if lenient => resync()
          case _: java.nio.BufferUnderflowException if lenient => resync()
          case _: IndexOutOfBoundsException if lenient => resync()
          case _: NegativeArraySizeException if lenient => resync()
          case _: TruncatedRecordException if lenient => resync()
        }
      }
    }
    def hasNext: Boolean = { if (nextBlock == null && !done) advance(); nextBlock != null }
    def next(): RawBlock = {
      if (!hasNext) throw new NoSuchElementException("exhausted blk file")
      val b = nextBlock; nextBlock = null; b
    }
  }

  /** Core of the distributed scans: a flatMap over file PATHS (the
    * binaryFile source with only `path` in the required schema reads no file
    * bytes), each task opening a buffered Hadoop stream and running
    * [[parseStream]] — task input heap is O(block). Partitioning and
    * locality come from the binaryFile relation's size-aware file packing,
    * exactly as before; only the `content` materialization is gone. Streams
    * close on task completion (covers downstream limits and task failure,
    * not just exhaustion).
    */
  /** Open `path` for the sequential whole-file read the parse does. Local
    * `file:` URIs go straight to java.nio — the Hadoop local stack costs
    * 1.7–2.4× on this parse even raw (measured 20.4 / 14.4 vs 8.5 ms per
    * corpus file: ChecksumFileSystem's chunk-unit reads, then
    * RawLocalFileSystem's per-read bookkeeping). Remote filesystems (HDFS,
    * S3A — the 100 TB deployment) keep the Hadoop stream, unwrapping the
    * checksum decorator if one appears.
    */
  private[graft] def openRaw(
      path: org.apache.hadoop.fs.Path,
      conf: org.apache.hadoop.conf.Configuration): java.io.InputStream = {
    val uri = path.toUri
    if (uri.getScheme == null || uri.getScheme == "file")
      java.nio.file.Files.newInputStream(java.nio.file.Paths.get(uri.getPath))
    else path.getFileSystem(conf) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem.open(path, 1 << 16)
      case o => o.open(path, 1 << 16)
    }
  }

  /** The per-file unit both distributed scans (batch [[pathScan]] and the
    * streaming mirror in ChainStream) flatMap over: open the file, parse it
    * record-at-a-time, CLOSE THE STREAM ON EXHAUSTION. The task-completion
    * listener stays as the failure/limit backstop only — without the
    * eager close, a task whose partition packs many small blk files (the
    * binaryFile packer bins by size, so thousands of 1 MB files can share
    * one task) holds one open fd per file for the task's whole lifetime.
    */
  private[graft] def readBlocks(
      p: String, conf: org.apache.hadoop.conf.Configuration,
      networkMagic: Int, lenient: Boolean,
      onSkip: Long => Unit): Iterator[RawBlock] = {
    val path = new org.apache.hadoop.fs.Path(new java.net.URI(p))
    val in = openRaw(path, conf)
    Option(org.apache.spark.TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ => in.close()))
    val it = parseStream(new java.io.BufferedInputStream(in, 1 << 16),
      networkMagic, lenient, onSkip)
    new Iterator[RawBlock] {
      private var closed = false
      def hasNext: Boolean = {
        val h = it.hasNext
        if (!h && !closed) { closed = true; in.close() } // idempotent
        h
      }
      def next(): RawBlock = it.next()
    }
  }

  private def pathScan(
      files: DataFrame, networkMagic: Int, lenient: Boolean,
      acc: Option[org.apache.spark.util.LongAccumulator]): Dataset[RawBlock] = {
    val spark = files.sparkSession
    import spark.implicits._
    val hconf = new org.apache.spark.util.GraftSerializableHadoopConf(
      spark.sparkContext.hadoopConfiguration)
    files.select("path").as[String].flatMap { p =>
      readBlocks(p, hconf.value, networkMagic, lenient, b => acc.foreach(_.add(b)))
    }
  }

  private def blkFiles(spark: SparkSession, path: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "blk*.dat")
      .load(path)

  /** Distributed scan: every blk file → parsed blocks. */
  def read(spark: SparkSession, path: String, networkMagic: Int = Magic): Dataset[RawBlock] =
    pathScan(blkFiles(spark, path), networkMagic, lenient = false, None)

  /** [[read]] over an explicit file list (no glob) — the incremental/catchup
    * callers that already know exactly which files arrived.
    */
  def readFiles(spark: SparkSession, files: Seq[String], networkMagic: Int = Magic): Dataset[RawBlock] =
    pathScan(spark.read.format("binaryFile").load(files: _*),
      networkMagic, lenient = false, None)

  /** [[read]] with per-record corruption quarantine: damaged regions are
    * skipped via magic-resync instead of killing the task, and the total
    * skipped byte count surfaces in the returned accumulator (valid after an
    * action) — monitor it, alert on nonzero, but finish the 100 TB scan.
    *
    * Accounting caveat: the parse is lazy, so the accumulator is exact only
    * under FULL-SCAN consumption (count/write/collect of everything). An
    * action that stops consuming a file's iterator early — e.g. a pushed
    * `limit` — leaves corrupt regions past the consumed prefix uncounted,
    * because bytes that were never scanned cannot be quarantined. Monitor
    * the accumulator on complete scans (the ingest path), not on peeks.
    */
  def readLenient(spark: SparkSession, path: String, networkMagic: Int = Magic)
      : (Dataset[RawBlock], org.apache.spark.util.LongAccumulator) = {
    val acc = spark.sparkContext.longAccumulator("graft.corruptBytesSkipped")
    (pathScan(blkFiles(spark, path), networkMagic, lenient = true, Some(acc)), acc)
  }

  /** Bronze projection: the four relational tables of the chain layer
    * (SURVEY.md §1.3) from parsed blocks, with script→address decode (C7).
    * The parse is cached (four tables consume it), pinned to the caller's
    * [[graft.Scope]]: the caller's scope drops it, or outside one, Spark's
    * cleaner once no table references it.
    */
  def toBronze(blocks: Dataset[RawBlock]): Map[String, DataFrame] = {
    val spark = blocks.sparkSession
    import spark.implicits._
    // SER, not plain cache(): the parsed corpus is millions of small nested
    // objects deserialized; storing it as Tungsten bytes keeps it out of the
    // GC trace set (a deserialized copy measurably stalls whole-heap GCs).
    val b = graft.Scope.pin(blocks.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
    // The genesis header's prev-hash is all zeros on the wire; the chain
    // layer marks roots with NULL.
    val blocksDf = b.select(
      col("hash"),
      when(col("parent_hash") === "0" * 64, lit(null)).otherwise(col("parent_hash"))
        .as("parent_hash"),
      col("ts"))
    val txsDf = b.select(col("hash").as("block_hash"), explode(col("txs")).as("tx"))
      .select(col("tx.tx_hash"), col("block_hash"), col("tx.is_coinbase")).toDF()
    val txFlat = b.select(explode(col("txs")).as("tx"))
    val inputsDf = txFlat
      .select(col("tx.tx_hash").as("tx_hash"), explode(col("tx.inputs")).as("i"))
      .select(col("tx_hash"), col("i.prev_tx_hash"), col("i.prev_index"))
    val outputsDf = txFlat
      .select(col("tx.tx_hash").as("tx_hash"), explode(col("tx.outputs")).as("o"))
      .select(col("tx_hash"), col("o.idx").as("idx"), col("o.value").as("value"),
        GraftFunctions.script_to_address(col("o.script")).as("address"))
    Map("blocks" -> blocksDf, "transactions" -> txsDf,
      "tx_inputs" -> inputsDf, "tx_outputs" -> outputsDf)
  }
}
