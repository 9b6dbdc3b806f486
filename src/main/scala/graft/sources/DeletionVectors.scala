package graft.sources

import org.apache.hadoop.fs.Path

import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.CRC32

/** Deletion-vector codecs from the PUBLIC Delta protocol
  * (delta.io PROTOCOL.md "Deletion Vectors" + the RoaringFormatSpec
  * at github.com/RoaringBitmap/RoaringFormatSpec) — no delta or
  * roaring jars:
  *
  *  - Z85 (ZeroMQ RFC 32) base-85: the descriptor's
  *    `pathOrInlineDv` carries either a Z85 UUID (storage `u`) or
  *    the Z85 serialized bitmap itself (storage `i`);
  *  - the 64-bit "RoaringBitmapArray" portable format: magic
  *    1681511377 (LE), a bitmap count (LE i64), then per bitmap a
  *    key (LE i32, the high 32 bits) + a standard 32-bit roaring
  *    bitmap (cookies 12346/12347; array, bitmap, and run
  *    containers);
  *  - the DV FILE framing: 1 version byte at offset 0, then per DV
  *    `[dataSize i32 BE][data][crc32-of-data i32 BE]` with the
  *    descriptor's `offset` pointing at the size word and
  *    `sizeInBytes` equal to dataSize.
  *
  * The serializer (used by spec fixtures and any future DV-writing
  * path) emits array or bitmap containers with the 12346 cookie +
  * offset header; the DESERIALIZER accepts everything a real writer
  * can produce, run containers included. All checks raise loudly —
  * a corrupt DV silently resurrecting deleted training rows is the
  * worst failure mode a 100 TB pipeline can have.
  */
object DeletionVectors {

  // ---- Z85 (ZeroMQ RFC 32) ----------------------------------------

  private val Z85Alphabet =
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ" +
      ".-:+=^!/*?&<>()[]{}@%$#"
  private val Z85Decode: Array[Int] = {
    val a = Array.fill(128)(-1)
    Z85Alphabet.zipWithIndex.foreach { case (c, i) => a(c.toInt) = i }
    a
  }

  /** Encode bytes (length divisible by 4) as Z85: 4 bytes -> 5 chars,
    * big-endian base 85. */
  def z85Encode(bytes: Array[Byte]): String = {
    require(bytes.length % 4 == 0,
      s"z85Encode: length ${bytes.length} not divisible by 4")
    val sb = new StringBuilder(bytes.length / 4 * 5)
    var i = 0
    while (i < bytes.length) {
      var v = 0L
      var j = 0
      while (j < 4) { v = (v << 8) | (bytes(i + j) & 0xffL); j += 1 }
      var div = 85L * 85L * 85L * 85L
      while (div >= 1L) {
        sb.append(Z85Alphabet(((v / div) % 85L).toInt))
        div /= 85L
      }
      i += 4
    }
    sb.toString
  }

  /** Decode a Z85 string (length divisible by 5) back to bytes. */
  def z85Decode(s: String): Array[Byte] = {
    require(s.length % 5 == 0,
      s"z85Decode: length ${s.length} not divisible by 5")
    val out = new Array[Byte](s.length / 5 * 4)
    var i = 0
    while (i < s.length) {
      var v = 0L
      var j = 0
      while (j < 5) {
        val c = s.charAt(i + j)
        val d = if (c < 128) Z85Decode(c.toInt) else -1
        require(d >= 0, s"z85Decode: invalid character '$c'")
        v = v * 85L + d
        j += 1
      }
      require(v <= 0xffffffffL, "z85Decode: 5-char group overflows 32 bits")
      val o = i / 5 * 4
      out(o) = ((v >>> 24) & 0xff).toByte
      out(o + 1) = ((v >>> 16) & 0xff).toByte
      out(o + 2) = ((v >>> 8) & 0xff).toByte
      out(o + 3) = (v & 0xff).toByte
      i += 5
    }
    out
  }

  /** A UUID as the 20-char Z85 string the `u` storage type embeds. */
  def encodeUUID(u: java.util.UUID): String = {
    val bb = ByteBuffer.allocate(16)
    bb.putLong(u.getMostSignificantBits)
    bb.putLong(u.getLeastSignificantBits)
    z85Encode(bb.array())
  }

  /** The trailing 20 chars of a `u` descriptor back to the UUID. */
  def decodeUUID(s: String): java.util.UUID = {
    require(s.length == 20, s"decodeUUID: need 20 chars, got ${s.length}")
    val bb = ByteBuffer.wrap(z85Decode(s))
    new java.util.UUID(bb.getLong, bb.getLong)
  }

  /** Where a `u` descriptor's sidecar file lives: the id is
    * `<optional random prefix><20-char Z85 uuid>`, resolved at the
    * TABLE root as `<root>/<prefix>/deletion_vector_<uuid>.bin`. */
  def sidecarPath(root: Path, pathOrInlineDv: String): Path = {
    require(pathOrInlineDv.length >= 20,
      s"deletion vector: 'u' id '$pathOrInlineDv' is shorter than its 20-char UUID")
    val prefix = pathOrInlineDv.dropRight(20)
    val uuid = decodeUUID(pathOrInlineDv.takeRight(20))
    val dir = if (prefix.isEmpty) root else new Path(root, prefix)
    new Path(dir, s"deletion_vector_$uuid.bin")
  }

  /** The file a descriptor's mask lives in: a `u` sidecar under
    * `root`, a `p` absolute path; None for an inline (`i`) mask,
    * which lives in the log itself. */
  def sidecarFile(root: Path, d: DeltaReader.DvDescriptor): Option[Path] =
    d.storageType match {
      case "u" => Some(sidecarPath(root, d.pathOrInlineDv))
      case "p" => Some(new Path(d.pathOrInlineDv))
      case _ => None
    }

  /** The row indexes descriptor `d` masks: inline (`i`) payloads
    * decode from the descriptor itself, sidecar (`u`, resolved at the
    * table `root`) and absolute-path (`p`) ones are read through
    * `conf`, format byte, size word and CRC checked. The one DV
    * decode: the reader's mask frame and the DML writers' old-mask
    * merge both call it on executors. */
  def rowIndexes(d: DeltaReader.DvDescriptor, root: String,
                 conf: org.apache.hadoop.conf.Configuration): Array[Long] = {
    val data = d.storageType match {
      case "i" =>
        // Z85 works in 4-byte groups; the descriptor's sizeInBytes
        // is authoritative for the payload length under any padding
        val decoded = z85Decode(d.pathOrInlineDv)
        require(decoded.length >= d.sizeInBytes,
          s"deletion vector: inline payload shorter than sizeInBytes ${d.sizeInBytes}")
        java.util.Arrays.copyOf(decoded, d.sizeInBytes)
      case "u" | "p" =>
        val p =
          if (d.storageType == "u") sidecarPath(new Path(root), d.pathOrInlineDv)
          else new Path(d.pathOrInlineDv)
        val fs = p.getFileSystem(conf)
        val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
        val in = fs.open(p)
        try in.readFully(0L, bytes) finally in.close()
        require(bytes.nonEmpty && bytes(0) == FileFormatVersion,
          s"deletion vector: file $p has format version " +
            s"${if (bytes.isEmpty) "<empty>" else bytes(0)} (want 1)")
        unframe(bytes, d.offset.getOrElse(1), d.sizeInBytes)
      case other => throw new UnsupportedOperationException(
        s"deletion vector: storageType '$other' unknown (u/i/p only)")
    }
    deserialize(data)
  }

  // ---- 64-bit RoaringBitmapArray, "portable" format ----------------

  /** Magic number heading the serialized form (PROTOCOL.md). */
  val Magic = 1681511377

  private val SerialCookieNoRun = 12346
  private val SerialCookieRun = 12347
  private val NoOffsetThreshold = 4
  private val ArrayMaxCard = 4096

  /** Serialize sorted distinct non-negative row indexes to the
    * portable RoaringBitmapArray form (magic included). Array or
    * bitmap containers with the 12346 cookie — every conformant
    * reader accepts this shape. */
  def serialize(values: Seq[Long]): Array[Byte] = {
    val sorted = values.distinct.sorted
    sorted.foreach(v => require(v >= 0, s"negative row index $v"))
    val byKey = sorted.groupBy(v => (v >>> 32).toInt).toSeq.sortBy(_._1)
    val bitmaps = byKey.map { case (key, vs) =>
      key -> serialize32(vs.map(v => (v & 0xffffffffL).toInt))
    }
    val total = 4 + 8 + bitmaps.map(b => 4 + b._2.length).sum
    val bb = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(Magic)
    bb.putLong(bitmaps.size.toLong)
    bitmaps.foreach { case (key, bytes) => bb.putInt(key); bb.put(bytes) }
    bb.array()
  }

  private def serialize32(vs: Seq[Int]): Array[Byte] = {
    // vs holds the low 32 bits as unsigned ints, ascending
    val byHigh = vs.groupBy(v => (v >>> 16) & 0xffff).toSeq.sortBy(_._1)
    val n = byHigh.size
    val bodies = byHigh.map { case (_, lows) =>
      val card = lows.size
      if (card <= ArrayMaxCard) {
        val bb = ByteBuffer.allocate(card * 2).order(ByteOrder.LITTLE_ENDIAN)
        lows.foreach(v => bb.putShort((v & 0xffff).toShort))
        bb.array()
      } else {
        val words = new Array[Long](1024)
        lows.foreach { v =>
          val lo = v & 0xffff
          words(lo >>> 6) |= (1L << (lo & 63))
        }
        val bb = ByteBuffer.allocate(8192).order(ByteOrder.LITTLE_ENDIAN)
        words.foreach(bb.putLong)
        bb.array()
      }
    }
    val size = 8 + n * 4 + n * 4 + bodies.map(_.length).sum
    val bb = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(SerialCookieNoRun)
    bb.putInt(n)
    byHigh.zip(bodies).foreach { case ((high, lows), _) =>
      bb.putShort((high & 0xffff).toShort)
      bb.putShort(((lows.size - 1) & 0xffff).toShort)
    }
    var off = 8 + n * 4 + n * 4
    bodies.foreach { b => bb.putInt(off); off += b.length }
    bodies.foreach(bb.put)
    bb.array()
  }

  /** Deserialize a portable RoaringBitmapArray (magic-prefixed) to
    * ascending 64-bit row indexes. Accepts both cookies and all
    * three container kinds. */
  def deserialize(data: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    val magic = bb.getInt
    require(magic == Magic,
      s"deletion vector: bad magic $magic (want $Magic)")
    val nBitmaps = bb.getLong
    require(nBitmaps >= 0 && nBitmaps <= Int.MaxValue,
      s"deletion vector: absurd bitmap count $nBitmaps")
    val out = Array.newBuilder[Long]
    var b = 0L
    while (b < nBitmaps) {
      val key = bb.getInt.toLong & 0xffffffffL
      deserialize32(bb, key << 32, out)
      b += 1
    }
    out.result()
  }

  private def deserialize32(bb: ByteBuffer, base: Long,
                            out: scala.collection.mutable.Builder[Long, Array[Long]]): Unit = {
    val cookie = bb.getInt
    val (n, runFlags) =
      if ((cookie & 0xffff) == SerialCookieRun) {
        val n = (cookie >>> 16) + 1
        val flags = new Array[Byte]((n + 7) / 8)
        bb.get(flags)
        (n, flags)
      } else if (cookie == SerialCookieNoRun) {
        (bb.getInt, null)
      } else throw new IllegalStateException(
        s"deletion vector: unknown roaring cookie $cookie")
    val keys = new Array[Int](n)
    val cards = new Array[Int](n)
    var i = 0
    while (i < n) {
      keys(i) = bb.getShort & 0xffff
      cards(i) = (bb.getShort & 0xffff) + 1
      i += 1
    }
    val hasOffsets = runFlags == null || n >= NoOffsetThreshold
    if (hasOffsets) bb.position(bb.position() + 4 * n) // read sequentially
    i = 0
    while (i < n) {
      val hi = base | (keys(i).toLong << 16)
      val isRun = runFlags != null && ((runFlags(i / 8) >> (i % 8)) & 1) == 1
      if (isRun) {
        val nRuns = bb.getShort & 0xffff
        var r = 0
        while (r < nRuns) {
          val start = bb.getShort & 0xffff
          val len = bb.getShort & 0xffff
          var v = 0
          while (v <= len) { out += hi | (start + v).toLong; v += 1 }
          r += 1
        }
      } else if (cards(i) <= ArrayMaxCard) {
        var c = 0
        while (c < cards(i)) { out += hi | (bb.getShort & 0xffff).toLong; c += 1 }
      } else {
        var w = 0
        while (w < 1024) {
          var word = bb.getLong
          var bit = 0
          while (word != 0L) {
            val t = java.lang.Long.numberOfTrailingZeros(word)
            bit += t
            out += hi | (w * 64 + bit).toLong
            word = word >>> t >>> 1
            bit += 1
          }
          w += 1
        }
      }
      i += 1
    }
  }

  // ---- DV file framing ---------------------------------------------

  /** File format version byte heading every DV file. */
  val FileFormatVersion: Byte = 1

  /** Frame `data` (magic + bitmaps) for on-disk storage:
    * `[dataSize i32 BE][data][crc32(data) i32 BE]`. */
  def frame(data: Array[Byte]): Array[Byte] = {
    val crc = new CRC32
    crc.update(data)
    val bb = ByteBuffer.allocate(4 + data.length + 4) // big-endian default
    bb.putInt(data.length)
    bb.put(data)
    bb.putInt(crc.getValue.toInt)
    bb.array()
  }

  /** Unframe a DV read from `bytes` at `offset`: verify the size word
    * against the descriptor's `sizeInBytes` and the CRC-32, return
    * the data. */
  def unframe(bytes: Array[Byte], offset: Int, sizeInBytes: Int): Array[Byte] = {
    require(offset >= 1 && offset + 8 + sizeInBytes <= bytes.length,
      s"deletion vector: frame [$offset, +${8 + sizeInBytes}) outside " +
        s"file of ${bytes.length} bytes")
    val bb = ByteBuffer.wrap(bytes, offset, 8 + sizeInBytes)
    val dataSize = bb.getInt
    require(dataSize == sizeInBytes,
      s"deletion vector: stored size $dataSize != descriptor sizeInBytes " +
        s"$sizeInBytes")
    val data = new Array[Byte](dataSize)
    bb.get(data)
    val stored = bb.getInt
    val crc = new CRC32
    crc.update(data)
    require(stored == crc.getValue.toInt,
      "deletion vector: CRC-32 mismatch — refusing a corrupt bitmap")
    data
  }
}
