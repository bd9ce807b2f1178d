package graft.io

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.UUID
import java.util.zip.CRC32
import scala.collection.mutable
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.roaringbitmap.RoaringBitmap

/** Delta Lake deletion-vector codec (delta.io PROTOCOL.md, "Deletion
  * Vectors" + "Deletion Vector Format"; the reference reads DV tables via
  * delta-rs, `s3/_read_deltalake.py:38-136`). A `deletionVector`
  * descriptor on an `add` action marks rows of that parquet file as
  * deleted by file-local row index. Storage types:
  *   - `u`: sidecar `deletion_vector_<uuid>.bin` under the table root,
  *     `pathOrInlineDv` = optional random prefix + 20-char Z85-encoded
  *     uuid;
  *   - `p`: `pathOrInlineDv` is an absolute path to the sidecar;
  *   - `i`: `pathOrInlineDv` is the serialized bitmap itself, Z85-encoded.
  * Sidecar layout: a 1-byte format version (1), then at `offset`: 4-byte
  * big-endian data size, the serialized bitmap, and a 4-byte big-endian
  * CRC-32 of the bitmap bytes. The bitmap is the portable 64-bit
  * RoaringBitmapArray — int32-LE magic 1681511377, then the portable
  * serialization of a 64-bit roaring bitmap exactly as the RoaringBitmap
  * format spec's 64-bit extension defines it (and as Roaring64NavigableMap
  * and delta's RoaringBitmapArray implement it): an int64-LE count of
  * NON-EMPTY 32-bit buckets, then for each bucket in increasing key
  * order an int32-LE key (the high 32 bits of the row indexes it holds)
  * followed by that bucket's standard portable RoaringBitmap
  * serialization. Bucket k covers row indexes [k·2^32, (k+1)·2^32);
  * empty buckets are never written. Decoded with the org.roaringbitmap
  * the Spark distribution already ships, so no Delta jar is needed.
  * (Iceberg v3 deletion-vector blobs serialize the identical magic +
  * vector byte layout — see [[Puffin]].)
  *
  * Scale: one descriptor per data file (metadata-sized); bitmap decode
  * happens on executors ([[DeltaLogReader.read]] parallelizes the
  * descriptor list), so a snapshot with millions of deleted rows never
  * materializes them on the driver.
  */
object DeltaDeletionVectors {

  final case class Descriptor(storageType: String, pathOrInlineDv: String,
      offset: Option[Int], sizeInBytes: Int, cardinality: Long)

  private[io] val MagicNumber = 1681511377
  private val FormatVersion: Byte = 1

  // ---- Z85 (ZeroMQ base-85; Delta encodes DV uuids and inline DVs with it)

  private val Alphabet =
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ" +
      ".-:+=^!/*?&<>()[]{}@%$#"
  private val DecodeTable: Array[Int] = {
    val t = Array.fill(128)(-1)
    Alphabet.zipWithIndex.foreach { case (c, i) => t(c.toInt) = i }
    t
  }

  def z85Decode(s: String): Array[Byte] = {
    require(s.length % 5 == 0, s"Z85 length ${s.length} not a multiple of 5")
    val out = new Array[Byte](s.length / 5 * 4)
    var i = 0
    var o = 0
    while (i < s.length) {
      var acc = 0L
      var j = 0
      while (j < 5) {
        val c = s.charAt(i + j)
        val v = if (c < 128) DecodeTable(c.toInt) else -1
        require(v >= 0, s"invalid Z85 character '$c'")
        acc = acc * 85 + v
        j += 1
      }
      out(o) = ((acc >> 24) & 0xff).toByte
      out(o + 1) = ((acc >> 16) & 0xff).toByte
      out(o + 2) = ((acc >> 8) & 0xff).toByte
      out(o + 3) = (acc & 0xff).toByte
      i += 5
      o += 4
    }
    out
  }

  def z85Encode(bytes: Array[Byte]): String = {
    require(bytes.length % 4 == 0, s"Z85 input ${bytes.length} not a multiple of 4")
    val sb = new StringBuilder(bytes.length / 4 * 5)
    var i = 0
    while (i < bytes.length) {
      var acc = 0L
      var j = 0
      while (j < 4) { acc = (acc << 8) | (bytes(i + j) & 0xffL); j += 1 }
      val chunk = new Array[Char](5)
      var k = 4
      while (k >= 0) { chunk(k) = Alphabet((acc % 85).toInt); acc /= 85; k -= 1 }
      sb.appendAll(chunk)
      i += 4
    }
    sb.toString
  }

  // ---- descriptor → sidecar path --------------------------------------

  /** Resolve a `u`-storage descriptor to its sidecar path: the last 20
    * chars of `pathOrInlineDv` are the Z85 uuid, anything before them is
    * a random scatter prefix (a directory level under the table root). */
  def sidecarPath(tableRoot: Path, d: Descriptor): Path = d.storageType match {
    case "p" => new Path(d.pathOrInlineDv)
    case "u" =>
      val enc = d.pathOrInlineDv
      require(enc.length >= 20, s"uuid pathOrInlineDv too short: $enc")
      val (prefix, z) = enc.splitAt(enc.length - 20)
      val bb = ByteBuffer.wrap(z85Decode(z))
      val uuid = new UUID(bb.getLong, bb.getLong)
      val name = s"deletion_vector_$uuid.bin"
      if (prefix.isEmpty) new Path(tableRoot, name)
      else new Path(new Path(tableRoot, prefix), name)
    case other => throw new IllegalArgumentException(
      s"storageType $other has no sidecar path")
  }

  /** Deleted row indexes of one descriptor (executor-side: opens the
    * sidecar itself for `u`/`p`). */
  def rowIndexes(conf: Configuration, tableRoot: String,
      d: Descriptor): Array[Long] = {
    val bytes = d.storageType match {
      case "i" => z85Decode(d.pathOrInlineDv)
      case "u" | "p" => readSidecarSlice(conf, new Path(tableRoot), d)
      case other => throw new UnsupportedDeltaFeatureException(
        s"unknown deletion-vector storageType '$other'")
    }
    val decoded = decodeBitmapArray(bytes)
    require(d.cardinality < 0 || decoded.length == d.cardinality,
      s"deletion vector decoded ${decoded.length} rows, " +
        s"descriptor cardinality ${d.cardinality}")
    decoded
  }

  /** A descriptor as a per-file vector a scan task loads itself
    * ([[TableFiles.withoutDeleted]]). */
  final case class Vector(tableRoot: String, d: Descriptor)
      extends TableFiles.DeletionVector {
    def positions(conf: Configuration): Array[Long] =
      rowIndexes(conf, tableRoot, d)
  }

  private def readSidecarSlice(conf: Configuration, tableRoot: Path,
      d: Descriptor): Array[Byte] = {
    val p = sidecarPath(tableRoot, d)
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    try {
      in.seek(d.offset.getOrElse(1).toLong)
      val din = new DataInputStream(in)
      val size = din.readInt()
      require(size == d.sizeInBytes,
        s"DV slice size $size != descriptor sizeInBytes ${d.sizeInBytes} in $p")
      val data = new Array[Byte](size)
      din.readFully(data)
      val expected = din.readInt()
      val crc = new CRC32
      crc.update(data)
      require(crc.getValue.toInt == expected, s"DV checksum mismatch in $p")
      data
    } finally in.close()
  }

  // ---- portable RoaringBitmapArray ------------------------------------

  def decodeBitmapArray(bytes: Array[Byte]): Array[Long] =
    decodeVector(bytes, 0, requireMagic = true)

  /** Decode the keyed portable 64-bit vector starting at `off`;
    * `requireMagic` controls whether the 4-byte LE magic prefix is
    * expected first (Delta and Iceberg DV payloads both carry it). */
  private[io] def decodeVector(bytes: Array[Byte], off: Int,
      requireMagic: Boolean): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes, off, bytes.length - off)
      .order(ByteOrder.LITTLE_ENDIAN)
    if (requireMagic) {
      val magic = bb.getInt
      require(magic == MagicNumber,
        f"bad RoaringBitmapArray magic 0x$magic%08x (expected 0x$MagicNumber%08x)")
    }
    val count = bb.getLong
    val din = new DataInputStream(
      new ByteArrayInputStream(bytes, bb.position(), bytes.length - bb.position()))
    val out = mutable.ArrayBuffer.empty[Long]
    var i = 0L
    var lastKey = -1L
    while (i < count) {
      // portable 64-bit form: each non-empty bucket is preceded by its
      // int32-LE key (the high 32 bits), keys strictly increasing
      val key = (Integer.reverseBytes(din.readInt()) & 0xffffffffL)
      require(key > lastKey || i == 0,
        s"RoaringBitmapArray bucket keys not increasing ($lastKey -> $key)")
      lastKey = key
      val rb = new RoaringBitmap()
      rb.deserialize(din)
      val hi = key << 32
      rb.forEach(new org.roaringbitmap.IntConsumer {
        override def accept(v: Int): Unit = out += (hi | (v & 0xffffffffL))
      })
      i += 1
    }
    out.toArray
  }

  /** Serialize row indexes to the portable RoaringBitmapArray bytes (the
    * write half — used by fixtures and the DV-emitting writers). */
  def encodeBitmapArray(indexes: Seq[Long]): Array[Byte] = {
    val byKey = indexes.groupBy(_ >>> 32)
    val bitmaps = byKey.keys.toSeq.sorted.map { k =>
      val rb = new RoaringBitmap()
      byKey(k).foreach(ix => rb.add((ix & 0xffffffffL).toInt))
      rb.runOptimize()
      k -> rb
    }
    serializeBitmaps(bitmaps)
  }

  /** Streaming encode: consume row indexes (any order, duplicates fine —
    * bitmap add is idempotent) directly into the compressed bitmaps, so
    * memory is the serialized-bitmap size (~12 MB worst case per 100M
    * rows), never a buffered list of longs. Returns (bytes, cardinality).
    * This is the 100 TB shape of a broad DELETE: a file's positions
    * stream through one executor task without materializing. */
  def encodeStreaming(indexes: Iterator[Long]): (Array[Byte], Long) = {
    val buckets = mutable.SortedMap.empty[Long, RoaringBitmap]
    indexes.foreach { ix =>
      val key = ix >>> 32
      buckets.getOrElseUpdate(key, new RoaringBitmap())
        .add((ix & 0xffffffffL).toInt)
    }
    buckets.values.foreach(_.runOptimize())
    val card = buckets.valuesIterator.map(_.getLongCardinality).sum
    (serializeBitmaps(buckets.toSeq), card)
  }

  /** Serialize pre-built (bucket key → 32-bit bitmap) pairs, increasing
    * key order — the executor-side encode when positions were already
    * accumulated into buckets (the Iceberg DV delete job). */
  def encodeBuckets(buckets: Seq[(Long, RoaringBitmap)]): (Array[Byte], Long) = {
    buckets.foreach(_._2.runOptimize())
    val card = buckets.iterator.map(_._2.getLongCardinality).sum
    (serializeBitmaps(buckets), card)
  }

  private def serializeBitmaps(
      bitmaps: Seq[(Long, RoaringBitmap)]): Array[Byte] = {
    val nonEmpty = bitmaps.filter(_._2.getCardinality > 0)
    val header = ByteBuffer.allocate(12).order(ByteOrder.LITTLE_ENDIAN)
    header.putInt(MagicNumber)
    header.putLong(nonEmpty.size.toLong)
    val bos = new ByteArrayOutputStream()
    bos.write(header.array())
    val dos = new DataOutputStream(bos)
    nonEmpty.foreach { case (key, rb) =>
      dos.writeInt(Integer.reverseBytes(key.toInt))
      rb.serialize(dos)
    }
    dos.flush()
    bos.toByteArray
  }

  /** Write a single-DV sidecar file; returns the descriptor to embed in
    * the `add` action (storageType `u`, no scatter prefix). */
  def writeSidecar(conf: Configuration, tableRoot: Path,
      indexes: Seq[Long]): Descriptor = {
    val data = encodeBitmapArray(indexes)
    writeSidecarBytes(conf, tableRoot, data, indexes.size.toLong)
  }

  /** Write pre-encoded bitmap bytes as a sidecar (the streaming-encode
    * counterpart of [[writeSidecar]]). */
  def writeSidecarBytes(conf: Configuration, tableRoot: Path,
      data: Array[Byte], cardinality: Long): Descriptor = {
    val uuid = UUID.randomUUID()
    val ub = ByteBuffer.allocate(16)
    ub.putLong(uuid.getMostSignificantBits)
    ub.putLong(uuid.getLeastSignificantBits)
    val crc = new CRC32
    crc.update(data)
    val p = new Path(tableRoot, s"deletion_vector_$uuid.bin")
    val out = p.getFileSystem(conf).create(p, false)
    try {
      val dos = new DataOutputStream(out)
      dos.writeByte(FormatVersion.toInt)
      dos.writeInt(data.length)
      dos.write(data)
      dos.writeInt(crc.getValue.toInt)
      dos.flush()
    } finally out.close()
    Descriptor("u", z85Encode(ub.array()), Some(1), data.length, cardinality)
  }
}
