package graft.io

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.CRC32

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Puffin file format (iceberg.apache.org/puffin-spec) — the container
  * Iceberg v3 stores DELETION VECTORS in (spec "Deletion Vectors", blob
  * type `deletion-vector-v1`; the format the reference would consume
  * through pyiceberg's v3 read path).
  *
  * Container layout: 4-byte magic `PFA1`, the blobs (arbitrary byte
  * ranges), then a footer of magic + UTF-8 JSON FileMetadata payload +
  * 4-byte LE payload size + 4-byte flags (bit 0 of byte 0 = payload
  * compressed; this writer always writes uncompressed) + magic.
  *
  * A `deletion-vector-v1` blob is framed exactly as the Iceberg v3 spec
  * prescribes — and its (magic + vector) segment is byte-identical to a
  * Delta deletion vector's payload, which is why the vector codec is
  * shared with [[DeltaDeletionVectors]]:
  *   - 4-byte BIG-endian length of the magic + vector segment,
  *   - the 4-byte magic `D1 D3 39 64` (the int 1681511377 little-endian),
  *   - the keyed portable 64-bit roaring bitmap vector,
  *   - 4-byte BIG-endian CRC-32 of the magic + vector segment.
  * Blob metadata carries `referenced-data-file` and `cardinality`
  * properties (required by the spec for DV blobs).
  *
  * Scale shape: DV puffin files are written ON EXECUTORS by the delete
  * job (one file per task, one blob per touched data file) and decoded
  * ON EXECUTORS by the read's position anti-join — the driver only ever
  * holds blob descriptors (path/offset/length), manifest-scale.
  */
object Puffin {

  private val Magic = Array[Byte](0x50, 0x46, 0x41, 0x31) // "PFA1"

  final case class BlobDescriptor(
      blobType: String,
      offset: Long,
      length: Long,
      snapshotId: Long,
      sequenceNumber: Long,
      properties: Map[String, String])

  /** One deletion vector to pack: the referenced data file path and its
    * deleted row positions encoded as the shared portable bitmap bytes
    * (magic-prefixed, [[DeltaDeletionVectors.encodeBitmapArray]] /
    * `encodeStreaming` output). */
  final case class DvBlob(referencedDataFile: String,
      bitmapBytes: Array[Byte], cardinality: Long)

  /** Write one puffin file holding a `deletion-vector-v1` blob per DV.
    * Returns each blob's (referencedDataFile, offset, length) — the
    * triple the Iceberg v3 manifest entry records in
    * `referenced_data_file`/`content_offset`/`content_size_in_bytes`. */
  def writeDvFile(conf: Configuration, path: Path, dvs: Seq[DvBlob],
      snapshotId: Long, sequenceNumber: Long): Seq[(String, Long, Long)] = {
    require(dvs.nonEmpty, "refusing to write an empty puffin DV file")
    val mapper = new ObjectMapper()
    val out = path.getFileSystem(conf).create(path, false)
    try {
      val dos = new DataOutputStream(out)
      dos.write(Magic)
      var pos = 4L
      val blobs = mapper.createArrayNode()
      val located = dvs.map { dv =>
        val offset = pos
        val crc = new CRC32
        crc.update(dv.bitmapBytes)
        // 4-byte BE length of magic+vector, the segment itself, BE CRC
        dos.writeInt(dv.bitmapBytes.length)
        dos.write(dv.bitmapBytes)
        dos.writeInt(crc.getValue.toInt)
        val length = 4L + dv.bitmapBytes.length + 4L
        pos += length
        val b = mapper.createObjectNode()
        b.put("type", "deletion-vector-v1")
        b.set[ArrayNode]("fields", mapper.createArrayNode())
        b.put("snapshot-id", snapshotId)
        b.put("sequence-number", sequenceNumber)
        b.put("offset", offset)
        b.put("length", length)
        val props = mapper.createObjectNode()
        props.put("referenced-data-file", dv.referencedDataFile)
        props.put("cardinality", dv.cardinality.toString)
        b.set[ObjectNode]("properties", props)
        blobs.add(b)
        (dv.referencedDataFile, offset, length)
      }
      val meta = mapper.createObjectNode()
      meta.set[ArrayNode]("blobs", blobs)
      val props = mapper.createObjectNode()
      props.put("created-by", "graft")
      meta.set[ObjectNode]("properties", props)
      val payload = mapper.writeValueAsBytes(meta)
      dos.write(Magic)
      dos.write(payload)
      val tail = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      tail.putInt(payload.length)
      tail.putInt(0) // flags: footer payload not compressed
      dos.write(tail.array())
      dos.write(Magic)
      dos.flush()
      located
    } finally out.close()
  }

  /** Deleted row positions of one DV blob, located by the manifest
    * entry's offset/length (executor-side; one ranged read). The blob's
    * framing — BE length, magic, vector, BE CRC — is verified before the
    * vector decodes through the shared codec. */
  def readDv(conf: Configuration, path: Path, offset: Long,
      length: Long): Array[Long] = {
    val fs = path.getFileSystem(conf)
    val in = fs.open(path)
    try {
      in.seek(offset)
      val din = new java.io.DataInputStream(in)
      val dataLen = din.readInt()
      require(dataLen.toLong + 8L == length,
        s"DV blob length mismatch in $path@$offset: " +
          s"framed $dataLen+8 != manifest $length")
      val data = new Array[Byte](dataLen)
      din.readFully(data)
      val expected = din.readInt()
      val crc = new CRC32
      crc.update(data)
      require(crc.getValue.toInt == expected,
        s"DV blob checksum mismatch in $path@$offset")
      DeltaDeletionVectors.decodeBitmapArray(data)
    } finally in.close()
  }

  /** A DV blob as a per-file vector a scan task loads itself
    * ([[TableFiles.withoutDeleted]]). */
  final case class Vector(path: String, offset: Long, length: Long)
      extends TableFiles.DeletionVector {
    def positions(conf: Configuration): Array[Long] =
      readDv(conf, new Path(path), offset, length)
  }

  /** Parse a puffin file's footer: the blob descriptors. Used by
    * maintenance (which DV blobs does this file hold?) and specs; data
    * reads locate blobs from manifest entries instead, per the v3 spec. */
  def readFooter(conf: Configuration, path: Path): Seq[BlobDescriptor] = {
    val fs = path.getFileSystem(conf)
    val len = fs.getFileStatus(path).getLen
    val in = fs.open(path)
    try {
      val tail = new Array[Byte](12)
      in.seek(len - 12)
      in.readFully(tail)
      val bb = ByteBuffer.wrap(tail).order(ByteOrder.LITTLE_ENDIAN)
      val payloadSize = bb.getInt
      val flags = bb.getInt
      require(tail.slice(8, 12).sameElements(Magic),
        s"$path is not a puffin file (bad trailing magic)")
      require((flags & 1) == 0,
        s"$path: compressed puffin footer payload not supported")
      val payload = new Array[Byte](payloadSize)
      in.seek(len - 12 - payloadSize)
      in.readFully(payload)
      val head = new Array[Byte](4)
      in.seek(len - 12 - payloadSize - 4)
      in.readFully(head)
      require(head.sameElements(Magic),
        s"$path: footer payload not preceded by magic")
      val meta = new ObjectMapper().readTree(
        new String(payload, StandardCharsets.UTF_8))
      IcebergReader.jsonArray(meta.get("blobs")).map { b =>
        val props = Option(b.get("properties")).filter(_.isObject)
          .map(p => p.fieldNames().asScala.map(n =>
            n -> p.get(n).asText).toMap)
          .getOrElse(Map.empty[String, String])
        BlobDescriptor(b.get("type").asText,
          b.get("offset").asLong, b.get("length").asLong,
          Option(b.get("snapshot-id")).map(_.asLong).getOrElse(-1L),
          Option(b.get("sequence-number")).map(_.asLong).getOrElse(-1L),
          props)
      }
    } finally in.close()
  }

  /** Serialize positions to a DV blob's bitmap payload (magic + keyed
    * portable vector) — the executor-side encode for the delete job. */
  def encodePositions(positions: Iterator[Long]): (Array[Byte], Long) =
    DeltaDeletionVectors.encodeStreaming(positions)
}
