package graft.delta

import java.io.{DataInputStream, DataOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.UUID
import java.util.zip.CRC32

import com.fasterxml.jackson.databind.JsonNode
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.roaringbitmap.RoaringBitmap

/** The Delta protocol's deletion-vector format — the only one graft reads
  * and writes.
  *
  * The reference (delta-rs v0.4.1) predates deletion vectors; this module
  * implements the published protocol so DV tables interoperate in both
  * directions. Wiring ([[DeletionVectors]], [[Dml]]): scans decode the
  * descriptors on executors into the (path, pos) rows of the DV anti-join,
  * and merge-on-read DML packs each task's per-file bitmaps — prior
  * positions unioned in — into one DV file ([[writeVectors]]) and re-emits
  * the files with the new descriptors.
  *
  * On-disk shape (PROTOCOL.md "Deletion Vector Descriptor Schema" +
  * "Deletion Vector Format"):
  *
  *  - `add.deletionVector` / `remove.deletionVector` descriptor:
  *    `{storageType, pathOrInlineDv, offset?, sizeInBytes, cardinality}`;
  *  - `storageType`: `"u"` = file relative to the table root, named by a
  *    Z85-encoded UUID with an optional random prefix; `"p"` = absolute
  *    path; `"i"` = bitmap inline, Z85 in `pathOrInlineDv` itself;
  *  - DV file: 1-byte format version (= 1), then per stored vector a
  *    4-byte big-endian length, the serialized bitmap, and a 4-byte
  *    big-endian CRC-32 of the bitmap bytes; `offset` addresses the length
  *    word, `sizeInBytes` is the bitmap-bytes length alone;
  *  - bitmap: 64-bit "RoaringBitmapArray" in its portable serialization —
  *    little-endian magic 1681511377, a little-endian 8-byte count of
  *    32-bit roaring bitmaps, then each bitmap's standard portable form
  *    concatenated; deleted row position = index·2³² + member value.
  */
object StandardDv {

  /** ZeroMQ Z85 (spec 32): 4 big-endian bytes ⇄ 5 chars. Delta uses it for
    * DV file UUIDs and inline bitmaps. */
  object Z85 {
    private val Alphabet =
      "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ" +
      ".-:+=^!/*?&<>()[]{}@%$#"
    private val Decode: Array[Int] = {
      val d = Array.fill(128)(-1)
      Alphabet.zipWithIndex.foreach { case (c, i) => d(c.toInt) = i }
      d
    }

    def encode(bytes: Array[Byte]): String = {
      require(bytes.length % 4 == 0, s"Z85 input not 4-byte aligned: ${bytes.length}")
      val sb = new StringBuilder(bytes.length / 4 * 5)
      var i = 0
      while (i < bytes.length) {
        var v = 0L
        var j = 0
        while (j < 4) { v = (v << 8) | (bytes(i + j) & 0xffL); j += 1 }
        var div = 85L * 85 * 85 * 85
        while (div > 0) { sb.append(Alphabet(((v / div) % 85).toInt)); div /= 85 }
        i += 4
      }
      sb.toString
    }

    def decode(s: String): Array[Byte] = {
      require(s.length % 5 == 0, s"Z85 input not 5-char aligned: ${s.length}")
      val out = new Array[Byte](s.length / 5 * 4)
      var i = 0
      while (i < s.length) {
        var v = 0L
        var j = 0
        while (j < 5) {
          val c = s.charAt(i + j)
          val d = if (c < 128) Decode(c.toInt) else -1
          require(d >= 0, s"invalid Z85 character '$c'")
          v = v * 85 + d
          j += 1
        }
        var k = 3
        val base = i / 5 * 4
        while (k >= 0) { out(base + k) = (v & 0xff).toByte; v >>= 8; k -= 1 }
        i += 5
      }
      out
    }
  }

  /** Serialized-bitmap codec: sorted distinct 0-based row positions ⇄ the
    * portable RoaringBitmapArray bytes described above. The 32-bit roaring
    * library on Spark's classpath supplies each sub-bitmap's portable form.
    *
    * Per the RoaringFormatSpec 64-bit extension each sub-bitmap is PRECEDED
    * by its 4-byte little-endian key (the high 32 bits of the positions it
    * holds). The writer emits a DENSE key sequence 0..n-1 — empty
    * sub-bitmaps included — matching the delta-spark RoaringBitmapArray
    * serializer byte-for-byte; the reader tolerates SPARSE ascending keys,
    * which the spec permits and other writers may produce. */
  object PositionBitmap {
    val Magic = 1681511377

    def serialize(positions: Array[Long]): Array[Byte] = {
      val sorted = positions.distinct.sorted
      sorted.foreach(p => require(p >= 0, s"negative row position $p"))
      val nMaps = if (sorted.isEmpty) 0L else (sorted.last >>> 32) + 1
      val maps = Array.fill(nMaps.toInt)(new RoaringBitmap())
      sorted.foreach(p => maps((p >>> 32).toInt).add((p & 0xffffffffL).toInt))
      val size = 12 + maps.map(4 + _.serializedSizeInBytes()).sum
      val buf = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
      buf.putInt(Magic)
      buf.putLong(nMaps)
      maps.zipWithIndex.foreach { case (m, key) =>
        buf.putInt(key)
        m.serialize(buf)
      }
      buf.array()
    }

    def deserialize(bytes: Array[Byte]): Array[Long] = {
      val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      val magic = buf.getInt
      require(magic == Magic, s"bad RoaringBitmapArray magic $magic (expected $Magic)")
      val nMaps = buf.getLong
      require(nMaps >= 0 && nMaps <= Int.MaxValue, s"bad bitmap count $nMaps")
      val out = Array.newBuilder[Long]
      var i = 0L
      var lastKey = -1
      while (i < nMaps) {
        val key = buf.getInt
        require(key > lastKey, s"non-ascending sub-bitmap key $key after $lastKey")
        lastKey = key
        val rb = new RoaringBitmap()
        rb.deserialize(buf)
        buf.position(buf.position() + rb.serializedSizeInBytes())
        val high = key.toLong << 32
        rb.forEach((v: Int) => out += (high | (v & 0xffffffffL)): Unit)
        i += 1
      }
      out.result()
    }
  }

  /** `add.deletionVector`, parsed. `offset` is present for on-disk vectors
    * ("u"/"p") and absent inline. */
  final case class Descriptor(
      storageType: String,
      pathOrInlineDv: String,
      offset: Option[Int],
      sizeInBytes: Int,
      cardinality: Long) {

    def isInline: Boolean = storageType == "i"

    /** The DV file this descriptor addresses ("u": table-relative UUID file
      * under an optional random prefix; "p": absolute). */
    def absolutePath(tablePath: Path): Path = storageType match {
      case "u" =>
        val prefix = pathOrInlineDv.dropRight(20)
        val uuid = uuidFromZ85(pathOrInlineDv.takeRight(20))
        val name = s"deletion_vector_$uuid.bin"
        if (prefix.isEmpty) new Path(tablePath, name)
        else new Path(new Path(tablePath, prefix), name)
      case "p" => new Path(pathOrInlineDv)
      case other => throw new IllegalArgumentException(
        s"deletion vector storageType '$other' has no file path")
    }

    def json: String = {
      val o = ActionCodec.mapper.createObjectNode()
      o.put("storageType", storageType)
      o.put("pathOrInlineDv", pathOrInlineDv)
      offset.foreach(o.put("offset", _))
      o.put("sizeInBytes", sizeInBytes)
      o.put("cardinality", cardinality)
      o.toString
    }
  }

  def parse(json: String): Descriptor = {
    val n: JsonNode = ActionCodec.mapper.readTree(json)
    def req(f: String): JsonNode = {
      val v = n.get(f)
      require(v != null && !v.isNull, s"deletionVector descriptor missing '$f': $json")
      v
    }
    Descriptor(
      storageType = req("storageType").asText,
      pathOrInlineDv = req("pathOrInlineDv").asText,
      offset = Option(n.get("offset")).filterNot(_.isNull).map(_.asInt),
      sizeInBytes = req("sizeInBytes").asInt,
      cardinality = req("cardinality").asLong)
  }

  def descriptor(a: AddAction): Option[Descriptor] = a.deletionVector.map(parse)

  private[delta] def uuidFromZ85(s: String): UUID = {
    val b = ByteBuffer.wrap(Z85.decode(s))
    new UUID(b.getLong, b.getLong)
  }

  private[delta] def z85FromUuid(u: UUID): String = {
    val b = ByteBuffer.allocate(16)
    b.putLong(u.getMostSignificantBits)
    b.putLong(u.getLeastSignificantBits)
    Z85.encode(b.array())
  }

  val FormatVersion: Byte = 1

  /** Deleted positions for one descriptor — inline decode, or a ranged read
    * of `sizeInBytes` at `offset` with length + CRC-32 verification. Runs
    * on executors for the scan path ([[DeletionVectors.dvDf]]); per-file
    * position sets are bounded by file row counts, and the roaring bytes
    * themselves are compact. */
  def readPositions(conf: Configuration, tablePath: Path,
                    desc: Descriptor): Array[Long] = {
    val data =
      if (desc.isInline) Z85.decode(desc.pathOrInlineDv)
      else {
        val p = desc.absolutePath(tablePath)
        val in = p.getFileSystem(conf).open(p)
        try {
          val off = desc.offset.getOrElse(
            throw new IllegalArgumentException(
              s"on-disk deletion vector missing offset: ${desc.json}"))
          in.seek(off.toLong)
          val d = new DataInputStream(in)
          val len = d.readInt()
          require(len == desc.sizeInBytes,
            s"deletion vector at $p:$off declares $len bytes, descriptor " +
            s"says ${desc.sizeInBytes}")
          val bytes = new Array[Byte](len)
          d.readFully(bytes)
          val stored = d.readInt()
          val crc = new CRC32(); crc.update(bytes)
          require(stored == crc.getValue.toInt,
            s"deletion vector at $p:$off fails CRC-32 (stored $stored, " +
            s"computed ${crc.getValue.toInt})")
          bytes
        } finally in.close()
      }
    val positions = PositionBitmap.deserialize(data)
    require(positions.length == desc.cardinality,
      s"deletion vector carries ${positions.length} positions, descriptor " +
      s"declares cardinality ${desc.cardinality}")
    positions
  }

  /** Write per-file bitmaps PACKED into one DV file (the protocol's
    * multi-vector layout — one file-open per task, not per affected data
    * file) under the table-relative directory `prefix` ("" = the table
    * root), and return each data file's descriptor in input order. Bitmap
    * bytes arrive pre-serialized ([[PositionBitmap]]) through an iterator,
    * so only one bitmap is held at a time. */
  private[delta] def writePacked(conf: Configuration, tablePath: Path, prefix: String,
                                 bitmaps: Iterator[(Array[Byte], Long)]): Seq[Descriptor] = {
    val uuid = UUID.randomUUID()
    val dir = if (prefix.isEmpty) tablePath else new Path(tablePath, prefix)
    val file = new Path(dir, s"deletion_vector_$uuid.bin")
    val fs = file.getFileSystem(conf)
    val descs = Seq.newBuilder[Descriptor]
    // a failure part-way (a prior vector failing its CRC, a killed task)
    // deletes the partial file, which no descriptor will name
    try {
      val out = new DataOutputStream(fs.create(file, false))
      try {
        out.writeByte(FormatVersion.toInt)
        var offset = 1
        bitmaps.foreach { case (bytes, cardinality) =>
          out.writeInt(bytes.length)
          out.write(bytes)
          val crc = new CRC32(); crc.update(bytes)
          out.writeInt(crc.getValue.toInt)
          descs += Descriptor("u", prefix + z85FromUuid(uuid), Some(offset),
            bytes.length, cardinality)
          offset += 4 + bytes.length + 4
        }
      } finally out.close()
    } catch {
      case e: Throwable =>
        try fs.delete(file, false) catch { case _: Exception => () }
        throw e
    }
    descs.result()
  }

  /** One DML task's share of a merge-on-read write: `rows` are newly
    * matched (data file path, row position) pairs in any order, every row
    * of a file in this task. Each file's vector is its `prior` positions
    * (path → current descriptor JSON, for files that already carry one)
    * unioned with the new ones; all vectors go into one packed file under
    * `prefix`. Returns (path, new descriptor JSON, newly deleted count) per
    * file, and writes nothing when `rows` is empty. */
  private[delta] def writeVectors(conf: Configuration, tablePath: Path, prefix: String,
                                  prior: Map[String, String],
                                  rows: Iterator[(String, Long)])
      : Iterator[(String, String, Long)] = {
    if (!rows.hasNext) return Iterator.empty
    val byFile = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.ArrayBuilder.ofLong]
    rows.foreach { case (p, pos) =>
      byFile.getOrElseUpdate(p, new scala.collection.mutable.ArrayBuilder.ofLong) += pos
    }
    val files = byFile.keys.toSeq.sorted
    val fresh = files.map(p => byFile.remove(p).get.result())
    val descs = writePacked(conf, tablePath, prefix,
      files.iterator.zip(fresh.iterator).map { case (p, positions) =>
        val old = prior.get(p).map(j => readPositions(conf, tablePath, parse(j)))
          .getOrElse(Array.emptyLongArray)
        val all = (old ++ positions).distinct
        (PositionBitmap.serialize(all), all.length.toLong)
      })
    files.iterator.zip(descs.iterator).zip(fresh.iterator).map {
      case ((p, d), positions) => (p, d.json, positions.length.toLong)
    }
  }
}
