package graft.delta

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files
import java.util.UUID

import graft.SparkTestBase
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.roaringbitmap.RoaringBitmap
import org.scalatest.funsuite.AnyFunSuite

/** Wire-format coverage for [[StandardDv]] — the published Delta
  * deletion-vector formats (Z85 names, portable 64-bit RoaringBitmapArray,
  * versioned CRC file layout, descriptor JSON). Every byte here is
  * spec-derived, not implementation-derived: the layout assertions build
  * the expected bytes independently so a codec drift fails loudly. */
class StandardDvSpec extends AnyFunSuite with SparkTestBase {
  import StandardDv._

  // ---------------------------------------------------------------- Z85

  test("Z85 encodes the ZeroMQ spec-32 test vector") {
    // https://rfc.zeromq.org/spec/32/ — hex 86 4F D2 6F B5 59 F7 5B ⇔ "HelloWorld"
    val bytes = Array(0x86, 0x4f, 0xd2, 0x6f, 0xb5, 0x59, 0xf7, 0x5b).map(_.toByte)
    assert(Z85.encode(bytes) == "HelloWorld")
    assert(Z85.decode("HelloWorld").sameElements(bytes))
  }

  test("Z85 round-trips random 4-aligned payloads and rejects bad input") {
    val rnd = new scala.util.Random(7)
    (0 until 50).foreach { _ =>
      val b = new Array[Byte](4 * (1 + rnd.nextInt(8)))
      rnd.nextBytes(b)
      assert(Z85.decode(Z85.encode(b)).sameElements(b))
    }
    intercept[IllegalArgumentException](Z85.encode(new Array[Byte](3)))
    intercept[IllegalArgumentException](Z85.decode("abcd"))     // not 5-aligned
    intercept[IllegalArgumentException](Z85.decode("abcdé")) // outside alphabet
  }

  test("UUID ⇄ Z85 round-trip is 20 chars and stable") {
    val u = UUID.fromString("01234567-89ab-cdef-0123-456789abcdef")
    val z = z85FromUuid(u)
    assert(z.length == 20)
    assert(uuidFromZ85(z) == u)
    (0 until 20).foreach { _ =>
      val r = UUID.randomUUID()
      assert(uuidFromZ85(z85FromUuid(r)) == r)
    }
  }

  // ----------------------------------------------- portable bitmap codec

  test("PositionBitmap round-trips, including across the 2^32 boundary") {
    val cases = Seq[Array[Long]](
      Array.empty,
      Array(0L),
      Array(0L, 1L, 2L, 65536L, 4294967295L),            // full bucket 0
      Array(4294967296L),                                 // exactly 2^32
      Array(5L, 4294967296L + 10, 3L * 4294967296L + 7), // buckets 0,1,3 (2 empty)
      (0L until 10000L).toArray,
      Array(17L, 17L, 17L))                               // duplicates collapse
    cases.foreach { ps =>
      val got = PositionBitmap.deserialize(PositionBitmap.serialize(ps))
      assert(got.toSeq == ps.distinct.sorted.toSeq, s"case ${ps.take(5).toSeq}")
    }
    intercept[IllegalArgumentException](PositionBitmap.serialize(Array(-1L)))
  }

  test("PositionBitmap bytes match the spec layout built independently") {
    // positions in buckets 0 and 2; bucket 1 present-but-empty (dense keys,
    // the delta-spark serializer shape)
    val positions = Array(1L, 10L, 2L * 4294967296L + 42)
    val b0 = new RoaringBitmap(); b0.add(1); b0.add(10)
    val b1 = new RoaringBitmap()
    val b2 = new RoaringBitmap(); b2.add(42)
    val size = 12 + Seq(b0, b1, b2).map(4 + _.serializedSizeInBytes()).sum
    val expected = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
    expected.putInt(1681511377) // magic
    expected.putLong(3L)        // number of 32-bit sub-bitmaps
    Seq(b0, b1, b2).zipWithIndex.foreach { case (b, key) =>
      expected.putInt(key)      // 4-byte LE key BEFORE each sub-bitmap
      b.serialize(expected)
    }
    assert(PositionBitmap.serialize(positions).sameElements(expected.array()))
  }

  test("PositionBitmap reads sparse ascending keys (spec-legal foreign shape)") {
    // a writer that skips empty buckets: keys 0 and 5 only, count = 2
    val b0 = new RoaringBitmap(); b0.add(3)
    val b5 = new RoaringBitmap(); b5.add(9)
    val size = 12 + Seq(b0, b5).map(4 + _.serializedSizeInBytes()).sum
    val buf = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(1681511377)
    buf.putLong(2L)
    buf.putInt(0); b0.serialize(buf)
    buf.putInt(5); b5.serialize(buf)
    val got = PositionBitmap.deserialize(buf.array())
    assert(got.toSeq == Seq(3L, 5L * 4294967296L + 9))
  }

  test("PositionBitmap rejects bad magic and non-ascending keys") {
    val ok = PositionBitmap.serialize(Array(1L))
    val badMagic = ok.clone(); badMagic(0) = (badMagic(0) ^ 1).toByte
    intercept[IllegalArgumentException](PositionBitmap.deserialize(badMagic))

    val b = new RoaringBitmap(); b.add(1)
    val size = 12 + 2 * (4 + b.serializedSizeInBytes())
    val buf = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(1681511377)
    buf.putLong(2L)
    buf.putInt(1); b.serialize(buf)
    buf.putInt(1); b.serialize(buf) // duplicate key
    intercept[IllegalArgumentException](PositionBitmap.deserialize(buf.array()))
  }

  // ------------------------------------------------- file layout + CRC

  private def conf = new Configuration()

  test("writePacked/readPositions round-trip multiple vectors in one file") {
    val dir = new Path(Files.createTempDirectory("graft-dv-pack-").toString)
    val sets = Seq(
      Array(0L, 5L, 9L),
      Array(2L, 4294967296L + 1),
      (100L until 200L).toArray)
    val bitmaps = sets.map(ps => (PositionBitmap.serialize(ps), ps.length.toLong))
    val descs = writePacked(conf, dir, "", bitmaps.iterator)
    assert(descs.size == 3)
    assert(descs.map(_.pathOrInlineDv).distinct.size == 1, "one shared DV file")
    // protocol shape: version byte 1 ⇒ first offset is 1; each next offset
    // advances by 4 (length) + bytes + 4 (CRC)
    assert(descs.head.offset.contains(1))
    descs.zip(bitmaps).sliding(2).foreach {
      case Seq((d1, (b1, _)), (d2, _)) =>
        assert(d2.offset.get == d1.offset.get + 4 + b1.length + 4)
      case _ => ()
    }
    descs.zip(sets).foreach { case (d, ps) =>
      assert(d.storageType == "u" && d.cardinality == ps.length)
      assert(readPositions(conf, dir, d).toSeq == ps.distinct.sorted.toSeq)
    }
    // the physical file exists under the table root with the Z85-named UUID
    val f = descs.head.absolutePath(dir)
    assert(f.getFileSystem(conf).exists(f))
  }

  test("readPositions verifies CRC-32 and declared cardinality") {
    val dir = new Path(Files.createTempDirectory("graft-dv-crc-").toString)
    val ps = Array(1L, 2L, 3L)
    val Seq(desc) = writePacked(conf, dir, "",
      Iterator((PositionBitmap.serialize(ps), ps.length.toLong)))

    // corrupt one bitmap byte on disk → CRC mismatch. Drop Hadoop's own
    // .crc sidecar so the PROTOCOL-level CRC is the check that fires.
    val file = desc.absolutePath(dir)
    val local = java.nio.file.Paths.get(file.toUri.getPath)
    Files.deleteIfExists(local.getParent.resolve("." + local.getFileName + ".crc"))
    val bytes = Files.readAllBytes(local)
    bytes(desc.offset.get + 4 + 2) = (bytes(desc.offset.get + 4 + 2) ^ 0x40).toByte
    Files.write(local, bytes)
    val e = intercept[IllegalArgumentException](readPositions(conf, dir, desc))
    assert(e.getMessage.contains("CRC-32"))

    // cardinality lie → refused even with intact bytes
    Files.write(local, {
      bytes(desc.offset.get + 4 + 2) = (bytes(desc.offset.get + 4 + 2) ^ 0x40).toByte
      bytes
    })
    val lying = desc.copy(cardinality = 99)
    val e2 = intercept[IllegalArgumentException](readPositions(conf, dir, lying))
    assert(e2.getMessage.contains("cardinality"))
  }

  test("writePacked deletes its partial file when a vector fails part-way") {
    val dir = new Path(Files.createTempDirectory("graft-dv-partial-").toString)
    val ps = Array(1L, 2L)
    val vectors = Iterator((PositionBitmap.serialize(ps), ps.length.toLong)) ++
      Iterator.continually[(Array[Byte], Long)](
        throw new IllegalArgumentException("prior vector fails CRC-32")).take(1)
    val e = intercept[IllegalArgumentException](writePacked(conf, dir, "dv-op", vectors))
    assert(e.getMessage.contains("CRC-32"))
    val it = dir.getFileSystem(conf).listFiles(dir, true)
    val left = Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath).toList
    assert(left.isEmpty, s"partial DV file left: $left")
  }

  test("writeVectors packs one task's files under the prefix, prior positions unioned in") {
    val dir = new Path(Files.createTempDirectory("graft-dv-task-").toString)
    val Seq(prior) = writePacked(conf, dir, "", Iterator(
      (PositionBitmap.serialize(Array(3L, 8L)), 2L)))
    val rows = Iterator(("b.parquet", 4L), ("a.parquet", 1L), ("b.parquet", 0L),
      ("a.parquet", 5L), ("b.parquet", 9L))
    val out = writeVectors(conf, dir, "dv-op1", Map("a.parquet" -> prior.json), rows).toSeq
    assert(out.map(o => (o._1, o._3)) == Seq(("a.parquet", 2L), ("b.parquet", 3L)))
    val descs = out.map(o => o._1 -> parse(o._2)).toMap
    assert(descs.values.map(_.pathOrInlineDv).toSet.size == 1, "one DV file per task")
    assert(descs.values.forall(_.pathOrInlineDv.startsWith("dv-op1")))
    assert(descs("a.parquet").cardinality == 4)
    assert(readPositions(conf, dir, descs("a.parquet")).toSeq == Seq(1L, 3L, 5L, 8L))
    assert(readPositions(conf, dir, descs("b.parquet")).toSeq == Seq(0L, 4L, 9L))
    assert(descs("a.parquet").absolutePath(dir).getParent == new Path(dir, "dv-op1"))
    // an empty task writes no file
    assert(writeVectors(conf, dir, "dv-op2", Map.empty, Iterator.empty).isEmpty)
    assert(!new Path(dir, "dv-op2").getFileSystem(conf).exists(new Path(dir, "dv-op2")))
  }

  test("inline descriptors decode without touching the filesystem") {
    val ps = Array(7L, 11L, 4294967296L + 2)
    val bytes = PositionBitmap.serialize(ps)
    val padded = bytes ++ new Array[Byte]((4 - bytes.length % 4) % 4)
    val desc = Descriptor("i", Z85.encode(padded), None, padded.length, ps.length)
    assert(readPositions(conf, new Path("/nonexistent"), desc).toSeq ==
      ps.distinct.sorted.toSeq)
  }

  // ------------------------------------------------------- descriptors

  test("descriptor JSON round-trips through parse, offset optional") {
    val d = Descriptor("u", "ab" + "0" * 18, Some(1), 40, 3)
    assert(parse(d.json) == d)
    val inline = Descriptor("i", "HelloWorld", None, 8, 1)
    assert(parse(inline.json) == inline)
    intercept[IllegalArgumentException](parse("""{"storageType":"u"}"""))
  }

  test("'u' descriptors resolve table-relative paths, with and without prefix") {
    val u = UUID.fromString("01234567-89ab-cdef-0123-456789abcdef")
    val table = new Path("/data/t1")
    val bare = Descriptor("u", z85FromUuid(u), Some(1), 8, 1)
    assert(bare.absolutePath(table) ==
      new Path(s"/data/t1/deletion_vector_$u.bin"))
    val prefixed = Descriptor("u", "ab/cd" + z85FromUuid(u), Some(1), 8, 1)
    assert(prefixed.absolutePath(table) ==
      new Path(s"/data/t1/ab/cd/deletion_vector_$u.bin"))
    val abs = Descriptor("p", "/elsewhere/dv.bin", Some(1), 8, 1)
    assert(abs.absolutePath(table) == new Path("/elsewhere/dv.bin"))
  }
}
