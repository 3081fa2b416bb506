package graft.delta

import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end use of a FOREIGN-written standard deletion-vector table —
  * protocol reader 3 / writer 7 with the `deletionVectors` feature, adds
  * carrying `add.deletionVector` descriptors ("u" packed file and "i"
  * inline). Graft must subtract the deleted positions on scan, keep them
  * subtracted through checkpoint restore and time travel, shield the DV
  * file from vacuum, classify the DV commit for streams, and MAINTAIN the
  * feature on write: appends leave descriptors alone, CoW DML folds them
  * away, merge-on-read DML unions them and re-emits protocol descriptors
  * foreign readers understand. */
class StandardDvTableSpec extends AnyFunSuite with SparkTestBase {
  import LogFixtures._

  private def conf = new Configuration()

  /** One single-part parquet data file with ids `ids` (row position == index
    * into `ids`), copied into the table dir under `name`; returns its size. */
  private def writeDataFile(dir: JPath, name: String, ids: Seq[Long]): Long = {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-dv-data-")
    ids.toDF("id").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq.head
    Files.copy(part, dir.resolve(name))
    Files.size(dir.resolve(name))
  }

  private def protocolDv: String =
    """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
      """"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}"""

  private def addJson(path: String, size: Long, dv: Option[StandardDv.Descriptor]): String = {
    val dvField = dv.map(d => s""","deletionVector":${d.json}""").getOrElse("")
    s"""{"add":{"path":"$path","partitionValues":{},"size":$size,""" +
      s""""modificationTime":1587968586000,"dataChange":true$dvField}}"""
  }

  /** Table: a.parquet ids 0-9, b.parquet ids 10-19; v1 deletes ids {1,3}
    * from a (packed "u" DV) and {10} from b (inline DV). With `dvEnabled`
    * the table also carries `delta.enableDeletionVectors=true`, so graft
    * DML takes the merge-on-read path. */
  private def buildForeignDvTable(dvEnabled: Boolean = false)
      : (JPath, StandardDv.Descriptor) = {
    val dir = tempTable("std-dv")
    val sizeA = writeDataFile(dir, "a.parquet", 0L until 10L)
    val sizeB = writeDataFile(dir, "b.parquet", 10L until 20L)

    val Seq(descA) = StandardDv.writePacked(conf, new Path(dir.toString), "",
      Iterator((StandardDv.PositionBitmap.serialize(Array(1L, 3L)), 2L)))
    val inlineBytes = StandardDv.PositionBitmap.serialize(Array(0L))
    val padded = inlineBytes ++ new Array[Byte]((4 - inlineBytes.length % 4) % 4)
    val descB = StandardDv.Descriptor("i", StandardDv.Z85.encode(padded),
      None, padded.length, 1L)

    val md =
      if (dvEnabled)
        metaData.replace(""""configuration":{}""",
          """"configuration":{"delta.enableDeletionVectors":"true"}""")
      else metaData
    writeCommit(dir, 0, Seq(protocolDv, md,
      addJson("a.parquet", sizeA, None), addJson("b.parquet", sizeB, None)))
    writeCommit(dir, 1, Seq(
      remove("a.parquet"),
      addJson("a.parquet", sizeA, Some(descA)),
      remove("b.parquet"),
      addJson("b.parquet", sizeB, Some(descB))))
    (dir, descA)
  }

  test("scan subtracts foreign standard DVs (packed file + inline)") {
    val (dir, _) = buildForeignDvTable()
    val dt = DeltaTable.forPath(spark, dir.toString)
    val ids = dt.toDF.select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == ((0L until 20L).toSet -- Set(1L, 3L, 10L)).toSeq.sorted)
    // descriptor cardinality drives logical row accounting
    assert(dt.snapshot.files.map(DeletionVectors.cardinality).sum == 3)
  }

  test("DISTRIBUTED restore preserves standard DV descriptors (no resurrected rows)") {
    // the r9 review found the distributed add schema silently dropped
    // add.deletionVector — a snapshot restored through that path served
    // DV-deleted rows again. Drive both the checkpointed and pure-commit
    // shapes through the executor-side replay.
    val (dir, _) = buildForeignDvTable()
    DeltaLog.forPath(spark, dir.toString).checkpoint()
    spark.conf.set(DeltaLog.DistributedThresholdKey, "1")
    try {
      val cold = DeltaLog.forPath(spark, dir.toString).update()
      assert(cold.files.count(_.deletionVector.isDefined) == 2,
        "distributed restore must carry the descriptors")
      val ids = DeltaTable.forPath(spark, dir.toString)
        .toDF.select("id").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == ((0L until 20L).toSet -- Set(1L, 3L, 10L)).toSeq.sorted,
        "DV-deleted rows resurrected through the distributed restore")
    } finally spark.conf.unset(DeltaLog.DistributedThresholdKey)
  }

  test("time travel reads the pre-DV version complete") {
    val (dir, _) = buildForeignDvTable()
    val v0 = DeltaTable.forPath(spark, dir.toString, 0)
    assert(v0.toDF.count() == 20)
  }

  test("descriptors survive graft's own checkpoint (restore-from-checkpoint scan)") {
    val (dir, _) = buildForeignDvTable()
    val log = DeltaLog.forPath(spark, dir.toString)
    log.update()
    val cp = log.checkpoint()
    assert(cp.version == 1)
    // drop the commit files: a fresh client must reconstruct state (incl.
    // the descriptors) from the checkpoint alone
    Files.delete(dir.resolve("_delta_log").resolve(f"${0L}%020d.json"))
    Files.delete(dir.resolve("_delta_log").resolve(f"${1L}%020d.json"))
    val dt = DeltaTable.forPath(spark, dir.toString)
    assert(dt.toDF.count() == 17)
    val descs = dt.snapshot.files.flatMap(StandardDv.descriptor)
    assert(descs.size == 2)
    assert(descs.map(_.cardinality).sum == 3)
    assert(descs.map(_.storageType).toSet == Set("u", "i"))
  }

  test("vacuum never deletes a live-referenced standard DV file") {
    val (dir, descA) = buildForeignDvTable()
    val dt = DeltaTable.forPath(spark, dir.toString)
    val dvRel = descA.absolutePath(new Path(dir.toString)).getName
    // the tombstones from v1 are fresh, so nothing is expired; force the
    // worst case by asking for the would-be list at the retention floor
    val wouldDelete = dt.vacuum(dryRun = true)
    assert(!wouldDelete.exists(_.contains("deletion_vector_")), wouldDelete)
    assert(Files.exists(dir.resolve(dvRel)))
  }

  test("vacuum reclaims ORPHANED standard DV files by mtime (foreign writers don't tombstone them)") {
    val (dir, descA) = buildForeignDvTable()
    // a foreign writer superseded its own DV and left the old file behind:
    // unreferenced by any add, never tombstoned
    val Seq(orphan) = StandardDv.writePacked(conf, new Path(dir.toString), "",
      Iterator((StandardDv.PositionBitmap.serialize(Array(7L)), 1L)))
    val orphanRel = orphan.absolutePath(new Path("/")).toUri.getPath.stripPrefix("/")
    val liveRel = descA.absolutePath(new Path("/")).toUri.getPath.stripPrefix("/")
    val oldTime = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 400L * 3600 * 1000)
    Files.setLastModifiedTime(dir.resolve(orphanRel), oldTime)
    Files.setLastModifiedTime(dir.resolve(liveRel), oldTime) // aged but LIVE
    val dt = DeltaTable.forPath(spark, dir.toString)
    val deleted = dt.vacuum()
    assert(deleted == Seq(orphanRel), deleted)
    assert(!Files.exists(dir.resolve(orphanRel)))
    assert(Files.exists(dir.resolve(liveRel)), "live-referenced DV must survive")
    assert(dt.toDF.count() == 17, "content unchanged after orphan reclaim")
  }

  test("streams classify the DV commit as a delete, never serve the re-adds") {
    val (dir, _) = buildForeignDvTable()
    val log = DeltaLog.forPath(spark, dir.toString)
    val actions = log.readCommit(1)
    val e = intercept[IllegalStateException] {
      RewriteFence.servableAdds(dir.toString, 1, actions,
        ignoreChanges = false, ignoreDeletes = false)
    }
    assert(e.getMessage.contains("Deletes are invisible"))
    val served = RewriteFence.servableAdds(dir.toString, 1, actions,
      ignoreChanges = false, ignoreDeletes = true)
    assert(served.isEmpty, "DV-pointer re-adds carry no new rows")
  }

  test("appends leave foreign descriptors untouched") {
    import spark.implicits._
    val (dir, _) = buildForeignDvTable()
    GraftWriter.write(Seq(100L, 101L).toDF("id"), dir.toString,
      mode = org.apache.spark.sql.SaveMode.Append)
    val dt = DeltaTable.forPath(spark, dir.toString)
    assert(dt.toDF.count() == 19)
    assert(dt.snapshot.files.flatMap(StandardDv.descriptor).size == 2)
  }

  test("CoW DELETE rewrites the affected file and drops its descriptor") {
    val (dir, _) = buildForeignDvTable(dvEnabled = false)
    val m = Dml.delete(spark, dir.toString,
      org.apache.spark.sql.functions.col("id") === 5L)
    assert(m.rowsAffected == 1)
    val dt = DeltaTable.forPath(spark, dir.toString)
    val ids = dt.toDF.select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == ((0L until 20L).toSet -- Set(1L, 3L, 10L, 5L)).toSeq.sorted)
    // a.parquet was rewritten clean (the rewrite already subtracted its
    // DV); b.parquet keeps its untouched inline descriptor
    val descs = dt.snapshot.files.flatMap(StandardDv.descriptor)
    assert(descs.size == 1 && descs.head.storageType == "i")
  }

  test("DV DELETE on a standard-native table emits a protocol descriptor") {
    val (dir, oldDescA) = buildForeignDvTable(dvEnabled = true)
    val m = Dml.delete(spark, dir.toString,
      org.apache.spark.sql.functions.col("id") === 5L)
    assert(m.rowsAffected == 1)
    val dt = DeltaTable.forPath(spark, dir.toString)
    assert(dt.toDF.count() == 16)

    val a = dt.snapshot.files.find(_.path == "a.parquet").get
    val desc = StandardDv.descriptor(a).get
    // the new descriptor carries the COMPLETE union {1,3,5} in the
    // protocol's format, in a DV file under the operation's directory; no
    // retired-format tag is written
    assert(desc.cardinality == 3)
    assert(desc.storageType == "u")
    assert(desc.pathOrInlineDv.length > 20, "expected a per-operation prefix")
    assert(a.tags.forall(!_.keys.exists(_.startsWith("graft.dv."))))
    assert(StandardDv.readPositions(conf, new Path(dir.toString), desc)
      .toSeq == Seq(1L, 3L, 5L))

    // the superseded packed file is tombstoned for vacuum; nothing is
    // staged in the retired format's parquet directory
    val oldRel = oldDescA.absolutePath(new Path("/")).toUri.getPath.stripPrefix("/")
    assert(dt.snapshot.tombstones.exists(_.path == oldRel))
    assert(!Files.exists(dir.resolve("_graft_dv")))
  }

  test("OPTIMIZE folds foreign standard DVs into clean rewritten files") {
    val (dir, oldDescA) = buildForeignDvTable()
    Optimize.compact(spark, dir.toString, targetFileBytes = Long.MaxValue)
    val dt = DeltaTable.forPath(spark, dir.toString)
    // logical content preserved, no descriptor survives compaction
    val ids = dt.toDF.select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == ((0L until 20L).toSet -- Set(1L, 3L, 10L)).toSeq.sorted)
    assert(dt.snapshot.files.flatMap(StandardDv.descriptor).isEmpty)
    // the superseded packed DV file is tombstoned for vacuum
    val oldRel = oldDescA.absolutePath(new Path("/")).toUri.getPath.stripPrefix("/")
    assert(dt.snapshot.tombstones.exists(_.path == oldRel))
  }

  test("DV UPDATE on a standard-native table unions the inline positions") {
    val (dir, _) = buildForeignDvTable(dvEnabled = true)
    val m = Dml.update(spark, dir.toString,
      org.apache.spark.sql.functions.col("id") === 12L,
      Map("id" -> org.apache.spark.sql.functions.lit(999L)))
    assert(m.rowsAffected == 1)
    val dt = DeltaTable.forPath(spark, dir.toString)
    val ids = dt.toDF.select("id").collect().map(_.getLong(0)).sorted
    assert(ids.count(_ == 999L) == 1)
    assert(!ids.contains(12L) && !ids.contains(10L))
    assert(ids.length == 17)
    // b.parquet's re-add holds {pos 0 (id 10, from the inline DV), pos 2
    // (id 12)} as a packed standard descriptor
    val b = dt.snapshot.files.find(_.path == "b.parquet").get
    val desc = StandardDv.descriptor(b).get
    assert(desc.cardinality == 2 && desc.storageType == "u")
    assert(StandardDv.readPositions(conf, new Path(dir.toString), desc)
      .toSeq == Seq(0L, 2L))
  }
}
