package graft.delta

import graft.SparkTestBase
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DeletionVectorsSpec extends AnyFunSuite with SparkTestBase {
  import LogFixtures.{remove, tempTable, writeCommit}
  import spark.implicits._

  private def dvTable(name: String, rows: Int = 100): String = {
    val dir = tempTable(name).toString
    GraftWriter.write((0 until rows).map(i => (i.toLong, s"n$i")).toDF("id", "v")
      .repartition(2), dir)
    new DeltaTable(DeltaLog.forPath(spark, dir), DeltaLog.forPath(spark, dir).update())
      .setProperties(Map(TableConfig.EnableDeletionVectors -> "true"))
    dir
  }

  test("DV DELETE removes rows without rewriting any data file") {
    val dir = dvTable("dv-delete")
    val before = DeltaTable.forPath(spark, dir)
    val dataPaths = before.files.map(_.path).toSet

    val m = Dml.delete(spark, dir, col("id") < 10)
    assert(m.rowsAffected == 10)

    val dt = DeltaTable.forPath(spark, dir)
    // same physical files, now carrying DV descriptors
    assert(dt.files.map(_.path).toSet == dataPaths)
    assert(dt.files.forall(a => DeletionVectors.hasDv(a) ||
      DeletionVectors.cardinality(a) == 0))
    assert(dt.files.map(DeletionVectors.cardinality).sum == 10)
    // logical view subtracts the deleted positions
    assert(dt.toDF.count() == 90)
    assert(dt.toDF.filter(col("id") < 10).count() == 0)
    assert(dt.toDF.agg(sum("id")).as[Long].head() == (10L until 100L).sum)
    // pre-delete version still shows everything
    assert(DeltaTable.forPath(spark, dir, m.version - 1).toDF.count() == 100)
  }

  test("second DV DELETE on the same file unions positions") {
    val dir = dvTable("dv-delete-twice")
    Dml.delete(spark, dir, col("id") < 10)
    val m2 = Dml.delete(spark, dir, col("id") >= 10 && col("id") < 15)
    assert(m2.rowsAffected == 5)
    val dt = DeltaTable.forPath(spark, dir)
    assert(dt.toDF.count() == 85)
    assert(dt.files.map(DeletionVectors.cardinality).sum == 15)
    // deleting already-deleted rows is a no-op, not a double count
    val m3 = Dml.delete(spark, dir, col("id") < 15)
    assert(m3.rowsAffected == 0)
    assert(DeltaTable.forPath(spark, dir).toDF.count() == 85)
  }

  test("DV UPDATE moves matched rows to new files, old files unrewritten") {
    val dir = dvTable("dv-update")
    val before = DeltaTable.forPath(spark, dir).files.map(_.path).toSet
    val m = Dml.update(spark, dir, col("id") < 5, Map("v" -> lit("updated")))
    assert(m.rowsAffected == 5)
    val dt = DeltaTable.forPath(spark, dir)
    assert(before.subsetOf(dt.files.map(_.path).toSet)) // originals still there
    assert(dt.files.size > before.size)                 // plus appended updates
    assert(dt.toDF.count() == 100)
    assert(dt.toDF.filter(col("v") === "updated").count() == 5)
    assert(dt.toDF.filter(col("id") < 5 && col("v") =!= "updated").count() == 0)
  }

  test("SQL reads through the catalog subtract DVs") {
    val dir = dvTable("dv-sql")
    Dml.delete(spark, dir, col("id") >= 90)
    val viaFormat = spark.read.format("graft-delta").load(dir)
    assert(viaFormat.count() == 90)
    assert(viaFormat.filter(col("id") >= 90).count() == 0)
    // filters must still reach the scan below the anti-join
    val planStr = viaFormat.filter(col("id") < 5).queryExecution
      .executedPlan.toString
    assert(planStr.contains("LessThan(id,5)") && planStr.contains("PushedFilters"),
      s"expected pushed filter under the DV anti-join:\n$planStr")
  }

  test("aggregate answers stay exact (stats fast path fenced)") {
    val dir = dvTable("dv-stats")
    Dml.delete(spark, dir, col("id") === 99 || col("id") === 0)
    val dt = DeltaTable.forPath(spark, dir)
    // count(*) may be served from DV-adjusted log stats; min/max must come
    // from the scan (the deleted rows WERE the extremes)
    val r = dt.toDF.agg(count(lit(1)), min("id"), max("id"))
      .as[(Long, Long, Long)].head()
    assert(r == ((98L, 1L, 98L)))
    assert(dt.statistics.numRecords.contains(98L))
  }

  test("OPTIMIZE compaction purges deletion vectors") {
    val dir = dvTable("dv-optimize")
    Dml.delete(spark, dir, col("id") % 10 === 0)
    assert(DeltaTable.forPath(spark, dir).toDF.count() == 90)
    val m = Optimize.compact(spark, dir, targetFileBytes = 1L << 30)
    assert(m.filesRemoved >= 2)
    val dt = DeltaTable.forPath(spark, dir)
    assert(!DeletionVectors.anyDv(dt.files))
    assert(dt.toDF.count() == 90)
    assert(dt.toDF.filter(col("id") % 10 === 0).count() == 0)
  }

  test("copy-on-write DML after disabling DVs does not resurrect rows") {
    val dir = dvTable("dv-cow-after")
    Dml.delete(spark, dir, col("id") < 20)
    new DeltaTable(DeltaLog.forPath(spark, dir), DeltaLog.forPath(spark, dir).update())
      .setProperties(Map(TableConfig.EnableDeletionVectors -> "false"))
    // CoW update rewrites the DV'd files — deleted rows must stay deleted
    val m = Dml.update(spark, dir, col("id") < 30, Map("v" -> lit("x")))
    assert(m.rowsAffected == 10) // ids 20..29 only; 0..19 are gone
    val dt = DeltaTable.forPath(spark, dir)
    assert(dt.toDF.count() == 80)
    assert(!DeletionVectors.anyDv(dt.files)) // rewrite dropped the pointers
  }

  test("MERGE on a DV'd table sees the logical view") {
    val dir = dvTable("dv-merge")
    Dml.delete(spark, dir, col("id") < 50)
    val updates = Seq((10L, "resurrect?"), (60L, "merged")).toDF("id", "v")
    Merge.into(spark, dir, updates, col("t.id") === col("s.id"))
      .whenMatchedUpdate(Map("v" -> col("s.v")))
      .whenNotMatchedInsertAll()
      .execute()
    val dt = DeltaTable.forPath(spark, dir)
    val vals = dt.toDF.filter(col("id").isin(10L, 60L))
      .orderBy("id").as[(Long, String)].collect()
    // id=10 was deleted → NOT MATCHED → inserted fresh; id=60 updated
    assert(vals.toSeq == Seq((10L, "resurrect?"), (60L, "merged")))
    assert(dt.toDF.count() == 51)
  }

  /** Table-relative DV files the current snapshot references. */
  private def liveDvFiles(dir: String): Set[String] =
    DeltaLog.forPath(spark, dir).update().files.flatMap(DeletionVectors.dvFileRel).toSet

  test("vacuum never touches live DV files; clone refuses DV snapshots") {
    val dir = dvTable("dv-vacuum")
    Dml.delete(spark, dir, col("id") < 10)
    val live = liveDvFiles(dir)
    assert(live.nonEmpty)
    // aged past retention, but referenced: never a vacuum candidate
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 400L * 3600 * 1000)
    live.foreach(f => java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(dir, f), old))
    val dropped = DeltaTable.forPath(spark, dir)
      .vacuum(retentionHours = 200, dryRun = true)
    assert(dropped.toSet.intersect(live).isEmpty, s"vacuum would drop live DV files: $dropped")
    val ex = intercept[IllegalStateException] {
      Clone.shallow(spark, dir, tempTable("dv-clone-tgt").toString)
    }
    assert(ex.getMessage.contains("deletion vectors"))
  }

  test("DistributedReplay carries DV descriptors") {
    val dir = dvTable("dv-replay")
    Dml.delete(spark, dir, col("id") < 7)
    val log = DeltaLog.forPath(spark, dir)
    val adds = DistributedReplay.prunedAddActions(log)
    assert(adds.map(DeletionVectors.cardinality).sum == 7)
    assert(adds.exists(DeletionVectors.hasDv))
    assert(adds.filter(DeletionVectors.hasDv).map(a => a.path -> a.deletionVector).toMap ==
      log.update().files.filter(DeletionVectors.hasDv).map(a => a.path -> a.deletionVector).toMap)
  }

  test("enabling DVs lifts the protocol to (3, 7) with the deletionVectors feature") {
    val dir = dvTable("dv-fence")
    val snap = DeltaLog.forPath(spark, dir).update()
    // foreign readers must apply the descriptors or refuse the table: the
    // feature is named on BOTH lists, plus what legacy writer 2 implied
    assert(snap.minReaderVersion == 3 && snap.minWriterVersion == 7)
    assert(snap.readerFeatures.contains(Set("deletionVectors")))
    assert(snap.writerFeatures.contains(Set("appendOnly", "invariants", "deletionVectors")))
    Dml.delete(spark, dir, col("id") < 5)
    assert(DeltaTable.forPath(spark, dir).toDF.count() == 95)
  }

  test("re-delete tombstones the superseded DV file; vacuum reclaims it") {
    val dir = dvTable("dv-reclaim")
    Dml.delete(spark, dir, col("id") < 10)  // DV files A
    val filesA = liveDvFiles(dir)
    assert(filesA.nonEmpty)
    // every data file is hit again, so every A file is superseded → B
    Dml.delete(spark, dir, col("id") >= 10 && col("id") < 20 || col("id") >= 90)
    val log = DeltaLog.forPath(spark, dir)
    val snap = log.update()
    assert(liveDvFiles(dir).intersect(filesA).isEmpty, "old files must be fully superseded")
    // the superseding commit tombstoned every A file
    filesA.foreach(a => assert(snap.tombstones.exists(t => t.path == a && !t.dataChange)))
    // fresh tombstones: not vacuum-eligible yet
    assert(new DeltaTable(log, snap).vacuum(dryRun = true).toSet.intersect(filesA).isEmpty)
    // age them via hand-written expired tombstones, then vacuum for real
    writeCommit(java.nio.file.Paths.get(dir), snap.version + 1, filesA.toSeq.map(a =>
      remove(a, ts = System.currentTimeMillis() - 169L * 3600 * 1000)))
    val log2 = DeltaLog.forPath(spark, dir)
    val dt2 = new DeltaTable(log2, log2.update())
    val deleted = dt2.vacuum(retentionHours = 168, dryRun = false)
    assert(filesA.subsetOf(deleted.toSet))
    val fs = log2.tablePath.getFileSystem(spark.sessionState.newHadoopConf())
    filesA.foreach(a => assert(!fs.exists(new org.apache.hadoop.fs.Path(log2.tablePath, a))))
    // files B intact, logical view unharmed
    assert(DeltaTable.forPath(spark, dir).toDF.count() == 70)
    assert(DeltaTable.forPath(spark, dir).toDF.filter(col("id") < 20 || col("id") >= 90)
      .count() == 0)
  }

  test("restore to a pre-delete version resurrects DV'd rows (descriptor-aware diff)") {
    val dir = dvTable("dv-restore")
    val preDelete = DeltaLog.forPath(spark, dir).update().version
    val m = Dml.delete(spark, dir, col("id") < 10)
    assert(DeltaTable.forPath(spark, dir).toDF.count() == 90)

    val dvFiles = liveDvFiles(dir)
    assert(dvFiles.nonEmpty)

    // a path-only diff would see identical path sets and restore NOTHING,
    // silently keeping the deletion; the entry diff re-adds the
    // descriptor-less entries
    val r = DeltaTable.forPath(spark, dir).restoreToVersion(preDelete)
    assert(r.filesRestored > 0)
    val dt = DeltaTable.forPath(spark, dir)
    assert(dt.toDF.count() == 100)
    assert(!dt.files.exists(DeletionVectors.hasDv))
    // the restore abandoned the DV files its repointed entries referenced —
    // without tombstones vacuum could never reclaim them
    dvFiles.foreach(f => assert(dt.snapshot.tombstones.exists(t => t.path == f && !t.dataChange),
      s"restore must tombstone the abandoned DV file $f"))

    // and restoring forward to the post-delete version re-applies the DVs;
    // the files are live again and vacuum's live-descriptor guard protects
    // them from the (now-stale) tombstones
    DeltaTable.forPath(spark, dir).restoreToVersion(m.version)
    assert(DeltaTable.forPath(spark, dir).toDF.count() == 90)
    assert(liveDvFiles(dir) == dvFiles)
    assert(DeltaTable.forPath(spark, dir)
      .vacuum(retentionHours = 168, dryRun = true).toSet.intersect(dvFiles).isEmpty)
  }

  test("incremental feeds skip pointer-only re-adds") {
    val dir = dvTable("dv-feed")
    val v0 = DeltaLog.forPath(spark, dir).update().version
    Dml.delete(spark, dir, col("id") < 10) // DV re-add commit
    GraftWriter.write(Seq((500L, "new")).toDF("id", "v"), dir, SaveMode.Append)
    val changes = spark.sql(
      s"SELECT * FROM graft_changes('$dir', $v0)")
    // only the genuine append surfaces; the DV re-adds of 100 old rows don't
    assert(changes.count() == 1)
    assert(changes.select("id").as[Long].head() == 500L)
  }

  test("DV enable on a table-features protocol declares standard deletionVectors (r11)") {
    // a (r,7)-features table (ICT first) then the bare enable property: the
    // old fence no-op'd (minReader already 3 impossible here, but features
    // lists defined) and DML wrote graft tags a spec-compliant foreign
    // reader would IGNORE — silently resurrecting every deleted row
    val dir = tempTable("dv-feature-fence").toString
    GraftWriter.write((0 until 60).map(i => (i.toLong, s"n$i")).toDF("id", "v")
      .repartition(2), dir)
    DeltaTable.forPath(spark, dir).setProperties(
      Map(TableConfig.EnableInCommitTimestamps -> "true")) // lifts to writer 7
    DeltaTable.forPath(spark, dir).setProperties(
      Map(TableConfig.EnableDeletionVectors -> "true"))
    val snap = DeltaLog.forPath(spark, dir).update()
    assert(snap.readerFeatures.exists(_.contains("deletionVectors")) &&
           snap.writerFeatures.exists(_.contains("deletionVectors")),
      s"features table must declare standard DVs, got ${snap.readerFeatures}/${snap.writerFeatures}")
    Dml.delete(spark, dir, col("id") < 20)
    val after = DeltaLog.forPath(spark, dir).update()
    assert(after.files.exists(_.deletionVector.isDefined),
      "DML must emit standard descriptors on the fenced table")
    assert(DeltaTable.forPath(spark, dir).toDF.count() == 40)
  }

  test("dotted column names survive DV scans and DML (r11 quoting)") {
    val dir = tempTable("dv-dotted").toString
    GraftWriter.write((0 until 50).map(i => (i.toLong, s"x$i"))
      .toDF("id", "a.b").repartition(2), dir)
    DeltaTable.forPath(spark, dir).setProperties(
      Map(TableConfig.EnableDeletionVectors -> "true"))
    Dml.delete(spark, dir, col("id") < 10)
    val df = DeltaTable.forPath(spark, dir).toDF
    assert(df.count() == 40)
    assert(df.select(col("`a.b`")).as[String].collect().toSet ==
      (10 until 50).map(i => s"x$i").toSet)
  }

  test("relPath of a bucket-root table keeps the partition dir (r11)") {
    // prefix "/" would substring_index at the LAST slash → file name only
    val rows = Seq("s3a://bucket/p=1/part-x.parquet",
                   "file:///p=2/part-y.parquet").toDF("fp")
    val got = rows.select(DeletionVectors.relPathFromPrefix("/", col("fp")).as("r"))
      .as[String].collect().toSeq
    assert(got == Seq("p=1/part-x.parquet", "p=2/part-y.parquet"), got.toString)
    // the normal (non-root) prefix path is unchanged
    val normal = rows.limit(1).select(DeletionVectors.relPathFromPrefix(
      "/bucket/", col("fp")).as("r")).as[String].head()
    assert(normal == "p=1/part-x.parquet")
  }
}
