package graft.delta

import graft.SparkTestBase
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** `delta.*` table properties drive engine behavior: append-only enforcement,
  * auto-checkpoint cadence, log retention cleanup, vacuum retention floor. */
class TablePropertiesSpec extends AnyFunSuite with SparkTestBase {
  import LogFixtures.tempTable
  import spark.implicits._

  test("interval grammar parses and validates") {
    assert(TableConfig.parseIntervalMillis("interval 30 days", "k") == 30L * 86400000)
    assert(TableConfig.parseIntervalMillis("interval 1 week", "k") == 7L * 86400000)
    assert(TableConfig.parseIntervalMillis("INTERVAL 2 HOURS", "k") == 7200000L)
    assert(TableConfig.parseIntervalMillis("90 minutes", "k") == 5400000L)
    intercept[IllegalArgumentException](TableConfig.parseIntervalMillis("fortnight", "k"))
    intercept[IllegalArgumentException](
      TableConfig.validate(Map("delta.nope" -> "1")))
    intercept[IllegalArgumentException](
      TableConfig.validate(Map(TableConfig.CheckpointInterval -> "zero")))
    intercept[IllegalArgumentException](
      TableConfig.validate(Map(TableConfig.AppendOnly -> "maybe")))
    TableConfig.validate(Map("user.owner" -> "data-eng")) // non-delta passes
  }

  test("parsing and the scheme fence are locale-independent (Turkish-I)") {
    // "MINUTES".toLowerCase and "SWIFT".toLowerCase produce dotless-ı
    // strings under tr, which would MatchError the interval parser and
    // silently BYPASS the non-atomic-rename safety fence (same bug class as
    // the r7 Bench %.4f JSON break) — all case-folds must run under
    // Locale.ROOT
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(new java.util.Locale("tr", "TR"))
    try {
      assert(TableConfig.parseIntervalMillis("INTERVAL 30 MINUTES", "k") == 1800000L)
      TableConfig.validate(Map(TableConfig.AppendOnly -> "TRUE"))
      val e = intercept[IllegalStateException](
        DeltaLog.forPath(spark, "SWIFT://container/t"))
      assert(e.getMessage.contains("no atomic create-new rename"))
      // protocol file NAMES: a CLDR JDK formats %020d with Arabic-Indic
      // digits under ar-EG — zero-padding must run under Locale.ROOT
      java.util.Locale.setDefault(java.util.Locale.forLanguageTag("ar-EG"))
      val log = DeltaLog.forPath(spark, tempTable("locale-ar").toString)
      assert(log.commitFile(123L).getName == "00000000000000000123.json")
      assert(log.checkpointPaths(CheckPoint(7L, 1L, parts = Some(2))).map(_.getName) ==
        Seq("00000000000000000007.checkpoint.0000000001.0000000002.parquet",
            "00000000000000000007.checkpoint.0000000002.0000000002.parquet"))
    } finally java.util.Locale.setDefault(saved)
  }

  test("appendOnly allows appends + OPTIMIZE, blocks DELETE/UPDATE/overwrite") {
    val dir = tempTable("props-appendonly").toString
    GraftWriter.write((0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(4), dir)
    DeltaTable.forPath(spark, dir).setProperties(Map(TableConfig.AppendOnly -> "true"))

    // appends still fine
    GraftWriter.write(Seq((100L, "x")).toDF("id", "v"), dir, SaveMode.Append)
    intercept[AppendOnlyTableException] {
      Dml.delete(spark, dir, col("id") < 10)
    }
    intercept[AppendOnlyTableException] {
      Dml.update(spark, dir, col("id") === 1, Map("v" -> org.apache.spark.sql.functions.lit("y")))
    }
    intercept[AppendOnlyTableException] {
      GraftWriter.write(Seq((0L, "z")).toDF("id", "v"), dir, SaveMode.Overwrite)
    }
    // compaction removes are dataChange=false — they commute with appendOnly
    val m = Optimize.compact(spark, dir, targetFileBytes = 1L << 30)
    assert(m.filesRemoved > 0)
    // nothing was lost
    assert(DeltaTable.forPath(spark, dir).toDF.count() == 101)
    // and the property can be turned back off
    DeltaTable.forPath(spark, dir).setProperties(Map(TableConfig.AppendOnly -> "false"))
    assert(Dml.delete(spark, dir, col("id") === 100L).rowsAffected == 1)
  }

  test("unsetProperties removes keys in one metadata commit; isDeltaTable probes the log") {
    val dir = LogFixtures.tempTable("props-unset").toString
    assert(!DeltaTable.isDeltaTable(spark, dir))
    import spark.implicits._
    GraftWriter.write(Seq((1L, "a")).toDF("id", "v"), dir)
    assert(DeltaTable.isDeltaTable(spark, dir))

    DeltaTable.forPath(spark, dir).setProperties(Map(
      "delta.checkpointInterval" -> "25", "custom.tag" -> "x"))
    val v = DeltaTable.forPath(spark, dir)
      .unsetProperties(Seq("custom.tag", "never.set"))
    val props = TableConfig.of(DeltaLog.forPath(spark, dir).update())
    assert(!props.contains("custom.tag"))
    assert(props.get("delta.checkpointInterval").contains("25")) // untouched
    assert(DeltaLog.forPath(spark, dir).update().version == v)
    // provenance recorded
    val hist = DeltaTable.forPath(spark, dir).history
    assert(hist.exists(n => Option(n.get("operation"))
      .exists(_.asText == "UNSET TBLPROPERTIES")))
  }

  test("checkpointInterval drives the auto-checkpoint cadence") {
    val dir = tempTable("props-cpinterval").toString
    GraftWriter.write(Seq((1L, "a")).toDF("id", "v"), dir) // v0
    val dt = DeltaTable.forPath(spark, dir)
    dt.setProperties(Map(TableConfig.CheckpointInterval -> "3")) // v1
    val log = DeltaLog.forPath(spark, dir)
    assert(log.lastCheckpoint().isEmpty)
    GraftWriter.write(Seq((2L, "b")).toDF("id", "v"), dir, SaveMode.Append) // v2
    assert(log.lastCheckpoint().isEmpty)
    GraftWriter.write(Seq((3L, "c")).toDF("id", "v"), dir, SaveMode.Append) // v3 → checkpoint
    assert(DeltaLog.forPath(spark, dir).lastCheckpoint().map(_.version).contains(3L))
  }

  test("expired commits are cleaned after checkpoint per logRetentionDuration") {
    val dir = tempTable("props-logclean").toString
    (0 until 12).foreach { i =>
      GraftWriter.write(Seq((i.toLong, s"v$i")).toDF("id", "v"), dir,
        if (i == 0) SaveMode.ErrorIfExists else SaveMode.Append)
    } // v0..v11, auto-checkpoint at v10
    val log = DeltaLog.forPath(spark, dir)
    assert(log.lastCheckpoint().map(_.version).contains(10L))

    // age versions 0..7 one hour into the past
    val fs = log.logPath.getFileSystem(spark.sessionState.newHadoopConf())
    val old = System.currentTimeMillis() - 3600 * 1000
    (0 to 7).foreach(v => fs.setTimes(log.commitFile(v), old, -1))

    DeltaTable.forPath(spark, dir).setProperties(
      Map(TableConfig.LogRetention -> "interval 30 minutes")) // v12
    val deleted = DeltaLog.forPath(spark, dir).checkpoint()
    assert(deleted.version == 12)
    val remaining = (0L to 12L).filter(v => fs.exists(log.commitFile(v)))
    // 0..7 aged out; 8..12 inside retention
    assert(remaining == (8L to 12L), s"remaining=$remaining")

    // cold reads still see everything via the checkpoint
    assert(DeltaTable.forPath(spark, dir).toDF.count() == 12)
    // time travel within surviving commits works; to a cleaned version fails
    assert(DeltaTable.forPath(spark, dir, 11).toDF.count() == 12)
    intercept[VersionNotFoundException](DeltaTable.forPath(spark, dir, 5))
  }

  test("enableExpiredLogCleanup=false keeps every commit") {
    val dir = tempTable("props-logkeep").toString
    GraftWriter.write(Seq((1L, "a")).toDF("id", "v"), dir)
    DeltaTable.forPath(spark, dir).setProperties(Map(
      TableConfig.LogRetention -> "interval 1 millisecond",
      TableConfig.EnableExpiredLogCleanup -> "false"))
    val log = DeltaLog.forPath(spark, dir)
    val fs = log.logPath.getFileSystem(spark.sessionState.newHadoopConf())
    val old = System.currentTimeMillis() - 3600 * 1000
    fs.setTimes(log.commitFile(0), old, -1)
    log.checkpoint()
    assert(fs.exists(log.commitFile(0)))
  }

  test("vacuum floor and default come from deletedFileRetentionDuration") {
    val dir = tempTable("props-vacuum").toString
    GraftWriter.write((0 until 50).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(2), dir)
    GraftWriter.write(Seq((99L, "x")).toDF("id", "v"), dir, SaveMode.Overwrite)

    // default floor (168 h): immediate tombstones are not expired
    assert(DeltaTable.forPath(spark, dir).vacuum(dryRun = true).isEmpty)
    // explicit retention below the floor still rejected
    intercept[IllegalArgumentException](
      DeltaTable.forPath(spark, dir).vacuum(1.0, dryRun = true))

    // table owner lowers the floor to zero → no-arg vacuum reclaims now
    DeltaTable.forPath(spark, dir).setProperties(
      Map(TableConfig.DeletedFileRetention -> "interval 0 hours"))
    val dt = DeltaTable.forPath(spark, dir)
    val dry = dt.vacuum(dryRun = true)
    assert(dry.size == 2, s"expected both pre-overwrite files, got $dry")
    assert(dt.vacuum() == dry)
    assert(DeltaTable.forPath(spark, dir).toDF.count() == 1)
  }

  test("delta.feature.<name>=supported is protocol DDL (round 11)") {
    val dir = tempTable("props-feature").toString
    GraftWriter.write((0 until 100).map(i => (i.toLong, i % 50 + 1.0))
      .toDF("id", "q").repartition(2), dir)

    // reader-writer feature → (3, 7), declared on BOTH lists; the key is
    // never persisted as table configuration
    DeltaTable.forPath(spark, dir).setProperties(Map(
      "delta.feature.deletionVectors" -> "supported",
      TableConfig.EnableDeletionVectors -> "true"))
    val log = DeltaLog.forPath(spark, dir)
    val snap = log.update()
    assert(snap.minReaderVersion == 3 && snap.minWriterVersion == 7)
    assert(snap.readerFeatures.exists(_.contains("deletionVectors")))
    assert(snap.writerFeatures.exists(_.contains("deletionVectors")))
    assert(!snap.metadata.get.configuration.contains("delta.feature.deletionVectors"))
    assert(snap.metadata.get.configuration(TableConfig.EnableDeletionVectors) == "true")

    // the declared feature flips DV DML to the STANDARD descriptor shape
    // (foreign-readable add.deletionVector, not graft's legacy tags)
    Dml.delete(spark, dir, col("q") > 40.0)
    val afterDv = log.update()
    val dvAdds = afterDv.files.filter(_.deletionVector.isDefined)
    assert(dvAdds.nonEmpty, "DV delete must emit standard descriptors")
    assert(afterDv.files.forall(_.tags.forall(!_.keys.exists(_.startsWith("graft.dv.")))),
      "no retired-format tags expected")
    assert(DeltaTable.forPath(spark, dir).toDF.count() == 80)

    // writer-only feature folds onto the existing lists; idempotent re-set
    // leaves the protocol unchanged
    DeltaTable.forPath(spark, dir).setProperties(Map(
      "delta.feature.domainMetadata" -> "supported"))
    val s2 = log.update()
    assert(s2.writerFeatures.exists(f =>
      f.contains("domainMetadata") && f.contains("deletionVectors")))
    DeltaTable.forPath(spark, dir).setProperties(Map(
      "delta.feature.deletionVectors" -> "supported"))
    val s3 = log.update()
    assert((s3.minReaderVersion, s3.minWriterVersion, s3.readerFeatures,
      s3.writerFeatures) ==
      (s2.minReaderVersion, s2.minWriterVersion, s2.readerFeatures,
        s2.writerFeatures))

    // unknown features and non-'supported' values refuse loudly
    intercept[UnsupportedProtocolException](
      DeltaTable.forPath(spark, dir).setProperties(Map(
        "delta.feature.collations" -> "supported")))
    intercept[IllegalArgumentException](
      DeltaTable.forPath(spark, dir).setProperties(Map(
        "delta.feature.deletionVectors" -> "enabled")))
  }
}
