package graft.delta

import graft.SparkTestBase
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Regressions for the round-10 catalog/table-ops review — one test per
  * found failure scenario. */
class CatalogReviewSpec extends AnyFunSuite with SparkTestBase {
  import LogFixtures.tempTable
  import spark.implicits._

  test("CDF and CHECK constraints raise the writer protocol floor") {
    val dir = tempTable("cr-proto-floor").toString
    GraftWriter.write(Seq((1L, "a")).toDF("id", "v"), dir)
    assert(DeltaLog.forPath(spark, dir).update().minWriterVersion == 2)
    DeltaTable.forPath(spark, dir).setProperties(
      Map(TableConfig.EnableChangeDataFeed -> "true"))
    val s1 = DeltaLog.forPath(spark, dir).update()
    assert(s1.minWriterVersion >= 4,
      s"CDF on writer ${s1.minWriterVersion}: legacy writers would skip capture")

    val dir2 = tempTable("cr-proto-check").toString
    GraftWriter.write(Seq((1L, "a")).toDF("id", "v"), dir2)
    DeltaTable.forPath(spark, dir2).addCheckConstraint("pos", "id > 0")
    val s2 = DeltaLog.forPath(spark, dir2).update()
    assert(s2.minWriterVersion >= 3,
      s"CHECK on writer ${s2.minWriterVersion}: legacy writers would violate it")

    // features table: the capability must be NAMED
    val dir3 = tempTable("cr-proto-features").toString
    GraftWriter.write(Seq((1L, "a")).toDF("id", "v"), dir3,
      configuration = Some(Map(TableConfig.EnableRowTracking -> "true")))
    DeltaTable.forPath(spark, dir3).setProperties(
      Map(TableConfig.EnableChangeDataFeed -> "true"))
    val s3 = DeltaLog.forPath(spark, dir3).update()
    assert(s3.writerFeatures.exists(_.contains("changeDataFeed")),
      s"features table must NAME changeDataFeed: ${s3.writerFeatures}")
  }

  test("catalog time travel pins the SCHEMA to the target version") {
    val dir = tempTable("cr-tt-schema").toString
    GraftWriter.write(Seq((1L, "a")).toDF("id", "v"), dir)          // v0
    GraftWriter.write(Seq((2L, "b", 9L)).toDF("id", "v", "extra"),
      dir, SaveMode.Append, mergeSchema = true)                      // v1 evolves
    spark.sql(s"CREATE TABLE cr_tt USING `graft-delta` OPTIONS (path '$dir')")
    try {
      val old = spark.sql("SELECT * FROM cr_tt VERSION AS OF 0")
      assert(old.schema.fieldNames.toSeq == Seq("id", "v"),
        s"pinned read must serve the PINNED schema: ${old.schema.fieldNames.toSeq}")
      assert(old.count() == 1)
      assert(spark.sql("SELECT extra FROM cr_tt").count() == 2)
    } finally spark.sql("DROP TABLE IF EXISTS cr_tt")
  }

  test("TRUNCATE tombstones superseded DV files for vacuum") {
    val dir = tempTable("cr-truncate-dv").toString
    GraftWriter.write((0 until 20).map(i => (i.toLong, "x")).toDF("id", "v"), dir,
      configuration = Some(Map(
        TableConfig.EnableDeletionVectors -> "true",
        TableConfig.DeletedFileRetention -> "interval 0 hours")))
    Dml.delete(spark, dir, col("id") < 5) // DV file on disk
    val dvFiles = DeltaTable.forPath(spark, dir).snapshot.files
      .flatMap(DeletionVectors.dvFileRel).distinct
    assert(dvFiles.nonEmpty)
    assert(dvFiles.forall(f => java.nio.file.Files.exists(java.nio.file.Paths.get(dir, f))))
    spark.sql(s"CREATE TABLE cr_trunc USING `graft-delta` OPTIONS (path '$dir')")
    try {
      spark.sql("TRUNCATE TABLE cr_trunc")
      assert(spark.sql("SELECT * FROM cr_trunc").count() == 0)
      Thread.sleep(5)
      val reclaimed = DeltaTable.forPath(spark, dir).vacuum(0.0,
        dryRun = false, parallelDeleteThreshold = 1000)
      assert(dvFiles.forall(reclaimed.contains),
        s"truncated DV files never reclaimed: $reclaimed")
      assert(dvFiles.forall(f =>
        !java.nio.file.Files.exists(java.nio.file.Paths.get(dir, f))))
    } finally spark.sql("DROP TABLE IF EXISTS cr_trunc")
  }

  test("REPLACE ... CLUSTER BY refuses with guidance (not a misleading partition error)") {
    val dir = tempTable("cr-replace-cluster").toString
    spark.sql(s"CREATE TABLE cr_repl (id BIGINT, v STRING) USING `graft-delta` " +
      s"LOCATION '$dir'")
    try {
      val e = intercept[Exception] {
        spark.sql("CREATE OR REPLACE TABLE cr_repl (id BIGINT, v STRING) " +
          s"USING `graft-delta` LOCATION '$dir' CLUSTER BY (id)")
      }
      def chain(t: Throwable) = Iterator.iterate(t)(_.getCause)
        .takeWhile(_ != null).map(x => Option(x.getMessage).getOrElse("")).toSeq
      assert(chain(e).exists(_.contains("CLUSTER BY")), s"got: ${chain(e)}")
    } finally spark.sql("DROP TABLE IF EXISTS cr_repl")
  }

  test("addCheckConstraint validates the LATEST snapshot, not a stale handle") {
    val dir = tempTable("cr-check-stale").toString
    GraftWriter.write(Seq((1L, "a")).toDF("id", "v"), dir)
    val stale = DeltaTable.forPath(spark, dir) // pinned before the violation
    GraftWriter.write(Seq((-5L, "bad")).toDF("id", "v"), dir, SaveMode.Append)
    val e = intercept[IllegalStateException](
      stale.addCheckConstraint("pos", "id > 0"))
    assert(e.getMessage.contains("violate"))
  }

  test("ALTER TABLE on a path identifier routes to the log") {
    val dir = tempTable("cr-alter-path").toString
    GraftWriter.write(Seq((1L, "a")).toDF("id", "v"), dir)
    spark.sql(s"ALTER TABLE `graft-delta`.`$dir` " +
      "SET TBLPROPERTIES ('delta.appendOnly' = 'true')")
    val s = DeltaLog.forPath(spark, dir).update()
    assert(TableConfig.appendOnly(TableConfig.of(s)))
    intercept[AppendOnlyTableException](Dml.delete(spark, dir, col("id") === 1L))
  }

  test("restore CDC survives identity high-water-mark drift in the schemaString") {
    val dir = tempTable("cr-restore-idcdc").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      IdentityColumns.field("rid", 1, 1),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType)))
    GraftWriter.write(spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema), dir,
      configuration = Some(Map(TableConfig.EnableChangeDataFeed -> "true")))
    GraftWriter.write(Seq("a", "b").toDF("v"), dir, SaveMode.Append)
    val pin = DeltaLog.forPath(spark, dir).update().version
    GraftWriter.write(Seq("c").toDF("v"), dir, SaveMode.Append) // mark drifts
    val m = DeltaTable.forPath(spark, dir).restoreToVersion(pin)
    // the restore commit must carry CDC (the schema never structurally
    // changed) — so the feed reads THROUGH it instead of failing
    val ch = DeltaTable.forPath(spark, dir)
      .changes(m.version - 1, m.version)
      .select("_change_type").collect().map(_.getString(0)).toSet
    assert(ch == Set("delete"), s"restore CDC missing/broken: $ch")
  }

  test("shallow clone fences an unsupported source protocol") {
    val dirP = tempTable("cr-clone-fence")
    val dir = dirP.toString
    GraftWriter.write(Seq((1L, "a")).toDF("id", "v"), dir)
    LogFixtures.writeCommit(dirP, 1,
      Seq("""{"protocol":{"minReaderVersion":3,"readerFeatures":["someFutureReaderFeature"],"minWriterVersion":7,"writerFeatures":[]}}"""))
    intercept[UnsupportedProtocolException] {
      Clone.shallow(spark, dir, tempTable("cr-clone-tgt").toString)
    }
  }

  test("CREATE adopting an existing location refuses mismatched TBLPROPERTIES") {
    val dir = tempTable("cr-adopt-props").toString
    GraftWriter.write(Seq((1L, "a")).toDF("id", "v"), dir)
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE cr_adopt USING `graft-delta` LOCATION '$dir' " +
        "TBLPROPERTIES ('delta.appendOnly' = 'true')")
    }
    def chain(t: Throwable) = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("TBLPROPERTIES")), s"got: ${chain(e)}")
    spark.sql("DROP TABLE IF EXISTS cr_adopt")
    // matching (or absent) properties adopt fine
    spark.sql(s"CREATE TABLE cr_adopt2 USING `graft-delta` LOCATION '$dir'")
    try assert(spark.sql("SELECT * FROM cr_adopt2").count() == 1)
    finally spark.sql("DROP TABLE IF EXISTS cr_adopt2")
  }
}
