package graft.delta

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Graft writes deletion vectors only in the Delta protocol's format, on a
  * protocol foreign readers understand; the retired tag-format tables
  * (bare reader 3, `graft.dv.*` Add tags) are refused everywhere. */
class DvInteropSpec extends AnyFunSuite with SparkTestBase {
  import LogFixtures.{metaData, tempTable, writeCommit}
  import spark.implicits._

  test("a graft-written DV table is a standard (3, 7) deletionVectors table") {
    val dir = tempTable("dvi-standard").toString
    // one file written in id order: row position == id
    GraftWriter.write((0L until 200L).map(i => (i, s"n$i")).toDF("id", "v")
      .coalesce(1), dir)
    DeltaTable.forPath(spark, dir).setProperties(
      Map(TableConfig.EnableDeletionVectors -> "true"))
    val Seq(data) = DeltaTable.forPath(spark, dir).files.map(_.path)
    Dml.delete(spark, dir, col("id") % 7 === 0)
    Dml.delete(spark, dir, col("id") % 11 === 0) // unions with the first
    Dml.update(spark, dir, col("id") % 13 === 1, Map("v" -> lit("u")))

    val log = DeltaLog.forPath(spark, dir)
    val snap = log.update()
    assert(snap.minReaderVersion == 3 && snap.minWriterVersion == 7)
    assert(snap.readerFeatures.contains(Set("deletionVectors")))
    assert(snap.writerFeatures.contains(Set("appendOnly", "invariants", "deletionVectors")))

    // no retired-format tag anywhere in the log, no staging directory
    val logText = Files.list(Paths.get(dir, "_delta_log")).iterator.asScala
      .filter(_.toString.endsWith(".json")).map(Files.readString).mkString("\n")
    assert(!logText.contains("graft.dv."), "retired tag written")
    assert(!Files.exists(Paths.get(dir, "_graft_dv")))

    // the original file's descriptor decodes to exactly the deleted and the
    // updated-away positions
    val orig = snap.files.find(_.path == data).get
    val desc = StandardDv.descriptor(orig).get
    val expected = (0L until 200L).filter(i => i % 7 == 0 || i % 11 == 0 || i % 13 == 1)
    val conf = spark.sessionState.newHadoopConf()
    assert(StandardDv.readPositions(conf, new Path(dir), desc).toSeq == expected)
    assert(desc.cardinality == expected.size)

    // per file: numRecords − cardinality == the rows a scan serves
    val visible = DeletionVectors.scanWithPos(spark, log, snap, snap.files)
      .groupBy(DeletionVectors.PathCol).count().as[(String, Long)].collect().toMap
    snap.files.foreach { a =>
      val n = ActionCodec.statsFromJson(a.stats.get).get.numRecords
      assert(n - DeletionVectors.cardinality(a) == visible.getOrElse(a.path, 0L), a.path)
    }
    val updated = (0L until 200L).count(i => i % 13 == 1 && i % 7 != 0 && i % 11 != 0)
    assert(DeltaTable.forPath(spark, dir).toDF.count() == 200 - expected.size + updated)
  }

  /** A hand-made table in the retired tag format: one data file whose Add
    * points at a tag-format DV directory, under `protocol`. */
  private def retiredTable(name: String, protocol: String): String = {
    val dir = tempTable(name)
    (0L until 10L).toDF("id").coalesce(1).write.parquet(dir.resolve("data").toString)
    val part = Files.list(dir.resolve("data")).iterator.asScala
      .find(_.toString.endsWith(".parquet")).get
    Files.move(part, dir.resolve("a.parquet"))
    (0L until 3L).map(p => ("a.parquet", p)).toDF("path", "pos")
      .write.parquet(dir.resolve("_graft_dv/dv-x").toString)
    writeCommit(dir, 0, Seq(protocol, metaData,
      s"""{"add":{"path":"a.parquet","partitionValues":{},"size":${Files.size(dir.resolve("a.parquet"))},""" +
      """"modificationTime":1587968586000,"dataChange":true,""" +
      """"tags":{"graft.dv.path":"_graft_dv/dv-x","graft.dv.cardinality":"3"}}}"""))
    dir.toString
  }

  private val bareReader3 = """{"protocol":{"minReaderVersion":3,"minWriterVersion":2}}"""
  private val listsRetired =
    """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
      """"readerFeatures":["graft.deletionVectors"],"writerFeatures":["graft.deletionVectors"]}}"""

  Seq(("bare reader 3", bareReader3), ("(3, 7) listing the retired feature", listsRetired))
    .foreach { case (shape, protocol) =>
      test(s"retired tag-format table ($shape) is refused by scan, DML and the feed fence") {
        val dir = retiredTable(shape.replaceAll("[^a-z0-9]+", "-"), protocol)
        def refused(body: => Any): Unit = {
          val e = intercept[UnsupportedProtocolException](body)
          assert(e.getMessage.contains("retired tag-format deletion vectors"), e.getMessage)
        }
        refused(DeltaTable.forPath(spark, dir).toDF.count())
        refused(Dml.delete(spark, dir, col("id") === 5L))
        refused(RewriteFence.servableAdds(dir, 0,
          ActionCodec.fromJsonLine(protocol).toSeq ++
            DeltaLog.forPath(spark, dir).update().files,
          ignoreChanges = true, ignoreDeletes = true))
      }
    }
}
