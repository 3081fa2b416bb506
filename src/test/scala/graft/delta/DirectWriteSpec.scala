package graft.delta

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicBoolean
import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Direct table writes ([[DirectCommitProtocol]]): files land at their
  * final paths with nothing left over on failure, and a CDF DML writes its
  * data and change images in one Spark job. */
class DirectWriteSpec extends AnyFunSuite with SparkTestBase with JobCounting {
  import LogFixtures.tempTable
  import spark.implicits._
  import DirectWriteSpec.Racer

  private def cdfTable(name: String, rows: Seq[(Long, String)],
                       extra: Map[String, String] = Map.empty): String = {
    val dir = tempTable(name).toString
    GraftWriter.write(rows.toDF("id", "v").repartition(2), dir)
    DeltaTable.forPath(spark, dir).setProperties(
      Map(TableConfig.EnableChangeDataFeed -> "true") ++ extra)
    dir
  }

  private def rows(n: Int): Seq[(Long, String)] = (0 until n).map(i => (i.toLong, s"v$i"))

  /** Every file under the table directory outside `_delta_log`, as a
    * table-relative path, checksum sidecars folded onto their file. */
  private def filesUnder(dir: String): Set[String] = {
    val root = Paths.get(dir)
    val s = Files.walk(root)
    try s.iterator.asScala.filter(Files.isRegularFile(_))
      .map(root.relativize(_).toString)
      .filterNot(_.startsWith("_delta_log"))
      .map { rel =>
        val i = rel.lastIndexOf('/') + 1
        val name = rel.substring(i)
        if (name.startsWith(".") && name.endsWith(".crc"))
          rel.substring(0, i) + name.stripPrefix(".").stripSuffix(".crc")
        else rel
      }.toSet
    finally s.close()
  }

  /** The table directory holds exactly the live data files and the DV
    * files they reference: nothing the failed write produced survives. */
  private def assertNoLeftovers(dir: String): Unit = {
    val files = DeltaLog.forPath(spark, dir).update().files
    val live = (files.map(_.path) ++ files.flatMap(DeletionVectors.dvFileRel)).toSet
    val stray = filesUnder(dir) -- live
    assert(stray.isEmpty, s"files left behind: $stray")
  }

  /** Every directory entry name under the table, `_delta_log` included. */
  private def entryNames(dir: String): Seq[String] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator.asScala.map(_.getFileName.toString).toSeq
    finally s.close()
  }

  /** `id` passed through a UDF that, on its first row, lands a racing
    * metadata commit the running operation has not read — so its own
    * commit loses the conflict after its files are written. */
  private def racing(dir: String): org.apache.spark.sql.Column = {
    val log = DeltaLog.forPath(spark, dir)
    val snap = log.update()
    val md = snap.metadata.get
    val line = ActionCodec.toJsonLine(
      md.copy(configuration = md.configuration + ("graft.test.racer" -> "1")))
    val version = snap.version + 1
    Racer.arm(() => LogFixtures.writeCommit(Paths.get(dir), version, Seq(line)))
    udf((x: Long) => { Racer.fire(); x }).apply(col("id"))
  }

  // ------------------------------------------------------- no leftovers

  test("an append that fails a CHECK inside the write job leaves no files") {
    val dir = tempTable("dw-check-append").toString
    GraftWriter.write(rows(10).toDF("id", "v"), dir)
    DeltaTable.forPath(spark, dir).addCheckConstraint("nonneg", "id >= 0")
    intercept[Exception] {
      GraftWriter.write((-2L until 40L).map(i => (i, s"n$i")).toDF("id", "v")
        .repartition(4), dir, SaveMode.Append)
    }
    assertNoLeftovers(dir)
  }

  test("an append that loses a commit conflict leaves no files") {
    val dir = tempTable("dw-race-append").toString
    GraftWriter.write(rows(10).toDF("id", "v"), dir)
    val racer = racing(dir)
    intercept[MetadataChangedException] {
      GraftWriter.write((10L until 40L).map(i => (i, s"n$i")).toDF("id", "v")
        .repartition(3).select(racer.as("id"), col("v")), dir, SaveMode.Append)
    }
    assert(Racer.fired)
    assertNoLeftovers(dir)
  }

  test("a CDF DELETE that fails a CHECK inside the write job leaves no files") {
    val dir = tempTable("dw-check-delete").toString
    GraftWriter.write(((-1L, "bad") +: rows(20)).toDF("id", "v").coalesce(1), dir)
    // the constraint arrives by a raw metadata commit, so the carried-over
    // row -1 violates it when the rewrite re-validates the file
    val log = DeltaLog.forPath(spark, dir)
    val snap = log.update()
    val md = snap.metadata.get
    LogFixtures.writeCommit(Paths.get(dir), snap.version + 1, Seq(ActionCodec.toJsonLine(
      md.copy(configuration = md.configuration ++ Map(
        TableConfig.EnableChangeDataFeed -> "true",
        Constraints.Prefix + "nonneg" -> "id >= 0")))))
    intercept[Exception](Dml.delete(spark, dir, col("id") === 3L))
    assertNoLeftovers(dir)
  }

  test("a CDF DELETE that loses a commit conflict leaves no files") {
    val dir = cdfTable("dw-race-delete", rows(40))
    val racer = racing(dir)
    intercept[MetadataChangedException](Dml.delete(spark, dir, racer < 5L))
    assert(Racer.fired)
    assertNoLeftovers(dir)
  }

  test("a DV UPDATE whose copy write fails a CHECK leaves no DV or data files") {
    val dir = tempTable("dw-check-dv-update").toString
    GraftWriter.write(rows(40).toDF("id", "v").repartition(2), dir)
    DeltaTable.forPath(spark, dir).setProperties(
      Map(TableConfig.EnableDeletionVectors -> "true"))
    DeltaTable.forPath(spark, dir).addCheckConstraint("notbad", "v <> 'bad'")
    Dml.delete(spark, dir, col("id") < 4L) // live DVs the failed op must union
    // the vectors are written before the copies, so the CHECK fails after
    // this operation's DV files exist
    intercept[Exception](Dml.update(spark, dir, col("id") % 5 === 0, Map("v" -> lit("bad"))))
    assertNoLeftovers(dir)
    assert(DeltaTable.forPath(spark, dir).toDF.count() == 36)
  }

  test("a DV DELETE that loses a commit conflict leaves no DV files") {
    val dir = tempTable("dw-race-dv-delete").toString
    GraftWriter.write(rows(40).toDF("id", "v").repartition(2), dir)
    DeltaTable.forPath(spark, dir).setProperties(
      Map(TableConfig.EnableDeletionVectors -> "true"))
    val racer = racing(dir)
    intercept[MetadataChangedException](Dml.delete(spark, dir, racer < 5L))
    assert(Racer.fired)
    assertNoLeftovers(dir)
  }

  test("a DV DELETE whose vector write fails in one task leaves no DV files") {
    val dir = tempTable("dw-fail-dv-write").toString
    GraftWriter.write(rows(80).toDF("id", "v").repartition(4), dir)
    DeltaTable.forPath(spark, dir).setProperties(
      Map(TableConfig.EnableDeletionVectors -> "true"))
    Dml.delete(spark, dir, col("id") % 10 === 0L)
    // corrupt one file's prior vector: the task that unions it into its new
    // vector fails part-way through its DV file, while its siblings write
    // theirs. Hadoop's .crc sidecar goes, so the protocol's CRC-32 fires.
    val log = DeltaLog.forPath(spark, dir)
    val before = log.update()
    val desc = StandardDv.parse(before.files.flatMap(_.deletionVector).head)
    val local = Paths.get(desc.absolutePath(log.tablePath).toUri.getPath)
    Files.deleteIfExists(local.getParent.resolve("." + local.getFileName + ".crc"))
    val bytes = Files.readAllBytes(local)
    val at = desc.offset.get + 4 + 2
    bytes(at) = (bytes(at) ^ 0x40).toByte
    Files.write(local, bytes)
    // several vector-write tasks, not one coalesced task
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(key, "false")
    val e =
      try intercept[Exception](Dml.delete(spark, dir, col("id") % 10 === 1L))
      finally spark.conf.unset(key)
    assert(e.getMessage.contains("CRC-32"), e.getMessage)
    assert(log.update().version == before.version)
    assertNoLeftovers(dir)
  }

  private def upsert(dir: String, source: DataFrame) =
    Merge.into(spark, dir, source, col("t.id") === col("s.id"))
      .whenMatchedUpdate(Map("v" -> col("s.v")))
      .whenNotMatchedInsertAll()

  test("a CDF MERGE that fails a CHECK inside the write job leaves no files") {
    val dir = cdfTable("dw-check-merge", rows(40))
    DeltaTable.forPath(spark, dir).addCheckConstraint("notbad", "v <> 'bad'")
    intercept[Exception] {
      upsert(dir, Seq((3L, "bad"), (100L, "new")).toDF("id", "v")).execute()
    }
    assertNoLeftovers(dir)
  }

  test("a CDF MERGE that loses a commit conflict leaves no files") {
    val dir = cdfTable("dw-race-merge", rows(40))
    val racer = racing(dir)
    intercept[MetadataChangedException] {
      upsert(dir, Seq((3L, "x"), (100L, "new")).toDF("id", "v")
        .select(racer.as("id"), col("v"))).execute()
    }
    assert(Racer.fired)
    assertNoLeftovers(dir)
  }

  test("successful writes leave no _temporary, staging or _SUCCESS entries") {
    val dir = cdfTable("dw-clean", rows(40),
      Map(TableConfig.CheckpointInterval -> "2"))
    GraftWriter.write(Seq((50L, "a")).toDF("id", "v"), dir, SaveMode.Append)
    Dml.delete(spark, dir, col("id") < 5L)
    upsert(dir, Seq((7L, "x"), (60L, "new")).toDF("id", "v")).execute()
    val log = DeltaLog.forPath(spark, dir)
    assert(log.lastCheckpoint().nonEmpty)
    val bad = entryNames(dir).filter(n =>
      n == "_temporary" || n == "_SUCCESS" || n.startsWith(".tmp-"))
    assert(bad.isEmpty, s"leftover entries: $bad")
    assert(DeltaTable.forPath(spark, dir).toDF.count() == 37)
  }

  // ------------------------------------------------ one job per write

  test("a CDF copy-on-write DELETE writes data and change images in one job") {
    val dir = cdfTable("dw-jobs-delete", rows(40))
    val ((_, writes), m) = jobCountsDuring(Dml.delete(spark, dir, col("id") < 10L))
    assert(writes == 1, s"DELETE ran $writes write jobs")
    val log = DeltaLog.forPath(spark, dir)
    val acts = log.readCommit(m.version)
    assert(acts.exists(_.isInstanceOf[AddAction]))
    assert(acts.exists(_.isInstanceOf[CdcAction]))
    val ch = DeltaTable.forPath(spark, dir).changes(m.version - 1, m.version)
    assert(ch.select("id").as[Long].collect().sorted.toSeq == (0L until 10L))
  }

  test("a CDF UPDATE writes data and change images in one job") {
    val dir = cdfTable("dw-jobs-update", rows(40))
    val ((_, writes), m) = jobCountsDuring(
      Dml.update(spark, dir, col("id") < 5L, Map("v" -> lit("X"))))
    assert(writes == 1, s"UPDATE ran $writes write jobs")
    assert(m.rowsAffected == 5)
    val ch = DeltaTable.forPath(spark, dir).changes(m.version - 1, m.version)
    assert(ch.filter(col("_change_type") === "update_postimage")
      .select("v").distinct().as[String].collect().toSeq == Seq("X"))
    assert(ch.count() == 10)
  }

  test("a CDF MERGE writes data and change images in one job") {
    val dir = cdfTable("dw-jobs-merge", rows(40))
    val ((_, writes), m) = jobCountsDuring(
      upsert(dir, Seq((3L, "x"), (100L, "new")).toDF("id", "v")).execute())
    assert(writes == 1, s"MERGE ran $writes write jobs")
    assert((m.rowsUpdated, m.rowsInserted) == ((1L, 1L)))
    val types = DeltaTable.forPath(spark, dir).changes(m.version - 1, m.version)
      .select("_change_type").as[String].collect().sorted.toSeq
    assert(types == Seq("insert", "update_postimage", "update_preimage"))
  }

  test("a write returns the metrics its job observed (UPDATE/MERGE counts need no recompute)") {
    val dir = tempTable("dw-observed").toString
    val name = s"dw_obs_${java.util.UUID.randomUUID()}"
    val written = GraftWriter.writeFiles(rows(30).toDF("id", "v").repartition(3)
      .observe(name, count(lit(1)).as("n")), dir, Nil, numIndexedCols = -1)
    assert(written.adds.nonEmpty)
    assert(written.observed.get(name).map(_.getAs[Long]("n")).contains(30L))
  }

  test("a partitioned CDF DELETE writes change files per partition and reads them back") {
    val dir = tempTable("dw-part-delete").toString
    GraftWriter.write((0 until 30).map(i => (i.toLong, s"v$i", i % 3)).toDF("id", "v", "p"),
      dir, partitionBy = Seq("p"))
    DeltaTable.forPath(spark, dir).setProperties(
      Map(TableConfig.EnableChangeDataFeed -> "true"))
    val m = Dml.delete(spark, dir, col("id") < 9L)
    val cdcs = DeltaLog.forPath(spark, dir).readCommit(m.version)
      .collect { case c: CdcAction => c }
    assert(cdcs.map(ChangeDataFeed.writeDir).distinct.size == 1)
    assert(cdcs.map(_.partitionValues("p")).toSet == Set("0", "1", "2"))
    cdcs.foreach(c => assert(c.path.contains(s"/p=${c.partitionValues("p")}/")))
    val ch = DeltaTable.forPath(spark, dir).changes(m.version - 1, m.version)
      .select("id", "p").as[(Long, Int)].collect().sorted.toSeq
    assert(ch == (0 until 9).map(i => (i.toLong, i % 3)))
  }
}

object DirectWriteSpec {
  /** One racing commit, fired by the first UDF call after [[arm]]. */
  object Racer {
    private val armed = new AtomicBoolean(false)
    @volatile private var action: () => Unit = () => ()
    @volatile var fired = false
    def arm(a: () => Unit): Unit = synchronized {
      action = a; fired = false; armed.set(true)
    }
    def fire(): Unit =
      if (armed.compareAndSet(true, false)) { action(); fired = true }
  }
}
