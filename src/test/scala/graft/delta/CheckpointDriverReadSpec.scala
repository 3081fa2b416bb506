package graft.delta

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SaveMode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The driver-side checkpoint read ([[Checkpoints.read]]): no Spark job on
  * any below-threshold load, the same actions as the Spark-job read it
  * replaced (kept here only as the parity oracle), and each file decoded
  * under its own footer schema. */
class CheckpointDriverReadSpec extends AnyFunSuite with SparkTestBase with JobCounting {
  import LogFixtures.tempTable
  import spark.implicits._

  /** The replaced read: one Spark parquet job over all files, first file's
    * schema. Parity oracle only. */
  private def oracle(paths: Seq[Path]): Seq[Action] =
    spark.read.parquet(paths.map(_.toString): _*).collect()
      .toSeq.flatMap(Checkpoints.rowToAction)

  private def multiset(acts: Seq[Action]): Map[Action, Int] =
    acts.groupBy(identity).map { case (a, as) => a -> as.size }

  private def assertParity(paths: Seq[Path]): Seq[Action] = {
    val got = Checkpoints.read(spark, paths)
    assert(got.nonEmpty)
    assert(multiset(got) == multiset(oracle(paths)))
    got
  }

  /** A partitioned table with appends and a delete (so tombstones). */
  private def checkpointed(name: String): (String, DeltaLog) = {
    val dir = tempTable(name).toString
    GraftWriter.write((0 until 20).map(i => (i.toLong, s"v$i", i % 3)).toDF("id", "v", "p")
      .repartition(3), dir, partitionBy = Seq("p"))
    GraftWriter.write(Seq((100L, "a", 1)).toDF("id", "v", "p"), dir, SaveMode.Append)
    Dml.delete(spark, dir, col("id") === 5L)
    (dir, DeltaLog.forPath(spark, dir))
  }

  private def paths(files: Iterable[AddAction]): Set[String] = files.map(_.path).toSet

  /** `df` as one plain parquet file outside any table. */
  private def parquetFile(name: String, df: org.apache.spark.sql.DataFrame): java.nio.file.Path = {
    val dir = tempTable(name).resolve("out").toString
    df.coalesce(1).write.parquet(dir)
    Files.list(Paths.get(dir)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
  }

  // -------------------------------------------------------------- no jobs

  test("a cold open restores its checkpoint with no Spark job") {
    val (dir, log) = checkpointed("drv-cold")
    log.checkpoint()
    GraftWriter.write(Seq((200L, "t", 2)).toDF("id", "v", "p"), dir, SaveMode.Append)
    val warm = log.update()
    val (jobs, cold) = jobsDuring(DeltaLog.forPathUncached(spark, dir).update())
    assert(jobs == 0, s"cold open submitted $jobs Spark job(s)")
    assert(cold.version == warm.version)
    assert(paths(cold.files) == paths(warm.files))
  }

  test("a time-travel load through a checkpoint runs no Spark job") {
    val (dir, log) = checkpointed("drv-tt")
    val cp = log.checkpoint()
    GraftWriter.write(Seq((200L, "t", 2)).toDF("id", "v", "p"), dir, SaveMode.Append)
    GraftWriter.write(Seq((201L, "u", 0)).toDF("id", "v", "p"), dir, SaveMode.Append)
    val (jobs, pinned) = jobsDuring(log.snapshotForVersion(cp.version + 1))
    assert(jobs == 0, s"snapshotForVersion submitted $jobs Spark job(s)")
    assert(pinned.version == cp.version + 1)
    assert(pinned.files.size == log.update().files.size - 1)
  }

  test("a v2 checkpoint (manifest + sidecars) restores with no Spark job") {
    val (dir, log) = checkpointed("drv-v2")
    DeltaTable.forPath(spark, dir).setProperties(Map(TableConfig.CheckpointPolicy -> "v2"))
    val cp = log.checkpoint(log.update(), maxActionsPerPart = 3)
    assert(cp.v2FileName.nonEmpty)
    assert(Checkpoints.sidecarRefs(log, cp.v2FileName.get).size > 1)
    val warm = log.update()
    val (jobs, cold) = jobsDuring(DeltaLog.forPathUncached(spark, dir).update())
    assert(jobs == 0, s"v2 restore submitted $jobs Spark job(s)")
    assert(paths(cold.files) == paths(warm.files))
    assert(cold.readerFeatures == warm.readerFeatures)
  }

  // --------------------------------------------------------------- parity

  test("classic single-file checkpoint: same actions as the Spark-job read") {
    val (_, log) = checkpointed("drv-par-classic")
    val cp = log.checkpoint()
    val acts = assertParity(log.checkpointPaths(cp))
    assert(acts.exists(_.isInstanceOf[RemoveAction]))
  }

  test("multi-part checkpoint: same actions as the Spark-job read") {
    val (_, log) = checkpointed("drv-par-multi")
    val cp = log.checkpoint(log.update(), maxActionsPerPart = 2)
    assert(cp.parts.exists(_ > 2))
    assertParity(log.checkpointPaths(cp))
  }

  test("v2 manifest and sidecars: same actions as the Spark-job read") {
    val (dir, log) = checkpointed("drv-par-v2")
    DeltaTable.forPath(spark, dir).setProperties(Map(TableConfig.CheckpointPolicy -> "v2"))
    val cp = log.checkpoint(log.update(), maxActionsPerPart = 3)
    val manifest = new Path(log.logPath, cp.v2FileName.get)
    assertParity(Seq(manifest))
    assertParity(Checkpoints.sidecarRefs(log, cp.v2FileName.get)
      .map(s => Checkpoints.sidecarPath(log, s.path)))
  }

  private val strMap = MapType(StringType, StringType, valueContainsNull = true)

  test("foreign-shaped checkpoint: parsed structs, DV struct, null maps/arrays, missing columns") {
    val dv = StructType(Seq(
      StructField("storageType", StringType), StructField("pathOrInlineDv", StringType),
      StructField("offset", IntegerType), StructField("sizeInBytes", IntegerType),
      StructField("cardinality", LongType)))
    val stats = StructType(Seq(
      StructField("numRecords", LongType),
      StructField("minValues", StructType(Seq(StructField("id", LongType)))),
      StructField("maxValues", StructType(Seq(StructField("id", LongType)))),
      StructField("nullCount", StructType(Seq(StructField("id", LongType))))))
    // no baseRowId / defaultRowCommitVersion / tags on add; remove carries
    // only its required fields; txn has no lastUpdated; no domainMetadata
    val schema = StructType(Seq(
      StructField("txn", StructType(Seq(
        StructField("appId", StringType), StructField("version", LongType)))),
      StructField("add", StructType(Seq(
        StructField("path", StringType), StructField("partitionValues", strMap),
        StructField("size", LongType), StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType), StructField("stats", StringType),
        StructField("deletionVector", dv),
        StructField("partitionValues_parsed", StructType(Seq(StructField("p", IntegerType)))),
        StructField("stats_parsed", stats)))),
      StructField("remove", StructType(Seq(
        StructField("path", StringType), StructField("deletionTimestamp", LongType),
        StructField("dataChange", BooleanType)))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("format", StructType(Seq(
          StructField("provider", StringType), StructField("options", strMap)))),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", strMap)))),
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType)))))))
    val rows = Seq(
      Row(null, null, null, null,
        Row(3, 7, null, Seq("deletionVectors", "appendOnly"))),
      Row(null, null, null,
        Row("md-1", Row("parquet", null), LogFixtures.schemaString, Seq("p"), null), null),
      Row(Row("app-1", 4L), null, null, null, null),
      Row(null, Row("p=1/a.parquet", Map("p" -> "1"), 10L, 5L, false,
        """{"numRecords":3,"minValues":{"id":1},"maxValues":{"id":9},"nullCount":{"id":0}}""",
        Row("u", "ab^-aqEH.-t@S}K{vb[*k^", 1, 36, 2L),
        Row(1), Row(3L, Row(1L), Row(9L), Row(0L))), null, null, null),
      // null maps, null stats, no DV, null parsed structs
      Row(null, Row("p=2/b.parquet", null, 11L, 6L, true, null, null, null, null),
        null, null, null),
      Row(null, null, Row("p=0/c.parquet", 7L, true), null, null))
    val file = parquetFile("drv-foreign", spark.createDataFrame(rows.asJava, schema))
    val acts = assertParity(Seq(new Path(file.toUri)))
    val adds = acts.collect { case a: AddAction => a.path -> a }.toMap
    assert(adds("p=1/a.parquet").deletionVector.exists(_.contains("\"cardinality\":2")))
    assert(adds("p=2/b.parquet").partitionValues.isEmpty)
    assert(acts.contains(TxnAction("app-1", 4L, None)))
    assert(acts.collectFirst { case p: ProtocolAction => p.readerFeatures }.contains(None))
  }

  test("a truncated checkpoint file still throws") {
    val (_, log) = checkpointed("drv-trunc")
    val cp = log.checkpoint()
    val src = Paths.get(log.checkpointPaths(cp).head.toUri.getPath)
    val bytes = Files.readAllBytes(src)
    val cut = tempTable("drv-trunc-copy").resolve("cut.parquet")
    Files.write(cut, java.util.Arrays.copyOf(bytes, bytes.length / 2))
    intercept[Exception](Checkpoints.read(spark, Seq(new Path(cut.toUri))))
  }

  // ----------------------------------------------- per-file footer schema

  test("multi-part checkpoint whose parts differ in columns keeps domain metadata") {
    val (dir, log) = checkpointed("drv-dm-parts")
    DeltaTable.forPath(spark, dir).setDomainMetadata("app.lineage", "run-7")
    val snap = log.update()
    val cp = log.checkpoint()
    val single = log.checkpointPaths(cp).head
    val all = spark.read.parquet(single.toString).cache()
    // part 1 without the domainMetadata column, part 2 with it (the only
    // part that needs it): a first-file-schema read nulls part 2's domain
    val plain = all.filter(col("domainMetadata").isNull).drop("domainMetadata")
    val withDomain = all.filter(col("domainMetadata").isNotNull)
    val parts = Seq(plain, withDomain).zipWithIndex.map { case (df, i) =>
      Files.move(parquetFile(s"drv-dm-part$i", df),
        Paths.get(dir, "_delta_log", DeltaLog.multipartName(cp.version, i + 1, 2)))
    }
    all.unpersist()
    Files.delete(Paths.get(single.toUri.getPath))
    Files.delete(Paths.get(dir, "_delta_log", "_last_checkpoint"))
    assert(spark.read.parquet(parts.head.toString).columns.toSeq
      .forall(_ != "domainMetadata"))

    val restored = DeltaLog.forPathUncached(spark, dir)
    assert(restored.findLatestCheckpointForVersion(cp.version).flatMap(_.parts).contains(2))
    val cold = restored.update()
    assert(cold.domainMetadata == Map("app.lineage" -> "run-7"))
    assert(paths(cold.files) == paths(snap.files))
    assert(cold.writerFeatures == snap.writerFeatures)
  }
}
