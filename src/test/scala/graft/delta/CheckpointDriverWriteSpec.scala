package graft.delta

import graft.SparkTestBase
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The driver-side checkpoint write: below the restore threshold a
  * checkpoint runs no Spark job, and its files decode to the same actions
  * under the same parquet schema as the distributed writer's. */
class CheckpointDriverWriteSpec extends AnyFunSuite with SparkTestBase with JobCounting {
  import LogFixtures.tempTable
  import spark.implicits._

  /** A partitioned table with appends and a delete (so tombstones). */
  private def checkpointed(name: String): (String, DeltaLog) = {
    val dir = tempTable(name).toString
    GraftWriter.write((0 until 20).map(i => (i.toLong, s"v$i", i % 3)).toDF("id", "v", "p")
      .repartition(3), dir, partitionBy = Seq("p"))
    GraftWriter.write(Seq((100L, "a", 1)).toDF("id", "v", "p"), dir, SaveMode.Append)
    Dml.delete(spark, dir, col("id") === 5L)
    (dir, DeltaLog.forPath(spark, dir))
  }

  /** `body` with every checkpoint above the driver threshold. */
  private def distributed[A](body: => A): A = {
    spark.conf.set(DeltaLog.DistributedThresholdKey, "1")
    try body finally spark.conf.unset(DeltaLog.DistributedThresholdKey)
  }

  private def multiset(acts: Seq[Action]): Map[Action, Int] =
    acts.groupBy(identity).map { case (a, as) => a -> as.size }

  private def footerSchema(p: Path): MessageType = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(p,
      spark.sessionState.newHadoopConf()))
    try r.getFooter.getFileMetaData.getSchema finally r.close()
  }

  /** Per file: (decoded action multiset, parquet schema). */
  private def decoded(paths: Seq[Path]): Seq[(Map[Action, Int], MessageType)] =
    paths.map(p => (multiset(Checkpoints.read(spark, Seq(p))), footerSchema(p)))

  // -------------------------------------------------------------- no jobs

  test("a checkpointing append submits no job for its checkpoint") {
    val dir = tempTable("cdw-append").toString
    GraftWriter.write((0 until 10).map(i => (i.toLong, s"v$i")).toDF("id", "v"), dir,
      configuration = Some(Map(TableConfig.CheckpointInterval -> "2")))
    GraftWriter.write(Seq((10L, "a")).toDF("id", "v"), dir, SaveMode.Append)
    val ((jobs, writes), v) = jobCountsDuring(
      GraftWriter.write(Seq((11L, "b")).toDF("id", "v"), dir, SaveMode.Append))
    assert(v == 2)
    assert(DeltaLog.forPath(spark, dir).lastCheckpoint().map(_.version).contains(2L))
    assert(writes == 1 && jobs == 1,
      s"checkpointing append ran $jobs job(s), $writes of them the data write")
  }

  test("classic, multi-part and v2 checkpoints below the threshold run no Spark job") {
    val (dir, log) = checkpointed("cdw-nojob")
    val (classic, _) = jobsDuring(log.checkpoint())
    val (multi, cp) = jobsDuring(log.checkpoint(log.update(), maxActionsPerPart = 2))
    assert(cp.parts.exists(_ > 2))
    DeltaTable.forPath(spark, dir).setProperties(Map(TableConfig.CheckpointPolicy -> "v2"))
    val (v2, cp2) = jobsDuring(log.checkpoint(log.update(), maxActionsPerPart = 3))
    assert(cp2.v2FileName.nonEmpty)
    assert((classic, multi, v2) == ((0, 0, 0)))
    assert(DeltaLog.forPathUncached(spark, dir).update().files.map(_.path).toSet ==
      log.update().files.map(_.path).toSet)
  }

  // --------------------------------------------------------------- parity

  test("classic checkpoint: driver and distributed writers agree") {
    val (_, log) = checkpointed("cdw-par-classic")
    val snap = log.update()
    val local = decoded(log.checkpointPaths(log.checkpoint(snap)))
    val dist = decoded(log.checkpointPaths(distributed(log.checkpoint(snap))))
    assert(local == dist)
    assert(local.head._1.keys.exists(_.isInstanceOf[RemoveAction]))
  }

  test("multi-part checkpoint: driver and distributed writers agree part by part") {
    val (_, log) = checkpointed("cdw-par-multi")
    val snap = log.update()
    val cp = log.checkpoint(snap, maxActionsPerPart = 2)
    assert(cp.parts.exists(_ > 2))
    val local = decoded(log.checkpointPaths(cp))
    val dist = decoded(log.checkpointPaths(distributed(log.checkpoint(snap, 2))))
    assert(local == dist)
  }

  test("v2 checkpoint: driver and distributed writers agree") {
    val (dir, log) = checkpointed("cdw-par-v2")
    DeltaTable.forPath(spark, dir).setProperties(Map(TableConfig.CheckpointPolicy -> "v2"))
    val snap = log.update()
    def written(name: String): (Map[Action, Int], Seq[MessageType]) = {
      val sidecars = Checkpoints.sidecarRefs(log, name)
        .map(s => Checkpoints.sidecarPath(log, s.path))
      assert(sidecars.size > 1)
      (multiset(Checkpoints.readV2(log, snap.version, name)),
        (new Path(log.logPath, name) +: sidecars).map(footerSchema))
    }
    val (localN, localName) = Checkpoints.writeV2(log, snap, 3)
    val (distN, distName) = distributed(Checkpoints.writeV2(log, snap, 3))
    assert(localN == distN)
    assert(written(localName) == written(distName))
  }
}
