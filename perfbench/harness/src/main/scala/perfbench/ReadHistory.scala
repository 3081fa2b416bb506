package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.delta.{DeltaLog, DeltaTable, Dml, GraftWriter, Snapshot}

/** Reads of a table with a long history: cold, warm and time-travel opens,
  * a pruned scan and a stats-only aggregate. No op commits. */
final class ReadHistory(spark: SparkSession, seed: Long) extends Workload(spark, seed) {
  import ReadHistory._

  val kinds = Seq("cold_open", "warm_open", "time_travel", "pruned_scan", "stats_agg")
  def opClass(kind: String): String = kind match {
    case "pruned_scan" | "stats_agg" => "scan"
    case _ => "open"
  }
  def spaceAfterRounds = 0
  /** Its ops take 0.3 s or less, and their JIT-compiled code keeps getting
    * faster over the first few seconds of ops. */
  override def warmupRounds = 5

  private var root: String = _
  private def table = s"$root/lineitem"
  /** Per version: the batch it appended, or the key range it deleted. */
  private val history = mutable.ArrayBuffer.empty[Either[Int, (Long, Long)]]
  private def batches = history.count(_.isLeft)
  private def latest = history.size - 1L

  // outputs kept for the checks
  private var coldOut: Option[Snapshot] = None
  private var warmOut: Option[Snapshot] = None
  private val travels = mutable.ArrayBuffer.empty[(Long, Snapshot)]
  private val scans = mutable.ArrayBuffer.empty[(Int, Long, Long, Long, BigDecimal)]
  private var statsOut: Option[(Long, Long, Long)] = None

  private def yearOf(batch: Int): Int = Data.Years(batch * Data.Years.size / Appends)
  private def batchRows(b: Int) =
    (b.toLong * Rows until (b + 1L) * Rows).map(k => Data.lineitemRow(seed, k, yearOf(b)))

  def setup(root: String): Map[String, Double] = {
    this.root = root
    history.clear()
    for (v <- 0 until Versions) {
      if (DeleteVersions.contains(v)) {
        val r = Data.rng(seed, 41, v)
        val lo = r.nextInt(batches).toLong * Rows + r.nextInt(Rows - DeleteWidth)
        val hi = lo + DeleteWidth - 1
        Dml.delete(spark, table, col("l_orderkey").between(lo, hi))
        history += Right((lo, hi))
      } else {
        // batches arrive in ship-date order: each lands in one partition
        val b = batches
        GraftWriter.write(Data.frame(spark, batchRows(b), Data.lineitemSchema), table,
          if (v == 0) SaveMode.ErrorIfExists else SaveMode.Append,
          partitionBy = Seq("l_shipyear"),
          configuration = if (v == 0) Some(Map(
            "delta.checkpointInterval" -> CheckpointInterval.toString)) else None)
        history += Left(b)
      }
    }
    Map.empty
  }

  /** (actions in the checkpoint, `_delta_log` entries): the table does not
    * change during a run. */
  private lazy val logShape: (Double, Double) = (
    DeltaLog.forPath(spark, table).lastCheckpoint().map(_.size.toDouble).getOrElse(0.0),
    Util.logEntries(spark, table).toDouble)

  private def countLog(ctx: OpCtx, version: Long): Unit = {
    val cp = DeltaLog.forPath(spark, table).findLatestCheckpointForVersion(version)
    ctx.count("tail_commits", (version - cp.map(_.version).getOrElse(-1L)).toDouble)
    ctx.count("checkpoint_actions", logShape._1)
    ctx.count("listing_entries", logShape._2)
  }

  def op(kind: String, ctx: OpCtx): Unit = kind match {
    case "cold_open" =>
      val snap = ctx.span("log", "DeltaLog.forPathUncached.update")(
        DeltaLog.forPathUncached(spark, table).update())
      coldOut = Some(snap)
      ctx.afterTimed(countLog(ctx, snap.version))
    case "warm_open" =>
      val snap = ctx.span("log", "DeltaLog.forPath.update")(
        DeltaLog.forPath(spark, table).update())
      warmOut = Some(snap)
      ctx.afterTimed(countLog(ctx, snap.version))
    case "time_travel" =>
      // a version from the last checkpoint on: a checkpoint restore plus
      // a 0 to 2 commit tail
      val v = CheckpointInterval +
        Data.rng(seed, 42, ctx.index).nextInt((latest - CheckpointInterval).toInt)
      val snap = ctx.span("log", "DeltaLog.snapshotForVersion")(
        DeltaLog.forPath(spark, table).snapshotForVersion(v))
      travels += ((v, snap))
      ctx.afterTimed(countLog(ctx, v))
    case "pruned_scan" =>
      // one year's partition and a half-batch key range inside it
      val r = Data.rng(seed, 43, ctx.index)
      val year = yearOf(r.nextInt(Appends))
      val inYear = (0 until Appends).filter(yearOf(_) == year)
      val lo = inYear.head.toLong * Rows + r.nextInt(inYear.size * Rows - ScanWidth + 1)
      val hi = lo + ScanWidth - 1
      val dt = ctx.span("log", "DeltaTable.forPath")(DeltaTable.forPath(spark, table))
      val df = ctx.span("plan", "DeltaTable.toDF.plan") {
        val d = dt.toDF
          .filter(col("l_shipyear") === year && col("l_orderkey").between(lo, hi))
          .agg(Util.digestCols(Data.lineitemCols).head,
            Util.digestCols(Data.lineitemCols).tail: _*)
        d.queryExecution.executedPlan
        d
      }
      val row = ctx.span("exec", "collect")(df.collect()(0))
      scans += ((year, lo, hi, row.getLong(0), BigDecimal(row.getDecimal(1))))
      ctx.afterTimed {
        Util.countScanMetrics(df, ctx)
        ctx.count("files_total", dt.files.size)
      }
    case "stats_agg" =>
      val dt = ctx.span("log", "DeltaTable.forPath")(DeltaTable.forPath(spark, table))
      val df = ctx.span("plan", "DeltaTable.toDF.plan") {
        val d = dt.toDF.agg(min("l_orderkey"), max("l_orderkey"), count(lit(1)))
        d.queryExecution.executedPlan
        d
      }
      val row = ctx.span("exec", "collect")(df.collect()(0))
      statsOut = Some((row.getLong(0), row.getLong(1), row.getLong(2)))
      ctx.afterTimed {
        ctx.count("stats_only", if (Util.answeredFromStats(df)) 1 else 0)
        ctx.count("files_total", dt.files.size)
      }
  }

  /** The generated rows as plain parquet, each row tagged with the version
    * that added it and the version that deleted it (null if live). */
  private lazy val reference: DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField}
    val path = s"$root/reference.parquet"
    val addedAt = history.zipWithIndex.collect { case (Left(b), v) => b -> v.toLong }.toMap
    val deleted = history.zipWithIndex.collect { case (Right((lo, hi)), v) => (lo, hi, v.toLong) }
    val rows = (0 until batches).flatMap(b => batchRows(b).map { r =>
      val k = r.getLong(0)
      Row.fromSeq(r.toSeq :+ addedAt(b) :+
        deleted.find { case (lo, hi, _) => lo <= k && k <= hi }.map(_._3).orNull)
    })
    val schema = Data.lineitemSchema
      .add(StructField("added_at", LongType)).add(StructField("deleted_at", LongType))
    Data.frame(spark, rows, schema).write.parquet(path)
    spark.read.parquet(path)
  }

  private def referenceAt(v: Long): DataFrame = reference.filter(
    col("added_at") <= v && (col("deleted_at").isNull || col("deleted_at") > v))

  def checks(): Seq[CheckResult] = {
    val out = mutable.ArrayBuffer.empty[CheckResult]
    val refLatest = referenceAt(latest).cache()
    val (nLatest, hLatest) = Util.digestOf(refLatest, Data.lineitemCols)
    for ((name, snap) <- Seq("cold_open" -> coldOut, "warm_open" -> warmOut);
         s <- snap) {
      val n = s.statistics.numRecords
      out += CheckResult(name, s.version == latest && n.contains(nLatest),
        s"version ${s.version} (want $latest), rows from stats $n (want $nLatest)")
    }
    // time travel: the pinned snapshot's rows, read back through the
    // table at that version, against the reference at that version
    val versions = travels.map(_._1).distinct.take(MaxCheckedVersions)
    val travelOk = versions.forall { v =>
      val snap = travels.find(_._1 == v).get._2
      val got = Util.digestOf(DeltaTable.forPath(spark, table, v).toDF, Data.lineitemCols)
      val want = Util.digestOf(referenceAt(v), Data.lineitemCols)
      val ok = snap.version == v && got == want &&
        snap.statistics.numRecords.contains(want._1)
      if (!ok) out += CheckResult(s"time_travel@$v", ok = false,
        s"snapshot version ${snap.version}, got $got, want $want, " +
          s"rows from stats ${snap.statistics.numRecords}")
      ok
    }
    if (travelOk) out += CheckResult("time_travel", ok = true,
      s"${versions.size} versions match the reference")
    // pruned scans: one reference query answers every scan op
    if (scans.nonEmpty) {
      import spark.implicits._
      val params = scans.toSeq.zipWithIndex.map { case ((y, lo, hi, _, _), i) => (i, y, lo, hi) }
        .toDF("i", "y", "lo", "hi")
      val want = params.join(refLatest,
          col("y") === col("l_shipyear") && col("l_orderkey").between(col("lo"), col("hi")))
        .groupBy("i").agg(Util.digestCols(Data.lineitemCols).head,
          Util.digestCols(Data.lineitemCols).tail: _*)
        .collect().map(r => r.getInt(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap
      val bad = scans.zipWithIndex.filter { case ((_, _, _, n, h), i) =>
        want.getOrElse(i, (0L, BigDecimal(0))) != ((n, h))
      }
      out += CheckResult("pruned_scan", bad.isEmpty,
        s"${scans.size - bad.size}/${scans.size} scans match the reference" +
          bad.headOption.map { case (s, i) => s"; first mismatch $s want ${want.get(i)}" }
            .getOrElse(""))
    }
    statsOut.foreach { got =>
      val r = refLatest.agg(min("l_orderkey"), max("l_orderkey"), count(lit(1)))
        .collect()(0)
      val want = (r.getLong(0), r.getLong(1), r.getLong(2))
      out += CheckResult("stats_agg", got == want, s"got $got want $want")
    }
    refLatest.unpersist()
    out.toSeq
  }

  def inputs(): Map[String, Any] = {
    val snap = DeltaLog.forPath(spark, table).update()
    Map("table" -> "lineitem", "rows" -> snap.statistics.numRecords.getOrElse(-1L),
      "files" -> snap.files.size, "bytes" -> snap.files.map(_.size).sum,
      "commits" -> (latest + 1), "appends" -> batches,
      "deletes" -> (history.size - batches),
      "log_entries" -> Util.logEntries(spark, table),
      "checkpoint_version" -> DeltaLog.forPath(spark, table).lastCheckpoint()
        .map(_.version).getOrElse(-1L))
  }

  def spaceRoots: Seq[String] = Seq(table)
}

object ReadHistory {
  /** Commits in the table: version 0 creates it, the rest append one
    * batch each except the deletes. The table checkpoints every 4 commits
    * and its last version is 3 commits past the checkpoint, so a cold open
    * restores the checkpoint and replays a 3-commit tail. */
  val Versions = 8
  val CheckpointInterval = 4
  val DeleteVersions = Set(3, 6)
  val Appends: Int = Versions - DeleteVersions.size
  val Rows = 8000
  val ScanWidth = 4000
  val DeleteWidth = 40
  val MaxCheckedVersions = 2
}
