package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.delta.{DeltaLog, DeltaTable, Dml, GraftWriter, Merge}
import graft.ops.IvfIndex

/** One writer committing small changes to a partitioned table of vectors —
  * appends, key-range deletes and updates, MERGE upserts — with an IVF
  * index bound to the table's change data feed. Each round folds the
  * round's commits into the index and runs an exhaustive top-k lookup.
  * Little data moves, so a commit costs about the per-commit floor. */
final class WriteIndex(spark: SparkSession, seed: Long) extends Workload(spark, seed) {
  import WriteIndex._

  /** Five commits per round at a checkpoint interval of five, so every
    * round's last commit, an append, checkpoints: the mix of plain and
    * checkpointing commits is the same however many rounds a run fits. */
  val kinds = Seq("append", "delete", "update", "merge", "append2", "ivf_refresh",
    "ivf_lookup")
  def opClass(kind: String): String = kind match {
    case "ivf_refresh" => "refresh"
    case "ivf_lookup" => "lookup"
    case _ => "commit"
  }
  def spaceAfterRounds = 1
  /** A round takes longer than a run's seconds; two give 14 latencies. */
  override def minRounds = 2

  private var root: String = _
  private def table = s"$root/items"
  private def ivf = s"$root/ivf_index"
  /** The expected table: id → row, updated by every commit that succeeds. */
  private val model = mutable.HashMap.empty[Long, Row]
  private var nextId = 0L
  private var topKOut: Option[(Array[Float], Seq[(Long, Long)])] = None

  /** Ids are in arrival order: the initial ids spread over the shards,
    * later ids land in the last one. */
  private def row(id: Long, salt: Long = 0): Row = Row(id,
    math.min(Shards - 1, id * Shards / InitialRows).toInt,
    Data.rng(seed, 30 + salt, id).nextInt(100), Data.embedding(seed, id, salt).toSeq)

  private def frame(ids: Seq[Long], salt: Long = 0) =
    Data.frame(spark, ids.map(row(_, salt)), Data.itemsSchema)

  /** Creates the table with its change feed on and builds the index bound
    * to it. The untimed warm-up round then commits versions 1-5, so each
    * timed round's `append2` writes a version that checkpoints (10, 15, ...).
    * Each of the index's own tables takes at most one commit a round and
    * stays below its first checkpoint (version 10) for eight timed rounds. */
  def setup(root: String): Map[String, Double] = {
    this.root = root
    model.clear()
    val ids = 0L until InitialRows
    GraftWriter.write(frame(ids), table, partitionBy = Seq("shard"),
      configuration = Some(Map("delta.enableChangeDataFeed" -> "true",
        "delta.checkpointInterval" -> CheckpointInterval.toString)))
    ids.foreach(i => model(i) = row(i))
    nextId = InitialRows
    val (_, buildS) = Util.timed(IvfIndex.buildFromTable(spark, table, "vec_id",
      "embedding", ivf, nClusters = Data.Clusters))
    Map("ivf_build_s" -> buildS)
  }

  /** A seeded id range of `width` ids inside the ids written so far. */
  private def range(ctx: OpCtx, salt: Long, width: Int): (Long, Long) = {
    val lo = (Data.rng(seed, salt, ctx.index).nextDouble() * (nextId - width)).toLong
    (lo, lo + width - 1)
  }

  private def append(ctx: OpCtx): Long = {
    val ids = nextId until nextId + AppendRows
    val v = ctx.span("commit", "GraftWriter.write")(GraftWriter.write(
      frame(ids), table, SaveMode.Append, partitionBy = Seq("shard")))
    ids.foreach(i => model(i) = row(i))
    nextId += AppendRows
    v
  }

  def op(kind: String, ctx: OpCtx): Unit = kind match {
    case "ivf_refresh" =>
      ctx.span("index", "IvfIndex.refreshFromSource")(IvfIndex.refreshFromSource(spark, ivf))
    case "ivf_lookup" =>
      val q = Data.embedding(seed, QuerySalt + ctx.index)
      val df = ctx.span("index", "IvfIndex.topK")(
        IvfIndex.topK(spark, ivf, q, K, nProbe = Data.Clusters))
      val rows = ctx.span("exec", "collect")(df.collect())
      topKOut = Some((q, rows.map(r => (r.getLong(0), r.getLong(1))).toSeq))
    case _ =>
      val version = commit(kind, ctx)
      ctx.afterTimed {
        val log = DeltaLog.forPath(spark, table)
        val ckpt = Util.fileSize(spark, log.checkpointFile(version))
        ctx.count("checkpoint", if (ckpt > 0) 1 else 0)
        ctx.count("log_bytes", (Util.fileSize(spark, log.commitFile(version)) + ckpt).toDouble)
        ctx.count("data_files", log.readCommit(version)
          .count(_.isInstanceOf[graft.delta.AddAction]).toDouble)
      }
  }

  /** Runs one commit op and applies it to the model; returns its version. */
  private def commit(kind: String, ctx: OpCtx): Long = kind match {
    case "append" | "append2" => append(ctx)
    case "delete" =>
      val (lo, hi) = range(ctx, 51, RangeWidth)
      val m = ctx.span("commit", "Dml.delete")(
        Dml.delete(spark, table, col("vec_id").between(lo, hi)))
      (lo to hi).foreach(model.remove)
      m.version
    case "update" =>
      val (lo, hi) = range(ctx, 52, RangeWidth)
      val m = ctx.span("commit", "Dml.update")(Dml.update(spark, table,
        col("vec_id").between(lo, hi),
        Map("label" -> (col("label") + lit(1)),
          "embedding" -> transform(col("embedding"), x => -x))))
      (lo to hi).foreach(i => model.get(i).foreach { r =>
        model(i) = Row(r.getLong(0), r.getInt(1), r.getInt(2) + 1,
          r.getSeq[Float](3).map(x => -x))
      })
      m.version
    case "merge" =>
      // half the source rows hit existing ids (new label and vector), half
      // are new ids that insert
      val (lo, _) = range(ctx, 53, MergeRows / 2)
      val salt = 1L + math.abs(ctx.index.toLong)
      val ids = (lo until lo + MergeRows / 2) ++ (nextId until nextId + MergeRows / 2)
      val m = ctx.span("commit", "Merge.execute")(
        Merge.into(spark, table, frame(ids, salt), col("t.vec_id") === col("s.vec_id"))
          .whenMatchedUpdate(Map("label" -> col("s.label"), "embedding" -> col("s.embedding")))
          .whenNotMatchedInsertAll()
          .execute())
      ids.foreach { i =>
        val fresh = row(i, salt)
        model(i) = model.get(i) match {
          case Some(r) => Row(r.getLong(0), r.getInt(1), fresh.getInt(2), fresh.getSeq[Float](3))
          case None => fresh
        }
      }
      nextId += MergeRows / 2
      m.version
  }

  def checks(): Seq[CheckResult] = {
    val got = Util.digestOf(DeltaTable.forPath(spark, table).toDF, Data.itemsCols)
    val want = Util.digestOf(Data.frame(spark, model.values.toSeq, Data.itemsSchema),
      Data.itemsCols)
    val tableCheck = CheckResult("final_table", got == want,
      s"table (rows, hash) $got, model of the applied commits $want")
    // brute force over the table just checked: the same score for every row
    val ivfCheck = topKOut.map { case (q, top) =>
      import spark.implicits._
      val query = Seq(Tuple1(q)).toDF("query_vec")
      val brute = DeltaTable.forPath(spark, table).toDF.crossJoin(query)
        .select(col("vec_id"),
          graft.functions.functions.dot_q(col("embedding"), col("query_vec")).as("dot_q"))
        .orderBy(col("dot_q").desc, col("vec_id")).limit(K)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      CheckResult("ivf_topk", top == brute,
        s"index top-$K ${top.take(3)}..., brute force ${brute.take(3)}...")
    }
    Seq(tableCheck) ++ ivfCheck
  }

  def inputs(): Map[String, Any] = {
    def shape(p: String) = {
      val s = DeltaLog.forPath(spark, p).update()
      Map("rows" -> s.statistics.numRecords.getOrElse(-1L), "files" -> s.files.size,
        "bytes" -> s.files.map(_.size).sum, "commits" -> (s.version + 1),
        "log_entries" -> Util.logEntries(spark, p),
        "checkpoint_version" -> DeltaLog.forPath(spark, p).lastCheckpoint()
          .map(_.version).getOrElse(-1L))
    }
    Map("initial_rows" -> InitialRows, "dim" -> Data.Dim, "clusters" -> Data.Clusters,
      "items" -> shape(table),
      "index_tables" -> Util.tablesUnder(spark, ivf)
        .map(t => new org.apache.hadoop.fs.Path(t).getName -> shape(t)).toMap)
  }

  def spaceRoots: Seq[String] = Seq(table, ivf)
}

object WriteIndex {
  val InitialRows = 1000
  val Shards = 4
  val AppendRows = 100
  val RangeWidth = 40
  val MergeRows = 100
  val K = 10
  val QuerySalt = 1000000000L
  /** Commits per round: one of them checkpoints. */
  val CheckpointInterval = 5
}
