package graft.delta

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.{col, lit}

/** `SELECT * FROM graft_changes('/path', startVersion[, endVersion])` — the
  * batch incremental feed: rows ADDED in commits `(start, end]` with
  * `dataChange = true`, plus a `_commit_version` column. The batch analog
  * of the streaming source's version offsets (same commit-boundary
  * alignment, same `dataChange=false` invisibility for compactions), for
  * catch-up jobs that process a table's tail without a streaming runtime —
  * "give me everything since the version I checkpointed last night".
  *
  * Scale shape: only the NEW files of the requested version range are
  * scanned — a day's increment of a 100 TB table reads the day's files,
  * never the table. Copy-on-write rewrites (DELETE/UPDATE/MERGE) surface
  * their rewritten files, which is the protocol-faithful file-level feed;
  * row-level before/after images are a CDC extension the reference's
  * protocol version does not carry. */
object GraftChangesFunction {

  private def build(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.size >= 2 && exprs.size <= 3 && exprs.forall(_.foldable),
      "graft_changes expects (path, startVersion[, endVersion]) constant arguments")
    val path = String.valueOf(exprs.head.eval(null))
    val startV = String.valueOf(exprs(1).eval(null)).toLong
    val spark = SparkSession.active
    val log = DeltaLog.forPath(spark, path)
    val latest = log.update().version
    if (latest < 0) throw new NotATableException(path)
    val endV = exprs.lift(2).map(e => String.valueOf(e.eval(null)).toLong)
      .getOrElse(latest)
    require(startV <= endV && endV <= latest,
      s"invalid version range ($startV, $endV] for table at version $latest")
    val endSnap = log.snapshotForVersion(endV)
    ProtocolSupport.assertRowFeedReadable(endSnap)
    // name-mapped tables: scan PHYSICAL (file columns, partition dirs,
    // stats all speak physical names), alias back to logical at the top
    val logical = endSnap.schema
    val mapped = ColumnMapping.isMapped(endSnap)
    val schema =
      if (mapped) ColumnMapping.readSchema(spark, endSnap) else logical

    // ONE scan over every added file in the range; `_commit_version`
    // attached via a broadcast file→version join on scheme-normalized
    // paths — a per-version frame would union O(versions) branches and
    // blow up planning on a 10⁴-version catch-up range
    val fileVersion: Seq[(String, Long)] = GraftWriter.inDriverPool(
      log.listCommitVersions().filter(v => v > startV && v <= endV)) { v =>
        log.readCommit(v).collect {
          // DV re-adds (merge-on-read DELETE/UPDATE)
          // carry no new rows
          case a: AddAction if a.dataChange && !DeletionVectors.hasDv(a) =>
            a.path -> v
        }
      }.flatten
    val out =
      if (fileVersion.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          logical.add("_commit_version", "long", nullable = false))
      else {
        val mapDf = org.apache.spark.sql.functions.broadcast(
          spark.createDataFrame(fileVersion.map { case (rel, v) =>
            // same SchemeRe strip as the scan side below — keeps any URI
            // authority on BOTH sides (ChangeDataFeed.normalizedKey)
            (ChangeDataFeed.normalizedKey(
              new org.apache.hadoop.fs.Path(log.tablePath, rel)), v)
          }).toDF("__graft_path", "_commit_version"))
        // distinct: a path re-added in two versions (remove → RESTORE)
        // is scanned once; the join emits its rows once PER version
        val resolved = fileVersion.map { case (rel, _) =>
          new org.apache.hadoop.fs.Path(log.tablePath, rel).toString }.distinct
        // basePath only when every file sits under the table root: a
        // shallow clone's adds are ABSOLUTE URIs under the SOURCE root,
        // and Spark rejects scan roots outside basePath — the file-level
        // feed failed outright on any cloned table (r11 review; partition
        // columns of such foreign-rooted files read as null — the
        // row-level CDF path serves clones with typed partitions)
        val rootStr = log.tablePath.toString.stripSuffix("/") + "/"
        val reader0 = spark.read.schema(schema)
        val reader =
          if (resolved.forall(_.startsWith(rootStr)))
            reader0.option("basePath", log.tablePath.toString)
          else reader0
        reader
          .parquet(resolved: _*)
          .withColumn("__graft_path", org.apache.spark.sql.functions.regexp_replace(
            col("_metadata.file_path"), ChangeDataFeed.SchemeRe, "/"))
          .join(mapDf, "__graft_path")
          .select((if (mapped)
            logical.fields.toSeq.map { f =>
              val phys = ColumnMapping.physicalFieldName(f)
              col(s"`$phys`").cast(f.dataType).as(f.name)
            }
          else schema.fieldNames.toSeq.map(n => col(DeltaSchema.quoted(n)))) :+ col("_commit_version"): _*)
      }
    out.queryExecution.analyzed
  }

  val descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan) =
    (FunctionIdentifier("graft_changes"),
      new ExpressionInfo(getClass.getName, "graft_changes"),
      build)
}

/** `SELECT * FROM graft_table_changes('/path', startVersion[, endVersion])`
  * — the ROW-level Change Data Feed (table columns + `_change_type` +
  * `_commit_version`), served by [[ChangeDataFeed.readChanges]]. Requires
  * the table's DML commits to carry change data
  * (`delta.enableChangeDataFeed=true` at DML time); contrast with
  * [[GraftChangesFunction]], the file-level feed that needs no capture. */
object GraftTableChangesFunction {

  private def build(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.size >= 2 && exprs.size <= 3 && exprs.forall(_.foldable),
      "graft_table_changes expects (path, startVersion[, endVersion]) constant arguments")
    val path = String.valueOf(exprs.head.eval(null))
    val startV = String.valueOf(exprs(1).eval(null)).toLong
    val spark = SparkSession.active
    val log = DeltaLog.forPath(spark, path)
    val latest = log.update().version
    if (latest < 0) throw new NotATableException(path)
    val endV = exprs.lift(2).map(e => String.valueOf(e.eval(null)).toLong)
      .getOrElse(latest)
    require(startV <= endV && endV <= latest,
      s"invalid version range ($startV, $endV] for table at version $latest")
    ChangeDataFeed.readChanges(spark, log, startV, endV).queryExecution.analyzed
  }

  val descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan) =
    (FunctionIdentifier("graft_table_changes"),
      new ExpressionInfo(getClass.getName, "graft_table_changes"),
      build)
}
