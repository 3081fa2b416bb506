package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deletion vectors: merge-on-read DELETE/UPDATE.
  *
  * Copy-on-write DML (see [[Dml]]) rewrites every file that contains one
  * matching row — at 100 TB a point delete can rewrite gigabytes to remove
  * kilobytes. With deletion vectors the matched row POSITIONS are written to
  * a small side file and the data file is re-committed unchanged with a
  * pointer to it; scans subtract the positions at read time. This is the
  * scale path for selective deletes; compaction ([[Optimize]]) later folds
  * the vectors back into rewritten files.
  *
  * The reference (delta-rs v0.4.1) predates deletion vectors entirely. The
  * one format graft reads and writes is the Delta protocol's standard one
  * ([[StandardDv]]): each Add carries an `add.deletionVector` descriptor
  * whose RoaringBitmap holds the file's COMPLETE deleted-position set
  * (re-deletes union the old positions in), so a scan needs only the newest
  * Add's descriptor. Enabling the table property lifts the protocol to
  * (3, 7) with the `deletionVectors` feature on both lists, so foreign
  * readers either apply the vectors or refuse the table.
  *
  * Read integration is one plan rewrite ([[ApplyDeletionVectors]]): any
  * `LogicalRelation` over a [[GraftFileIndex]] whose files carry DVs gains a
  * left-anti join against the DV rows on
  * `(_metadata.file_path suffix, _metadata.row_index)`. Filters still reach
  * the parquet scan (the rewrite runs at resolution time, before optimizer
  * pushdown), and file-level pruning is untouched — per-file min/max remain
  * valid BOUNDS when rows are deleted, so stats skipping stays sound, while
  * exact stats answers are fenced off in [[TableStatistics]].
  */
object DeletionVectors {

  /** Columns appended by [[scanWithPos]]. */
  val PathCol = "__graft_row_file"
  val PosCol = "__graft_row_pos"

  /** Marks a LogicalRelation whose DV filtering is already applied (or
    * deliberately bypassed), so [[ApplyDeletionVectors]] leaves it alone. */
  private[delta] val AppliedTag = TreeNodeTag[Boolean]("graft.dvApplied")

  val dvSchema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("pos", LongType, nullable = false)))

  /** Deleted-position count for logical row accounting. */
  def cardinality(a: AddAction): Long =
    StandardDv.descriptor(a).map(_.cardinality).getOrElse(0L)

  def hasDv(a: AddAction): Boolean = a.deletionVector.isDefined
  def anyDv(files: Seq[AddAction]): Boolean = files.exists(hasDv)

  /** Exact LOGICAL row count of `files` from footer stats (numRecords
    * minus DV'd positions), or None when any file lacks stats — the
    * scan-free "before" count DML metrics and MERGE's multi-match
    * arithmetic both rest on. */
  def logicalRowCount(files: Seq[AddAction]): Option[Long] = {
    val counts = files.map(a => a.stats.flatMap(ActionCodec.statsFromJson)
      .map(_.numRecords - cardinality(a)))
    if (counts.forall(_.isDefined)) Some(counts.flatten.sum) else None
  }

  /** `<table-dir-abs-path>/` — the prefix located inside
    * `_metadata.file_path` to cut out the table-relative file path. RAW
    * (percent-encoded) URI path, because `_metadata.file_path` is the
    * percent-encoded `Path.toUri.toString`: a decoded prefix never matches
    * inside the encoded string once the table path carries a space or
    * non-ASCII char, and `substring_index` would then yield the FULL URI —
    * so the DV anti-join subtracts nothing and deleted rows silently
    * resurface. The encoded suffix then percent-DECODES ([[relPathCol]])
    * so every downstream comparison — DV row paths, action paths,
    * vacuum/rewrite bookkeeping — lives in decoded action-path space. */
  private[delta] def tableDirPrefix(log: DeltaLog): String =
    log.tablePath.toUri.getRawPath.stripSuffix("/") + "/"

  /** The table-relative DECODED path of the scanned file — the one
    * expression every `_metadata.file_path` extraction must use. */
  private[delta] def relPathCol(log: DeltaLog,
                                filePath: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    relPathFromPrefix(tableDirPrefix(log), filePath)

  /** Seam of [[relPathCol]]: for a table at a bucket/volume ROOT the raw
    * path degenerates to "/" — `substring_index(p, "/", -1)` would then
    * cut at the LAST slash and return only the file NAME, so partitioned
    * root tables matched no add path and DV subtraction / DML provenance
    * silently missed everything (r11 review). Strip `scheme://authority/`
    * instead: the remaining path IS table-relative there. */
  private[delta] def relPathFromPrefix(
      prefix: String,
      filePath: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.UriPathDecode(
      if (prefix == "/")
        regexp_replace(filePath, "^[a-zA-Z][a-zA-Z0-9+.\\-]*:/{0,2}[^/]*/", "")
      else substring_index(filePath, prefix, -1))

  /** Tombstones for every DV file that the `replaced` files pointed at and
    * no OTHER live file still references. Emitted by the commits that
    * supersede or fold away DV pointers (DV re-deletes, OPTIMIZE, CoW
    * rewrites, MERGE, TRUNCATE, RESTORE), so [[DeltaTable.vacuum]] reclaims
    * the files after retention. `dataChange=false`: the row-level change is
    * carried by the file-level actions of the same commit; the DV tombstone
    * is housekeeping and must commute like compaction does. */
  def supersededDvTombstones(snap: Snapshot, replaced: Seq[AddAction],
                             now: Long): Seq[RemoveAction] = {
    val old = replaced.flatMap(dvFileRel).toSet
    if (old.isEmpty) return Nil
    val replacedPaths = replaced.map(_.path).toSet
    val stillReferenced = snap.files.iterator
      .filterNot(a => replacedPaths.contains(a.path))
      .flatMap(dvFileRel).toSet
    (old -- stillReferenced).toSeq.sorted.map(p => RemoveAction(
      path = p, deletionTimestamp = now, dataChange = false,
      extendedFileMetadata = Some(false)))
  }

  /** Table-relative path of the packed DV file an Add references ('u'
    * storage only — inline carries no file, 'p' is foreign-absolute and
    * never graft-reclaimed). 'u' names are table-relative by construction,
    * so resolving against the root yields the relative path without knowing
    * the table location. */
  private[delta] def dvFileRel(a: AddAction): Option[String] =
    StandardDv.descriptor(a).filter(_.storageType == "u").map(
      _.absolutePath(new Path("/")).toUri.getPath.stripPrefix("/"))

  /** (path, pos) rows of the deletion vectors on `files`, or None when no
    * file carries one. The descriptor list is metadata-scale on the driver;
    * bitmap decode — ranged file reads, inline Z85 — runs on EXECUTORS, one
    * task per slice of files, so a 10⁵-file DV table never materializes
    * position lists driver-side. */
  def dvDf(spark: SparkSession, log: DeltaLog,
           files: Seq[AddAction]): Option[DataFrame] = {
    val withDv = files.filter(hasDv)
    if (withDv.isEmpty) return None
    val serConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val tableDir = log.tablePath.toString
    import spark.implicits._
    val slices = math.max(1, math.min(withDv.size,
      spark.sparkContext.defaultParallelism))
    val ds = spark.createDataset(withDv.map(a => (a.path, a.deletionVector.get)))
      .repartition(slices)
    Some(ds.flatMap { case (path, descJson) =>
      val desc = StandardDv.parse(descJson)
      StandardDv.readPositions(serConf.value, new Path(tableDir), desc)
        .map(pos => (path, pos))
    }.toDF("path", "pos"))
  }

  /** Scan `files` with existing DVs applied AND per-row provenance exposed:
    * output = table columns ++ (PathCol: table-relative file path,
    * PosCol: row index). This is the substrate DV-writing DML reads — the
    * positions it selects are exactly the coordinates a future scan's
    * anti-join will subtract. `extraDataCols`: additional PHYSICAL parquet
    * columns to read beyond the table schema (row tracking's materialized
    * id columns live in the files but not in the schema); files lacking one
    * serve nulls. */
  def scanWithPos(spark: SparkSession, log: DeltaLog, snap: Snapshot,
                  files: Seq[AddAction],
                  extraDataCols: Seq[StructField] = Nil): DataFrame = {
    val index = new GraftFileIndex(spark, log, snap, Some(files))
    val rel = HadoopFsRelation(index, index.partitionSchema,
      StructType(index.dataSchema.fields ++ extraDataCols),
      None, new ParquetFileFormat(), Map.empty)(spark)
    val wm = LogicalRelation(rel).withMetadataColumns()
    wm.setTagValue(AppliedTag, true)
    val df = org.apache.spark.sql.graftbridge.ColumnBridge.ofRows(spark, wm)
    val withCols = df
      .withColumn(PathCol, relPathCol(log, col("_metadata.file_path")))
      .withColumn(PosCol, col("_metadata.row_index"))
    val filtered = dvDf(spark, log, files) match {
      case Some(dv) =>
        withCols.join(dv,
          withCols(PathCol) === dv("path") && withCols(PosCol) === dv("pos"),
          "left_anti")
      case None => withCols
    }
    // the index exposes the PHYSICAL schema on a name-mapped table — the
    // output keeps those at-rest names (callers stage protocol-correct
    // change files from them)
    val outNames =
      if (ColumnMapping.isMapped(snap))
        ColumnMapping.physicalSchema(snap.schema).fieldNames
      else snap.schema.fieldNames
    filtered.select(
      (outNames.map(n => col(DeltaSchema.quoted(n))).toSeq
        ++ extraDataCols.map(f => col(s"`${f.name}`"))
        :+ col(PathCol) :+ col(PosCol)): _*)
  }

  /** DataFrame-level DV filter for internal scans that build their own
    * relation (DML rewrite subsets, OPTIMIZE) — `df` must be the direct
    * scan of `files` with the table's columns; returns it with deleted rows
    * subtracted. The relation inside `df` should be tagged [[AppliedTag]]
    * by the caller when the session runs [[ApplyDeletionVectors]]. */
  def filterDeleted(spark: SparkSession, log: DeltaLog,
                    files: Seq[AddAction], df: DataFrame): DataFrame =
    dvDf(spark, log, files) match {
      case None => df
      case Some(dv) =>
        // bind _metadata to df's side explicitly — the DV frame is itself a
        // parquet read and exposes its own _metadata (ambiguous otherwise)
        val meta = df.metadataColumn("_metadata")
        val f = relPathCol(log, meta.getField("file_path"))
        df.join(dv, f === dv("path") && meta.getField("row_index") === dv("pos"),
            "left_anti")
          .select(df.columns.map(n => col(DeltaSchema.quoted(n))).toSeq: _*)
    }
}

/** Resolution rule: rewrite every read of a DV-carrying graft scan into the
  * anti-join described on [[DeletionVectors]]. Runs during analysis so the
  * optimizer afterwards pushes data filters through the join's left side
  * into the parquet scan as usual. Write-target relations (INSERT INTO)
  * are skipped — their round-trip through [[GraftDeltaInserts]] must see
  * the raw relation. */
final class ApplyDeletionVectors(session: SparkSession) extends Rule[LogicalPlan] {
  import DeletionVectors._

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val writeTargets = plan.collect {
      case i: org.apache.spark.sql.catalyst.plans.logical.InsertIntoStatement => i.table
      case w: org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand => w.table
    }
    plan.resolveOperatorsDown {
      case lr @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _)
          if fs.location.isInstanceOf[GraftFileIndex] &&
             lr.getTagValue(AppliedTag).isEmpty &&
             !writeTargets.exists(_ eq lr) =>
        val index = fs.location.asInstanceOf[GraftFileIndex]
        val files = index.statsFiles
        if (!anyDv(files)) {
          // cheap common case: tag so repeat fixpoint visits skip the scan
          lr.setTagValue(AppliedTag, true)
          lr
        } else rewrite(lr, index, files)
    }
  }

  private def rewrite(lr: LogicalRelation, index: GraftFileIndex,
                      files: Seq[AddAction]): LogicalPlan = {
    val wm = lr.withMetadataColumns()
    wm.setTagValue(AppliedTag, true)
    val df = org.apache.spark.sql.graftbridge.ColumnBridge.ofRows(session, wm)
    val dv = dvDf(session, index.log, files).get
    val joined = df.join(dv,
      relPathCol(index.log, col("_metadata.file_path")) === dv("path") &&
        col("_metadata.row_index") === dv("pos"),
      "left_anti")
    Project(lr.output, joined.queryExecution.analyzed)
  }
}
