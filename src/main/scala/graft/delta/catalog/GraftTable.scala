package graft.delta.catalog

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsDynamicOverwrite, SupportsOverwrite, SupportsTruncate, V1Write, WriteBuilder}
import org.apache.spark.sql.sources.{AlwaysTrue, EqualTo, Filter, InsertableRelation}
import org.apache.spark.sql.types.StructType

import graft.delta.{DeltaLog, GraftDeltaInserts}

/** DataSource-V2 `Table` for a graft-delta location — the resolution-time
  * handle [[GraftCatalog]] hands the analyzer (the `DeltaTableV2` role).
  *
  * Reads: advertises NO read capability; [[graft.delta.GraftV2Fallback]]
  * converts every `DataSourceV2Relation` over this table into the optimized
  * V1 scan ([[graft.delta.GraftFileIndex]]: partition pruning, stats
  * skipping, whole-stage-codegen parquet), so the engine never grows a
  * second scan implementation. `options` carries the path plus any reader
  * options (versionAsOf / timestampAsOf) the conversion must honor.
  *
  * Writes: accepts the v2 planner's `AppendData` / `OverwriteByExpression` /
  * `OverwritePartitionsDynamic` (INSERT INTO / INSERT OVERWRITE [PARTITION]
  * / CTAS) through the `V1_BATCH_WRITE` funnel — the `V1Write` hands the
  * materialized query to [[GraftDeltaInserts.commitInsert]]: stage parquet,
  * ONE transactional remove+add commit, identical semantics to the V1
  * `INSERT` path. */
class GraftTable(
    val location: String,
    tableSchema: StructType,
    val partitionColumns: Seq[String],
    val options: Map[String, String]) extends Table with SupportsWrite
  with org.apache.spark.sql.connector.catalog.TruncatableTable {

  /** SQL `TRUNCATE TABLE`: one commit removing every live file — schema,
    * partitioning and history stay (time travel to pre-truncate works). */
  override def truncateTable(): Boolean = {
    val spark = SparkSession.active
    val log = DeltaLog.forPath(spark, location)
    val snap = log.update()
    if (snap.version < 0) throw new IllegalStateException(
      s"no graft-delta table at $location")
    val txn = log.startTransaction(snap)
    // remove-only commit: nothing stages, mapped tables are safe
    if (graft.delta.ColumnMapping.isMapped(snap)) txn.permitNameMappedCommit()
    val now = System.currentTimeMillis()
    snap.files.foreach(f => txn.addAction(graft.delta.RemoveAction(
      path = f.path, deletionTimestamp = now, dataChange = true,
      extendedFileMetadata = Some(true),
      partitionValues = Some(f.partitionValues), size = Some(f.size))))
    // DV files the truncated files pointed at tombstone HERE, like every
    // other abandoning path, so vacuum reclaims them after retention
    txn.addActions(graft.delta.DeletionVectors.supersededDvTombstones(
      snap, snap.files, now))
    val info = graft.delta.ActionCodec.mapper.createObjectNode()
    info.put("timestamp", now)
    info.put("operation", "TRUNCATE")
    val version = txn.commit(Some(graft.delta.CommitInfoAction(info)))
    log.maybeCheckpoint(version)
    true
  }

  override def name(): String = s"graft-delta.`$location`"

  override def schema(): StructType = tableSchema

  override def partitioning(): Array[Transform] =
    partitionColumns.map(Expressions.identity).toArray

  override def properties(): util.Map[String, String] = {
    val base = Map("provider" -> "graft-delta", "location" -> location)
    val config = try {
      val snap = DeltaLog.forPath(SparkSession.active, location).update()
      if (snap.version >= 0) graft.delta.TableConfig.of(snap) else Map.empty[String, String]
    } catch { case scala.util.control.NonFatal(_) => Map.empty[String, String] }
    (base ++ config).asJava
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate with SupportsOverwrite
      with SupportsDynamicOverwrite {
      private var overwriteAll = false
      private var staticParts: Map[String, String] = Map.empty
      private var dynamic = false

      override def truncate(): WriteBuilder = { overwriteAll = true; this }

      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        if (filters.isEmpty || filters.forall(_.isInstanceOf[AlwaysTrue]))
          overwriteAll = true
        else staticParts = filters.toSeq.map {
          // static PARTITION (p=…) specs arrive as partition-column
          // equalities (null-safe since Spark folds the literal); source
          // filters carry EXTERNAL values, so String.valueOf matches the
          // writer's Hive partition rendering for every supported type
          case EqualTo(attr, value) if partitionColumns.contains(attr) =>
            attr -> String.valueOf(value)
          case org.apache.spark.sql.sources.EqualNullSafe(attr, value)
              if partitionColumns.contains(attr) && value != null =>
            attr -> String.valueOf(value)
          case other => throw new UnsupportedOperationException(
            s"graft-delta overwrite supports whole-table or partition " +
              s"equality scoping, got filter $other")
        }.toMap
        this
      }

      override def overwriteDynamicPartitions(): WriteBuilder = { dynamic = true; this }

      override def build(): V1Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              val session = data.sparkSession
              val log = DeltaLog.forPath(session, location)
              val snap = log.update()
              if (snap.version < 0) throw new IllegalStateException(
                s"no graft-delta table at $location (create it first)")
              // v2 write planning aligns the query positionally to the
              // table schema; restore the table's column names and order
              val ordered = data.toDF(snap.schema.fieldNames.toSeq: _*)
              GraftDeltaInserts.commitInsert(session, log, ordered,
                overwrite = overwriteAll || overwrite || staticParts.nonEmpty || dynamic,
                staticPartitions = staticParts,
                dynamicMode = dynamic)
            }
          }
      }
    }
}
