package graft.delta

import com.fasterxml.jackson.databind.JsonNode
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** User-facing Delta table at a pinned snapshot.
  *
  * Mirrors `DeltaTable` (`rust/src/delta.rs:389-404`) plus the scan role the
  * reference delegates to DataFusion/PyArrow
  * (`rust/src/delta_datafusion.rs:48-111`, `python/deltalake/table.py:193-266`):
  * here the host engine is Spark, so the scan is a `DataFrame` over the
  * snapshot's active files with the log-declared schema — Catalyst then owns
  * projection pruning, predicate pushdown, and distribution.
  */
final class DeltaTable private[delta] (val log: DeltaLog, val snapshot: Snapshot) {

  def spark: SparkSession = log.spark
  def version: Long = snapshot.version
  def schema: StructType = snapshot.schema
  def partitionColumns: Seq[String] = snapshot.partitionColumns

  /** Relative paths of active files — `get_files` (`rust/src/delta.rs:805`). */
  def files: Seq[AddAction] = snapshot.files

  /** Absolute URIs — `get_file_uris` (`rust/src/delta.rs:828`). */
  def fileUris(fs: Seq[AddAction] = snapshot.files): Seq[String] =
    fs.map(a => new Path(log.tablePath, a.path).toString)

  /** Scan the table through a [[GraftFileIndex]]: the snapshot's file
    * inventory is exposed to Catalyst, so partition filters and simple data
    * predicates written as plain `df.filter(...)` prune files at plan time
    * (no pre-filtered path lists), with column pruning + parquet row-group
    * skipping below for free. */
  def toDF: DataFrame = toDF(Nil, Nil)

  def toDF(partitionFilters: Seq[PartitionFilter]): DataFrame =
    toDF(partitionFilters, Nil)

  /** Scan with additional explicit pre-pruning (the reference's API shape:
    * partition filters against `Add.partitionValues`,
    * `rust/src/delta.rs:733-766`; data predicates against per-file stats,
    * `rust/src/delta_datafusion.rs:60-97`). Catalyst-pushed filters prune
    * further inside [[GraftFileIndex.listFiles]]. */
  def toDF(partitionFilters: Seq[PartitionFilter],
           dataPredicates: Seq[StatsPredicate]): DataFrame = {
    val afterPartition = PartitionFilter.prune(snapshot.files, partitionFilters)
    val selected = StatsPredicate.prune(afterPartition, dataPredicates)
    scanWithIndex(new GraftFileIndex(spark, log, snapshot, Some(selected)))
  }

  /** Scan an EXPLICIT file subset of this snapshot — for callers that
    * pre-prune with heterogeneous per-partition predicates (e.g. the dedup
    * index's per-band probe: each band's key set prunes only its own
    * partition's files, then ONE scan covers the union instead of a
    * partition-count-wide plan union). The caller owns the claim that the
    * dropped files hold no needed rows. */
  private[graft] def toDFWithFiles(selected: Seq[AddAction]): DataFrame =
    scanWithIndex(new GraftFileIndex(spark, log, snapshot, Some(selected)))

  /** The live index of the most recent scan (observability/tests). */
  @volatile private var lastIndexVar: Option[GraftFileIndex] = None
  def lastFileIndex: Option[GraftFileIndex] = lastIndexVar

  private def scanWithIndex(index: GraftFileIndex): DataFrame = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    import org.apache.spark.sql.functions.col
    lastIndexVar = Some(index)
    val relation = HadoopFsRelation(
      location = index,
      partitionSchema = index.partitionSchema,
      dataSchema = index.dataSchema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat(),
      options = Map.empty)(spark)
    // Attach log-derived catalog statistics (exact rowCount under
    // CBO/planStats) — see [[RelationStats]].
    val lr = LogicalRelation(
      relation, RelationStats.catalogTable(log, snapshot, relation.schema))
    // Deletion vectors are subtracted HERE (not only via the session
    // extension rule) so a plain-session `toDF` is always correct; the tag
    // tells [[ApplyDeletionVectors]] this scan is already handled.
    val files = index.statsFiles
    val base =
      if (!DeletionVectors.anyDv(files)) {
        lr.setTagValue(DeletionVectors.AppliedTag, true)
        org.apache.spark.sql.graftbridge.ColumnBridge.ofRows(spark, lr)
      } else {
        val wm = lr.withMetadataColumns()
        wm.setTagValue(DeletionVectors.AppliedTag, true)
        DeletionVectors.filterDeleted(spark, log, files,
          org.apache.spark.sql.graftbridge.ColumnBridge.ofRows(spark, wm))
      }
    // HadoopFsRelation appends partition columns after data columns;
    // project back to the table's declared column order. On a column-mapped
    // table the relation's attributes are PHYSICAL — this projection is the
    // single physical→logical conversion point (nested field renames ride a
    // same-shape struct cast; SimplifyCasts erases it for primitives).
    if (ColumnMapping.isMapped(snapshot))
      base.select(snapshot.schema.fields.map { f =>
        val phys = ColumnMapping.physicalFieldName(f)
        base.col(s"`$phys`").cast(f.dataType).as(f.name)
      }.toSeq: _*)
    else
      base.select(schema.fieldNames.map(n => col(DeltaSchema.quoted(n))): _*)
  }

  /** Table-level statistics merged from per-file stats (D4). */
  def statistics: TableStatistics = snapshot.statistics

  /** Commit provenance, newest last — read from the commit files on demand
    * (O(#commits) only when ASKED for history), not accumulated in snapshot
    * state (which would be O(#commits) driver weight on EVERY load, and
    * silently truncated after a checkpoint restore — checkpoints don't
    * carry commitInfo actions). Reads fan out on the driver pool: 10⁴
    * sequential FS round trips would make history calls painfully slow on
    * object stores. Scoped to the table's OWN snapshot version — a
    * version-pinned time-travel table must not report provenance for
    * commits after its pin (r7 ADVICE). */
  def history: Seq[JsonNode] =
    GraftWriter.inDriverPool(
      log.listCommitVersions().filter(_ <= snapshot.version))(v =>
      log.readCommit(v).collectFirst { case c: CommitInfoAction => c.info })
      .flatten

  /** Row-level Change Data Feed over `(startVersion, endVersion]` — table
    * columns + `_change_type` + `_commit_version`. Requires the DML commits
    * in range to have been made with `delta.enableChangeDataFeed=true`.
    * SQL twin: `graft_table_changes('/path', start[, end])`. */
  def changes(startVersion: Long, endVersion: Long): org.apache.spark.sql.DataFrame =
    ChangeDataFeed.readChanges(log.spark, log, startVersion, endVersion)

  /** The table's logical columns plus each row's resolved row-tracking
    * identity as `_row_id` / `_row_commit_version`: `coalesce(materialized
    * column, baseRowId + row_index)` and `coalesce(materialized,
    * defaultRowCommitVersion)` per the Delta spec. Requires the
    * `rowTracking` feature (ids are meaningless otherwise). */
  def withRowIds: DataFrame = {
    require(RowTracking.enabled(snapshot),
      s"${log.tablePath} does not declare the rowTracking feature")
    RowTracking.scanWithRowIds(log.spark, log, snapshot)
  }

  /** Delete expired tombstoned files — `vacuum` (`rust/src/delta.rs:920-969`).
    *
    * The retention floor — and the default when `retentionHours` is omitted
    * (NaN) — is the table's `delta.deletedFileRetentionDuration` (168 h when
    * unset, the reference's fixed floor, `rust/src/delta.rs:881-884`); an
    * explicit retention below the floor is rejected. Expiry cutoff per
    * `get_stale_files` (:881-898); hidden files/dirs (`.`/`_` prefix except
    * `_delta_index`, `_change_data`, and `k=v` partition dirs) are never
    * candidates (:904-916). Returns the (relative) deleted — or with
    * `dryRun` the would-be deleted — paths, sorted.
    */
  def vacuum(retentionHours: Double = Double.NaN, dryRun: Boolean = false): Seq[String] =
    vacuum(retentionHours, dryRun, parallelDeleteThreshold = 1000)

  /** As [[vacuum]]; above `parallelDeleteThreshold` candidates the deletes
    * run as a Spark job (`foreachPartition`) instead of a driver loop — at
    * 10⁶ expired files a sequential driver delete is hours of FS round
    * trips. */
  def vacuum(retentionHours: Double, dryRun: Boolean,
             parallelDeleteThreshold: Int): Seq[String] = {
    // vacuum judges liveness against the LATEST version, never a pinned
    // or stale snapshot: a concurrent RESTORE can re-add a long-tombstoned
    // file, and a stale view would physically delete a file the current
    // table references (r9 review).
    val snap = log.update()
    // the vacuumProtocolCheck feature's whole contract: vacuum must fence
    // on the table's WRITER protocol before touching files (so future
    // features can change what is reclaimable without legacy vacuums
    // irreversibly corrupting them). A reader fence is not enough: an
    // unknown writer feature may redefine which files are live even when
    // the rows read fine. Name mapping is tolerated — vacuum stages no
    // data and mapping does not change file liveness.
    ProtocolSupport.assertWritable(snap, allowNameMapping = true)
    val floorHours =
      TableConfig.deletedFileRetentionMillis(TableConfig.of(snap)) / 3600e3
    val effectiveHours = if (retentionHours.isNaN) floorHours else retentionHours
    if (effectiveHours < floorHours)
      throw new IllegalArgumentException(
        s"invalid vacuum retention period $effectiveHours h: minimum is " +
        s"$floorHours h (${TableConfig.DeletedFileRetention})")
    val cutoff = System.currentTimeMillis() - (effectiveHours * 3600 * 1000).toLong
    val expired = snap.tombstones
      .filter(_.deletionTimestamp < cutoff).map(_.path).toSet
    val active = snap.files.map(_.path).toSet

    def isHidden(rel: String): Boolean =
      rel.split('/').exists { seg =>
        (seg.startsWith(".") || seg.startsWith("_")) &&
          seg != "_delta_index" && seg != "_change_data" && !seg.contains("=")
      }

    val fs = log.tablePath.getFileSystem(spark.sessionState.newHadoopConf())
    val base = log.tablePath.toUri.getPath.stripSuffix("/")
    // DV files (deletion_vector_<uuid>.bin) are walked like data files and
    // may be shared by several Adds (one packed file per DML task); any
    // live descriptor reference shields the file even when another writer
    // tombstoned its own reference to it
    // "u" resolves table-relative; an absolute "p" descriptor can ALSO
    // land inside this table's directory (foreign self-references) — both
    // shield their file (r9 review)
    val liveStdDvFiles = snap.files
      .flatMap(StandardDv.descriptor)
      .filter(d => d.storageType == "u" || d.storageType == "p")
      .map(_.absolutePath(log.tablePath).toUri.getPath
        .stripPrefix(base).stripPrefix("/"))
      .toSet
    // a standard DV file name, at any prefix depth
    def isStdDvFile(rel: String): Boolean =
      rel.substring(rel.lastIndexOf('/') + 1)
        .matches("deletion_vector_[-0-9a-f]{36}\\.bin")
    // the file WALK, not just the deletes, is a vacuum bottleneck: above a
    // file-count threshold the per-directory recursive listing fans out to
    // executors (object-store round trips), and BOTH paths walk via
    // listStatus — Hadoop's recursive `listFiles` iterator resolves block
    // locations per entry, ~4 ms/file even on a local FS (measured: 4k
    // files = 17 s listFiles vs 0.1 s listStatus walk). Hidden dirs
    // (except the carve-outs) prune early — any rel beneath them is hidden
    // by the same segment rule the candidate filter applies.
    val listed: Seq[(String, Long)] = {
      val threshold = spark.conf
        .getOption(DeltaTable.DistributedVacuumListKey)
        .map(_.toInt).getOrElse(100000)
      val root = fs.listStatus(log.tablePath).toSeq
      val rootFiles = root.filter(_.isFile).map(st =>
        (st.getPath.getName, st.getModificationTime))
      val dirs = root.filter(_.isDirectory).map(_.getPath.getName)
        .filterNot(n => n == "_delta_log" || DeltaTable.hiddenSegment(n))
      val walked =
        if (dirs.isEmpty) Nil
        else if (snap.files.size + snap.tombstones.size < threshold) {
          DeltaTable.driverVacuumWalks.incrementAndGet()
          dirs.flatMap(d => DeltaTable.walkVisible(fs, log.tablePath, d))
        } else {
          val baseUri = log.tablePath.toString
          val serConf = new org.apache.spark.util.SerializableConfiguration(
            spark.sessionState.newHadoopConf())
          spark.sparkContext
            .parallelize(dirs, math.max(1, math.min(64, dirs.size)))
            .flatMap { relDir =>
              val basePath = new Path(baseUri)
              DeltaTable.walkVisible(
                basePath.getFileSystem(serConf.value), basePath, relDir)
            }.collect().toSeq
        }
      rootFiles ++ walked
    }
    // tombstoned paths are governed by their deletionTimestamp alone: a
    // file REMOVED recently (tombstone young) must survive even when its
    // creation mtime is ancient — time travel within retention reads it
    val tombstoned = snap.tombstones.map(_.path).toSet
    // the untracked-mtime rule (delta-spark's) applies only to PLAIN data
    // paths — the _change_data / _delta_index carve-outs are visible to
    // the walk but exempt from reclaim by contract
    def plainPath(rel: String): Boolean =
      !rel.split('/').exists(seg =>
        (seg.startsWith(".") || seg.startsWith("_")) && !seg.contains("="))
    val candidates = Seq.newBuilder[String]
    listed.foreach { case (rel, mtime) =>
      // foreign writers do not tombstone superseded DV files (graft does,
      // supersededDvTombstones), and a lost DML commit can leave a task
      // retry's DV file behind; reclaim ORPHANS — unreferenced and
      // last-modified before the cutoff — by mtime, the delta-spark rule
      val dvOrphan = isStdDvFile(rel) && !liveStdDvFiles.contains(rel) &&
        mtime < cutoff
      // untracked data files: no live add, no tombstone (either never
      // committed — a crashed writer's leak — or its tombstone was expired
      // out of a checkpoint, r11), older than the retention cutoff
      val untracked = plainPath(rel) && !isStdDvFile(rel) &&
        !tombstoned.contains(rel) && mtime < cutoff
      if (!rel.startsWith("_delta_log") && !isHidden(rel) &&
          !active.contains(rel) &&
          ((expired.contains(rel) && !liveStdDvFiles.contains(rel)) || dvOrphan ||
            untracked))
        candidates += rel
    }
    val result = candidates.result().sorted
    if (!dryRun) {
      if (result.size > parallelDeleteThreshold) {
        val baseUri = log.tablePath.toString
        val serConf = new org.apache.spark.util.SerializableConfiguration(
          spark.sessionState.newHadoopConf())
        spark.sparkContext
          .parallelize(result, math.max(1, math.min(64, result.size / 100)))
          .foreachPartition { (it: Iterator[String]) =>
            val basePath = new Path(baseUri)
            val pfs = basePath.getFileSystem(serConf.value)
            it.foreach(rel => pfs.delete(new Path(basePath, rel), false))
          }
      } else {
        result.foreach(rel => fs.delete(new Path(log.tablePath, rel), false))
      }
    }
    result
  }

  /** Rewind the table's live state to `version` with one forward commit —
    * see [[Restore]]. */
  def restoreToVersion(version: Long): RestoreMetrics =
    Restore.toVersion(spark, log.tablePath.toString, version)

  /** As [[restoreToVersion]], targeting the newest version committed at or
    * before `tsMillis`. */
  def restoreToTimestamp(tsMillis: Long): RestoreMetrics =
    Restore.toTimestamp(spark, log.tablePath.toString, tsMillis)

  /** Commit updated table properties (`metaData.configuration`) — the knob
    * behind [[TableConfig]]'s behaviors (append-only, checkpoint cadence,
    * retention windows). `delta.*` keys are validated up front; other keys
    * pass through as user metadata. Returns the committed version. */
  def setProperties(props: Map[String, String]): Long =
    setPropertiesImpl(props, allowCoordinatorKey = false)

  /** `allowCoordinatorKey`: ONLY [[enableCoordinatedCommits]] may set the
    * coordinated-commits keys — routing them through bare setProperties
    * would start a coordinated era WITHOUT registering the table at the
    * coordinator and WITHOUT tombstoning a previous disablement's adoption
    * mark, so a later filesystem writer holding the stale mark would skip
    * the staged-adoption scan the era depends on and fork acked history
    * (r13 third review pass). The conf keys are fenced too (r13 advice):
    * clobbering tableConf/coordinatorConf on a live coordinated table
    * breaks getCommits routing — the same forged-engine-state class.
    * Same fence shape as ColumnMapping.ModeKey. */
  private def setPropertiesImpl(props: Map[String, String],
                                allowCoordinatorKey: Boolean): Long = {
    // `delta.feature.<name>=supported` entries are protocol DDL (the
    // delta-spark feature-enable idiom): they lift the protocol to
    // table-features form and are NOT persisted in configuration
    val (featProps, cfgProps) =
      props.partition(_._1.startsWith(ProtocolSupport.FeaturePropPrefix))
    TableConfig.validate(cfgProps)
    if (!allowCoordinatorKey) {
      CoordinatedCommits.ReservedKeys.find(cfgProps.contains).foreach { k =>
        throw new IllegalArgumentException(
          s"$k cannot be set directly: use enableCoordinatedCommits(name) — " +
          "it registers the table with the coordinator, persists the " +
          "coordinator/table confs the registration returned, and retires " +
          "any previous disablement's adoption mark in the required order")
      }
    }
    val snap = log.update()
    // mode flips route to the real upgrade (field ids + physical names +
    // protocol floor) — a bare config change would flip scans to physical
    // names no file carries
    val curMode = ColumnMapping.mode(TableConfig.of(snap))
    cfgProps.get(ColumnMapping.ModeKey).filterNot(_.trim == curMode).foreach { m =>
      if (curMode == "none" && m.trim == "name") {
        require(props.size == 1,
          s"set ${ColumnMapping.ModeKey} in its own call: the upgrade " +
          "rewrites the schema's field metadata, not just configuration")
        return ColumnMappingDdl.enableNameMapping(spark, log.tablePath.toString)
      }
      throw new UnsupportedProtocolException(
        s"unsupported Delta table: cannot change column mapping mode " +
        s"'$curMode' to '$m' (only none → name upgrades exist)")
    }
    // property commits stage no data files, so mapped tables are safe here
    ProtocolSupport.assertWritable(snap, allowNameMapping = true)
    val md = snap.metadata.getOrElse(
      throw new IllegalStateException(s"table ${log.tablePath} has no metadata"))
    val txn = log.startTransaction(snap)
    if (ColumnMapping.isMapped(snap)) txn.permitNameMappedCommit()
    if (cfgProps.nonEmpty)
      txn.addAction(md.copy(configuration = md.configuration ++ cfgProps))
    // Protocol fences FOLD into one action — one call may flip several
    // gated properties at once (DV + v2 checkpoints + ICT), and two
    // protocol lines in a commit would last-write-wins drop a feature
    // (ProtocolSupport.configFences). Explicit feature declarations fold
    // FIRST, so e.g. `delta.feature.deletionVectors` + the enable property
    // in one call yields the standard features shape, not the legacy bump.
    val protoBase = ProtocolAction(snap.minReaderVersion,
      snap.minWriterVersion, snap.readerFeatures, snap.writerFeatures)
    val fenced = ProtocolSupport.configFences(md.configuration ++ cfgProps,
      ProtocolSupport.featureFences(featProps, protoBase))
    if (fenced != protoBase) txn.addAction(fenced)
    val info = ActionCodec.mapper.createObjectNode()
    info.put("timestamp", System.currentTimeMillis())
    info.put("operation", "SET TBLPROPERTIES")
    val params = info.putObject("operationParameters")
    params.put("properties",
      props.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(","))
    txn.commit(Some(CommitInfoAction(info)))
  }

  /** Remove table properties by key (no-op keys ignored). */
  def unsetProperties(keys: Seq[String]): Long = {
    val snap = log.update()
    if (snap.version < 0) throw new NotATableException(log.tablePath.toString)
    // unsetting a LIVE coordinated-commits key here would end the era
    // WITHOUT the force-backfill and adoption mark
    // disableCoordinatedCommits provides — stranding the staged tail for
    // every later fs writer. Absent keys stay no-ops per this method's
    // contract (r14 review — the fence must not break idempotent cleanup
    // scripts on never-coordinated tables).
    val live = snap.metadata.map(_.configuration).getOrElse(Map.empty)
    keys.find(k => CoordinatedCommits.ReservedKeys.contains(k) &&
        live.contains(k)).foreach { k =>
      throw new IllegalArgumentException(
        s"$k cannot be unset directly: use disableCoordinatedCommits() — " +
        "it force-backfills the staged tail and writes the adoption mark " +
        "in the same commit")
    }
    // same write-protocol fence as every other commit path — an unset must
    // not be a side door into tables whose writer features graft does not
    // maintain (r9 review)
    ProtocolSupport.assertWritable(snap, allowNameMapping = true)
    if (ColumnMapping.isMapped(snap) &&
        keys.exists(k => k == ColumnMapping.ModeKey ||
          k == ColumnMappingDdl.MaxColumnIdKey))
      throw new UnsupportedProtocolException(
        "unsupported Delta table: unsetting the column-mapping properties " +
        "of a mapped table would flip every scan to logical names no file " +
        "carries")
    val md = snap.metadata.getOrElse(
      throw new IllegalStateException(s"table ${log.tablePath} has no metadata"))
    val txn = log.startTransaction(snap)
    if (ColumnMapping.isMapped(snap)) txn.permitNameMappedCommit()
    txn.addAction(md.copy(configuration = md.configuration -- keys))
    val info = ActionCodec.mapper.createObjectNode()
    info.put("timestamp", System.currentTimeMillis())
    info.put("operation", "UNSET TBLPROPERTIES")
    info.putObject("operationParameters").put("properties", keys.sorted.mkString(","))
    txn.commit(Some(CommitInfoAction(info)))
  }

  /** Route all future commits through a registered commit coordinator
    * ([[CoordinatedCommits]], delta-spark's `coordinatedCommits-preview`
    * feature): registers the table with the coordinator, persists the
    * coordinator name + confs, and lifts the protocol to writer 7 with
    * the feature declared — in ONE filesystem-routed enablement commit.
    * The coordinator is re-seeded at the exact landed version afterwards,
    * so its arbitration starts precisely where rename arbitration ended
    * (an fs writer racing the enablement aborts on the metadata-change
    * conflict rule, so no rename-routed commit can follow it). */
  def enableCoordinatedCommits(coordinatorName: String,
                               coordinatorConf: Map[String, String] = Map.empty): Long = {
    val client = CommitCoordinatorProvider.lookup(coordinatorName).getOrElse(
      throw new IllegalArgumentException(
        s"no commit coordinator registered under '$coordinatorName' " +
        "(CommitCoordinatorProvider.register)"))
    val snap = log.update()
    if (snap.version < 0) throw new NotATableException(log.tablePath.toString)
    // Refuse a coordinator SWITCH (delta-spark forbids it too): routing the
    // property change through the OLD coordinator without a forced backfill
    // would strand its un-backfilled staged tail — readers bound to the new
    // coordinator would never see those acked commits and the classic log
    // would keep a gap nothing backfills. disableCoordinatedCommits first
    // (it force-backfills), then enable the new coordinator.
    val currentCfg = snap.metadata.map(_.configuration).getOrElse(Map.empty)
    CoordinatedCommits.coordinatorNameOf(currentCfg).foreach { existing =>
      if (existing != coordinatorName)
        throw new IllegalStateException(
          s"table is already coordinated by '$existing'; switching " +
          s"coordinators directly (to '$coordinatorName') would strand its " +
          "un-backfilled staged tail — call disableCoordinatedCommits() " +
          "(which force-backfills) first, then re-enable")
    }
    // tombstone a previous disablement's adoption mark BEFORE the era
    // starts (remove-first is the crash-safe order: a mark must never be
    // live while a coordinated era is — a filesystem writer would skip the
    // adoption scan the era's staged tail depends on). The extra commit
    // only happens on RE-enablement after a marked disablement.
    if (CoordinatedCommits.hasAdoptionMark(snap))
      removeDomainMetadataInternal(CoordinatedCommits.AdoptionDomain)
    val seedSnap = log.update()
    val tableConf = client.registerTable(log.logPath.toString, seedSnap.version)
    val v = setPropertiesImpl(Map(
      CoordinatedCommits.CoordinatorNameKey -> coordinatorName,
      CoordinatedCommits.CoordinatorConfKey -> CoordinatedCommits.toJson(coordinatorConf),
      CoordinatedCommits.TableConfKey -> CoordinatedCommits.toJson(tableConf)),
      allowCoordinatorKey = true)
    client.registerTable(log.logPath.toString, v)
    v
  }

  /** Return the table to filesystem-arbitrated commits. The disablement
    * commit itself routes through the coordinator and force-backfills the
    * whole staged tail ([[OptimisticTransaction]]), so the log is classic
    * and complete before the first rename-routed commit after it.
    *
    * The same commit writes the [[CoordinatedCommits.AdoptionDomain]] mark:
    * once it is READABLE in a not-coordinated snapshot, future filesystem
    * writers skip the per-commit `_commits/` adoption LIST (r12 verdict #3
    * — a once-coordinated table previously paid that LIST forever). The
    * mark rides IN the disablement commit (not after it) so version
    * numbering is unchanged and the mark can never exist without the
    * disablement: classic readability of this commit implies, by the
    * ascending-backfill prefix property, that every earlier acked commit
    * is classic too. */
  def disableCoordinatedCommits(): Long = {
    val keys = CoordinatedCommits.ReservedKeys.toSeq.sorted
    val snap = log.update()
    if (snap.version < 0) throw new NotATableException(log.tablePath.toString)
    val md = snap.metadata.getOrElse(
      throw new IllegalStateException(s"table ${log.tablePath} has no metadata"))
    val wasCoordinated = CoordinatedCommits.isCoordinated(md.configuration)
    val txn = log.startTransaction(snap)
    if (ColumnMapping.isMapped(snap)) txn.permitNameMappedCommit()
    txn.addAction(md.copy(configuration = md.configuration -- keys))
    if (wasCoordinated) {
      ProtocolSupport.writerFeatureFence(snap, "domainMetadata")
        .foreach(txn.addAction)
      txn.addAction(DomainMetadataAction(CoordinatedCommits.AdoptionDomain,
        CoordinatedCommits.adoptionMarkJson(snap.version)))
    }
    val info = ActionCodec.mapper.createObjectNode()
    info.put("timestamp", System.currentTimeMillis())
    info.put("operation", "UNSET TBLPROPERTIES")
    info.putObject("operationParameters").put("properties", keys.sorted.mkString(","))
    txn.commit(Some(CommitInfoAction(info)))
  }

  /** Live metadata domains (domain → configuration), latest-writer-wins
    * per domain (Delta `domainMetadata`; see [[DomainMetadataAction]]). */
  def domainMetadata: Map[String, String] = snapshot.domainMetadata

  /** Write one metadata domain. The first domain write lifts the protocol
    * to writer 7 with the `domainMetadata` feature declared (legacy-implied
    * features carried along). Concurrent writes to the SAME domain
    * conflict; different domains commute. `delta.*` domains are
    * SYSTEM-controlled (deleting `delta.rowTracking` would reset the row-id
    * mark and collide identities — found by the modern-tier fuzz) and
    * refuse here; the dedicated APIs (clusterBy, enableRowTracking) own
    * them. */
  def setDomainMetadata(domain: String, configuration: String): Long = {
    require(domain.nonEmpty, "domain name must be non-empty")
    assertUserDomain(domain)
    domainCommit(domain, DomainMetadataAction(domain, configuration),
      "SET DOMAIN METADATA")
  }

  /** Delete one metadata domain (loud on an absent domain — a silent no-op
    * would mask a caller racing its own removal). */
  def removeDomainMetadata(domain: String): Long = {
    assertUserDomain(domain)
    removeDomainMetadataInternal(domain)
  }

  private def assertUserDomain(domain: String): Unit = {
    val lower = domain.toLowerCase(java.util.Locale.ROOT)
    require(!lower.startsWith("delta."),
      s"metadata domain '$domain' is system-controlled (delta.*): use the " +
      "dedicated API (clusterBy for delta.clustering, " +
      "delta.enableRowTracking for delta.rowTracking)")
    // graft.* domains carry engine state too (the coordinated-commits
    // adoption mark) — a forged mark would let writers skip the staged
    // adoption scan and fork acked history
    require(!lower.startsWith("graft."),
      s"metadata domain '$domain' is system-controlled (graft.*)")
  }

  private[delta] def removeDomainMetadataInternal(domain: String): Long =
    domainCommit(domain, DomainMetadataAction(domain, "", removed = true),
      "REMOVE DOMAIN METADATA",
      precheck = s => require(s.domainMetadata.contains(domain),
        s"table ${log.tablePath} has no metadata domain '$domain'"))

  private def domainCommit(domain: String, action: DomainMetadataAction,
                           operation: String,
                           precheck: Snapshot => Unit = _ => ()): Long = {
    val snap = log.update()
    if (snap.version < 0) throw new NotATableException(log.tablePath.toString)
    // the precheck runs against THIS refresh (one refresh, not two): a
    // removal's existence guarantee must hold on the snapshot the commit
    // is actually based on, or two racing removals both pass (r9 review)
    precheck(snap)
    // domain commits stage no data files — mapped tables are safe
    ProtocolSupport.assertWritable(snap, allowNameMapping = true)
    val txn = log.startTransaction(snap)
    if (ColumnMapping.isMapped(snap)) txn.permitNameMappedCommit()
    ProtocolSupport.writerFeatureFence(snap, "domainMetadata").foreach(txn.addAction)
    txn.addAction(action)
    val info = ActionCodec.mapper.createObjectNode()
    info.put("timestamp", System.currentTimeMillis())
    info.put("operation", operation)
    info.putObject("operationParameters").put("domain", domain)
    val v = txn.commit(Some(CommitInfoAction(info)))
    log.maybeCheckpoint(v)
    v
  }

  /** The `delta.clustering` metadata domain (delta-spark's liquid-
    * clustering shape: `{"clusteringColumns":[["a"],["b","c"]]}` — each
    * inner array a nested-field path). */
  val ClusteringDomain = "delta.clustering"

  /** Declared clustering columns (dotted for nested paths); empty when
    * the table is not clustered. */
  def clusteringColumns: Seq[String] = DeltaTable.clusteringColumnsOf(snapshot)

  /** Declare (or change) the table's clustering columns — the liquid-
    * clustering authoring commit: writes the `delta.clustering` domain in
    * delta-spark's shape and declares the `clustering` + `domainMetadata`
    * writer features. Declaration is metadata-only; layout follows on the
    * next [[Optimize.cluster]] (clustering is best-effort by design —
    * appends need not cluster). */
  def clusterBy(cols: Seq[String]): Long = {
    require(cols.nonEmpty, "clusterBy needs at least one column")
    val snap = log.update()
    if (snap.version < 0) throw new NotATableException(log.tablePath.toString)
    val unknown = cols.filterNot(c => snap.schema.fieldNames.contains(c.split('.').head))
    require(unknown.isEmpty, s"unknown clustering column(s): ${unknown.mkString(",")}")
    val partitioned = cols.filter(snap.partitionColumns.contains)
    require(partitioned.isEmpty,
      s"partition column(s) ${partitioned.mkString(",")} cannot also cluster")
    ProtocolSupport.assertWritable(snap, allowNameMapping = true)
    val txn = log.startTransaction(snap)
    if (ColumnMapping.isMapped(snap)) txn.permitNameMappedCommit()
    // one folded protocol action for both features
    val protoBase = ProtocolAction(snap.minReaderVersion, snap.minWriterVersion,
      snap.readerFeatures, snap.writerFeatures)
    val fenced = ProtocolSupport.writerFeaturesFence(protoBase,
      Seq("domainMetadata", "clustering"))
    if (fenced != protoBase) txn.addAction(fenced)
    val cfg = ActionCodec.mapper.createObjectNode()
    val arr = cfg.putArray("clusteringColumns")
    cols.foreach { c =>
      val p = arr.addArray()
      c.split('.').foreach(p.add)
    }
    txn.addAction(DomainMetadataAction(ClusteringDomain,
      ActionCodec.mapper.writeValueAsString(cfg)))
    val info = ActionCodec.mapper.createObjectNode()
    info.put("timestamp", System.currentTimeMillis())
    info.put("operation", "CLUSTER BY")
    info.putObject("operationParameters").put("clusterBy", cols.mkString(","))
    val v = txn.commit(Some(CommitInfoAction(info)))
    log.maybeCheckpoint(v)
    v
  }

  /** Declared identity columns with their current high-water marks. */
  def identityColumns: Seq[IdentityColumns.Info] =
    IdentityColumns.of(snapshot.schema)

  /** `ALTER TABLE … SYNC IDENTITY`: advance each identity column's
    * high-water mark over the values actually present (explicit inserts on
    * BY DEFAULT columns bypass the mark). One distributed min/max scan —
    * DV-aware through the normal table read. Marks only ever advance.
    * Returns the committed version (unchanged marks commit nothing). */
  def syncIdentity(): Long = {
    import org.apache.spark.sql.functions.{col, max, min}
    val snap = log.update()
    val ids = IdentityColumns.of(snap.schema)
    require(ids.nonEmpty, s"table ${log.tablePath} has no identity columns")
    ProtocolSupport.assertWritable(snap, allowNameMapping = true)
    val row = new DeltaTable(log, snap).toDF
      .agg(
        (if (ids.head.step > 0) max(col(ids.head.name)) else min(col(ids.head.name))),
        ids.tail.map(i =>
          if (i.step > 0) max(col(i.name)) else min(col(i.name))): _*)
      .head()
    val marks: Map[String, Long] = ids.zipWithIndex.flatMap { case (i, idx) =>
      if (row.isNullAt(idx)) None
      else {
        val observed = row.getLong(idx)
        val beyond = i.highWaterMark.forall(m =>
          if (i.step > 0) observed > m else observed < m)
        if (beyond) Some(i.name -> observed) else None
      }
    }.toMap
    if (marks.isEmpty) return snap.version
    val md = snap.metadata.get
    val updated = org.apache.spark.sql.types.StructType(snap.schema.fields.map { f =>
      marks.get(f.name) match {
        case Some(m) => f.copy(metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putLong(IdentityColumns.HighWaterMarkKey, m).build())
        case None => f
      }
    })
    val txn = log.startTransaction(snap)
    if (ColumnMapping.isMapped(snap)) txn.permitNameMappedCommit()
    txn.addAction(md.copy(schemaString = DeltaSchema.toJson(updated)))
    val info = ActionCodec.mapper.createObjectNode()
    info.put("timestamp", System.currentTimeMillis())
    info.put("operation", "SYNC IDENTITY")
    txn.commit(Some(CommitInfoAction(info)))
  }

  /** Declare a CHECK constraint (see [[Constraints]]). Existing rows are
    * validated first — one distributed scan — so the declaration is
    * trustworthy from the moment it commits (ALTER TABLE ADD CONSTRAINT
    * semantics). */
  def addCheckConstraint(name: String, sqlExpr: String): Long = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit}
    // validate against the LATEST snapshot, never this handle's pinned one
    // — rows committed after the pin would otherwise dodge validation and
    // the table would declare a constraint its own rows violate. (A row
    // landing between this scan and the metadata commit remains the
    // optimistic-concurrency window every engine shares here.)
    val fresh = new DeltaTable(log, log.update())
    val violations = fresh.toDF
      .filter(coalesce(expr(sqlExpr).cast("boolean"), lit(true)) === false).count()
    if (violations > 0) throw new IllegalStateException(
      s"cannot add CHECK constraint $name ($sqlExpr): " +
      s"$violations existing row(s) violate it")
    setProperties(Map(Constraints.Prefix + name -> sqlExpr))
  }

  /** Drop a CHECK constraint by name. */
  def dropCheckConstraint(name: String): Long =
    unsetProperties(Seq(Constraints.Prefix + name))

  /** Upgrade to `delta.columnMapping.mode = name` — the one-commit flip
    * that makes [[renameColumn]]/[[dropColumn]] metadata-only
    * ([[ColumnMappingDdl.enableNameMapping]]). */
  def enableColumnMapping(): Long =
    ColumnMappingDdl.enableNameMapping(spark, log.tablePath.toString)

  /** RENAME COLUMN (requires column mapping; `from` may be a dotted path
    * into structs). Metadata-only — no data file is touched. */
  def renameColumn(from: String, to: String): Long =
    ColumnMappingDdl.renameColumn(spark, log.tablePath.toString, from, to)

  /** DROP COLUMN (requires column mapping). Metadata-only. */
  def dropColumn(colName: String): Long =
    ColumnMappingDdl.dropColumn(spark, log.tablePath.toString, colName)
}

object DeltaTable {

  /** Snapshot file-count threshold above which vacuum's candidate walk
    * fans out to executors (see [[DeltaTable.vacuum]]). */
  val DistributedVacuumListKey = "spark.graft.vacuum.distributedListThreshold"

  /** Counts driver-side recursive vacuum walks — lets specs assert the
    * distributed listing path engaged (same pattern as
    * [[Checkpoints.driverReads]]). */
  private[graft] val driverVacuumWalks = new java.util.concurrent.atomic.AtomicLong

  /** Vacuum's hidden-directory rule, applied to one path segment. */
  private[delta] def hiddenSegment(name: String): Boolean =
    (name.startsWith(".") || name.startsWith("_")) &&
      name != "_delta_index" && name != "_change_data" && !name.contains("=")

  /** Recursive listStatus walk of `relDir` under `basePath`, pruning
    * hidden directories; returns (table-relative path, mtime) per file.
    * Runs on the driver OR inside an executor task (static, no captures). */
  private[delta] def walkVisible(fs: org.apache.hadoop.fs.FileSystem,
                                 basePath: Path,
                                 relDir: String): Seq[(String, Long)] = {
    val basePrefix = basePath.toUri.getPath.stripSuffix("/")
    val out = scala.collection.mutable.Buffer[(String, Long)]()
    val stack = scala.collection.mutable.Stack(new Path(basePath, relDir))
    while (stack.nonEmpty) {
      fs.listStatus(stack.pop()).foreach { st =>
        if (st.isDirectory) {
          if (!hiddenSegment(st.getPath.getName)) stack.push(st.getPath)
        } else out += ((st.getPath.toUri.getPath
          .stripPrefix(basePrefix).stripPrefix("/"), st.getModificationTime))
      }
    }
    out.toSeq
  }

  /** Declared clustering columns of a snapshot (the `delta.clustering`
    * domain, delta-spark's shape); empty when the table is not clustered. */
  def clusteringColumnsOf(snap: Snapshot): Seq[String] =
    snap.domainMetadata.get("delta.clustering").toSeq.flatMap { cfg =>
      try {
        import scala.jdk.CollectionConverters._
        Option(ActionCodec.mapper.readTree(cfg).get("clusteringColumns"))
          .filterNot(_.isNull).toSeq.flatMap(_.elements().asScala.map(p =>
            p.elements().asScala.map(_.asText).mkString(".")))
      } catch { case _: Exception => Nil }
    }

  /** `open_table` (`rust/src/delta.rs:1453-1459`): latest version. */
  def forPath(spark: SparkSession, path: String): DeltaTable = {
    val log = DeltaLog.forPath(spark, path)
    val snap = log.update()
    if (snap.version < 0) throw new NotATableException(path)
    new DeltaTable(log, snap)
  }

  /** A handle over `snap`, a snapshot the caller already read from the
    * shared log handle of `path` — saves the latest-version listing
    * [[forPath]] would repeat. */
  private[graft] def forSnapshot(spark: SparkSession, path: String,
                                 snap: Snapshot): DeltaTable =
    new DeltaTable(DeltaLog.forPath(spark, path), snap)

  /** [[forPath]] on a fresh, never-shared log handle — for callers that
    * deliberately exercise the cold-load/checkpoint-restore path (see
    * [[DeltaLog.forPathUncached]]). */
  def forPathUncached(spark: SparkSession, path: String): DeltaTable = {
    val log = DeltaLog.forPathUncached(spark, path)
    val snap = log.update()
    if (snap.version < 0) throw new NotATableException(path)
    new DeltaTable(log, snap)
  }

  /** `open_table_with_version` (`rust/src/delta.rs:1463-1472`). */
  def forPath(spark: SparkSession, path: String, version: Long): DeltaTable = {
    val log = DeltaLog.forPath(spark, path)
    new DeltaTable(log, log.snapshotForVersion(version))
  }

  /** `open_table_with_ds` (`rust/src/delta.rs:1477-1484`): version active at
    * a point in time, via binary search on commit timestamps. */
  def forPathAsOf(spark: SparkSession, path: String, timestampMillis: Long): DeltaTable = {
    val log = DeltaLog.forPath(spark, path)
    new DeltaTable(log, log.snapshotForTimestamp(timestampMillis))
  }

  def isDeltaTable(spark: SparkSession, path: String): Boolean =
    DeltaLog.forPath(spark, path).listCommitVersions().nonEmpty
}
