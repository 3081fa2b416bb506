package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

final case class RestoreMetrics(
    filesRestored: Long, filesRemoved: Long, version: Long)

/** A file the restore target references was physically reclaimed (vacuum). */
final class RestoreException(msg: String) extends IllegalStateException(msg)

/** RESTORE TABLE ... TO VERSION/TIMESTAMP AS OF — rewind the table's *live
  * state* to a historical snapshot with a single forward commit (no history
  * is rewritten; the restore itself is one more version, so a bad restore is
  * undone by another restore).
  *
  * Protocol-pure diff commit on top of the log layer the reference defines
  * (`load_version`, `rust/src/delta.rs:672-709`): re-`add` the target's files
  * missing from the current snapshot, `remove` the current files absent from
  * the target, and re-commit the target's `metaData` when schema /
  * partitioning / configuration changed in between. Data files are never
  * copied — restore cost is O(#changed files) metadata, independent of table
  * bytes, which is what makes it usable on a 100 TB table.
  *
  * Files to re-add must still exist physically: a vacuum past the target
  * version makes that state unrecoverable ([[RestoreException]], listing the
  * missing files). The existence probe parallelizes on the driver pool —
  * same O(#files) bound as the commit itself.
  */
object Restore {

  def toVersion(spark: SparkSession, path: String, version: Long): RestoreMetrics = {
    val log = DeltaLog.forPath(spark, path)
    val current = log.update()
    if (current.version < 0) throw new NotATableException(path)
    // restore stages no data files — mapped tables are a pure action diff
    // here (physical names are immutable across renames, so re-adding a
    // target-version file under today's metadata is always sound)
    ProtocolSupport.assertWritable(current, allowNameMapping = true)
    if (version == current.version)
      return RestoreMetrics(0, 0, current.version)
    val target = log.snapshotForVersion(version) // throws VersionNotFoundException

    val currentByPath = current.files.map(a => a.path -> a).toMap
    val targetPaths = target.files.map(_.path).toSet
    // re-add when the path is absent OR its Add ENTRY differs — a DV DML
    // re-adds the same path with a new descriptor, and a path-only diff would
    // leave the CURRENT deletion vector in place, silently keeping rows
    // deleted that the target version still had (re-committing an add for
    // an existing path replaces it: last-add-wins)
    val toAdd = target.files.filter(f => !currentByPath.get(f.path).contains(f))
    val toRemove = current.files.filterNot(f => targetPaths.contains(f.path))

    val fs = log.tablePath.getFileSystem(spark.sessionState.newHadoopConf())
    // both the data files AND any deletion-vector file the target's adds
    // point at must still exist (either may have been vacuumed)
    val probePaths = toAdd.map(_.path) ++
      toAdd.flatMap(StandardDv.descriptor)
        .filter(d => d.storageType == "u" || d.storageType == "p")
        .map { d =>
          // "u" resolves table-relative; "p" is an absolute URI that
          // new Path(tableRoot, child) passes through untouched — both
          // must still exist or the restored scan dies at read time
          if (d.storageType == "p") d.absolutePath(log.tablePath).toString
          else {
            val abs = d.absolutePath(log.tablePath).toUri.getPath
            abs.stripPrefix(log.tablePath.toUri.getPath.stripSuffix("/"))
              .stripPrefix("/")
          }
        }.distinct
    val missing = GraftWriter.inDriverPool(probePaths)(p =>
      if (fs.exists(new Path(log.tablePath, p))) None else Some(p)).flatten
    if (missing.nonEmpty)
      throw new RestoreException(
        s"cannot restore $path to version $version: ${missing.size} data " +
        s"file(s) were vacuumed, e.g. ${missing.take(3).mkString(", ")}")

    val cdcActions = stageRestoreCdc(spark, log, current, target,
      toAdd, toRemove, currentByPath)

    val now = System.currentTimeMillis()
    val txn = log.startTransaction(current)
    if (ColumnMapping.isMapped(current)) txn.permitNameMappedCommit()
    (current.metadata, target.metadata) match {
      case (Some(cur), Some(tgt))
          if cur.schemaString != tgt.schemaString ||
             cur.partitionColumns != tgt.partitionColumns ||
             cur.configuration != tgt.configuration =>
        // identity high-water marks live in the schemaString's field
        // metadata and MUST NOT rewind: values issued after the restore
        // point stay reachable (time travel, restore-forward), so a
        // rewound mark would re-issue them. Keep the FURTHEST mark per
        // column (step-direction aware).
        txn.addAction(tgt.copy(schemaString =
          mergedIdentityMarks(cur.schemaString, tgt.schemaString)))
      case _ => ()
    }
    // domain metadata restores with the rest of the state: re-commit domains
    // the target had (changed or since-removed), tombstone ones added since.
    // delta.rowTracking is CARVED OUT — its high-water mark is monotonic
    // table history, not restorable state: rewinding or removing it would
    // re-issue row ids already assigned to reachable versions.
    target.domainMetadata.foreach { case (d, cfg) =>
      if (d != RowTracking.Domain &&
          !current.domainMetadata.get(d).contains(cfg))
        txn.addAction(DomainMetadataAction(d, cfg))
    }
    current.domainMetadata.keys
      .filterNot(target.domainMetadata.contains)
      .filterNot(_ == RowTracking.Domain)
      .foreach(d => txn.addAction(DomainMetadataAction(d, "", removed = true)))
    toAdd.foreach(a => txn.addAction(a.copy(dataChange = true)))
    toRemove.foreach(f => txn.addAction(RemoveAction(
      path = f.path, deletionTimestamp = now, dataChange = true,
      extendedFileMetadata = Some(true),
      partitionValues = Some(f.partitionValues), size = Some(f.size))))
    // the restore abandons the CURRENT entries it repoints or removes; any
    // DV file only they referenced becomes unreachable and is tombstoned
    // for vacuum (the same bookkeeping DML/OPTIMIZE/MERGE do). Files the
    // restored target adds point at are excluded: they are live again after
    // this commit, and a tombstone-honoring cleaner would otherwise reclaim
    // them and resurrect their deleted rows after retention.
    val toAddPaths = toAdd.map(_.path).toSet
    val replacedCurrent =
      current.files.filter(f => toAddPaths.contains(f.path)) ++ toRemove
    val targetDvFiles = toAdd.flatMap(DeletionVectors.dvFileRel).toSet
    txn.addActions(DeletionVectors
      .supersededDvTombstones(current, replacedCurrent, now)
      .filterNot(t => targetDvFiles.contains(t.path)))
    txn.addActions(cdcActions)

    val info = ActionCodec.mapper.createObjectNode()
    info.put("timestamp", now)
    info.put("operation", "RESTORE")
    val params = info.putObject("operationParameters")
    params.put("version", version)
    val v =
      try txn.commit(Some(CommitInfoAction(info)))
      catch {
        case e: Throwable =>
          ChangeDataFeed.discardStaged(spark, log, cdcActions)
          throw e
      }
    log.maybeCheckpoint(v)
    RestoreMetrics(toAdd.size, toRemove.size, v)
  }

  /** The target schemaString with each identity column's high-water mark
    * advanced to the FURTHEST of (current, target) — marks only ever
    * advance (see [[IdentityColumns]]). */
  private def mergedIdentityMarks(currentSchema: String,
                                  targetSchema: String): String = {
    val curMarks = IdentityColumns.of(DeltaSchema.fromJson(currentSchema))
      .flatMap(i => i.highWaterMark.map(i.name -> (i.step, _))).toMap
    if (curMarks.isEmpty) return targetSchema
    val tgt = DeltaSchema.fromJson(targetSchema)
    val merged = org.apache.spark.sql.types.StructType(tgt.fields.map { f =>
      curMarks.get(f.name) match {
        case Some((step, curMark)) =>
          val tgtMark = IdentityColumns.of(
            org.apache.spark.sql.types.StructType(Seq(f)))
            .headOption.flatMap(_.highWaterMark)
          val keep = tgtMark match {
            case Some(t) => if (step > 0) math.max(t, curMark) else math.min(t, curMark)
            case None => curMark
          }
          f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putLong(IdentityColumns.HighWaterMarkKey, keep).build())
        case None => f
      }
    })
    DeltaSchema.toJson(merged)
  }

  /** Change capture for a restore commit (only when
    * `delta.enableChangeDataFeed=true` and the schema is unchanged across
    * the restore — a cross-schema restore stays uncaptured and the feed
    * fails LOUDLY for that version rather than emitting mis-shaped rows):
    *
    *  - files only in the target → their live rows as `insert` images;
    *  - files only in the current state → their live rows as `delete`;
    *  - same-path entries whose DV POINTER changed → position-level diffs:
    *    positions deleted now but not at the target are `insert`
    *    (resurrected), positions deleted at the target but not now are
    *    `delete`. File-level granularity elsewhere matches the TRUNCATE
    *    feed semantics; a consumer folding ±1 per image lands on the
    *    restored state exactly. */
  private def stageRestoreCdc(spark: SparkSession, log: DeltaLog,
                              current: Snapshot, target: Snapshot,
                              toAdd: Seq[AddAction], toRemove: Seq[AddAction],
                              currentByPath: Map[String, AddAction]): Seq[CdcAction] = {
    import org.apache.spark.sql.functions.{col, lit}
    if (!ChangeDataFeed.enabled(current)) return Nil
    // STRUCTURAL schema comparison: raw schemaStrings embed evolving
    // field metadata (identity high-water marks advance on every insert),
    // which would silently disable restore CDC — and then readChanges
    // fails loudly on the capture-less rewrite commit
    def shape(s: Snapshot) = scala.util.Try(s.schema).toOption
      .map(_.fields.map(f => (f.name, DeltaSchema.structural(f.dataType))).toSeq)
    if (shape(current) != shape(target)) return Nil
    if (toAdd.isEmpty && toRemove.isEmpty) return Nil
    // mapped tables: change files are at-rest files — capture PHYSICAL
    // columns (the scan serves them physical); the feed aliases back
    val cols =
      (if (ColumnMapping.isMapped(target))
         ColumnMapping.readSchema(spark, target)
       else target.schema).fieldNames.map(n => col(DeltaSchema.quoted(n))).toSeq
    val ct = ChangeDataFeed.ChangeType

    val newFiles = toAdd.filterNot(a => currentByPath.contains(a.path))
    val repointed = toAdd.filter(a => currentByPath.contains(a.path))

    val images = scala.collection.mutable.Buffer[org.apache.spark.sql.DataFrame]()
    if (newFiles.nonEmpty)
      images += DeletionVectors.scanWithPos(spark, log, target, newFiles)
        .select(cols: _*).withColumn(ct, lit("insert"))
    if (toRemove.nonEmpty)
      images += DeletionVectors.scanWithPos(spark, log, current, toRemove)
        .select(cols: _*).withColumn(ct, lit("delete"))
    if (repointed.nonEmpty) {
      import DeletionVectors.{PathCol, PosCol}
      val currentAdds = repointed.map(a => currentByPath(a.path))
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], DeletionVectors.dvSchema)
      val curDv = DeletionVectors.dvDf(spark, log, currentAdds).getOrElse(empty)
      val tgtDv = DeletionVectors.dvDf(spark, log, repointed).getOrElse(empty)
      // full physical rows of the repointed files (no DV applied)
      val raw = DeletionVectors.scanWithPos(spark, log, target,
        repointed.map(_.copy(deletionVector = None)))
      def rowsAt(pos: org.apache.spark.sql.DataFrame) =
        raw.join(pos, raw(PathCol) === pos("path") && raw(PosCol) === pos("pos"),
            "left_semi")
          .select(cols: _*)
      val resurrected = curDv.exceptAll(tgtDv) // deleted now, live at target
      val newlyDeleted = tgtDv.exceptAll(curDv) // live now, deleted at target
      images += rowsAt(resurrected).withColumn(ct, lit("insert"))
      images += rowsAt(newlyDeleted).withColumn(ct, lit("delete"))
    }
    ChangeDataFeed.stage(spark, log, images.reduce(_ unionByName _))
  }

  def toTimestamp(spark: SparkSession, path: String, tsMillis: Long): RestoreMetrics = {
    val log = DeltaLog.forPath(spark, path)
    toVersion(spark, path, log.versionForTimestamp(tsMillis))
  }
}
