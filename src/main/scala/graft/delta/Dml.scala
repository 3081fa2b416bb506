package graft.delta

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

final case class DmlMetrics(filesRewritten: Long, rowsAffected: Long, version: Long)

/** Copy-on-write DML: DELETE and UPDATE by predicate.
  *
  * Beyond the reference (delta-rs v0.4.1 is read/append/overwrite only), but
  * protocol-pure: both operations are remove+add commits over exactly the
  * files that contain affected rows.
  *
  * Scale shape:
  *  1. affected-file detection is a distributed scan with the predicate
  *     pushed down (`input_file_name()` over the pruned FileIndex scan —
  *     partition pruning, stats skipping, and parquet row-group skipping
  *     all narrow it before any row is read);
  *  2. only affected files are rewritten (distributed), untouched files'
  *     Add entries are carried over;
  *  3. one optimistic commit. Blind-retry concurrency, like every write
  *     here and in the reference (`rust/src/delta.rs:1306-1322` TODO).
  */
object Dml {

  /** DELETE FROM table WHERE predicate. Rows where the predicate is NULL
    * are kept (SQL semantics). Tables with
    * `delta.enableDeletionVectors=true` take the merge-on-read path
    * ([[deleteWithDv]]); others copy-on-write. The snapshot is replayed
    * ONCE and threaded through — at 10⁶ files a second replay for the
    * mode probe is real driver time. */
  def delete(spark: SparkSession, path: String, predicate: Column): DmlMetrics = {
    val log = DeltaLog.forPath(spark, path)
    val snap = log.update()
    // fence BEFORE any scan/stage work: the copy-on-write rewrite stages
    // under at-rest names on mapped tables (allowNameMapping); anything
    // the rewrite cannot maintain still refuses here
    ProtocolSupport.assertWritable(snap, allowNameMapping = true)
    if (TableConfig.deletionVectorsEnabled(TableConfig.of(snap)))
      deleteWithDv(spark, path, predicate, Some((log, snap)))
    else rewrite(spark, log, snap, predicate, "DELETE", df => df,
      keepMatches = false, rtState = rowTrackingState(snap))
  }

  private def rowTrackingState(snap: Snapshot)
      : Option[(Option[MetaDataAction], (String, String))] =
    RowTracking.rewriteState(snap)

  /** UPDATE table SET assignments WHERE predicate. */
  def update(spark: SparkSession, path: String, predicate: Column,
             assignments: Map[String, Column]): DmlMetrics = {
    val log = DeltaLog.forPath(spark, path)
    val snap = log.update()
    ProtocolSupport.assertWritable(snap, allowNameMapping = true)
    // an UPDATE writes explicit values, which GENERATED ALWAYS forbids —
    // matched CASE-INSENSITIVELY like applyAssignments resolves targets,
    // or `SET ID = …` would slip past a guard checking only `id`
    val frozen = IdentityColumns.of(snap.schema)
      .filterNot(_.allowExplicitInsert).map(_.name)
      .filter(n => assignments.keys.exists(_.equalsIgnoreCase(n)))
    require(frozen.isEmpty, "cannot UPDATE GENERATED ALWAYS identity " +
      s"column(s) ${frozen.mkString(",")}")
    if (TableConfig.deletionVectorsEnabled(TableConfig.of(snap)))
      updateWithDv(spark, path, predicate, assignments, Some((log, snap)))
    else {
      val rtState = rowTrackingState(snap)
      // row tracking: an updated row's commit version becomes THIS
      // commit's — null the materialized version for matched rows (the
      // new file's defaultRowCommitVersion serves it), evaluated against
      // PRE-update values like every other assignment
      val assign2 = rtState match {
        case Some((_, (_, matRcv))) =>
          assignments + (matRcv -> lit(null).cast("long"))
        case None => assignments
      }
      // assignable targets = table schema + the internal matRcv column —
      // NOT the scan frame's columns (which include the hidden row-id
      // column a user must never assign)
      val allowed = snap.schema.fieldNames.toSeq ++
        rtState.map { case (_, (_, matRcv)) => matRcv }.toSeq
      rewrite(spark, log, snap, predicate, "UPDATE",
        df => Constraints.regenerate(
          applyAssignments(predicate, assign2, allowed)(df), snap,
          explicit = assignments.keySet),
        keepMatches = true, rtState = rtState)
    }
  }

  /** Merge-on-read DELETE: write matched row positions as deletion vectors
    * and re-commit the affected files unchanged with new descriptors — no
    * data bytes rewritten. See [[DeletionVectors]] for the read contract.
    *
    * Scale shape: one distributed scan (pruned by the predicate like the
    * copy-on-write path) whose job writes the vectors and returns only the
    * descriptors ([[writeDeletionVectors]]). */
  def deleteWithDv(spark: SparkSession, path: String, predicate: Column,
                   resolved: Option[(DeltaLog, Snapshot)] = None): DmlMetrics = {
    val (log, snap) = resolved.getOrElse {
      val l = DeltaLog.forPath(spark, path); (l, l.update())
    }
    if (snap.version < 0) throw new NotATableException(path)
    ProtocolSupport.assertWritable(snap, allowNameMapping = true)
    if (TableConfig.appendOnly(TableConfig.of(snap)))
      throw new AppendOnlyTableException(path)
    // direct calls must meet the same bar as the delete() router: writing
    // DV descriptors without the property's protocol fence would let a
    // foreign reader (who never saw the deletionVectors feature) resurrect
    // every deleted row
    if (!TableConfig.deletionVectorsEnabled(TableConfig.of(snap)))
      throw new IllegalStateException(
        s"table $path does not enable deletion vectors " +
        s"(${TableConfig.EnableDeletionVectors}) — use Dml.delete, or set " +
        "the property first")
    // (row tracking: DV DELETE is SAFE — file bytes and row ids unchanged,
    // the re-add copies baseRowId/defaultRowCommitVersion through)
    val mapped = ColumnMapping.isMapped(snap)
    def phys(c: String): String =
      if (mapped) ColumnMapping.physicalName(snap.schema, c) else c

    val (affected, dvDir) = writeDeletionVectors(spark, log, snap, predicate)
    if (affected.isEmpty) return DmlMetrics(0, 0, snap.version)
    val rowsDeleted = affected.map(_._3).sum

    // CDF: the DV'd-out rows ARE the delete images — read back through the
    // NEW descriptors, never by re-evaluating the predicate (a second
    // evaluation of a non-deterministic predicate would record images for
    // rows that stayed live and miss rows actually deleted — the same
    // one-evaluation contract updateWithDv keeps)
    val cdcActions =
      if (!ChangeDataFeed.enabled(snap)) Nil
      else discardOnFailure(spark, log, Seq(dvDir)) {
        ChangeDataFeed.stage(spark, log,
          stagedPhysical(snap,
            newlyDeleted(spark, log, snap, affected)
              .select(snap.schema.fieldNames.map(n => col(DeltaSchema.quoted(n))).toSeq: _*)
              .withColumn(ChangeDataFeed.ChangeType, lit("delete")),
            passthrough = Set(ChangeDataFeed.ChangeType)))
      }

    val now = System.currentTimeMillis()
    val txn = log.startTransaction(snap).withReadFilters(
      PartitionFilter.fromCatalyst(
        org.apache.spark.sql.graftbridge.ColumnBridge.catalystExpression(predicate),
        snap.partitionColumns).map(PartitionFilter.mapKey(_, phys)))
    if (mapped) txn.permitNameMappedCommit()
    addDvReAdds(txn, snap, affected, now)
    txn.addActions(cdcActions)
    val info = ActionCodec.mapper.createObjectNode()
    info.put("timestamp", now)
    info.put("operation", "DELETE")
    val params = info.putObject("operationParameters")
    params.put("predicate", predicate.toString)
    params.put("deletionVector", dvDir)
    params.put("numDeletedRows", rowsDeleted)
    val version = commitOrClean(spark, log, txn, Some(CommitInfoAction(info)),
      stagedDirs = Seq(dvDir) ++ cdcActions.map(ChangeDataFeed.writeDir))
    DmlMetrics(affected.size, rowsDeleted, version)
  }

  /** Merge-on-read UPDATE: DV the matched rows out of their files and
    * append the transformed copies as new files — the affected files' bytes
    * are never rewritten, only the matched rows move. */
  def updateWithDv(spark: SparkSession, path: String, predicate: Column,
                   assignments: Map[String, Column],
                   resolved: Option[(DeltaLog, Snapshot)] = None): DmlMetrics = {
    val (log, snap) = resolved.getOrElse {
      val l = DeltaLog.forPath(spark, path); (l, l.update())
    }
    if (snap.version < 0) throw new NotATableException(path)
    ProtocolSupport.assertWritable(snap, allowNameMapping = true)
    if (TableConfig.appendOnly(TableConfig.of(snap)))
      throw new AppendOnlyTableException(path)
    // direct calls meet the router's bar: DV property required (protocol
    // fence), and GENERATED ALWAYS identity columns refuse explicit
    // assignment — matched case-insensitively, like update() does
    if (!TableConfig.deletionVectorsEnabled(TableConfig.of(snap)))
      throw new IllegalStateException(
        s"table $path does not enable deletion vectors " +
        s"(${TableConfig.EnableDeletionVectors}) — use Dml.update, or set " +
        "the property first")
    val frozen = IdentityColumns.of(snap.schema)
      .filterNot(_.allowExplicitInsert).map(_.name)
      .filter(n => assignments.keys.exists(_.equalsIgnoreCase(n)))
    require(frozen.isEmpty, "cannot UPDATE GENERATED ALWAYS identity " +
      s"column(s) ${frozen.mkString(",")}")
    // DV DELETE preserves ids for free (bytes unchanged); DV UPDATE's
    // transformed COPIES materialize each moved row's id. The commit
    // version is NOT materialized — every row in a copy file was modified
    // by this commit, so the file's defaultRowCommitVersion serves it.
    val rtState = rowTrackingState(snap)
    val mapped = ColumnMapping.isMapped(snap)
    def phys(c: String): String =
      if (mapped) ColumnMapping.physicalName(snap.schema, c) else c

    val (affected, dvDir) = writeDeletionVectors(spark, log, snap, predicate)
    if (affected.isEmpty) return DmlMetrics(0, 0, snap.version)

    // matched rows read back FROM the new deletion vectors, so the
    // predicate is evaluated exactly ONCE (inside writeDeletionVectors):
    // re-evaluating it here could diverge on non-deterministic predicates
    // and DV a row out without re-appending its copy — silent loss inside
    // one transaction. Only the AFFECTED files are read. Staging failures
    // after this point (a CHECK violation inside the write job, a CDC
    // error) reclaim the already-written DV files.
    val (newAdds, cdcActions) = discardOnFailure(spark, log, Seq(dvDir)) {
      // moved rows carry their row id (materialized); the commit-version
      // column is deliberately absent from the copy files (see above)
      val outCols = snap.schema.fieldNames.map(n => col(DeltaSchema.quoted(n))).toSeq ++
        rtState.map { case (_, (matId, _)) => col(s"`$matId`") }.toSeq
      val matched = newlyDeleted(spark, log, snap, affected,
        rtNames = rtState.map(_._2)).select(outCols: _*)
      val updated = Constraints.regenerate(
        applyAssignments(lit(true), assignments,
          snap.schema.fieldNames.toSeq)(matched), snap,
        explicit = assignments.keySet)
      val checked = Constraints.enforce(updated, snap)
      val rtPassthrough = rtState.map { case (_, (matId, _)) => Set(matId) }
        .getOrElse(Set.empty[String])
      val partCols = snap.partitionColumns.map(phys)
      val statsIdx = TableConfig.dataSkippingNumIndexedCols(TableConfig.of(snap))
      // CDF: pre-images are the matched rows as scanned, post-images the
      // transformed copies — logical columns only, in the copies' job
      val written =
        if (!ChangeDataFeed.enabled(snap))
          GraftWriter.writeFiles(stagedPhysical(snap, checked, passthrough = rtPassthrough),
            path, partCols, statsIdx)
        else {
          def logical(df: org.apache.spark.sql.DataFrame) =
            df.select(snap.schema.fieldNames.map(n => col(DeltaSchema.quoted(n))).toSeq: _*)
          val (both, dataOnly) = ChangeDataFeed.withImages(checked,
            logical(matched).withColumn(ChangeDataFeed.ChangeType, lit("update_preimage"))
              .unionByName(logical(updated)
                .withColumn(ChangeDataFeed.ChangeType, lit("update_postimage"))))
          GraftWriter.writeFiles(stagedPhysical(snap, both,
              passthrough = dataOnly + ChangeDataFeed.ChangeType),
            path, partCols, statsIdx, Some(dataOnly))
        }
      (written.adds, written.cdc)
    }
    val rowsUpdated = affected.map(_._3).sum

    val now = System.currentTimeMillis()
    val txn = log.startTransaction(snap).withReadFilters(
      PartitionFilter.fromCatalyst(
        org.apache.spark.sql.graftbridge.ColumnBridge.catalystExpression(predicate),
        snap.partitionColumns).map(PartitionFilter.mapKey(_, phys)))
    if (mapped) txn.permitNameMappedCommit()
    addDvReAdds(txn, snap, affected, now)
    txn.addActions(RowTracking.commitRewriteAdds(txn, rtState, snap, newAdds))
    txn.addActions(cdcActions)
    val info = ActionCodec.mapper.createObjectNode()
    info.put("timestamp", now)
    info.put("operation", "UPDATE")
    val params = info.putObject("operationParameters")
    params.put("predicate", predicate.toString)
    params.put("deletionVector", dvDir)
    params.put("numUpdatedRows", rowsUpdated)
    val version = commitOrClean(spark, log, txn, Some(CommitInfoAction(info)),
      stagedDirs = Seq(dvDir) ++ cdcActions.map(ChangeDataFeed.writeDir),
      stagedAdds = newAdds)
    DmlMetrics(affected.size, rowsUpdated, version)
  }

  /** SQL UPDATE semantics: every SET expression AND the WHERE evaluate
    * against the PRE-update row, in ONE select — a sequential
    * `withColumn` fold would let the first assignment rewrite a column the
    * predicate or a later assignment still reads (`SET ts = 20, bucket =
    * ts % 3 WHERE ts = 10` must see ts = 10 throughout). Found by the
    * generated-column enforcement tests. `allowed`: the assignable column
    * names — the TABLE schema plus any internally-added targets, never the
    * frame's raw columns (a rewrite scan carries hidden row-tracking
    * columns a user must not assign). */
  private def applyAssignments(predicate: Column,
                               assignments: Map[String, Column],
                               allowed: Seq[String])
      : org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = df => {
    val matches = coalesce(predicate, lit(false))
    val byName = assignments.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
    val unknown = byName.keySet --
      allowed.map(_.toLowerCase(java.util.Locale.ROOT))
    require(unknown.isEmpty,
      s"update assigns unknown columns: ${unknown.toSeq.sorted.mkString(", ")}")
    df.select(df.columns.toSeq.map { c =>
      byName.get(c.toLowerCase(java.util.Locale.ROOT)) match {
        case Some(v) => when(matches, v).otherwise(df.col(s"`$c`")).as(c)
        case None => df.col(s"`$c`")
      }
    }: _*)
  }

  /** Logical-named frame → the table's at-rest names for staging (footer
    * field ids under mode=id); unmapped tables pass through. */
  private def stagedPhysical(snap: Snapshot, df: org.apache.spark.sql.DataFrame,
                             passthrough: Set[String] = Set.empty) =
    if (ColumnMapping.isMapped(snap))
      ColumnMapping.toPhysical(df, snap.schema,
        attachIds = ColumnMapping.mode(snap) == "id", passthrough = passthrough)
    else df

  /** Commit, or — on ANY commit failure (conflict, abort) — delete the
    * staged DV/CDC directories and staged rewrite files before rethrowing:
    * they are referenced only by the failed commit's actions, never
    * tombstoned, and would otherwise leak until an orphan sweep. */
  private def commitOrClean(spark: SparkSession, log: DeltaLog,
                            txn: OptimisticTransaction, info: Option[CommitInfoAction],
                            stagedDirs: Seq[String],
                            stagedAdds: Seq[AddAction] = Nil): Long =
    try txn.commit(info)
    catch {
      case e: Throwable =>
        discardDirs(spark, log, stagedDirs)
        if (stagedAdds.nonEmpty)
          try GraftWriter.discardStaged(spark, log.tablePath.toString, stagedAdds)
          catch { case _: Exception => () }
        throw e
    }

  /** Best-effort recursive delete of table-relative staged directories. */
  private def discardDirs(spark: SparkSession, log: DeltaLog, dirs: Seq[String]): Unit = {
    val fs = log.tablePath.getFileSystem(spark.sessionState.newHadoopConf())
    dirs.distinct.foreach { rel =>
      try fs.delete(new org.apache.hadoop.fs.Path(log.tablePath, rel), true)
      catch { case _: Exception => () }
    }
  }

  /** `body`, deleting the staged `dirs` when it throws. */
  private def discardOnFailure[A](spark: SparkSession, log: DeltaLog,
                                  dirs: Seq[String])(body: => A): A =
    try body
    catch { case e: Throwable => discardDirs(spark, log, dirs); throw e }

  /** Write the predicate's matched positions as deletion vectors and return
    * (affected Add, its new descriptor JSON, newly deleted count) per file,
    * plus the operation's table-relative DV directory. Empty match ⇒ `Nil`.
    *
    * One distributed job: the predicate scan (existing DVs applied) yields
    * (path, pos) rows, shuffled by file so every row of a file meets in one
    * task; each task unions a file's prior positions — decoded from its
    * current descriptor, which rides a broadcast of the DV-carrying files'
    * descriptors — and packs its files' vectors into ONE DV file
    * ([[StandardDv.writeVectors]]). The driver collects only the
    * descriptors. Every file lands under the per-operation directory, so
    * one recursive delete reclaims a failed or lost operation. */
  private def writeDeletionVectors(spark: SparkSession, log: DeltaLog,
                                   snap: Snapshot, predicate: Column)
      : (Seq[(AddAction, String, Long)], String) = {
    import DeletionVectors.{PathCol, PosCol}
    import spark.implicits._
    val dvDir = s"dv-${java.util.UUID.randomUUID()}"
    val prior = spark.sparkContext.broadcast(snap.files.iterator
      .collect { case a if a.deletionVector.isDefined => a.path -> a.deletionVector.get }
      .toMap)
    val serConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val tableDir = log.tablePath.toString
    discardOnFailure(spark, log, Seq(dvDir)) {
      // a failed job returns once its tasks have ended, so none creates a
      // DV file after the directory's delete
      val written =
        try TaskSettling(spark.sparkContext) {
          // mapped tables: the predicate speaks logical names, the
          // provenance columns survive the alias (logicalScanWithMeta)
          logicalScanWithMeta(spark, log, snap, snap.files)
            .filter(coalesce(predicate, lit(false)))
            .select(col(PathCol), col(PosCol))
            .repartition(col(PathCol))
            .as[(String, Long)]
            .mapPartitions(rows => StandardDv.writeVectors(serConf.value,
              new org.apache.hadoop.fs.Path(tableDir), dvDir, prior.value, rows))
            .collect()
        } finally prior.destroy()
      val byPath = written.map(w => w._1 -> w).toMap
      val affected = snap.files.filter(a => byPath.contains(a.path))
      if (affected.size != written.length)
        throw new IllegalStateException(
          s"deletion-vector write surfaced ${written.length} vectors for " +
          s"${affected.size} table files: " +
          s"${(byPath.keySet -- affected.map(_.path)).take(3).mkString(", ")}")
      (affected.map { a =>
        val (_, desc, newly) = byPath(a.path)
        (a, desc, newly)
      }, dvDir)
    }
  }

  /** The rows `affected` newly deletes, as scanned (the scan applies the
    * OLD vectors; a semi-join against the NEW ones keeps exactly the rows
    * this operation removed), from the affected files only. */
  private def newlyDeleted(spark: SparkSession, log: DeltaLog, snap: Snapshot,
                           affected: Seq[(AddAction, String, Long)],
                           rtNames: Option[(String, String)] = None) = {
    import DeletionVectors.{PathCol, PosCol}
    val scanned = logicalScanWithMeta(spark, log, snap, affected.map(_._1), rtNames)
    val dv = DeletionVectors.dvDf(spark, log, affected.map { case (a, d, _) =>
      a.copy(deletionVector = Some(d)) }).get
    scanned.join(dv,
      scanned(PathCol) === dv("path") && scanned(PosCol) === dv("pos"), "leftsemi")
  }

  /** remove + re-add each affected file with its new descriptor; DV files
    * left unreferenced by the re-point are tombstoned for vacuum. */
  private def addDvReAdds(txn: OptimisticTransaction, snap: Snapshot,
                          affected: Seq[(AddAction, String, Long)],
                          now: Long): Unit = {
    affected.foreach { case (f, desc, _) =>
      txn.addAction(RemoveAction(
        path = f.path, deletionTimestamp = now, dataChange = true,
        extendedFileMetadata = Some(true),
        partitionValues = Some(f.partitionValues), size = Some(f.size)))
      txn.addAction(f.copy(dataChange = true, deletionVector = Some(desc)))
    }
    txn.addActions(DeletionVectors.supersededDvTombstones(
      snap, affected.map(_._1), now))
  }

  private def rewrite(spark: SparkSession, log: DeltaLog, snap: Snapshot,
                      predicate: Column, operation: String,
                      transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                      keepMatches: Boolean,
                      rtState: Option[(Option[MetaDataAction], (String, String))] = None): DmlMetrics = {
    val path = log.tablePath.toString
    if (snap.version < 0) throw new NotATableException(path)
    // fail before staging any rewrite files (the commit-time gate would
    // catch it too, but only after the wasted write)
    if (TableConfig.appendOnly(TableConfig.of(snap)))
      throw new AppendOnlyTableException(path)
    val mapped = ColumnMapping.isMapped(snap)
    def phys(c: String): String =
      if (mapped) ColumnMapping.physicalName(snap.schema, c) else c

    // 1. which files contain matching rows? (predicate pushed into the
    // scan; provenance from the DV-aware scan's path column, since
    // input_file_name() is illegal over a DV anti-join plan). On mapped
    // tables the scan speaks physical names — alias to logical so the
    // caller's predicate resolves, keeping the provenance column.
    val affectedRel = logicalScanWithMeta(spark, log, snap, snap.files)
      .filter(predicate)
      .select(col(DeletionVectors.PathCol)).distinct()
      .collect().map(_.getString(0)).toSet
    val affected = snap.files.filter(a => affectedRel.contains(a.path))
    if (affected.isEmpty) return DmlMetrics(0, 0, snap.version)

    // 2. rewrite only the affected files — ONE pass over them. Metrics ride
    // along instead of re-scanning: DELETE's affected-row count is
    // (before − after) where `before` comes from the snapshot's footer
    // stats and `after` from the written files' footers; UPDATE's matched
    // count is an observed aggregate collected during the write itself.
    // row tracking: the scan carries each surviving row's identity in the
    // materialized columns, which the rewrite stages back out
    val affectedDf = rtState match {
      case Some((_, names)) => scanSubsetWithIdentity(spark, log, snap, affected, names)
      case None => scanSubset(spark, log, snap, affected)
    }
    val beforeFromStats = DeletionVectors.logicalRowCount(affected)
    val metricName = s"graft_dml_${java.util.UUID.randomUUID()}"
    val rewritten =
      if (keepMatches)
        // observe BEFORE the transform: the predicate must see pre-update
        // values (post-transform the assignments may have falsified it)
        transform(affectedDf.observe(metricName,
          coalesce(sum(when(coalesce(predicate, lit(false)), 1L)), lit(0L)).as("matched")))
      else affectedDf.filter(!coalesce(predicate, lit(false)))
    val checked = Constraints.enforce(rewritten, snap)
    // mapped tables: rewritten files stage under at-rest names (and footer
    // field ids under mode=id), exactly like appends; the materialized
    // row-identity columns and the change type pass through (already
    // physical / never mapped)
    def staged(df: org.apache.spark.sql.DataFrame) =
      stagedPhysical(snap, df, passthrough = RowTracking.passthrough(rtState) +
        ChangeDataFeed.ChangeType)
    val physPartCols = snap.partitionColumns.map(phys)
    val statsIdx = TableConfig.dataSkippingNumIndexedCols(TableConfig.of(snap))
    // change-data capture rides the SAME job as the rewrite (only when the
    // table property is on): change images carry the LOGICAL columns only
    // — the hidden row-tracking columns of a rewrite scan stay data-only
    val written =
      if (!ChangeDataFeed.enabled(snap))
        GraftWriter.writeFiles(staged(checked), path, physPartCols, statsIdx)
      else {
        val matchedRows = affectedDf.filter(coalesce(predicate, lit(false)))
        def logicalCt(df: org.apache.spark.sql.DataFrame, ct: String) =
          df.select(snap.schema.fieldNames.map(n => col(DeltaSchema.quoted(n))).toSeq: _*)
            .withColumn(ChangeDataFeed.ChangeType, lit(ct))
        val images =
          if (keepMatches)
            logicalCt(matchedRows, "update_preimage")
              .unionByName(logicalCt(transform(matchedRows), "update_postimage"))
          else logicalCt(matchedRows, "delete")
        val (both, dataOnly) = ChangeDataFeed.withImages(checked, images)
        GraftWriter.writeFiles(staged(both), path, physPartCols, statsIdx, Some(dataOnly))
      }
    val (adds, cdcActions) = (written.adds, written.cdc)
    val afterRows = adds.flatMap(_.stats.flatMap(ActionCodec.statsFromJson))
      .map(_.numRecords).sum
    val rowsAffected =
      if (keepMatches)
        written.observed.get(metricName).map(_.getAs[Long]("matched")).getOrElse(
          // no observation in the executed plan: recompute
          affectedDf.filter(coalesce(predicate, lit(false))).count())
      else beforeFromStats.getOrElse(affectedDf.count()) - afterRows

    // 3. one commit: remove affected, add rewrites. The predicate's
    // partition-column projection becomes the declared read domain, so
    // concurrent adds in disjoint partitions commute instead of aborting us
    // (read-filter keys translate to the at-rest partitionValues space).
    val now = System.currentTimeMillis()
    val txn = log.startTransaction(snap).withReadFilters(
      PartitionFilter.fromCatalyst(
        org.apache.spark.sql.graftbridge.ColumnBridge.catalystExpression(predicate),
        snap.partitionColumns).map(PartitionFilter.mapKey(_, phys)))
    if (mapped) txn.permitNameMappedCommit()
    affected.foreach(f => txn.addAction(RemoveAction(
      path = f.path, deletionTimestamp = now, dataChange = true,
      extendedFileMetadata = Some(true),
      partitionValues = Some(f.partitionValues), size = Some(f.size))))
    txn.addActions(DeletionVectors.supersededDvTombstones(snap, affected, now))
    // row tracking: rewritten files still get fresh base ids (materialized
    // values override them row-by-row; the spec requires every file carry
    // a range), plus the first-materialization metaData when needed
    txn.addActions(RowTracking.commitRewriteAdds(txn, rtState, snap, adds))
    txn.addActions(cdcActions)
    val info = ActionCodec.mapper.createObjectNode()
    info.put("timestamp", now)
    info.put("operation", operation)
    val params = info.putObject("operationParameters")
    params.put("predicate", predicate.toString)
    params.put("numFilesRewritten", affected.size)
    val version = commitOrClean(spark, log, txn, Some(CommitInfoAction(info)),
      stagedDirs = cdcActions.map(ChangeDataFeed.writeDir), stagedAdds = adds)
    DmlMetrics(affected.size, rowsAffected, version)
  }

  /** Scan exactly `files` of the snapshot, in table-schema column order,
    * with any deletion vectors applied (a rewrite that re-materialized DV'd
    * rows would silently resurrect them), serving the table's LOGICAL
    * schema: on a column-mapped table the underlying scan speaks physical
    * names, aliased back here — the same single-conversion-point shape as
    * [[DeltaTable.toDF]]. */
  private[delta] def scanSubset(spark: SparkSession, log: DeltaLog,
                                snap: Snapshot, files: Seq[AddAction]) = {
    val scanned = DeletionVectors.scanWithPos(spark, log, snap, files)
    if (ColumnMapping.isMapped(snap))
      scanned.select(snap.schema.fields.map { f =>
        val phys = ColumnMapping.physicalFieldName(f)
        scanned.col(s"`$phys`").cast(f.dataType).as(f.name)
      }.toSeq: _*)
    else scanned.select(snap.schema.fieldNames.map(n => col(DeltaSchema.quoted(n))).toSeq: _*)
  }

  /** As [[scanSubset]], plus each row's CURRENT row-tracking identity in
    * the table's two materialized columns (resolved `coalesce(materialized,
    * fresh)` — [[RowTracking.resolveCurrentIdentity]]). This is the input
    * shape of every row-moving rewrite on a row-tracking table: staging
    * these columns back out is what keeps identities stable. */
  private[delta] def scanSubsetWithIdentity(spark: SparkSession, log: DeltaLog,
                                            snap: Snapshot, files: Seq[AddAction],
                                            names: (String, String),
                                            keepMeta: Boolean = false) = {
    val scanned = DeletionVectors.scanWithPos(spark, log, snap, files,
      extraDataCols = RowTracking.materializedFields(names))
    val resolved = RowTracking.resolveCurrentIdentity(spark, scanned, files, names)
    val logical =
      if (ColumnMapping.isMapped(snap))
        snap.schema.fields.toSeq.map { f =>
          val p = ColumnMapping.physicalFieldName(f)
          resolved.col(s"`$p`").cast(f.dataType).as(f.name)
        }
      else snap.schema.fieldNames.toSeq.map(c => resolved.col(s"`$c`"))
    val meta =
      if (keepMeta) Seq(resolved.col(DeletionVectors.PathCol),
        resolved.col(DeletionVectors.PosCol))
      else Nil
    resolved.select(logical ++ Seq(
      resolved.col(s"`${names._1}`"), resolved.col(s"`${names._2}`")) ++ meta: _*)
  }

  /** As [[scanSubset]], but KEEPING the scan's provenance metadata
    * ([[DeletionVectors.PathCol]]/[[DeletionVectors.PosCol]]) alongside the
    * logical columns — the shape affected-file detection and DV staging
    * need (caller predicates resolve logically; file/position provenance
    * survives the alias). Unmapped tables pass through unchanged.
    * `rtNames`: also resolve + expose the materialized row-identity
    * columns (row-tracking rewrites). */
  private[delta] def logicalScanWithMeta(spark: SparkSession, log: DeltaLog,
                                         snap: Snapshot, files: Seq[AddAction],
                                         rtNames: Option[(String, String)] = None) = {
    val scanned0 = DeletionVectors.scanWithPos(spark, log, snap, files,
      extraDataCols = rtNames.map(RowTracking.materializedFields).getOrElse(Nil))
    val scanned = rtNames match {
      case Some(n) => RowTracking.resolveCurrentIdentity(spark, scanned0, files, n)
      case None => scanned0
    }
    if (!ColumnMapping.isMapped(snap)) scanned
    else scanned.select((snap.schema.fields.toSeq.map { f =>
      val p = ColumnMapping.physicalFieldName(f)
      scanned.col(s"`$p`").cast(f.dataType).as(f.name)
    } ++ rtNames.toSeq.flatMap(n =>
        Seq(scanned.col(s"`${n._1}`"), scanned.col(s"`${n._2}`")))
      ++ Seq(scanned.col(DeletionVectors.PathCol),
             scanned.col(DeletionVectors.PosCol))): _*)
  }
}
