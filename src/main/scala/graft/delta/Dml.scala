package graft.delta

import scala.jdk.CollectionConverters._

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

  /** Merge-on-read DELETE: write matched row positions as a deletion vector
    * and re-commit the affected files unchanged with DV pointers — no data
    * bytes rewritten. See [[DeletionVectors]] for the read contract.
    *
    * Scale shape: one distributed scan (pruned by the predicate like the
    * copy-on-write path) that WRITES the positions as its job output; the
    * per-file cardinality readback touches only the tiny DV parquet. */
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
    // graft DV pointers without the property's protocol fence would let a
    // foreign reader (who never saw minReaderVersion rise) resurrect every
    // deleted row
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

    val (affected, dvRel, counts) = stageDeletionVector(spark, log, snap, predicate)
    if (affected.isEmpty) return DmlMetrics(0, 0, snap.version)
    val rowsDeleted = counts.values.sum

    // CDF: the DV'd-out rows ARE the delete images — derived from the
    // STAGED positions, never by re-evaluating the predicate (a second
    // evaluation of a non-deterministic predicate would record images for
    // rows that stayed live and miss rows actually deleted — the same
    // one-evaluation contract updateWithDv got in r9). The scan applies
    // the OLD DVs, so a semi-join against the staged (old ∪ new) set
    // selects exactly the newly-deleted rows, affected files only.
    val cdcActions =
      if (!ChangeDataFeed.enabled(snap)) Nil
      else
        try {
          val stagedDv = spark.read.schema(DeletionVectors.dvSchema).parquet(
            new org.apache.hadoop.fs.Path(log.tablePath, dvRel).toString)
          val scanned = logicalScanWithMeta(spark, log, snap, affected.map(_._1))
          ChangeDataFeed.stage(spark, log,
            stagedPhysical(snap,
              scanned.join(stagedDv,
                  scanned(DeletionVectors.PathCol) === stagedDv("path") &&
                  scanned(DeletionVectors.PosCol) === stagedDv("pos"), "leftsemi")
                .select(snap.schema.fieldNames.map(n => col(DeltaSchema.quoted(n))).toSeq: _*)
                .withColumn(ChangeDataFeed.ChangeType, lit("delete")),
              passthrough = Set(ChangeDataFeed.ChangeType)))
        } catch {
          case e: Throwable =>
            // the DV dir is already on disk and vacuum never lists it —
            // reclaim on CDC staging failure (r9 review)
            try log.tablePath.getFileSystem(spark.sessionState.newHadoopConf())
              .delete(new org.apache.hadoop.fs.Path(log.tablePath, dvRel), true)
            catch { case _: Exception => () }
            throw e
        }

    val now = System.currentTimeMillis()
    val txn = log.startTransaction(snap).withReadFilters(
      PartitionFilter.fromCatalyst(
        org.apache.spark.sql.graftbridge.ColumnBridge.catalystExpression(predicate),
        snap.partitionColumns).map(PartitionFilter.mapKey(_, phys)))
    if (mapped) txn.permitNameMappedCommit()
    val dvStorage = commitDvReAdds(spark, log, txn, snap, affected, dvRel, now)
    txn.addActions(cdcActions)
    val info = ActionCodec.mapper.createObjectNode()
    info.put("timestamp", now)
    info.put("operation", "DELETE")
    val params = info.putObject("operationParameters")
    params.put("predicate", predicate.toString)
    params.put("deletionVector", dvStorage)
    params.put("numDeletedRows", rowsDeleted)
    val version = commitOrClean(spark, log, txn, Some(CommitInfoAction(info)),
      stagedDirs = Seq(dvStorage) ++ cdcActions.map(ChangeDataFeed.writeDir))
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

    val (affected, dvRel, counts) = stageDeletionVector(spark, log, snap, predicate)
    if (affected.isEmpty) return DmlMetrics(0, 0, snap.version)

    // matched rows derived FROM the staged deletion vector, so the
    // predicate is evaluated exactly ONCE (inside stageDeletionVector):
    // re-evaluating it here could diverge on non-deterministic predicates
    // and DV a row out without re-appending its copy — silent loss inside
    // one transaction (r9 review). The scan applies the OLD DVs, so a
    // semi-join against the staged (old ∪ new) positions selects exactly
    // the new matches; it also reads only the AFFECTED files, not the
    // whole table.
    // staging failures after this point (a CHECK violation inside the
    // write job, a CDC error) must reclaim the already-written DV dir —
    // underscore-hidden storage vacuum never lists (r9 review)
    val (newAdds, cdcActions) = try {
      val stagedDv = spark.read.schema(DeletionVectors.dvSchema).parquet(
        new org.apache.hadoop.fs.Path(log.tablePath, dvRel).toString)
      val scanned = logicalScanWithMeta(spark, log, snap, affected.map(_._1),
        rtNames = rtState.map(_._2))
      // moved rows carry their row id (materialized); the commit-version
      // column is deliberately absent from the copy files (see above)
      val outCols = snap.schema.fieldNames.map(n => col(DeltaSchema.quoted(n))).toSeq ++
        rtState.map { case (_, (matId, _)) => col(s"`$matId`") }.toSeq
      val matched = scanned.join(stagedDv,
          scanned(DeletionVectors.PathCol) === stagedDv("path") &&
          scanned(DeletionVectors.PosCol) === stagedDv("pos"), "leftsemi")
        .select(outCols: _*)
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
    } catch {
      case e: Throwable =>
        try log.tablePath.getFileSystem(spark.sessionState.newHadoopConf())
          .delete(new org.apache.hadoop.fs.Path(log.tablePath, dvRel), true)
        catch { case _: Exception => () }
        throw e
    }
    val rowsUpdated = counts.values.sum

    val now = System.currentTimeMillis()
    val txn = log.startTransaction(snap).withReadFilters(
      PartitionFilter.fromCatalyst(
        org.apache.spark.sql.graftbridge.ColumnBridge.catalystExpression(predicate),
        snap.partitionColumns).map(PartitionFilter.mapKey(_, phys)))
    if (mapped) txn.permitNameMappedCommit()
    val dvStorage = commitDvReAdds(spark, log, txn, snap, affected, dvRel, now)
    txn.addActions(RowTracking.commitRewriteAdds(txn, rtState, snap, newAdds))
    txn.addActions(cdcActions)
    val info = ActionCodec.mapper.createObjectNode()
    info.put("timestamp", now)
    info.put("operation", "UPDATE")
    val params = info.putObject("operationParameters")
    params.put("predicate", predicate.toString)
    params.put("deletionVector", dvStorage)
    params.put("numUpdatedRows", rowsUpdated)
    val version = commitOrClean(spark, log, txn, Some(CommitInfoAction(info)),
      stagedDirs = Seq(dvStorage) ++ cdcActions.map(ChangeDataFeed.writeDir),
      stagedAdds = newAdds)
    DmlMetrics(affected.size, rowsUpdated, version)
  }

  /** SQL UPDATE semantics: every SET expression AND the WHERE evaluate
    * against the PRE-update row, in ONE select — a sequential
    * `withColumn` fold would let the first assignment rewrite a column the
    * predicate or a later assignment still reads (`SET ts = 20, bucket =
    * ts % 3 WHERE ts = 10` must see ts = 10 throughout). Found by the
    * generated-column enforcement tests. */
  /** `allowed`: the assignable column names — the TABLE schema plus any
    * internally-added targets, never the frame's raw columns (a rewrite
    * scan carries hidden row-tracking columns a user must not assign). */
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
    * they are referenced only by the failed commit's actions, invisible to
    * vacuum (underscore-hidden dirs / never-tombstoned files) and would
    * otherwise leak forever. */
  private def commitOrClean(spark: SparkSession, log: DeltaLog,
                            txn: OptimisticTransaction, info: Option[CommitInfoAction],
                            stagedDirs: Seq[String],
                            stagedAdds: Seq[AddAction] = Nil): Long =
    try txn.commit(info)
    catch {
      case e: Throwable =>
        val fs = log.tablePath.getFileSystem(spark.sessionState.newHadoopConf())
        stagedDirs.distinct.foreach { rel =>
          try fs.delete(new org.apache.hadoop.fs.Path(log.tablePath, rel), true)
          catch { case _: Exception => () }
        }
        if (stagedAdds.nonEmpty)
          try GraftWriter.discardStaged(spark, log.tablePath.toString, stagedAdds)
          catch { case _: Exception => () }
        throw e
    }

  /** Write the predicate's matched positions as a DV directory and return
    * (affected Adds with their NEW per-file total cardinality, relative DV
    * path, per-file NEWLY-deleted counts). Files already carrying a DV get
    * their old positions unioned in, so each Add's pointer stays complete
    * on its own. Empty match ⇒ the staged directory is removed and
    * `(Nil, _, empty)` returned. */
  private def stageDeletionVector(spark: SparkSession, log: DeltaLog,
                                  snap: Snapshot, predicate: Column)
      : (Seq[(AddAction, Long)], String, Map[String, Long]) = {
    import DeletionVectors.{PathCol, PosCol}
    val fs = log.tablePath.getFileSystem(spark.sessionState.newHadoopConf())
    def freshDir(): (String, org.apache.hadoop.fs.Path) = {
      val rel = s"${DeletionVectors.Dir}/dv-${java.util.UUID.randomUUID()}"
      (rel, new org.apache.hadoop.fs.Path(log.tablePath, rel))
    }

    val (rel1, abs1) = freshDir()
    // mapped tables: the predicate speaks logical names, the provenance
    // columns survive the alias (logicalScanWithMeta)
    logicalScanWithMeta(spark, log, snap, snap.files)
      .filter(coalesce(predicate, lit(false)))
      .select(col(PathCol).as("path"), col(PosCol).as("pos"))
      .write.parquet(abs1.toString)

    val newCounts: Map[String, Long] =
      spark.read.schema(DeletionVectors.dvSchema).parquet(abs1.toString)
        .groupBy("path").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    if (newCounts.isEmpty) {
      fs.delete(abs1, true)
      return (Nil, rel1, Map.empty)
    }

    val affected = snap.files.filter(a => newCounts.contains(a.path))
    require(affected.size == newCounts.size,
      s"deletion-vector scan surfaced unknown file paths: " +
      s"${(newCounts.keySet -- affected.map(_.path)).take(3).mkString(", ")}")

    // union in prior positions so each file's DV pointer is self-complete
    val (dvRel, totals) =
      if (!affected.exists(DeletionVectors.hasDv)) (rel1, newCounts)
      else {
        val (rel2, abs2) = freshDir()
        val old = DeletionVectors.dvDf(spark, log, affected).get
        spark.read.schema(DeletionVectors.dvSchema).parquet(abs1.toString)
          .unionByName(old).distinct()
          .write.parquet(abs2.toString)
        fs.delete(abs1, true)
        val t = spark.read.schema(DeletionVectors.dvSchema).parquet(abs2.toString)
          .groupBy("path").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        (rel2, t)
      }
    (affected.map(a => a -> totals(a.path)), dvRel, newCounts)
  }

  /** remove + re-add each affected file with its DV pointer; DV storage
    * left unreferenced by the re-point is tombstoned for vacuum. Returns
    * the table-relative DV storage the commit references.
    *
    * The pointer FORMAT follows the table's protocol: a table advertising
    * the standard `deletionVectors` writer feature (foreign-created) gets
    * protocol descriptors foreign readers understand ([[StandardDv]]);
    * graft-native tables keep the tag extension. Either way the pointer
    * carries the COMPLETE position set and the other format's pointer is
    * cleared — an Add never carries live positions in both. */
  private def commitDvReAdds(spark: SparkSession, log: DeltaLog,
                             txn: OptimisticTransaction, snap: Snapshot,
                             affected: Seq[(AddAction, Long)],
                             dvRel: String, now: Long): String = {
    val standardNative = snap.writerFeatures.exists(_.contains("deletionVectors"))
    val (storageRel, descByPath) =
      if (standardNative) stageStandardDv(spark, log, dvRel)
      else (dvRel, Map.empty[String, StandardDv.Descriptor])
    affected.foreach { case (f, totalCard) =>
      txn.addAction(RemoveAction(
        path = f.path, deletionTimestamp = now, dataChange = true,
        extendedFileMetadata = Some(true),
        partitionValues = Some(f.partitionValues), size = Some(f.size)))
      if (standardNative) {
        val desc = descByPath(f.path)
        require(desc.cardinality == totalCard,
          s"packed DV cardinality ${desc.cardinality} != staged $totalCard " +
          s"for ${f.path}")
        val tags = f.tags.map(_ - DeletionVectors.PathTag - DeletionVectors.CardTag)
          .filter(_.nonEmpty)
        txn.addAction(f.copy(dataChange = true, tags = tags,
          deletionVector = Some(desc.json)))
      } else {
        val tags = f.tags.getOrElse(Map.empty) +
          (DeletionVectors.PathTag -> dvRel) +
          (DeletionVectors.CardTag -> totalCard.toString)
        txn.addAction(f.copy(dataChange = true, tags = Some(tags),
          deletionVector = None))
      }
    }
    txn.addActions(DeletionVectors.supersededDirTombstones(
      snap, affected.map(_._1), now))
    storageRel
  }

  /** Convert the staged (path, pos) parquet into ONE packed standard DV
    * file: per-file roaring bitmaps built on EXECUTORS (one shuffle on
    * path), streamed into the pack through a local iterator — the driver
    * holds one file's bitmap at a time, never the full position set. The
    * staged parquet is deleted once packed. */
  private def stageStandardDv(spark: SparkSession, log: DeltaLog,
                              dvRel: String)
      : (String, Map[String, StandardDv.Descriptor]) = {
    import spark.implicits._
    val abs = new org.apache.hadoop.fs.Path(log.tablePath, dvRel).toString
    val perFile = spark.read.schema(DeletionVectors.dvSchema).parquet(abs)
      .as[(String, Long)].groupByKey(_._1)
      .mapGroups { (p, it) =>
        val ps = it.map(_._2).toArray
        (p, StandardDv.PositionBitmap.serialize(ps), ps.distinct.length.toLong)
      }.sort("_1")
    val conf = spark.sessionState.newHadoopConf()
    val paths = Seq.newBuilder[String]
    val descs = StandardDv.writePacked(conf, log.tablePath,
      perFile.toLocalIterator().asScala.map { case (p, bytes, card) =>
        paths += p; (bytes, card)
      })
    val fs = log.tablePath.getFileSystem(conf)
    fs.delete(new org.apache.hadoop.fs.Path(log.tablePath, dvRel), true)
    val binRel = descs.head.absolutePath(new org.apache.hadoop.fs.Path("/"))
      .toUri.getPath.stripPrefix("/")
    (binRel, paths.result().zip(descs).toMap)
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
    txn.addActions(DeletionVectors.supersededDirTombstones(snap, affected, now))
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

  /** Scan only `files` of the snapshot, in table-schema column order, with
    * any deletion vectors applied (a rewrite that re-materialized DV'd rows
    * would silently resurrect them). Distributed parquet read through the
    * same FileIndex as a full scan. */
  /** Scan exactly `files` (DVs applied), serving the table's LOGICAL
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
