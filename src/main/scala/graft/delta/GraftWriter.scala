package graft.delta

import java.time.LocalDate
import java.util.UUID
import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{FileFormatWriter, PartitioningUtils}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.col

final class SchemaMismatchException(msg: String) extends IllegalArgumentException(msg)

/** Table writer: distributed parquet write + transactional commit.
  *
  * The data write is one Spark job through Spark's `FileFormatWriter` with
  * graft's [[DirectCommitProtocol]] — the executor-side analog of the
  * reference's buffered writer (`rust/src/writer.rs:59-177`): each task
  * writes straight to the final table paths and returns one `Add` per file
  * with **real stats** (numRecords/min/max/nullCount read from its own
  * parquet footers — exceeding the reference, which leaves min/max TODO at
  * `rust/tests/write_exploration.rs:274-280`, and returning Adds from the
  * write tasks as its exploration writer does,
  * `rust/tests/write_exploration.rs:88-130`). SaveMode semantics follow
  * `DeltaOperation`'s modes (`rust/src/action.rs:806-815`).
  *
  * Scale: the parquet write and the footer reads are fully distributed; the
  * driver only collects the Adds and commits — the same O(files) driver
  * bound as the log itself.
  */
object GraftWriter {

  /** Write `df` to `path` as a Delta table; returns the committed version.
    *
    * `mergeSchema = true` enables schema evolution on an existing table:
    * columns shared by name must keep their exact type, and df-only columns
    * are appended (nullable) to the table schema via a new `metaData` action
    * in the same commit — old files simply null-fill them on read (by-name
    * parquet resolution). Partition columns can never change.
    *
    * `overwriteSchema = true` (Overwrite mode only) replaces the table
    * schema wholesale — and, when `partitionBy` is given, the partitioning —
    * in the same commit that removes every previous file. Legal because the
    * new metadata governs exactly the new files; no old file survives to be
    * read under the wrong schema. */
  def write(dfIn: DataFrame, path: String,
            mode: SaveMode = SaveMode.ErrorIfExists,
            partitionBy: Seq[String] = Nil,
            mergeSchema: Boolean = false,
            overwriteSchema: Boolean = false,
            configuration: Option[Map[String, String]] = None,
            // extra actions committed ATOMICALLY with this write's adds —
            // the seam incremental maintainers need for an exactly-once
            // progress mark (a TxnAction high-water mark that rides the
            // data commit; a separate mark commit would re-apply the batch
            // on a crash between the two). Same idiom as the streaming
            // sink's epoch TxnAction. A DomainMetadataAction here lifts
            // the protocol to declare the domainMetadata writer feature in
            // the same commit.
            extraActions: Seq[Action] = Nil,
            // (appId, version): refuse the write unless the table's
            // current TxnAction mark for appId is exactly version. The
            // authoritative check runs against the COMMIT transaction's own
            // read snapshot (txn.requireAppVersion below), and a competing
            // mark landing above it trips the same-appId
            // ConcurrentTransaction conflict — together they make two
            // racing incremental maintainers serialize instead of
            // double-applying a window and regressing the mark (r14
            // second review pass; snapshot threading fixed per r15 advice).
            requireAppVersion: Option[(String, Long)] = None,
            // additional (appId, version) preconditions with the same
            // contract as requireAppVersion — independent marks compose
            // (e.g. a progress mark plus a layout epoch, r15)
            requireAppVersions: Seq[(String, Long)] = Nil,
            // tags stamped on every Add this write commits — lets a caller
            // lay data out pre-sorted AND stamp the clustering spec in ONE
            // pass instead of write-then-recluster (r15 review)
            fileTags: Map[String, String] = Map.empty,
            // CREATE-only: declare liquid-clustering columns IN the create
            // commit (the delta.clustering domain + its writer-feature
            // fence folded into the create protocol) instead of a separate
            // DeltaTable.clusterBy commit per table — the dedup-index
            // build paid three pure-metadata commits for this (r18; each
            // commit is ~0.3 s of fixed floor). Rebuilds keep the
            // standalone clusterBy call (the domain survives overwrites).
            clusterBy: Seq[String] = Nil): Long = {
    val spark = dfIn.sparkSession
    val profSb = if (commitProf) new StringBuilder(s"GRAFTPROF write $path") else null
    var profT = profMark()
    val log = DeltaLog.forPath(spark, path)
    val snap = log.update()
    profT = profNote(profSb, "open", profT)
    (requireAppVersion.toSeq ++ requireAppVersions).foreach { case (app, want) =>
      // FAST-FAIL only: saves the staging job when the mark is already
      // stale. The binding check is txn.requireAppVersion at commit time —
      // this snapshot predates the (possibly long) staging job, and a
      // concurrent same-JVM committer can advance the shared snapshot
      // cache in between, landing a mark below the txn's readVersion
      // where the conflict check never looks (r15 advice). The TxnAction-
      // presence contract is also re-enforced by txn.commit.
      require(extraActions.exists {
          case t: TxnAction => t.appId == app
          case _ => false
        },
        s"requireAppVersion('$app') needs a same-appId TxnAction in " +
        "extraActions — without it a competing mark landing during the " +
        "commit retry loop is not conflict-classified")
      val cur = snap.appTransactionVersion.get(app)
      if (!cur.contains(want)) throw new StaleAppVersionException(app, want, cur)
    }
    val exists = snap.version >= 0
    // generated columns the frame omits are computed here (delta-spark
    // write semantics); provided values are verified per-row downstream
    // (Constraints.enforce). Identity columns the frame omits generate
    // beyond the high-water mark, which advances in this same commit.
    // A schema-REPLACING overwrite is a re-CREATE: the old snapshot's
    // generated/identity/constraint definitions are the ones being
    // replaced — consulting them here resurrected dropped generated
    // columns into the new schema (the evolved metadata is built from
    // df.schema) or crashed when a derivation referenced a dropped
    // column (r12 review).
    val replacing = exists && overwriteSchema
    val (df, genIdentity) =
      if (exists && !replacing)
        IdentityColumns.withIdentity(Constraints.withGenerated(dfIn, snap), snap)
      else (dfIn, Seq.empty[IdentityColumns.Info])
    // name-mapped tables take the plain append/overwrite path: the frame
    // is renamed to PHYSICAL column names before staging (toPhysical
    // below), so data files, partition dirs, and footer-stats keys all
    // land protocol-correct. mergeSchema allocates fresh ids + col-<uuid>
    // physical names for appended columns (ColumnMappingDdl.allocateField);
    // wholesale schema REPLACEMENT stays refused — remapping every field
    // would orphan the old files' columns.
    val mapped = exists && ColumnMapping.isMapped(snap)
    // the protocol fence fires first: an unsupported capability is the
    // real reason, not the schema mismatch physical names masquerade as
    if (exists) ProtocolSupport.assertWritable(snap, allowNameMapping = true)
    if (mapped && (overwriteSchema || configuration.nonEmpty))
      throw new UnsupportedProtocolException(
        s"schema replacement on the column-mapped table $path " +
        "is not implemented (remapping every field would orphan the old " +
        "files' columns)")
    // configuration override is a CREATE/REPLACE concept: a plain append or
    // overwrite must not silently mutate table properties
    require(configuration.isEmpty || !exists || overwriteSchema,
      "configuration can only be set at create or schema-replacing overwrite")

    if (exists) mode match {
      case SaveMode.ErrorIfExists =>
        throw new IllegalStateException(s"Delta table already exists at $path")
      case SaveMode.Ignore => return snap.version
      case _ => ()
    }

    if (overwriteSchema && mergeSchema)
      throw new SchemaMismatchException(
        "overwriteSchema and mergeSchema are mutually exclusive")
    if (overwriteSchema && exists && mode != SaveMode.Overwrite)
      throw new SchemaMismatchException(
        "overwriteSchema requires SaveMode.Overwrite: replacing the schema " +
        "while old files stay active would misread them")
    val partCols =
      if (exists && partitionBy.isEmpty) snap.partitionColumns
      else partitionBy
    if (exists && partCols != snap.partitionColumns && !overwriteSchema)
      throw new SchemaMismatchException(
        s"partition columns $partCols != table's ${snap.partitionColumns}")
    var evolvedMetadata: Option[MetaDataAction] = None
    if (exists) {
      // NTZ-normalize BOTH sides: legacy tables persisted NTZ as timestamp
      // (pre-r11 toJson) while new tables keep timestamp_ntz at rest —
      // either way the same UTC values must keep appending
      val tbl = DeltaSchema.normalize(snap.schema).fields
        .map(f => (f.name, f.dataType)).toSeq
      val inc = DeltaSchema.normalize(df.schema).fields.map(f => (f.name, f.dataType)).toSeq
      if (overwriteSchema) {
        // REPLACE semantics: the declared configuration (possibly empty)
        // REPLACES the table's, like the schema does
        val newConfig = configuration.getOrElse(snap.metadata.get.configuration)
        if (tbl != inc || partCols != snap.partitionColumns ||
            newConfig != snap.metadata.get.configuration)
          evolvedMetadata = Some(snap.metadata.get.copy(
            schemaString = DeltaSchema.toJson(df.schema),
            partitionColumns = partCols,
            configuration = newConfig))
      } else if (mergeSchema) {
        evolvedMetadata = evolveSchema(snap, df.schema)
      } else {
        // Schema must match the table's (the reference rejects mismatched
        // record batches, rust/src/writer.rs:229-248); the comparison is
        // STRUCTURAL at every nesting level (DeltaSchema.structural).
        def shape(s: Seq[(String, org.apache.spark.sql.types.DataType)]) =
          s.map { case (n, dt) => (n, DeltaSchema.structural(dt)) }
        if (shape(tbl) != shape(inc))
          throw new SchemaMismatchException(s"schema mismatch: table=$tbl incoming=$inc")
      }
    }
    val missing = partCols.filterNot(df.schema.fieldNames.contains)
    if (missing.nonEmpty)
      throw new SchemaMismatchException(s"partition columns not in data: $missing")

    // CREATE (or schema-replacing overwrite) with column mapping declared
    // in the configuration: annotate the brand-new schema with fresh ids +
    // col-<uuid> physical names and stage physically from the first file
    val declaredConfig = configuration.getOrElse(Map.empty)
    val createMapping: Option[(org.apache.spark.sql.types.StructType,
        Map[String, String], (Int, Int))] =
      if ((!exists || overwriteSchema) &&
          Set("name", "id").contains(ColumnMapping.mode(declaredConfig)))
        Some(ColumnMappingDdl.forCreate(df.schema, declaredConfig))
      else None
    createMapping.foreach { case (annSchema, annConfig, _) =>
      if (exists) // schema-replacing overwrite of an unmapped table
        evolvedMetadata = Some(snap.metadata.get.copy(
          schemaString = DeltaSchema.toJson(annSchema),
          partitionColumns = partCols,
          configuration = annConfig))
    }

    // The (schema, configuration) pair this commit LEAVES BEHIND: the
    // evolved/replaced metadata when the commit changes it, the table's
    // otherwise. Enforcement, staging flavor and identity marks are all
    // governed by this pair, never by what a replace is throwing away.
    lazy val mapSchema = evolvedMetadata
      .map(em => DeltaSchema.fromJson(em.schemaString)).getOrElse(snap.schema)
    val committedConfig =
      if (!exists) createMapping.map(_._2).getOrElse(declaredConfig)
      else evolvedMetadata.map(_.configuration).getOrElse(TableConfig.of(snap))
    // Stage in the table's AT-REST timestamp flavor: the compat check above
    // normalizes NTZ↔timestamp, but staging an un-cast frame would write
    // parquet whose isAdjustedToUTC annotation contradicts the Delta schema
    // (tz-aware bytes under a timestamp_ntz column, or vice versa) — graft's
    // own scan tolerates it, spec-conforming foreign readers do not (r11
    // review find). Values are identical under the fixed UTC session zone.
    // This includes a REPLACE whose schema is normalize-equal to the
    // table's: the old schemaString is kept, so the staged flavor must
    // match IT, not the incoming frame's (r12 review).
    val atRest = if (!exists) df else alignTimestampFlavors(df, mapSchema)
    // CREATE and replace = validate against the COMMITTED pair: dropped
    // CHECKs and dropped columns' rules no longer apply, but constraints
    // and column rules that survive into (or arrive with) the new table
    // still validate its data (r12 review: a replace carrying the old
    // configuration forward — and a CREATE declaring CHECKs in its
    // configuration — shipped data unvalidated against constraints the
    // table would declare from this very commit)
    val committedSchema =
      if (!exists) createMapping.map(_._1).getOrElse(df.schema)
      else mapSchema
    val enforced =
      if (replacing || !exists)
        Constraints.enforceAgainst(atRest, committedSchema, committedConfig)
      else Constraints.enforce(atRest, snap)
    // Identity columns whose high-water mark must advance in this commit:
    // the GENERATED (omitted) ones on the append path — and at CREATE /
    // REPLACE, every identity column of the COMMITTED schema (on a
    // kept-schema replace that is the OLD schemaString's identity
    // metadata, which a plain incoming frame lacks — r12 second-pass
    // review), because a schema born with a mark trailing data it was
    // born with would re-issue those values on the first generated insert
    // (explicit appends still defer to SYNC IDENTITY, delta-spark parity).
    val hwmIdentity: Seq[IdentityColumns.Info] =
      if (exists && !replacing) genIdentity
      else IdentityColumns.of(committedSchema)
    // stats budget from the config this commit operates under (a CREATE's
    // declared config is not in the log yet). Identity columns due a
    // high-water-mark advance must stay INSIDE the budget — a budget that
    // excludes them would freeze the mark
    // (IdentityColumns.highWaterMarkMetadata fails loudly as the backstop).
    val statsIdx = {
      val base = TableConfig.dataSkippingNumIndexedCols(committedConfig)
      if (base < 0 || hwmIdentity.isEmpty) base
      else {
        // staged-file column order mirrors the frame's (the physical
        // rename preserves positions), so logical positions suffice
        val fileCols = enforced.columns.filterNot(partCols.contains)
        val needed = hwmIdentity.map(i => fileCols.indexOf(i.name) + 1).max
        math.max(base, needed)
      }
    }
    val addsUntagged =
      if (mapped)
        // id-mapped tables: staged files must carry parquet footer field
        // ids (Spark stamps them from the attached metadata on write)
        stageFiles(ColumnMapping.toPhysical(enforced, mapSchema,
            attachIds = ColumnMapping.mode(snap) == "id"), path,
          partCols.map(c => ColumnMapping.physicalName(mapSchema, c)), statsIdx)
      else createMapping match {
        case Some((annSchema, _, _)) =>
          stageFiles(ColumnMapping.toPhysical(enforced, annSchema,
              attachIds = ColumnMapping.mode(declaredConfig) == "id"), path,
            partCols.map(c => ColumnMapping.physicalName(annSchema, c)), statsIdx)
        case None => stageFiles(enforced, path, partCols, statsIdx)
      }
    val adds =
      if (fileTags.isEmpty) addsUntagged
      else addsUntagged.map(a =>
        a.copy(tags = Some(a.tags.getOrElse(Map.empty) ++ fileTags)))
    profT = profNote(profSb, "stage_total", profT)
    val now = System.currentTimeMillis()
    val txn = log.startTransaction(snap)
    // the authoritative mark preconditions, against the txn's OWN read
    // snapshot — see the parameter doc (r15 advice)
    (requireAppVersion.toSeq ++ requireAppVersions).foreach { case (app, want) =>
      txn.requireAppVersion(app, want)
    }
    if (mapped) txn.permitNameMappedCommit()
    // identity high-water marks over this commit's staged footer stats,
    // folded into whichever metaData action the commit carries (at most
    // one per commit — strict foreign readers reject a second)
    val physForStats: String => String =
      if (mapped) c => ColumnMapping.physicalName(mapSchema, c)
      else createMapping match {
        case Some((annSchema, _, _)) =>
          c => ColumnMapping.physicalName(annSchema, c)
        case None => scala.Predef.identity
      }
    def withIdentityMarks(base: MetaDataAction): Option[MetaDataAction] =
      IdentityColumns.highWaterMarkMetadata(base, hwmIdentity, adds, physForStats)
    require(clusterBy.isEmpty || !exists,
      "clusterBy can only be declared at CREATE — use DeltaTable.clusterBy " +
      "on an existing table")
    if (clusterBy.nonEmpty) {
      val unknown = clusterBy.filterNot(c =>
        df.schema.fieldNames.contains(c.split('.').head))
      require(unknown.isEmpty,
        s"unknown clustering column(s): ${unknown.mkString(",")}")
      val part = clusterBy.filter(partCols.contains)
      require(part.isEmpty,
        s"partition column(s) ${part.mkString(",")} cannot also cluster")
    }
    // writer features the commit's domains need: a clusterBy declaration
    // writes delta.clustering, and a domain among extraActions needs
    // domainMetadata declared in this same commit
    val domainFeatures =
      if (clusterBy.nonEmpty) Seq("domainMetadata", "clustering")
      else if (extraActions.exists(_.isInstanceOf[DomainMetadataAction]))
        Seq("domainMetadata")
      else Nil
    if (!exists) {
      val (schemaJson, cfg, (fr, fw)) = createMapping match {
        case Some((annSchema, annConfig, floor)) =>
          (DeltaSchema.toJson(annSchema), annConfig, floor)
        case None =>
          (DeltaSchema.toJson(df.schema), declaredConfig, (1, 2))
      }
      // CREATE-time config/schema may demand capabilities beyond the
      // legacy floor — generated/identity column floors, DV / v2
      // checkpoints / ICT / variant features — all folded by configFences
      // into ONE protocol action, so a table born with checkpointPolicy=v2
      // does not crash its first auto-checkpoint. The domain writer
      // features fold into the SAME action (two protocol actions in one
      // commit would last-write-wins race).
      txn.addAction(ProtocolSupport.writerFeaturesFence(
        ProtocolSupport.configFences(cfg, ProtocolAction(fr, fw), Some(df.schema)),
        domainFeatures))
      if (clusterBy.nonEmpty) {
        // delta-spark's delta.clustering domain shape, exactly as
        // DeltaTable.clusterBy writes it
        val ccfg = ActionCodec.mapper.createObjectNode()
        val arr = ccfg.putArray("clusteringColumns")
        clusterBy.foreach { c =>
          val p = arr.addArray()
          c.split('.').foreach(p.add)
        }
        txn.addAction(DomainMetadataAction("delta.clustering",
          ActionCodec.mapper.writeValueAsString(ccfg)))
      }
      val createMd = MetaDataAction(
        id = UUID.randomUUID().toString,
        name = None, description = None,
        format = Format(),
        schemaString = schemaJson,
        partitionColumns = partCols,
        createdTime = Some(now),
        configuration = cfg)
      // a CREATE born with explicit identity values records their mark —
      // the first generated insert must start beyond them (r12 review)
      txn.addAction(withIdentityMarks(createMd).getOrElse(createMd))
    }
    // NOTE: the evolved metaData action itself is added further down, once
    // `adds` exist — a same-commit identity high-water-mark advance must
    // FOLD into it (the Delta spec allows at most one metaData action per
    // commit; strict foreign readers reject a second).
    // the committed configuration/schema may raise the protocol floor —
    // column mapping (replace-with-mapping), deletion vectors, v2/ICT
    // properties, a variant column arriving via evolution — and so may a
    // domain in extraActions; ONE folded protocol action carries the
    // combined floor (two would last-write-wins race)
    if (exists) {
      val current = ProtocolAction(snap.minReaderVersion, snap.minWriterVersion,
        snap.readerFeatures, snap.writerFeatures)
      val floor = evolvedMetadata.fold(current) { md =>
        val (fr, fw) = createMapping.map(_._3)
          .getOrElse((snap.minReaderVersion, snap.minWriterVersion))
        ProtocolSupport.configFences(md.configuration,
          ProtocolAction(math.max(snap.minReaderVersion, fr),
            math.max(snap.minWriterVersion, fw),
            snap.readerFeatures, snap.writerFeatures),
          Some(DeltaSchema.fromJson(md.schemaString)))
      }
      val fenced = ProtocolSupport.writerFeaturesFence(floor, domainFeatures)
      if (fenced != current) txn.addAction(fenced)
    }
    // CDF images for the overwrite rewrite shape — skipped (loud
    // downstream) when the overwrite also changes the schema
    val cdcActions =
      if (exists && mode == SaveMode.Overwrite &&
          evolvedMetadata.isEmpty && !overwriteSchema)
        ChangeDataFeed.stageOverwrite(spark, log, snap, snap.files, adds)
      else Nil
    if (exists && mode == SaveMode.Overwrite)
      snap.files.foreach(f => txn.addAction(RemoveAction(
        path = f.path, deletionTimestamp = now, dataChange = true,
        extendedFileMetadata = Some(true),
        partitionValues = Some(f.partitionValues), size = Some(f.size))))
    txn.addActions(cdcActions)
    // row tracking: fresh files get id ranges from the high-water mark,
    // which bumps in this same commit (defaultRowCommitVersion stamps at
    // commit time — the landing version is unknown here). A CREATE that
    // declares delta.enableRowTracking allocates from the virgin mark for
    // its version-0 files too — version 0 is not exempt from the contract.
    val rtActive = (exists && RowTracking.enabled(snap)) ||
      (!exists && TableConfig.rowTrackingEnabled(declaredConfig))
    val finalAdds =
      if (rtActive) {
        val (stamped, bump) = RowTracking.assignFreshRowIds(snap, adds)
        bump.foreach(txn.addAction)
        stamped
      } else adds
    txn.addActions(finalAdds)
    // identity high-water marks advance IN the generating commit (a crash
    // between the data and the mark would re-issue values); built over —
    // and folded INTO — the evolved metadata when this commit also changed
    // the schema, so the commit carries exactly one metaData action
    val identityMd =
      if (hwmIdentity.isEmpty || !exists) None
      else withIdentityMarks(evolvedMetadata.getOrElse(snap.metadata.get))
    (identityMd orElse evolvedMetadata).foreach(txn.addAction)
    txn.addActions(extraActions)

    val info = ActionCodec.mapper.createObjectNode()
    info.put("timestamp", now)
    info.put("operation", "WRITE")
    val params = info.putObject("operationParameters")
    params.put("mode", mode.toString)
    params.put("partitionBy", partCols.mkString(","))
    profT = profNote(profSb, "plan_actions", profT)
    val version =
      try txn.commit(Some(CommitInfoAction(info)))
      catch {
        case e: Throwable =>
          // staged data files and CDC dirs are referenced only by the
          // failed commit — reclaim both (vacuum never will)
          try discardStaged(spark, path, adds) catch { case _: Exception => () }
          ChangeDataFeed.discardStaged(spark, log, cdcActions)
          throw e
      }
    profT = profNote(profSb, "txn_commit", profT)

    log.maybeCheckpoint(version)
    if (commitProf) {
      profNote(profSb, "maybe_checkpoint", profT)
      System.err.println(profSb)
    }
    version
  }

  /** Cast columns whose type differs from the table's ONLY in timestamp
    * flavor (NTZ vs tz-aware, at any nesting depth) to the table's at-rest
    * type, so staged parquet carries the isAdjustedToUTC annotation the
    * Delta schema declares. Shared by the batch writer and the streaming
    * sink; a no-op frame is returned untouched. */
  private[graft] def alignTimestampFlavors(
      df: org.apache.spark.sql.DataFrame,
      target: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.{DataType, StructField, StructType}
    def shape(dt: DataType) = DeltaSchema.structural(DeltaSchema.normalize(
      StructType(Array(StructField("x", dt)))))
    val targetTypes = target.fields.map(f => f.name -> f.dataType).toMap
    val needsCast = df.schema.fields.filter(f =>
      targetTypes.get(f.name).exists(t =>
        t != f.dataType && shape(t) == shape(f.dataType) &&
          DeltaSchema.structural(t) != DeltaSchema.structural(f.dataType)))
      .map(_.name).toSet
    if (needsCast.isEmpty) df
    else df.select(df.schema.fields.map { f =>
      if (needsCast(f.name)) col(f.name).cast(targetTypes(f.name)).as(f.name)
      else col(f.name)
    }.toSeq: _*)
  }

  /** Schema-evolution core shared by the batch writer and streaming sink:
    * shared columns must keep their exact type; incoming-only columns are
    * appended (nullable). Returns the evolved metaData action to commit, or
    * None when the schema is unchanged. */
  private[graft] def evolveSchema(snap: Snapshot,
                                  rawIncoming: org.apache.spark.sql.types.StructType): Option[MetaDataAction] = {
    // conflict detection NTZ-normalizes BOTH sides (legacy vs at-rest NTZ
    // tables, see the write() compare); appended columns come from the RAW
    // incoming schema so a new timestamp_ntz column persists as itself
    val incoming = DeltaSchema.normalize(rawIncoming)
    val tblTypes = DeltaSchema.normalize(snap.schema).fields
      .map(f => (f.name, f.dataType)).toMap
    // structural comparison: nested nullability / field metadata are not
    // load-bearing for parquet round-trips and must not block evolution
    val conflicts = incoming.fields.collect {
      case f if tblTypes.get(f.name).exists(t =>
          DeltaSchema.structural(t) != DeltaSchema.structural(f.dataType)) =>
        s"${f.name}: table=${tblTypes(f.name)} incoming=${f.dataType}"
    }
    if (conflicts.nonEmpty) throw new SchemaMismatchException(
      s"mergeSchema type conflicts: ${conflicts.mkString("; ")}")
    val newFields = rawIncoming.fields.filterNot(f =>
      snap.schema.fieldNames.contains(f.name)).map(_.copy(nullable = true))
    if (newFields.isEmpty) None
    else {
      var md = snap.metadata.get
      var fields = snap.schema.fields ++ newFields
      if (ColumnMapping.isMapped(snap)) {
        // mapped tables: appended columns get fresh ids + col-<uuid>
        // physical names so files staged from here on resolve them
        var maxId = ColumnMappingDdl.maxColumnId(md.configuration)
        val existing = snap.schema.fieldNames.toSet
        fields = fields.map { f =>
          if (existing.contains(f.name)) f
          else {
            val (af, nid) = ColumnMappingDdl.allocateField(f, maxId)
            maxId = nid; af
          }
        }
        md = md.copy(configuration = md.configuration +
          (ColumnMappingDdl.MaxColumnIdKey -> maxId.toString))
      }
      Some(md.copy(schemaString = DeltaSchema.toJson(
        org.apache.spark.sql.types.StructType(fields))))
    }
  }

  /** Env-gated per-phase commit profiling (`SPARK_GRAFT_COMMIT_PROF=1`):
    * one stderr line per write with the write/commit/update split,
    * so the per-commit fixed cost ("commit floor") attributes to a phase
    * instead of being a single opaque number (guide §1). */
  private[delta] lazy val commitProf: Boolean =
    sys.env.get("SPARK_GRAFT_COMMIT_PROF").contains("1")
  private[delta] def profMark(): Long = if (commitProf) System.nanoTime() else 0L
  private[delta] def profNote(sb: StringBuilder, label: String, t0: Long): Long = {
    if (!commitProf) return 0L
    val now = System.nanoTime()
    sb.append(f" $label=${(now - t0) / 1e6}%.0fms")
    now
  }

  /** Above this many files, [[collectStats]] reads footers in a
    * distributed Spark job instead of on the driver pool (overridable via
    * `spark.graft.write.statsExecutorThreshold`). */
  private val StatsExecutorThresholdKey = "spark.graft.write.statsExecutorThreshold"
  private val StatsExecutorThresholdDefault = 512

  /** Write `df` into the table at `path` in one Spark job and return one
    * stats-carrying Add per produced file. Each task writes its files
    * straight to their final Hive-partitioned path (`rust/src/delta.rs:
    * 1279-1298`) through [[DirectCommitProtocol]] and reads its own
    * footers for stats, so the driver neither lists, moves nor reads a
    * footer. Shared by every write surface (batch, sink, SQL INSERT, DML,
    * MERGE, OPTIMIZE, index maintenance); the commit itself is the
    * caller's. */
  private[graft] def stageFiles(df: DataFrame, path: String,
                                partCols: Seq[String],
                                numIndexedCols: Int = -2): Seq[AddAction] =
    writeFiles(df, path, partCols, numIndexedCols).adds

  /** What one write job produced: data files, change files, and the
    * `Dataset.observe` metrics it collected, by name — read off the job's
    * own query execution once it returns, so DML and MERGE counts need no
    * listener round trip. */
  private[graft] final case class Written(adds: Seq[AddAction], cdc: Seq[CdcAction],
                                          observed: Map[String, Row])

  /** As [[stageFiles]], returning everything the job produced. With
    * `changes = Some(dataOnly)` the frame carries change rows too, still in
    * ONE job: rows whose `_change_type` is null become data files (without
    * that column), the rest change files under one fresh
    * `_change_data/cdc-<uuid>/<partition dirs>/` (without the `dataOnly`
    * columns). [[ChangeDataFeed.withImages]] builds such a frame. */
  private[graft] def writeFiles(df: DataFrame, path: String, partCols: Seq[String],
                                numIndexedCols: Int = -2,
                                changes: Option[Set[String]] = None): Written = {
    // -2 (the default) = "resolve from the table's own config"; explicit
    // -1 = unbounded. Resolving here keeps the knob at one choke point for
    // every write surface; the batch writer passes the value explicitly (a
    // CREATE's config is not in the log yet).
    val resolvedIdx =
      if (numIndexedCols != -2) numIndexedCols
      else TableConfig.dataSkippingNumIndexedCols(
        TableConfig.of(DeltaLog.forPath(df.sparkSession, path).update()))
    val spark = df.sparkSession
    val sb = if (commitProf) new StringBuilder("GRAFTPROF stage") else null
    val t = profMark()
    val tablePath = new Path(path)
    val cdcRel = changes.map(_ => s"${ChangeDataFeed.Dir}/cdc-${UUID.randomUUID()}")
    val input = changes match {
      case Some(_) => df.withColumn(DirectCommitProtocol.CdcPartCol,
        col(ChangeDataFeed.ChangeType).isNotNull)
      case None => df
    }
    val allParts = cdcRel.map(_ => DirectCommitProtocol.CdcPartCol).toSeq ++ partCols
    val caseSensitive = spark.sessionState.conf.caseSensitiveAnalysis
    PartitioningUtils.validatePartitionColumn(input.schema, allParts, caseSensitive)
    val qe = input.queryExecution
    val plan = qe.executedPlan
    val partAttrs = allParts.map(c => plan.output.find(a =>
      if (caseSensitive) a.name == c else a.name.equalsIgnoreCase(c)).get)
    val protocol = new DirectCommitProtocol(tablePath.toString, cdcRel, resolvedIdx)
    val format = changes match {
      case Some(dataOnly) =>
        new ChangeSplitParquet(new Path(tablePath, cdcRel.get).toString, dataOnly)
      case None => new ParquetFileFormat
    }
    val sc = spark.sparkContext
    val oldDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"$WriteJobDescription $path")
    // named "save" like the df.write it replaces: QueryExecutionListeners
    // hear named executions only. A failed job returns only once its killed
    // tasks have aborted, deleting the files they had opened.
    try TaskSettling(sc) {
      SQLExecution.withNewExecutionId(qe, Some("save")) {
        FileFormatWriter.write(
          spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan, format, protocol,
          FileFormatWriter.OutputSpec(tablePath.toString, Map.empty, plan.output),
          spark.sessionState.newHadoopConf(), partAttrs, None, Nil, Map.empty)
      }
    } finally sc.setJobDescription(oldDesc)
    val adds = protocol.actions.collect { case a: AddAction => a }
    val cdcs = protocol.actions.collect { case c: CdcAction => c }
    if (commitProf) {
      profNote(sb, "write_job", t)
      System.err.println(sb.append(s" files=${adds.size} cdc_files=${cdcs.size}"))
    }
    Written(adds, cdcs, qe.observedMetrics)
  }

  /** Spark job description of every table write (`<this> <table path>`),
    * which names the job in the UI and lets listeners tell it apart. */
  private[graft] val WriteJobDescription = "graft write"

  /** Footer stats for table-relative parquet paths: distributed job above
    * [[StatsExecutorThresholdKey]] files, bounded driver pool otherwise.
    * Used by CONVERT TO DELTA, whose files no graft task wrote (a write's
    * tasks read their own footers). */
  private[delta] def collectStats(spark: SparkSession, tablePath: Path,
                                  rels: Seq[String],
                                  conf: Configuration,
                                  numIndexedCols: Int = -1): Map[String, String] = {
    val threshold = spark.conf.getOption(StatsExecutorThresholdKey)
      .map(_.toInt).getOrElse(StatsExecutorThresholdDefault)
    if (rels.size >= threshold)
      executorSideStats(spark, tablePath, rels, conf, numIndexedCols)
    else
      inDriverPool(rels)(rel =>
        rel -> FooterStats.statsJson(new Path(tablePath, rel), conf,
          numIndexedCols)).toMap
  }

  /** Delete written-but-uncommitted data files (abort path: a failed
    * commit, or multi-match or no-op detection after a single-pass
    * rewrite). They were never in the log, so readers cannot have seen
    * them. */
  private[graft] def discardStaged(spark: SparkSession, path: String,
                                   adds: Seq[AddAction]): Unit = {
    val tablePath = new Path(path)
    val fs = tablePath.getFileSystem(spark.sessionState.newHadoopConf())
    adds.foreach(a => fs.delete(new Path(tablePath, a.path), false))
  }

  private val DriverPoolPrefix = "graft-driver-pool-"

  /** One shared bounded pool per JVM for driver-side metadata fan-out
    * (commit/footer/probe I/O) — per-call pools (r7) paid creation and
    * teardown churn on every history/feed/convert call in a loop. Daemon
    * threads: the pool must never hold the JVM open. */
  private lazy val driverPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(32,
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, DriverPoolPrefix + n.incrementAndGet())
          t.setDaemon(true)
          t
        }
      })

  /** Run `f` over `items` on the shared driver pool, preserving order.
    * Sized for metadata/footer I/O concurrency, not CPU. A call made FROM
    * a pool thread runs inline — nested fan-out on a fixed-size shared
    * pool could otherwise park every thread waiting on child futures. */
  private[delta] def inDriverPool[A, B](items: Seq[A])(f: A => B): Seq[B] = {
    if (items.lengthCompare(2) < 0 ||
        Thread.currentThread().getName.startsWith(DriverPoolPrefix))
      return items.map(f)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(driverPool)
    Await.result(Future.sequence(items.map(a => Future(f(a)))), Duration.Inf)
  }

  /** Footer stats as a Spark job: the file list is tiny, the footer reads
    * are the real I/O — ship them to the executors (the reference's
    * exploration writer likewise returns Adds from the write tasks,
    * `rust/tests/write_exploration.rs:88-130`). The Hadoop conf travels as
    * key-value pairs; `Configuration` itself is not serializable. */
  private def executorSideStats(spark: SparkSession, tablePath: Path,
                                rels: Seq[String],
                                conf: Configuration,
                                numIndexedCols: Int = -1): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val confPairs = conf.iterator().asScala.map(e => (e.getKey, e.getValue)).toArray
    val table = tablePath.toString
    val nIdx = numIndexedCols
    val parallelism = math.min(rels.size,
      math.max(1, spark.sparkContext.defaultParallelism))
    spark.sparkContext.parallelize(rels, parallelism)
      .map { rel =>
        val c = new Configuration(false)
        confPairs.foreach { case (k, v) => c.set(k, v) }
        rel -> FooterStats.statsJson(new Path(new Path(table), rel), c, nIdx)
      }
      .collect().toMap
  }

  /** Parse `k=v` Hive segments of a relative file path into partitionValues
    * (`rust/src/partitions.rs:100-128`); `__HIVE_DEFAULT_PARTITION__` ⇒ null. */
  def partitionValuesOf(relPath: String): Map[String, String] =
    relPath.split('/').dropRight(1).flatMap { seg =>
      seg.indexOf('=') match {
        case -1 => None
        case i =>
          val v = unescapePathName(seg.substring(i + 1))
          Some(seg.substring(0, i) ->
            (if (v == "__HIVE_DEFAULT_PARTITION__") null else v))
      }
    }.toMap

  /** Reverse Hive path escaping (%xx) as Spark's catalog does. */
  private def unescapePathName(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        try {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}

/** Per-file Delta stats from parquet footers: exact numRecords, and
  * min/max/nullCount for top-level primitive columns (nested and
  * non-footer-stat types are omitted — skip-on-doubt readers handle absence).
  */
object FooterStats {

  def statsJson(file: Path, conf: Configuration,
                numIndexedCols: Int = -1): String = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val footer = reader.getFooter
      val blocks = footer.getBlocks
      // `delta.dataSkippingNumIndexedCols`: index only the first n
      // top-level columns in file (= write) order; -1 = all. numRecords
      // is recorded regardless.
      val indexed: String => Boolean =
        if (numIndexedCols < 0) _ => true
        else {
          import scala.jdk.CollectionConverters._
          val allowed = footer.getFileMetaData.getSchema.getFields.asScala
            .take(numIndexedCols).map(_.getName).toSet
          allowed.contains _
        }
      var numRecords = 0L
      // column dotted path → (min, max, nulls, statsValid)
      final case class Acc(var min: Any, var max: Any, var nulls: Long, var valid: Boolean)
      val accs = mutable.LinkedHashMap[String, Acc]()

      blocks.forEach { block =>
        numRecords += block.getRowCount
        block.getColumns.forEach { col =>
          if (col.getPath.size == 1 && indexed(col.getPath.toDotString)) { // top-level only
            val name = col.getPath.toDotString
            val acc = accs.getOrElseUpdate(name, Acc(null, null, 0L, true))
            val st = col.getStatistics
            if (st == null || st.isEmpty || st.getNumNulls < 0) acc.valid = false
            else {
              acc.nulls += st.getNumNulls
              if (st.hasNonNullValue) {
                val prim = col.getPrimitiveType
                (convert(st.genericGetMin.asInstanceOf[AnyRef], prim),
                 convert(st.genericGetMax.asInstanceOf[AnyRef], prim)) match {
                  case (Some(mn), Some(mx)) =>
                    acc.min = reduce(acc.min, mn, takeMin = true)
                    acc.max = reduce(acc.max, mx, takeMin = false)
                  case _ =>
                    acc.min = BadStat; acc.max = BadStat
                }
              }
            }
          }
        }
      }

      val o = ActionCodec.mapper.createObjectNode()
      o.put("numRecords", numRecords)
      val mins = o.putObject("minValues")
      val maxs = o.putObject("maxValues")
      val nulls = o.putObject("nullCount")
      accs.foreach { case (name, acc) =>
        if (acc.valid) {
          nulls.put(name, acc.nulls)
          putVal(mins, name, truncateMin(acc.min))
          putVal(maxs, name, truncateMax(acc.max))
        }
      }
      ActionCodec.mapper.writeValueAsString(o)
    } finally reader.close()
  }

  /** Long string stats are truncated to bounds, not stored verbatim — a
    * free-text column would otherwise embed kilobytes of document body in
    * EVERY Add's stats JSON, and the log (replayed on each snapshot load,
    * shipped in each checkpoint) would scale with document size instead of
    * file count. A prefix is a valid lower bound as-is; the upper bound is
    * the prefix with its last char bumped (chars at Char.MaxValue drop
    * right-to-left first). Comparisons during accumulation stay exact —
    * truncation happens only at emit. */
  private[delta] val MaxStringStatLength = 64

  /** Truncation cut that never splits a surrogate pair: a prefix ending in
    * an unpaired high surrogate UTF-8-encodes as `?` (0x3F) — the emitted
    * bound would sort BELOW the actual value's bytes (invalid as a max,
    * and a lone surrogate is not interchange-valid JSON either). */
  private def codePointCut(s: String): Int =
    if (Character.isHighSurrogate(s.charAt(MaxStringStatLength - 1)) &&
        Character.isLowSurrogate(s.charAt(MaxStringStatLength)))
      MaxStringStatLength - 1
    else MaxStringStatLength

  private[delta] def truncateMin(v: Any): Any = v match {
    case s: String if s.length > MaxStringStatLength =>
      s.substring(0, codePointCut(s))
    case other => other
  }

  /** Upper bound for a truncated string: bump the prefix's LAST CODE POINT
    * (UTF-8 byte order == code-point order, so `prefix + (cp+1)` bounds
    * every string extending `prefix + cp`). Bumping skips the surrogate
    * range (U+D7FF + 1 → U+E000: D800–DFFF are unencodable alone) and code
    * points at U+10FFFF drop right-to-left first — the old code-unit bump
    * produced a lone surrogate when the cut landed inside a pair, whose
    * UTF-8 form (`?`) sorted below the data it claimed to bound. */
  private[delta] def truncateMax(v: Any): Any = v match {
    case s: String if s.length > MaxStringStatLength =>
      var end = codePointCut(s)
      var out: Any = null
      while (out == null && end > 0) {
        val cp = s.codePointBefore(end)
        val start = end - Character.charCount(cp)
        if (cp >= 0x10FFFF) end = start // unbumpable; drop, carry left
        else {
          val bumped =
            if (cp >= 0xD7FF && cp < 0xE000) 0xE000 // skip surrogate block
            else cp + 1
          out = s.substring(0, start) + new String(Character.toChars(bumped))
        }
      }
      if (out == null) BadStat // no upper bound expressible; omit (skip-on-doubt)
      else out
    case other => other
  }

  private object BadStat

  private def reduce(cur: Any, v: Any, takeMin: Boolean): Any =
    if (cur == BadStat || v == BadStat) BadStat
    else if (cur == null) v
    else (cur, v) match {
      case (a: Long, b: Long)       => if ((b < a) == takeMin) b else a
      case (a: Double, b: Double)   => if ((b < a) == takeMin) b else a
      // UTF-8 binary order, matching parquet's own per-row-group bounds
      // and the pruner's comparison (StatsPredicate.utf8Compare) — a
      // UTF-16 fold here picks a wrong min/max across row groups when
      // supplementary characters are present (r11 review)
      case (a: String, b: String)   =>
        if ((StatsPredicate.utf8Compare(b, a) < 0) == takeMin) b else a
      case (a: Boolean, b: Boolean) => if ((b < a) == takeMin) b else a
      case _ => BadStat
    }

  /** Typed footer value → stats value; None for types we don't encode. */
  private def convert(v: AnyRef, prim: org.apache.parquet.schema.PrimitiveType): Option[Any] = {
    val logical = prim.getLogicalTypeAnnotation
    prim.getPrimitiveTypeName match {
      case PrimitiveTypeName.INT32 =>
        logical match {
          case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation =>
            Some(LocalDate.ofEpochDay(v.asInstanceOf[Number].longValue).toString)
          case _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => None
          // full-width unsigned annotations (foreign files via CONVERT):
          // the raw int is a reinterpreted bit pattern — reading it signed
          // flips the order past the sign bit (UINT32 0xFFFFFFFF → min of
          // -1) and the pruner would skip live files (r12 review). Narrower
          // unsigned widths (UINT8/16) cannot set the sign bit; keep them.
          case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation
              if !i.isSigned && i.getBitWidth >= 32 => None
          case _ => Some(v.asInstanceOf[Number].longValue)
        }
      case PrimitiveTypeName.INT64 =>
        logical match {
          case _: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation => None
          case _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => None
          case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation
              if !i.isSigned && i.getBitWidth >= 64 => None
          case _ => Some(v.asInstanceOf[Number].longValue)
        }
      case PrimitiveTypeName.FLOAT =>
        val d = v.asInstanceOf[Number].doubleValue
        if (d.isNaN) None else Some(d)
      case PrimitiveTypeName.DOUBLE =>
        val d = v.asInstanceOf[Number].doubleValue
        if (d.isNaN) None else Some(d)
      case PrimitiveTypeName.BOOLEAN => Some(v.asInstanceOf[Boolean].booleanValue)
      case PrimitiveTypeName.BINARY =>
        logical match {
          case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation =>
            Some(v.asInstanceOf[Binary].toStringUsingUTF8)
          case _ => None
        }
      case _ => None // INT96, FIXED_LEN_BYTE_ARRAY
    }
  }

  private def putVal(o: com.fasterxml.jackson.databind.node.ObjectNode,
                     name: String, v: Any): Unit = v match {
    case l: Long    => o.put(name, l)
    case d: Double  => o.put(name, d)
    case s: String  => o.put(name, s)
    case b: Boolean => o.put(name, b)
    case _ => () // null (all-null column) or BadStat: omit
  }
}
