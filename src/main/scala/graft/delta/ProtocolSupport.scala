package graft.delta

/** A table demands protocol capabilities this engine does not implement. */
final class UnsupportedProtocolException(msg: String)
  extends RuntimeException(msg)

/** Delta protocol capability fence.
  *
  * The reference tracks `min_reader_version`/`min_writer_version`
  * (rust/src/delta.rs:1430-1432) but never refuses a table, which on any
  * post-table-features input silently mis-reads: a delta-spark DV table's
  * deleted rows resurface (the `add.deletionVector` descriptor is dropped
  * on parse), and a column-mapping table scans by logical name against
  * physically renamed parquet columns (all nulls). The protocol's contract
  * is the opposite — a reader/writer MUST refuse versions and features it
  * does not implement. This object is that refusal, called on every scan
  * ([[GraftFileIndex]]), change-feed read, and commit
  * ([[OptimisticTransaction]]).
  *
  * What graft implements:
  *  - reader 1-2, except column mapping (`delta.columnMapping.mode` other
  *    than `none` — a reader-2 capability graft lacks);
  *  - reader 3 with an explicit feature list ⊆ [[SupportedReaderFeatures]].
  *    A reader-3 protocol with NO list is refused: the spec forbids it, and
  *    the only writer of that shape was graft's retired tag-format deletion
  *    vectors, whose tags no longer read — serving such a table would
  *    resurrect its deleted rows. A list naming that retired format's
  *    private feature is refused like any unknown feature;
  *  - writer 1-4, refusing tables whose SCHEMA actually uses capabilities
  *    graft would not maintain (invariants, generated columns, identity
  *    columns — version gates alone are too coarse: delta-spark writes
  *    minWriter 4 for every CDF table whether or not generated columns
  *    exist);
  *  - writer 7 with features ⊆ supported writer set below.
  */
object ProtocolSupport {

  /** Reader-3 table features graft can serve correctly (`columnMapping`:
    * mode=name through the physical-schema scan path, mode=id via parquet
    * field-id matching on the same path, [[ColumnMapping]];
    * `deletionVectors`: descriptors feed the DV anti-join, [[StandardDv]]
    * + [[DeletionVectors.dvDf]]; `typeWidening`: widened tables carry
    * NARROW parquet under a WIDE schema; Spark 4's parquet readers upcast
    * natively (probe pinned in TypeWideningSpec), so both the scan and
    * appends (which write the wide type alongside) are correct as-is). */
  val SupportedReaderFeatures: Set[String] =
    Set("timestampNtz", "columnMapping", "deletionVectors",
      "v2Checkpoint", "typeWidening",
      "vacuumProtocolCheck", "variantType", "variantType-preview")

  /** Writer-7 table features graft maintains on write. `invariants` and
    * `generatedColumns` are ENFORCED per-row inside every write job
    * ([[Constraints.enforce]] — invariant/generation expressions from the
    * schema's field metadata), so declaring tables commit safely.
    * `domainMetadata`: domains replay into snapshot state, survive every
    * checkpoint, and concurrent same-domain writes conflict
    * ([[OptimisticTransaction]]). `clustering` (liquid-clustered tables):
    * correct writing means preserving the `delta.clustering` domain —
    * which domain replay + checkpointing do; clustering itself is a
    * best-effort layout property (appends need not cluster; OPTIMIZE
    * re-clusters). */
  val SupportedWriterFeatures: Set[String] =
    Set("appendOnly", "invariants", "checkConstraints", "changeDataFeed",
      "timestampNtz", "deletionVectors",
      "generatedColumns", "domainMetadata", "clustering", "v2Checkpoint",
      "inCommitTimestamp", "identityColumns", "typeWidening",
      "vacuumProtocolCheck", "variantType", "variantType-preview",
      "rowTracking",
      // commits route through the named coordinator ([[CoordinatedCommits]]);
      // assertWritable separately refuses when that coordinator is not
      // registered in this process
      CoordinatedCommits.Feature, CoordinatedCommits.FeatureBare)

  private def config(snap: Snapshot): Map[String, String] =
    snap.metadata.map(_.configuration).getOrElse(Map.empty)

  private def schemaString(snap: Snapshot): String =
    snap.metadata.map(_.schemaString).getOrElse("")

  /** The deletion-vector format graft wrote before it adopted the
    * protocol's descriptors: positions in parquet directories named by Add
    * tags, fenced by a bare reader-3 protocol. No longer read. */
  private val RetiredDvFormat = "retired tag-format deletion vectors"

  /** Refuse to SCAN a snapshot whose correct interpretation needs reader
    * capabilities graft lacks. Metadata-level access (history, inspect)
    * stays open — no data rows are served there. */
  def assertReadable(snap: Snapshot): Unit = {
    if (snap.minReaderVersion > 3)
      refuse(s"requires reader version ${snap.minReaderVersion} " +
        "(graft supports up to 3)")
    if (snap.minReaderVersion == 3) {
      val features = snap.readerFeatures.getOrElse(refuse(
        "declares reader version 3 without a reader feature list, the " +
        s"protocol of graft's $RetiredDvFormat (no longer read: serving " +
        "the table would resurrect its deleted rows)"))
      val unsupported = features -- SupportedReaderFeatures
      if (unsupported.nonEmpty)
        refuse(s"requires reader table features ${unsupported.toSeq.sorted
          .mkString("[", ", ", "]")} that graft does not implement" +
          (if (unsupported.exists(_.startsWith("graft."))) s" (graft's $RetiredDvFormat)"
           else ""))
    }
    // mode=name scans through the physical-schema path (ColumnMapping);
    // mode=id rides the same path with parquet field-id matching
    // (ColumnMapping.readSchema); anything else is unknown territory
    val mapping = ColumnMapping.mode(config(snap))
    if (mapping != "none" && mapping != "name" && mapping != "id")
      refuse(s"uses column mapping mode '$mapping': graft reads " +
        "name- and id-mapped tables only")
  }

  /** Refuse to COMMIT to a table whose invariants graft would not
    * maintain. Implies [[assertReadable]] (writing requires reading).
    *
    * `allowNameMapping`: set ONLY by writers that stage data under the
    * table's PHYSICAL column names ([[GraftWriter]] append/overwrite via
    * [[ColumnMapping.toPhysical]]). Every other commit path — DML,
    * OPTIMIZE, DDL, the streaming sink — defaults to refusing mapped
    * tables: a logical-named data file in a mapped table scans as nulls. */
  def assertWritable(snap: Snapshot, allowNameMapping: Boolean = false): Unit = {
    assertReadable(snap)
    if (snap.minWriterVersion > 7)
      refuse(s"requires writer version ${snap.minWriterVersion} " +
        "(graft supports up to 7)")
    if (snap.minWriterVersion == 7) {
      val tolerated = if (allowNameMapping) Set("columnMapping") else Set.empty[String]
      val unsupported = snap.writerFeatures.getOrElse(Set.empty) --
        SupportedWriterFeatures -- tolerated
      if (unsupported.nonEmpty)
        refuse(s"requires writer table features ${unsupported.toSeq.sorted
          .mkString("[", ", ", "]")} that graft does not maintain")
    }
    // writer 5 (column mapping) and 6 (identity columns) are maintained:
    // mapping misuse is fenced by the mode check below, and identity
    // columns generate + advance their high-water mark in every insert
    // path (IdentityColumns) — no version refusal between 4 and 7 remains.
    // version gates are coarse; refuse on ACTUAL use of unmaintained
    // capabilities. The markers are schema-metadata keys (delta-spark
    // conventions) inside metaData.schemaString.
    if (ColumnMapping.mode(config(snap)) != "none" && !allowNameMapping)
      refuse("uses column mapping: this write path does not stage data " +
        "under the table's physical column names (plain append/overwrite " +
        "through GraftWriter does)")
    // Coordinated tables are writable ONLY through their coordinator — a
    // filesystem-routed commit would fork history past the staged tail.
    // Readable regardless (writer feature: the backfilled view is legal).
    CoordinatedCommits.coordinatorNameOf(config(snap)).foreach { name =>
      if (CommitCoordinatorProvider.lookup(name).isEmpty)
        refuse(s"commits route through commit coordinator '$name', which " +
          "is not registered in this process " +
          "(CommitCoordinatorProvider.register)")
    }
    // column invariants and generated columns are maintained: enforced
    // per-row in every write job (Constraints.enforce), generated values
    // computed when the frame omits them (Constraints.withGenerated).
    // Identity columns are maintained too: values generated and high-water
    // marks advanced by every insert path (IdentityColumns).
  }

  /** Row-level feeds (CDF reads, `graft_changes`): name-mapped tables are
    * served (the feed scans physical and aliases back to logical, same as
    * the table scan), so this is currently [[assertReadable]] — kept as
    * the feeds' dedicated fence point. */
  def assertRowFeedReadable(snap: Snapshot): Unit =
    assertReadable(snap)

  /** Incremental-feed fence ([[RewriteFence]]): one COMMIT's actions must
    * not flip the table into capability territory the running stream cannot
    * serve. Cheap (no snapshot replay) — inspects only the commit.
    * `allowNameMapping` is set by feeds that ALREADY serve the table as
    * name-mapped (they scan physical and alias): for them a mode=name
    * metadata action is the table's standing state, not a mid-stream flip
    * (physical names are immutable once assigned, so logical renames do
    * not invalidate in-flight physical scans). */
  def assertCommitServable(tablePath: String, version: Long,
                           actions: Seq[Action],
                           allowNameMapping: Boolean = false,
                           declaredSchema: Option[org.apache.spark.sql.types.StructType] = None): Unit =
    actions.foreach {
      case p: ProtocolAction =>
        assertReadable(Snapshot(
          minReaderVersion = p.minReaderVersion,
          readerFeatures = p.readerFeatures))
      case m: MetaDataAction
          if ColumnMapping.mode(m.configuration) != "none" &&
            !(allowNameMapping &&
              Set("name", "id").contains(ColumnMapping.mode(m.configuration))) =>
        refuse(s"commit $version of $tablePath enables column mapping " +
          "mid-stream; files written after it would scan as nulls through " +
          "the stream's fixed logical schema")
      case m: MetaDataAction if declaredSchema.isDefined =>
        // a mid-stream DROP/RENAME/RETYPE of a column the stream's fixed
        // schema still reads would serve silent nulls from every file
        // written after it; additive evolution is fine (the scan simply
        // does not read the new column)
        scala.util.Try(DeltaSchema.fromJson(m.schemaString)).toOption.foreach { ns =>
          val newTypes = ns.fields
            .map(f => f.name -> DeltaSchema.structural(f.dataType)).toMap
          declaredSchema.get.fields.foreach { f =>
            newTypes.get(f.name) match {
              case Some(t) if t == DeltaSchema.structural(f.dataType) => ()
              case Some(_) => refuse(
                s"commit $version of $tablePath retypes column ${f.name} " +
                "under a running stream's fixed schema — restart the stream")
              case None => refuse(
                s"commit $version of $tablePath drops or renames column " +
                s"${f.name} that a running stream's fixed schema still " +
                "reads — restart the stream with the new schema")
            }
          }
        }
      case _ => ()
    }

  /** Writer features implied by a legacy writer version (Delta PROTOCOL.md
    * upgrade rule: a table moving to writer 7 must NAME every capability
    * the legacy version granted implicitly, or foreign writers would stop
    * honoring e.g. append-only). */
  def impliedWriterFeatures(minWriter: Int): Set[String] =
    if (minWriter >= 7) Set.empty // features table: the LIST is the law
    else Seq(
      2 -> Set("appendOnly", "invariants"),
      3 -> Set("checkConstraints"),
      4 -> Set("changeDataFeed", "generatedColumns"),
      5 -> Set("columnMapping"),
      6 -> Set("identityColumns"))
      .filter(_._1 <= minWriter).flatMap(_._2).toSet

  /** Protocol action lifting `snap`'s protocol to writer 7 with `feature`
    * declared, carrying the legacy-implied features along — or None when
    * the table already declares it. Emitted by the first commit that uses
    * a table-features-gated capability (e.g. domain metadata). */
  def writerFeatureFence(snap: Snapshot, feature: String): Option[ProtocolAction] =
    if (snap.minWriterVersion == 7 && snap.writerFeatures.exists(_.contains(feature)))
      None
    else Some(ProtocolAction(
      math.max(snap.minReaderVersion, 1), 7,
      snap.readerFeatures,
      Some(snap.writerFeatures.getOrElse(Set.empty) ++
        impliedWriterFeatures(snap.minWriterVersion) + feature)))

  /** Fold several writer features onto a protocol action (e.g. the
    * clustering + domainMetadata pair of a CLUSTER BY declaration). */
  def writerFeaturesFence(base: ProtocolAction, features: Seq[String]): ProtocolAction =
    features.foldLeft(base) { (p, f) =>
      writerFeatureFence(Snapshot(
        minReaderVersion = p.minReaderVersion,
        minWriterVersion = p.minWriterVersion,
        readerFeatures = p.readerFeatures,
        writerFeatures = p.writerFeatures), f).getOrElse(p)
    }

  /** As [[writerFeatureFence]], for a reader+writer feature (e.g.
    * `v2Checkpoint`): lifts to (3, 7) with the feature declared on both
    * sides. The reader base set preserves what the previous protocol
    * granted implicitly — reader 2 implied columnMapping. */
  def readerWriterFeatureFence(snap: Snapshot, feature: String): Option[ProtocolAction] = {
    val hasReader = snap.minReaderVersion == 3 &&
      snap.readerFeatures.exists(_.contains(feature))
    val hasWriter = snap.minWriterVersion == 7 &&
      snap.writerFeatures.exists(_.contains(feature))
    if (hasReader && hasWriter) None
    else {
      val baseReader = snap.readerFeatures.getOrElse(
        if (snap.minReaderVersion == 2) Set("columnMapping")
        else Set.empty[String])
      Some(ProtocolAction(3, 7,
        Some(baseReader + feature),
        Some(snap.writerFeatures.getOrElse(Set.empty) ++
          impliedWriterFeatures(snap.minWriterVersion) + feature)))
    }
  }

  /** Fold every property-gated protocol fence — deletion vectors, v2
    * checkpoints, in-commit timestamps — over a starting protocol.
    * Returns the resulting protocol; callers commit it when it differs
    * from the base (ALTER) or always (CREATE floor). One fold, one
    * action: separate per-fence actions in a commit would
    * last-write-wins drop features. */
  def configFences(config: Map[String, String],
                   base: ProtocolAction,
                   schema: Option[org.apache.spark.sql.types.StructType] = None)
      : ProtocolAction = {
    var p = base
    def snapOf(pa: ProtocolAction): Snapshot = Snapshot(
      minReaderVersion = pa.minReaderVersion,
      minWriterVersion = pa.minWriterVersion,
      readerFeatures = pa.readerFeatures,
      writerFeatures = pa.writerFeatures)
    // deletion vectors: readers that cannot apply the descriptors must
    // refuse the table, not resurrect its deleted rows
    if (TableConfig.deletionVectorsEnabled(config))
      readerWriterFeatureFence(snapOf(p), "deletionVectors").foreach(np => p = np)
    if (TableConfig.checkpointPolicy(config) == "v2")
      readerWriterFeatureFence(snapOf(p), "v2Checkpoint").foreach(np => p = np)
    if (TableConfig.inCommitTimestampsEnabled(config))
      writerFeatureFence(snapOf(p), "inCommitTimestamp").foreach(np => p = np)
    // naming a commit coordinator gates the coordinatedCommits feature
    if (CoordinatedCommits.isCoordinated(config))
      writerFeatureFence(snapOf(p), CoordinatedCommits.Feature).foreach(np => p = np)
    // variant columns are a SCHEMA-gated feature (reader+writer)
    if (schema.exists(DeltaSchema.hasVariant))
      readerWriterFeatureFence(snapOf(p), "variantType").foreach(np => p = np)
    // so is timestamp_ntz (round 11: NTZ persists at rest; a legacy
    // reader must refuse the primitive rather than misread it as tz-aware)
    if (schema.exists(DeltaSchema.hasTimestampNtz))
      readerWriterFeatureFence(snapOf(p), "timestampNtz").foreach(np => p = np)
    // row tracking rides domain metadata (the high-water mark domain)
    if (TableConfig.rowTrackingEnabled(config))
      p = writerFeaturesFence(p, Seq("domainMetadata", RowTracking.Feature))
    // generated / identity columns are SCHEMA-gated writer capabilities
    // (legacy floors 4 / 6, named on features tables) — fencing here covers
    // every surface that can introduce them via a schema change (replace,
    // mergeSchema evolution, catalog DDL), not just CREATE (r12 review:
    // a schema-replacing overwrite that introduced identity columns left
    // the table at its old floor, letting legacy foreign writers append
    // without honoring generation)
    schema.foreach { sch =>
      val hasGen = Constraints.generatedOf(sch).nonEmpty
      val hasId = IdentityColumns.of(sch).nonEmpty
      if (hasGen || hasId) {
        if (p.minWriterVersion >= 7)
          p = writerFeaturesFence(p,
            (if (hasGen) Seq("generatedColumns") else Nil) ++
              (if (hasId) Seq("identityColumns") else Nil))
        else {
          val floor = math.max(if (hasId) 6 else 0, if (hasGen) 4 else 0)
          if (p.minWriterVersion < floor) p = p.copy(minWriterVersion = floor)
        }
      }
    }
    // legacy writer-version floors (Delta spec): CHECK constraints demand
    // writer >= 3, change data feed writer >= 4 — a (1,2) table carrying
    // either property would let legacy foreign writers violate the
    // constraint / skip change capture silently. On a features table the
    // capability must be NAMED instead.
    val wantsCdf = TableConfig.changeDataFeedEnabled(config)
    val wantsConstraints = config.keys.exists(_.startsWith(Constraints.Prefix))
    if (wantsCdf || wantsConstraints) {
      if (p.minWriterVersion >= 7)
        p = writerFeaturesFence(p,
          (if (wantsCdf) Seq("changeDataFeed") else Nil) ++
            (if (wantsConstraints) Seq("checkConstraints") else Nil))
      else {
        val floor = math.max(if (wantsCdf) 4 else 0,
          if (wantsConstraints) 3 else 0)
        if (p.minWriterVersion < floor) p = p.copy(minWriterVersion = floor)
      }
    }
    p
  }

  /** Property prefix of the feature-enable DDL idiom
    * (`ALTER TABLE ... SET TBLPROPERTIES ('delta.feature.<name>'='supported')`,
    * delta-spark's shape; reference protocol doc: PROTOCOL.md table
    * features). The key is protocol DDL, not table configuration — it
    * drives a protocol action and is never persisted in `configuration`. */
  val FeaturePropPrefix = "delta.feature."

  /** Fold `delta.feature.<name>=supported` entries over a protocol: lift
    * to table-features form with each name declared — both lists for
    * reader-writer features, the writer list alone otherwise. Refuses
    * features graft could not then honor (the ⊆-supported-set fence the
    * writers already enforce would trip on the very next commit). */
  def featureFences(featProps: Map[String, String],
                    base: ProtocolAction): ProtocolAction =
    featProps.toSeq.sortBy(_._1).foldLeft(base) { case (p, (k, v)) =>
      val name = k.stripPrefix(FeaturePropPrefix)
      require(v.trim.equalsIgnoreCase("supported"),
        s"$k: the only meaningful value is 'supported', got '$v'")
      val snap = Snapshot(
        minReaderVersion = p.minReaderVersion,
        minWriterVersion = p.minWriterVersion,
        readerFeatures = p.readerFeatures,
        writerFeatures = p.writerFeatures)
      if (SupportedReaderFeatures.contains(name))
        readerWriterFeatureFence(snap, name).getOrElse(p)
      else if (SupportedWriterFeatures.contains(name))
        writerFeatureFence(snap, name).getOrElse(p)
      else refuse(s"cannot declare table feature '$name': graft does not " +
        s"implement it (supported: ${
          (SupportedReaderFeatures ++ SupportedWriterFeatures).toSeq.sorted
            .mkString(", ")})")
    }

  private def refuse(why: String): Nothing =
    throw new UnsupportedProtocolException(s"unsupported Delta table: $why")
}
