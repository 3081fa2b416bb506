package graft.delta

import java.util.UUID

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, MetadataBuilder, StructField, StructType}

/** Column-mapping DDL — the AUTHORING side of [[ColumnMapping]].
  *
  * [[ColumnMapping]] reads and maintains tables that already carry
  * `delta.columnMapping.mode`; this object is how a table gets there and
  * why a user wants it to: once every field owns a stable physical name,
  * RENAME COLUMN and DROP COLUMN become metadata-only commits — no data
  * file is touched at any scale, the whole point of the protocol feature
  * (the reference, delta-rs v0.4.1, predates column mapping entirely; the
  * semantics here follow the Delta protocol's column-mapping section and
  * delta-spark's observable behavior).
  *
  * Upgrade semantics ([[enableNameMapping]]): every field at every nesting
  * level gets `delta.columnMapping.id` (a fresh counter continuing from
  * `delta.columnMapping.maxColumnId`) and
  * `delta.columnMapping.physicalName` equal to its CURRENT name — existing
  * files were written under those names, so the flip is metadata-only and
  * instantly correct. Columns added AFTER the upgrade get `col-<uuid>`
  * physical names ([[allocateField]], used by ALTER ADD COLUMNS and
  * mergeSchema). Only `none → name` is supported: `id` mode demands parquet
  * footer field ids that pre-upgrade files do not carry, and downgrades
  * would flip at-rest physical names into unresolvable logical ones.
  *
  * RENAME/DROP refuse when a CHECK constraint mentions the column (the
  * stored SQL text would silently dangle), when the target is a partition
  * column (DROP only — its values key every `add.partitionValues`), and on
  * unmapped tables (without stable physical names a rename would orphan
  * every existing file's columns).
  */
object ColumnMappingDdl {

  val MaxColumnIdKey = "delta.columnMapping.maxColumnId"

  def maxColumnId(config: Map[String, String]): Long =
    config.get(MaxColumnIdKey).map(_.trim.toLong).getOrElse(0L)

  /** The protocol floor column mapping demands: legacy reader 2 / writer 5,
    * or the `columnMapping` feature on BOTH lists of a table-features
    * protocol. */
  private def protocolBump(snap: Snapshot): Option[ProtocolAction] = {
    val r = snap.minReaderVersion
    val w = snap.minWriterVersion
    if (w >= 7 || snap.writerFeatures.isDefined)
      Some(ProtocolAction(3, 7,
        Some(snap.readerFeatures.getOrElse(Set.empty) + "columnMapping"),
        Some(snap.writerFeatures.getOrElse(Set.empty) + "columnMapping")))
    else if (r >= 2 && w >= 5) None
    else Some(ProtocolAction(math.max(r, 2), math.max(w, 5),
      snap.readerFeatures, snap.writerFeatures))
  }

  /** Upgrade `delta.columnMapping.mode` `none → name` in one metadata
    * commit (idempotent when already `name`). */
  def enableNameMapping(spark: SparkSession, path: String): Long = {
    val log = DeltaLog.forPath(spark, path)
    val snap = log.update()
    if (snap.version < 0) throw new NotATableException(path)
    ColumnMapping.mode(snap) match {
      case "none" => ()
      case "name" => return snap.version
      case other => throw new UnsupportedProtocolException(
        s"unsupported Delta table: cannot change column mapping mode " +
        s"'$other' to 'name' (only none → name upgrades exist: id-mode " +
        "files resolve by footer field ids the name path cannot synthesize)")
    }
    // the capability sniff still applies — an upgrade must not smuggle a
    // table with generated/identity columns past the write fence
    ProtocolSupport.assertWritable(snap)
    val md = snap.metadata.getOrElse(throw new IllegalStateException(
      s"table ${log.tablePath} has no metadata"))

    var nextId = maxColumnId(md.configuration)
    def assignField(f: StructField): StructField = {
      val mb = new MetadataBuilder().withMetadata(f.metadata)
      if (!f.metadata.contains(ColumnMapping.FieldIdKey)) {
        nextId += 1
        mb.putLong(ColumnMapping.FieldIdKey, nextId)
      }
      if (!f.metadata.contains(ColumnMapping.PhysicalNameKey))
        // existing files carry the logical names — keep them physical
        mb.putString(ColumnMapping.PhysicalNameKey, f.name)
      f.copy(dataType = assignType(f.dataType), metadata = mb.build())
    }
    def assignType(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(assignField))
      case a: ArrayType => a.copy(elementType = assignType(a.elementType))
      case m: MapType => m.copy(keyType = assignType(m.keyType),
        valueType = assignType(m.valueType))
      case other => other
    }
    val annotated = StructType(snap.schema.fields.map(assignField))

    commitMeta(log, snap,
      md.copy(
        schemaString = DeltaSchema.toJson(annotated),
        configuration = md.configuration +
          (ColumnMapping.ModeKey -> "name") + (MaxColumnIdKey -> nextId.toString)),
      "SET TBLPROPERTIES",
      Map("properties" -> s"${ColumnMapping.ModeKey}=name"),
      protocolBump(snap))
  }

  /** RENAME COLUMN (metadata-only; `from` may be a dotted path into
    * structs, `to` is the new leaf name). Physical name and field id are
    * untouched — every existing file keeps resolving. */
  def renameColumn(spark: SparkSession, path: String,
                   from: String, to: String): Long = {
    require(!to.contains('.') && to.trim.nonEmpty, s"invalid new name '$to'")
    val (log, snap, md) = mappedTarget(spark, path, s"rename column $from")
    guardConstraintRefs(md.configuration, from, "rename")
    val segs = split(from)
    val renamed = rewriteAt(snap.schema, segs, from) { (parent, idx) =>
      val dup = parent.fields.zipWithIndex.exists { case (f, i) =>
        i != idx && f.name.equalsIgnoreCase(to)
      }
      if (dup) throw new IllegalArgumentException(
        s"cannot rename $from to $to: a sibling column named $to exists")
      parent.fields.updated(idx, parent.fields(idx).copy(name = to))
    }
    val newParts =
      if (segs.length == 1)
        snap.partitionColumns.map(c => if (c.equalsIgnoreCase(segs.head)) to else c)
      else snap.partitionColumns
    commitMeta(log, snap,
      md.copy(schemaString = DeltaSchema.toJson(renamed),
        partitionColumns = newParts),
      "RENAME COLUMN", Map("from" -> from, "to" -> to))
  }

  /** DROP COLUMN (metadata-only): the field leaves the schema; its bytes
    * stay in the files, invisible to every scan (physical columns not in
    * the read schema are simply never read — no rewrite at any scale). */
  def dropColumn(spark: SparkSession, path: String, colName: String): Long = {
    val (log, snap, md) = mappedTarget(spark, path, s"drop column $colName")
    guardConstraintRefs(md.configuration, colName, "drop")
    val segs = split(colName)
    if (segs.length == 1 && snap.partitionColumns.exists(_.equalsIgnoreCase(segs.head)))
      throw new IllegalArgumentException(
        s"cannot drop partition column $colName: its values key every " +
        "file's partitionValues")
    val pruned = rewriteAt(snap.schema, segs, colName) { (parent, idx) =>
      val rest = parent.fields.patch(idx, Nil, 1)
      if (rest.isEmpty) throw new IllegalArgumentException(
        s"cannot drop $colName: it is the last column of its struct")
      rest
    }
    commitMeta(log, snap,
      md.copy(schemaString = DeltaSchema.toJson(pruned)),
      "DROP COLUMN", Map("column" -> colName))
  }

  /** Annotate a NEW field (ALTER ADD COLUMNS / mergeSchema on a mapped
    * table): fresh `col-<uuid>` physical names and sequential ids at every
    * nesting level, pre-order. Returns the annotated field and the new
    * max column id. */
  def allocateField(field: StructField, startId: Long): (StructField, Long) = {
    var next = startId
    def one(f: StructField): StructField = {
      next += 1
      val mb = new MetadataBuilder().withMetadata(f.metadata)
        .putLong(ColumnMapping.FieldIdKey, next)
        .putString(ColumnMapping.PhysicalNameKey, s"col-${UUID.randomUUID()}")
      f.copy(dataType = walk(f.dataType), metadata = mb.build())
    }
    def walk(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(one))
      case a: ArrayType => a.copy(elementType = walk(a.elementType))
      case m: MapType => m.copy(keyType = walk(m.keyType),
        valueType = walk(m.valueType))
      case other => other
    }
    (one(field), next)
  }

  /** A BRAND-NEW table (or schema-replacing overwrite) whose declared
    * configuration enables column mapping: no files exist yet, so every
    * field gets a fresh `col-<uuid>` physical name + id up front
    * (delta-spark's create-with-mapping shape; both modes work because
    * the very first staged file already carries the right names/footer
    * ids). Returns the annotated schema, the configuration with
    * `maxColumnId`, and the protocol floor — passthrough when the
    * configuration declares no mapping. */
  def forCreate(schema: StructType, config: Map[String, String])
      : (StructType, Map[String, String], (Int, Int)) = {
    val mode = ColumnMapping.mode(config)
    if (mode != "name" && mode != "id") return (schema, config, (1, 2))
    var maxId = maxColumnId(config)
    val fields = schema.fields.map { f =>
      val (af, nid) = allocateField(f, maxId); maxId = nid; af
    }
    (StructType(fields), config + (MaxColumnIdKey -> maxId.toString), (2, 5))
  }

  // ----------------------------------------------------------- internals

  private def split(col: String): Seq[String] = {
    val segs = col.split('.').toSeq.map(_.trim)
    require(segs.nonEmpty && segs.forall(_.nonEmpty), s"invalid column path '$col'")
    segs
  }

  private def mappedTarget(spark: SparkSession, path: String,
                           what: String): (DeltaLog, Snapshot, MetaDataAction) = {
    val log = DeltaLog.forPath(spark, path)
    val snap = log.update()
    if (snap.version < 0) throw new NotATableException(path)
    ProtocolSupport.assertWritable(snap, allowNameMapping = true)
    if (!ColumnMapping.isMapped(snap))
      throw new UnsupportedProtocolException(
        s"unsupported Delta table: cannot $what without column mapping — " +
        "existing files resolve columns by name at rest. Enable it first: " +
        "ALTER TABLE ... SET TBLPROPERTIES " +
        s"('${ColumnMapping.ModeKey}' = 'name')")
    (log, snap,
      snap.metadata.getOrElse(throw new IllegalStateException(
        s"table ${log.tablePath} has no metadata")))
  }

  /** Refuse when a stored CHECK constraint's SQL text mentions the leaf
    * name (word-boundary, case-insensitive — conservative on purpose: a
    * false positive blocks with a clear message, a false negative leaves a
    * dangling constraint that fails every future write). */
  private def guardConstraintRefs(config: Map[String, String],
                                  col: String, verb: String): Unit = {
    val leaf = java.util.regex.Pattern.quote(split(col).last)
    val re = ("(?i)(?<![A-Za-z0-9_`])" + leaf + "(?![A-Za-z0-9_`])").r
    config.collect {
      case (k, v) if k.startsWith(Constraints.Prefix) &&
          re.findFirstIn(v).isDefined =>
        k.stripPrefix(Constraints.Prefix)
    }.toSeq.sorted match {
      case Nil => ()
      case hits => throw new IllegalArgumentException(
        s"cannot $verb $col: CHECK constraint(s) ${hits.mkString(", ")} " +
        "reference it — drop them first")
    }
  }

  /** Rewrite the struct containing the field at `segs`: `op(parent, idx)`
    * returns the parent's replacement field array. Struct nesting only —
    * array/map interiors have no protocol column path. */
  private def rewriteAt(schema: StructType, segs: Seq[String], full: String)
                       (op: (StructType, Int) => Array[StructField]): StructType = {
    def recurse(s: StructType, rest: Seq[String]): StructType = {
      val idx = s.fields.indexWhere(_.name.equalsIgnoreCase(rest.head))
      if (idx < 0) throw new IllegalArgumentException(
        s"no such column: $full (missing segment '${rest.head}')")
      if (rest.length == 1) StructType(op(s, idx))
      else s.fields(idx).dataType match {
        case inner: StructType =>
          StructType(s.fields.updated(idx,
            s.fields(idx).copy(dataType = recurse(inner, rest.tail))))
        case other => throw new IllegalArgumentException(
          s"$full: segment '${rest.head}' is ${other.simpleString}, not a struct")
      }
    }
    recurse(schema, segs)
  }

  private def commitMeta(log: DeltaLog, snap: Snapshot, md: MetaDataAction,
                         operation: String, params: Map[String, String],
                         protocol: Option[ProtocolAction] = None): Long = {
    val txn = log.startTransaction(snap)
    txn.permitNameMappedCommit()
    protocol.foreach(txn.addAction)
    txn.addAction(md)
    val info = ActionCodec.mapper.createObjectNode()
    info.put("timestamp", System.currentTimeMillis())
    info.put("operation", operation)
    val p = info.putObject("operationParameters")
    params.toSeq.sortBy(_._1).foreach { case (k, v) => p.put(k, v) }
    txn.commit(Some(CommitInfoAction(info)))
  }
}
