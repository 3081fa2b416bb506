package graft.delta

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}
import scala.jdk.CollectionConverters._

/** Delta transaction-log actions.
  *
  * Mirrors the reference's action model (`rust/src/action.rs:706-721`, the
  * `Action` enum) with the exact Delta-protocol JSON field names (camelCase,
  * `rust/src/action.rs:146,368,504,608,661`). Serialization is hand-rolled on
  * Jackson's tree model for full control over optional-field omission — the
  * log is newline-delimited JSON, one wrapped action per line
  * (`{"add":{...}}`), see `rust/src/delta.rs:504-514`.
  */
sealed trait Action

/** A data file that is part of the table (`rust/src/action.rs:150-185`).
  *
  * `deletionVector` carries the Delta protocol's deletion-vector
  * descriptor VERBATIM (raw JSON): the file's deleted row positions as a
  * RoaringBitmap, inline or in a DV file ([[StandardDv]]). Graft's
  * merge-on-read DML writes it and every scan applies it
  * ([[DeletionVectors]]). */
final case class AddAction(
    path: String,
    size: Long,
    partitionValues: Map[String, String],
    modificationTime: Long,
    dataChange: Boolean,
    stats: Option[String] = None,
    tags: Option[Map[String, String]] = None,
    deletionVector: Option[String] = None,
    // row tracking (`rowTracking` writer feature): this file's rows carry
    // fresh row ids [baseRowId, baseRowId + numRecords), born at
    // defaultRowCommitVersion (see [[RowTracking]])
    baseRowId: Option[Long] = None,
    defaultRowCommitVersion: Option[Long] = None)
  extends Action

/** A tombstone for a removed file (`rust/src/action.rs:500-522`). */
final case class RemoveAction(
    path: String,
    deletionTimestamp: Long,
    dataChange: Boolean,
    extendedFileMetadata: Option[Boolean] = None,
    partitionValues: Option[Map[String, String]] = None,
    size: Option[Long] = None,
    tags: Option[Map[String, String]] = None)
  extends Action

/** Table format spec (`rust/src/action.rs:356-365`). */
final case class Format(provider: String = "parquet", options: Map[String, String] = Map.empty)

/** Table metadata; a new metaData action fully replaces the previous one
  * (`rust/src/action.rs:368-387`, applied at `rust/src/delta.rs:1434-1436`). */
final case class MetaDataAction(
    id: String,
    name: Option[String],
    description: Option[String],
    format: Format,
    schemaString: String,
    partitionColumns: Seq[String],
    createdTime: Option[Long],
    configuration: Map[String, String])
  extends Action

/** Streaming-writer idempotence token (`rust/src/action.rs:607-616`). */
final case class TxnAction(appId: String, version: Long, lastUpdated: Option[Long] = None)
  extends Action

/** Protocol version guard (`rust/src/action.rs:661-670`). The reference
  * predates table features; `readerFeatures`/`writerFeatures` (Delta
  * protocol, reader/writer version 3/7) round-trip here so
  * [[ProtocolSupport]] can refuse tables whose features graft does not
  * implement instead of silently mis-reading them. */
final case class ProtocolAction(
    minReaderVersion: Int = 1,
    minWriterVersion: Int = 2,
    readerFeatures: Option[Set[String]] = None,
    writerFeatures: Option[Set[String]] = None)
  extends Action

/** Freeform commit provenance (`rust/src/action.rs:719`: `commitInfo(Value)`). */
final case class CommitInfoAction(info: JsonNode) extends Action

/** A change-data file (Delta protocol `cdc` action; beyond the reference,
  * whose action enum at rust/src/action.rs:706-721 predates CDF). Carries
  * the row-level changes of ITS commit under `_change_data/`; never part of
  * table state (log replay ignores it, checkpoints exclude it). */
final case class CdcAction(
    path: String,
    size: Long,
    partitionValues: Map[String, String] = Map.empty,
    dataChange: Boolean = false)
  extends Action

/** Domain metadata (Delta protocol `domainMetadata` action, writer
  * feature `domainMetadata`; beyond the reference, whose action enum at
  * rust/src/action.rs:706-721 predates it). A named metadata domain whose
  * `configuration` is an opaque string (by convention serialized JSON —
  * e.g. the `delta.clustering` domain of liquid-clustered tables). The
  * latest action per domain wins; `removed=true` deletes the domain from
  * table state. */
final case class DomainMetadataAction(
    domain: String,
    configuration: String,
    removed: Boolean = false)
  extends Action

/** V2-checkpoint manifest marker (Delta protocol `v2Checkpoint` feature):
  * exactly one per v2 checkpoint file, naming the version the checkpoint
  * reconstructs. Never part of table state — checkpoint-structural only. */
final case class CheckpointMetadataAction(
    version: Long,
    tags: Option[Map[String, String]] = None)
  extends Action

/** V2-checkpoint sidecar reference: `path` names a parquet file under
  * `_delta_log/_sidecars/` holding this checkpoint's file actions
  * (add/remove). Checkpoint-structural only, never table state. */
final case class SidecarAction(
    path: String,
    sizeInBytes: Long,
    modificationTime: Long,
    tags: Option[Map[String, String]] = None)
  extends Action

/** Per-file statistics carried in `Add.stats` as embedded JSON
  * (`rust/src/action.rs:113-127`); min/max/nullCount values stay raw
  * `JsonNode`s because nested-struct stats recurse
  * (`ColumnValueStat`, `rust/src/action.rs:60-111`). */
final case class FileStats(
    numRecords: Long,
    minValues: Map[String, JsonNode],
    maxValues: Map[String, JsonNode],
    nullCount: Map[String, JsonNode])

object ActionCodec {
  val mapper = new ObjectMapper()
  private val nf = JsonNodeFactory.instance

  // ---------- serialization ----------

  private def strMap(m: Map[String, String]): ObjectNode = {
    val o = nf.objectNode()
    m.foreach { case (k, v) => if (v == null) o.putNull(k) else o.put(k, v) }
    o
  }

  def toNode(a: Action): ObjectNode = {
    val wrapper = nf.objectNode()
    a match {
      case add: AddAction =>
        val o = wrapper.putObject("add")
        o.put("path", ActionPath.encode(add.path))
        o.set[ObjectNode]("partitionValues", strMap(add.partitionValues))
        o.put("size", add.size)
        o.put("modificationTime", add.modificationTime)
        o.put("dataChange", add.dataChange)
        add.stats.foreach(o.put("stats", _))
        add.tags.foreach(t => o.set[ObjectNode]("tags", strMap(t)))
        add.deletionVector.foreach(dv => o.set[JsonNode]("deletionVector", mapper.readTree(dv)))
        add.baseRowId.foreach(o.put("baseRowId", _))
        add.defaultRowCommitVersion.foreach(o.put("defaultRowCommitVersion", _))
      case rm: RemoveAction =>
        val o = wrapper.putObject("remove")
        o.put("path", ActionPath.encode(rm.path))
        o.put("deletionTimestamp", rm.deletionTimestamp)
        o.put("dataChange", rm.dataChange)
        rm.extendedFileMetadata.foreach(o.put("extendedFileMetadata", _))
        rm.partitionValues.foreach(pv => o.set[ObjectNode]("partitionValues", strMap(pv)))
        rm.size.foreach(o.put("size", _))
        rm.tags.foreach(t => o.set[ObjectNode]("tags", strMap(t)))
      case md: MetaDataAction =>
        val o = wrapper.putObject("metaData")
        o.put("id", md.id)
        md.name.fold[Unit](o.putNull("name"))(o.put("name", _))
        md.description.fold[Unit](o.putNull("description"))(o.put("description", _))
        val f = o.putObject("format")
        f.put("provider", md.format.provider)
        f.set[ObjectNode]("options", strMap(md.format.options))
        o.put("schemaString", md.schemaString)
        val pc = o.putArray("partitionColumns")
        md.partitionColumns.foreach(pc.add)
        md.createdTime.foreach(o.put("createdTime", _))
        o.set[ObjectNode]("configuration", strMap(md.configuration))
      case tx: TxnAction =>
        val o = wrapper.putObject("txn")
        o.put("appId", tx.appId)
        o.put("version", tx.version)
        tx.lastUpdated.foreach(o.put("lastUpdated", _))
      case p: ProtocolAction =>
        val o = wrapper.putObject("protocol")
        o.put("minReaderVersion", p.minReaderVersion)
        o.put("minWriterVersion", p.minWriterVersion)
        p.readerFeatures.foreach { fs =>
          val arr = o.putArray("readerFeatures"); fs.toSeq.sorted.foreach(arr.add)
        }
        p.writerFeatures.foreach { fs =>
          val arr = o.putArray("writerFeatures"); fs.toSeq.sorted.foreach(arr.add)
        }
      case ci: CommitInfoAction =>
        wrapper.set[ObjectNode]("commitInfo", ci.info)
      case c: CdcAction =>
        val o = wrapper.putObject("cdc")
        o.put("path", ActionPath.encode(c.path))
        o.set[ObjectNode]("partitionValues", strMap(c.partitionValues))
        o.put("size", c.size)
        o.put("dataChange", c.dataChange)
      case d: DomainMetadataAction =>
        val o = wrapper.putObject("domainMetadata")
        o.put("domain", d.domain)
        o.put("configuration", d.configuration)
        o.put("removed", d.removed)
      case cm: CheckpointMetadataAction =>
        val o = wrapper.putObject("checkpointMetadata")
        o.put("version", cm.version)
        cm.tags.foreach(t => o.set[ObjectNode]("tags", strMap(t)))
      case sc: SidecarAction =>
        val o = wrapper.putObject("sidecar")
        o.put("path", sc.path)
        o.put("sizeInBytes", sc.sizeInBytes)
        o.put("modificationTime", sc.modificationTime)
        sc.tags.foreach(t => o.set[ObjectNode]("tags", strMap(t)))
    }
    wrapper
  }

  def toJsonLine(a: Action): String = mapper.writeValueAsString(toNode(a))

  /** Newline-joined log entry, mirroring `log_entry_from_actions`
    * (`rust/src/delta.rs:1407-1416`). */
  def logEntry(actions: Seq[Action]): String = actions.map(toJsonLine).mkString("\n")

  // ---------- deserialization ----------

  /** Required-field access with a diagnosable error instead of an NPE
    * (malformed wire data must name the missing field). */
  private def reqStr(n: JsonNode, action: String, f: String): String =
    Option(n.get(f)).filterNot(_.isNull).map(_.asText).getOrElse(
      throw new IllegalArgumentException(s"malformed $action action: missing field '$f'"))
  private def reqLong(n: JsonNode, action: String, f: String): Long =
    Option(n.get(f)).filterNot(_.isNull).map(_.asLong).getOrElse(
      throw new IllegalArgumentException(s"malformed $action action: missing field '$f'"))

  private def optStr(n: JsonNode, f: String): Option[String] =
    Option(n.get(f)).filterNot(_.isNull).map(_.asText)
  private def optLong(n: JsonNode, f: String): Option[Long] =
    Option(n.get(f)).filterNot(_.isNull).map(_.asLong)
  private def optBool(n: JsonNode, f: String): Option[Boolean] =
    Option(n.get(f)).filterNot(_.isNull).map(_.asBoolean)
  private def strMapOf(n: JsonNode): Map[String, String] =
    n.properties().asScala.map(e =>
      e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText)).toMap
  private def optStrMap(n: JsonNode, f: String): Option[Map[String, String]] =
    Option(n.get(f)).filterNot(_.isNull).map(strMapOf)

  def fromNode(wrapper: JsonNode): Option[Action] = {
    val it = wrapper.properties().asScala.iterator
    if (!it.hasNext) return None
    val e = it.next()
    val n = e.getValue
    e.getKey match {
      case "add" => Some(AddAction(
        path = ActionPath.decode(reqStr(n, "add", "path")),
        size = optLong(n, "size").getOrElse(0L),
        partitionValues = optStrMap(n, "partitionValues").getOrElse(Map.empty),
        modificationTime = optLong(n, "modificationTime").getOrElse(0L),
        dataChange = optBool(n, "dataChange").getOrElse(true),
        stats = optStr(n, "stats"),
        tags = optStrMap(n, "tags"),
        deletionVector = Option(n.get("deletionVector")).filterNot(_.isNull)
          .map(_.toString),
        baseRowId = optLong(n, "baseRowId"),
        defaultRowCommitVersion = optLong(n, "defaultRowCommitVersion")))
      case "remove" => Some(RemoveAction(
        path = ActionPath.decode(reqStr(n, "remove", "path")),
        deletionTimestamp = optLong(n, "deletionTimestamp").getOrElse(0L),
        dataChange = optBool(n, "dataChange").getOrElse(true),
        extendedFileMetadata = optBool(n, "extendedFileMetadata"),
        partitionValues = optStrMap(n, "partitionValues"),
        size = optLong(n, "size"),
        tags = optStrMap(n, "tags")))
      case "metaData" => Some(MetaDataAction(
        id = reqStr(n, "metaData", "id"),
        name = optStr(n, "name"),
        description = optStr(n, "description"),
        format = Option(n.get("format")).map(f => Format(
          provider = optStr(f, "provider").getOrElse("parquet"),
          options = optStrMap(f, "options").getOrElse(Map.empty))).getOrElse(Format()),
        schemaString = reqStr(n, "metaData", "schemaString"),
        partitionColumns = Option(n.get("partitionColumns"))
          .map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil),
        createdTime = optLong(n, "createdTime"),
        configuration = optStrMap(n, "configuration").getOrElse(Map.empty)))
      case "txn" => Some(TxnAction(
        appId = reqStr(n, "txn", "appId"),
        version = reqLong(n, "txn", "version"),
        lastUpdated = optLong(n, "lastUpdated")))
      case "protocol" => Some(ProtocolAction(
        minReaderVersion = n.get("minReaderVersion").asInt,
        minWriterVersion = n.get("minWriterVersion").asInt,
        readerFeatures = Option(n.get("readerFeatures")).filterNot(_.isNull)
          .map(_.elements().asScala.map(_.asText).toSet),
        writerFeatures = Option(n.get("writerFeatures")).filterNot(_.isNull)
          .map(_.elements().asScala.map(_.asText).toSet)))
      case "commitInfo" => Some(CommitInfoAction(n))
      case "cdc" => Some(CdcAction(
        path = ActionPath.decode(reqStr(n, "cdc", "path")),
        size = optLong(n, "size").getOrElse(0L),
        partitionValues = optStrMap(n, "partitionValues").getOrElse(Map.empty),
        dataChange = optBool(n, "dataChange").getOrElse(false)))
      case "domainMetadata" => Some(DomainMetadataAction(
        domain = reqStr(n, "domainMetadata", "domain"),
        configuration = optStr(n, "configuration").getOrElse(""),
        removed = optBool(n, "removed").getOrElse(false)))
      case "checkpointMetadata" => Some(CheckpointMetadataAction(
        version = reqLong(n, "checkpointMetadata", "version"),
        tags = optStrMap(n, "tags")))
      case "sidecar" => Some(SidecarAction(
        path = reqStr(n, "sidecar", "path"),
        sizeInBytes = optLong(n, "sizeInBytes").getOrElse(0L),
        modificationTime = optLong(n, "modificationTime").getOrElse(0L),
        tags = optStrMap(n, "tags")))
      case _ => None // forward compatibility: unknown action types are ignored
    }
  }

  def fromJsonLine(line: String): Option[Action] =
    fromNode(mapper.readTree(line))

  // ---------- stats ----------

  private def nodeMapOf(n: JsonNode): Map[String, JsonNode] =
    n.properties().asScala.map(e => e.getKey -> e.getValue).toMap

  /** Tolerant parse: malformed stats degrade to None (the reference's
    * `get_stats` returns a Result the callers treat as optional —
    * `rust/src/delta.rs:837-843`); one corrupt Add must not poison the
    * snapshot-wide fold. */
  def statsFromJson(json: String): Option[FileStats] = {
    val n = try mapper.readTree(json) catch { case _: Exception => return None }
    if (n == null || !n.isObject) return None
    optLong(n, "numRecords").map { nr =>
      FileStats(
        numRecords = nr,
        minValues = Option(n.get("minValues")).filterNot(_.isNull).map(nodeMapOf).getOrElse(Map.empty),
        maxValues = Option(n.get("maxValues")).filterNot(_.isNull).map(nodeMapOf).getOrElse(Map.empty),
        nullCount = Option(n.get("nullCount")).filterNot(_.isNull).map(nodeMapOf).getOrElse(Map.empty))
    }
  }

  def statsToJson(s: FileStats): String = {
    val o = nf.objectNode()
    o.put("numRecords", s.numRecords)
    def put(field: String, m: Map[String, JsonNode]): Unit = {
      val t = o.putObject(field)
      m.foreach { case (k, v) => t.set[JsonNode](k, v) }
    }
    put("minValues", s.minValues)
    put("maxValues", s.maxValues)
    put("nullCount", s.nullCount)
    mapper.writeValueAsString(o)
  }
}
