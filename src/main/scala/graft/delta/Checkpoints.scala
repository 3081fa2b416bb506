package graft.delta

import java.util.UUID
import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.JsonNode
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types._

/** Checkpoint parquet read/write.
  *
  * Layout mirrors the reference's checkpoint schema
  * (`rust/src/delta_arrow.rs:140-249`, written by
  * `rust/src/checkpoints.rs:104-248`): one nullable struct column per action
  * type (`txn`, `add`, `remove`, `metaData`, `protocol`; `commitInfo` is not
  * checkpointed — `rust/src/action.rs:765-767`), with `add` additionally
  * carrying typed `partitionValues_parsed` and `stats_parsed` structs
  * (string→typed per `typed_partition_value_from_string`,
  * `rust/src/checkpoints.rs:278-345`).
  */
object Checkpoints {

  // ------------------------------------------------------------ schema

  private val strMap = MapType(StringType, StringType, valueContainsNull = true)

  private def txnType = StructType(Seq(
    StructField("appId", StringType), StructField("version", LongType),
    StructField("lastUpdated", LongType)))

  private def removeType = StructType(Seq(
    StructField("path", StringType), StructField("deletionTimestamp", LongType),
    StructField("dataChange", BooleanType),
    StructField("extendedFileMetadata", BooleanType),
    StructField("partitionValues", strMap), StructField("size", LongType),
    StructField("tags", strMap)))

  private def metaDataType = StructType(Seq(
    StructField("id", StringType), StructField("name", StringType),
    StructField("description", StringType),
    StructField("format", StructType(Seq(
      StructField("provider", StringType), StructField("options", strMap)))),
    StructField("schemaString", StringType),
    StructField("partitionColumns", ArrayType(StringType)),
    StructField("configuration", strMap),
    StructField("createdTime", LongType)))

  private def protocolType = StructType(Seq(
    StructField("minReaderVersion", IntegerType),
    StructField("minWriterVersion", IntegerType),
    StructField("readerFeatures", ArrayType(StringType)),
    StructField("writerFeatures", ArrayType(StringType))))

  /** Partition-value string→typed conversion. The reference types only
    * string/long-family/boolean (`rust/src/checkpoints.rs:278-345`);
    * delta-spark additionally types date/timestamp/decimal/float/double
    * partitions — cover those too so foreign readers get a fully-typed
    * `partitionValues_parsed` on any partitioning graft writes. Others
    * stay untyped (null). */
  private def parsedPartitionType(dt: DataType): Option[DataType] = dt match {
    case StringType | LongType | IntegerType | ShortType | ByteType |
         BooleanType | DateType | TimestampType | DoubleType | FloatType => Some(dt)
    case d: DecimalType => Some(d)
    case _ => None
  }

  /** Stats values we materialize typed; everything else stays in the JSON
    * `stats` string only. */
  private def parsedStatsType(dt: DataType): Option[DataType] = dt match {
    case StringType | LongType | IntegerType | ShortType | ByteType |
         BooleanType | DoubleType | FloatType | DateType => Some(dt)
    case _ => None
  }

  private final case class SchemaInfo(
      dataFields: Seq[StructField],      // non-partition fields, typed-stat-able
      partitionFields: Seq[StructField], // partition fields, typed-partition-able
      statsAsJson: Boolean)              // carry the raw stats string?

  private def schemaInfo(snap: Snapshot): SchemaInfo = {
    val md = snap.metadata
    val schema = Try(snap.schema).toOption.getOrElse(StructType(Nil))
    val partCols = md.map(_.partitionColumns).getOrElse(Nil).toSet
    val cfg = TableConfig.of(snap)
    SchemaInfo(
      // delta.checkpoint.writeStatsAsStruct=false drops the typed struct
      // (dataFields gate every stats_parsed site); writeStatsAsJson=false
      // drops the raw string — both shrink million-file checkpoints at the
      // cost of skipping answers for snapshots restored from them
      dataFields =
        if (!TableConfig.checkpointStatsAsStruct(cfg)) Nil
        else schema.fields.toSeq.filterNot(f => partCols.contains(f.name))
          .flatMap(f => parsedStatsType(f.dataType).map(t => StructField(f.name, t))),
      partitionFields = schema.fields.toSeq.filter(f => partCols.contains(f.name))
        .flatMap(f => parsedPartitionType(f.dataType).map(t => StructField(f.name, t))),
      statsAsJson = TableConfig.checkpointStatsAsJson(cfg))
  }

  /** `add.deletionVector` descriptor struct — field names and types per the
    * protocol's Deletion Vector Descriptor Schema (the delta-spark
    * checkpoint shape; nullable, null on non-DV adds). */
  private def dvType = StructType(Seq(
    StructField("storageType", StringType),
    StructField("pathOrInlineDv", StringType),
    StructField("offset", IntegerType),
    StructField("sizeInBytes", IntegerType),
    StructField("cardinality", LongType)))

  private def addType(info: SchemaInfo): StructType = {
    val base = Seq(
      StructField("path", StringType), StructField("partitionValues", strMap),
      StructField("size", LongType), StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType), StructField("stats", StringType),
      StructField("tags", strMap), StructField("deletionVector", dvType),
      StructField("baseRowId", LongType),
      StructField("defaultRowCommitVersion", LongType))
    val pvParsed =
      if (info.partitionFields.nonEmpty)
        Seq(StructField("partitionValues_parsed", StructType(info.partitionFields)))
      else Nil
    val statsParsed =
      if (info.dataFields.nonEmpty)
        Seq(StructField("stats_parsed", StructType(Seq(
          StructField("numRecords", LongType),
          StructField("minValues", StructType(info.dataFields)),
          StructField("maxValues", StructType(info.dataFields)),
          StructField("nullCount", StructType(
            info.dataFields.map(f => StructField(f.name, LongType))))))))
      else Nil
    StructType(base ++ pvParsed ++ statsParsed)
  }

  /** `domainMetadata` checkpoint struct (Delta protocol; delta-spark writes
    * the same three-field shape). Appended to the schema only when the
    * snapshot carries live domains, so plain tables keep the reference's
    * exact five-column layout (delta_arrow.rs:140-249). */
  private def domainMetadataType = StructType(Seq(
    StructField("domain", StringType),
    StructField("configuration", StringType),
    StructField("removed", BooleanType)))

  private def checkpointSchema(info: SchemaInfo, withDomains: Boolean): StructType = {
    val base = Seq(
      StructField("txn", txnType), StructField("add", addType(info)),
      StructField("remove", removeType), StructField("metaData", metaDataType),
      StructField("protocol", protocolType))
    StructType(
      if (withDomains) base :+ StructField("domainMetadata", domainMetadataType)
      else base)
  }

  // ------------------------------------------------------------ encode

  private def typedValue(s: String, dt: DataType): Any =
    Try(dt match {
      case StringType  => s
      case LongType    => s.toLong
      case IntegerType => s.toInt
      case ShortType   => s.toShort
      case ByteType    => s.toByte
      case BooleanType => s.toBoolean
      case DoubleType  => s.toDouble
      case FloatType   => s.toFloat
      case DateType    => java.sql.Date.valueOf(s)
      // the spec serializes timestamp partitions as
      // `yyyy-MM-dd HH:mm:ss[.S…]`; tolerate the ISO 'T' separator some
      // foreign writers emit. Parse in UTC explicitly — the engine pins
      // the SESSION timezone to UTC everywhere, but Timestamp.valueOf
      // reads the wall-clock string in the JVM DEFAULT zone, skewing the
      // typed value by the host offset on non-UTC machines.
      case TimestampType => java.sql.Timestamp.from(
        java.time.LocalDateTime.parse(s.replace(' ', 'T'))
          .atZone(java.time.ZoneOffset.UTC).toInstant)
      case _: DecimalType => new java.math.BigDecimal(s)
      case _ => null
    }).getOrElse(null)

  private def jsonValue(n: JsonNode, dt: DataType): Any =
    if (n == null || n.isNull) null
    else Try(dt match {
      case StringType  => n.asText
      case LongType    => n.asLong
      case IntegerType => n.asInt
      case ShortType   => n.asInt.toShort
      case ByteType    => n.asInt.toByte
      case BooleanType => n.asBoolean
      case DoubleType  => n.asDouble
      case FloatType   => n.asDouble.toFloat
      case DateType    => java.sql.Date.valueOf(n.asText)
      case _ => null
    }).getOrElse(null)

  private def addRow(a: AddAction, info: SchemaInfo): Row = {
    // dataChange=false in checkpoints: a checkpoint is a state dump, not a
    // change record (Delta protocol; the Databricks-written golden
    // checkpoint does the same — InteropGoldenTableSpec diffs against it).
    // Nothing reads dataChange off restored state: every consumer
    // (RewriteFence, feeds, conflict detection) reads COMMITS.
    val dvRow = a.deletionVector.map(StandardDv.parse).map(d =>
      Row(d.storageType, d.pathOrInlineDv, d.offset.orNull, d.sizeInBytes,
        d.cardinality)).orNull
    val base = Seq(
      ActionPath.encode(a.path), a.partitionValues, a.size, a.modificationTime,
      false, if (info.statsAsJson) a.stats.orNull else null,
      a.tags.orNull, dvRow,
      a.baseRowId.map(Long.box).orNull,
      a.defaultRowCommitVersion.map(Long.box).orNull)
    val pvParsed =
      if (info.partitionFields.isEmpty) Nil
      else Seq(Row.fromSeq(info.partitionFields.map(f =>
        a.partitionValues.get(f.name).flatMap(Option(_))
          .map(typedValue(_, f.dataType)).orNull)))
    val statsParsed =
      if (info.dataFields.isEmpty) Nil
      else {
        val st = a.stats.flatMap(s => Try(ActionCodec.statsFromJson(s)).toOption.flatten)
        Seq(st.map { s =>
          Row(
            s.numRecords,
            Row.fromSeq(info.dataFields.map(f => jsonValue(s.minValues.get(f.name).orNull, f.dataType))),
            Row.fromSeq(info.dataFields.map(f => jsonValue(s.maxValues.get(f.name).orNull, f.dataType))),
            Row.fromSeq(info.dataFields.map(f =>
              Option(s.nullCount.get(f.name).orNull).filter(_.isNumber).map(_.asLong).orNull)))
        }.orNull)
      }
    Row.fromSeq(base ++ pvParsed ++ statsParsed)
  }

  private def actionRow(a: Action, info: SchemaInfo, withDomains: Boolean): Row = {
    val cells: Seq[Any] = a match {
      case t: TxnAction => Seq(Row(t.appId, t.version, t.lastUpdated.orNull), null, null, null, null, null)
      case add: AddAction => Seq(null, addRow(add, info), null, null, null, null)
      case r: RemoveAction => Seq(null, null,
        Row(ActionPath.encode(r.path), r.deletionTimestamp, false,
            r.extendedFileMetadata.orNull,
            r.partitionValues.orNull, r.size.orNull, r.tags.orNull), null, null, null)
      case m: MetaDataAction => Seq(null, null, null,
        Row(m.id, m.name.orNull, m.description.orNull,
            Row(m.format.provider, m.format.options), m.schemaString,
            m.partitionColumns, m.configuration, m.createdTime.orNull), null, null)
      case p: ProtocolAction => Seq(null, null, null, null,
        Row(p.minReaderVersion, p.minWriterVersion,
          p.readerFeatures.map(_.toSeq.sorted).orNull,
          p.writerFeatures.map(_.toSeq.sorted).orNull), null)
      case d: DomainMetadataAction => Seq(null, null, null, null, null,
        Row(d.domain, d.configuration, d.removed))
      case _ =>
        throw new IllegalArgumentException(s"${a.getClass.getSimpleName} is never checkpointed")
    }
    Row.fromSeq(if (withDomains) cells else cells.dropRight(1))
  }

  /** Tombstones still inside the table's deleted-file retention window —
    * the only ones a checkpoint carries (r11 review). Without this filter,
    * every removed path rides every future checkpoint FOREVER (rewritten
    * file names never repeat, so replay's per-path fold cannot shed them):
    * on a churny table tombstones eventually dwarf live files, degrading
    * driver heap, checkpoint size, and the non-add collect without bound.
    * Dropping an expired tombstone is safe: vacuum reclaims the
    * still-on-disk file through its untracked-file mtime rule (the same
    * cutoff), and a deletionTimestamp of 0 means "unknown" (foreign remove
    * without the optional field) — kept conservatively. delta-spark
    * expires checkpoint tombstones on the same window. */
  private[delta] def liveTombstones(snap: Snapshot): Seq[RemoveAction] = {
    val cutoff = System.currentTimeMillis() -
      TableConfig.deletedFileRetentionMillis(TableConfig.of(snap))
    snap.tombstones.filter(t =>
      t.deletionTimestamp <= 0L || t.deletionTimestamp >= cutoff)
  }

  /** Snapshot → checkpoint action list, reference order
    * (`rust/src/checkpoints.rs:104-150`): protocol, metaData, txns, domain
    * metadata, removes, adds. Writes one file, or — above
    * `maxActionsPerPart` — a multi-part checkpoint
    * (`%020d.checkpoint.%010d.%010d.parquet`, the naming
    * `find_latest_check_point_for_version` matches,
    * `rust/src/delta.rs:412-436`), so checkpoints of 10⁶-file tables never
    * funnel through one writer task. Below the restore threshold the parts
    * are written on the driver with no Spark job ([[writeOnDriver]]);
    * larger checkpoints take one distributed job. Every part is published
    * through `log.store.renameNoReplace`. Returns (actions written, parts). */
  def write(log: DeltaLog, snap: Snapshot,
            maxActionsPerPart: Int = 500000): (Long, Option[Int]) = {
    val md = snap.metadata.getOrElse(
      throw new IllegalStateException("cannot checkpoint a table without metaData"))
    val info = schemaInfo(snap)
    // DV re-adds (remove+add of the same path in one commit) can leave a path
    // both tombstoned and active in the snapshot. A checkpoint is an
    // order-insensitive state dump — repartition() scatters rows and readers
    // replay them in arbitrary order — so a tombstone for a still-active path
    // must not be written: if add(F) replayed before remove(F) the active
    // file would silently vanish and later become vacuum-eligible.
    val activePaths = snap.files.iterator.map(_.path).toSet
    val withDomains = snap.domainMetadata.nonEmpty
    val acts: Seq[Action] =
      Seq(ProtocolAction(snap.minReaderVersion, snap.minWriterVersion,
        snap.readerFeatures, snap.writerFeatures), md) ++
      snap.appTransactionVersion.toSeq.sortBy(_._1).map { case (app, v) => TxnAction(app, v) } ++
      snap.domainMetadata.toSeq.sortBy(_._1).map { case (d, c) => DomainMetadataAction(d, c) } ++
      liveTombstones(snap).filterNot(t => activePaths.contains(t.path)) ++
      snap.files
    val schema = checkpointSchema(info, withDomains)
    val nParts = math.max(1, math.ceil(acts.size.toDouble / maxActionsPerPart).toInt)

    val tmpDir = new Path(log.logPath, s".tmp-checkpoint-${UUID.randomUUID()}")
    val fs = tmpDir.getFileSystem(log.spark.sessionState.newHadoopConf())
    val parts =
      if (onDriver(log, acts.size))
        writeOnDriver(log.spark, schema, tmpDir,
          slices(acts, nParts).map(_.iterator.map(actionRow(_, info, withDomains))))
      else {
        // Row construction + Catalyst conversion run on the EXECUTORS:
        // a driver-side `acts.map(actionRow)` converts 10⁷ actions
        // single-threaded (~19 µs each — minutes at decade scale, the r13
        // 10⁷ probe's cost center), and the old `repartition(nParts)`
        // then shuffled every row a second time. parallelize already
        // yields nParts slices, so the write is shuffle-free.
        log.spark.createDataFrame(
            log.spark.sparkContext.parallelize(acts, nParts)
              .map(a => actionRow(a, info, withDomains)),
            schema)
          .write.mode("overwrite").parquet(tmpDir.toString)
        listParts(fs, tmpDir, nParts, "checkpoint part")
      }
    val dsts =
      if (nParts == 1) Seq(log.checkpointFile(snap.version))
      else (1 to nParts).map(i => new Path(log.logPath,
        DeltaLog.multipartName(snap.version, i, nParts)))
    parts.zip(dsts).foreach { case (src, dst) =>
      if (fs.exists(dst)) fs.delete(dst, false)
      log.store.renameNoReplace(src, dst)
    }
    fs.delete(tmpDir, true)
    (acts.size.toLong, if (nParts == 1) None else Some(nParts))
  }

  /** Checkpoints below the restore threshold (`spark.graft.replay.
    * distributedThreshold`) are written on the driver: for them a Spark
    * job's fixed cost is most of the write, the mirror of the driver-side
    * restore in [[read]]. */
  private def onDriver(log: DeltaLog, actions: Int): Boolean =
    actions < log.distributedReplayThreshold

  /** `items` cut into `n` contiguous slices the way `parallelize` cuts
    * them, so both writers put the same actions in the same part. */
  private def slices[A](items: Seq[A], n: Int): Seq[Seq[A]] =
    (0 until n).map(i => items.slice((i.toLong * items.size / n).toInt,
      ((i + 1).toLong * items.size / n).toInt))

  /** Write each row source as one parquet file `part-<i>.parquet` under
    * `tmpDir`, on the driver with Spark's parquet writer (same schema
    * conversion and session settings as a `DataFrame` write) and no Spark
    * job. Returns the files in order. */
  private def writeOnDriver(spark: SparkSession, schema: StructType, tmpDir: Path,
                            parts: Seq[Iterator[Row]]): Seq[Path] = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    GraftWriter.inDriverPool(parts.zipWithIndex) { case (rows, i) =>
      val file = new Path(tmpDir, f"part-$i%05d.parquet")
      val out = factory.newInstance(file.toString, schema,
        new TaskAttemptContextImpl(new Configuration(job.getConfiguration),
          new TaskAttemptID("graft-checkpoint", 0, TaskType.MAP, i, 0)))
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
      try rows.foreach(r => out.write(toCatalyst(r).asInstanceOf[InternalRow]))
      finally out.close()
      file
    }
  }

  /** The `part-*.parquet` files a distributed write left in `tmpDir`, in
    * name order — exactly `n` of them. */
  private def listParts(fs: FileSystem, tmpDir: Path, n: Int, what: String): Seq[Path] = {
    val parts = fs.listStatus(tmpDir).map(_.getPath)
      .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .sortBy(_.getName).toSeq
    if (parts.length != n)
      throw new IllegalStateException(
        s"expected $n $what files in $tmpDir, found ${parts.length}")
    parts
  }

  // ------------------------------------------------------------ decode

  private def optS(r: Row, f: String): Option[String] =
    Try(r.getAs[String](f)).toOption.flatMap(Option(_))
  private def optL(r: Row, f: String): Option[Long] =
    Try(r.isNullAt(r.fieldIndex(f))).toOption.flatMap(n =>
      if (n) None else Some(r.getAs[Long](f)))
  private def optB(r: Row, f: String): Option[Boolean] =
    Try(r.isNullAt(r.fieldIndex(f))).toOption.flatMap(n =>
      if (n) None else Some(r.getAs[Boolean](f)))
  private def optM(r: Row, f: String): Option[Map[String, String]] =
    Try(r.getAs[scala.collection.Map[String, String]](f)).toOption
      .flatMap(Option(_)).map(_.toMap)

  /** Decode one checkpoint row — `Action::from_parquet_record`
    * (`rust/src/action.rs:726-775`): exactly one non-null struct column. */
  private[delta] def rowToAction(row: Row): Option[Action] = {
    def struct(name: String): Option[Row] =
      Try(row.fieldIndex(name)).toOption
        .filterNot(row.isNullAt).map(i => row.getStruct(i))
    struct("add").map { a =>
      AddAction(
        path = ActionPath.decode(a.getAs[String]("path")),
        size = optL(a, "size").getOrElse(0L),
        partitionValues = optM(a, "partitionValues").getOrElse(Map.empty),
        modificationTime = optL(a, "modificationTime").getOrElse(0L),
        dataChange = optB(a, "dataChange").getOrElse(true),
        stats = optS(a, "stats"),
        tags = optM(a, "tags"),
        // a checkpoint (graft- or foreign-written) may carry the standard
        // DV descriptor struct; rebuild the descriptor JSON the scan path
        // parses ([[StandardDv.parse]])
        deletionVector = Try(a.fieldIndex("deletionVector")).toOption
          .filterNot(a.isNullAt).map { i =>
            val d = a.getStruct(i)
            StandardDv.Descriptor(
              storageType = d.getAs[String]("storageType"),
              pathOrInlineDv = d.getAs[String]("pathOrInlineDv"),
              offset = Try(d.fieldIndex("offset")).toOption.filterNot(d.isNullAt)
                .map(i => d.get(i).asInstanceOf[Number].intValue()),
              sizeInBytes = d.getAs[Number]("sizeInBytes").intValue(),
              cardinality = d.getAs[Number]("cardinality").longValue()).json
          },
        baseRowId = optL(a, "baseRowId"),
        defaultRowCommitVersion = optL(a, "defaultRowCommitVersion"))
    }.orElse(struct("remove").map { r =>
      RemoveAction(
        path = ActionPath.decode(r.getAs[String]("path")),
        deletionTimestamp = optL(r, "deletionTimestamp").getOrElse(0L),
        dataChange = optB(r, "dataChange").getOrElse(true),
        extendedFileMetadata = optB(r, "extendedFileMetadata"),
        partitionValues = optM(r, "partitionValues"),
        size = optL(r, "size"),
        tags = optM(r, "tags"))
    }).orElse(struct("metaData").map { m =>
      val fmt = Try(m.getStruct(m.fieldIndex("format"))).toOption
      MetaDataAction(
        id = m.getAs[String]("id"),
        name = optS(m, "name"),
        description = optS(m, "description"),
        format = Format(
          provider = fmt.flatMap(f => optS(f, "provider")).getOrElse("parquet"),
          options = fmt.flatMap(f => optM(f, "options")).getOrElse(Map.empty)),
        schemaString = m.getAs[String]("schemaString"),
        partitionColumns = Try(m.getSeq[String](m.fieldIndex("partitionColumns")))
          .toOption.map(_.toSeq).getOrElse(Nil),
        createdTime = optL(m, "createdTime"),
        configuration = optM(m, "configuration").getOrElse(Map.empty))
    }).orElse(struct("protocol").map { p =>
      def feats(f: String): Option[Set[String]] =
        Try(p.getSeq[String](p.fieldIndex(f))).toOption
          .flatMap(Option(_)).map(_.toSet)
      ProtocolAction(p.getAs[Int]("minReaderVersion"), p.getAs[Int]("minWriterVersion"),
        feats("readerFeatures"), feats("writerFeatures"))
    }).orElse(struct("txn").map { t =>
      TxnAction(t.getAs[String]("appId"), t.getAs[Long]("version"), optL(t, "lastUpdated"))
    }).orElse(struct("domainMetadata").map { d =>
      DomainMetadataAction(
        domain = d.getAs[String]("domain"),
        configuration = optS(d, "configuration").getOrElse(""),
        removed = optB(d, "removed").getOrElse(false))
    }).orElse(struct("checkpointMetadata").map { c =>
      CheckpointMetadataAction(
        version = c.getAs[Long]("version"),
        tags = optM(c, "tags"))
    }).orElse(struct("sidecar").map { s =>
      SidecarAction(
        path = s.getAs[String]("path"),
        sizeInBytes = optL(s, "sizeInBytes").getOrElse(0L),
        modificationTime = optL(s, "modificationTime").getOrElse(0L),
        tags = optM(s, "tags"))
    })
  }

  /** Counts driver-side full-checkpoint reads — lets specs assert the
    * distributed restore path never materializes a big checkpoint on the
    * driver (EdgeCaseSpec). */
  private[delta] val driverReads = new java.util.concurrent.atomic.AtomicLong

  /** Read checkpoint parquet file(s) into actions — `restore_checkpoint`
    * (`rust/src/delta.rs:524-546`): a driver-local read with no Spark job.
    * Row count is O(#files in the table), the same driver-side bound as the
    * snapshot itself. (Above the distributed threshold, [[DeltaLog.update]]
    * replaces this with executor-side replay + [[readNonAdd]].) */
  def read(spark: SparkSession, paths: Seq[Path]): Seq[Action] = {
    driverReads.incrementAndGet()
    GraftWriter.inDriverPool(paths)(readFile(spark, _)).flatten
  }

  /** One checkpoint file, decoded under its OWN footer schema: a multi-part
    * checkpoint's parts may carry different column sets (a part with
    * `domainMetadata` next to one without), and a single merged read
    * would null the columns its first part lacks. Spark's parquet reader
    * (vectorized, rows out) keeps the legacy list/map encodings, INT96 and
    * datetime rebasing Spark's; [[rowToAction]] stays the only decoder. */
  private def readFile(spark: SparkSession, path: Path): Seq[Action] = {
    val conf = spark.sessionState.newHadoopConf()
    val status = path.getFileSystem(conf).getFileStatus(path)
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(status, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    val schema = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
      .convert(footer.getFileMetaData.getSchema)
    val reader = new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, schema, new StructType(), schema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), conf)
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    val rows = reader(PartitionedFile(InternalRow.empty, SparkPath.fromPath(path),
      0L, status.getLen, Array.empty[String], status.getModificationTime, status.getLen))
    try rows.flatMap(r => rowToAction(toRow(r).asInstanceOf[Row])).toVector
    finally rows match {
      case c: java.io.Closeable => c.close()
      // the row-based fallback (vectorized reader off) closes its record
      // reader only at end of input
      case _ => Try(rows.foreach(_ => ()))
    }
  }

  /** Only the non-`add` actions of a checkpoint (metaData, protocol, txn,
    * remove) — the O(1)-ish table state plus tombstones. The dominant `add`
    * rows are filtered out ON THE EXECUTORS, so the driver collect is tiny
    * even for a million-file checkpoint; the add-set is resolved separately
    * by [[DistributedReplay.activeFiles]]. */
  def readNonAdd(spark: SparkSession, paths: Seq[Path]): Seq[Action] = {
    import org.apache.spark.sql.functions.col
    val df = spark.read.option("mergeSchema", "true")
      .parquet(paths.map(_.toString): _*)
    val filtered =
      if (df.columns.contains("add")) df.filter(col("add").isNull) else df
    filtered.collect().iterator.flatMap(rowToAction).toSeq
  }

  // ------------------------------------------------------------ v2 (UUID)

  /** V2 checkpoints (Delta `v2Checkpoint` table feature): one UUID-named
    * manifest `%020d.checkpoint.<uuid>.{json,parquet}` holding the
    * non-file state plus a `checkpointMetadata` marker, with the file
    * actions in parquet SIDECARS under `_delta_log/_sidecars/` referenced
    * by `sidecar` actions (inline file actions are also spec-legal and
    * read here, but graft always writes sidecars — a million-file
    * inventory belongs in parallel-scannable parquet parts, not one
    * manifest). Names are discovered by listing ([[DeltaLog]]'s
    * `V2CheckpointRe`); `_last_checkpoint` stays advisory `{version,size}`. */

  private[delta] def sidecarDir(log: DeltaLog): Path =
    new Path(log.logPath, "_sidecars")

  /** Resolve a sidecar `path` (file name relative to `_sidecars/`, or an
    * absolute URI — same two forms as `add.path`). */
  private[delta] def sidecarPath(log: DeltaLog, name: String): Path =
    new Path(sidecarDir(log), name)

  /** Actions of a v2 checkpoint MANIFEST only (no sidecar expansion):
    * ndjson or parquet forms. */
  private def readV2Manifest(log: DeltaLog, file: Path): Seq[Action] =
    if (file.getName.endsWith(".json"))
      log.store.readLines(file).filter(_.nonEmpty)
        .flatMap(ActionCodec.fromJsonLine).toSeq
    else read(log.spark, Seq(file))

  /** Sidecar references of a v2 checkpoint manifest. */
  private[delta] def sidecarRefs(log: DeltaLog, fileName: String): Seq[SidecarAction] =
    readV2Manifest(log, new Path(log.logPath, fileName))
      .collect { case s: SidecarAction => s }

  /** Full driver-side read of a v2 checkpoint: manifest + expanded
    * sidecars, `checkpointMetadata.version` validated, structural actions
    * stripped (replay must see only state actions). */
  def readV2(log: DeltaLog, version: Long, fileName: String): Seq[Action] = {
    val mainActs = readV2Manifest(log, new Path(log.logPath, fileName))
    mainActs.collectFirst { case c: CheckpointMetadataAction => c }.foreach { c =>
      if (c.version != version) throw new IllegalStateException(
        s"v2 checkpoint $fileName declares version ${c.version}, expected $version")
    }
    val sidecars = mainActs.collect { case s: SidecarAction => s }
    val sidecarActs =
      if (sidecars.isEmpty) Nil
      else read(log.spark, sidecars.map(s => sidecarPath(log, s.path)))
    mainActs.filter {
      case _: CheckpointMetadataAction | _: SidecarAction => false
      case _ => true
    } ++ sidecarActs
  }

  /** Non-add state of a v2 checkpoint: manifest non-file actions plus the
    * sidecars' tombstones (executor-filtered, driver collect stays tiny). */
  def readNonAddV2(log: DeltaLog, version: Long, fileName: String): Seq[Action] = {
    val mainActs = readV2Manifest(log, new Path(log.logPath, fileName))
    // same version validation as the driver path (readV2) — the two
    // restore routes must agree on whether a mislabeled manifest is
    // readable, and the large-table route must not pick silent
    // corruption (r11 review)
    mainActs.collectFirst { case c: CheckpointMetadataAction => c }.foreach { c =>
      if (c.version != version) throw new IllegalStateException(
        s"v2 checkpoint $fileName declares version ${c.version}, expected $version")
    }
    val sidecars = mainActs.collect { case s: SidecarAction => s }
    val sidecarNonAdd =
      if (sidecars.isEmpty) Nil
      else readNonAdd(log.spark, sidecars.map(s => sidecarPath(log, s.path)))
    mainActs.filter {
      case _: CheckpointMetadataAction | _: SidecarAction => false
      case _: AddAction => false
      case _ => true
    } ++ sidecarNonAdd
  }

  /** Parquet paths carrying a v2 checkpoint's FILE actions — the manifest
    * (inline actions are legal) plus every sidecar — for
    * [[DistributedReplay]]'s executor-side scan. JSON manifests return
    * only their sidecars (a JSON manifest with a distributed-scale inline
    * inventory does not occur: graft writes parquet, and the driver path
    * handles small JSON checkpoints). */
  private[delta] def v2DataPaths(log: DeltaLog, fileName: String): Seq[Path] = {
    val main = new Path(log.logPath, fileName)
    val sidecars = sidecarRefs(log, fileName).map(s => sidecarPath(log, s.path))
    if (fileName.endsWith(".json")) sidecars else main +: sidecars
  }

  /** Write a v2 checkpoint for `snap`: sidecar parquet part(s) under
    * `_sidecars/` (≤ `maxActionsPerPart` file actions each), then the
    * UUID-named parquet manifest. Returns (total actions, manifest name).
    *
    * Refuses when the table does not declare the `v2Checkpoint` feature:
    * readers discovering checkpoints only by `_last_checkpoint`-derived
    * classic names (the reference does exactly this, rust/src/delta.rs:
    * 412-436) would silently lose the checkpoint otherwise — the feature
    * is the contract that readers know to LIST for UUID names. */
  def writeV2(log: DeltaLog, snap: Snapshot,
              maxActionsPerPart: Int = 500000): (Long, String) = {
    val md = snap.metadata.getOrElse(
      throw new IllegalStateException("cannot checkpoint a table without metaData"))
    if (!(snap.minReaderVersion == 3 &&
          snap.readerFeatures.exists(_.contains("v2Checkpoint"))))
      throw new UnsupportedProtocolException(
        "unsupported Delta table: checkpointPolicy=v2 without the " +
        "v2Checkpoint table feature — set delta.checkpointPolicy through " +
        "setProperties, which lifts the protocol")
    val info = schemaInfo(snap)
    val spark = log.spark
    val fs = log.logPath.getFileSystem(spark.sessionState.newHadoopConf())
    val uuid = UUID.randomUUID().toString

    // ---- sidecars: the file actions (same superseded-tombstone filter as
    // the classic writer — a checkpoint is an order-insensitive state dump)
    val activePaths = snap.files.iterator.map(_.path).toSet
    val fileActs: Seq[Action] =
      liveTombstones(snap).filterNot(t => activePaths.contains(t.path)) ++ snap.files
    val sidecarSchema = StructType(Seq(
      StructField("add", addType(info)), StructField("remove", removeType)))
    def fileRow(a: Action): Row = a match {
      case add: AddAction => Row(addRow(add, info), null)
      case r: RemoveAction => Row(null,
        Row(ActionPath.encode(r.path), r.deletionTimestamp, false,
          r.extendedFileMetadata.orNull,
          r.partitionValues.orNull, r.size.orNull, r.tags.orNull))
      case other => throw new IllegalArgumentException(
        s"sidecars carry file actions only, got ${other.getClass.getSimpleName}")
    }
    // one threshold for the whole checkpoint: sidecars and manifest
    val small = onDriver(log, fileActs.size)
    val nParts =
      if (fileActs.isEmpty) 0
      else math.max(1, math.ceil(fileActs.size.toDouble / maxActionsPerPart).toInt)
    val sidecarActions: Seq[SidecarAction] =
      if (nParts == 0) Nil
      else {
        val tmpDir = new Path(log.logPath, s".tmp-v2sidecar-$uuid")
        val parts =
          if (small)
            writeOnDriver(spark, sidecarSchema, tmpDir,
              slices(fileActs, nParts).map(_.iterator.map(fileRow)))
          else {
            spark.createDataFrame(fileActs.map(fileRow).asJava, sidecarSchema)
              .repartition(nParts).write.mode("overwrite").parquet(tmpDir.toString)
            listParts(fs, tmpDir, nParts, "sidecar")
          }
        log.store.mkdirs(sidecarDir(log))
        val refs = parts.zipWithIndex.map { case (src, i) =>
          val name = s"$uuid-${DeltaLog.pad10(i + 1)}.parquet"
          val dst = sidecarPath(log, name)
          if (fs.exists(dst)) fs.delete(dst, false)
          log.store.renameNoReplace(src, dst)
          val st = log.store.fileStatus(dst)
          SidecarAction(name, st.getLen, st.getModificationTime)
        }.toSeq
        fs.delete(tmpDir, true)
        refs
      }

    // ---- manifest: structural + non-file state
    val manifestSchema = StructType(Seq(
      StructField("checkpointMetadata", StructType(Seq(
        StructField("version", LongType), StructField("tags", strMap)))),
      StructField("sidecar", StructType(Seq(
        StructField("path", StringType), StructField("sizeInBytes", LongType),
        StructField("modificationTime", LongType), StructField("tags", strMap)))),
      StructField("txn", txnType), StructField("metaData", metaDataType),
      StructField("protocol", protocolType),
      StructField("domainMetadata", domainMetadataType)))
    def manifestRow(a: Action): Row = a match {
      case c: CheckpointMetadataAction =>
        Row(Row(c.version, c.tags.orNull), null, null, null, null, null)
      case s: SidecarAction =>
        Row(null, Row(s.path, s.sizeInBytes, s.modificationTime, s.tags.orNull),
          null, null, null, null)
      case t: TxnAction =>
        Row(null, null, Row(t.appId, t.version, t.lastUpdated.orNull), null, null, null)
      case m: MetaDataAction => Row(null, null, null,
        Row(m.id, m.name.orNull, m.description.orNull,
          Row(m.format.provider, m.format.options), m.schemaString,
          m.partitionColumns, m.configuration, m.createdTime.orNull), null, null)
      case p: ProtocolAction => Row(null, null, null, null,
        Row(p.minReaderVersion, p.minWriterVersion,
          p.readerFeatures.map(_.toSeq.sorted).orNull,
          p.writerFeatures.map(_.toSeq.sorted).orNull), null)
      case d: DomainMetadataAction => Row(null, null, null, null, null,
        Row(d.domain, d.configuration, d.removed))
      case other => throw new IllegalArgumentException(
        s"${other.getClass.getSimpleName} does not belong in a v2 manifest")
    }
    val manifestActs: Seq[Action] =
      Seq(CheckpointMetadataAction(snap.version),
        ProtocolAction(snap.minReaderVersion, snap.minWriterVersion,
          snap.readerFeatures, snap.writerFeatures), md) ++
      snap.appTransactionVersion.toSeq.sortBy(_._1).map { case (a, v) => TxnAction(a, v) } ++
      snap.domainMetadata.toSeq.sortBy(_._1).map { case (d, c) => DomainMetadataAction(d, c) } ++
      sidecarActions
    val manifestName = s"${DeltaLog.pad20(snap.version)}.checkpoint.$uuid.parquet"
    val tmpDir = new Path(log.logPath, s".tmp-v2manifest-$uuid")
    val part =
      if (small)
        writeOnDriver(spark, manifestSchema, tmpDir,
          Seq(manifestActs.iterator.map(manifestRow))).head
      else {
        spark.createDataFrame(manifestActs.map(manifestRow).asJava, manifestSchema)
          .coalesce(1).write.mode("overwrite").parquet(tmpDir.toString)
        listParts(fs, tmpDir, 1, "manifest").head
      }
    log.store.renameNoReplace(part, new Path(log.logPath, manifestName))
    fs.delete(tmpDir, true)
    // size counts every action a reader reconstructs state from
    ((manifestActs.size - 1 - sidecarActions.size + fileActs.size).toLong, manifestName)
  }
}
