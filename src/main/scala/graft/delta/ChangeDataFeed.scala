package graft.delta

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Change Data Feed: row-level change capture for DML commits.
  *
  * With `delta.enableChangeDataFeed=true`, DELETE/UPDATE/MERGE write the
  * rows they touch — tagged `_change_type` ∈ insert / delete /
  * update_preimage / update_postimage — as parquet under `_change_data/`,
  * referenced by `cdc` actions in the same commit (the Delta protocol's CDF
  * shape; entirely beyond the reference, whose v0.4 action model predates
  * it). Appends need no CDC files: their Add entries ARE the insert rows.
  *
  * [[readChanges]] serves the feed for a version range:
  *  - a commit with `cdc` actions → exactly those files;
  *  - a pure-append commit → its added files as `insert` rows;
  *  - a pure-remove commit (TRUNCATE) → the removed files' rows as `delete`,
  *    read from the not-yet-vacuumed files;
  *  - a remove+add rewrite WITHOUT cdc (DML committed before CDF was
  *    enabled, OPTIMIZE excepted — dataChange=false commits are invisible)
  *    → fail: the net row change is not reconstructible from file actions.
  *
  * Cost note (100 TB): capturing changes reads the AFFECTED files only
  * (never the table), only when the table property is on, and copy-on-write
  * DML and MERGE write their change files in the same job as their data
  * files (under `_change_data/cdc-<uuid>/<partition dirs>/`). Vacuum never
  * reclaims `_change_data` (the same exemption the
  * reference's vacuum carves out, rust/src/delta.rs:904-916), so the feed
  * survives file cleanup; feed retention is operational policy.
  */
object ChangeDataFeed {

  val Dir = "_change_data"
  val ChangeType = "_change_type"
  val CommitVersion = "_commit_version"

  /** Scheme strip applied IDENTICALLY to the broadcast-map keys and to the
    * scan's `_metadata.file_path`, so the file→version join keys agree on
    * EVERY store: both sides keep any URI authority ("s3a://bucket/t/x" →
    * "/bucket/t/x", "hdfs://nn:8020/t/x" → "/nn:8020/t/x", "file:///t/x"
    * and "file:/t/x" → "/t/x"). Normalizing the map side with
    * `Path.toUri.getPath` instead would drop the authority on that side
    * only and silently empty the feed on authority-bearing table paths.
    *
    * The map side serializes through `toUri.toString` — PERCENT-ENCODED —
    * because Spark's `_metadata.file_path` is itself the percent-encoded
    * `Path.toUri.toString` (a partition dir `region=North America` surfaces
    * as `region=North%20America`; verified against Spark 4.1.2). A
    * `Path.toString` key on the map side would silently empty the feed for
    * any path with a URI-encodable character. */
  private[delta] val SchemeRe = "^[a-zA-Z][a-zA-Z0-9+.-]*:/+"
  private[delta] def normalizedKey(p: Path): String =
    p.toUri.toString.replaceFirst(SchemeRe, "/")

  def enabled(snap: Snapshot): Boolean =
    TableConfig.changeDataFeedEnabled(TableConfig.of(snap))

  /** Write `changes` (table columns + `_change_type`, never null) as
    * change files under one fresh `_change_data/cdc-<uuid>/`, in one job
    * through the table's commit protocol, and return the commit's cdc
    * actions. Writes that produce data files too take both in the same job
    * instead ([[withImages]] + [[GraftWriter.writeFiles]]). */
  def stage(spark: SparkSession, log: DeltaLog, changes: DataFrame): Seq[CdcAction] =
    GraftWriter.writeFiles(changes, log.tablePath.toString, Nil,
      numIndexedCols = -1, changes = Some(Set.empty)).cdc

  /** One frame for [[GraftWriter.writeFiles]] with changes: `data` rows with a null
    * `_change_type`, then `images` (table columns + `_change_type`) with
    * null for the columns only data files carry (materialized row-tracking
    * columns). Returns the frame and those data-only column names. */
  private[delta] def withImages(data: DataFrame, images: DataFrame)
      : (DataFrame, Set[String]) = {
    val dataOnly = data.schema.fields.filterNot(f => images.columns.contains(f.name))
    val padded = dataOnly.foldLeft(images)((df, f) =>
      df.withColumn(f.name, lit(null).cast(f.dataType)))
    (data.withColumn(ChangeType, lit(null).cast(StringType)).unionByName(padded),
      dataOnly.map(_.name).toSet)
  }

  /** File-level change images for an overwrite-shaped commit (INSERT
    * OVERWRITE, SaveMode.Overwrite): the removed files' live rows (DVs
    * applied) as `delete` images, the staged adds' rows as `insert` —
    * the same granularity as the TRUNCATE and RESTORE feeds. Returns Nil
    * when capture is off or nothing is being replaced. */
  def stageOverwrite(spark: SparkSession, log: DeltaLog, snap: Snapshot,
                     removes: Seq[AddAction], adds: Seq[AddAction]): Seq[CdcAction] = {
    if (!enabled(snap) || removes.isEmpty) return Nil
    // name-mapped tables stage change files under PHYSICAL names like every
    // other at-rest file; the feed reader scans them physical and aliases
    val readSchema =
      if (ColumnMapping.isMapped(snap))
        ColumnMapping.readSchema(spark, snap)
      else snap.schema
    val cols = readSchema.fieldNames.map(n => col(DeltaSchema.quoted(n))).toSeq
    val deletes = DeletionVectors.scanWithPos(spark, log, snap, removes)
      .select(cols: _*).withColumn(ChangeType, lit("delete"))
    val changes =
      if (adds.isEmpty) deletes
      else deletes.unionByName(
        spark.read.option("basePath", log.tablePath.toString)
          .schema(readSchema)
          .parquet(adds.map(a => new Path(log.tablePath, a.path).toString): _*)
          .select(cols: _*).withColumn(ChangeType, lit("insert")))
    stage(spark, log, changes)
  }

  /** The `_change_data/cdc-<uuid>` directory one write put `c` in. */
  private[delta] def writeDir(c: CdcAction): String =
    c.path.split('/').take(2).mkString("/")

  /** Delete the staged `_change_data/cdc-<uuid>` directories of
    * `cdcActions` — the failed-commit rollback shared by every capture
    * site (each directory belongs to one write and is referenced only by
    * the failed commit, and vacuum never lists underscore-hidden paths).
    * Best-effort. */
  def discardStaged(spark: SparkSession, log: DeltaLog,
                    cdcActions: Seq[CdcAction]): Unit = {
    val fs = log.tablePath.getFileSystem(spark.sessionState.newHadoopConf())
    cdcActions.map(writeDir).distinct.foreach { rel =>
      try fs.delete(new Path(log.tablePath, rel), true)
      catch { case _: Exception => () }
    }
  }

  /** The change feed over `(startV, endV]`: table columns +
    * `_change_type` + `_commit_version`. */
  def readChanges(spark: SparkSession, log: DeltaLog,
                  startV: Long, endV: Long): DataFrame = {
    val endSnap = log.snapshotForVersion(endV)
    // capability fence on the batch entry point; the streaming overload
    // below skips it (the source fences once at stream start, and must not
    // pay an O(log) replay per micro-batch)
    ProtocolSupport.assertRowFeedReadable(endSnap)
    if (ColumnMapping.isMapped(endSnap)) {
      // the range's data/change files speak PHYSICAL names (the CDF
      // metadata columns are never mapped, per the protocol): run the
      // whole pipeline physical, alias back to logical at the top — the
      // same single-conversion-point shape as the scan path
      val logical = endSnap.schema
      val out = readChanges(spark, log, startV, endV,
        ColumnMapping.readSchema(spark, endSnap))
      out.select(logical.fields.map { f =>
        val phys = ColumnMapping.physicalFieldName(f)
        out.col(s"`$phys`").cast(f.dataType).as(f.name)
      }.toSeq ++ Seq(out.col(ChangeType), out.col(CommitVersion)): _*)
    } else readChanges(spark, log, startV, endV, endSnap.schema)
  }

  /** As above with the table schema SUPPLIED — the streaming source calls
    * this once per micro-batch with its fixed declared schema, skipping the
    * `snapshotForVersion(endV)` replay (O(log length) per batch on a
    * long-lived table, for a value the caller already holds).
    *
    * Plan-size note (100 TB / 10⁴-version feeds): one frame per version
    * would build an O(versions)-way union — a planning blowup on long
    * ranges. Instead the two common commit shapes are each read in ONE
    * scan across all their versions — cdc-backed commits, and pure-append
    * commits — with `_commit_version` attached by a broadcast
    * file→version join (file paths are table-unique). Only pure-remove
    * commits (TRUNCATE-shaped; they need the PRIOR version's state and DV
    * filtering) keep a per-version frame. */
  def readChanges(spark: SparkSession, log: DeltaLog,
                  startV: Long, endV: Long,
                  schema: StructType): DataFrame = {
    val withType = StructType(schema.fields :+
      org.apache.spark.sql.types.StructField(ChangeType, StringType))
    val outSchema = StructType(withType.fields :+
      org.apache.spark.sql.types.StructField(CommitVersion, LongType, nullable = false))
    def abs(rel: String) = new Path(log.tablePath, rel).toString
    def norm(rel: String) = normalizedKey(new Path(log.tablePath, rel))

    // `prior` tracks table state BEFORE the current version, initialized
    // lazily on the first remove-only commit and advanced incrementally
    // thereafter — one O(log) replay total, not one per remove-only
    // version (a truncate-heavy feed would otherwise be O(V²)). Held as a
    // mutable ReplayState: per-version Snapshot.replay re-materialized the
    // O(#files) maps per ADVANCE too, i.e. O(range × files) once pinned
    // (the same shape the r13 10⁷-Add probe caught in replayTail); the
    // fold is O(actions) per version, files materialize only when a
    // remove-only commit actually reads them.
    var prior: Option[Snapshot.ReplayState] = None
    val cdcFiles = Seq.newBuilder[String]      // absolute cdc paths, all versions
    val addFiles = Seq.newBuilder[String]      // absolute add paths, all versions
    // normalized path -> (version, a cdc file's partitionValues)
    val fileVersion = Seq.newBuilder[(String, Long, Map[String, String])]
    val removeFrames = Seq.newBuilder[DataFrame]

    // commit files read in parallel on the driver pool (O(versions)
    // sequential FS round trips otherwise); the classification walk below
    // stays sequential — `prior` advances version by version
    val commits: Seq[(Long, Seq[Action])] = GraftWriter.inDriverPool(
      log.listCommitVersions().filter(v => v > startV && v <= endV))(
      v => v -> log.readCommit(v))
    commits.foreach { case (v, actions) =>
        val cdcs = actions.collect { case c: CdcAction => c }
        val adds = actions.collect { case a: AddAction if a.dataChange => a }
        val removes = actions.collect { case r: RemoveAction if r.dataChange => r }
        if (cdcs.nonEmpty) {
          cdcFiles ++= cdcs.map(c => abs(c.path))
          fileVersion ++= cdcs.map(c => (norm(c.path), v, c.partitionValues))
        } else if (adds.nonEmpty && removes.isEmpty) {
          // adds carrying DV pointers (RESTORE re-adds its target's files
          // verbatim) must NOT serve their whole files as inserts — the
          // DV'd-out rows are not in the table (r11 review); their frame
          // gets the same DV subtraction the remove branch applies
          val (dvAdds, plainAdds) = adds.partition(DeletionVectors.hasDv)
          addFiles ++= plainAdds.map(a => abs(a.path))
          fileVersion ++= plainAdds.map(a => (norm(a.path), v, Map.empty[String, String]))
          if (dvAdds.nonEmpty)
            removeFrames += DeletionVectors.filterDeleted(spark, log, dvAdds,
              spark.read.option("basePath", log.tablePath.toString)
                .schema(schema).parquet(dvAdds.map(a => abs(a.path)): _*)
                .withColumn(ChangeType, lit("insert")))
              .withColumn(CommitVersion, lit(v))
        } else if (removes.nonEmpty && adds.isEmpty) {
          // rows already DV'd out of a removed file were reported deleted
          // by the DV commit — don't re-report them here
          val p = prior.getOrElse(
            new Snapshot.ReplayState(log.snapshotForVersion(v - 1)))
          prior = Some(p) // pin: advanced below, reused by later versions
          val removedPaths = removes.map(_.path).toSet
          val removedAdds = p.activeFiles
            .filter(a => removedPaths.contains(a.path)).toVector
          removeFrames += DeletionVectors.filterDeleted(spark, log, removedAdds,
            spark.read.option("basePath", log.tablePath.toString)
              .schema(schema).parquet(removes.map(r => abs(r.path)): _*)
              .withColumn(ChangeType, lit("delete")))
            .withColumn(CommitVersion, lit(v))
        } else if (adds.nonEmpty && removes.nonEmpty)
          throw new IllegalStateException(
            s"table ${log.tablePath} version $v rewrote files without " +
            "change data (committed before capture was enabled?); the " +
            "change feed cannot reconstruct row-level changes from a rewrite")
        prior.foreach(_.fold(actions.iterator))
      }

    // a partitioned change file (`_change_data/p=1/…`, or graft's
    // `cdc-<uuid>/p=1/…`) holds no partition column: its value rides the
    // map from the cdc action's partitionValues, coalesced with the in-file
    // column so unpartitioned change files that carry it still read
    val versionMap = fileVersion.result()
    val pvCols = versionMap.flatMap(_._3.keys).distinct
      .flatMap(k => schema.find(_.name == k))
    val pvNames = pvCols.indices.map(i => s"__graft_pv_$i")
    // the scan's _metadata.file_path run through the SAME SchemeRe strip
    // as the map keys (see normalizedKey); paths are unique within one
    // table's storage
    lazy val mapDf = broadcast(spark.createDataFrame(
      versionMap.map { case (p, v, pv) =>
        Row.fromSeq(Seq(p, v) ++ pvCols.map(f => pv.get(f.name).orNull))
      }.asJava,
      StructType(Seq(StructField("__graft_path", StringType),
        StructField(CommitVersion, LongType, nullable = false)) ++
        pvNames.map(StructField(_, StringType)))))
    def attachVersion(df: DataFrame): DataFrame =
      df.withColumn("__graft_path", regexp_replace(
          col("_metadata.file_path"), SchemeRe, "/"))
        .join(mapDf, "__graft_path")
        .drop("__graft_path")

    val cdcPaths = cdcFiles.result()
    val addPaths = addFiles.result()
    val frames = Seq.newBuilder[DataFrame]
    // distinct scan paths: a path added in TWO range versions (remove →
    // re-add) is scanned once and the version join emits it once PER
    // version; a duplicate listing would double the scan AND the join
    if (cdcPaths.nonEmpty) {
      val scanned = attachVersion(
        spark.read.schema(withType).parquet(cdcPaths.distinct: _*))
      frames += pvCols.zip(pvNames).foldLeft(scanned) { case (df, (f, pv)) =>
        df.withColumn(f.name, coalesce(df.col(DeltaSchema.quoted(f.name)),
          col(pv).cast(f.dataType)))
      }.drop(pvNames: _*)
    }
    if (addPaths.nonEmpty)
      frames += attachVersion(
        spark.read.option("basePath", log.tablePath.toString)
          .schema(schema).parquet(addPaths.distinct: _*)
          .withColumn(ChangeType, lit("insert"))).drop(pvNames: _*)
    frames ++= removeFrames.result()

    frames.result() match {
      case Seq() => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
      case head +: tail =>
        tail.foldLeft(head)(_ unionByName _)
          .select(outSchema.fieldNames.map(n => col(DeltaSchema.quoted(n))): _*)
    }
  }
}
