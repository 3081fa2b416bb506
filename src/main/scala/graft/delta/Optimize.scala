package graft.delta

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

final case class OptimizeMetrics(
    filesRemoved: Long, filesAdded: Long,
    bytesRemoved: Long, bytesAdded: Long,
    version: Long)

/** File compaction (OPTIMIZE): rewrite many small files into few large ones
  * without changing table contents.
  *
  * No counterpart in the reference at v0.4.1, but the protocol support it
  * rides on is there: compaction commits carry `dataChange = false`
  * (`rust/src/action.rs:166-170`) so log-tailing readers skip them — our
  * [[graft.streaming.DeltaTailer]] honors exactly that.
  *
  * Scale shape: the rewrite is a distributed read → repartition-by-partition
  * → write; the driver only lists files and commits. Like the reference's
  * transactions, conflict handling is optimistic blind-retry — running
  * OPTIMIZE concurrently with writers can race (the reference's own open
  * TODO, `rust/src/delta.rs:1306-1322`); run it from a maintenance job.
  */
object Optimize {

  /** Compact the (optionally partition-filtered) table. Files SMALLER
    * than the target are grouped per partition and rewritten into
    * `ceil(bytes / targetFileBytes)` files; files already at/above the
    * target never re-churn — a converged table no-ops, so a nightly
    * maintenance job rewrites only what shrank since (the delta-spark
    * minFileSize discipline). Returns metrics; no-op when nothing
    * qualifies (fewer than 2 sub-target files in every partition).
    *
    * On a LIQUID-CLUSTERED table compaction delegates to [[cluster]]:
    * a hash-salted bin-pack would destroy the clustered layout and
    * re-queue every touched file for the next incremental cluster run —
    * the two maintenance operations would perpetually churn the same
    * bytes (delta-spark's OPTIMIZE clusters, not bin-packs, there). */
  def compact(spark: SparkSession, path: String,
              targetFileBytes: Long = 256L * 1024 * 1024,
              partitionFilters: Seq[PartitionFilter] = Nil): OptimizeMetrics = {
    val log = DeltaLog.forPath(spark, path)
    val snap = log.update()
    if (snap.version < 0) throw new NotATableException(path)
    if (DeltaTable.clusteringColumnsOf(snap).nonEmpty)
      return cluster(spark, path, targetFileBytes, partitionFilters)
    // compaction reads the table's own bytes and stages them back under
    // the SAME at-rest names — the physical-name staging contract
    // (allowNameMapping), so mapped tables get maintenance too
    ProtocolSupport.assertWritable(snap, allowNameMapping = true)
    // row tracking: a compaction MOVES rows, so their identities (id AND
    // last-modified version — dataChange=false touches neither) are
    // materialized into the rewritten files
    val rtState = RowTracking.rewriteState(snap)
    val mapped = ColumnMapping.isMapped(snap)
    def phys(c: String): String =
      if (mapped) ColumnMapping.physicalName(snap.schema, c) else c
    val partCols = snap.partitionColumns          // logical, for df ops
    val physPartCols = partCols.map(phys)         // at-rest action/dir keys

    // candidate groups: >1 SUB-TARGET file in the same partition tuple
    // (physical keys — `add.partitionValues` speaks at-rest names; caller
    // filters arrive logical and translate here). At-target files are
    // left in place, not re-packed — EXCEPT files carrying deletion
    // vectors: compaction is the DV-purge path, and a DV'd file at target
    // size still deserves its physical reclaim. A lone DV'd file in a
    // partition also qualifies (purging needs no packing peer).
    val pruned = PartitionFilter.prune(snap.files,
      partitionFilters.map(PartitionFilter.mapKey(_, phys)))
    val candidates = pruned
      .filter(a => a.size < targetFileBytes || DeletionVectors.hasDv(a))
      .groupBy(a => physPartCols.map(c => a.partitionValues.get(c).orNull))
      .filter { case (_, files) => files.size > 1 || files.exists(DeletionVectors.hasDv) }
    if (candidates.isEmpty)
      return OptimizeMetrics(0, 0, 0, 0, snap.version)

    val oldFiles = candidates.values.flatten.toSeq

    // read exactly the candidate files (partition columns restored from the
    // hive layout via the index), repartition so each partition tuple lands
    // in few tasks, and stage the rewrite
    // DV-aware read: the rewrite folds deletion vectors in (new files carry
    // no DV tags), physically reclaiming deleted rows. The scan KEEPS the
    // per-row provenance columns (source file + row index) — the salt
    // below derives from them; they drop again before staging.
    val df = rtState match {
      case Some((_, names)) =>
        Dml.scanSubsetWithIdentity(spark, log, snap, oldFiles, names,
          keepMeta = true)
      case None => Dml.logicalScanWithMeta(spark, log, snap, oldFiles)
    }
    val metaCols = Seq(DeletionVectors.PathCol, DeletionVectors.PosCol)
    val totalBytes = oldFiles.map(_.size).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    val shaped =
      if (partCols.isEmpty) df.drop(metaCols: _*).repartition(nOut)
      else {
        // hashing on the partition columns alone collapses each tuple into
        // ONE task — and one output file — regardless of bytes (r9 review:
        // a 100 GB partition compacted to a single unsplittable file).
        // Salt each tuple over ceil(tupleBytes/target) buckets instead;
        // a tuple the map misses degrades to the one-bucket behavior.
        val NullKey = "\u0000null"
        val bins: Map[String, Int] = candidates.map { case (tuple, files) =>
          tuple.map(v => if (v == null) NullKey else v).mkString("\u0001") ->
            math.max(1, math.ceil(
              files.map(_.size).sum.toDouble / targetFileBytes).toInt)
        }
        val tupleKey = concat_ws("\u0001",
          partCols.map(c => coalesce(col(c).cast("string"), lit(NullKey))): _*)
        // the salt must be DETERMINISTIC per row: a stage/task retry
        // re-evaluates it over a possibly re-ordered input (DV reads
        // involve an anti-join shuffle), and a rand() salt would then
        // route rows differently — dropping or duplicating them across
        // the retried write tasks. Hash the row's PROVENANCE (source file
        // + row index — stable coordinates independent of scan order,
        // unique per row) rather than its content: content hashes collapse
        // duplicate-heavy partitions into one bucket and cannot consume
        // map/variant columns at all.
        // try_element_at: plain element_at THROWS MAP_KEY_DOES_NOT_EXIST
        // under ANSI (the Spark 4 default) when a foreign-written
        // partition string renders differently from cast-to-string — the
        // coalesce fallback to one bucket must actually fire, not die
        // mid-OPTIMIZE (r11 review). pmod already returns non-negative,
        // so no abs() (whose Long.MinValue edge raises under ANSI).
        val salt = pmod(
          xxhash64(col(DeletionVectors.PathCol), col(DeletionVectors.PosCol)),
          coalesce(try_element_at(typedLit(bins), tupleKey), lit(1)).cast("long"))
        df.repartition(math.max(1, bins.values.sum),
          partCols.map(col) :+ salt: _*)
          .drop(metaCols: _*)
      }
    val staged =
      if (mapped) ColumnMapping.toPhysical(shaped, snap.schema,
        attachIds = ColumnMapping.mode(snap) == "id",
        passthrough = RowTracking.passthrough(rtState))
      else shaped

    val adds = GraftWriter.stageFiles(staged, path, physPartCols)
      .map(_.copy(dataChange = false))
    val now = System.currentTimeMillis()
    val txn = log.startTransaction(snap)
    if (mapped) txn.permitNameMappedCommit()
    oldFiles.foreach(f => txn.addAction(RemoveAction(
      path = f.path, deletionTimestamp = now, dataChange = false,
      extendedFileMetadata = Some(true),
      partitionValues = Some(f.partitionValues), size = Some(f.size))))
    txn.addActions(DeletionVectors.supersededDvTombstones(snap, oldFiles, now))
    txn.addActions(RowTracking.commitRewriteAdds(txn, rtState, snap, adds))
    val info = ActionCodec.mapper.createObjectNode()
    info.put("timestamp", now)
    info.put("operation", "OPTIMIZE")
    val params = info.putObject("operationParameters")
    params.put("targetFileBytes", targetFileBytes)
    params.put("numFilesRemoved", oldFiles.size)
    params.put("numFilesAdded", adds.size)
    val version =
      try txn.commit(Some(CommitInfoAction(info)))
      catch {
        case e: Throwable =>
          // staged rewrites are referenced only by the failed commit and
          // invisible to vacuum — reclaim or they leak forever (r9 review)
          try GraftWriter.discardStaged(spark, path, adds)
          catch { case _: Exception => () }
          throw e
      }
    OptimizeMetrics(
      filesRemoved = oldFiles.size, filesAdded = adds.size,
      bytesRemoved = totalBytes, bytesAdded = adds.map(_.size).sum,
      version = version)
  }

  /** OPTIMIZE ... ZORDER BY: rewrite the (optionally partition-filtered)
    * table clustered on a Z-order space-filling curve over `zorderBy`, so
    * per-file min/max stats become selective on EVERY clustered column at
    * once — the multi-column data-skipping story at 100 TB, where a linear
    * sort helps only its leading column.
    *
    * Mechanics (all distributed, nothing beyond boundary quantiles on the
    * driver): each clustered column is mapped to an equi-depth bucket code
    * (boundaries via `approxQuantile` — skew-proof where equi-width
    * interleaving is not), codes are bit-interleaved into a single long
    * z-value with pure bitwise expressions (whole-stage codegen, no UDF),
    * and the rewrite `repartitionByRange`s + sorts on it. The commit is the
    * same `dataChange=false` remove+add shape as [[compact]], so streams
    * and appendOnly tables are undisturbed.
    *
    * Orderable column types: numeric, date, timestamp, and string (strings
    * cluster by their first 7 UTF-8 bytes, which preserves lexicographic
    * order). Nulls take bucket 0.
    */
  /** Tag recording the clustering spec a file was last laid out under —
    * the incremental-clustering watermark (delta-spark's liquid clustering
    * records the analogous ZCUBE provenance in file tags). A file whose
    * tag matches the CURRENT spec is already clustered and is skipped by
    * the next [[cluster]] run; changing the declared columns changes the
    * spec string, so every file re-qualifies — a full re-layout. */
  private[graft] val ClusterSpecTag = "graft.clustering.spec"

  /** Re-cluster a liquid-clustered table: read the clustering columns
    * from the `delta.clustering` domain (delta-spark's shape, authored by
    * [[DeltaTable.clusterBy]] or a foreign writer) and run the
    * multi-column z-order rewrite over them — clustering is a best-effort
    * LAYOUT property, and interleaved-bits ordering is this engine's
    * layout strategy for multi-column locality.
    *
    * INCREMENTAL by default: only files written since the last cluster run
    * (no matching spec tag) rewrite; at 100 TB a maintenance pass must
    * touch the new data, not re-churn the whole table. `full = true`
    * forces a whole-table re-layout. */
  def cluster(spark: SparkSession, path: String,
              targetFileBytes: Long = 256L * 1024 * 1024,
              partitionFilters: Seq[PartitionFilter] = Nil,
              full: Boolean = false): OptimizeMetrics = {
    val cols = DeltaTable.forPath(spark, path).clusteringColumns
    require(cols.nonEmpty,
      s"$path is not a clustered table (no delta.clustering domain) — " +
      "declare columns with clusterBy(), or call zorder() directly")
    val spec = cols.mkString(",")
    val filter: AddAction => Boolean =
      if (full) _ => true
      // DV-carrying files must re-cluster even when already spec-stamped:
      // the cluster rewrite is what PURGES their deletion vectors, and
      // compact() delegates clustered tables here — skipping them let DVs
      // accumulate forever and permanently blocked shallow clones
      // (r11 review; mirrors compact's own candidate rule)
      else a => !a.tags.exists(_.get(ClusterSpecTag).contains(spec)) ||
        DeletionVectors.hasDv(a)
    zorderImpl(spark, path, cols, targetFileBytes, partitionFilters,
      candidateFilter = filter, stampSpec = Some(spec))
  }

  def zorder(spark: SparkSession, path: String, zorderBy: Seq[String],
             targetFileBytes: Long = 256L * 1024 * 1024,
             partitionFilters: Seq[PartitionFilter] = Nil): OptimizeMetrics =
    zorderImpl(spark, path, zorderBy, targetFileBytes, partitionFilters,
      candidateFilter = _ => true, stampSpec = None)

  private def zorderImpl(spark: SparkSession, path: String, zorderBy: Seq[String],
                         targetFileBytes: Long,
                         partitionFilters: Seq[PartitionFilter],
                         candidateFilter: AddAction => Boolean,
                         stampSpec: Option[String]): OptimizeMetrics = {
    require(zorderBy.nonEmpty, "zorder needs at least one column")
    // 4 bits per column interleave into ONE long: 16+ columns would shift
    // into (or past) the sign bit and silently scramble the curve (r9
    // review) — and clustering on that many dimensions is noise anyway
    require(zorderBy.size <= 15,
      s"zorder supports at most 15 columns, got ${zorderBy.size}")
    val log = DeltaLog.forPath(spark, path)
    val snap = log.update()
    if (snap.version < 0) throw new NotATableException(path)
    ProtocolSupport.assertWritable(snap, allowNameMapping = true)
    // row tracking: same materialized-identity contract as compact
    val rtState = RowTracking.rewriteState(snap)
    val mapped = ColumnMapping.isMapped(snap)
    def phys(c: String): String =
      if (mapped) ColumnMapping.physicalName(snap.schema, c) else c
    val partCols = snap.partitionColumns
    val bad = zorderBy.filter(c => partCols.contains(c) || !snap.schema.fieldNames.contains(c))
    require(bad.isEmpty, s"zorder columns must be non-partition table columns: $bad")

    val oldFiles = PartitionFilter.prune(snap.files,
        partitionFilters.map(PartitionFilter.mapKey(_, phys)))
      .filter(candidateFilter)
    if (oldFiles.isEmpty) return OptimizeMetrics(0, 0, 0, 0, snap.version)

    // DV-aware read: the rewrite folds deletion vectors in (new files carry
    // no DV tags), physically reclaiming deleted rows. scanSubset serves
    // LOGICAL names, so the z-value expressions and the partition-range
    // shuffle below speak the caller's column names on any table.
    val df = rtState match {
      case Some((_, names)) =>
        Dml.scanSubsetWithIdentity(spark, log, snap, oldFiles, names)
      case None => Dml.scanSubset(spark, log, snap, oldFiles)
    }

    // a SINGLE clustering column needs no interleaving: ordering by the raw
    // column gives full-resolution per-file min/max stats — the 16-bucket
    // code would cap the layout at 16 value ranges per partition, useless
    // for point-lookup probes (the dedup index's band-hash probe, r15).
    // Multi-column layouts take the interleaved curve as before.
    val z =
      if (zorderBy.size == 1) {
        snap.schema(zorderBy.head).dataType match {
          case _: NumericType | DateType | TimestampType | StringType => ()
          case other => throw new IllegalArgumentException(
            s"zorder does not support column ${zorderBy.head} of type $other")
        }
        col(zorderBy.head)
      } else zValue(df, zorderBy, snap.schema)
    val totalBytes = oldFiles.map(_.size).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    val zc = "__graft_zvalue"
    val shaped = df.withColumn(zc, z)
      .repartitionByRange(nOut, (partCols.map(col) :+ col(zc)): _*)
      .sortWithinPartitions((partCols.map(col) :+ col(zc)): _*)
      .drop(zc)
    val staged =
      if (mapped) ColumnMapping.toPhysical(shaped, snap.schema,
        attachIds = ColumnMapping.mode(snap) == "id",
        passthrough = RowTracking.passthrough(rtState))
      else shaped

    val adds = GraftWriter.stageFiles(staged, path, partCols.map(phys))
      .map(_.copy(dataChange = false))
      .map(a => stampSpec match {
        case Some(spec) => a.copy(tags =
          Some(a.tags.getOrElse(Map.empty) + (ClusterSpecTag -> spec)))
        case None => a
      })
    val now = System.currentTimeMillis()
    val txn = log.startTransaction(snap)
    if (mapped) txn.permitNameMappedCommit()
    oldFiles.foreach(f => txn.addAction(RemoveAction(
      path = f.path, deletionTimestamp = now, dataChange = false,
      extendedFileMetadata = Some(true),
      partitionValues = Some(f.partitionValues), size = Some(f.size))))
    txn.addActions(DeletionVectors.supersededDvTombstones(snap, oldFiles, now))
    txn.addActions(RowTracking.commitRewriteAdds(txn, rtState, snap, adds))
    val info = ActionCodec.mapper.createObjectNode()
    info.put("timestamp", now)
    info.put("operation", "OPTIMIZE")
    val params = info.putObject("operationParameters")
    params.put("zOrderBy", zorderBy.mkString(","))
    params.put("targetFileBytes", targetFileBytes)
    val version =
      try txn.commit(Some(CommitInfoAction(info)))
      catch {
        case e: Throwable =>
          try GraftWriter.discardStaged(spark, path, adds)
          catch { case _: Exception => () }
          throw e
      }
    OptimizeMetrics(
      filesRemoved = oldFiles.size, filesAdded = adds.size,
      bytesRemoved = totalBytes, bytesAdded = adds.map(_.size).sum,
      version = version)
  }

  /** Buckets per clustered column: 16 (4 bits) — with k columns the curve
    * has 16^k cells, plenty of resolution for per-file stats while keeping
    * the boundary `when`-chain short enough for codegen. */
  private val ZBuckets = 16

  /** The interleaved z-value as a pure-`Column` long expression. */
  private[delta] def zValue(df: DataFrame, cols: Seq[String],
                            schema: StructType): Column = {
    val bits = Integer.numberOfTrailingZeros(ZBuckets) // 4
    // order-preserving numeric surrogate per column
    val surrogates: Seq[Column] = cols.map { c =>
      schema(c).dataType match {
        case _: NumericType => col(c).cast(DoubleType)
        case DateType       => unix_date(col(c)).cast(DoubleType)
        case TimestampType  => unix_micros(col(c)).cast(DoubleType)
        case StringType     =>
          // First 6 UTF-8 bytes, ZERO-PADDED to a fixed width, as a
          // non-negative numeric: with equal byte lengths, UTF-8 byte order
          // equals lexicographic order ('b' > 'ab' because 0x62_0000… >
          // 0x61_62_00…; an unpadded slice would invert that). 6 bytes =
          // 48 bits, inside Double's 53-bit exact-integer range — 7 bytes
          // would silently round. Ties beyond byte 6 share a surrogate,
          // which only coarsens clustering, never stats correctness.
          conv(hex(rpad(substring(encode(col(c), "UTF-8"), 1, 6), 6,
            Array[Byte](0))), 16, 10).cast(DoubleType)
        case other => throw new IllegalArgumentException(
          s"zorder does not support column $c of type $other")
      }
    }
    // one pass over the scoped data for all boundary sets
    val tmpNames = surrogates.indices.map(i => s"__graft_zs$i")
    val withS = surrogates.zip(tmpNames).foldLeft(df) {
      case (d, (s, n)) => d.withColumn(n, s)
    }
    val probs = (1 until ZBuckets).map(_.toDouble / ZBuckets).toArray
    val boundaries: Seq[Array[Double]] =
      withS.stat.approxQuantile(tmpNames.toArray, probs, 0.01).toSeq

    // equi-depth bucket code: #boundaries strictly below the value
    // (null comparisons are false ⇒ nulls land in bucket 0)
    val codes: Seq[Column] = surrogates.zip(boundaries).map { case (s, bs) =>
      bs.distinct.map(b => when(s > lit(b), 1L).otherwise(0L))
        .reduceOption(_ + _).getOrElse(lit(0L))
    }
    // interleave: bit b of code i lands at position b*k + i
    val k = codes.size
    (for { b <- 0 until bits; (code, i) <- codes.zipWithIndex } yield
      shiftleft(shiftright(code, b).bitwiseAND(lit(1L)), b * k + i)
    ).reduce(_.bitwiseOR(_))
  }
}
