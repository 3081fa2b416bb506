package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

import graft.delta.{ActionCodec, ChangeDataFeed, ColumnMapping, DeltaLog,
  DeltaTable, Dml, DomainMetadataAction, GraftWriter, Merge, PartitionFilter,
  RemoveAction, Snapshot, TxnAction}

/** IVF ANN index MAINTAINED AS GRAFT TABLES (r12 verdict #8): the
  * centroids and posting lists live in committed, partitioned delta
  * tables instead of session-transient DataFrames, so the index survives
  * the session, serves any number of queries without re-clustering, and
  * grows INCREMENTALLY on append — the index shape a 100 TB corpus needs.
  *
  * Layout under `root`:
  *  - `root/centroids`  — (cid int, centroid array<float>, n long,
  *    base_dist double), |clusters| rows; `base_dist` is the cluster's
  *    mean squared assignment distance at build, the drift baseline;
  *  - `root/postings`   — (id, cluster, vec, ver) PARTITIONED BY cluster,
  *    so a probe's scan prunes to `nProbe/|clusters|` of the files at the
  *    metadata layer (partition pruning), never touching the rest. `ver`
  *    is the source commit version the row's state was born at. Tombstones
  *    live IN this table as rows of the reserved partition
  *    `cluster = -1` (vec null, ver = kill version): "every posting row of
  *    `id` born BEFORE source version `ver` is dead". The LSM shape:
  *    deletes land as O(batch) rows IN THE SAME COMMIT as the window's
  *    post-images and the high-water mark (single table ⇒ genuinely
  *    atomic — the r14 cross-table crash window, where an updated id
  *    briefly served neither old nor new vector, is unrepresentable by
  *    construction, r15 verdict #7); probes subtract the (small,
  *    broadcast, partition-pruned) set; [[compactTombstones]] amortizes
  *    the physical posting delete and retires the applied markers in ONE
  *    commit. The postings table also carries the [[DriftDomain]] metadata
  *    domain: the per-cluster drift observations of the last
  *    [[DriftHistory]] refreshes, written by each refresh in its own
  *    postings commit.
  *
  * Every entry point checks the layout first ([[currentLayout]]): an index
  * built before the build epoch, the inline tombstones, the `ver` column
  * or the drift baselines is refused — rebuild it with [[build]] or
  * [[buildFromTable]], which overwrite any older layout at `root`.
  *
  * Two maintenance tiers (r13 verdict #1):
  *  - [[build]]/[[refresh]] take an arbitrary DataFrame — the ad-hoc tier.
  *    `refresh` pays a full posting-id scan per call for its dedup, fine
  *    for sessions, wrong at 100 TB.
  *  - [[buildFromTable]]/[[refreshFromSource]] bind the index to a SOURCE
  *    graft table with change-data-feed enabled: refresh reads ONLY
  *    `graft_changes(lastIndexed, now]` (O(new commits), never the
  *    postings), folds inserts/updates/deletes, and records the indexed
  *    high-water mark as a TxnAction IN the posting append commit — the
  *    streaming-sink exactly-once idiom, so a crash between batch and
  *    mark is impossible by construction. Source DELETEs and the
  *    pre-images of UPDATEs become tombstones, so a deleted vector is
  *    never served (q80 gate) even before compaction.
  *
  * [[refresh]]/[[refreshFromSource]] assign new vectors to the nearest
  * EXISTING centroid — the incremental-clustering pattern
  * ([[graft.delta.Optimize.cluster]]): centroids drift only on an explicit
  * [[build]] rebuild, queries stay correct throughout because ranking is
  * exact within probed clusters.
  */
object IvfIndex {

  private def centroidsPath(root: String) = s"$root/centroids"
  private def postingsPath(root: String) = s"$root/postings"

  /** TxnAction appId carrying the indexed source high-water mark on the
    * postings table (version = last folded source commit). */
  private[ops] val SourceVersionApp = "graft.ivf.sourceVersion"
  /** TxnAction appId carrying the postings LAYOUT EPOCH: every commit that
    * changes the CENTROID SET (re-cluster move, ghost/orphan heal) bumps
    * it, and every refresh's posting append re-asserts the value it read
    * BEFORE assigning clusters. A refresh whose centroid read predates a
    * concurrent re-cluster therefore aborts (StaleAppVersionException or
    * the same-appId conflict) instead of appending rows into a cluster
    * whose centroid was just retired — rows no probe would ever rank (r15
    * review). Every build stamps 0. */
  private[ops] val LayoutEpochApp = "graft.ivf.layoutEpoch"
  /** Postings-table configuration keys binding the index to its source. */
  private[ops] val SourcePathKey = "graft.ivf.sourcePath"
  private[ops] val SourceIdKey = "graft.ivf.idCol"
  private[ops] val SourceVecKey = "graft.ivf.vecCol"
  /** Build-epoch stamp shared by the centroids and postings tables: a
    * rebuild writes them in two commits, and a crash between the two
    * leaves cluster ids denoting DIFFERENT regions — mixed state must
    * refuse to serve, not silently collapse recall (r14 review). Both
    * tables must carry it, with equal values ([[currentLayout]]). */
  private[ops] val EpochKey = "graft.ivf.epoch"
  /** Postings-table configuration key marking the int8-QUANTIZED layout
    * (value "int8", r16 verdict #3): every posting row also carries
    * `q8 array<tinyint>` + `q8_scale double` ([[Quantize.scalarQuantize]]
    * of `vec` — a pure per-row function, recomputed by every posting
    * writer). [[topKQuantized]] then ranks probes by the exact integer
    * dot over a scan that projects ONLY the code columns — on the
    * columnar posting layout that is ~4× fewer vector bytes per probe,
    * the 100 TB bandwidth lever — while `vec` stays for exact re-rank,
    * drift, and re-clustering. Absent = float-only probes. */
  private[ops] val QuantKey = "graft.ivf.quantize"
  /** Postings-table configuration key marking the single-table LSM layout
    * (value "inline"): tombstones are rows of the reserved
    * `cluster = [[TombstoneCluster]]` partition, committed atomically with
    * post-images and the mark (r15 verdict #7). Required on every index. */
  private[ops] val LayoutKey = "graft.ivf.tombstoneLayout"
  /** The reserved posting partition holding tombstone rows. Never a real
    * cluster id: build cids start at 1 (row_number) and splits mint above
    * the current max, so no probe set, heal, or re-cluster can name it. */
  private[ops] val TombstoneCluster = -1
  /** Postings-table metadata domain holding the drift telemetry (r15
    * verdict #3): `{"refreshes": [[[cid, n, mean_dist], …], …]}`, one entry
    * per refresh that assigned vectors, NEWEST FIRST, each listing only the
    * clusters that refresh touched — `n` vectors at mean squared distance
    * `mean_dist` to their centroid. A refresh writes it in the same
    * postings commit as its rows and marks, so an observation exists iff
    * its fold committed; every build writes it empty. */
  private[ops] val DriftDomain = "graft.ivf.drift"
  /** How many refreshes [[DriftDomain]] keeps — the largest
    * `recentRefreshes` [[driftReport]] answers. */
  private[ops] val DriftHistory = 8

  /** The rules this index shares with [[DedupIndex]]: both tables carry
    * one [[EpochKey]]; the postings carry the binding and the mark. */
  private val Core = IndexCore("index", EpochKey, Seq("centroids", "postings"),
    SourcePathKey, SourceVersionApp,
    "build it with buildFromTable, or maintain it with refresh(vectors)")

  private def dotQ(a: String, b: String) =
    graft.functions.functions.dot_q(col(a), col(b))

  /** Full (re)build from an arbitrary frame: k-means-lite assignment, then
    * commit the two tables — the centroids, then the postings with the
    * build epoch, the layout epoch and an empty [[DriftDomain]]. Overwrites
    * any previous index at `root`, in whatever layout. `ver` stamps 0 on
    * every row — an unbound index has no source clock. */
  def build(spark: SparkSession, vectors: DataFrame, idCol: String,
            vecCol: String, root: String, nClusters: Int = 16,
            kmeansIters: Int = 3, quantize: Boolean = false): Unit =
    buildInternal(spark, vectors, idCol, vecCol, root, nClusters,
      kmeansIters, ver = 0L, binding = Map.empty, mark = Nil,
      quantize = quantize)

  /** The layout epoch of a postings snapshot — every build stamps 0. */
  private def layoutEpochOf(snap: Snapshot): Long =
    snap.appTransactionVersion.getOrElse(LayoutEpochApp, 0L)

  /** Full (re)build BOUND to a source graft table (must have
    * `delta.enableChangeDataFeed=true` for [[refreshFromSource]] to work):
    * reads the source at its current version V, stamps every posting row
    * `ver = V`, persists the binding in the postings configuration, and
    * records V as the indexed high-water mark in the same create commit. */
  def buildFromTable(spark: SparkSession, sourcePath: String, idCol: String,
                     vecCol: String, root: String, nClusters: Int = 16,
                     kmeansIters: Int = 3, quantize: Boolean = false): Long = {
    val srcLog = DeltaLog.forPath(spark, sourcePath)
    val snap = srcLog.update()
    require(snap.version >= 0, s"no graft table at $sourcePath")
    // read the rows AT the marked version: an unpinned read races a
    // concurrent source commit, which would be indexed here AND re-folded
    // by the first refresh — duplicate live rows (r14 review)
    val vectors = DeltaTable.forPath(spark, sourcePath, snap.version).toDF
      .select(col(idCol), col(vecCol))
    buildInternal(spark, vectors, idCol, vecCol, root, nClusters, kmeansIters,
      ver = snap.version,
      binding = Map(SourcePathKey -> sourcePath, SourceIdKey -> idCol,
        SourceVecKey -> vecCol),
      mark = Seq(TxnAction(SourceVersionApp, snap.version)),
      quantize = quantize)
    snap.version
  }

  private def buildInternal(spark: SparkSession, vectors: DataFrame,
                            idCol: String, vecCol: String, root: String,
                            nClusters: Int, kmeansIters: Int, ver: Long,
                            binding: Map[String, String],
                            mark: Seq[TxnAction],
                            quantize: Boolean = false): Unit = {
    // zero vectors would commit zero centroids, after which every refresh
    // silently assigns nothing while still advancing the mark — total,
    // permanent, silent loss (r14 review). Refuse up front.
    require(!vectors.isEmpty,
      "cannot build an IVF index over zero vectors (the empty centroid " +
      "set would silently discard every future refresh) — build once the " +
      "source has rows")
    // kmeansAssignKeep: under the literal cap the assignment is a pure
    // projection — the old vectors ⋈ kmeansAssign self-join (two
    // exchanges + sorts over the corpus) existed only to re-attach the
    // vector column (r18, guide §2.4 remove shuffles outright)
    val assigned = Similarity
      .kmeansAssignKeep(vectors, idCol, vecCol, nClusters, kmeansIters)
      .select(col(idCol).as("id"), col("cluster"), col(vecCol).as("vec"),
        lit(ver).as("ver"))
      .localCheckpoint(true) // centroids + postings both read it
    val cents = Similarity.centroids(
      assigned.select(col("cluster"), col("vec")), "vec", "cluster")
      .select(col("cluster").as("cid"), col("centroid"))
      .localCheckpoint(true) // the base-distance stats re-read it
    // per-cluster mean assignment distance at build — the DRIFT BASELINE
    // (r15 verdict #3): refreshes observe their batches' distances against
    // it, so a distribution shift surfaces as ratio > 1 in driftReport
    // without ever re-scanning the index
    val centsOut = centroidsWithBaselines(assigned, cents)
    // ONE epoch stamps both tables; a crash between the two overwrites
    // leaves them differing, which currentLayout turns into a loud refusal
    // instead of silent mixed-clustering recall collapse (r14 review)
    val epoch = java.util.UUID.randomUUID().toString
    def exists(p: String) = DeltaLog.forPath(spark, p).update().version >= 0
    GraftWriter.write(centsOut.coalesce(1), centroidsPath(root),
      SaveMode.Overwrite, overwriteSchema = exists(centroidsPath(root)),
      configuration = Some(Map(EpochKey -> epoch)))
    // the binding + mark ride the postings commit; on a REBUILD of a bound
    // index the overwrite re-stamps both (configuration only applies at
    // create/replace, hence overwriteSchema when the table exists). The
    // empty drift domain rides it too: it resets the history (the
    // baselines it compares against were just recomputed) and declares
    // the domainMetadata writer feature in the same commit
    // the vec field is forced NULLABLE in the table schema: tombstone rows
    // (inline, cluster = TombstoneCluster) carry vec = null, and a source
    // whose vectors happened to arrive non-nullable must not wedge the
    // first delete window on a nullability check. Flipped INSIDE the
    // Catalyst plan — an else-less CASE WHEN guarded on isNotNull is
    // nullable by schema and identity at runtime (`when(lit(true), _)`
    // does NOT work: the analyzer folds the trivially-true branch and
    // keeps the child's non-nullability — caught by the 1M string-id
    // probe's first tombstone write); the old createDataFrame(rdd, schema)
    // round-trip deserialized/reserialized every vector and dropped
    // whole-stage codegen on the index's biggest write (r16 advice).
    val nullableVec = assigned.withColumn("vec",
      when(col("vec").isNotNull, col("vec")))
    // quantized layout (r16 verdict #3): codes ride every posting row,
    // derived from the (nullable) vec so tombstone rows carry null codes
    val postingRows =
      if (quantize) appendCodes(nullableVec) else nullableVec
    GraftWriter.write(postingRows, postingsPath(root), SaveMode.Overwrite,
      partitionBy = Seq("cluster"),
      overwriteSchema = exists(postingsPath(root)),
      configuration = Some(binding +
        (EpochKey -> epoch) + (LayoutKey -> "inline") ++
        (if (quantize) Map(QuantKey -> "int8") else Map.empty)),
      extraActions = mark :+ TxnAction(LayoutEpochApp, 0L) :+ driftDomain(Nil))
  }

  /** Per-cluster drift baselines joined onto `cents`: (cid, centroid, n,
    * base_dist) where base_dist is the mean squared assignment distance of
    * `rows` (cluster, vec) to their centroid. ONE definition for the full
    * build and the partial re-cluster (r15 second review) — a baseline
    * change applied to one site would silently skew driftReport ratios
    * for split clusters versus built ones. */
  private def centroidsWithBaselines(rows: DataFrame,
                                     cents: DataFrame): DataFrame = {
    val stats = rows
      .select(col("cluster").as("cid"),
        expr("transform(vec, x -> cast(x as double))").as("dv"))
      .join(broadcast(cents.select(col("cid"),
        expr("transform(centroid, x -> cast(x as double))").as("cdv"))),
        Seq("cid"))
      .withColumn("dist", expr(Similarity.SqDistExpr))
      .groupBy("cid")
      .agg(count(lit(1)).as("n"), avg("dist").as("base_dist"))
    cents.join(stats, Seq("cid"), "left")
      .select(col("cid"), col("centroid"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("base_dist"), lit(0.0)).as("base_dist"))
  }

  /** The postings snapshot of an index in the CURRENT layout — both
    * tables stamped with the same [[EpochKey]] ([[IndexCore]]),
    * inline tombstones and a `ver` column on the postings, drift baselines
    * on the centroids — or a loud refusal. */
  private def currentLayout(spark: SparkSession, root: String): Snapshot = {
    val Seq(cents, posts) = Core.agreedSnapshots(spark, root)
    if (!IndexCore.configOf(posts).get(LayoutKey).contains("inline") ||
        !posts.schema.fieldNames.contains("ver") ||
        !cents.schema.fieldNames.contains("base_dist"))
      throw new IllegalStateException(
        s"index at $root predates the current layout (inline tombstones, " +
        "posting ver, drift baselines) — rebuild it with build or buildFromTable")
    posts
  }

  /** Ad-hoc incremental append: vectors whose ids the index does not yet
    * hold are assigned to the nearest existing centroid and appended to the
    * posting table, with the refresh's drift observation, in one commit.
    * Returns how many were appended.
    *
    * SCALE NOTE: the id dedup is a left-anti join against the FULL posting
    * table — O(postings) per call. Bind the index to a source table
    * ([[buildFromTable]]) and use [[refreshFromSource]] to pay O(new
    * commits) instead (r13 verdict #1). */
  def refresh(spark: SparkSession, vectors: DataFrame, idCol: String,
              vecCol: String, root: String): Long = {
    val snap = currentLayout(spark, root)
    val cfg = IndexCore.configOf(snap)
    // a source-bound index must advance through refreshFromSource: an
    // ad-hoc append neither advances the high-water mark (the next CDF
    // fold re-adds the same ids — duplicate live rows) nor stamps a
    // source version (ver=0 rows die to any later tombstone) (r14 review)
    require(!cfg.contains(SourcePathKey),
      s"index at $root is bound to ${cfg.getOrElse(SourcePathKey, "")} — " +
      "maintain it with refreshFromSource, not ad-hoc refresh")
    // the layout epoch is read BEFORE the centroid read (inside
    // assignFresh) and re-asserted on the append: an ad-hoc refresh racing
    // a reclusterCluster would otherwise land rows in a retired cluster —
    // orphans no probe ranks until the next heal (r15 second review; same
    // fence refreshFromSource carries)
    val layoutV = layoutEpochOf(snap)
    val existing = DeltaTable.forPath(spark, postingsPath(root)).toDF.select("id")
    val fresh = vectors.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .join(existing, Seq("id"), "left_anti")
    val assigned = assignFresh(spark, fresh.withColumn("ver", lit(0L)), root)
    // the drift stats pass doubles as the count (one job, not two)
    val stats = clusterStats(assigned)
    val n = stats.map(_._2).sum
    if (n > 0)
      // drift telemetry for the ad-hoc tier too (r15 second review —
      // without it driftReport stays permanently inert on unbound indexes)
      GraftWriter.write(codesIfQuantized(spark, root, assigned.drop("dist")),
        postingsPath(root), SaveMode.Append,
        partitionBy = Seq("cluster"),
        extraActions = Seq(TxnAction(LayoutEpochApp, layoutV),
          driftObservation(spark, root, stats)),
        requireAppVersions = Seq((LayoutEpochApp, layoutV)))
    n
  }

  /** The quantized layout's code columns appended to a posting-row frame:
    * `q8`/`q8_scale` are a PURE per-row function of `vec`
    * ([[Quantize.scalarQuantize]] — max-abs int8, the q60-gated scheme),
    * so every posting writer derives them at write time and no
    * maintenance path can let codes and vectors drift apart. A null vec
    * (tombstone row) yields null codes. */
  private def appendCodes(rows: DataFrame): DataFrame =
    Quantize.scalarQuantize(rows, "vec")

  /** True when the postings table carries the int8-quantized layout. */
  private[ops] def isQuantized(spark: SparkSession, root: String): Boolean =
    DeltaLog.forPath(spark, postingsPath(root)).update()
      .metadata.exists(_.configuration.get(QuantKey).contains("int8"))

  /** Idempotent (rows already carrying `q8` pass through), and applied
    * INSIDE [[moveRows]] as well as at the append-writers — so a future
    * maintenance path routed through the shared move funnel cannot land
    * code-less rows that quantized probes would silently rank last
    * (int8Dot(null,·) is null → NULLS LAST under desc — silent recall
    * loss, the exact class the layout-epoch guards exist to prevent). */
  private def codesIfQuantized(spark: SparkSession, root: String,
                               rows: DataFrame): DataFrame =
    if (rows.columns.contains("q8") || !isQuantized(spark, root)) rows
    else appendCodes(rows)

  /** nearest EXISTING centroid via the shared squared-L2 assignment —
    * same metric as the build's kmeans loop and the probe's cluster
    * ranking (one definition, Similarity.SqDistExpr). Input (id, vec, ver),
    * output (id, cluster, vec, ver, dist) materialized — `dist` feeds
    * [[clusterStats]] and is dropped before any table write. */
  private def assignFresh(spark: SparkSession, fresh: DataFrame,
                          root: String): DataFrame = {
    val cents = DeltaTable.forPath(spark, centroidsPath(root)).toDF
    // an empty centroid set silently assigns nothing (inner join) — only
    // reachable on pre-guard indexes, but the failure mode is total silent
    // loss, so defend here too (r14 review)
    require(!cents.isEmpty, s"index at $root has an empty centroid table")
    fresh
      .join(Similarity.assignToCentroidsWithDist(fresh, "id", "vec", cents), "id")
      .select(col("id"), col("cluster"), col("vec"), col("ver"), col("dist"))
      .localCheckpoint(true)
  }

  /** The source changes the next [[refreshFromSource]] will fold — the CDF
    * window `(lastIndexed, currentSourceVersion]`. Exposed so callers (and
    * the spec's O(new-commits) inputFiles assertion) can inspect exactly
    * what refresh reads; refresh consumes THIS frame. Empty window → None. */
  def pendingChanges(spark: SparkSession, root: String): Option[DataFrame] =
    IndexCore.window(spark, Core.binding(currentLayout(spark, root), root)).map(_._1)

  /** Fold the source's change feed since the last refresh into the index:
    *  - per changed id, the LATEST post-image (insert/update_postimage)
    *    at source version b becomes a posting row `ver = b`;
    *  - per id with any prior-state-killing event (delete /
    *    update_preimage), a tombstone row `(id, cluster = -1, vec = null,
    *    ver = maxKillVersion)` — killing every posting row born strictly
    *    before it (the new post-image row, born AT the kill version,
    *    survives);
    *  - post-images, tombstones, the high-water mark TxnAction and the
    *    post-images' drift observation land in ONE posting-table commit
    *    (single-table LSM, r15 verdict #7; a bare mark commit when the
    *    window held neither), so every window is folded exactly-once and
    *    ATOMICALLY: there is no observable state between "window not
    *    applied" and "window fully applied".
    *
    * Reads O(changed commits) — never the posting or source base files.
    * Returns (postingRowsAppended, tombstonesAppended).
    *
    * Crash shapes: the whole fold is one commit, so a crash anywhere
    * before it re-folds the same window identically on the next call and
    * a crash after it finds nothing pending. The pre-r15 cross-table
    * window — a crash between the tombstone append and the posting append
    * left an UPDATED id transiently serving neither its old vector nor its
    * new one — is unrepresentable in this layout. Concurrent refreshes
    * are safe but not parallel: the mark precondition on the commit
    * ([[GraftWriter]] requireAppVersion + the same-appId conflict rule)
    * makes the laggard abort with
    * [[graft.delta.StaleAppVersionException]] instead of double-applying
    * its window and regressing the mark. */
  def refreshFromSource(spark: SparkSession, root: String): (Long, Long) = {
    val postingsSnap = currentLayout(spark, root)
    val binding = Core.binding(postingsSnap, root)
    val (idCol, vecCol, last) =
      (binding.conf(SourceIdKey), binding.conf(SourceVecKey), binding.last)
    // the layout epoch is read BEFORE any centroid read: the posting
    // append below re-asserts it, so a centroid-set change landing
    // anywhere between here and the commit aborts this refresh instead of
    // letting it append into a retired cluster (see LayoutEpochApp)
    val layoutV = layoutEpochOf(postingsSnap)
    IndexCore.window(spark, binding) match {
      case None => (0L, 0L)
      case Some((changes, now)) =>
        val ct = col(ChangeDataFeed.ChangeType)
        val cv = col(ChangeDataFeed.CommitVersion)
        val ev = changes.select(col(idCol).as("id"), col(vecCol).as("vec"),
          ct.as("ct"), cv.as("cver"))
        // one aggregation folds both sides: latest post-image and latest
        // kill version per id. max over (cver, vec) structs orders by the
        // leading commit version and — like every agg — ignores the NULLs
        // the `when` assigns to non-post-image events, so a delete-only id
        // folds to born = null
        val folded = ev.groupBy("id").agg(
          max(when(col("ct").isin("insert", "update_postimage"),
            struct(col("cver"), col("vec")))).as("born"),
          max(when(col("ct").isin("delete", "update_preimage"), col("cver")))
            .as("killed"))
          .localCheckpoint(true) // adds + tombstones both read the fold
        val alive = col("born").isNotNull &&
          (col("killed").isNull || col("born.cver") >= col("killed"))
        val adds = folded.filter(alive)
          .select(col("id"), col("born.vec").as("vec"),
            col("born.cver").as("ver"))
        val tombs = folded.filter(col("killed").isNotNull)
          .select(col("id"), col("killed").as("ver"))
        // ONE aggregate over the checkpointed fold sizes both sides (r18:
        // the two separate counts were two jobs — and ids are unique post-
        // groupBy, so the add count equals the assignment count exactly);
        // a delete-only window now skips the centroid read + assignment
        // join entirely.
        val sizes = folded.agg(
          count(when(col("killed").isNotNull, 1)),
          count(when(alive, 1))).first()
        val nTombs = sizes.getLong(0)
        val nAdds = sizes.getLong(1)
        val markAction = TxnAction(SourceVersionApp, now)
        if (nAdds + nTombs > 0) {
          // single-table LSM: post-images, tombstone rows, the mark and the
          // drift observation in ONE commit — the fold is atomic (r15
          // verdict #7), and a refresh that loses its commit records nothing
          val tombRows = tombs.select(col("id"),
            lit(TombstoneCluster).as("cluster"),
            lit(null).cast(postingsSnap.schema("vec").dataType).as("vec"),
            col("ver"))
          val (postRows, drift) =
            if (nAdds == 0) (tombRows, Nil)
            else {
              val assigned = assignFresh(spark, adds, root)
              (assigned.drop("dist").unionByName(tombRows),
                Seq(driftObservation(spark, root, clusterStats(assigned))))
            }
          GraftWriter.write(
            codesIfQuantized(spark, root, postRows), postingsPath(root),
            SaveMode.Append,
            partitionBy = Seq("cluster"),
            extraActions = Seq(markAction, TxnAction(LayoutEpochApp, layoutV)) ++ drift,
            requireAppVersion = Some((SourceVersionApp, last)),
            requireAppVersions = Seq((LayoutEpochApp, layoutV)))
        } else {
          // no-op window (property commits etc.): advance the mark with a
          // bare metadata commit so later refreshes never re-read this
          // window — under the same still-at-`last` precondition
          Core.bareMark(spark, postingsPath(root), last, now)
        }
        (nAdds, nTombs)
    }
  }

  /** The inline tombstone rows — the reserved partition's (id, ver) pairs,
    * read under partition pruning (never the posting partitions). */
  private def inlineTombstoneRows(spark: SparkSession, root: String): DataFrame =
    DeltaTable.forPath(spark, postingsPath(root))
      .toDF(Seq(PartitionFilter.Eq("cluster", TombstoneCluster.toString)))
      .select(col("id"), col("ver"))

  /** Live tombstones, one row per id (max kill version wins) — small by
    * construction between compactions, hence broadcast at the probe. */
  private def liveTombstones(spark: SparkSession, root: String): DataFrame =
    inlineTombstoneRows(spark, root).groupBy("id").agg(max("ver").as("kill_ver"))

  /** One refresh's drift observation: (cid, n, mean_dist) per cluster it
    * touched, cid-ordered. */
  private type Observation = Seq[(Int, Long, Double)]

  /** Per-cluster (cid, n, mean dist) of a refresh's assigned rows — ONE
    * job over the checkpointed frame: each task folds its rows into a
    * k-entry map and the driver merges the maps (a grouped aggregate is a
    * shuffle-map job plus a result job). A null `dist` (null vector)
    * counts toward `n` but not the mean, as SQL `avg` would have it. */
  private def clusterStats(assigned: DataFrame): Observation = {
    type Acc = Map[Int, (Long, Double, Long)] // cid -> (n, dist sum, non-null dists)
    def add(m: Acc, cid: Int, v: (Long, Double, Long)): Acc = {
      val (n, s, d) = m.getOrElse(cid, (0L, 0.0, 0L))
      m.updated(cid, (n + v._1, s + v._2, d + v._3))
    }
    assigned.select("cluster", "dist").rdd
      .aggregate(Map.empty: Acc)(
        (m, r) => add(m, r.getInt(0),
          if (r.isNullAt(1)) (1L, 0.0, 0L) else (1L, r.getDouble(1), 1L)),
        (a, b) => b.foldLeft(a) { case (m, (cid, v)) => add(m, cid, v) })
      .toSeq.sortBy(_._1)
      .map { case (cid, (n, s, d)) => (cid, n, if (d == 0) 0.0 else s / d) }
  }

  /** The [[DriftDomain]] history of a postings snapshot, newest first;
    * empty when the domain is absent (an index no refresh has observed). */
  private def driftHistory(snap: Snapshot): Seq[Observation] =
    snap.domainMetadata.get(DriftDomain).toSeq.flatMap { json =>
      ActionCodec.mapper.readTree(json).get("refreshes").asScala.map(_.asScala
        .map(o => (o.get(0).asInt, o.get(1).asLong, o.get(2).asDouble)).toSeq)
    }

  /** The [[DriftDomain]] action carrying `history` (newest first), cut to
    * the last [[DriftHistory]] refreshes. */
  private def driftDomain(history: Seq[Observation]): DomainMetadataAction = {
    val json = ActionCodec.mapper.createObjectNode()
    val refreshes = json.putArray("refreshes")
    history.take(DriftHistory).foreach { obs =>
      val r = refreshes.addArray()
      obs.foreach { case (cid, n, d) => r.addArray().add(cid).add(n).add(d) }
    }
    DomainMetadataAction(DriftDomain, ActionCodec.mapper.writeValueAsString(json))
  }

  /** `obs` pushed onto the postings table's drift history — the domain
    * action a refresh commits with its rows. The history is read right
    * before the write, whose transaction then conflicts on any later
    * same-domain commit; a bound refresh's mark precondition also fences
    * every other refresh. */
  private def driftObservation(spark: SparkSession, root: String,
                               obs: Observation): DomainMetadataAction =
    driftDomain(obs +: driftHistory(
      DeltaLog.forPath(spark, postingsPath(root)).update()))

  /** Per-cluster drift report (r15 verdict #3): the build-time baseline
    * mean assignment distance vs the weighted mean over the most recent
    * `recentRefreshes` refreshes' observations (refreshes that assigned
    * vectors; delete-only windows observe nothing). `ratio` > ~2 with a
    * non-trivial `recent_n` means arriving vectors no longer fit the
    * cluster's build-time region — recall at a fixed nProbe decays
    * silently; [[reclusterCluster]] repairs the flagged cluster in
    * O(cluster), not O(index). Reads k centroid rows and the
    * [[DriftDomain]] — never the postings. Columns: (cid, n, base_dist,
    * recent_n, recent_dist, ratio); ratio is null for clusters with no
    * recent arrivals or a zero baseline.
    *
    * The domain keeps the last [[DriftHistory]] (8) refreshes, so
    * `recentRefreshes` above 8 is refused rather than answered from a
    * truncated history. */
  def driftReport(spark: SparkSession, root: String,
                  recentRefreshes: Int = 5): DataFrame = {
    import spark.implicits._
    require(recentRefreshes <= DriftHistory,
      s"driftReport keeps the last $DriftHistory refreshes; " +
      s"recentRefreshes = $recentRefreshes is beyond that history")
    val history = driftHistory(currentLayout(spark, root))
    val cents = DeltaTable.forPath(spark, centroidsPath(root)).toDF
    val recent = history.take(recentRefreshes).flatten
      .toDF("cid", "n", "mean_dist")
      .groupBy("cid")
      .agg((sum(col("mean_dist") * col("n")) / sum(col("n"))).as("recent_dist"),
        sum("n").as("recent_n"))
    cents.select("cid", "n", "base_dist")
      .join(recent, Seq("cid"), "left")
      .select(col("cid"), col("n"), col("base_dist"),
        coalesce(col("recent_n"), lit(0L)).as("recent_n"),
        col("recent_dist"),
        when(col("base_dist") > 0, col("recent_dist") / col("base_dist"))
          .as("ratio"))
      .orderBy("cid")
  }

  /** Split ONE drifted cluster and reassign only ITS postings — O(hot
    * cluster), never O(index) (r15 verdict #3). Order of operations (each
    * its own commit; two tables cannot commit atomically):
    *  0. [[healLayout]] — ghosts from any previously crashed attempt die
    *     first, so a retry cannot leave centroid rows that consume probe
    *     slots in the hot region forever (r15 review);
    *  1. append the `nSplit` fresh centroid rows (new cids above the
    *     current max and above every cid the [[DriftDomain]] names, so a
    *     new cluster never inherits a retired one's observations) with
    *     their own drift baselines — the old centroid row STAYS, so rows
    *     still in the old partition remain probeable;
    *  2. move the cluster's LIVE posting rows to their new clusters in ONE
    *     commit that also bumps the layout epoch (tombstoned rows drop — a
    *     free partial compaction);
    *  3. retire the old centroid row, then bump the layout epoch again —
    *     a refresh that read centroids between 2 and 3 aborts at its
    *     commit instead of landing rows in the retired cluster. (One
    *     that commits inside the tiny 3→bump window leaves orphan rows;
    *     the next [[healLayout]] re-homes them.)
    * Returns the new cids (empty when the cluster had no live rows). */
  def reclusterCluster(spark: SparkSession, root: String, cid: Int,
                       nSplit: Int = 2, kmeansIters: Int = 3): Seq[Int] =
    reclusterImpl(spark, root, cid, nSplit, kmeansIters, heal = true)

  /** [[reclusterCluster]] with the step-0 heal optional: [[maintain]]
    * heals ONCE up front and then splits several clusters — re-scanning
    * the layout before every split in the same single-threaded pass is
    * k× redundant metadata cost (a successful split leaves no ghosts, a
    * failed one aborts the pass, and the next pass heals first). Direct
    * callers keep the healing contract (r16 review). */
  private def reclusterImpl(spark: SparkSession, root: String, cid: Int,
                            nSplit: Int, kmeansIters: Int,
                            heal: Boolean): Seq[Int] = {
    currentLayout(spark, root)
    require(nSplit >= 2, s"nSplit must be >= 2, got $nSplit")
    require(cid >= 0,
      s"cluster $cid is the reserved tombstone partition, not a cluster")
    if (heal) healLayout(spark, root)
    val live = prunedLive(spark, root, Seq(cid))
      .localCheckpoint(true) // sub-kmeans + centroid stats + stage read it
    if (live.isEmpty) {
      // all-tombstoned cluster: drop its dead files, retire the centroid
      val dt = DeltaTable.forPath(spark, postingsPath(root))
      val deadFiles = PartitionFilter.prune(dt.snapshot.files,
        Seq(PartitionFilter.Eq("cluster", cid.toString)))
      if (deadFiles.nonEmpty)
        moveRows(spark, root, deadFiles,
          live.select("id", "cluster", "vec", "ver"), Seq(cid))
      retireCentroids(spark, root, Seq(cid))
      bumpLayout(spark, root)
      return Nil
    }
    // mint above every cid the drift domain still names as well: a retired
    // cid's observations must never pass to a new cluster
    val observed = driftHistory(DeltaLog.forPath(spark, postingsPath(root))
      .update()).flatten.map(_._1)
    val maxCid = (observed :+ DeltaTable.forPath(spark, centroidsPath(root)).toDF
      .agg(max("cid")).first().getInt(0)).max
    val sub = Similarity.kmeansAssign(live, "id", "vec", nSplit, kmeansIters)
    val moved = live.select("id", "vec", "ver")
      .join(sub.select(col("id"),
        (col("cluster") + lit(maxCid + 1)).cast("int").as("cluster")), "id")
      .select(col("id"), col("cluster"), col("vec"), col("ver"))
      .localCheckpoint(true) // centroid stats + the staged write read it
    val newCids = moved.select("cluster").distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    // 1. fresh centroid rows, with their own drift baselines
    val subCents = Similarity.centroids(
        moved.select(col("cluster"), col("vec")), "vec", "cluster")
      .select(col("cluster").as("cid"), col("centroid"))
      .localCheckpoint(true)
    GraftWriter.write(
      centroidsWithBaselines(moved, subCents).coalesce(1),
      centroidsPath(root), SaveMode.Append)
    // 2. the move — one commit, read-domain-declared, layout-bumping
    val dt = DeltaTable.forPath(spark, postingsPath(root))
    val oldFiles = PartitionFilter.prune(dt.snapshot.files,
      Seq(PartitionFilter.Eq("cluster", cid.toString)))
    moveRows(spark, root, oldFiles, moved, Seq(cid))
    // 3. retire the old centroid, fence once more
    retireCentroids(spark, root, Seq(cid))
    bumpLayout(spark, root)
    newCids
  }

  /** One-commit posting move (stage `rows`, remove `removeFiles`, declare
    * the `readClusters` domain, bump the layout epoch under its
    * still-unchanged precondition). Shared by [[reclusterCluster]] and
    * [[healLayout]]. */
  private def moveRows(spark: SparkSession, root: String,
                       removeFiles: Seq[graft.delta.AddAction],
                       rows: DataFrame, readClusters: Seq[Int]): Unit = {
    val log = DeltaLog.forPath(spark, postingsPath(root))
    val snap = log.update()
    require(!ColumnMapping.isMapped(snap) && !ChangeDataFeed.enabled(snap),
      "IVF layout maintenance supports plain posting tables only")
    val adds = GraftWriter.stageFiles(codesIfQuantized(spark, root, rows),
      postingsPath(root), Seq("cluster"))
    val nowMs = System.currentTimeMillis()
    val txn = log.startTransaction(snap) // pinned: removes planned from snap
      .withReadFilters(Seq(PartitionFilter.In("cluster",
        readClusters.map(_.toString).toSet)))
    val cur = layoutEpochOf(snap)
    txn.requireAppVersion(LayoutEpochApp, cur)
    txn.addAction(TxnAction(LayoutEpochApp, cur + 1L))
    removeFiles.foreach(f => txn.addAction(RemoveAction(
      path = f.path, deletionTimestamp = nowMs, dataChange = true,
      extendedFileMetadata = Some(true),
      partitionValues = Some(f.partitionValues), size = Some(f.size))))
    txn.addActions(adds)
    try txn.commit()
    catch {
      case e: Throwable =>
        try GraftWriter.discardStaged(spark, postingsPath(root), adds)
        catch { case _: Exception => () }
        throw e
    }
  }

  /** Bare layout-epoch bump on the postings table — fences refreshes whose
    * centroid read predates a centroid-row deletion. */
  private def bumpLayout(spark: SparkSession, root: String): Unit = {
    val log = DeltaLog.forPath(spark, postingsPath(root))
    val pinSnap = log.update()
    val cur = layoutEpochOf(pinSnap)
    log.startTransaction(pinSnap)
      .requireAppVersion(LayoutEpochApp, cur)
      .addAction(TxnAction(LayoutEpochApp, cur + 1L))
      .commit()
  }

  /** Delete retired clusters' centroid rows. Their drift observations
    * stay in the [[DriftDomain]] until they age out, and no split re-mints
    * a cid the domain names, so a later cluster never inherits a dead
    * cluster's telemetry (r15 review). */
  private def retireCentroids(spark: SparkSession, root: String,
                              cids: Seq[Int]): Unit =
    Dml.delete(spark, centroidsPath(root),
      col("cid").isin(cids.map(Int.box): _*))

  /** Repair the benign-but-wasteful states a crashed or raced re-cluster
    * can leave (r15 review): GHOST centroids — centroid rows whose cluster
    * holds no posting files (a crash between the split append and the
    * move; also legitimately-empty build clusters, whose removal is
    * harmless) — and ORPHAN postings — posting files in a cluster with no
    * centroid row (a refresh that raced a retirement into the tiny
    * unfenced window). Ghost rows are deleted; orphan rows re-assign to
    * the CURRENT centroids and move in one commit. Every change bumps the layout epoch, so racing refreshes and
    * re-clusters abort loudly and retry against the healed layout. Runs at
    * the start of every [[reclusterCluster]]; also callable on a
    * maintenance cadence. Returns (ghostCentroidsRemoved, orphanRowsMoved). */
  def healLayout(spark: SparkSession, root: String): (Long, Long) = {
    val snap = currentLayout(spark, root)
    val populated = snap.files
      .flatMap(_.partitionValues.get("cluster")).map(_.toInt).toSet
      .filter(_ >= 0) // the reserved tombstone partition is never a cluster
    val centCids = DeltaTable.forPath(spark, centroidsPath(root)).toDF
      .select("cid").collect().map(_.getInt(0)).toSet
    val ghosts = (centCids -- populated).toSeq.sorted
    if (ghosts.nonEmpty) {
      retireCentroids(spark, root, ghosts)
      bumpLayout(spark, root)
    }
    val orphanCids = (populated -- centCids).toSeq.sorted
    var moved = 0L
    if (orphanCids.nonEmpty) {
      require((centCids -- ghosts).nonEmpty,
        s"index at $root has orphan postings and NO live centroids — " +
        "rebuild it")
      val dt = DeltaTable.forPath(spark, postingsPath(root))
      val parts = Seq(PartitionFilter.In("cluster",
        orphanCids.map(_.toString).toSet))
      val orphanFiles = PartitionFilter.prune(dt.snapshot.files, parts)
      val reassigned = assignFresh(spark,
        dt.toDF(parts).select("id", "vec", "ver"), root).drop("dist")
      moved = reassigned.count()
      moveRows(spark, root, orphanFiles, reassigned, orphanCids)
    }
    (ghosts.size.toLong, moved)
  }

  /** One [[maintain]] call's outcome: which clusters were split, how many
    * posting rows the splits re-homed (estimated from the drift report's
    * counts), what [[healLayout]] repaired, and how many tombstoned
    * posting rows [[compactTombstones]] reclaimed. */
  final case class Maintenance(clustersRepaired: Seq[Int],
                               rowsReassigned: Long,
                               ghostCentroidsRemoved: Long,
                               orphanRowsMoved: Long,
                               tombstoneRowsReclaimed: Long)

  /** The operator loop a production index runs on a cadence (r15 verdict
    * #6): ONE call (a) heals layout residue from crashed or raced
    * re-clusters, (b) reads [[driftReport]] and splits the worst-drifted
    * clusters — ratio ≥ `ratioThreshold` with ≥ `minRecentN` recent
    * arrivals — hottest first while the estimated re-homed rows fit under
    * `rowBudget` (each split is the O(cluster) [[reclusterCluster]], never
    * O(index)), then (c) applies tombstones. Every step is the existing
    * racing-refresh-safe primitive: layout-epoch fences abort a refresh
    * that read centroids across a split, and maintain itself retries
    * nothing — the next cadence call picks up whatever a race aborted.
    * Budget accounting uses base + recent row counts (the report's view);
    * a cluster whose estimate alone exceeds the budget is skipped, not
    * partially split. */
  def maintain(spark: SparkSession, root: String,
               rowBudget: Long = 1000000L,
               ratioThreshold: Double = 2.0,
               minRecentN: Long = 20L,
               recentRefreshes: Int = 5,
               nSplit: Int = 2,
               kmeansIters: Int = 3): Maintenance = {
    val (ghosts, orphans) = healLayout(spark, root) // checks the layout first
    // k rows at most — driver-bounded like every centroid read here
    val hot = driftReport(spark, root, recentRefreshes)
      .filter(col("ratio").isNotNull && col("ratio") >= lit(ratioThreshold) &&
        col("recent_n") >= lit(minRecentN))
      .orderBy(col("ratio").desc)
      .select("cid", "n", "recent_n").collect()
    var budget = rowBudget
    val repaired = scala.collection.mutable.Buffer[Int]()
    var reassigned = 0L
    hot.foreach { r =>
      val est = r.getLong(1) + r.getLong(2)
      if (est <= budget) {
        reclusterImpl(spark, root, r.getInt(0), nSplit, kmeansIters,
          heal = false) // maintain healed once up front
        repaired += r.getInt(0)
        reassigned += est
        budget -= est
      }
    }
    val reclaimed = compactTombstones(spark, root)
    Maintenance(repaired.toSeq, reassigned, ghosts, orphans, reclaimed)
  }

  /** Physically apply the tombstones to the posting table (one MERGE — the
    * amortized full-scan moment of the LSM shape). The SAME merge commit
    * also retires exactly the applied marker rows (a marker is a target
    * row of the reserved partition with ver ≤ its id's kill), so
    * apply-and-retire is ATOMIC — a tombstone appended by a concurrent
    * refresh mid-merge carries a newer kill version, matches nothing, and
    * survives to the next compaction. Probe results are identical before
    * and after; this exists to reclaim space and keep
    * the probe's broadcast side small. Returns how many posting rows were
    * deleted (marker retirements excluded; under a racing refresh the
    * count is best-effort, the row outcomes exact). */
  def compactTombstones(spark: SparkSession, root: String): Long = {
    currentLayout(spark, root)
    val tombs = liveTombstones(spark, root)
      .localCheckpoint(true) // the emptiness check + the merge read it
    if (tombs.isEmpty) return 0L
    // markers retired by the merge below — counted up front so the
    // return value stays "posting rows deleted"
    val nMarkers = inlineTombstoneRows(spark, root).count()
    Merge.into(spark, postingsPath(root), tombs,
        col("t.id") === col("s.id") &&
          (col("t.ver") < col("s.kill_ver") ||
            (col("t.cluster") === lit(TombstoneCluster) &&
              col("t.ver") === col("s.kill_ver"))))
      .whenMatchedDelete()
      .execute()
      .rowsDeleted - nMarkers
  }

  /** Probe the committed index: rank centroids against the query by the
    * ASSIGNMENT metric (squared L2 — [[Similarity.probeClusters]]),
    * PARTITION-PRUNE the posting table to the nProbe best clusters,
    * subtract tombstoned rows (broadcast anti-join — a source-deleted
    * vector must never be served even before compaction), exact-rank by
    * quantized dot within them. Output (id, dot_q), top-k. */
  def topK(spark: SparkSession, root: String, queryVec: Array[Float],
           k: Int, nProbe: Int = 2): DataFrame = {
    import spark.implicits._
    val query = Seq(Tuple1(queryVec)).toDF("query_vec")
    val probed = Similarity.probeClusters(
        DeltaTable.forPath(spark, centroidsPath(root)).toDF, "cid", query, nProbe)
      .as[Int].collect() // nProbe ints — driver-side by design
    prunedLive(spark, root, probed.toSeq)
      .crossJoin(broadcast(query))
      .withColumn("dot_q", dotQ("vec", "query_vec"))
      .select(col("id"), col("dot_q"))
      .orderBy(col("dot_q").desc, col("id"))
      .limit(k)
  }

  /** Probe a QUANTIZED index ([[build]]/[[buildFromTable]] with
    * `quantize = true` — r16 verdict #3): the same partition-pruned,
    * tombstone-subtracted posting scan as [[topK]], ranked by the EXACT
    * int8 integer dot ([[Quantize.int8Dot]]) with the per-vector scales
    * divided back out for ordering — and the scan projects ONLY
    * (id, ver, q8, q8_scale), never `vec`, so on the columnar posting
    * layout a probe moves ~4× fewer vector bytes: the bandwidth lever at
    * corpus scale. The query quantizes through the same codegen'd
    * expressions as the stored rows, making the ranking
    * engine-reproducible (the q60 contract; the q85 gate pins this path
    * through the index against DuckDB's replica of the arithmetic).
    *
    * `rerank = 0` (default) returns (id, dot_q8) — the exact integer
    * dot, ordered by its descaled value (ties by id). `rerank = m > 0`
    * takes the top max(k, m) quantized candidates and re-ranks them by
    * the exact float dot read from the SAME pruned partitions (an O(m)
    * second look over vec), returning (id, dot_q) — float-exact top-k
    * whenever the true top-k survives the quantized cut. */
  def topKQuantized(spark: SparkSession, root: String,
                    queryVec: Array[Float], k: Int, nProbe: Int = 2,
                    rerank: Int = 0): DataFrame = {
    import spark.implicits._
    require(isQuantized(spark, root),
      s"index at $root carries no int8-quantized posting layout — " +
      "rebuild with quantize = true, or probe with topK")
    val qdf = Seq(Tuple1(queryVec)).toDF("query_vec")
    val probed = Similarity.probeClusters(
        DeltaTable.forPath(spark, centroidsPath(root)).toDF, "cid", qdf, nProbe)
      .as[Int].collect() // nProbe ints — driver-side by design
    val qq = Quantize.scalarQuantize(
        qdf.select(col("query_vec").as("vec")), "vec")
      .select(col("q8").as("query_q8"), col("q8_scale").as("query_scale"))
    val live = prunedLive(spark, root, probed.toSeq)
    val ranked = live.select("id", "q8", "q8_scale")
      .crossJoin(broadcast(qq))
      .withColumn("dot_q8", Quantize.int8Dot(col("q8"), col("query_q8")))
      .withColumn("ord",
        col("dot_q8") / (col("q8_scale") * col("query_scale")))
    if (rerank <= 0)
      ranked.select(col("id"), col("dot_q8"), col("ord"))
        .orderBy(col("ord").desc, col("id")).limit(k)
        .select(col("id"), col("dot_q8"))
    else {
      val cand = ranked.select(col("id"), col("ord"))
        .orderBy(col("ord").desc, col("id"))
        .limit(math.max(k, rerank)).select("id")
      live.join(broadcast(cand), Seq("id"))
        .crossJoin(broadcast(qdf))
        .withColumn("dot_q", dotQ("vec", "query_vec"))
        .select(col("id"), col("dot_q"))
        .orderBy(col("dot_q").desc, col("id"))
        .limit(k)
    }
  }

  /** The partition-pruned, tombstone-subtracted posting scan over
    * `clusters` — shared by the single-query and batched probes. */
  private def prunedLive(spark: SparkSession, root: String,
                         clusters: Seq[Int]): DataFrame = {
    currentLayout(spark, root)
    val postings = DeltaTable.forPath(spark, postingsPath(root))
      .toDF(Seq(PartitionFilter.In("cluster", clusters.map(_.toString).toSet)))
    val t = liveTombstones(spark, root)
    postings.join(broadcast(t),
      postings("id") === t("id") && postings("ver") < t("kill_ver"), "left_anti")
  }

  /** Serve MANY queries in one job (r13 verdict #8): the per-query probe
    * sets union into ONE partition-pruned posting scan instead of one scan
    * per query, each posting row joins only the queries that probed its
    * cluster, and one qid-partitioned window ranks all answers. Per-query
    * results are identical to [[topK]] (same probe ordering, same ranking
    * tie-break). Output (qid, id, dot_q), k rows per query. */
  def topKBatch(spark: SparkSession, root: String,
                queries: Seq[(Long, Array[Float])], k: Int,
                nProbe: Int = 2): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    require(queries.map(_._1).distinct.size == queries.size,
      "topKBatch query ids must be unique")
    val qdf = queries.toDF("qid", "query_vec")
    // per-query nProbe clusters, ranked by the shared assignment metric —
    // one centroid pass serves every query (centroids are k rows)
    val ranked = DeltaTable.forPath(spark, centroidsPath(root)).toDF
      .select(col("cid"),
        expr("transform(centroid, x -> cast(x as double))").as("cdv"))
      .crossJoin(broadcast(qdf.select(col("qid"),
        expr("transform(query_vec, x -> cast(x as double))").as("dv"))))
      .withColumn("dist", expr(Similarity.SqDistExpr))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("dist").asc, col("cid"))))
      .filter(col("rn") <= nProbe)
      .select(col("qid"), col("cid"))
    val probePairs = ranked.as[(Long, Int)].collect() // queries × nProbe — driver-side by design
    val live = prunedLive(spark, root, probePairs.map(_._2).distinct.toSeq)
    live.join(broadcast(probePairs.toSeq.toDF("qid", "cluster")), Seq("cluster"))
      .join(broadcast(qdf), Seq("qid"))
      .withColumn("dot_q", dotQ("vec", "query_vec"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("dot_q").desc, col("id"))))
      .filter(col("rn") <= k)
      .select(col("qid"), col("id"), col("dot_q"))
      .orderBy(col("qid"), col("dot_q").desc, col("id"))
  }

  /** [[topKBatch]] on a QUANTIZED index: ONE code-column posting scan for
    * the probe-set union (vec never read — the [[topKQuantized]]
    * bandwidth contract at batch fan-in), the exact int8 dot per
    * (query, row) pair, one qid-partitioned window. Per-query results are
    * identical to `topKQuantized(…, rerank = 0)`. Output
    * (qid, id, dot_q8), k rows per query. */
  def topKBatchQuantized(spark: SparkSession, root: String,
                         queries: Seq[(Long, Array[Float])], k: Int,
                         nProbe: Int = 2): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    require(isQuantized(spark, root),
      s"index at $root carries no int8-quantized posting layout — " +
      "rebuild with quantize = true, or probe with topKBatch")
    require(queries.map(_._1).distinct.size == queries.size,
      "topKBatchQuantized query ids must be unique")
    val qdf = queries.toDF("qid", "query_vec")
    val ranked = DeltaTable.forPath(spark, centroidsPath(root)).toDF
      .select(col("cid"),
        expr("transform(centroid, x -> cast(x as double))").as("cdv"))
      .crossJoin(broadcast(qdf.select(col("qid"),
        expr("transform(query_vec, x -> cast(x as double))").as("dv"))))
      .withColumn("dist", expr(Similarity.SqDistExpr))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("dist").asc, col("cid"))))
      .filter(col("rn") <= nProbe)
      .select(col("qid"), col("cid"))
    val probePairs = ranked.as[(Long, Int)].collect() // queries × nProbe — driver-side by design
    // queries quantize through the SAME codegen'd expressions as the
    // stored rows (the engine-reproducibility contract)
    val qq = Quantize.scalarQuantize(
        qdf.select(col("qid"), col("query_vec").as("vec")), "vec")
      .select(col("qid"), col("q8").as("query_q8"),
        col("q8_scale").as("query_scale"))
    val live = prunedLive(spark, root, probePairs.map(_._2).distinct.toSeq)
    live.select("id", "cluster", "q8", "q8_scale")
      .join(broadcast(probePairs.toSeq.toDF("qid", "cluster")), Seq("cluster"))
      .join(broadcast(qq), Seq("qid"))
      .withColumn("dot_q8", Quantize.int8Dot(col("q8"), col("query_q8")))
      .withColumn("ord",
        col("dot_q8") / (col("q8_scale") * col("query_scale")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("ord").desc, col("id"))))
      .filter(col("rn") <= k)
      // row order matches topKQuantized's (descaled rank, then id) so the
      // batch is a drop-in for the per-query probe
      .orderBy(col("qid"), col("ord").desc, col("id"))
      .select(col("qid"), col("id"), col("dot_q8"))
  }
}
