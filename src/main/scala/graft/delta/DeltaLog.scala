package graft.delta

import scala.collection.mutable
import scala.util.matching.Regex

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Errors mirroring the reference's `DeltaTableError` variants
  * (`rust/src/delta.rs:284-291` and friends). */
final class NotATableException(path: String)
  extends IllegalArgumentException(s"not a Delta table: $path (no _delta_log commits)")
final class VersionNotFoundException(version: Long, path: String)
  extends IllegalArgumentException(s"version $version does not exist in $path")

/** `_last_checkpoint` pointer content (`rust/src/delta.rs:38-43`).
  * `v2FileName` is set for UUID-named v2 checkpoints (discovered by
  * listing — their names cannot be derived from the version alone). */
final case class CheckPoint(version: Long, size: Long, parts: Option[Int] = None,
                            v2FileName: Option[String] = None)

/** The transaction log of one Delta table: commit-file naming, log replay,
  * incremental refresh, checkpoint discovery, time travel.
  *
  * Driver-side by design — the reference's client is single-threaded on the
  * log too (`rust/src/delta.rs:589-657`); the distributed part of the system
  * is the *scan* over the resulting file list, which Spark executes. State
  * per snapshot is O(#files) on the driver, same as the reference's
  * `Vec<Add>` (see Snapshot scale note).
  */
final class DeltaLog private (
    val spark: SparkSession,
    val tablePath: Path,
    val store: LogStore) {

  import DeltaLog._

  val logPath = new Path(tablePath, "_delta_log")

  /** `%020d.json` commit naming (`rust/src/delta.rs:407-410`). */
  def commitFile(version: Long): Path =
    new Path(logPath, DeltaLog.pad20(version) + ".json")

  /** `_delta_log/_commits/` — coordinated commits not yet backfilled to
    * their classic names ([[CoordinatedCommits]]). */
  val commitsDir: Path = CoordinatedCommits.commitsDir(logPath)

  /** version → staged file for commits the coordinator tracks as
    * un-backfilled; merged over the filesystem listing so replay, time
    * travel and conflict checks see the coordinated tail. Refreshed from
    * the coordinator on [[update]] and extended by this process's own
    * coordinated commits. */
  @volatile private var stagedCommits: Map[Long, Path] = Map.empty
  /** True once a probe established `_delta_log/_commits/` does not exist;
    * cleared by any staged registration (see [[adoptStagedTail]]). */
  @volatile private var commitsDirKnownAbsent = false

  /** Mutations of [[stagedCommits]] are read-modify-writes on a volatile
    * — two concurrent `++`/`--` folds would lose one side's update (a
    * racing prune could drop a just-registered staged-only commit, making
    * it unreadable until the next refresh). One lock serializes them;
    * reads stay lock-free on the volatile. */
  private val stagedLock = new Object

  private[delta] def registerStaged(commits: Seq[CoordinatedCommit]): Unit =
    if (commits.nonEmpty) stagedLock.synchronized {
      stagedCommits = stagedCommits ++
        commits.map(c => c.version -> new Path(commitsDir, c.fileName))
      commitsDirKnownAbsent = false
    }

  /** Replace the staged map with the coordinator's current un-backfilled
    * tail; false when the snapshot is not coordinated (or the coordinator
    * is unknown here — reads then serve the backfilled view). */
  private def refreshStaged(snap: Snapshot): Boolean =
    CoordinatedCommits.clientForRead(snap) match {
      case Some((client, tconf)) =>
        val (pending, _) = client.getCommits(logPath.toString, tconf)
        stagedLock.synchronized {
          stagedCommits =
            pending.map(c => c.version -> new Path(commitsDir, c.fileName)).toMap
          commitsDirKnownAbsent = false
        }
        true
      case None => false
    }

  /** A commit's readable location: the classic name, or the staged file
    * while un-backfilled. Preferring the staged copy is safe — backfill
    * writes identical bytes and staged files outlive it until retention.
    * A staged file retention already reclaimed (its classic twin exists,
    * but the coordinator's tail is lagging a crashed `registerBackfill`)
    * falls back to the classic name instead of a dead path. */
  private def resolveCommitFile(version: Long): Path =
    stagedCommits.get(version).filter(store.exists).getOrElse(commitFile(version))

  /** Finish a dead coordinated era's backfill: copy any tracked staged
    * commit whose classic twin is missing to its classic name (tmp +
    * atomic claim, identical to [[CoordinatedCommits.backfill]] minus the
    * coordinator notification). Called from the filesystem-rename write
    * path — after a DISABLEMENT whose backfill crashed or failed, every
    * future writer sees "not coordinated" and would rename PAST the
    * staged version, leaving a permanent classic-log gap foreign readers
    * cannot cross (r12 review). No-op when no staged commits are tracked
    * (the overwhelmingly common case). */
  private[delta] def repairStagedGaps(): Unit =
    if (stagedCommits.nonEmpty) {
      var healed = Set.empty[Long]
      stagedCommits.toSeq.sortBy(_._1).foreach { case (v, src) =>
        val dst = commitFile(v)
        if (store.exists(dst)) healed += v
        else if (store.exists(src)) {
          claimClassic(src, dst)
          healed += v
        }
      }
      // prune confirmed-classic entries: a long-lived handle must not pay
      // per-entry existence probes on every later commit (r12 review);
      // resolveCommitFile falls back to the classic name it just verified
      stagedLock.synchronized { stagedCommits = stagedCommits -- healed }
    }

  /** Claim a classic commit name from a staged source: tmp copy + atomic
    * rename, concurrent-claimer tolerant (identical bytes by contract).
    * Shared with [[CoordinatedCommits.backfill]]. The tmp is written with
    * a plain byte round-trip, NOT store.copy — copy's atomic-visibility
    * staging would double-stage every claim (copytmp → backfill-tmp →
    * classic; r12 aggregate review), and nobody reads the private
    * backfill tmp mid-write. Commit JSONs are small; the heap buffer is
    * fine here (checkpoint parts never pass through claimClassic). */
  private[delta] def claimClassic(src: Path, dst: Path): Unit = {
    val tmp = new Path(logPath, CoordinatedCommits.BackfillTmpName(
      java.util.UUID.randomUUID().toString))
    try {
      store.writeBytes(tmp, store.readBytes(src))
      store.renameNoReplace(tmp, dst)
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => ()
    } finally {
      if (store.exists(tmp)) store.delete(tmp)
    }
  }

  /** Adopt staged commits stranded ABOVE the classic tip by a coordinator
    * that lost its state (the in-memory map cannot know them — the
    * coordinator that tracked them is gone): for each version contiguously
    * above `classicLatest` with EXACTLY ONE staged candidate under
    * `_commits/`, claim the classic name. A single candidate is either the
    * acked commit or a crashed proposal whose outcome its writer never
    * learned — adopting either is linearizable (equivalent to the original
    * rename landing late). TWO candidates for the same missing version are
    * undecidable (only the lost coordinator knew the winner): refuse
    * loudly rather than silently fork acked history (r12 review — the
    * coordinator-lag re-seed previously re-claimed such versions with new
    * content). Staged versions beyond the first gap are definitionally
    * unacked (acked versions are contiguous) and stay ignored. Returns the
    * classic tip after adoption.
    *
    * `conflictChecked` carries the adoption-mark fast path's precondition
    * (r13 advice — previously read the handle's mutable `cached`, safe only
    * by an unstated invariant of the two callers): the CALLER must have
    * conflict-classified every commit in `(conflictChecked.version,
    * classicLatest]` as a non-metadata change, OR pass a coordinated
    * snapshot (for which the fast path is vacuous). A stale marked snapshot
    * without that guarantee would silently skip adopting a NEWER era's
    * stranded staged commits — and skipping here is not benign: the next
    * rename would claim their version numbers and fork acked history. */
  private[delta] def adoptStagedTail(classicLatest: Long,
                                     conflictChecked: Snapshot): Long = {
    // absence cache: a never-coordinated table pays ONE probe per handle,
    // not one per commit. Invalidated by any staged registration (the only
    // way _commits/ can appear for this handle is coordinated activity,
    // which flows through registerStaged/refreshStaged).
    //
    // Deliberately NO "present but nothing to adopt" cache (r12 aggregate
    // review raised the per-commit LIST on once-coordinated tables): a
    // whole coordinated era can come and go through OTHER processes while
    // this handle only ever observes post-disablement snapshots — nothing
    // on this handle would invalidate a stale clean flag, and a stale
    // flag is not merely delayed healing: the rename below would claim a
    // stranded acked version's number and FORK history. The LIST of a
    // retention-bounded directory once per commit is the price of that
    // safety.
    if (commitsDirKnownAbsent) return classicLatest
    // Adoption-mark fast path (r12 verdict #3): a not-coordinated snapshot
    // carrying the disablement's durable mark proves "nothing to adopt" —
    // no era has started since the mark (re-enablement tombstones it
    // BEFORE registering the new coordinator), and the mark's classic
    // readability implies (ascending-backfill prefix) every acked commit
    // of the marked era is classic. The caller's conflict check has
    // already classified every commit up to `classicLatest` (the
    // documented precondition), so a concurrent enablement cannot be
    // hiding above this snapshot. Tracked staged leftovers are healed by
    // repairStagedGaps before this runs.
    val snapForMark = conflictChecked
    if (snapForMark.version >= 0 &&
        !CoordinatedCommits.isCoordinated(
          snapForMark.metadata.map(_.configuration).getOrElse(Map.empty)) &&
        CoordinatedCommits.hasAdoptionMark(snapForMark))
      return classicLatest
    if (!store.exists(commitsDir)) {
      commitsDirKnownAbsent = true
      return classicLatest
    }
    DeltaLog.commitsDirLists.incrementAndGet()
    val byVersion = store.list(commitsDir).flatMap { st =>
      st.getPath.getName match {
        case CoordinatedCommits.StagedRe(v, _) => Some(v.toLong -> st.getPath)
        case _ => None
      }
    }.groupBy(_._1)
    var tip = classicLatest
    var done = false
    while (!done) {
      val next = tip + 1
      if (store.exists(commitFile(next))) tip = next // raced backfill/adopter
      else byVersion.get(next).map(_.map(_._2)) match {
        case Some(Seq(only)) =>
          claimClassic(only, commitFile(next))
          tip = next
        case Some(many) if many.size > 1 =>
          throw new IllegalStateException(
            s"cannot recover coordinated commits of $tablePath: version " +
            s"$next has ${many.size} staged candidates under _commits/ and " +
            "no classic copy — the coordinator that knew the winner lost " +
            "its state. Refusing to pick one (forking acked history); " +
            "repair manually by promoting the correct staged file")
        case _ => done = true
      }
    }
    tip
  }

  /** Single-part checkpoint naming (`rust/src/delta.rs:412-416`). */
  def checkpointFile(version: Long): Path =
    new Path(logPath, DeltaLog.pad20(version) + ".checkpoint.parquet")

  // ---------------------------------------------------------------- listing

  /** All commit versions present, ascending — one listing instead of the
    * reference's per-version HEAD probe loop (`rust/src/delta.rs:548-586`;
    * its own TODO at /root/reference/TODO:2 suggests exactly this). */
  def listCommitVersions(): Seq[Long] = {
    val backfilled = store.list(logPath).flatMap { st =>
      st.getPath.getName match {
        case CommitFileRe(v) =>
          commitTimestamps.synchronized {
            commitTimestamps.getOrElseUpdate(v.toLong, st.getModificationTime)
          }
          Some(v.toLong)
        case _ => None
      }
    }
    // the coordinated tail extends the listing (staged-only versions are
    // real commits; a version both staged and backfilled counts once)
    (backfilled ++ stagedCommits.keys).distinct.sorted
  }

  def latestVersion(): Long = listCommitVersions().lastOption.getOrElse(-1L)

  /** Read `_delta_log/_last_checkpoint` (`rust/src/delta.rs:438-443`).
    * TOLERANT: the pointer is written non-atomically (plain overwrite per
    * the protocol — its readers tolerate staleness by contract), so a torn
    * or corrupt pointer reads as ABSENT and snapshot loads fall back to
    * checkpoint discovery + JSON replay, instead of bricking every read of
    * an otherwise healthy table (r11 review; delta-spark does the same). */
  def lastCheckpoint(): Option[CheckPoint] = {
    val p = new Path(logPath, "_last_checkpoint")
    if (!store.exists(p)) None
    else
      try {
        val n = ActionCodec.mapper.readTree(store.read(p))
        Option(n.get("version")).filterNot(_.isNull).map(v => CheckPoint(
          version = v.asLong,
          size = Option(n.get("size")).filterNot(_.isNull).map(_.asLong).getOrElse(0L),
          parts = Option(n.get("parts")).filterNot(_.isNull).map(_.asInt)))
      } catch {
        case scala.util.control.NonFatal(_) => None
      }
  }

  /** Newest complete checkpoint with version ≤ `maxVersion` —
    * `find_latest_check_point_for_version` (`rust/src/delta.rs:445-502`),
    * matching both single-part and multi-part naming. */
  def findLatestCheckpointForVersion(maxVersion: Long): Option[CheckPoint] = {
    var best: Option[CheckPoint] = None
    val partsSeen = mutable.Map[(Long, Int), Int]() // (version, totalParts) → count
    store.list(logPath).foreach { st =>
      st.getPath.getName match {
        case CheckpointFileRe(v) if v.toLong <= maxVersion =>
          val ver = v.toLong
          if (best.forall(_.version < ver)) best = Some(CheckPoint(ver, 0))
        case CheckpointPartRe(v, _, total) if v.toLong <= maxVersion =>
          val key = (v.toLong, total.toInt)
          val seen = partsSeen.getOrElse(key, 0) + 1
          partsSeen(key) = seen
          if (seen == total.toInt && best.forall(_.version < v.toLong))
            best = Some(CheckPoint(v.toLong, 0, Some(total.toInt)))
        case V2CheckpointRe(v, _, _) if v.toLong <= maxVersion =>
          // a v2 checkpoint is complete by existing (sidecar refs inside)
          if (best.forall(_.version < v.toLong))
            best = Some(CheckPoint(v.toLong, 0, None, Some(st.getPath.getName)))
        case _ => ()
      }
    }
    best
  }

  def checkpointPaths(cp: CheckPoint): Seq[Path] = cp.v2FileName match {
    case Some(name) => Seq(new Path(logPath, name))
    case None => cp.parts match {
      case None => Seq(checkpointFile(cp.version))
      case Some(n) => (1 to n).map(i =>
        new Path(logPath, DeltaLog.multipartName(cp.version, i, n)))
    }
  }

  // --------------------------------------------------------------- replay

  /** Parse one commit file into actions — `apply_log`
    * (`rust/src/delta.rs:504-522`): newline-delimited JSON, one wrapped
    * action per line. */
  def readCommit(version: Long): Seq[Action] = {
    val file = resolveCommitFile(version)
    try
      store.readLines(file)
        .filter(_.nonEmpty)
        .flatMap(ActionCodec.fromJsonLine)
        .toSeq
    catch {
      case e: Exception => throw new IllegalStateException(
        s"corrupt commit file $file: ${e.getMessage}", e)
    }
  }

  @volatile private var cached: Snapshot = Snapshot()
  private val commitTimestamps = mutable.Map[Long, Long]()

  def snapshot: Snapshot = cached

  /** Refresh to the latest version — `update`/`update_incremental`
    * (`rust/src/delta.rs:612-638`). Replays only commits newer than the
    * cached snapshot; cold-start restores the newest checkpoint first
    * (`DeltaTable::load`, `rust/src/delta.rs:589-608`). */
  def update(): Snapshot = synchronized {
    var snap = cached
    // Coordinated tables: refresh the staged tail FIRST so the listing
    // below already includes it. A cold load cannot know it is coordinated
    // yet — the second phase below covers the crossing-the-enablement case.
    val preRefreshed = refreshStaged(snap)
    var listed = listCommitVersions()
    // Recreate guard for SHARED handles (the r17 forPath cache): a WARM
    // handle whose log now holds NOTHING at or above the cached snapshot —
    // no commit AND no checkpoint — is looking at a deleted or re-created-
    // shorter table; the cached state describes a dead incarnation and
    // must never be served or extended. Rebuild from scratch, dropping the
    // per-version caches (their version numbers collide with the new
    // incarnation's). The checkpoint corroboration matters: commits
    // legitimately vanish below a covering checkpoint (retention cleanup,
    // checkpoint-only tables), which is NOT a recreate — the first guard
    // cut reset such tables to version -1 (caught by CheckpointSpec's
    // foreign-fixture replay). Checked BEFORE the cold-restore path so a
    // cold load is never judged by a snapshot it just restored. A
    // re-creation that has already grown PAST the cached version is
    // indistinguishable from normal progress by length alone — the same
    // documented limit as delta-spark's shared handles.
    if (snap.version >= 0 && listed.lastOption.forall(_ < snap.version) &&
        findLatestCheckpointForVersion(Long.MaxValue).forall(_.version < snap.version)) {
      commitTimestamps.synchronized(commitTimestamps.clear())
      ictCache.synchronized(ictCache.clear())
      // the dead incarnation's staged-commit map must die with it (r17
      // advice): resolveCommitFile prefers a staged file that still exists
      // on disk, so a recreate that left _delta_log/_commits behind would
      // otherwise replay the OLD incarnation's staged bytes at a colliding
      // version — folding dead-table actions into the rebuilt snapshot
      stagedLock.synchronized {
        stagedCommits = Map.empty
        commitsDirKnownAbsent = false
      }
      snap = Snapshot()
      listed = listCommitVersions() // staged entries no longer pad the listing
    }
    if (snap.version < 0) {
      newestUsableCheckpoint().foreach { cp => snap = restoreCheckpoint(cp) }
      listed = listCommitVersions() // pick up commits that landed during the restore
    }
    // Contiguous replay only — the reference probes version-by-version and
    // stops at the first missing commit (`EndOfLog`, rust/src/delta.rs:
    // 284-291,640-657); a listing-based replay must not leak commits past a
    // gap. (Commits OLDER than the restored checkpoint may legitimately be
    // cleaned away; contiguity is enforced from the replay start.)
    val before = cached.version
    snap = replayTail(snap, contiguousFrom(listed.filter(_ > snap.version), snap.version))
    // Warm-handle catch-up across a cleaned gap (r11 review): a long-lived
    // log cached at N whose successor commits were cleaned past retention
    // (a newer checkpoint supersedes them) would otherwise return the
    // stale version-N snapshot FOREVER — the checkpoint restore above only
    // runs cold. If commits remain beyond what contiguous replay reached,
    // bridge through the newest usable checkpoint past the gap; with no
    // covering checkpoint the stale-but-consistent snapshot stands (the
    // reference's EndOfLog semantics).
    if (listed.nonEmpty && snap.version < listed.last)
      newestUsableCheckpoint().filter(_.version > snap.version).foreach { cp =>
        var bridged = restoreCheckpoint(cp)
        bridged = replayTail(bridged,
          contiguousFrom(listed.filter(_ > bridged.version), bridged.version))
        snap = bridged
      }
    // Second phase for loads that CROSSED the coordinated-commits
    // enablement during this refresh (cold start, or a warm handle that
    // just replayed the enablement commit): the snapshot now names a
    // coordinator the first phase did not consult — fetch its tail and
    // replay it too.
    if (!preRefreshed && refreshStaged(snap)) {
      val listed2 = listCommitVersions()
      snap = replayTail(snap,
        contiguousFrom(listed2.filter(_ > snap.version), snap.version))
    }
    // replay advanced: check the landing version against any recorded
    // checksum (graft's own or a foreign writer's) — one HEAD per refresh
    // that actually moved, never per call. Validate BEFORE caching: a
    // snapshot that fails its checksum must never be served, and a retry
    // must re-replay (and re-validate) rather than see "no new commits".
    if (snap.version != before && snap.version >= 0) Checksum.validate(this, snap)
    cached = snap
    snap
  }

  /** Fold `versions` onto `snap` in order, with the commit READS prefetched
    * in pooled chunks: the fold must stay sequential, but a long tail read
    * one file at a time is O(tail) FS round trips — minutes on an object
    * store at 10⁴ commits. Chunking bounds driver memory to 256 commits'
    * actions at once. */
  private def replayTail(start: Snapshot, versions: Seq[Long]): Snapshot = {
    if (versions.isEmpty) return start
    // ONE mutable fold across the whole tail: a per-commit Snapshot.replay
    // re-materializes the O(#files) base maps per commit — O(tail × files),
    // a cliff the 10⁷-Add decade probe hit (20+ min where seconds belong).
    val st = new Snapshot.ReplayState(start)
    versions.grouped(256).foreach { chunk =>
      val read = GraftWriter.inDriverPool(chunk)(v => v -> readCommit(v))
      read.foreach { case (_, actions) => st.fold(actions.iterator) }
    }
    st.result(versions.last)
  }

  /** Checkpoints at or above this many actions restore through
    * [[DistributedReplay]] (executor-side parse + last-writer-wins) instead
    * of the driver-side row loop; the driver then collects only the
    * resolved survivors. Tunable via `spark.graft.replay.distributedThreshold`.
    * Default 100k: a 10⁵-action checkpoint decoded driver-side is already
    * hundreds of MB of Action objects (stats strings dominate), the wrong
    * side of the line at 100×-scale file counts — and below 10⁵ the
    * driver-local read ([[Checkpoints.read]], no Spark job at all) beats
    * the distributed jobs' fixed per-job cost. */
  private[delta] def distributedReplayThreshold: Long =
    spark.conf.getOption(DeltaLog.DistributedThresholdKey)
      .map(_.toLong).getOrElse(100000L)

  /** Cold-start checkpoint restore, auto-routed by size: large checkpoints
    * replay on the executors (adds via [[DistributedReplay.activeFiles]],
    * the small non-add state via [[Checkpoints.readNonAdd]]); small ones
    * take the direct driver path. `size` 0 means "unknown" (discovery
    * fallback) and stays on the driver path. */
  private def restoreCheckpoint(cp: CheckPoint): Snapshot =
    if (cp.size > 0 && cp.size >= distributedReplayThreshold) {
      val nonAdd = cp.v2FileName match {
        case Some(name) => Checkpoints.readNonAddV2(this, cp.version, name)
        case None => Checkpoints.readNonAdd(spark, checkpointPaths(cp))
      }
      val adds = DistributedReplay.prunedAddActions(this,
        version = Some(cp.version), resolved = Some(cp))
      Snapshot.replay(Snapshot(), nonAdd.iterator ++ adds.iterator, cp.version)
    } else
      replayCheckpointActions(readCheckpointActions(cp), cp.version)

  /** Driver-side checkpoint actions, any format (classic / multipart /
    * v2-with-sidecars). */
  private[delta] def readCheckpointActions(cp: CheckPoint): Seq[Action] =
    cp.v2FileName match {
      case Some(name) => Checkpoints.readV2(this, cp.version, name)
      case None => Checkpoints.read(spark, checkpointPaths(cp))
    }

  /** Checkpoint rows arrive in arbitrary order (multi-part files, parquet
    * row-group scatter), but [[Snapshot.replay]] is order-sensitive:
    * remove(F) after add(F) drops the file. Checkpoints written before the
    * round-6 superseded-tombstone filter may carry a tombstone for a path
    * that is also active (DV re-adds), so replay non-adds first — a
    * checkpoint is a state dump, and an add row always denotes an ACTIVE
    * file in that state. */
  private def replayCheckpointActions(acts: Seq[Action], version: Long): Snapshot = {
    val (adds, nonAdds) = acts.partition(_.isInstanceOf[AddAction])
    Snapshot.replay(Snapshot(), (nonAdds ++ adds).iterator, version)
  }

  /** `_last_checkpoint` is advisory: if its files are missing/incomplete
    * (e.g. a torn multipart write, or a v2 checkpoint whose UUID name the
    * pointer cannot carry), fall back to discovery — a stale pointer must
    * never brick the table. A discovered checkpoint matching the pointer's
    * version inherits its action count (discovery alone cannot know it;
    * the count routes the distributed restore). */
  private def newestUsableCheckpoint(): Option[CheckPoint] = {
    val pointer = lastCheckpoint()
    pointer
      .filter(cp => checkpointPaths(cp).forall(store.exists))
      .orElse(findLatestCheckpointForVersion(Long.MaxValue).map(d =>
        if (pointer.exists(_.version == d.version))
          d.copy(size = pointer.get.size)
        else d))
  }

  private def contiguousFrom(versions: Seq[Long], after: Long): Seq[Long] =
    versions.headOption match {
      case None => Nil
      case Some(first) if first != after + 1 => Nil // gap right at the start
      case Some(first) =>
        versions.zipWithIndex.takeWhile { case (v, i) => v == first + i }.map(_._1)
    }

  /** Pinned historical snapshot — `load_version`
    * (`rust/src/delta.rs:672-709`): validate the version exists, restore the
    * newest checkpoint ≤ version, replay the trailing commits. */
  def snapshotForVersion(version: Long): Snapshot = {
    val versions = listCommitVersions()
    // inherit the pointer's action count when it names this checkpoint, so
    // a pinned load of a large table routes through the SAME distributed
    // restore update() uses instead of collecting the full checkpoint on
    // the driver (r11 review)
    val cp = findLatestCheckpointForVersion(version).map { c =>
      lastCheckpoint().filter(_.version == c.version)
        .map(p => c.copy(size = p.size)).getOrElse(c)
    }
    if (!versions.contains(version) && !cp.exists(_.version == version))
      throw new VersionNotFoundException(version, tablePath.toString)
    var snap = cp match {
      case Some(c) => restoreCheckpoint(c)
      case None => Snapshot()
    }
    // Contiguity guard (r11 review): the tail must be EXACTLY
    // (base, version] — log cleanup can delete early commits while only a
    // NEWER checkpoint survives, and folding the surviving tail onto an
    // empty base would silently return a snapshot missing every file the
    // cleaned commits added. update() refuses gaps via contiguousFrom;
    // pinned loads must refuse them too.
    val tailVs = versions.filter(v => v > snap.version && v <= version)
    val expected = (snap.version + 1) to version
    if (tailVs.size != expected.size || !tailVs.sameElements(expected))
      throw new IllegalStateException(
        s"cannot reconstruct version $version of $tablePath: commit(s) " +
        s"${(expected.toSet -- tailVs.toSet).toSeq.sorted.take(5).mkString(", ")} " +
        "missing from the log (cleaned past retention?) and no checkpoint " +
        "at or before the gap covers them")
    val pinned = replayTail(snap, tailVs)
    Checksum.validate(this, pinned)
    pinned
  }

  /** Commit timestamp: the commit's `inCommitTimestamp` for versions the
    * table governs by ICT (`delta.enableInCommitTimestamps`, from the
    * enablement version on), else the commit file's modification time —
    * `get_version_timestamp` (`rust/src/delta.rs:711-729`, cache at
    * :566-571), extended with the ICT clock, which survives log
    * copies/migrations that rewrite mtimes. */
  def versionTimestamp(version: Long): Long = {
    val cfg = TableConfig.of(if (snapshot.version < 0) update() else snapshot)
    if (TableConfig.inCommitTimestampsEnabled(cfg) &&
        version >= TableConfig.ictEnablementVersion(cfg))
      inCommitTimestampOf(version).getOrElse(fileTimestamp(version))
    else fileTimestamp(version)
  }

  private def fileTimestamp(version: Long): Long =
    commitTimestamps.synchronized {
      commitTimestamps.getOrElseUpdate(
        version, store.fileStatus(resolveCommitFile(version)).getModificationTime)
    }

  private val ictCache = mutable.Map[Long, Option[Long]]()

  /** Seed the ICT cache for a version whose clock the caller just minted
    * (our own commit) — saves re-reading the file we wrote. */
  private[delta] def cacheIct(version: Long, ict: Long): Unit =
    ictCache.synchronized(ictCache.put(version, Some(ict)))

  /** The `inCommitTimestamp` of a version's leading commitInfo, if any. */
  def inCommitTimestampOf(version: Long): Option[Long] = {
    val cached = ictCache.synchronized(ictCache.get(version))
    cached.getOrElse {
      val ict = readCommit(version).collectFirst { case ci: CommitInfoAction =>
        Option(ci.info.get("inCommitTimestamp")).filterNot(_.isNull).map(_.asLong)
      }.flatten
      ictCache.synchronized(ictCache.put(version, ict))
      ict
    }
  }

  /** Latest version whose commit timestamp ≤ `tsMillis` — the binary search
    * of `load_with_datetime` (`rust/src/delta.rs:1041-1075`). A timestamp
    * before the first commit clamps to the earliest version (the reference's
    * `if version < 0 { version = 0 }`, `rust/src/delta.rs:1069-1071`). */
  def versionForTimestamp(tsMillis: Long): Long = {
    val all = listCommitVersions().toIndexedSeq
    if (all.isEmpty) throw new NotATableException(tablePath.toString)
    // Under ICT the timestamp axis is PIECEWISE monotonic: mtimes govern
    // pre-enablement versions, ICT the rest — and a log copy/migration can
    // rewrite every mtime to "now", putting the mtime segment AFTER the
    // ICT segment. Search each monotonic segment on its own axis: a target
    // at/after the enablement timestamp lives in the ICT segment.
    val cfg = TableConfig.of(if (snapshot.version < 0) update() else snapshot)
    val versions =
      if (!TableConfig.inCommitTimestampsEnabled(cfg)) all
      else {
        val enableV = TableConfig.ictEnablementVersion(cfg)
        val enableTs = cfg.get(TableConfig.IctEnablementTimestamp)
          .map(_.trim.toLong)
          .orElse(all.find(_ >= enableV).flatMap(inCommitTimestampOf))
        if (enableTs.exists(tsMillis >= _)) all.filter(_ >= enableV)
        else all.filter(_ < enableV) match {
          case pre if pre.nonEmpty => pre
          case _ => all.filter(_ >= enableV) // whole history is ICT
        }
      }
    var lo = 0
    var hi = versions.length - 1
    var ans = -1L
    while (lo <= hi) {
      val mid = (lo + hi) / 2
      if (versionTimestamp(versions(mid)) <= tsMillis) { ans = versions(mid); lo = mid + 1 }
      else hi = mid - 1
    }
    if (ans < 0) versions.head else ans
  }

  def snapshotForTimestamp(tsMillis: Long): Snapshot =
    snapshotForVersion(versionForTimestamp(tsMillis))

  // ------------------------------------------------------------- writing

  /** New transaction pinned to this log's current snapshot. A never-loaded
    * log is refreshed first so the conflict window starts at the true
    * latest version, not at -1 (which would classify the table's own
    * historical commits as conflicts). */
  def startTransaction(): OptimisticTransaction = {
    if (snapshot.version < 0) update()
    new OptimisticTransaction(this)
  }

  /** New transaction pinned to the snapshot the CALLER planned from.
    * REQUIRED whenever the transaction's actions were computed against a
    * snapshot captured earlier (removes, CDF images, rewrites, metadata
    * evolution): with shared handles (the r17 forPath cache) a concurrent
    * same-JVM commit can advance `snapshot` between the planning read and
    * transaction start, and the no-arg form would start the conflict
    * window PAST the racing commit — a lost update. */
  def startTransaction(pinned: Snapshot): OptimisticTransaction =
    new OptimisticTransaction(this, Some(pinned))

  /** Write a single-part checkpoint for the current snapshot + update
    * `_last_checkpoint` — `create_checkpoint_from_table`
    * (`rust/src/checkpoints.rs:104-248`). */
  def checkpoint(): CheckPoint = checkpoint(update())

  /** Part sizing honors `spark.graft.checkpoint.maxActionsPerPart`, so the
    * auto-checkpoint cadence multiparts on its own once a table's live
    * action count crosses the configured bound — no caller opt-in needed
    * (the reference's writer likewise reads `checkpoint_size` from table
    * config rather than a call-site argument). */
  def checkpoint(snap: Snapshot): CheckPoint =
    checkpoint(snap, maxActionsPerPart = spark.conf
      .getOption(DeltaLog.MaxActionsPerPartKey).map(_.toInt).getOrElse(500000))

  def checkpoint(snap: Snapshot, maxActionsPerPart: Int): CheckPoint = {
    val cfg = TableConfig.of(snap)
    val cp =
      if (TableConfig.checkpointPolicy(cfg) == "v2") {
        val (size, name) = Checkpoints.writeV2(this, snap, maxActionsPerPart)
        CheckPoint(snap.version, size, None, Some(name))
      } else {
        val (size, parts) = Checkpoints.write(this, snap, maxActionsPerPart)
        CheckPoint(snap.version, size, parts)
      }
    val json = {
      val o = ActionCodec.mapper.createObjectNode()
      o.put("version", cp.version)
      o.put("size", cp.size)
      cp.parts.foreach(o.put("parts", _))
      ActionCodec.mapper.writeValueAsString(o)
    }
    store.write(new Path(logPath, "_last_checkpoint"), json)
    if (TableConfig.expiredLogCleanupEnabled(cfg))
      cleanUpExpiredLogs(snap.version, TableConfig.logRetentionMillis(cfg))
    cp
  }

  /** Auto-checkpoint cadence: checkpoint when `version` is a positive
    * multiple of the table's `delta.checkpointInterval` (default 10) — the
    * reference's checkpoint Lambda fires on the same `version % interval`
    * test (`aws/delta-checkpoint/src/main.rs:46`), with the interval read
    * from table config, not code. Called by every committing writer
    * (batch, streaming sink, SQL INSERT). */
  def maybeCheckpoint(version: Long): Unit = {
    if (version > 0 &&
        version % TableConfig.checkpointInterval(TableConfig.of(snapshot)) == 0)
      checkpoint()
  }

  /** Delete log entries a checkpoint has superseded once they outlive
    * `delta.logRetentionDuration` — without this, a 100 TB table writing
    * thousands of commits a day accumulates an unbounded `_delta_log`
    * listing (the cost of EVERY snapshot load). Only versions strictly
    * below `checkpointVersion` are candidates, so replay-from-checkpoint
    * contiguity is untouched; time travel older than the retention window
    * is the documented casualty (as in Delta). Returns deleted file names. */
  def cleanUpExpiredLogs(checkpointVersion: Long, retentionMillis: Long): Seq[String] = {
    val cutoff = System.currentTimeMillis() - retentionMillis
    val deleted = Seq.newBuilder[String]
    val listing = store.list(logPath)
    // classic commit versions present AT ENTRY — the staged-hygiene rule
    // below keys on this snapshot, not a live exists() probe, so a classic
    // twin deleted by THIS pass still licenses reclaiming its staged copy
    val classicAtEntry: Set[Long] = listing.flatMap(st =>
      st.getPath.getName match {
        case CommitFileRe(v) => Some(v.toLong)
        case _ => None
      }).toSet
    listing.foreach { st =>
      val name = st.getPath.getName
      val versionOf: Option[Long] = name match {
        case CommitFileRe(v)           => Some(v.toLong)
        case CheckpointFileRe(v)       => Some(v.toLong)
        case CheckpointPartRe(v, _, _) => Some(v.toLong)
        case V2CheckpointRe(v, _, _)   => Some(v.toLong)
        case CrcFileRe(v)              => Some(v.toLong)
        case _                         => None
      }
      versionOf.foreach { v =>
        if (v < checkpointVersion && st.getModificationTime < cutoff) {
          store.delete(st.getPath)
          deleted += name
        }
      }
      // Backfill-tmp hygiene: a writer that crashed between writing
      // `_backfill_<uuid>.json` and renaming it leaves a file no other
      // rule names; anything past the cutoff is a leftover (live tmps
      // are seconds old). Same rule for `.<name>.<uuid>.copytmp` — the
      // atomic-copy staging name (r12: LogStore.copy publishes via
      // tmp+rename so readers never see a partial commit file).
      if ((CoordinatedCommits.BackfillTmpRe.findFirstIn(name).isDefined ||
           name.endsWith(".copytmp")) &&
          st.getModificationTime < cutoff) {
        store.delete(st.getPath)
        deleted += name
      }
    }
    // Staged-commit hygiene: `_commits/` files are retention-expired like
    // their classic twins — but ONLY once the classic twin exists. With
    // `backfillInterval > 1` a checkpoint can cover staged-ONLY versions,
    // so `v < checkpointVersion` alone would delete the single copy of a
    // commit the coordinator still tracks, making it permanently
    // un-backfillable (r12 review find). Requiring the backfilled twin
    // also covers version-race losers: the winner backfills the same
    // version, after which every staged file at it is reclaimable.
    if (store.exists(commitsDir))
      store.list(commitsDir).foreach { st =>
        val name = st.getPath.getName
        name match {
          case CoordinatedCommits.StagedRe(v, _)
              if v.toLong < checkpointVersion && st.getModificationTime < cutoff &&
                 classicAtEntry.contains(v.toLong) =>
            store.delete(st.getPath)
            deleted += s"_commits/$name"
          // atomic-copy staging leftovers: the coordinated proposal write
          // stages `.<name>.<uuid>.copytmp` IN _commits/ (dst's parent),
          // and a crash mid-stream leaves it matching no other rule (r12
          // aggregate review — the root-listing copytmp rule above never
          // descends here)
          case _ if name.endsWith(".copytmp") &&
                    st.getModificationTime < cutoff =>
            store.delete(st.getPath)
            deleted += s"_commits/$name"
          case _ => ()
        }
      }
    // v2 sidecar hygiene: a deleted v2 checkpoint leaves its sidecars
    // orphaned (nothing else names them). Reclaim `_sidecars/` files past
    // the cutoff that NO surviving v2 checkpoint references — the
    // reference set is read from the few surviving manifests, never
    // guessed from names. Keyed on the DIRECTORY existing, not on a v2
    // manifest being listed: once the last manifest ages out (or the
    // policy flips back to classic), gating on sawV2 would leak the
    // orphans forever.
    val scDir = Checkpoints.sidecarDir(this)
    if (store.exists(scDir)) {
      val referenced: Set[String] = store.list(logPath)
        .map(_.getPath.getName)
        .filter(n => V2CheckpointRe.findFirstIn(n).isDefined)
        .flatMap(n => Checkpoints.sidecarRefs(this, n)).map(_.path).toSet
      store.list(scDir).foreach { st =>
        val name = st.getPath.getName
        if (st.getModificationTime < cutoff && !referenced.contains(name)) {
          store.delete(st.getPath)
          deleted += s"_sidecars/$name"
        }
      }
    }
    deleted.result().sorted
  }
}

object DeltaLog {
  /** Diagnostic counter: `_commits/` adoption LISTs performed (the scan
    * the adoption mark exists to elide) — observable by specs, the
    * [[Checkpoints.driverReads]] pattern. */
  private[delta] val commitsDirLists = new java.util.concurrent.atomic.AtomicLong()

  /** Zero-padded protocol numbering under `Locale.ROOT` — the f""
    * interpolator's `%020d` formats with the JVM default locale, and on a
    * CLDR JDK under e.g. ar-EG that yields Arabic-Indic digits: every
    * commit/checkpoint FILE NAME would leave the protocol. (Verified on
    * this JDK: `String.format(ar-EG, "%020d", 123)` is non-ASCII.) */
  private[graft] def pad20(v: Long): String =
    String.format(java.util.Locale.ROOT, "%020d", Long.box(v))
  private[graft] def pad10(v: Int): String =
    String.format(java.util.Locale.ROOT, "%010d", Int.box(v))
  private[graft] def multipartName(version: Long, part: Int, nParts: Int): String =
    s"${pad20(version)}.checkpoint.${pad10(part)}.${pad10(nParts)}.parquet"

  /** Conf key for the distributed checkpoint-restore threshold (actions). */
  val DistributedThresholdKey = "spark.graft.replay.distributedThreshold"

  /** Conf key bounding actions per checkpoint part (default 500k); crossing
    * it turns every auto/explicit checkpoint multi-part. */
  val MaxActionsPerPartKey = "spark.graft.checkpoint.maxActionsPerPart"

  /** `%020d.json` */
  private val CommitFileRe: Regex = """^(\d{20})\.json$""".r
  /** `%020d.crc` per-version checksum (delta-spark convention). */
  private val CrcFileRe: Regex = """^(\d{20})\.crc$""".r
  /** `%020d.checkpoint.parquet` (`rust/src/delta.rs:450-455`) */
  private val CheckpointFileRe: Regex = """^(\d{20})\.checkpoint\.parquet$""".r
  /** `%020d.checkpoint.%010d.%010d.parquet` */
  private val CheckpointPartRe: Regex =
    """^(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet$""".r
  /** UUID-named v2 checkpoint `%020d.checkpoint.<uuid>.{json,parquet}`.
    * `[^.]+` cannot span the multipart form's two dotted digit groups, so
    * the three checkpoint namings stay disjoint. */
  private[delta] val V2CheckpointRe: Regex =
    """^(\d{20})\.checkpoint\.([^.]+)\.(json|parquet)$""".r

  /** Session conf naming a [[LogStoreFactory]] class; when set, every
    * DeltaLog (and therefore every write path — GraftWriter, DML, MERGE,
    * checkpoints) routes its log I/O through the factory's store. This is
    * how an object-store deployment swaps in [[ObjectStoreLogStore]]. */
  val LogStoreFactoryKey = "spark.graft.logStore.factory"

  /** Opt-out of the object-store safety fence below — single-writer
    * deployments only; concurrent commits can silently corrupt the log. */
  val AllowUnsafeRenameKey = "spark.graft.logStore.allowUnsafeRename"

  /** Schemes whose Hadoop FileSystem `rename` has NO create-new atomicity:
    * two concurrent committers can both pass the exists-check and the loser
    * silently overwrites the winner's commit. The reference refuses S3
    * writes without its lock client (`rust/src/storage/s3/mod.rs`); this is
    * the same fence at [[forPath]]'s scheme dispatch (the `parse_uri` role,
    * `rust/src/storage/mod.rs:141-192`). */
  private val NonAtomicRenameSchemes =
    Set("s3", "s3a", "s3n", "gs", "oss", "cos", "wasb", "wasbs", "abfs", "abfss", "swift")

  /** Handle cache (delta-spark's `DeltaLog.forTable` idiom, r17
    * optimization): ONE DeltaLog per (session, store-config, table path),
    * so repeated opens refresh the cached snapshot INCREMENTALLY instead
    * of cold-restoring a checkpoint (a footer and row read of every
    * checkpoint file) plus the full commit tail on every call. The r17
    * bench measured the commit-heavy query class spending most of its wall
    * in exactly those repeated cold `update()`s. The session is part of
    * the key, so a new session never sees another session's handle; the
    * store config is part of the key, so flipping
    * `spark.graft.logStore.factory` mid-session gets a fresh store. LRU-bounded — snapshots are O(#files) driver
    * state and long-lived JVMs (test suites) open thousands of short-lived
    * tables. [[DeltaLog.update]] carries the recreate guard that makes a
    * shared handle safe when a table is deleted and re-created at the same
    * path. [[forPathUncached]] is the deliberate-cold-path escape
    * (checkpoint-restore gates, cold-load benchmarks). */
  private val HandleCacheMax = 64
  private val handleCache =
    new java.util.LinkedHashMap[(SparkSession, String, Option[String], Option[String]),
                                DeltaLog](HandleCacheMax, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String, Option[String], Option[String]),
                                 DeltaLog]): Boolean =
        size > HandleCacheMax
    }

  /** Filesystem-qualified key paths for the handle cache (r17 advice):
    * '/tmp/t', 'file:/tmp/t' and trailing-slash spellings must map to ONE
    * handle, or the one-handle-per-table sharing (and the recreate-guard
    * reasoning built on it) is silently defeated for aliased spellings.
    * Qualification needs a FileSystem round trip, so results are memoized
    * (LRU-bounded like the handle cache itself). */
  private val QualifiedCacheMax = 1024
  private val qualifiedCache =
    new java.util.LinkedHashMap[(SparkSession, String), String](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String), String]): Boolean =
        size > QualifiedCacheMax
    }

  private def qualifiedKeyPath(spark: SparkSession, path: String): String = {
    val k = (spark, path)
    qualifiedCache.synchronized {
      val hit = qualifiedCache.get(k)
      if (hit != null) return hit
    }
    val p = new Path(path)
    val q =
      try p.getFileSystem(spark.sessionState.newHadoopConf())
        .makeQualified(p).toUri.toString
      catch { case scala.util.control.NonFatal(_) => p.toUri.toString }
    qualifiedCache.synchronized { qualifiedCache.put(k, q) }
    q
  }

  def forPath(spark: SparkSession, path: String): DeltaLog = {
    val key = (spark, qualifiedKeyPath(spark, path),
      spark.conf.getOption(LogStoreFactoryKey),
      spark.conf.getOption(AllowUnsafeRenameKey))
    handleCache.synchronized {
      val hit = handleCache.get(key)
      if (hit != null) return hit
    }
    val fresh = forPathUncached(spark, path)
    handleCache.synchronized {
      val raced = handleCache.get(key)
      if (raced != null) raced
      else { handleCache.put(key, fresh); fresh }
    }
  }

  /** Drop every cached handle (delta-spark's `DeltaLog.clearCache`
    * analog): the next [[forPath]] of any table builds a cold handle. For
    * tests simulating process restarts and for operators that need to
    * force a from-disk reload. */
  def clearHandleCache(): Unit = handleCache.synchronized(handleCache.clear())

  /** A fresh, never-shared handle — cold snapshot, cold caches. For paths
    * that deliberately exercise the cold-load/checkpoint-restore machinery
    * (gates and benchmarks); production code wants [[forPath]]. */
  def forPathUncached(spark: SparkSession, path: String): DeltaLog = {
    val p = new Path(path)
    val store = spark.conf.getOption(LogStoreFactoryKey) match {
      case Some(cls) =>
        Class.forName(cls).getDeclaredConstructor().newInstance()
          .asInstanceOf[LogStoreFactory].create(spark, p)
      case None =>
        // Locale.ROOT: under a Turkish-default-locale JVM "SWIFT".toLowerCase
        // is "swıft" (dotless ı) — silently bypassing this safety fence
        val scheme = Option(p.toUri.getScheme).getOrElse("file")
          .toLowerCase(java.util.Locale.ROOT)
        if (NonAtomicRenameSchemes.contains(scheme) &&
            !spark.conf.getOption(AllowUnsafeRenameKey).exists(_.toBoolean))
          throw new IllegalStateException(
            s"table URI scheme '$scheme://' has no atomic create-new rename: " +
            s"concurrent commits would corrupt the log. Configure a lock-backed " +
            s"store via $LogStoreFactoryKey (see ObjectStoreLogStore), or — for " +
            s"SINGLE-writer use only — set $AllowUnsafeRenameKey=true")
        new HadoopLogStore(spark.sessionState.newHadoopConf())
    }
    new DeltaLog(spark, p, store)
  }
}
