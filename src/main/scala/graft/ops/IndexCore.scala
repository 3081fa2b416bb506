package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.delta.{ChangeDataFeed, DeltaLog, NotATableException, Snapshot, TxnAction}

/** The consistency rules a standing index ([[DedupIndex]], [[IvfIndex]])
  * keeps over its tables. Delta gives ACID per table and leaves
  * multi-table consistency to the application; an index is such an
  * application, so these rules are written once here, and each index
  * declares one `IndexCore` and keeps only its fold math and its own
  * layout checks on top.
  *
  *  - Epoch agreement: a (re)build stamps one `epochKey` value on every
  *    one of `tables`, so a differing or missing epoch means a rebuild
  *    crashed between its table overwrites, or the index predates epochs —
  *    refused.
  *  - Binding: the source path (configuration key `sourceKey`), the
  *    configuration and the indexed mark (TxnAction `markApp`) are read
  *    from one snapshot of the table that carries them.
  *  - Window: a refresh folds the source's CDF window `(last, now]`.
  *  - Bare mark: a table whose mark must move without data advances it
  *    under the still-at-`last` precondition, so two racing refreshes
  *    serialize instead of regressing it (r14 review).
  *
  * `what` names the index in errors; `unbound` says how to bind one. */
private[ops] final case class IndexCore(what: String, epochKey: String,
                                        tables: Seq[String], sourceKey: String,
                                        markApp: String, unbound: String) {

  /** The latest snapshot of each of `tables` under `root`, read once, in
    * `tables` order, after checking that their epochs agree. */
  def agreedSnapshots(spark: SparkSession, root: String): Seq[Snapshot] = {
    val snaps = tables.map(t => DeltaLog.forPath(spark, s"$root/$t").update())
    if (snaps.exists(_.version < 0)) throw new NotATableException(root)
    val epochs = snaps.map(IndexCore.configOf(_).get(epochKey))
    if (epochs.contains(None) || epochs.distinct.size > 1)
      throw new IllegalStateException(
        s"$what at $root is torn: build epochs disagree (" +
        tables.zip(epochs).map { case (t, e) => s"$t=${e.getOrElse("none")}" }
          .mkString(", ") +
        ") — a rebuild crashed between its table overwrites, or the index " +
        "predates build epochs; rebuild it")
    snaps
  }

  /** The binding `snap` carries. */
  def binding(snap: Snapshot, root: String): IndexCore.Binding = {
    val conf = IndexCore.configOf(snap)
    val src = conf.getOrElse(sourceKey, throw new IllegalStateException(
      s"$what at $root is not bound to a source table — $unbound"))
    val last = snap.appTransactionVersion.getOrElse(markApp,
      throw new IllegalStateException(s"$what at $root carries no $markApp mark"))
    IndexCore.Binding(src, conf, last)
  }

  /** Advance the mark on the table at `path` from `last` to `now` in a
    * data-free commit. */
  def bareMark(spark: SparkSession, path: String, last: Long, now: Long): Unit = {
    val log = DeltaLog.forPath(spark, path)
    log.startTransaction(log.update())
      .requireAppVersion(markApp, last)
      .addAction(TxnAction(markApp, now))
      .commit()
  }
}

private[ops] object IndexCore {

  def configOf(snap: Snapshot): Map[String, String] =
    snap.metadata.map(_.configuration).getOrElse(Map.empty)

  /** Where a source-bound index stands: its source table, the
    * configuration the binding came from, and the last folded source
    * version. */
  final case class Binding(source: String, conf: Map[String, String], last: Long)

  /** The source's change feed over `(last, now]` and `now`, or None when
    * the source has not moved past the mark. */
  def window(spark: SparkSession, b: Binding): Option[(DataFrame, Long)] = {
    val srcLog = DeltaLog.forPath(spark, b.source)
    val now = srcLog.update().version
    if (now <= b.last) None
    else Some((ChangeDataFeed.readChanges(spark, srcLog, b.last, now), now))
  }
}
