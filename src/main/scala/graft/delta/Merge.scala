package graft.delta

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

final case class MergeMetrics(filesRewritten: Long, rowsUpdated: Long,
                              rowsDeleted: Long, rowsInserted: Long,
                              version: Long)

final class MultipleMatchException(msg: String) extends IllegalStateException(msg)

/** MERGE INTO (upsert): copy-on-write merge of a source DataFrame into a
  * Delta table on a join condition.
  *
  * Beyond the reference (delta-rs v0.4.1 has no DML), but protocol-pure:
  * one optimistic commit of remove+add actions, exactly like [[Dml]].
  *
  * The target is aliased `t` and the source `s`; the join condition and all
  * clause conditions/assignments must reference columns through those
  * aliases (`col("t.id") === col("s.id")`) — unqualified names are ambiguous
  * once both sides carry the column.
  *
  * Clause semantics (any number of each, SQL MERGE ordering): matched
  * clauses — `whenMatchedUpdate(cond, set)` / `whenMatchedDelete(cond)` —
  * apply **first-matching-clause-wins in declaration order**, as do the
  * `whenNotMatchedInsert*` clauses over unmatched source rows.
  * A target row matched by more than one source row raises
  * [[MultipleMatchException]] — with a rewriting clause the output would
  * otherwise be ambiguous, and even insert-only merges would duplicate the
  * kept row through the join.
  *
  * Scale shape:
  *  1. affected-file detection is a distributed inner join (source vs the
  *     pruned scan); AQE broadcasts a small source;
  *  2. only affected-file rows are re-joined (full-outer) against the
  *     source — both joins shuffle on the merge keys, the canonical
  *     copy-on-write merge shape;
  *  3. insert-only merges rewrite nothing: matched files are detected only
  *     to filter the inserts, and the commit carries adds alone;
  *  4. one optimistic commit, blind-retry like every writer here and in the
  *     reference (`rust/src/delta.rs:1306-1322` TODO).
  */
final class MergeBuilder private[delta] (
    spark: SparkSession, path: String, source: DataFrame, condition: Column) {

  import MergeBuilder._

  private val matchedClauses = scala.collection.mutable.Buffer[MatchedClause]()
  private val bySourceClauses = scala.collection.mutable.Buffer[MatchedClause]()
  private val insertClauses =
    scala.collection.mutable.Buffer[(Column, Option[Map[String, Column]])]()
  private var schemaEvolution = false

  /** Evolve the target schema with source-only columns before applying
    * clauses (delta-spark's `withSchemaEvolution`): new columns append
    * nullable, existing rows serve null for them, and clauses may assign
    * them. Shared columns must keep their type (same contract as
    * `mergeSchema` on append). */
  def withSchemaEvolution(): MergeBuilder = { schemaEvolution = true; this }

  private var targetPrunePreds: Seq[StatsPredicate] = Nil

  /** Pre-prune the target's file inventory with stats predicates the CALLER
    * proves exclude no source-matching row (typically an IN-set over the
    * source's equi-join keys — delta-spark's merge source-key pruning).
    * Pruned files skip the affected-file detection scan entirely, turning a
    * small-batch MERGE into a huge, key-clustered target from an O(target)
    * scan into an O(batch) one (r15 — the incremental maintainers' shape).
    * Semantics are unchanged: files the predicates drop behave exactly like
    * files the detection scan finds unaffected. Illegal with by-source
    * clauses, where ANY file may hold unmatched target rows. */
  def withTargetScanPredicates(preds: Seq[StatsPredicate]): MergeBuilder = {
    targetPrunePreds = preds; this
  }

  private var appVersionPrecond: Option[(String, Long, Long)] = None

  /** Abort with [[StaleAppVersionException]] unless the target's TxnAction
    * mark for `appId` still equals `expected` — checked eagerly against the
    * merge's read snapshot (before any join or rewrite work) AND
    * transactionally at commit, the same two-leg guarantee as GraftWriter's
    * `requireAppVersion`: the commit re-asserts the mark with a same-appId
    * TxnAction (at the unchanged `expected` value), arming the retry loop's
    * conflict rule so a competing mark landing mid-commit is
    * conflict-classified. Lets a DESTRUCTIVE fold merge distinguish a crash
    * replay (mark untouched — proceed) from a raced twin of the same window
    * (mark advanced — abort BEFORE deleting): per-row monotone clock guards
    * alone cannot, because an equal-clock twin passes them (r16 advice —
    * the dedup index's buckets MERGE-delete). */
  def requireAppVersion(appId: String, expected: Long): MergeBuilder =
    requireAppVersion(appId, expected, expected)

  /** As [[requireAppVersion]] but the committed TxnAction ADVANCES the mark
    * to `newVersion` — a compare-and-swap: concurrent merges carrying the
    * old `expected` abort instead of double-applying, and an index's
    * incremental maintainer can make every fold merge abort-on-stale
    * WITHOUT an extra mark commit per table (the mark rides the fold
    * commit itself). A no-op merge commits nothing and leaves the mark
    * untouched — re-read it before chaining another CAS merge. */
  def requireAppVersion(appId: String, expected: Long,
                        newVersion: Long): MergeBuilder = {
    require(appVersionPrecond.isEmpty,
      "requireAppVersion may be set at most once per merge")
    appVersionPrecond = Some((appId, expected, newVersion)); this
  }

  private var targetPruner: Option[Seq[AddAction] => Seq[AddAction]] = None

  /** As [[withTargetScanPredicates]] but with a caller-supplied file
    * pruner, for shapes one conjunctive predicate list cannot express
    * (e.g. a DIFFERENT key set per partition — the dedup index's per-band
    * probe, r15 review). Same contract: the pruner must return a superset
    * of the files holding source-matching rows; same by-source refusal. */
  def withTargetScanPruner(pruner: Seq[AddAction] => Seq[AddAction]): MergeBuilder = {
    targetPruner = Some(pruner); this
  }

  def whenMatchedUpdate(set: Map[String, Column]): MergeBuilder =
    whenMatchedUpdate(lit(true), set)
  def whenMatchedUpdate(cond: Column, set: Map[String, Column]): MergeBuilder = {
    matchedClauses += MatchedUpdate(cond, set); this
  }
  def whenMatchedDelete(): MergeBuilder = whenMatchedDelete(lit(true))
  def whenMatchedDelete(cond: Column): MergeBuilder = {
    matchedClauses += MatchedDelete(cond); this
  }
  /** Insert unmatched source rows, mapping target columns from the
    * same-named source columns. */
  def whenNotMatchedInsertAll(): MergeBuilder = {
    insertClauses += ((lit(true), None)); this
  }
  def whenNotMatchedInsert(values: Map[String, Column]): MergeBuilder =
    whenNotMatchedInsert(lit(true), values)
  def whenNotMatchedInsert(cond: Column, values: Map[String, Column]): MergeBuilder = {
    insertClauses += ((cond, Some(values))); this
  }
  /** Target rows with NO matching source row: update. Conditions and
    * assignments may reference only `t.` columns (the source side is null).
    * Any by-source clause forces a full-table rewrite — every file may hold
    * unmatched rows — so these are the most expensive merge clauses. */
  def whenNotMatchedBySourceUpdate(cond: Column, set: Map[String, Column]): MergeBuilder = {
    bySourceClauses += MatchedUpdate(cond, set); this
  }
  def whenNotMatchedBySourceDelete(): MergeBuilder = whenNotMatchedBySourceDelete(lit(true))
  /** Target rows with NO matching source row: delete. */
  def whenNotMatchedBySourceDelete(cond: Column): MergeBuilder = {
    bySourceClauses += MatchedDelete(cond); this
  }

  /** First-wins rewrite of clause conditions: clause i's effective
    * condition is its own AND the negation of every earlier clause's —
    * SQL MERGE's first-matching-clause-wins, and it makes the effective
    * conditions mutually exclusive by construction. */
  private def firstWins(conds: Seq[Column]): Seq[Column] = {
    var priorMiss: Column = lit(true)
    conds.map { c0 =>
      val c = coalesce(c0, lit(false))
      val eff = c && priorMiss
      priorMiss = priorMiss && !c
      eff
    }
  }

  def execute(): MergeMetrics = {
    require(matchedClauses.nonEmpty || insertClauses.nonEmpty || bySourceClauses.nonEmpty,
      "merge needs at least one when-clause")
    val log = DeltaLog.forPath(spark, path)
    val snap = log.update()
    if (snap.version < 0) throw new NotATableException(path)
    // fence BEFORE the join/classify work — the copy-on-write merge stages
    // its rewrite under at-rest names on mapped tables (allowNameMapping);
    // anything it cannot maintain still refuses here
    ProtocolSupport.assertWritable(snap, allowNameMapping = true)
    // mark-precondition first leg: a merge already stale at its read
    // snapshot aborts here, before any join work; the second (commit-time,
    // conflict-armed) leg is below at the transaction
    appVersionPrecond.foreach { case (app, want, _) =>
      val cur = snap.appTransactionVersion.get(app)
      if (!cur.contains(want)) throw new StaleAppVersionException(app, want, cur)
    }
    // an INSERT-ONLY merge (no matched/by-source clauses) commits pure
    // adds — exactly what an append-only table permits; only rewriting
    // merges are refused (r9 review)
    if (TableConfig.appendOnly(TableConfig.of(snap)) &&
        (matchedClauses.nonEmpty || bySourceClauses.nonEmpty))
      throw new AppendOnlyTableException(path)
    // row tracking: carried-over target rows materialize their identity
    // into the rewritten files; updated rows materialize the id and null
    // the version (inheriting this commit's); inserts get fresh ids from
    // the new files' base ranges. An INSERT-ONLY merge moves no rows —
    // it needs fresh ids but must not mint materialized column names (a
    // needless metaData action that conflicts every concurrent commit).
    val rewriteFiles = matchedClauses.nonEmpty || bySourceClauses.nonEmpty
    val rtState =
      if (rewriteFiles) RowTracking.rewriteState(snap) else None
    val mapped = ColumnMapping.isMapped(snap)
    def phys(c: String): String =
      if (mapped) ColumnMapping.physicalName(snap.schema, c) else c

    // schema evolution: source-only columns append (nullable) through the
    // same core as the batch writer's mergeSchema (mapped tables allocate
    // physical names + ids inside evolveSchema); the evolved metaData
    // commits WITH the merge, and old rows serve null for new columns
    val evolvedMd: Option[MetaDataAction] =
      if (schemaEvolution) GraftWriter.evolveSchema(snap, source.schema)
      else None
    val mergedSchema = evolvedMd
      .map(m => DeltaSchema.fromJson(m.schemaString)).getOrElse(snap.schema)
    val newCols = mergedSchema.fieldNames.toSet -- snap.schema.fieldNames

    val fieldNames = mergedSchema.fieldNames.toSet
    (matchedClauses ++ bySourceClauses).foreach {
      case MatchedUpdate(_, set) =>
        val bad = set.keys.filterNot(fieldNames.contains)
        require(bad.isEmpty, s"update assigns unknown columns: ${bad.mkString(",")}")
      case _ => ()
    }
    insertClauses.foreach {
      case (_, Some(vs)) =>
        val bad = vs.keys.filterNot(fieldNames.contains)
        require(bad.isEmpty, s"insert sets unknown columns: ${bad.mkString(",")}")
      case (_, None) =>
        val missing = mergedSchema.fieldNames.filterNot(source.columns.contains)
        if (missing.nonEmpty) throw new SchemaMismatchException(
          s"insertAll: source lacks target columns ${missing.mkString(",")}")
    }
    // identity columns: MERGE clauses speak in explicit values, which a
    // GENERATED ALWAYS column forbids outright (update or insert); a BY
    // DEFAULT column must be SET explicitly on partial inserts or a null
    // would land where the arithmetic belongs
    val idCols = IdentityColumns.of(snap.schema)
    val always = idCols.filterNot(_.allowExplicitInsert).map(_.name).toSet
    if (always.nonEmpty) {
      (matchedClauses ++ bySourceClauses).foreach {
        case MatchedUpdate(_, set) =>
          val bad = set.keys.filter(always.contains)
          require(bad.isEmpty, "cannot UPDATE GENERATED ALWAYS identity " +
            s"column(s) ${bad.mkString(",")}")
        case _ => ()
      }
      if (insertClauses.nonEmpty) throw new IllegalArgumentException(
        "MERGE INSERT into a table with GENERATED ALWAYS identity " +
        s"column(s) ${always.toSeq.sorted.mkString(",")} would supply " +
        "explicit values — use the DataFrame writer for generated inserts, " +
        "or declare the column GENERATED BY DEFAULT")
    }
    val byDefault = idCols.filter(_.allowExplicitInsert).map(_.name).toSet
    insertClauses.foreach {
      case (_, Some(vs)) =>
        val omitted = byDefault.filterNot(vs.contains)
        require(omitted.isEmpty, "MERGE INSERT must set identity " +
          s"column(s) ${omitted.toSeq.sorted.mkString(",")} explicitly")
      case _ => ()
    }

    // 1. which files hold matched target rows (condition pushed where
    // possible). By-source clauses touch unmatched rows, which any file may
    // hold — the whole table rewrites, and the detection scan is skipped.
    // the source executes TWICE — affected-file detection below, then the
    // rewrite's full-outer join. A NON-DETERMINISTIC source (rand()-derived
    // keys, a sampled frame) can disagree between the two executions: a row
    // matching only in the second, against a file detection did not flag,
    // would classify as not-matched and insert a duplicate key. Pin ONE
    // execution up front for such sources (eager localCheckpoint — loss
    // fails loudly, never silently recomputes); deterministic sources skip
    // the materialization. (A view over a concurrently-moving table is the
    // caller's snapshot-isolation responsibility, as in delta-spark.)
    val sourceNondet = source.queryExecution.analyzed.exists(
      _.expressions.exists(e => e.exists(!_.deterministic)))
    val src = if (sourceNondet) source.localCheckpoint(true) else source
    def releaseSrc(): Unit =
      if (sourceNondet) {
        try src.queryExecution.analyzed.collectLeaves().foreach {
          case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
          case _ => ()
        } catch { case _: Throwable => () }
      }

    require((targetPrunePreds.isEmpty && targetPruner.isEmpty) ||
        bySourceClauses.isEmpty,
      "withTargetScanPredicates/Pruner cannot compose with by-source " +
      "clauses: any file may hold unmatched target rows")
    val candidateFiles = targetPruner match {
      case Some(p) => p(StatsPredicate.prune(snap.files, targetPrunePreds))
      case None =>
        if (targetPrunePreds.isEmpty) snap.files
        else StatsPredicate.prune(snap.files, targetPrunePreds)
    }
    val affected =
      if (bySourceClauses.nonEmpty) snap.files
      else {
        // provenance via the DV-aware scan (input_file_name() is illegal
        // over the anti-join plan a DV'd table resolves to); on mapped
        // tables the scan serves logical names with provenance kept
        val affectedRel = Dml
          .logicalScanWithMeta(spark, log, snap, candidateFiles)
          .drop(DeletionVectors.PosCol)
          .withColumnRenamed(DeletionVectors.PathCol, "__file").alias("t")
          .join(src.alias("s"), condition)
          .select(col("__file")).distinct()
          .collect().map(_.getString(0)).toSet
        candidateFiles.filter(a => affectedRel.contains(a.path))
      }

    // 2. full-outer join of affected rows vs source. __t doubles as presence
    // marker and per-target-row id for multiple-match detection.
    val tScan = rtState match {
      case Some((_, names)) =>
        Dml.scanSubsetWithIdentity(spark, log, snap, affected, names)
      case None => Dml.scanSubset(spark, log, snap, affected)
    }
    val tAug = tScan.withColumn("__t", monotonically_increasing_id()).alias("t")
    val sAug = src.withColumn("__s", lit(true)).alias("s")
    // With CDF on, the change images must come from the SAME execution that
    // produced the rewrite — a re-executed join over a non-deterministic
    // source (rand(), current_timestamp, a view that moved) would stage
    // pre/post images that do not fold to the committed state (r6 ADVICE).
    // An eager localCheckpoint pins one execution of the join; all
    // downstream reads (rewrite, metrics fallback, four change classes) hit
    // the materialized rows, and executor loss fails loudly instead of
    // silently recomputing. Cost contract unchanged: affected-files-only,
    // paid only when the table captures changes.
    val cdfOn = ChangeDataFeed.enabled(snap)
    val joined =
      if (cdfOn) tAug.join(sAug, condition, "full_outer").localCheckpoint(true)
      else tAug.join(sAug, condition, "full_outer")
    // free the checkpoint's pinned blocks NOW (ContextCleaner is GC-driven
    // — on a big driver heap that can be never); best-effort
    def releaseJoin(): Unit = {
      if (cdfOn) {
        try joined.queryExecution.analyzed.collectLeaves().foreach {
          case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
          case _ => ()
        } catch { case _: Throwable => () }
      }
      releaseSrc()
    }

    val tPresent = col("__t").isNotNull
    val matched = tPresent && col("__s").isNotNull
    // first-wins effective conditions across the ordered clause lists
    val matchedEff = firstWins(matchedClauses.toSeq.map(_.cond))
    val updPairs = matchedClauses.toSeq.zip(matchedEff).collect {
      case (MatchedUpdate(_, set), eff) => (eff, set)
    }
    val delEffs = matchedClauses.toSeq.zip(matchedEff).collect {
      case (MatchedDelete(_), eff) => eff
    }
    val insEffs = firstWins(insertClauses.toSeq.map(_._1))
    // not-matched-by-source: target row present, no source row joined
    val bySource = tPresent && !col("__s").isNotNull
    val bySourceEff = firstWins(bySourceClauses.toSeq.map(_.cond))
    val bsUpdPairs = bySourceClauses.toSeq.zip(bySourceEff).collect {
      case (MatchedUpdate(_, set), eff) => (eff, set)
    }
    val bsDelEffs = bySourceClauses.toSeq.zip(bySourceEff).collect {
      case (MatchedDelete(_), eff) => eff
    }
    val anyUpd = updPairs.map(_._1).reduceOption(_ || _).getOrElse(lit(false))
    val anyDel = delEffs.reduceOption(_ || _).getOrElse(lit(false))
    val anyIns = insEffs.reduceOption(_ || _).getOrElse(lit(false))
    val anyBsUpd = bsUpdPairs.map(_._1).reduceOption(_ || _).getOrElse(lit(false))
    val anyBsDel = bsDelEffs.reduceOption(_ || _).getOrElse(lit(false))
    val applyUpd = matched && anyUpd
    val applyDel = matched && anyDel
    val applyBsUpd = bySource && anyBsUpd
    val applyBsDel = bySource && anyBsDel
    val isIns = !tPresent && anyIns

    // metrics + multiple-match detection ride ALONG the rewrite as observed
    // aggregates (one execution of the join, not two). Multi-match is pure
    // arithmetic: each of the `before` target rows appears in the join
    // output either as its k≥1 match rows or as 1 unmatched row, so
    // matched_pairs + unmatched_targets > before  ⇔  some target matched
    // more than one source row. `before` is exact from the affected files'
    // footer stats; when a foreign file lacks stats, a dedicated distinct
    // count verifies instead (rare path).
    val beforeFromStats = DeletionVectors.logicalRowCount(affected)
    val metricName = s"graft_merge_${java.util.UUID.randomUUID()}"
    val joinedObs = joined.observe(metricName,
      coalesce(sum(when(matched, 1L)), lit(0L)).as("matched_pairs"),
      coalesce(sum(when(bySource, 1L)), lit(0L)).as("unmatched_t"),
      coalesce(sum(when(applyUpd || applyBsUpd, 1L)), lit(0L)).as("nu"),
      coalesce(sum(when(applyDel || applyBsDel, 1L)), lit(0L)).as("nd"),
      coalesce(sum(when(isIns, 1L)), lit(0L)).as("ni"))

    // 3. build the rewritten rows. Insert-only merges rewrite no files.
    // The effective conditions are mutually exclusive, so the when-chains
    // below are order-independent within each list.
    val outFilter =
      if (rewriteFiles) (tPresent && !applyDel && !applyBsDel) || isIns else isIns
    val outFields = mergedSchema.fields.map { f =>
      // evolved columns: existing target rows have no such column — their
      // pre-merge value is null by definition
      val tCol: Column =
        if (newCols.contains(f.name)) lit(null).cast(f.dataType)
        else col(s"t.`${f.name}`")
      val sCol: Column =
        if (source.columns.contains(f.name)) col(s"s.`${f.name}`")
        else lit(null).cast(f.dataType)
      val insV: Column = insertClauses.toSeq.zip(insEffs).foldRight(lit(null): Column) {
        case (((_, values), eff), acc) =>
          val v = values match {
            case Some(vs) => vs.getOrElse(f.name, lit(null))
            case None     => sCol
          }
          when(eff, v).otherwise(acc)
      }
      val updV: Column = updPairs.foldRight(tCol) { case ((eff, set), acc) =>
        when(eff, set.getOrElse(f.name, tCol)).otherwise(acc)
      }
      val bsUpdV: Column = bsUpdPairs.foldRight(tCol) { case ((eff, set), acc) =>
        when(eff, set.getOrElse(f.name, tCol)).otherwise(acc)
      }
      when(!tPresent, insV).when(applyUpd, updV).when(applyBsUpd, bsUpdV)
        .otherwise(tCol)
        .cast(f.dataType).as(f.name)
    }
    // row tracking: target rows keep their id; inserted rows get null (→
    // fresh from the new file's base range). Updated rows null the
    // materialized version (→ this commit's, via defaultRowCommitVersion);
    // carried rows keep theirs.
    val rtFields: Seq[Column] = rtState.toSeq.flatMap { case (_, (matId, matRcv)) =>
      Seq(
        when(!tPresent, lit(null).cast("long"))
          .otherwise(col(s"t.`$matId`")).as(matId),
        when(!tPresent || applyUpd || applyBsUpd, lit(null).cast("long"))
          .otherwise(col(s"t.`$matRcv`")).as(matRcv))
    }
    // generated columns re-derive from the merged row's NEW source values
    // (unconditional recompute is identity on untouched rows). A column
    // counts as "explicit" (verified instead of recomputed) only when
    // EVERY clause assigns it: with a union, a row taken by a clause that
    // does NOT assign the generated column kept its stale value and
    // failed enforcement — a valid multi-clause merge aborting (r9
    // review). Partially-assigned generated columns therefore recompute
    // for all rows; enforcement still proves the output satisfies the
    // derivation either way.
    val clauseAssignments: Seq[Set[String]] =
      (matchedClauses ++ bySourceClauses).toSeq.collect {
        case MatchedUpdate(_, set) => set.keys.toSet
      } ++
        insertClauses.map(_._2.map(_.keys.toSet)
          .getOrElse(snap.schema.fieldNames.toSet)) // insertAll covers all
    val assignedCols: Set[String] =
      if (clauseAssignments.isEmpty) Set.empty
      else clauseAssignments.reduce(_ intersect _)
    def projected(df: DataFrame): DataFrame =
      Constraints.regenerate(df.select((outFields.toSeq ++ rtFields): _*), snap,
        explicit = assignedCols)
    val rewritten = projected(joinedObs.filter(outFilter))

    val removes = if (rewriteFiles) affected else Nil
    // mapped tables: the rewrite stages under at-rest names (and footer
    // field ids under mode=id), exactly like appends and CoW DML — against
    // the EVOLVED schema (change images carry evolved columns; snap.schema
    // would reject them)
    def stagedDf(df: DataFrame): DataFrame =
      if (mapped) ColumnMapping.toPhysical(df, mergedSchema,
        attachIds = ColumnMapping.mode(snap) == "id",
        passthrough = RowTracking.passthrough(rtState) + ChangeDataFeed.ChangeType)
      else df
    val checked = Constraints.enforce(rewritten, snap)
    val partCols = snap.partitionColumns.map(phys)
    val statsIdx = TableConfig.dataSkippingNumIndexedCols(TableConfig.of(snap))
    // change-data capture rides the SAME job as the rewrite: pre/post
    // images of updated rows, deleted rows, inserted rows — each change
    // class filters the ONE materialized join execution above
    // (localCheckpoint), only when the table property is on (the same
    // affected-files-only cost contract as Dml.rewrite)
    def write(): GraftWriter.Written =
      if (!cdfOn) GraftWriter.writeFiles(stagedDf(checked), path, partCols, statsIdx)
      else {
        // pre-images serve the EVOLVED schema too (one schema per commit's
        // change feed); old rows carry null for new columns
        val tCols = mergedSchema.fields.map(f =>
          (if (newCols.contains(f.name)) lit(null).cast(f.dataType)
           else col(s"t.`${f.name}`").cast(f.dataType)).as(f.name)).toSeq
        val ct = ChangeDataFeed.ChangeType
        // post/insert images go through the SAME projection (incl. the
        // generated-column recompute) as the committed rewrite — then
        // narrowed to the LOGICAL columns (hidden row-tracking columns
        // must not leak into change images)
        def logicalOnly(df: DataFrame) =
          df.select((mergedSchema.fieldNames.map(c => col(s"`$c`")).toSeq :+ col(ct)): _*)
        val images = Seq(
          joined.filter(applyUpd || applyBsUpd).select(tCols: _*)
            .withColumn(ct, lit("update_preimage")),
          logicalOnly(projected(joined.filter(applyUpd || applyBsUpd))
            .withColumn(ct, lit("update_postimage"))),
          joined.filter(applyDel || applyBsDel).select(tCols: _*)
            .withColumn(ct, lit("delete")),
          logicalOnly(projected(joined.filter(isIns))
            .withColumn(ct, lit("insert")))
        ).reduce(_ unionByName _)
        val (both, dataOnly) = ChangeDataFeed.withImages(checked, images)
        GraftWriter.writeFiles(stagedDf(both), path, partCols, statsIdx, Some(dataOnly))
      }
    val written =
      try write()
      catch {
        case e: Throwable =>
          // a failed write job (e.g. CHECK violation inside it) must not
          // leave the CDF join's checkpoint blocks pinned (r9 review)
          releaseJoin()
          throw e
      }
    val (adds, cdcActions) = (written.adds, written.cdc)
    // staged data and change files are referenced by no commit yet
    def discardStaged(): Unit = {
      GraftWriter.discardStaged(spark, path, adds)
      ChangeDataFeed.discardStaged(spark, log, cdcActions)
    }

    val (nUpd, nDel, nIns) = written.observed.get(metricName) match {
      case Some(row) =>
        val pairs = row.getAs[Long]("matched_pairs")
        val unmatchedT = row.getAs[Long]("unmatched_t")
        val multiMatched = beforeFromStats match {
          case Some(before) => pairs + unmatchedT > before
          case None => // foreign file without stats: verify explicitly
            pairs > joined.filter(matched).select("__t").distinct().count()
        }
        if (multiMatched) {
          discardStaged(); releaseJoin()
          throw new MultipleMatchException(
            "merge: a target row matched more than one source row")
        }
        (row.getAs[Long]("nu"), row.getAs[Long]("nd"), row.getAs[Long]("ni"))
      case None =>
        // no observation in the executed plan: recompute with the
        // standalone aggregation pass
        val per = joined.groupBy(col("__t")).agg(
          sum(when(matched, 1L).otherwise(0L)).as("nm"),
          sum(when(applyUpd || applyBsUpd, 1L).otherwise(0L)).as("nu"),
          sum(when(applyDel || applyBsDel, 1L).otherwise(0L)).as("nd"),
          sum(when(isIns, 1L).otherwise(0L)).as("ni"))
        val tot = per.agg(
          coalesce(max(col("nm")), lit(0L)),
          coalesce(sum(col("nu")), lit(0L)),
          coalesce(sum(col("nd")), lit(0L)),
          coalesce(sum(col("ni")), lit(0L))).first()
        if (tot.getLong(0) > 1) {
          discardStaged(); releaseJoin()
          throw new MultipleMatchException(
            "merge: a target row matched more than one source row")
        }
        (tot.getLong(1), tot.getLong(2), tot.getLong(3))
    }

    // nothing changed anywhere: discard the staged rewrite and commit
    // nothing (matters most for no-op by-source merges)
    if (nUpd == 0 && nDel == 0 && nIns == 0) {
      discardStaged(); releaseJoin()
      // no commit ⇒ the commit-time precondition leg never runs, so
      // re-check against a FRESH snapshot: a mark advanced by a concurrent
      // committer during the (potentially long) join/classify phase must
      // surface as the same abort signal a destructive stale merge gets,
      // not a silent "success" the caller then chains off (r16 advice —
      // DedupIndex's post-merge mark re-read adopted the foreign value)
      appVersionPrecond.foreach { case (app, want, _) =>
        val cur = log.update().appTransactionVersion.get(app)
        if (!cur.contains(want))
          throw new StaleAppVersionException(app, want, cur)
      }
      return MergeMetrics(0, 0, 0, 0, snap.version)
    }

    // 4. one commit: remove rewritten files, add their replacements + inserts.
    // t-qualified partition constraints in the join condition scope the read
    // domain, letting partition-disjoint concurrent writes commute. A
    // by-source merge reads unmatched rows in EVERY partition, so its
    // domain stays whole-table (empty filter list = conservative).
    val now = System.currentTimeMillis()
    val readDomain =
      if (bySourceClauses.nonEmpty) Nil
      else PartitionFilter.fromCatalyst(
        org.apache.spark.sql.graftbridge.ColumnBridge.catalystExpression(condition),
        snap.partitionColumns, qualifier = Some("t"))
        .map(PartitionFilter.mapKey(_, phys))
    val txn = log.startTransaction(snap).withReadFilters(readDomain)
    // mark-precondition second leg: checked against the commit txn's own
    // read snapshot, re-asserted (unchanged) so the retry loop
    // conflict-classifies a competing mark. An abort here is after the
    // rewrite staged — reclaim it like a failed commit.
    appVersionPrecond.foreach { case (app, want, next) =>
      try txn.requireAppVersion(app, want)
      catch {
        case e: Throwable =>
          discardStaged()
          releaseJoin()
          throw e
      }
      txn.addAction(TxnAction(app, next))
    }
    if (mapped) txn.permitNameMappedCommit()
    removes.foreach(f => txn.addAction(RemoveAction(
      path = f.path, deletionTimestamp = now, dataChange = true,
      extendedFileMetadata = Some(true),
      partitionValues = Some(f.partitionValues), size = Some(f.size))))
    txn.addActions(DeletionVectors.supersededDvTombstones(snap, removes, now))
    // at-most-one metaData per commit: when the merge both evolves the
    // schema and first-materializes row tracking, fold the two config
    // additions into a single action
    val rtMdOpt = rtState.flatMap(_._1)
    val mdToCommit: Option[MetaDataAction] = (evolvedMd, rtMdOpt) match {
      case (Some(e), Some(r)) => Some(e.copy(configuration = e.configuration +
        (RowTracking.MatRowIdKey -> r.configuration(RowTracking.MatRowIdKey)) +
        (RowTracking.MatRcvKey -> r.configuration(RowTracking.MatRcvKey))))
      case (Some(e), None) => Some(e)
      case (None, r) => r
    }
    mdToCommit.foreach(txn.addAction)
    // schema/config arriving via evolution may raise the protocol floor
    // (variant or timestampNtz columns) — same fence as the batch writer
    evolvedMd.foreach { md =>
      val protoBase = ProtocolAction(snap.minReaderVersion, snap.minWriterVersion,
        snap.readerFeatures, snap.writerFeatures)
      val fenced = ProtocolSupport.configFences(md.configuration, protoBase,
        Some(DeltaSchema.fromJson(md.schemaString)))
      if (fenced != protoBase) txn.addAction(fenced)
    }
    // fresh base-id ranges for every staged add on a row-tracking table —
    // including insert-only merges (rtState above is materialization-only)
    val finalAdds =
      if (RowTracking.enabled(snap)) {
        val (stamped, bump) = RowTracking.assignFreshRowIds(snap, adds)
        bump.foreach(txn.addAction)
        stamped
      } else adds
    txn.addActions(finalAdds)
    txn.addActions(cdcActions)
    val info = ActionCodec.mapper.createObjectNode()
    info.put("timestamp", now)
    info.put("operation", "MERGE")
    val params = info.putObject("operationParameters")
    params.put("predicate", condition.toString)
    params.put("numFilesRewritten", removes.size)
    val version =
      try txn.commit(Some(CommitInfoAction(info)))
      catch {
        case e: Throwable =>
          // staged rewrite files and CDC dirs are referenced only by the
          // failed commit — reclaim them (vacuum never will)
          discardStaged()
          releaseJoin()
          throw e
      }
    releaseJoin()
    MergeMetrics(removes.size, nUpd, nDel, nIns, version)
  }
}

object MergeBuilder {
  private sealed trait MatchedClause { def cond: Column }
  private final case class MatchedUpdate(cond: Column, set: Map[String, Column])
    extends MatchedClause
  private final case class MatchedDelete(cond: Column) extends MatchedClause
}

object Merge {
  /** Start a MERGE INTO the table at `path` from `source` on `condition`
    * (reference columns as `t.&lt;col&gt;` / `s.&lt;col&gt;`). */
  def into(spark: SparkSession, path: String, source: DataFrame,
           condition: Column): MergeBuilder =
    new MergeBuilder(spark, path, source, condition)
}
