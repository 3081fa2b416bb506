package graft.queries

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.delta._

/** End-to-end Delta-log-layer queries for the driver's correctness gate.
  *
  * Each query builds a real Delta table (commit log + parquet data files)
  * from a deterministic slice of the testdata, reads it back through the
  * engine (`DeltaTable.forPath` → log replay → snapshot scan), and is
  * oracle-checked against DuckDB running plain SQL over the same source
  * parquet — so the whole chain (writer → transaction → log replay →
  * pruning → scan) must agree with the oracle byte-for-byte.
  *
  * Timestamp columns are excluded from outputs per the oracle-exactness
  * rules (see Relational.scala scaladoc).
  */
object DeltaQueries {

  private val workRoot = "/root/repo/target/graftwork"

  /** Shared work-dir factory for sibling query sets (PipelineQueries'
    * committed-index gate builds real tables too). */
  private[queries] def freshWorkDir(name: String): String = freshDir(name)

  private def freshDir(name: String): String = {
    val dir = new java.io.File(s"$workRoot/$name")
    if (dir.exists()) graft.LocalPaths.deleteRecursively(dir)
    dir.mkdirs()
    dir.toString
  }

  private def li(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")

  private val cols = "l_orderkey, l_linenumber, l_quantity, l_returnflag"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // open_table + scan: write a slice as a Delta table, read it back through
    // log replay. Exercises S1/S4/S5/S11/T1-T7/S13-15 end-to-end.
    "q17_delta_roundtrip" -> { (s, dir) =>
      val t = freshDir("roundtrip")
      GraftWriter.write(li(s, dir).filter(col("l_orderkey") < 1000), t)
      DeltaTable.forPath(s, t).toDF
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    },

    // partitioned write + partition-pruned read (P3-P5/Q4): only the
    // l_returnflag=R files are handed to the scan.
    "q18_delta_partition_prune" -> { (s, dir) =>
      val t = freshDir("partprune")
      GraftWriter.write(li(s, dir).filter(col("l_orderkey") < 2000), t,
        SaveMode.ErrorIfExists, partitionBy = Seq("l_returnflag"))
      val dt = DeltaTable.forPath(s, t)
      dt.toDF(Seq(PartitionFilter.Eq("l_returnflag", "R")))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    },

    // time travel (S2/V1): append on top of v0, then read version 0.
    "q19_delta_timetravel" -> { (s, dir) =>
      val t = freshDir("timetravel")
      val d = li(s, dir)
      GraftWriter.write(d.filter(col("l_orderkey") < 500), t)
      GraftWriter.write(
        d.filter(col("l_orderkey") >= 500 && col("l_orderkey") < 1000), t, SaveMode.Append)
      DeltaTable.forPath(s, t, version = 0).toDF
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    },

    // checkpointing (S6-S9/D7/S18): 12 commits → auto-checkpoint at v10; a
    // fresh client restores via _last_checkpoint + trailing JSON replay.
    "q20_delta_checkpoint" -> { (s, dir) =>
      val t = freshDir("checkpoint")
      val d = li(s, dir)
      (0 until 12).foreach { i =>
        GraftWriter.write(
          d.filter(col("l_orderkey") >= i * 100 && col("l_orderkey") < (i + 1) * 100), t,
          if (i == 0) SaveMode.ErrorIfExists else SaveMode.Append)
      }
      // COLD handle for the serving read: the gate's claim is that the
      // auto-checkpoint at version 10 restores + the 2-commit tail replays
      // — the shared-handle cache (r17) would serve the writer's warm
      // snapshot and never exercise the restore
      DeltaTable.forPathUncached(s, t).toDF
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    },

    // OPTIMIZE compaction: many small commits → one compacted file; the
    // compacted table must still read identically (dataChange=false commit).
    "q39_delta_optimize" -> { (s, dir) =>
      val t = freshDir("optimize")
      val d = li(s, dir)
      (0 until 6).foreach { i =>
        GraftWriter.write(
          d.filter(col("l_orderkey") >= i * 100 && col("l_orderkey") < (i + 1) * 100)
            .repartition(1), t,
          if (i == 0) SaveMode.ErrorIfExists else SaveMode.Append)
      }
      Optimize.compact(s, t)
      DeltaTable.forPath(s, t).toDF
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    },

    // streaming tail (ST5): three committed versions consumed as micro-
    // batches by the polling source; their union must equal the table.
    "q40_delta_stream_tail" -> { (s, dir) =>
      val t = freshDir("streamtail")
      val d = li(s, dir)
      val log = graft.delta.DeltaLog.forPath(s, t)
      val tailer = graft.streaming.DeltaTailer.fromStart(log)
      (0 until 3).foreach { i =>
        GraftWriter.write(
          d.filter(col("l_orderkey") >= i * 200 && col("l_orderkey") < (i + 1) * 200), t,
          if (i == 0) SaveMode.ErrorIfExists else SaveMode.Append)
      }
      Iterator.continually(tailer.nextBatch())
        .takeWhile(_.isDefined).flatten
        .map(_._2)
        .reduce(_ unionByName _)
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    },

    // copy-on-write DELETE: remove a slice, table must read as if filtered.
    "q45_delta_delete" -> { (s, dir) =>
      val t = freshDir("delete")
      GraftWriter.write(li(s, dir).filter(col("l_orderkey") < 1000), t)
      Dml.delete(s, t, col("l_quantity") > 30)
      DeltaTable.forPath(s, t).toDF
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    },

    // copy-on-write UPDATE: bump quantity for one returnflag, emit micro-units.
    "q46_delta_update" -> { (s, dir) =>
      val t = freshDir("update")
      GraftWriter.write(li(s, dir).filter(col("l_orderkey") < 1000), t)
      Dml.update(s, t, col("l_returnflag") === "R",
        Map("l_quantity" -> (col("l_quantity") + 100.0)))
      DeltaTable.forPath(s, t).toDF
        .select(col("l_orderkey"), col("l_linenumber"),
          Relational.micro(col("l_quantity")).as("qty"),
          col("l_returnflag"))
        .orderBy("l_orderkey", "l_linenumber", "qty", "l_returnflag")
    },

    // MERGE INTO (upsert): keys <500 untouched, 500-999 updated (max qty per
    // key + 1000), 1000-1499 inserted. Source is key-deduped (the synthetic
    // lineitem has duplicate (okey,line) keys, and merge forbids one target
    // row matching two source rows); the reverse fan-out — one source row
    // updating several duplicate target rows — is legal and exercised here.
    // ORDER BY needs all four columns: keys alone are non-unique.
    "q47_delta_merge" -> { (s, dir) =>
      val t = freshDir("merge")
      GraftWriter.write(li(s, dir).filter(col("l_orderkey") < 1000), t)
      val src = li(s, dir)
        .filter(col("l_orderkey") >= 500 && col("l_orderkey") < 1500)
        .groupBy("l_orderkey", "l_linenumber")
        .agg((max("l_quantity") + 1000.0).as("l_quantity"),
          max("l_returnflag").as("l_returnflag"))
      Merge.into(s, t, src,
          col("t.l_orderkey") === col("s.l_orderkey") &&
          col("t.l_linenumber") === col("s.l_linenumber"))
        .whenMatchedUpdate(Map("l_quantity" -> col("s.l_quantity")))
        .whenNotMatchedInsertAll()
        .execute()
      DeltaTable.forPath(s, t).toDF
        .select(col("l_orderkey"), col("l_linenumber"),
          Relational.micro(col("l_quantity")).as("qty"),
          col("l_returnflag"))
        .orderBy("l_orderkey", "l_linenumber", "qty", "l_returnflag")
    },

    // Schema evolution: first batch lacks l_returnflag; second batch appends
    // it via mergeSchema. Old rows null-fill the evolved column on read.
    "q49_schema_evolution" -> { (s, dir) =>
      val t = freshDir("evolve")
      val base = li(s, dir).select("l_orderkey", "l_linenumber", "l_quantity")
      GraftWriter.write(base.filter(col("l_orderkey") < 500), t)
      GraftWriter.write(
        li(s, dir).filter(col("l_orderkey") >= 500 && col("l_orderkey") < 1000),
        t, SaveMode.Append, mergeSchema = true)
      DeltaTable.forPath(s, t).toDF
        .select(col("l_orderkey"), col("l_linenumber"),
          Relational.micro(col("l_quantity")).as("qty"),
          coalesce(col("l_returnflag"), lit("-")).as("flag"))
        .orderBy("l_orderkey", "l_linenumber", "qty", "flag")
    },

    // Full SQL DML path: CREATE TABLE → SQL DELETE → SQL UPDATE → read back.
    // Exercises the GraftSqlDml hint-stage rewrite end-to-end in the gate
    // session (whose extensions Verify asserts at startup). Semantics:
    // delete qty>30 rows, then bump remaining 'A'-flag rows by 50.
    "q48_sql_dml" -> { (s, dir) =>
      val t = freshDir("sqldml")
      GraftWriter.write(li(s, dir).filter(col("l_orderkey") < 1000), t)
      s.sql("DROP TABLE IF EXISTS graft_gate_dml")
      s.sql(s"CREATE TABLE graft_gate_dml USING `graft-delta` OPTIONS (path '$t')")
      s.sql("DELETE FROM graft_gate_dml WHERE l_quantity > 30")
      s.sql("UPDATE graft_gate_dml SET l_quantity = l_quantity + 50 WHERE l_returnflag = 'A'")
      val out = s.sql(
        """SELECT l_orderkey, l_linenumber,
          |CAST(CAST(l_quantity AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS qty,
          |l_returnflag
          |FROM graft_gate_dml
          |ORDER BY l_orderkey, l_linenumber, qty, l_returnflag""".stripMargin)
      s.sql("DROP TABLE graft_gate_dml")
      out
    },

    // Full DSv2 catalog DDL path (GraftCatalog as spark_catalog): CTAS into
    // a partitioned table, ALTER ADD COLUMNS committed to the log, positional
    // INSERT through the V1_BATCH_WRITE funnel, then a static-partition
    // INSERT OVERWRITE scoped to one partition's files. Every statement is a
    // log commit; the read replays them all.
    "q58_catalog_ddl" -> { (s, dir) =>
      val t = freshDir("catddl")
      li(s, dir).createOrReplaceTempView("graft_cat_src")
      s.sql("DROP TABLE IF EXISTS graft_gate_cat")
      s.sql(
        s"""CREATE TABLE graft_gate_cat USING `graft-delta`
           |PARTITIONED BY (l_returnflag) LOCATION '$t'
           |AS SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
           |FROM graft_cat_src WHERE l_orderkey < 1000""".stripMargin)
      s.sql("ALTER TABLE graft_gate_cat ADD COLUMNS (bonus BIGINT)")
      s.sql(
        """INSERT INTO graft_gate_cat
          |SELECT l_orderkey + 1000000, l_linenumber, l_quantity, l_returnflag, 42
          |FROM graft_cat_src WHERE l_orderkey < 100""".stripMargin)
      s.sql(
        """INSERT OVERWRITE TABLE graft_gate_cat PARTITION (l_returnflag = 'R')
          |SELECT l_orderkey, l_linenumber, l_quantity * 2, CAST(NULL AS BIGINT)
          |FROM graft_cat_src WHERE l_orderkey < 500 AND l_returnflag = 'R'""".stripMargin)
      val out = s.sql(
        """SELECT l_orderkey, l_linenumber,
          |CAST(CAST(l_quantity AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS qty,
          |l_returnflag AS flag, COALESCE(bonus, -1) AS bonus
          |FROM graft_gate_cat
          |ORDER BY l_orderkey, l_linenumber, qty, flag, bonus""".stripMargin)
      s.sql("DROP TABLE graft_gate_cat")
      out
    },

    // Batch incremental feed: rows added in (v0, latest] via the
    // graft_changes TVF — the catch-up-job shape (process the tail since a
    // checkpointed version, never rescan the table). The OPTIMIZE after the
    // appends proves dataChange=false compactions stay invisible.
    "q61_changes" -> { (s, dir) =>
      val t = freshDir("changes")
      val d = li(s, dir)
      GraftWriter.write(d.filter(col("l_orderkey") < 500), t) // v0: the "base"
      GraftWriter.write(
        d.filter(col("l_orderkey") >= 500 && col("l_orderkey") < 1000), t,
        SaveMode.Append) // v1
      GraftWriter.write(
        d.filter(col("l_orderkey") >= 1000 && col("l_orderkey") < 1500), t,
        SaveMode.Append) // v2
      Optimize.compact(s, t) // v3: dataChange=false, must not appear
      s.sql(
        s"""SELECT l_orderkey, l_linenumber,
           |CAST(CAST(l_quantity AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS qty,
           |l_returnflag, _commit_version
           |FROM graft_changes('$t', 0)
           |ORDER BY l_orderkey, l_linenumber, qty, l_returnflag, _commit_version""".stripMargin)
    },

    // SQL over a Delta table (the reference's delegated-SQL surface,
    // rust/tests/datafusion_test.rs:12-33: register table → run SQL):
    // register the snapshot as a temp view and run an aggregation in
    // spark.sql — Catalyst plans it over the GraftFileIndex scan.
    "q42_delta_sql" -> { (s, dir) =>
      val t = freshDir("deltasql")
      GraftWriter.write(li(s, dir).filter(col("l_orderkey") < 1500), t)
      DeltaTable.forPath(s, t).toDF.createOrReplaceTempView("graft_delta_sql")
      s.sql("""SELECT l_returnflag, count(*) AS n,
              |CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) AS qty
              |FROM graft_delta_sql WHERE l_orderkey > 5
              |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    },

    // RESTORE: delete + append on top of v0, rewind to v0 with one diff
    // commit; the restored read must equal the original selection exactly.
    "q51_restore" -> { (s, dir) =>
      val t = freshDir("restore")
      val d = li(s, dir)
      GraftWriter.write(d.filter(col("l_orderkey") < 1000), t) // v0
      Dml.delete(s, t, col("l_quantity") > 25) // v1
      GraftWriter.write(
        d.filter(col("l_orderkey") >= 1000 && col("l_orderkey") < 1500), t,
        SaveMode.Append) // v2
      DeltaTable.forPath(s, t).restoreToVersion(0) // v3
      DeltaTable.forPath(s, t).toDF
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    },

    // OPTIMIZE ZORDER: cluster on (l_orderkey, l_quantity), then serve a
    // range query through stats pruning + row filter; contents must still
    // match the oracle exactly (dataChange=false rewrite + skipping safety).
    "q52_zorder" -> { (s, dir) =>
      val t = freshDir("zorder")
      GraftWriter.write(li(s, dir).filter(col("l_orderkey") < 2000).repartition(8), t)
      Optimize.zorder(s, t, Seq("l_orderkey", "l_quantity"),
        targetFileBytes = 64L * 1024)
      DeltaTable.forPath(s, t)
        .toDF(Nil, Seq(StatsPredicate.Ge("l_orderkey", 500L),
                       StatsPredicate.Lt("l_orderkey", 1000L)))
        .filter(col("l_orderkey") >= 500 && col("l_orderkey") < 1000)
        // total order: (okey, line) is non-unique in the synthetic data, and
        // the zorder rewrite permutes the tie order the scan feeds the sort
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    },

    // CONVERT TO DELTA: a plain hive-partitioned parquet dir is adopted in
    // place (v0 = describe-what's-there commit), then read back through the
    // log with a partition filter — pruning + stats must work from v0.
    "q55_convert" -> { (s, dir) =>
      val t = freshDir("convert")
      li(s, dir).filter(col("l_orderkey") < 1500)
        .write.mode("overwrite").partitionBy("l_returnflag").parquet(t)
      Convert.parquetToDelta(s, t, partitionBy = Seq("l_returnflag"))
      DeltaTable.forPath(s, t)
        .toDF(Seq(PartitionFilter.Eq("l_returnflag", "A")))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    },

    // SHALLOW CLONE: zero-copy fork of the delta table, then a
    // delete-in-the-clone; the clone must read the source snapshot minus
    // the deleted slice while the source stays untouched (verified by the
    // oracle equality itself — the readback goes through the clone's log
    // and the source's data files).
    "q57_clone" -> { (s, dir) =>
      val t = freshDir("clonesrc")
      val c = freshDir("clonedst")
      GraftWriter.write(li(s, dir).filter(col("l_orderkey") < 1200), t)
      Clone.shallow(s, t, c)
      Dml.delete(s, c, col("l_quantity") > 35)
      DeltaTable.forPath(s, c).toDF
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    },

    // Deletion vectors (merge-on-read DML): DV DELETE then DV UPDATE on the
    // same table — the second op's positions union with the first's on
    // shared files, the update's matched rows move to appended files, and
    // the readback must subtract every DV'd position exactly. No data file
    // written by v0 is ever rewritten (the 100 TB point-delete shape).
    "q63_dv_dml" -> { (s, dir) =>
      val t = freshDir("dvdml")
      GraftWriter.write(li(s, dir).filter(col("l_orderkey") < 1000), t)
      DeltaTable.forPath(s, t)
        .setProperties(Map(TableConfig.EnableDeletionVectors -> "true"))
      Dml.delete(s, t, col("l_quantity") > 40)                       // DV delete
      Dml.update(s, t, col("l_returnflag") === "R",                  // DV update
        Map("l_quantity" -> (col("l_quantity") + 200.0)))
      DeltaTable.forPath(s, t).toDF
        .select(col("l_orderkey"), col("l_linenumber"),
          Relational.micro(col("l_quantity")).as("qty"),
          col("l_returnflag"))
        .orderBy("l_orderkey", "l_linenumber", "qty", "l_returnflag")
    },

    // Change Data Feed end-to-end: enable capture, UPDATE, read the
    // row-level feed back (pre/post images from `_change_data` via
    // readChanges) — oracle recomputes both images from the source rows.
    // Versions: 0 = create, 1 = SET TBLPROPERTIES, 2 = the UPDATE.
    "q64_cdf" -> { (s, dir) =>
      val t = freshDir("cdf")
      GraftWriter.write(li(s, dir).filter(col("l_orderkey") < 1000), t)
      DeltaTable.forPath(s, t)
        .setProperties(Map(TableConfig.EnableChangeDataFeed -> "true"))
      Dml.update(s, t, col("l_returnflag") === "R",
        Map("l_quantity" -> (col("l_quantity") + 100.0)))
      DeltaTable.forPath(s, t).changes(1, 2)
        .select(col("l_orderkey"), col("l_linenumber"),
          Relational.micro(col("l_quantity")).as("qty"),
          col("l_returnflag"), col("_change_type"), col("_commit_version"))
        .orderBy("_change_type", "l_orderkey", "l_linenumber", "qty", "l_returnflag",
          "_commit_version")
    },

    // Column-mapping lifecycle (the delta-spark renamed-table shape):
    // create mapped from version 0 (every at-rest file speaks col-<uuid>),
    // copy-on-write DELETE through a logical predicate, RENAME COLUMN as a
    // metadata-only commit, then UPDATE and read back through the NEW
    // name. The oracle recomputes the same rows from the raw parquet —
    // proving the physical indirection never changes a value.
    "q65_column_mapping" -> { (s, dir) =>
      val t = freshDir("cmap")
      GraftWriter.write(li(s, dir).filter(col("l_orderkey") < 1000), t,
        configuration = Some(Map("delta.columnMapping.mode" -> "name")))
      Dml.delete(s, t, col("l_quantity") > 40)
      DeltaTable.forPath(s, t).renameColumn("l_quantity", "qty_raw")
      Dml.update(s, t, col("l_returnflag") === "R",
        Map("qty_raw" -> (col("qty_raw") + 200.0)))
      DeltaTable.forPath(s, t).toDF
        .select(col("l_orderkey"), col("l_linenumber"),
          Relational.micro(col("qty_raw")).as("qty"),
          col("l_returnflag"))
        .orderBy("l_orderkey", "l_linenumber", "qty", "l_returnflag")
    },

    // Modern-protocol lifecycle (round 9): in-commit timestamps + v2
    // checkpoints + domain metadata composed end-to-end — enable ICT and
    // checkpointPolicy=v2 (protocol lifts to features on both sides),
    // write a metadata domain, append, DELETE, write the v2 checkpoint
    // (UUID manifest + sidecars), then COLD-load a fresh log from that
    // checkpoint and serve the final state. The require()s pin the
    // non-relational invariants (domain survived the checkpoint, the
    // last commit carries its ICT); the oracle pins every row.
    "q66_modern_protocol" -> { (s, dir) =>
      val t = freshDir("modernproto")
      GraftWriter.write(li(s, dir).filter(col("l_orderkey") < 1200), t)
      DeltaTable.forPath(s, t).setProperties(Map(
        TableConfig.EnableInCommitTimestamps -> "true",
        TableConfig.CheckpointPolicy -> "v2"))
      DeltaTable.forPath(s, t).setDomainMetadata("app.audit", "round-9")
      GraftWriter.write(li(s, dir)
        .filter(col("l_orderkey") >= 1200 && col("l_orderkey") < 1500), t,
        SaveMode.Append)
      Dml.delete(s, t, col("l_quantity") > 45)
      DeltaLog.forPath(s, t).checkpoint()
      // forPathUncached: the gate's claim is that a COLD load restores the
      // v2 checkpoint — the shared-handle cache would serve the warm
      // snapshot and never exercise the restore (r17)
      val cold = DeltaLog.forPathUncached(s, t)
      val snap = cold.update()
      require(snap.domainMetadata.get("app.audit").contains("round-9"),
        "domain metadata lost through the v2 checkpoint")
      require(cold.inCommitTimestampOf(snap.version).nonEmpty,
        "in-commit timestamp missing from the DELETE commit")
      DeltaTable.forPath(s, t).toDF
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    },

    // Row-tracking lifecycle (round 9): enable on a populated table,
    // append twice (disjoint id ranges allocated from the high-water
    // mark, defaultRowCommitVersion at the landing versions), DV DELETE
    // (identities preserved — bytes unchanged), cold-load and serve. The
    // require()s pin the row-id invariants; the oracle pins every row.
    "q67_row_tracking" -> { (s, dir) =>
      val t = freshDir("rowtrack")
      GraftWriter.write(li(s, dir).filter(col("l_orderkey") < 800), t)
      DeltaTable.forPath(s, t).setProperties(Map(
        TableConfig.EnableRowTracking -> "true",
        TableConfig.EnableDeletionVectors -> "true"))
      GraftWriter.write(li(s, dir)
        .filter(col("l_orderkey") >= 800 && col("l_orderkey") < 1100), t,
        SaveMode.Append)
      GraftWriter.write(li(s, dir)
        .filter(col("l_orderkey") >= 1100 && col("l_orderkey") < 1300), t,
        SaveMode.Append)
      Dml.delete(s, t, col("l_quantity") > 48) // merge-on-read: ids keep
      val snap = DeltaLog.forPath(s, t).update()
      val ranges = snap.files.filter(_.baseRowId.isDefined).map { a =>
        // an add with a baseRowId but NO stats would silently vanish from
        // the collision/high-water checks below (r12 review) — stats are
        // protocol-optional, so their absence must fail the gate loudly,
        // not weaken it
        val st = a.stats.flatMap(ActionCodec.statsFromJson).getOrElse(
          throw new IllegalStateException(
            s"row-tracked add ${a.path} carries no stats; cannot bound its row-id range"))
        (a.baseRowId.get, a.baseRowId.get + st.numRecords)
      }.sorted
      require(ranges.nonEmpty, "no row-id ranges allocated")
      ranges.sliding(2).foreach {
        case Seq((_, e1), (s2, _)) =>
          require(e1 <= s2, s"row-id range collision: $ranges")
        case _ => ()
      }
      require(RowTracking.highWaterMark(snap) == ranges.map(_._2).max - 1,
        "high-water mark does not cover the top allocation")
      DeltaTable.forPath(s, t).toDF
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    },

    // Row tracking across ROW-MOVING rewrites (round 10): identities are
    // MATERIALIZED into rewritten files. Lifecycle: create with
    // rowTracking, append, OPTIMIZE (every row keeps id AND version),
    // CoW UPDATE (ids kept; only touched rows advance to the update
    // commit's version), CoW DELETE (survivors undisturbed), serve. The
    // require()s pin the identity invariants row-by-row against the
    // pre-rewrite capture; the oracle pins the served rows.
    "q68_rt_rewrite" -> { (s, dir) =>
      val t = freshDir("rtrewrite")
      GraftWriter.write(li(s, dir).filter(col("l_orderkey") < 700)
        .repartition(3), t,
        configuration = Some(Map(TableConfig.EnableRowTracking -> "true")))
      GraftWriter.write(li(s, dir)
        .filter(col("l_orderkey") >= 700 && col("l_orderkey") < 1000)
        .repartition(2), t, SaveMode.Append)
      def ids(): Map[String, (Long, Long)] =
        DeltaTable.forPath(s, t).withRowIds
          .select(concat_ws("|", col("l_orderkey"), col("l_linenumber")).as("k"),
            col("_row_id"), col("_row_commit_version"))
          .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val before = ids()
      require(before.values.map(_._1).toSet.size == before.size,
        "row ids must be unique before the rewrites")
      Optimize.compact(s, t)
      require(ids() == before, "OPTIMIZE changed a row identity or version")
      val mu = Dml.update(s, t, col("l_quantity") > 48,
        Map("l_returnflag" -> lit("Z")))
      val afterU = ids()
      require(afterU.view.mapValues(_._1).toMap ==
        before.view.mapValues(_._1).toMap, "CoW UPDATE changed a row id")
      require(afterU.forall { case (k, (_, v)) =>
        v == before(k)._2 || v == mu.version },
        "a row carries a version no commit produced")
      Dml.delete(s, t, col("l_orderkey") >= 900)
      val afterD = ids()
      afterD.foreach { case (k, idv) =>
        require(idv == afterU(k), s"CoW DELETE disturbed surviving row $k")
      }
      DeltaTable.forPath(s, t).toDF
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    },

    // MERGE with schema evolution (round 10): the source carries a column
    // the target lacks; withSchemaEvolution appends it (nullable), matched
    // rows update INTO it, unmatched source rows insert with it, and
    // pre-existing rows serve null. delta-spark's withSchemaEvolution
    // semantics, oracle-checked row-for-row.
    "q69_merge_evolve" -> { (s, dir) =>
      val t = freshDir("mergeevolve")
      // orders: o_orderkey is unique (lineitem's compound key is not, in
      // this corpus) — merge needs at-most-one source match per target row
      val orders = s.read.parquet(s"$dir/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_orderstatus")
      GraftWriter.write(orders.filter(col("o_orderkey") < 800), t)
      val src = orders
        .filter(col("o_orderkey") >= 600 && col("o_orderkey") < 1000)
        .withColumn("src_flag", lit("S"))
      val m = Merge.into(s, t, src,
          col("t.o_orderkey") === col("s.o_orderkey"))
        .withSchemaEvolution()
        .whenMatchedUpdate(Map(
          "o_custkey" -> (col("s.o_custkey") + lit(100000L)),
          "src_flag" -> col("s.src_flag")))
        .whenNotMatchedInsertAll()
        .execute()
      require(m.rowsUpdated > 0 && m.rowsInserted > 0,
        "the evolution merge must both update and insert")
      DeltaTable.forPath(s, t).toDF
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("src_flag"))
        .orderBy("o_orderkey")
    },

    // stats-based file skipping (D4): two disjoint-range commits; the
    // predicate-matching read must prune to one file set via Add.stats
    // before Spark lists anything.
    "q21_delta_statskip" -> { (s, dir) =>
      val t = freshDir("statskip")
      val d = li(s, dir)
      GraftWriter.write(d.filter(col("l_orderkey") < 800).repartition(1), t)
      GraftWriter.write(
        d.filter(col("l_orderkey") >= 800 && col("l_orderkey") < 1600).repartition(1), t,
        SaveMode.Append)
      val dt = DeltaTable.forPath(s, t)
      val pruned = dt.toDF(Nil, Seq(StatsPredicate.Ge("l_orderkey", 800L)))
      // the pruned scan still needs the row-level predicate for exactness
      pruned.filter(col("l_orderkey") >= 800)
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    },

    // Cross-engine log replay (round 11): unlike every other delta gate,
    // the oracle never recomputes expectations from the source parquet —
    // it mechanically replays graft's OWN `_delta_log` in DuckDB (reads
    // the %020d.json commits and the checkpoint parquet, folds add/remove
    // per the protocol with last-action-per-path-wins, add outranking
    // remove within a commit), reads exactly the active files, applies the
    // pinned physical→logical column mapping, and must hash-match graft's
    // scan. A green row proves a foreign reader can reconstruct the table
    // from the log graft wrote — checkpoint base + JSON tail + CoW removes
    // + a rename across the checkpoint boundary all replayed externally.
    // Reference shape: rust/tests/read_delta_test.rs:10-36 (file-list
    // assertions against known logs).
    "q70_log_replay" -> { (s, dir) =>
      val t = freshDir("logreplay")
      val d = li(s, dir)
      (0 until 3).foreach { i =>
        GraftWriter.write(
          d.filter(col("l_orderkey") >= i * 500 && col("l_orderkey") < (i + 1) * 500), t,
          if (i == 0) SaveMode.ErrorIfExists else SaveMode.Append)
      }
      Dml.delete(s, t, col("l_returnflag") === "A")   // CoW: removes + adds
      DeltaLog.forPath(s, t).checkpoint()              // classic checkpoint
      // name mapping on an EXISTING table pins physicalName = current name
      // (ColumnMappingDdl.assignField), so the oracle's physical schema is
      // static: files keep `l_quantity` after the logical rename to `qty`
      DeltaTable.forPath(s, t).enableColumnMapping()
      DeltaTable.forPath(s, t).renameColumn("l_quantity", "qty")
      GraftWriter.write(
        d.filter(col("l_orderkey") >= 1500 && col("l_orderkey") < 2000)
          .withColumnRenamed("l_quantity", "qty"), t, SaveMode.Append)
      // post-checkpoint removes: the tail fold must subtract, not just add
      Dml.delete(s, t, col("l_returnflag") === "R" && col("l_orderkey") >= 1000)
      DeltaTable.forPath(s, t).toDF
        .orderBy("l_orderkey", "l_linenumber", "qty", "l_returnflag")
    },

    // Seeded-lifecycle cross-engine replay (round 13, r12 verdict #2): one
    // representative LifecycleFuzzSpec seed — CoW delete, update, a
    // MID-SEQUENCE checkpoint, update, RESTORE across the checkpoint, ICT
    // flip, delete, MERGE upsert, full OVERWRITE, append, compact, append
    // (seed 18, 12 ops, DVs off so contents are mechanically derivable) —
    // replayed by the same DuckDB fold as q70. The in-suite fuzz runs 26
    // such seeds (with DV deletes and time-travel checks) against an
    // independent Scala replayer; this gate pins one under the real
    // cross-engine oracle.
    "q78_lifecycle_fuzz" -> { (s, dir) =>
      val t = freshDir("lifecycle")
      graft.delta.LifecycleFuzz.run(s, t, seed = 18, nOps = 12, allowDv = false)
      DeltaTable.forPath(s, t).toDF.orderBy("id", "v")
    },

    // Standard deletion-vector replay (round 11): the table declares the
    // protocol `deletionVectors` feature via the delta.feature DDL, so the
    // DV DELETE re-adds files with standard `add.deletionVector`
    // descriptors (the foreign-readable shape).
    // The oracle replays the log and cross-checks, per active file,
    // visible rows = raw parquet rows − descriptor cardinality. (The
    // roaring-bitmap positions themselves are not decodable in SQL; the
    // cardinality arithmetic is the protocol-level invariant a foreign
    // planner relies on.) One file per 400-orderkey bucket keys the join.
    "q71_dv_replay" -> { (s, dir) =>
      val t = freshDir("dvreplay")
      val d = li(s, dir)
      (0 until 4).foreach { i =>
        GraftWriter.write(
          d.filter(col("l_orderkey") >= i * 400 && col("l_orderkey") < (i + 1) * 400)
            .repartition(1), t,
          if (i == 0) SaveMode.ErrorIfExists else SaveMode.Append)
      }
      DeltaTable.forPath(s, t).setProperties(Map(
        "delta.feature.deletionVectors" -> "supported",
        TableConfig.EnableDeletionVectors -> "true"))
      Dml.delete(s, t, col("l_quantity") > 30)         // merge-on-read DVs
      DeltaTable.forPath(s, t).toDF
        .groupBy(floor(col("l_orderkey") / 400).cast("long").as("bucket"))
        .agg(count(lit(1)).as("visible"))
        .orderBy("bucket")
    },

    // Partitioned + multipart variant of the q70 cross-engine replay: the
    // table is hive-partitioned (add.path carries the partition subdir),
    // the checkpoint is forced MULTIPART (maxActionsPerPart=7 → the
    // %020d.checkpoint.%010d.%010d.parquet naming), and a post-checkpoint
    // append + partition-scoped delete exercise the tail fold. The oracle
    // reads all parts of the LATEST checkpoint, folds per protocol, and
    // reads exactly the active files with hive partitioning re-attached.
    "q73_partitioned_replay" -> { (s, dir) =>
      val t = freshDir("partreplay")
      val d = li(s, dir)
      GraftWriter.write(d.filter(col("l_orderkey") < 600), t,
        SaveMode.ErrorIfExists, partitionBy = Seq("l_returnflag"))
      GraftWriter.write(
        d.filter(col("l_orderkey") >= 600 && col("l_orderkey") < 1200), t,
        SaveMode.Append)
      Dml.delete(s, t, col("l_returnflag") === "N" && col("l_quantity") > 25)
      val log = DeltaLog.forPath(s, t)
      log.checkpoint(log.update(), maxActionsPerPart = 7)
      GraftWriter.write(
        d.filter(col("l_orderkey") >= 1200 && col("l_orderkey") < 1800), t,
        SaveMode.Append)
      Dml.delete(s, t, col("l_returnflag") === "A" && col("l_orderkey") >= 900)
      // COLD handle: the gate's claim is the multipart restore + tail fold
      // — a shared warm handle (r17 cache) would never re-read the parts
      DeltaTable.forPathUncached(s, t).toDF
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    },

    // timestamp_ntz at rest (round 11): a table born from an NTZ frame
    // (the events vintage Spark 4 reads tz-naive) must persist the
    // protocol's `timestamp_ntz` primitive — not the old value-preserving
    // normalization to `timestamp` — declare the timestampNtz
    // reader+writer feature, and serve TimestampNTZType back on scan.
    // The require()s pin the at-rest invariants; the oracle pins every
    // row's µs value (epoch micros on both engines — tz-free arithmetic).
    "q72_ntz_roundtrip" -> { (s, dir) =>
      val t = freshDir("ntz")
      val ev = graft.queries.PipelineQueries.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts_us"))
      GraftWriter.write(ev.filter(col("event_id") % 3 === 0), t)
      GraftWriter.write(ev.filter(col("event_id") % 3 === 1), t, SaveMode.Append)
      val snap = DeltaLog.forPath(s, t).update()
      require(snap.metadata.get.schemaString.contains("timestamp_ntz"),
        s"NTZ must persist at rest, got ${snap.metadata.get.schemaString}")
      require(snap.readerFeatures.exists(_.contains("timestampNtz")) &&
              snap.writerFeatures.exists(_.contains("timestampNtz")),
        "timestampNtz feature must be declared on both protocol lists")
      val df = DeltaTable.forPath(s, t).toDF
      require(df.schema("ts_us").dataType ==
          org.apache.spark.sql.types.TimestampNTZType,
        s"scan must serve NTZ, got ${df.schema("ts_us").dataType}")
      // output epoch micros (no timestamp output columns per oracle rules);
      // NTZ → timestamp cast is wall-clock-preserving under the UTC session
      df.select(col("event_id"), col("user_id"),
          unix_micros(col("ts_us").cast("timestamp")).as("ts_us_epoch"))
        .orderBy("event_id", "user_id", "ts_us_epoch")
    },

    // Coordinated commits end-to-end (round 12, r11 verdict #4): after the
    // enablement commit, versions are claimed by a COMMIT COORDINATOR and
    // staged under `_delta_log/_commits/`; an interval-2 coordinator
    // leaves v3 staged-only so the gate can PROVE merge-on-read (a fresh
    // log reads v3 while the classic name does not exist), then the v4
    // delete backfills the tail. The oracle replays the BACKFILLED log
    // mechanically in DuckDB — a green row proves read-after-backfill
    // equivalence: a feature-unaware foreign reader reconstructs exactly
    // the state the coordinated writers produced.
    "q75_coordinated_commits" -> { (s, dir) =>
      val t = freshDir("coordcommit")
      val d = li(s, dir)
      GraftWriter.write(d.filter(col("l_orderkey") < 400), t,
        SaveMode.ErrorIfExists)                                       // v0 (fs)
      CommitCoordinatorProvider.register("in-memory-i2",
        new InMemoryCommitCoordinator(backfillInterval = 2))
      DeltaTable.forPath(s, t).enableCoordinatedCommits("in-memory-i2") // v1 (fs)
      GraftWriter.write(
        d.filter(col("l_orderkey") >= 400 && col("l_orderkey") < 800),
        t, SaveMode.Append)                                           // v2 → backfills
      GraftWriter.write(
        d.filter(col("l_orderkey") >= 800 && col("l_orderkey") < 1200),
        t, SaveMode.Append)                                           // v3 staged-only
      val coordLog = DeltaLog.forPath(s, t)
      val seen = coordLog.update().version
      require(seen == 3, s"coordinator-aware read must see v3, got v$seen")
      require(!coordLog.store.exists(coordLog.commitFile(3)),
        "v3 must be un-backfilled at this point (interval 2)")
      Dml.delete(s, t, col("l_returnflag") === "A")                   // v4 → backfills 3..4
      require(coordLog.store.exists(coordLog.commitFile(3)) &&
              coordLog.store.exists(coordLog.commitFile(4)),
        "the v4 commit must have backfilled the staged tail")
      DeltaTable.forPath(s, t).toDF
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    },

    // Coordinator STATE LOSS recovery (round 12): two acked commits are
    // staged-only (interval 100) when the coordinator loses all state —
    // the acked history survives only under `_delta_log/_commits/`. The
    // next writer must ADOPT those versions to their classic names before
    // re-seeding (a bare re-seed would hand v2/v3 to new commits and fork
    // acked history), and disablement leaves the log fully classic. The
    // oracle replays the CLASSIC names only: a green row proves every
    // acked commit survived the loss and a feature-unaware foreign reader
    // reconstructs the exact state the coordinated writers produced.
    "q76_coordinator_recovery" -> { (s, dir) =>
      val t = freshDir("coordrecover")
      val d = li(s, dir)
      GraftWriter.write(d.filter(col("l_orderkey") < 400), t,
        SaveMode.ErrorIfExists)                                       // v0 (fs)
      CommitCoordinatorProvider.register("in-memory-i100r",
        new InMemoryCommitCoordinator(backfillInterval = 100))
      DeltaTable.forPath(s, t)
        .enableCoordinatedCommits("in-memory-i100r")                  // v1 (fs)
      GraftWriter.write(
        d.filter(col("l_orderkey") >= 400 && col("l_orderkey") < 800),
        t, SaveMode.Append)                                           // v2 staged-only
      GraftWriter.write(
        d.filter(col("l_orderkey") >= 800 && col("l_orderkey") < 1200),
        t, SaveMode.Append)                                           // v3 staged-only
      val log = DeltaLog.forPath(s, t)
      require(!log.store.exists(log.commitFile(2)) &&
              !log.store.exists(log.commitFile(3)),
        "v2/v3 must be staged-only before the state loss (interval 100)")
      // the coordinator loses ALL state (fresh instance, same name)
      CommitCoordinatorProvider.register("in-memory-i100r",
        new InMemoryCommitCoordinator(backfillInterval = 100))
      GraftWriter.write(
        d.filter(col("l_orderkey") >= 1200 && col("l_orderkey") < 1600),
        t, SaveMode.Append)                                           // v4: adopts 2..3, re-seeds
      require(log.store.exists(log.commitFile(2)) &&
              log.store.exists(log.commitFile(3)),
        "the post-loss commit must adopt the acked staged tail to classic names")
      Dml.delete(s, t, col("l_returnflag") === "A")                   // v5 (staged)
      DeltaTable.forPath(s, t).disableCoordinatedCommits()            // v6 → full backfill
      (4L to 6L).foreach(v => require(log.store.exists(log.commitFile(v)),
        s"disablement must leave v$v at its classic name"))
      DeltaTable.forPath(s, t).toDF
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    },
  )

  // q70/q71 oracles read graft's own artifacts, so they need the table
  // paths the queries write to (constants — workRoot is fixed).
  private val replayT = s"$workRoot/logreplay"
  private val lifecycleT = s"$workRoot/lifecycle"
  private val dvReplayT = s"$workRoot/dvreplay"
  private val partReplayT = s"$workRoot/partreplay"
  private val coordT = s"$workRoot/coordcommit"
  private val coordRecoverT = s"$workRoot/coordrecover"

  val oracleSql: Map[String, String] = Map(
    // Mechanical log replay in DuckDB: checkpoint parquet as the base,
    // JSON commits after it as the tail, last action per path wins (adds
    // outrank removes within one version — the re-add-with-same-path
    // shape DV and metadata rewrites use), then read exactly the active
    // files with the pinned physical column names.
    "q70_log_replay" ->
      s"""WITH cv AS (
         |  SELECT coalesce(max(CAST(regexp_extract(file, '(\\d{20})\\.checkpoint', 1) AS BIGINT)), -1) AS v
         |  FROM glob('$replayT/_delta_log/*.checkpoint.parquet')),
         |ckpt AS (
         |  SELECT add.path AS path, (SELECT v FROM cv) AS v, true AS is_add
         |  FROM read_parquet('$replayT/_delta_log/*.checkpoint.parquet', filename=true)
         |  WHERE add IS NOT NULL
         |    AND CAST(regexp_extract(filename, '(\\d{20})\\.checkpoint', 1) AS BIGINT) = (SELECT v FROM cv)),
         |jl AS (
         |  SELECT CAST(regexp_extract(filename, '(\\d{20})\\.json', 1) AS BIGINT) AS v, add, remove
         |  FROM read_json('$replayT/_delta_log/*.json', format='newline_delimited',
         |                 union_by_name=true, filename=true)),
         |tail AS (
         |  SELECT coalesce(add.path, remove.path) AS path, v, (add.path IS NOT NULL) AS is_add
         |  FROM jl
         |  WHERE v > (SELECT v FROM cv) AND (add.path IS NOT NULL OR remove.path IS NOT NULL)),
         |acts AS (SELECT * FROM ckpt UNION ALL SELECT * FROM tail),
         |active AS (
         |  SELECT path FROM (
         |    SELECT path, is_add,
         |           row_number() OVER (PARTITION BY path ORDER BY v DESC, is_add DESC) AS rn
         |    FROM acts) WHERE rn = 1 AND is_add)
         |SELECT l_orderkey, l_linenumber, l_quantity AS qty, l_returnflag
         |FROM read_parquet('$replayT/*.parquet', filename=true, union_by_name=true)
         |WHERE regexp_extract(filename, '([^/]+)${"$"}', 1) IN (SELECT path FROM active)
         |ORDER BY l_orderkey, l_linenumber, qty, l_returnflag""".stripMargin,

    // Seeded-lifecycle replay: q70's mechanical fold (latest classic
    // checkpoint base + JSON tail, last-per-path wins, add outranks remove
    // within a commit) over the fuzz-driven table
    "q78_lifecycle_fuzz" ->
      s"""WITH cv AS (
         |  SELECT coalesce(max(CAST(regexp_extract(file, '(\\d{20})\\.checkpoint', 1) AS BIGINT)), -1) AS v
         |  FROM glob('$lifecycleT/_delta_log/*.checkpoint.parquet')),
         |ckpt AS (
         |  SELECT add.path AS path, (SELECT v FROM cv) AS v, true AS is_add
         |  FROM read_parquet('$lifecycleT/_delta_log/*.checkpoint.parquet', filename=true)
         |  WHERE add IS NOT NULL
         |    AND CAST(regexp_extract(filename, '(\\d{20})\\.checkpoint', 1) AS BIGINT) = (SELECT v FROM cv)),
         |jl AS (
         |  SELECT CAST(regexp_extract(filename, '(\\d{20})\\.json', 1) AS BIGINT) AS v, add, remove
         |  FROM read_json('$lifecycleT/_delta_log/*.json', format='newline_delimited',
         |                 union_by_name=true, filename=true)),
         |tail AS (
         |  SELECT coalesce(add.path, remove.path) AS path, v, (add.path IS NOT NULL) AS is_add
         |  FROM jl
         |  WHERE v > (SELECT v FROM cv) AND (add.path IS NOT NULL OR remove.path IS NOT NULL)),
         |acts AS (SELECT * FROM ckpt UNION ALL SELECT * FROM tail),
         |active AS (
         |  SELECT path FROM (
         |    SELECT path, is_add,
         |           row_number() OVER (PARTITION BY path ORDER BY v DESC, is_add DESC) AS rn
         |    FROM acts) WHERE rn = 1 AND is_add)
         |SELECT id, v
         |FROM read_parquet('$lifecycleT/*.parquet', filename=true, union_by_name=true)
         |WHERE regexp_extract(filename, '([^/]+)${"$"}', 1) IN (SELECT path FROM active)
         |ORDER BY id, v""".stripMargin,

    // Read-after-backfill: the coordinated writers' history, replayed
    // from the BACKFILLED classic names only (the *.json glob does not
    // descend into _commits/) — what a feature-unaware reader sees.
    "q75_coordinated_commits" ->
      s"""WITH jl AS (
         |  SELECT CAST(regexp_extract(filename, '(\\d{20})\\.json', 1) AS BIGINT) AS v, add, remove
         |  FROM read_json('$coordT/_delta_log/*.json', format='newline_delimited',
         |                 union_by_name=true, filename=true)),
         |acts AS (
         |  SELECT coalesce(add.path, remove.path) AS path, v, (add.path IS NOT NULL) AS is_add
         |  FROM jl WHERE add.path IS NOT NULL OR remove.path IS NOT NULL),
         |active AS (
         |  SELECT path FROM (
         |    SELECT path, is_add,
         |           row_number() OVER (PARTITION BY path ORDER BY v DESC, is_add DESC) AS rn
         |    FROM acts) WHERE rn = 1 AND is_add)
         |SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
         |FROM read_parquet('$coordT/*.parquet', filename=true, union_by_name=true)
         |WHERE regexp_extract(filename, '([^/]+)${"$"}', 1) IN (SELECT path FROM active)
         |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag""".stripMargin,

    // Post-recovery replay: identical classic-names-only fold — after a
    // coordinator state loss, adoption + disablement must leave a classic
    // log from which a foreign reader reconstructs every acked commit.
    "q76_coordinator_recovery" ->
      s"""WITH jl AS (
         |  SELECT CAST(regexp_extract(filename, '(\\d{20})\\.json', 1) AS BIGINT) AS v, add, remove
         |  FROM read_json('$coordRecoverT/_delta_log/*.json', format='newline_delimited',
         |                 union_by_name=true, filename=true)),
         |acts AS (
         |  SELECT coalesce(add.path, remove.path) AS path, v, (add.path IS NOT NULL) AS is_add
         |  FROM jl WHERE add.path IS NOT NULL OR remove.path IS NOT NULL),
         |active AS (
         |  SELECT path FROM (
         |    SELECT path, is_add,
         |           row_number() OVER (PARTITION BY path ORDER BY v DESC, is_add DESC) AS rn
         |    FROM acts) WHERE rn = 1 AND is_add)
         |SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
         |FROM read_parquet('$coordRecoverT/*.parquet', filename=true, union_by_name=true)
         |WHERE regexp_extract(filename, '([^/]+)${"$"}', 1) IN (SELECT path FROM active)
         |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag""".stripMargin,

    // DV cardinality replay: per active file, visible = parquet rows −
    // add.deletionVector.cardinality from the latest add in the log.
    "q71_dv_replay" ->
      s"""WITH acts AS (
         |  SELECT CAST(regexp_extract(filename, '(\\d{20})\\.json', 1) AS BIGINT) AS v,
         |         coalesce(add.path, remove.path) AS path,
         |         (add.path IS NOT NULL) AS is_add,
         |         add.deletionVector.cardinality AS dv_card
         |  FROM read_json('$dvReplayT/_delta_log/*.json', format='newline_delimited',
         |                 union_by_name=true, filename=true)
         |  WHERE add.path IS NOT NULL OR remove.path IS NOT NULL),
         |last AS (
         |  SELECT path, dv_card FROM (
         |    SELECT path, is_add, dv_card,
         |           row_number() OVER (PARTITION BY path ORDER BY v DESC, is_add DESC) AS rn
         |    FROM acts) WHERE rn = 1 AND is_add),
         |pf AS (
         |  SELECT regexp_extract(filename, '([^/]+)${"$"}', 1) AS path,
         |         CAST(floor(min(l_orderkey) / 400) AS BIGINT) AS bucket,
         |         count(*) AS n
         |  FROM read_parquet('$dvReplayT/*.parquet', filename=true)
         |  GROUP BY 1)
         |SELECT bucket, CAST(pf.n - coalesce(last.dv_card, 0) AS BIGINT) AS visible
         |FROM last JOIN pf USING (path)
         |ORDER BY bucket""".stripMargin,

    "q17_delta_roundtrip" ->
      s"""SELECT $cols FROM lineitem WHERE l_orderkey < 1000
         |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag""".stripMargin,

    // Multipart-checkpoint + hive-partitioned replay: parts of the LATEST
    // checkpoint only (version-filtered — a second checkpoint must not
    // double the base), fold as in q70, then read the active files with
    // hive_partitioning re-attaching l_returnflag from the path.
    "q73_partitioned_replay" ->
      s"""WITH cv AS (
         |  SELECT coalesce(max(CAST(regexp_extract(file, '(\\d{20})\\.checkpoint', 1) AS BIGINT)), -1) AS v
         |  FROM glob('$partReplayT/_delta_log/*.checkpoint*.parquet')),
         |ckpt AS (
         |  SELECT add.path AS path, (SELECT v FROM cv) AS v, true AS is_add
         |  FROM read_parquet('$partReplayT/_delta_log/*.checkpoint*.parquet', filename=true)
         |  WHERE add IS NOT NULL
         |    AND CAST(regexp_extract(filename, '(\\d{20})\\.checkpoint', 1) AS BIGINT) = (SELECT v FROM cv)),
         |jl AS (
         |  SELECT CAST(regexp_extract(filename, '(\\d{20})\\.json', 1) AS BIGINT) AS v, add, remove
         |  FROM read_json('$partReplayT/_delta_log/*.json', format='newline_delimited',
         |                 union_by_name=true, filename=true)),
         |tail AS (
         |  SELECT coalesce(add.path, remove.path) AS path, v, (add.path IS NOT NULL) AS is_add
         |  FROM jl
         |  WHERE v > (SELECT v FROM cv) AND (add.path IS NOT NULL OR remove.path IS NOT NULL)),
         |acts AS (SELECT * FROM ckpt UNION ALL SELECT * FROM tail),
         |active AS (
         |  SELECT path FROM (
         |    SELECT path, is_add,
         |           row_number() OVER (PARTITION BY path ORDER BY v DESC, is_add DESC) AS rn
         |    FROM acts) WHERE rn = 1 AND is_add)
         |SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
         |FROM read_parquet('$partReplayT/l_returnflag=*/*.parquet', filename=true,
         |                  union_by_name=true, hive_partitioning=true)
         |WHERE replace(filename, '$partReplayT/', '') IN (SELECT path FROM active)
         |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag""".stripMargin,

    // CAST to µs TIMESTAMP first: identity on the µs events vintage, and
    // the same floor-to-µs truncation Spark applies on a ns vintage
    "q72_ntz_roundtrip" ->
      """SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us_epoch
        |FROM events WHERE event_id % 3 IN (0, 1)
        |ORDER BY event_id, user_id, ts_us_epoch""".stripMargin,
    "q18_delta_partition_prune" ->
      s"""SELECT $cols FROM lineitem
         |WHERE l_orderkey < 2000 AND l_returnflag = 'R'
         |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag""".stripMargin,
    "q19_delta_timetravel" ->
      s"""SELECT $cols FROM lineitem WHERE l_orderkey < 500
         |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag""".stripMargin,
    "q20_delta_checkpoint" ->
      s"""SELECT $cols FROM lineitem WHERE l_orderkey < 1200
         |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag""".stripMargin,
    "q21_delta_statskip" ->
      s"""SELECT $cols FROM lineitem
         |WHERE l_orderkey >= 800 AND l_orderkey < 1600
         |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag""".stripMargin,
    "q39_delta_optimize" ->
      s"""SELECT $cols FROM lineitem WHERE l_orderkey < 600
         |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag""".stripMargin,
    "q51_restore" ->
      s"""SELECT $cols FROM lineitem WHERE l_orderkey < 1000
         |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag""".stripMargin,
    "q52_zorder" ->
      s"""SELECT $cols FROM lineitem
         |WHERE l_orderkey >= 500 AND l_orderkey < 1000
         |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag""".stripMargin,
    "q55_convert" ->
      s"""SELECT $cols FROM lineitem
         |WHERE l_orderkey < 1500 AND l_returnflag = 'A'
         |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag""".stripMargin,
    "q57_clone" ->
      s"""SELECT $cols FROM lineitem
         |WHERE l_orderkey < 1200 AND NOT (l_quantity > 35)
         |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag""".stripMargin,
    "q40_delta_stream_tail" ->
      s"""SELECT $cols FROM lineitem WHERE l_orderkey < 600
         |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag""".stripMargin,
    "q42_delta_sql" ->
      """SELECT l_returnflag, count(*) AS n,
        |CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) AS qty
        |FROM lineitem WHERE l_orderkey < 1500 AND l_orderkey > 5
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q45_delta_delete" ->
      s"""SELECT $cols FROM lineitem
         |WHERE l_orderkey < 1000 AND NOT (l_quantity > 30)
         |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag""".stripMargin,
    "q66_modern_protocol" ->
      s"""SELECT $cols FROM lineitem
         |WHERE l_orderkey < 1500 AND NOT (l_quantity > 45)
         |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag""".stripMargin,
    "q67_row_tracking" ->
      s"""SELECT $cols FROM lineitem
         |WHERE l_orderkey < 1300 AND NOT (l_quantity > 48)
         |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag""".stripMargin,
    "q68_rt_rewrite" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |CASE WHEN l_quantity > 48 THEN 'Z' ELSE l_returnflag END AS l_returnflag
        |FROM lineitem WHERE l_orderkey < 900
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag""".stripMargin,
    "q69_merge_evolve" ->
      """SELECT o_orderkey,
        |CASE WHEN o_orderkey >= 600 AND o_orderkey < 800
        |  THEN o_custkey + 100000 ELSE o_custkey END AS o_custkey,
        |o_orderstatus,
        |CASE WHEN o_orderkey >= 600 THEN 'S' ELSE NULL END AS src_flag
        |FROM orders WHERE o_orderkey < 1000
        |ORDER BY o_orderkey""".stripMargin,
    "q65_column_mapping" ->
      """SELECT l_orderkey, l_linenumber,
        |CAST(CAST(CASE WHEN l_returnflag = 'R' THEN l_quantity + 200 ELSE l_quantity END
        |  AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS qty,
        |l_returnflag
        |FROM lineitem WHERE l_orderkey < 1000 AND NOT (l_quantity > 40)
        |ORDER BY l_orderkey, l_linenumber, qty, l_returnflag""".stripMargin,
    "q63_dv_dml" ->
      """SELECT l_orderkey, l_linenumber,
        |CAST(CAST(CASE WHEN l_returnflag = 'R' THEN l_quantity + 200 ELSE l_quantity END
        |  AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS qty,
        |l_returnflag
        |FROM lineitem WHERE l_orderkey < 1000 AND NOT (l_quantity > 40)
        |ORDER BY l_orderkey, l_linenumber, qty, l_returnflag""".stripMargin,
    "q46_delta_update" ->
      """SELECT l_orderkey, l_linenumber,
        |CAST(CAST(CASE WHEN l_returnflag = 'R' THEN l_quantity + 100 ELSE l_quantity END
        |  AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS qty,
        |l_returnflag
        |FROM lineitem WHERE l_orderkey < 1000
        |ORDER BY l_orderkey, l_linenumber, qty, l_returnflag""".stripMargin,
    "q64_cdf" ->
      """WITH m AS (SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |           FROM lineitem WHERE l_orderkey < 1000 AND l_returnflag = 'R')
        |SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(l_quantity AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS qty,
        |  l_returnflag, 'update_preimage' AS _change_type,
        |  CAST(2 AS BIGINT) AS _commit_version
        |FROM m
        |UNION ALL
        |SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(l_quantity + 100 AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS qty,
        |  l_returnflag, 'update_postimage' AS _change_type,
        |  CAST(2 AS BIGINT) AS _commit_version
        |FROM m
        |ORDER BY _change_type, l_orderkey, l_linenumber, qty, l_returnflag, _commit_version""".stripMargin,
    "q49_schema_evolution" ->
      """SELECT l_orderkey, l_linenumber,
        |CAST(CAST(l_quantity AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS qty,
        |CASE WHEN l_orderkey >= 500 THEN l_returnflag ELSE '-' END AS flag
        |FROM lineitem WHERE l_orderkey < 1000
        |ORDER BY l_orderkey, l_linenumber, qty, flag""".stripMargin,
    "q48_sql_dml" ->
      """SELECT l_orderkey, l_linenumber,
        |CAST(CAST(CASE WHEN l_returnflag = 'A' THEN l_quantity + 50 ELSE l_quantity END
        |  AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS qty,
        |l_returnflag
        |FROM lineitem WHERE l_orderkey < 1000 AND NOT (l_quantity > 30)
        |ORDER BY l_orderkey, l_linenumber, qty, l_returnflag""".stripMargin,
    "q58_catalog_ddl" ->
      """WITH base AS (
        |  SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
        |         CAST(NULL AS BIGINT) AS bonus
        |  FROM lineitem WHERE l_orderkey < 1000),
        |ins AS (
        |  SELECT l_orderkey + 1000000 AS l_orderkey, l_linenumber, l_quantity,
        |         l_returnflag, CAST(42 AS BIGINT) AS bonus
        |  FROM lineitem WHERE l_orderkey < 100),
        |kept AS (
        |  SELECT * FROM base WHERE l_returnflag <> 'R'
        |  UNION ALL
        |  SELECT * FROM ins WHERE l_returnflag <> 'R'),
        |ovw AS (
        |  SELECT l_orderkey, l_linenumber, l_quantity * 2 AS l_quantity,
        |         'R' AS l_returnflag, CAST(NULL AS BIGINT) AS bonus
        |  FROM lineitem WHERE l_orderkey < 500 AND l_returnflag = 'R')
        |SELECT l_orderkey, l_linenumber,
        |CAST(CAST(l_quantity AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS qty,
        |l_returnflag AS flag, COALESCE(bonus, -1) AS bonus
        |FROM (SELECT * FROM kept UNION ALL SELECT * FROM ovw)
        |ORDER BY l_orderkey, l_linenumber, qty, flag, bonus""".stripMargin,
    "q61_changes" ->
      """SELECT l_orderkey, l_linenumber,
        |CAST(CAST(l_quantity AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS qty,
        |l_returnflag,
        |CAST(CASE WHEN l_orderkey < 1000 THEN 1 ELSE 2 END AS BIGINT) AS _commit_version
        |FROM lineitem WHERE l_orderkey >= 500 AND l_orderkey < 1500
        |ORDER BY l_orderkey, l_linenumber, qty, l_returnflag, _commit_version""".stripMargin,

    "q47_delta_merge" ->
      """SELECT * FROM (
        |  SELECT l.l_orderkey, l.l_linenumber,
        |    CAST(CAST(CASE WHEN l.l_orderkey >= 500 THEN m.mx + 1000 ELSE l.l_quantity END
        |      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS qty,
        |    l.l_returnflag
        |  FROM lineitem l
        |  LEFT JOIN (SELECT l_orderkey, l_linenumber, max(l_quantity) AS mx
        |             FROM lineitem WHERE l_orderkey >= 500 AND l_orderkey < 1500
        |             GROUP BY 1, 2) m
        |    ON l.l_orderkey = m.l_orderkey AND l.l_linenumber = m.l_linenumber
        |  WHERE l.l_orderkey < 1000
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber,
        |    CAST(CAST(max(l_quantity) + 1000 AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS qty,
        |    max(l_returnflag) AS l_returnflag
        |  FROM lineitem WHERE l_orderkey >= 1000 AND l_orderkey < 1500
        |  GROUP BY 1, 2
        |)
        |ORDER BY l_orderkey, l_linenumber, qty, l_returnflag""".stripMargin,
  )
}
