package graft.delta

import graft.SparkTestBase
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Row-level Change Data Feed: capture on every DML path (copy-on-write,
  * merge-on-read/DV, MERGE) and the [[ChangeDataFeed.readChanges]] serving
  * side, including the `graft_table_changes` TVF. */
class ChangeDataFeedSpec extends AnyFunSuite with SparkTestBase {
  import LogFixtures.tempTable
  import spark.implicits._

  /** 100-row (id, v) table with CDF (and optionally DVs) enabled. */
  private def cdfTable(name: String, dv: Boolean = false): String = {
    val dir = tempTable(name).toString
    GraftWriter.write(
      (0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "v").repartition(2), dir)
    val log = DeltaLog.forPath(spark, dir)
    val props = Map(TableConfig.EnableChangeDataFeed -> "true") ++
      (if (dv) Map(TableConfig.EnableDeletionVectors -> "true") else Map.empty)
    new DeltaTable(log, log.update()).setProperties(props)
    dir
  }

  private def changesAt(dir: String, version: Long) =
    DeltaTable.forPath(spark, dir).changes(version - 1, version)

  test("copy-on-write DELETE captures delete rows") {
    val dir = cdfTable("cdf-cow-delete")
    val m = Dml.delete(spark, dir, col("id") < 10)
    val ch = changesAt(dir, m.version)
    assert(ch.count() == 10)
    assert(ch.select(ChangeDataFeed.ChangeType).distinct().as[String].collect()
      .toSet == Set("delete"))
    assert(ch.select("id").as[Long].collect().sorted.toSeq == (0L until 10L))
    assert(ch.select(ChangeDataFeed.CommitVersion).distinct().as[Long].head() == m.version)
  }

  test("copy-on-write UPDATE captures pre and post images") {
    val dir = cdfTable("cdf-cow-update")
    val m = Dml.update(spark, dir, col("id") < 5, Map("v" -> lit("X")))
    val ch = changesAt(dir, m.version)
    val pre = ch.filter(col(ChangeDataFeed.ChangeType) === "update_preimage")
    val post = ch.filter(col(ChangeDataFeed.ChangeType) === "update_postimage")
    assert(pre.count() == 5 && post.count() == 5)
    assert(pre.select("v").as[String].collect().toSet == (0 until 5).map(i => s"v$i").toSet)
    assert(post.select("v").distinct().as[String].head() == "X")
  }

  test("DV DELETE captures delete rows (merge-on-read path)") {
    val dir = cdfTable("cdf-dv-delete", dv = true)
    val m = Dml.delete(spark, dir, col("id") < 10)
    // sanity: this went through the DV path (no data file rewritten)
    assert(DeltaTable.forPath(spark, dir).files.exists(DeletionVectors.hasDv))
    val ch = changesAt(dir, m.version)
    assert(ch.count() == 10)
    assert(ch.select(ChangeDataFeed.ChangeType).distinct().as[String].head() == "delete")
    assert(ch.select("id").as[Long].collect().sorted.toSeq == (0L until 10L))
  }

  test("DV UPDATE captures pre and post images") {
    val dir = cdfTable("cdf-dv-update", dv = true)
    val m = Dml.update(spark, dir, col("id") === 7L, Map("v" -> lit("seven")))
    val ch = changesAt(dir, m.version)
    assert(ch.filter(col(ChangeDataFeed.ChangeType) === "update_preimage")
      .select("v").as[String].head() == "v7")
    assert(ch.filter(col(ChangeDataFeed.ChangeType) === "update_postimage")
      .select("v").as[String].head() == "seven")
  }

  test("MERGE captures insert, update pre/post and delete rows") {
    val dir = cdfTable("cdf-merge")
    val source = Seq((3L, "upd"), (4L, "del"), (200L, "new")).toDF("id", "v")
    val m = Merge.into(spark, dir, source, col("t.id") === col("s.id"))
      .whenMatchedUpdate(col("s.v") === "upd", Map("v" -> col("s.v")))
      .whenMatchedDelete(col("s.v") === "del")
      .whenNotMatchedInsertAll()
      .execute()
    val ch = changesAt(dir, m.version)
    val byType = ch.groupBy(ChangeDataFeed.ChangeType).count().as[(String, Long)]
      .collect().toMap
    assert(byType == Map(
      "update_preimage" -> 1L, "update_postimage" -> 1L,
      "delete" -> 1L, "insert" -> 1L))
    assert(ch.filter(col(ChangeDataFeed.ChangeType) === "insert")
      .select("id").as[Long].head() == 200L)
    assert(ch.filter(col(ChangeDataFeed.ChangeType) === "update_postimage")
      .select("v").as[String].head() == "upd")
    assert(ch.filter(col(ChangeDataFeed.ChangeType) === "delete")
      .select("id").as[Long].head() == 4L)
  }

  test("MERGE with a non-deterministic source: images fold to the committed state") {
    // Regression (ADVICE r6): the change classes used to re-execute the
    // source/target join once per class; a non-deterministic source then
    // staged images diverging from the rows actually committed. The join is
    // now localCheckpoint'd — ONE execution feeds both the rewrite and the
    // feed — so the postimage/insert values must equal the table's, even
    // with rand() in the source.
    val dir = cdfTable("cdf-merge-nondet")
    val source = spark.range(0, 10).toDF("id")
      .withColumn("nv", concat(lit("r"), (rand() * 1e12).cast("long").cast("string")))
    val m = Merge.into(spark, dir, source, col("t.id") === col("s.id") - 5)
      .whenMatchedUpdate(Map("v" -> col("s.nv")))
      .whenNotMatchedInsert(Map("id" -> (col("s.id") + 1000), "v" -> col("s.nv")))
      .execute()
    assert(m.rowsUpdated == 5 && m.rowsInserted == 5)
    val table = DeltaTable.forPath(spark, dir).toDF
      .select("id", "v").as[(Long, String)].collect().toMap
    val ch = changesAt(dir, m.version)
    val post = ch.filter(col(ChangeDataFeed.ChangeType) === "update_postimage")
      .select("id", "v").as[(Long, String)].collect()
    val ins = ch.filter(col(ChangeDataFeed.ChangeType) === "insert")
      .select("id", "v").as[(Long, String)].collect()
    assert(post.length == 5 && ins.length == 5)
    (post ++ ins).foreach { case (id, v) =>
      assert(table.get(id).contains(v),
        s"image ($id,$v) diverges from committed row ${table.get(id)}")
    }
  }

  test("append commits surface as insert rows without any capture") {
    val dir = cdfTable("cdf-append")
    GraftWriter.write(Seq((500L, "a"), (501L, "b")).toDF("id", "v"), dir, SaveMode.Append)
    val log = DeltaLog.forPath(spark, dir)
    val v = log.update().version
    val ch = changesAt(dir, v)
    assert(ch.count() == 2)
    assert(ch.select(ChangeDataFeed.ChangeType).distinct().as[String].head() == "insert")
  }

  test("remove-only commits do not re-report rows already deleted via DV") {
    val dir = cdfTable("cdf-dv-truncate", dv = true)
    Dml.delete(spark, dir, col("id") < 10) // 10 rows DV'd out
    val log = DeltaLog.forPath(spark, dir)
    val snap = log.update()
    // TWO pure-remove commits (staged TRUNCATE shape) — also exercises the
    // incrementally-advanced prior snapshot in readChanges
    def dropFiles(files: Seq[AddAction]): Long = {
      val now = System.currentTimeMillis()
      val txn = DeltaLog.forPath(spark, dir).startTransaction()
      files.foreach(f => txn.addAction(RemoveAction(
        path = f.path, deletionTimestamp = now, dataChange = true,
        extendedFileMetadata = Some(true),
        partitionValues = Some(f.partitionValues), size = Some(f.size))))
      txn.commit()
    }
    val (firstHalf, rest) = snap.files.splitAt(1)
    val v1 = dropFiles(firstHalf)
    val v2 = dropFiles(rest)
    // 90 live rows deleted across the two commits — the 10 DV'd rows were
    // reported by THEIR commit, not re-reported here
    val ch = DeltaTable.forPath(spark, dir).changes(v1 - 1, v2)
    assert(ch.count() == 90)
    assert(ch.filter(col("id") < 10).count() == 0)
    assert(ch.select(ChangeDataFeed.CommitVersion).distinct().as[Long]
      .collect().toSet == Set(v1, v2))
  }

  test("RESTORE across a DV delete captures position-level images") {
    val dir = cdfTable("cdf-restore-dv", dv = true)
    val preDelete = DeltaLog.forPath(spark, dir).update().version
    val m = Dml.delete(spark, dir, col("id") < 10)
    // restore back: the 10 DV'd-out rows resurrect → insert images only
    val r1 = DeltaTable.forPath(spark, dir).restoreToVersion(preDelete)
    val ch1 = changesAt(dir, r1.version)
    assert(ch1.count() == 10)
    assert(ch1.select(ChangeDataFeed.ChangeType).distinct().as[String].head() == "insert")
    assert(ch1.select("id").as[Long].collect().sorted.toSeq == (0L until 10L))
    // restore forward: the same 10 rows go away again → delete images
    val r2 = DeltaTable.forPath(spark, dir).restoreToVersion(m.version)
    val ch2 = changesAt(dir, r2.version)
    assert(ch2.count() == 10)
    assert(ch2.select(ChangeDataFeed.ChangeType).distinct().as[String].head() == "delete")
  }

  test("RESTORE across a copy-on-write delete captures file-level images") {
    val dir = cdfTable("cdf-restore-cow")
    val preDelete = DeltaLog.forPath(spark, dir).update().version
    Dml.delete(spark, dir, col("id") < 10) // rewrite: 90 live rows in new files
    val r = DeltaTable.forPath(spark, dir).restoreToVersion(preDelete)
    val ch = changesAt(dir, r.version)
    val byType = ch.groupBy(ChangeDataFeed.ChangeType).count().as[(String, Long)]
      .collect().toMap
    // file-level feed (TRUNCATE semantics): rewritten files' live rows out,
    // original files' rows in — folding ±1 lands on the restored state
    assert(byType == Map("delete" -> 90L, "insert" -> 100L))
    assert(DeltaTable.forPath(spark, dir).toDF.count() == 100)
  }

  test("overwrite write captures delete + insert images") {
    val dir = cdfTable("cdf-overwrite")
    GraftWriter.write(Seq((500L, "new"), (501L, "new2")).toDF("id", "v"),
      dir, SaveMode.Overwrite)
    val v = DeltaLog.forPath(spark, dir).update().version
    val ch = changesAt(dir, v)
    val byType = ch.groupBy(ChangeDataFeed.ChangeType).count().as[(String, Long)]
      .collect().toMap
    assert(byType == Map("delete" -> 100L, "insert" -> 2L))
  }

  test("SQL INSERT OVERWRITE captures images through commitInsert") {
    val dir = cdfTable("cdf-sql-ow")
    spark.sql(s"CREATE TABLE graft_cdf_ow USING `graft-delta` OPTIONS (path '$dir')")
    try {
      spark.sql("INSERT OVERWRITE TABLE graft_cdf_ow VALUES (9, 'z')")
      val v = DeltaLog.forPath(spark, dir).update().version
      val ch = changesAt(dir, v)
      val byType = ch.groupBy(ChangeDataFeed.ChangeType).count().as[(String, Long)]
        .collect().toMap
      assert(byType == Map("delete" -> 100L, "insert" -> 1L))
    } finally spark.sql("DROP TABLE IF EXISTS graft_cdf_ow")
  }

  test("partitioned dynamic INSERT OVERWRITE captures only the replaced partition") {
    val dir = tempTable("cdf-dyn-ow").toString
    // partitioned table, CDF on: p=0 has 3 rows, p=1 has 2
    GraftWriter.write(
      Seq((1L, 0), (2L, 0), (3L, 0), (10L, 1), (11L, 1)).toDF("id", "p"),
      dir, partitionBy = Seq("p"))
    DeltaTable.forPath(spark, dir)
      .setProperties(Map(TableConfig.EnableChangeDataFeed -> "true"))
    spark.sql(s"CREATE TABLE graft_cdf_dyn USING `graft-delta` OPTIONS (path '$dir')")
    val prevMode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      spark.sql("INSERT OVERWRITE TABLE graft_cdf_dyn VALUES (99, 0)") // touches p=0 only
      val v = DeltaLog.forPath(spark, dir).update().version
      val ch = changesAt(dir, v)
      val byType = ch.groupBy(ChangeDataFeed.ChangeType).count().as[(String, Long)]
        .collect().toMap
      assert(byType == Map("delete" -> 3L, "insert" -> 1L)) // p=1 untouched
      assert(ch.filter(col("p") === 1).count() == 0)
      // partition column round-trips through the capture files
      assert(ch.filter(col(ChangeDataFeed.ChangeType) === "insert")
        .select("id", "p").as[(Long, Int)].head() == ((99L, 0)))
    } finally {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
      spark.sql("DROP TABLE IF EXISTS graft_cdf_dyn")
    }
  }

  test("graft_table_changes TVF serves the row-level feed through SQL") {
    val dir = cdfTable("cdf-tvf")
    val m = Dml.delete(spark, dir, col("id") === 42L)
    val ch = spark.sql(
      s"SELECT * FROM graft_table_changes('$dir', ${m.version - 1}, ${m.version})")
    assert(ch.count() == 1)
    assert(ch.select("id").as[Long].head() == 42L)
    assert(ch.select(ChangeDataFeed.ChangeType).as[String].head() == "delete")
  }

  test("a long feed reads each commit shape in ONE scan (plan width bounded)") {
    // 30 append versions + 2 DML versions: the old per-version plan was a
    // 32-way union; the batched reader does one scan for all appends, one
    // for all cdc-backed commits — union width stays O(#shapes), not
    // O(#versions), which is what keeps a 10^4-version feed plannable
    val dir = cdfTable("cdf-planwidth")
    (0 until 30).foreach { i =>
      GraftWriter.write(Seq((1000L + i, s"a$i")).toDF("id", "v"), dir,
        SaveMode.Append)
    }
    Dml.delete(spark, dir, col("id") === 3L)
    Dml.update(spark, dir, col("id") === 5L, Map("v" -> lit("u")))
    val log = DeltaLog.forPath(spark, dir)
    val endV = log.update().version
    val feed = ChangeDataFeed.readChanges(spark, log, -1, endV)

    val unions = feed.queryExecution.analyzed.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }
    val unionWidth = unions.map(_.children.size).sum
    assert(unionWidth <= 6, s"feed plan unions $unionWidth branches for ${endV + 1} versions")
    // the file→version attach must broadcast, never shuffle the row side
    val physical = feed.queryExecution.executedPlan.toString
    assert(physical.contains("BroadcastHashJoin"),
      s"version-attach join is not broadcast:\n$physical")
    assert(!physical.contains("SortMergeJoin"),
      "version-attach join regressed to a shuffle join")

    // and the batched read serves the same rows with correct versions
    assert(feed.count() == 100 + 30 + 1 + 2) // backfill + appends + delete + pre/post
    val versions = feed.select(ChangeDataFeed.CommitVersion).distinct().count()
    assert(versions == 33) // v0 backfill + 30 appends + 2 DML (props commit has no rows)
    assert(feed.filter(col(ChangeDataFeed.ChangeType) === "update_postimage")
      .select("v").as[String].head() == "u")
  }

  test("feed survives URI-authority table paths (r7 advisor: join-key normalization)") {
    // s3a://bucket/... -shaped path: authority present, so a map side keyed
    // by Path.toUri.getPath (drops authority) and a scan side keyed by a
    // scheme-only strip of _metadata.file_path (keeps it) would join NOTHING
    // — the feed returned zero rows with no error. Both sides now share
    // ChangeDataFeed.normalizedKey / SchemeRe.
    val dir = AuthorityFs.wrap(spark, tempTable("cdf-authority").toString)
    GraftWriter.write(
      (0 until 50).map(i => (i.toLong, s"v$i")).toDF("id", "v").repartition(2), dir)
    val log = DeltaLog.forPath(spark, dir)
    new DeltaTable(log, log.update())
      .setProperties(Map(TableConfig.EnableChangeDataFeed -> "true"))
    GraftWriter.write(Seq((100L, "a")).toDF("id", "v"), dir, SaveMode.Append)
    val m = Dml.delete(spark, dir, col("id") < 3)

    // insert frame (pure-append commit), cdc frame (DELETE), and the
    // backfill all flow through the file→version join
    val feed = ChangeDataFeed.readChanges(spark, log, -1, m.version)
    assert(feed.count() == 50 + 1 + 3,
      "authority-bearing path emptied the file→version join")
    assert(feed.filter(col(ChangeDataFeed.ChangeType) === "delete")
      .select("id").as[Long].collect().sorted.toSeq == (0L until 3L))
    // the batch file-level TVF shares the same key normalization
    val tvf = spark.sql(s"SELECT * FROM graft_changes('$dir', ${m.version - 2}, ${m.version - 1})")
    assert(tvf.count() == 1 && tvf.select("id").as[Long].head() == 100L)
  }

  test("map-side key ≡ scan-side strip for every URI shape") {
    for (uri <- Seq("file:///t/x.parquet", "file:/t/x.parquet",
                    "s3a://bucket/t/x.parquet", "hdfs://nn:8020/t/x.parquet",
                    "/t/x.parquet")) {
      val mapKey = ChangeDataFeed.normalizedKey(new org.apache.hadoop.fs.Path(uri))
      val scanKey = spark.range(1)
        .select(regexp_replace(lit(uri), ChangeDataFeed.SchemeRe, "/"))
        .as[String].head()
      assert(mapKey == scanKey, s"$uri: map=$mapKey scan=$scanKey")
    }
  }

  test("rewrite without capture still fails loudly (pre-CDF commits)") {
    val dir = tempTable("cdf-precdf").toString
    GraftWriter.write((0 until 10).map(i => (i.toLong, s"v$i")).toDF("id", "v"), dir)
    val m = Dml.delete(spark, dir, col("id") < 3) // CDF off: no cdc actions
    val log = DeltaLog.forPath(spark, dir)
    val e = intercept[IllegalStateException] {
      ChangeDataFeed.readChanges(spark, log, m.version - 1, m.version).count()
    }
    assert(e.getMessage.contains("change data"))
  }

  test("foreign-written CDF (hand-authored cdc actions + _change_data files) serves") {
    // the fixture is built the way delta-spark lays a CDF table out: raw
    // commit JSON with a `cdc` action per change file, images under
    // `_change_data/` with `_change_type` but NO version column (the
    // reader attaches `_commit_version` from the referencing commit)
    val dirP = tempTable("cdf-foreign")
    val dir = dirP.toString
    def onePart(df: org.apache.spark.sql.DataFrame,
                dst: java.nio.file.Path): Long = {
      val tmp = java.nio.file.Files.createTempDirectory("cdf-fx-")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      java.nio.file.Files.createDirectories(dst.getParent)
      java.nio.file.Files.copy(java.nio.file.Paths.get(part), dst)
      java.nio.file.Files.size(dst)
    }
    val schemaStr =
      """{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},{\"name\":\"v\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}"""
    val md =
      s"""{"metaData":{"id":"aaaaaaaa-0000-4000-8000-000000000001","format":{"provider":"parquet","options":{}},"schemaString":"$schemaStr","partitionColumns":[],"configuration":{"delta.enableChangeDataFeed":"true"},"createdTime":1}}"""
    val s0 = onePart(Seq((0L, "a"), (1L, "b"), (2L, "c")).toDF("id", "v"),
      dirP.resolve("part-00000-foreign.snappy.parquet"))
    LogFixtures.writeCommit(dirP, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""", md,
      s"""{"add":{"path":"part-00000-foreign.snappy.parquet","partitionValues":{},"size":$s0,"modificationTime":2,"dataChange":true}}"""))

    // foreign UPDATE v1: id=1 b→B, rewrite + change images
    val s1 = onePart(Seq((0L, "a"), (1L, "B"), (2L, "c")).toDF("id", "v"),
      dirP.resolve("part-00001-foreign.snappy.parquet"))
    val c1 = onePart(
      Seq((1L, "b", "update_preimage"), (1L, "B", "update_postimage"))
        .toDF("id", "v", "_change_type"),
      dirP.resolve("_change_data/cdc-00000-foreign.c000.snappy.parquet"))
    LogFixtures.writeCommit(dirP, 1, Seq(
      """{"remove":{"path":"part-00000-foreign.snappy.parquet","deletionTimestamp":3,"dataChange":true}}""",
      s"""{"add":{"path":"part-00001-foreign.snappy.parquet","partitionValues":{},"size":$s1,"modificationTime":4,"dataChange":true}}""",
      s"""{"cdc":{"path":"_change_data/cdc-00000-foreign.c000.snappy.parquet","partitionValues":{},"size":$c1,"dataChange":false}}"""))

    // batch API serves exactly the foreign images with the commit version
    val ch = DeltaTable.forPath(spark, dir).changes(0, 1)
      .select("id", "v", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(ch == Set((1L, "b", "update_preimage", 1L),
      (1L, "B", "update_postimage", 1L)))

    // the TVF path too
    val viaSql = spark.sql(
      s"SELECT id, v, _change_type FROM graft_table_changes('$dir', 0, 1)")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(viaSql == Set((1L, "b", "update_preimage"), (1L, "B", "update_postimage")))

    // the rewrite itself must NOT trip the no-change-data refusal, and the
    // current state reads through
    assert(DeltaTable.forPath(spark, dir).toDF.orderBy("id")
      .as[(Long, String)].collect().toSeq == Seq((0L, "a"), (1L, "B"), (2L, "c")))

    // append-only v2 (no cdc file, delta-spark writes none): adds serve
    // as insert images alongside the foreign cdc version
    val s2 = onePart(Seq((9L, "z")).toDF("id", "v"),
      dirP.resolve("part-00002-foreign.snappy.parquet"))
    LogFixtures.writeCommit(dirP, 2, Seq(
      s"""{"add":{"path":"part-00002-foreign.snappy.parquet","partitionValues":{},"size":$s2,"modificationTime":5,"dataChange":true}}"""))
    val full = DeltaTable.forPath(spark, dir).changes(0, 2)
      .select("id", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(full == Set((1L, "update_preimage", 1L), (1L, "update_postimage", 1L),
      (9L, "insert", 2L)))

    // a PARTITIONED foreign table: delta-spark writes change files under
    // `_change_data/<partition dirs>/` without the partition column, whose
    // value rides the cdc action's partitionValues
    val dirQ = tempTable("cdf-foreign-part")
    val partSchemaStr =
      """{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},{\"name\":\"v\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},{\"name\":\"p\",\"type\":\"integer\",\"nullable\":true,\"metadata\":{}}]}"""
    val mdQ =
      s"""{"metaData":{"id":"aaaaaaaa-0000-4000-8000-000000000002","format":{"provider":"parquet","options":{}},"schemaString":"$partSchemaStr","partitionColumns":["p"],"configuration":{"delta.enableChangeDataFeed":"true"},"createdTime":1}}"""
    val q0 = onePart(Seq((0L, "a"), (1L, "b")).toDF("id", "v"),
      dirQ.resolve("p=1/part-00000-foreign.snappy.parquet"))
    LogFixtures.writeCommit(dirQ, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""", mdQ,
      s"""{"add":{"path":"p=1/part-00000-foreign.snappy.parquet","partitionValues":{"p":"1"},"size":$q0,"modificationTime":2,"dataChange":true}}"""))
    val q1 = onePart(Seq((0L, "a")).toDF("id", "v"),
      dirQ.resolve("p=1/part-00001-foreign.snappy.parquet"))
    val cq = onePart(Seq((1L, "b", "delete")).toDF("id", "v", "_change_type"),
      dirQ.resolve("_change_data/p=1/cdc-00000-foreign.c000.snappy.parquet"))
    LogFixtures.writeCommit(dirQ, 1, Seq(
      """{"remove":{"path":"p=1/part-00000-foreign.snappy.parquet","deletionTimestamp":3,"dataChange":true}}""",
      s"""{"add":{"path":"p=1/part-00001-foreign.snappy.parquet","partitionValues":{"p":"1"},"size":$q1,"modificationTime":4,"dataChange":true}}""",
      s"""{"cdc":{"path":"_change_data/p=1/cdc-00000-foreign.c000.snappy.parquet","partitionValues":{"p":"1"},"size":$cq,"dataChange":false}}"""))
    val chQ = DeltaTable.forPath(spark, dirQ.toString).changes(0, 1)
      .select("id", "v", "p", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.get(2), r.getString(3))).toSet
    assert(chQ == Set((1L, "b", 1, "delete")))
  }

  test("adds-only commits carrying DV pointers subtract them from the insert feed (r11)") {
    // The restore shape: a commit that ONLY adds files whose entries carry
    // DV pointers (re-adding a previously removed DV'd file, no CDC
    // staged). The feed once served the whole file as inserts — reporting
    // the DV'd-out rows as inserted rows that are not in the table.
    import java.nio.file.Files
    import LogFixtures._
    val dir = tempTable("cdf-addonly-dv")
    // one real 20-row data file
    val tmp = Files.createTempDirectory("cdf-dv-data-")
    (0L until 20L).toDF("id").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).iterator()
    val src = Iterator.continually(part).takeWhile(_ => part.hasNext).map(_.next())
      .find(_.toString.endsWith(".parquet")).get
    Files.copy(src, dir.resolve("a.parquet"))
    val size = Files.size(dir.resolve("a.parquet"))
    // an inline deletion vector deleting positions 0..4
    val bitmap = StandardDv.PositionBitmap.serialize((0L until 5L).toArray)
    val padded = bitmap ++ new Array[Byte]((4 - bitmap.length % 4) % 4)
    val inlineDv = StandardDv.Descriptor("i", StandardDv.Z85.encode(padded),
      None, padded.length, 5L)
    def addDv(withDv: Boolean): String = {
      val dv = if (withDv) s""","deletionVector":${inlineDv.json}""" else ""
      s"""{"add":{"path":"a.parquet","partitionValues":{},"size":$size,"modificationTime":1587968586000,"dataChange":true$dv}}"""
    }
    writeCommit(dir, 0, Seq(protocol, metaData, addDv(withDv = false)))
    writeCommit(dir, 1, Seq(remove("a.parquet")))          // pure remove
    writeCommit(dir, 2, Seq(addDv(withDv = true)))         // adds-only, WITH DV
    val log = DeltaLog.forPath(spark, dir.toString)
    assert(DeltaTable.forPath(spark, dir.toString).toDF.count() == 15)
    val feed = ChangeDataFeed.readChanges(spark, log, 1, 2)
    val inserts = feed.filter(col(ChangeDataFeed.ChangeType) === "insert")
    assert(inserts.count() == 15,
      s"DV'd-out rows must not be reported as inserts (got ${inserts.count()})")
    assert(inserts.select("id").as[Long].collect().toSet == (5L until 20L).toSet)
  }
}
