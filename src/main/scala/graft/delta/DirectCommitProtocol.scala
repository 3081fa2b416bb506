package graft.delta

import java.util.UUID
import scala.collection.mutable
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobContext, OutputCommitter, TaskAttemptContext}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.mapred.SparkHadoopMapRedUtil
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetWriteSupport}
import org.apache.spark.sql.types.StructType

/** Commit protocol of every graft table write: each task writes its files
  * straight to their final table-relative path (`<partition dirs>/part-
  * <task>-<uuid>….parquet`) and returns finished actions in its commit
  * message. A Delta commit becomes atomic through its log record alone —
  * files are invisible until the log references them — so there is no
  * staging directory, no `_temporary`, no `_SUCCESS`, no listing and no
  * rename (delta-spark's `DelayedCommitProtocol` has the same shape).
  *
  * A data file's task reads its own footer for the Add's stats. When
  * `cdcRel` is set the write carries change rows: the leading partition
  * column [[DirectCommitProtocol.CdcPartCol]] routes them to
  * `cdcRel/<partition dirs>/` as [[CdcAction]]s with `partitionValues`, and
  * one `cdc-<uuid>` directory per write keeps directory-level rollback
  * scoped to this write.
  *
  * Cleanup deletes exactly the files this write produced: a failed or
  * commit-denied task its own files, a failed job the files of the tasks
  * that had committed and its change directory; a failed Delta commit is
  * the caller's ([[GraftWriter.discardStaged]],
  * [[ChangeDataFeed.discardStaged]]). */
private[delta] final class DirectCommitProtocol(
    table: String, cdcRel: Option[String], numIndexedCols: Int)
  extends FileCommitProtocol with Serializable {

  // task side: (table-relative path, is a change file) per opened file
  @transient private var opened: mutable.ArrayBuffer[(String, Boolean)] = _
  // driver side: actions of committed tasks, and the job's result
  @transient private var committed: mutable.ArrayBuffer[Action] = _
  @transient private var result: Seq[Action] = Nil

  /** The committed job's actions (driver side). */
  def actions: Seq[Action] = result

  override def setupJob(jobContext: JobContext): Unit =
    committed = mutable.ArrayBuffer.empty

  override def onTaskCommit(msg: TaskCommitMessage): Unit =
    committed ++= msg.obj.asInstanceOf[Seq[Action]]

  override def commitJob(jobContext: JobContext,
                         taskCommits: Seq[TaskCommitMessage]): Unit =
    result = taskCommits.flatMap(_.obj.asInstanceOf[Seq[Action]])

  override def abortJob(jobContext: JobContext): Unit = {
    val conf = jobContext.getConfiguration
    delete(conf, committed.collect { case a: AddAction => a.path })
    // the change directory is this write's alone: dropping it whole also
    // takes change files of tasks whose commit the failed job never saw
    cdcRel.foreach { rel =>
      val root = new Path(table)
      Try(root.getFileSystem(conf).delete(new Path(root, rel), true))
    }
  }

  override def setupTask(ctx: TaskAttemptContext): Unit =
    opened = mutable.ArrayBuffer.empty

  override def newTaskTempFile(ctx: TaskAttemptContext, dir: Option[String],
                               ext: String): String =
    newTaskTempFile(ctx, dir, FileNameSpec("", ext))

  override def newTaskTempFile(ctx: TaskAttemptContext, dir: Option[String],
                               spec: FileNameSpec): String = {
    // with change rows, the first partition segment is the routing column
    val (isCdc, partDir) = (cdcRel, dir) match {
      case (Some(_), Some(d)) =>
        val segs = d.split("/", 2)
        (segs(0) == s"${DirectCommitProtocol.CdcPartCol}=true",
          if (segs.length > 1) segs(1) else "")
      case _ => (false, dir.getOrElse(""))
    }
    val split = ctx.getTaskAttemptID.getTaskID.getId
    val name = f"${spec.prefix}part-$split%05d-${UUID.randomUUID()}${spec.suffix}"
    val rel = Seq(if (isCdc) cdcRel.get else "", partDir, name)
      .filter(_.nonEmpty).mkString("/")
    opened += ((rel, isCdc))
    new Path(new Path(table), rel).toString
  }

  override def newTaskTempFileAbsPath(ctx: TaskAttemptContext, absoluteDir: String,
                                      ext: String): String =
    throw new UnsupportedOperationException("graft writes take no custom partition locations")

  override def commitTask(ctx: TaskAttemptContext): TaskCommitMessage = {
    val conf = ctx.getConfiguration
    val root = new Path(table)
    val fs = root.getFileSystem(conf)
    val actions = opened.toSeq.map { case (rel, isCdc) =>
      val st = fs.getFileStatus(new Path(root, rel))
      if (isCdc)
        CdcAction(path = rel, size = st.getLen, partitionValues =
          GraftWriter.partitionValuesOf(rel.stripPrefix(cdcRel.get + "/")))
      else
        AddAction(path = rel, size = st.getLen,
          partitionValues = GraftWriter.partitionValuesOf(rel),
          modificationTime = st.getModificationTime, dataChange = true,
          stats = Some(FooterStats.statsJson(st.getPath, conf, numIndexedCols)))
    }
    // ask the driver's output-commit coordinator last: it denies an attempt
    // whose stage has ended (a straggler of a failed job) or lost to another
    // attempt, and a denied task aborts, deleting its files
    val id = ctx.getTaskAttemptID
    SparkHadoopMapRedUtil.commitTask(DirectCommitProtocol.NoOpCommitter, ctx,
      id.getJobID.getId, id.getTaskID.getId)
    new TaskCommitMessage(actions)
  }

  override def abortTask(ctx: TaskAttemptContext): Unit =
    if (opened != null) delete(ctx.getConfiguration, opened.map(_._1))

  private def delete(conf: Configuration, rels: Iterable[String]): Unit =
    if (rels.nonEmpty) {
      val root = new Path(table)
      val fs = root.getFileSystem(conf)
      rels.foreach(rel => Try(fs.delete(new Path(root, rel), false)))
    }
}

private[delta] object DirectCommitProtocol {
  /** Routing partition column of a write with change rows: true for rows
    * whose `_change_type` is set. It never reaches a file or the log. */
  val CdcPartCol = "__graft_is_cdc"

  /** The Hadoop committer the commit coordinator check wraps: the files are
    * already final, so committing moves nothing, and aborting is the
    * protocol's own `abortTask`. */
  private object NoOpCommitter extends OutputCommitter {
    override def setupJob(ctx: JobContext): Unit = ()
    override def setupTask(ctx: TaskAttemptContext): Unit = ()
    override def needsTaskCommit(ctx: TaskAttemptContext): Boolean = true
    override def commitTask(ctx: TaskAttemptContext): Unit = ()
    override def abortTask(ctx: TaskAttemptContext): Unit = ()
  }
}

/** Parquet for a write with change rows: data files drop `_change_type`,
  * change files drop the data-only columns (`dataOnly`, e.g. materialized
  * row-tracking columns), so each file carries exactly its own schema.
  * `cdcRoot` is the absolute `_change_data/cdc-<uuid>` directory. */
private[delta] final class ChangeSplitParquet(cdcRoot: String, dataOnly: Set[String])
  extends ParquetFileFormat {

  override def prepareWrite(spark: SparkSession, job: Job,
                            options: Map[String, String],
                            dataSchema: StructType): OutputWriterFactory = {
    val parquet = super.prepareWrite(spark, job, options, dataSchema)
    def keep(drop: String => Boolean): IndexedSeq[Int] =
      dataSchema.fields.indices.filterNot(i => drop(dataSchema(i).name))
    val dataIdx = keep(_ == ChangeDataFeed.ChangeType)
    val cdcIdx = keep(dataOnly.contains)
    val root = cdcRoot + "/"
    new OutputWriterFactory {
      override def getFileExtension(ctx: TaskAttemptContext): String =
        parquet.getFileExtension(ctx)

      override def newInstance(path: String, schema: StructType,
                               ctx: TaskAttemptContext): OutputWriter = {
        val idx = if (path.startsWith(root)) cdcIdx else dataIdx
        val fileSchema = StructType(idx.map(schema(_)))
        // the parquet write support reads its schema from the conf
        val conf = new Configuration(ctx.getConfiguration)
        ParquetWriteSupport.setSchema(fileSchema, conf)
        val out = parquet.newInstance(path, fileSchema,
          new TaskAttemptContextImpl(conf, ctx.getTaskAttemptID))
        val row = ProjectingInternalRow(fileSchema, idx)
        new OutputWriter {
          override def write(r: InternalRow): Unit = { row.project(r); out.write(row) }
          override def close(): Unit = out.close()
          override def path(): String = out.path()
        }
      }
    }
  }
}
