package org.apache.spark.sql.graftbridge

import java.util.UUID
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID,
  TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Bridge into the `private[spark]`/`private[sql]` pieces of Spark's
  * file-source write path that a committer-free parquet writer needs:
  * the session's Hadoop conf, Spark's own parquet `OutputWriter`, the
  * SQL execution id and the task output metrics.
  */
object ParquetFiles {

  /** The session's Hadoop conf: the context's `spark.hadoop.*` settings
    * plus the session's SQL conf, as the file sources see it (a copy). */
  def hadoopConf(spark: SparkSession): Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConf()

  /** Write `df`'s rows under `dir` as parquet, one `part-*` file per
    * non-empty partition, in ONE plain Spark job run under an SQL
    * execution id (so broadcasts in `df`'s plan and SQL listeners
    * attribute it). The files come from `ParquetFileFormat.prepareWrite`'s
    * `OutputWriter`, so compression, schema metadata and type encodings
    * match `df.write.parquet`; but no write command, output committer,
    * `_temporary/` tree or `_SUCCESS` marker is involved — the caller
    * owns `dir` and decides what becomes of it. A retried task attempt
    * replaces its partition's file. Returns the number of rows
    * written. */
  def write(df: DataFrame, dir: Path): Long = {
    val spark = df.sparkSession
    val job = Job.getInstance(hadoopConf(spark))
    val schema = df.schema
    val factory = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, schema)
    val conf = new SerializableConfiguration(job.getConfiguration)
    val out = dir.toString
    val tag = UUID.randomUUID().toString
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("writeKeyed")) {
      qe.toRdd.mapPartitionsWithIndex { (part, rows) =>
        Iterator.single(
          if (rows.hasNext) writeTask(factory, schema, conf, out, tag, part,
            rows)
          else 0L)
      }.collect().sum
    }
  }

  private def writeTask(factory: OutputWriterFactory, schema: StructType,
      conf: SerializableConfiguration, dir: String, tag: String, part: Int,
      rows: Iterator[InternalRow]): Long = {
    val tc = TaskContext.get()
    val attempt = new TaskAttemptID(
      new TaskID(new JobID(tag, tc.stageId()), TaskType.MAP, part),
      tc.attemptNumber())
    val ctx = new TaskAttemptContextImpl(conf.value, attempt)
    val file = new Path(dir,
      f"part-$part%05d-$tag-c000${factory.getFileExtension(ctx)}")
    val fs = file.getFileSystem(conf.value)
    if (tc.attemptNumber() > 0) fs.delete(file, false)
    val w = factory.newInstance(file.toString, schema, ctx)
    var n = 0L
    try rows.foreach { r => w.write(r); n += 1 }
    catch { case t: Throwable =>
      try w.close() catch { case s: Throwable => t.addSuppressed(s) }
      throw t
    }
    w.close()
    val metrics = tc.taskMetrics().outputMetrics
    metrics.setBytesWritten(fs.getFileStatus(file).getLen)
    metrics.setRecordsWritten(n)
    n
  }
}
