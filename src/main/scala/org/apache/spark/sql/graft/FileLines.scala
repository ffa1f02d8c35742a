package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FileSourceOptions, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{DataSource, FilePartition, FileScanRDD,
  HadoopFileLinesReader, HadoopFsRelation, PartitionedFile}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import java.lang.ref.WeakReference

/**
 * The lines of a text path as an RDD of one-field rows, read without a
 * Dataset plan: no analysis, optimisation, physical planning or scan
 * codegen per call, and no copy of a line after Hadoop's line reader.
 *
 * Every step is the one `spark.read.textFile(path)` runs, taken from the
 * same Spark code, so the RDD has the same partitions, the same files in
 * the same order inside each partition and the same lines:
 *  - `DataSource.resolveRelation` globs, skips names starting with `_` or
 *    `.` (`_SUCCESS`, checksum files), lists, infers `k=v` partition
 *    directories and raises the missing-path error;
 *  - the relation's files are split and packed as `FileSourceScanExec`
 *    does: `isSplitable` per file (a `.gz` file is one split), splits
 *    sorted by length descending, `FilePartition.getFilePartitions` with
 *    `FilePartition.maxSplitBytes` (`maxPartitionBytes`, `openCostInBytes`);
 *  - Spark's `FileScanRDD` runs the read (`ignoreMissingFiles`,
 *    `ignoreCorruptFiles`, input metrics), and each split is read by
 *    `HadoopFileLinesReader`, as `TextFileFormat` reads it (CR, LF and CRLF
 *    line ends, codecs, the UTF-8 BOM, the line that crosses a split
 *    boundary belongs to the split it starts in).
 *
 * Each row's string wraps the reader's buffer, so a row is valid only until
 * the iterator advances: a consumer must use each row before taking the
 * next, and copy what it keeps. Partition values of `k=v` directories are
 * not part of the row.
 */
object FileLines {
  def apply(session: SparkSession, path: String): RDD[InternalRow] = {
    val spark = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val relation = DataSource(spark, paths = Seq(path), className = "text")
      .resolveRelation().asInstanceOf[HadoopFsRelation]
    val dirs = relation.location.listFiles(Nil, Nil)
    val maxSplitBytes = FilePartition.maxSplitBytes(spark, dirs)
    val splits = dirs.flatMap { dir =>
      dir.files.flatMap { file =>
        val filePath = file.getPath
        PartitionedFileUtil.splitFiles(file, filePath,
          relation.fileFormat.isSplitable(spark, relation.options, filePath), maxSplitBytes, dir.values)
      }
    }.sortBy(_.length)(Ordering[Long].reverse)
    val conf = broadcastConf(spark.sparkContext, spark.sessionState.newHadoopConfWithOptions(relation.options))
    new FileScanRDD(spark, readLines(conf), FilePartition.getFilePartitions(spark, splits, maxSplitBytes),
      relation.dataSchema, Nil, Map.empty, new FileSourceOptions(CaseInsensitiveMap(relation.options)))
  }

  /** The last conf broadcast, with the context it belongs to and the
   *  properties of the conf it was built from. One slot: a caller that
   *  alternates confs rebuilds, but nothing accumulates. The context is
   *  held weakly, so the slot never keeps a stopped context alive. */
  private final class Slot(val sc: WeakReference[SparkContext], val props: java.util.Map[String, String],
      val conf: Broadcast[SerializableConfiguration])
  @volatile private var slot: Slot = _

  /** A broadcast of `hadoopConf`, reused while the context is live and the
   *  conf's properties are unchanged. Every SQL conf of the session is
   *  copied into `hadoopConf`, so any `spark.conf.set` makes a new one. */
  private def broadcastConf(sc: SparkContext, hadoopConf: Configuration): Broadcast[SerializableConfiguration] = {
    val props = new java.util.HashMap[String, String]
    hadoopConf.iterator().forEachRemaining(e => props.put(e.getKey, e.getValue))
    val last = slot
    if (last != null && (last.sc.get eq sc) && !sc.isStopped && last.props == props) last.conf
    else {
      val conf = SerializableConfiguration.broadcast(sc, hadoopConf)
      slot = new Slot(new WeakReference(sc), props, conf)
      conf
    }
  }

  private def readLines(conf: Broadcast[SerializableConfiguration]): PartitionedFile => Iterator[InternalRow] =
    file => {
      val reader = new HadoopFileLinesReader(file, conf.value.value)
      Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => reader.close()))
      val row = new GenericInternalRow(1)
      reader.map { line =>
        row.update(0, UTF8String.fromBytes(line.getBytes, 0, line.getLength))
        row
      }
    }
}
