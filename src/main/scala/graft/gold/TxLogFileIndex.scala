package graft.gold

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, PredicateHelper}
import org.apache.spark.sql.execution.datasources.{
  FileIndex, HadoopFsRelation, PartitionDirectory
}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

import graft.plans.RewriteSkipIndexScan
import graft.plans.RewriteSkipIndexScan.{BV, BvLong, BvStr}

/** The Spark [[FileIndex]] every TxLog parquet scan plans onto (Delta's
  * `TahoeFileIndex` shape): the files of one snapshot, or a subset of
  * them, served from what the log already records — the plan follows the
  * lake's recorded physical design instead of re-discovering it per
  * query.
  *
  *  - **No listing.** Each `FileStatus` is built from the add-action size
  *    the log recorded ([[TxLog.FileStats.bytes]]); `InMemoryFileIndex`
  *    would stat every path again and, past Spark's parallel-listing
  *    threshold (32 paths), launch a whole listing job inside every read.
  *    A file with no recorded size (a legacy size-less record, or a file
  *    whose stats the caller's map does not carry) pays ONE Hadoop-FS
  *    stat through [[TxLog.fileBytes]], counted by `sizeFallbackStats`.
  *    Callers that know a size from elsewhere (DV sidecar footers) pass
  *    it in `knownBytes`.
  *  - **Stats pruning, always on.** `listFiles` drops the files whose
  *    recorded bounds PROVE them disjoint from the scan's pushed data
  *    filters: `col <op> literal` conjuncts
  *    ([[RewriteSkipIndexScan.extractBounds]]) against the long-domain
  *    min/max (integral, DATE days, TIMESTAMP_NTZ micros) and the
  *    truncated string bounds (UTF8 binary order; a truncated maximum is
  *    one-sided, each side prunes on its own). The scan's attributes are
  *    the files' PHYSICAL names, the keys the stats are recorded under.
  *    Files without stats, columns without bounds and all-NULL columns
  *    are kept; the row-level filter always re-applies above the scan.
  *    The bounds are the read snapshot's own, so pruning is exact under
  *    time travel and after every rewrite — nothing is cached.
  *
  * The log has no directory layout to discover (partitioning is a log
  * concept here, [[TxLog.FileStats.parts]] — partition columns carry
  * min = max stats, so the same test prunes partitions), hence an empty
  * partition schema. `rootPaths` are the file paths themselves, never
  * the table directory, so `RewriteSkipIndexScan` (which matches a scan
  * rooted at a table directory) leaves TxLog scans alone. Two indexes
  * over the same file set are equal (data files are immutable), so cached
  * plans and reused exchanges still match across reads.
  */
final class TxLogFileIndex(spark: SparkSession, path: String,
    files: Seq[String], stats: Map[String, TxLog.FileStats],
    knownBytes: Map[String, Long] = Map.empty)
  extends FileIndex with PredicateHelper {

  private val hadoopConf = spark.sparkContext.hadoopConfiguration

  private val root = {
    val p = new Path(path)
    p.getFileSystem(hadoopConf).makeQualified(p)
  }

  private val statuses: Seq[FileStatus] = files.map { f =>
    val bytes = knownBytes.getOrElse(f, TxLog.fileBytes(path, f, stats, hadoopConf))
    new FileStatus(bytes, false, 0, 0L, 0L, new Path(root, f))
  }

  override val rootPaths: Seq[Path] = statuses.map(_.getPath)

  override def inputFiles: Array[String] = rootPaths.map(_.toString).toArray

  override def refresh(): Unit = () // a snapshot never changes

  override val sizeInBytes: Long = statuses.iterator.map(_.getLen).sum

  override def partitionSchema: StructType = StructType(Nil)

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val bounds = RewriteSkipIndexScan.extractBounds(
      dataFilters.flatMap(splitConjunctivePredicates))
    val kept =
      if (bounds.isEmpty) statuses
      else statuses.filter(st => mayMatch(st.getPath.getName, bounds))
    Seq(PartitionDirectory(InternalRow.empty, kept.toArray))
  }

  /** False only when `name`'s recorded bounds prove no row can satisfy
    * `bounds` on some constrained column.
    */
  private def mayMatch(name: String,
      bounds: Map[String, (Option[BV], Option[BV])]): Boolean =
    stats.get(name).forall { fs =>
      bounds.forall { case (c, (lo, hi)) =>
        fs.cols.get(c).forall { cs =>
          val (mn, mx): (Option[BV], Option[BV]) =
            if (cs.typ == "s") (cs.strMin.map(BvStr(_)), cs.strMax.map(BvStr(_)))
            else (cs.min.map(BvLong(_)), cs.max.map(BvLong(_)))
          val wholeFileBelow = lo.exists(l => mx.exists(_.lt(l)))
          val wholeFileAbove = hi.exists(h => mn.exists(h.lt(_)))
          !(wholeFileBelow || wholeFileAbove)
        }
      }
    }

  private lazy val fileSet: Set[String] = files.toSet

  override def equals(o: Any): Boolean = o match {
    case t: TxLogFileIndex => t.root == root && t.fileSet == fileSet
    case _ => false
  }

  override def hashCode(): Int = (root, fileSet).hashCode()

  /** The footer schema of the files (Spark's own parquet inference over
    * this index's statuses: all footers merged when `merge`, else one) —
    * only for reads with no recorded schema to serve.
    */
  def inferSchema(merge: Boolean): StructType =
    new ParquetFileFormat()
      .inferSchema(spark, Map("mergeSchema" -> merge.toString), statuses)
      .getOrElse(throw new IllegalArgumentException(
        s"TxLog: no parquet schema could be read from the files of $path"))

  /** The parquet relation over this index serving `schema` (all fields
    * nullable, as every file-source read serves them).
    */
  def relation(schema: StructType): HadoopFsRelation =
    HadoopFsRelation(this, partitionSchema = StructType(Nil),
      dataSchema = graft.streaming.TxLogRelation.asNullableSchema(schema),
      bucketSpec = None, fileFormat = new ParquetFileFormat,
      options = Map.empty)(spark)

  /** [[relation]] as a DataFrame. */
  def scan(schema: StructType): DataFrame =
    spark.baseRelationToDataFrame(relation(schema))
}
