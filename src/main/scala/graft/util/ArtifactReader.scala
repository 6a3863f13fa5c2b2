package graft.util

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.StructType

/** `spark.read.parquet` with the metadata work on the driver, where a
  * catalog would hold it — the reader of every store artifact tree and
  * query table. A plain read runs up to two metadata JOBS before any data
  * is touched: a listing job once a tree holds more than 32 directories
  * (every `tok_bucket=` or `cell=` tree) and a schema job over one footer.
  * Here Spark's own listing code (hidden-file rules, path filter, block
  * locations) lists the tree on the driver and hands the listing to the
  * `InMemoryFileIndex` through a seeded `FileStatusCache`, and the footer
  * inference would pick (the first data file by path) is read on the
  * driver. The relation is the one `spark.read` builds, so plans and
  * results are unchanged; DATA is read from parquet on every call.
  *
  * Memo: every read lists its tree again, and the listing — path, length
  * and mtime of every leaf file, plus the footer converter settings — is
  * the key of the schema and of the values the stores derive from tiny
  * artifacts ([[value]]: meta and stats rows, codebooks, a tombstone
  * count), so an unchanged store serves with no metadata job at all. No
  * entry can go stale: every write adds, removes or rewrites a leaf file,
  * and parquet writers never reuse a part-file name. One entry per (tree,
  * read mode), replaced when the tree's listing changes and dropped when
  * [[ArtifactTree]] deletes the tree, so the memo holds as many entries
  * as there are live trees, however many writes a process runs.
  *
  * Scale: the stores' trees are bounded (`n_buckets` or `nCells`
  * directories plus delta-class subtrees); a listing is one metadata
  * call per directory, or a flat paged list on object stores. SCALING.md
  * has the figures, and the tree size where a manifest must replace the
  * listing. */
object ArtifactReader {

  /** What one listing of a tree determines. */
  private final class Entry(val key: Seq[Any], val schema: StructType) {
    val values = new ConcurrentHashMap[String, Any]()
  }
  private val memo = new ConcurrentHashMap[(String, Boolean), Entry]()

  /** The trees the memo holds an entry for (specs pin its bound). */
  private[graft] def memoPaths: Seq[String] = memo.keySet.asScala.toSeq.map(_._1)

  /** `spark.read.parquet(path)`; `recursive` mirrors the stores'
    * `recursiveFileLookup` reads (flat tree + delta subdirectories). */
  def parquet(spark: SparkSession, path: String, recursive: Boolean = false): DataFrame =
    open(spark, path, recursive)._1

  /** A driver-side value derived from a tiny artifact, computed by
    * `compute` once per listing of its tree and kept under `tag`. */
  def value[T](spark: SparkSession, path: String, tag: String, recursive: Boolean = false)(
      compute: DataFrame => T): T = {
    val (df, entry) = open(spark, path, recursive)
    entry.fold(compute(df))(_.values.computeIfAbsent(tag, _ => compute(df)).asInstanceOf[T])
  }

  /** Drop the entries of `path` and every tree below it (the tree is
    * being deleted). */
  private[util] def forget(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val q = p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString
    memo.keySet.removeIf(k => k._1 == q || k._1.startsWith(q + "/"))
  }

  private def open(spark: SparkSession, path: String, recursive: Boolean): (DataFrame, Option[Entry]) = {
    val options = Map("path" -> path) ++
      (if (recursive) Map("recursiveFileLookup" -> "true") else Map.empty)
    def plain = (spark.read.options(options - "path").parquet(path), None)
    val p = new Path(path)
    val hadoopConf = spark.sessionState.newHadoopConf()
    val fs = p.getFileSystem(hadoopConf)
    val root = fs.makeQualified(p)
    // a missing tree (Spark's own error) or a file-sink tree, whose file
    // list lives in its log, reads the plain way
    if (!fs.exists(root) || FileStreamSink.hasMetadata(Seq(path), hadoopConf, spark.sessionState.conf))
      return plain
    val leaves = Bridge.listLeafFiles(spark, root).toArray
    val index = new InMemoryFileIndex(spark, Seq(root), options, None, new Seeded(root, leaves))
    val data = index.allFiles()
    if (data.isEmpty) return plain // Spark's own "unable to infer schema"
    val key = Bridge.footerSettings(spark) +:
      leaves.toSeq.map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sortBy(_._1)
    val entry = memo.compute((root.toString, recursive), (_, old) =>
      if (old != null && old.key == key) old
      else new Entry(key, Bridge.footerSchema(spark, data.minBy(_.getPath.toString))))
    val relation = HadoopFsRelation(index, index.partitionSchema, entry.schema,
      None, new ParquetFileFormat, options)(spark)
    (spark.baseRelationToDataFrame(relation), Some(entry))
  }

  /** Answers the index's listing of `root` with the driver's listing;
    * an invalidation (a refresh) lets the index list for itself. */
  private final class Seeded(root: Path, leaves: Array[FileStatus]) extends FileStatusCache {
    @volatile private var seeded = true
    override def getLeafFiles(p: Path): Option[Array[FileStatus]] =
      if (seeded && p == root) Some(leaves) else None
    override def putLeafFiles(p: Path, files: Array[FileStatus]): Unit = ()
    override def invalidateAll(): Unit = seeded = false
  }
}
