package graft.util

import java.nio.file.{Files, Path => JPath, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.JobLog

import graft.SparkSpec
import graft.similarity.Bm25IndexStore

/** The driver-side artifact reader: a read lists on the driver exactly
  * what `spark.read.parquet` lists and resolves the same schema, runs no
  * listing or schema job, memoizes tiny artifacts so an unchanged store
  * serves with no metadata job, and keeps one memo entry per tree. */
class ArtifactReaderSpec extends SparkSpec {

  private val made = scala.collection.mutable.Buffer.empty[JPath]
  private def tempDir(prefix: String): JPath = {
    val d = Files.createTempDirectory(prefix)
    made += d
    d
  }

  override def afterAll(): Unit = {
    made.foreach(d => Files.walk(d).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_)))
    super.afterAll()
  }

  private def plain(path: String, recursive: Boolean): DataFrame = {
    val r = spark.read
    (if (recursive) r.option("recursiveFileLookup", "true") else r).parquet(path)
  }

  private def firstPart(dir: JPath): JPath =
    Files.walk(dir).filter(p => p.getFileName.toString.startsWith("part-")).findFirst().get()

  /** Everything Spark must skip or must read, around real parquet files:
    * `_SUCCESS` and `.crc` from the writer, a hidden file, a `_temporary`
    * attempt directory holding parquet, and a `_metadata` summary. */
  private def litter(dir: JPath): Unit = {
    val part = firstPart(dir)
    Files.write(dir.resolve(".hidden"), "x".getBytes)
    Files.createDirectories(dir.resolve("_temporary/0"))
    Files.copy(part, dir.resolve("_temporary/0/part-99999.parquet"))
    Files.copy(part, dir.resolve("_metadata"), StandardCopyOption.REPLACE_EXISTING)
  }

  private def partitionedTree(key: String): String = {
    import spark.implicits._
    val dir = tempDir("graft-reader-part-")
    (0 until 40).map(i => (i % 37, s"t$i", i.toLong)).toDF(key, "token", "doc_id")
      .write.mode("overwrite").partitionBy(key).parquet(dir.toString)
    litter(dir)
    dir.toString
  }

  /** A flat base plus batch subdirectories (the delta-class layout). */
  private def deltaTree(): String = {
    import spark.implicits._
    val dir = tempDir("graft-reader-delta-")
    Seq((1L, 3L), (2L, 5L)).toDF("doc_id", "dl").write.mode("overwrite").parquet(dir.toString)
    for (b <- Seq("append-a1", "delta-0", "delta-1"))
      Seq((10L, 7L)).toDF("doc_id", "dl").write.mode("overwrite").parquet(s"$dir/$b")
    litter(dir)
    litter(dir.resolve("delta-0"))
    dir.toString
  }

  /** A table that is one parquet file, not a directory. */
  private def oneFileTable(): String = {
    import spark.implicits._
    val dir = tempDir("graft-reader-file-")
    Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/w")
    Files.copy(firstPart(dir.resolve("w")), dir.resolve("t.parquet")).toString
  }

  test("listing and schema parity with spark.read.parquet, partitioned and recursive") {
    val trees = Seq(
      (partitionedTree("tok_bucket"), false),
      (partitionedTree("cell"), false),
      (deltaTree(), true),
      (partitionedTree("tok_bucket"), true),
      (oneFileTable(), false))
    for ((path, recursive) <- trees) {
      val ours = ArtifactReader.parquet(spark, path, recursive)
      val theirs = plain(path, recursive)
      assert(ours.inputFiles.sorted.toSeq == theirs.inputFiles.sorted.toSeq, s"$path r=$recursive")
      assert(ours.inputFiles.nonEmpty)
      assert(ours.schema == theirs.schema, s"$path r=$recursive")
      assert(ours.orderBy("doc_id").collect().toSeq == theirs.orderBy("doc_id").collect().toSeq)
    }
    // partition columns keep their inferred type
    assert(ArtifactReader.parquet(spark, trees.head._1).schema("tok_bucket").dataType.typeName == "integer")
  }

  private def newStore(nBuckets: Int): String = {
    import spark.implicits._
    val dir = tempDir("graft-reader-bm25-").toString
    val docs = (1L to 200L).map(i => (i, s"spark join w$i window scan${i % 7}")).toDF("doc_id", "text")
    Bm25IndexStore.writeBm25Index(docs, dir, nBuckets = nBuckets)
    dir
  }

  test("schema parity on live store artifacts, deltas and tombstones included") {
    import spark.implicits._
    val dir = newStore(nBuckets = 64)
    Bm25IndexStore.appendToBm25Index(Seq((500L, "spark late")).toDF("doc_id", "text"), dir, batchId = "b1")
    Bm25IndexStore.deleteFromBm25Index(Seq(3L).toDF("doc_id"), dir)
    for ((sub, recursive) <- Seq(("postings", false), ("postings_deltas", true),
        ("doclens", true), ("tombstones", true), ("stats", false), ("meta", false))) {
      val path = ArtifactTree.resolve(spark, dir, sub)
      assert(ArtifactReader.parquet(spark, path, recursive).schema == plain(path, recursive).schema, sub)
    }
  }

  test("an unchanged store serves with no metadata job and no job as wide as n_buckets") {
    import spark.implicits._
    val nBuckets = 64
    val dir = newStore(nBuckets)
    Bm25IndexStore.appendToBm25Index(Seq((500L, "spark window")).toDF("doc_id", "text"), dir, batchId = "b1")
    def serve() = Bm25IndexStore.serveBm25TopK(spark, dir, Seq("spark", "window"), k = 5, roundTo = 6).collect()
    def readerJobs(jobs: Seq[org.apache.spark.scheduler.SparkListenerJobStart]) =
      jobs.filter(j => JobLog.stack(j).contains("ArtifactReader"))

    // a changed tombstone set is re-read, through the reader, once
    val (_, deleteJobs) = JobLog.of(spark.sparkContext)(
      Bm25IndexStore.deleteFromBm25Index(Seq(3L).toDF("doc_id"), dir))
    assert(readerJobs(deleteJobs).nonEmpty, "the tombstone count must be read through the reader")
    val (first, firstJobs) = JobLog.of(spark.sparkContext)(serve())
    val (second, secondJobs) = JobLog.of(spark.sparkContext)(serve())
    assert(second.toSeq == first.toSeq)
    assert(readerJobs(secondJobs).isEmpty,
      s"meta, stats, tombstone count and schema must come from the memo:\n" +
        readerJobs(secondJobs).map(JobLog.stack).mkString("\n---\n"))
    assert(readerJobs(firstJobs).nonEmpty, "the stats_net row the delete wrote is read once")
    assert(secondJobs.size < firstJobs.size)

    val (_, compactJobs) = JobLog.of(spark.sparkContext)(Bm25IndexStore.compactBm25Index(spark, dir))
    val (_, afterJobs) = JobLog.of(spark.sparkContext)(serve())
    for (j <- firstJobs ++ secondJobs ++ compactJobs ++ afterJobs)
      assert(JobLog.tasks(j) < nBuckets, s"job ${j.jobId} ran ${JobLog.tasks(j)} tasks:\n${JobLog.stack(j)}")
  }

  test("the memo keeps one entry per tree through append, delete and compaction rounds") {
    import spark.implicits._
    val dir = newStore(nBuckets = 8)
    def entries = ArtifactReader.memoPaths.count(_.contains(dir))
    def round(i: Int): Int = {
      Bm25IndexStore.appendToBm25Index(Seq((1000L + i, s"spark w$i")).toDF("doc_id", "text"), dir,
        batchId = s"r$i")
      Bm25IndexStore.deleteFromBm25Index(Seq(1000L + i).toDF("doc_id"), dir)
      Bm25IndexStore.serveBm25TopK(spark, dir, Seq("spark", "join"), k = 5).collect()
      entries
    }
    val sizes = (1 to 30).map(round)
    assert(sizes.distinct.size == 1, s"memo entries per round: $sizes")
    // compaction versions the postings and doclens trees; superseded
    // versions leave the memo with their files
    val compacted = (1 to 4).map { i => Bm25IndexStore.compactBm25Index(spark, dir); round(100 + i) }
    assert(compacted.drop(1).distinct.size == 1, s"memo entries per compaction round: $compacted")
  }
}
