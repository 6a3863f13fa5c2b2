package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.dedup.DedupIndexStore
import graft.embed.{Embedders, TransformerModel}
import graft.similarity.{Bm25IndexStore, IndexStore}
import graft.streaming.TextStream

/** The three live stores a delivery feeds (BM25, dedup, IVF-PQ ANN) and the
  * generated deliveries under `in/deliveries`. A delivery lands as one
  * JSON-lines file in a landing directory, drains through the streaming
  * curation gate and exact dedup into each store, then its takedown list is
  * tombstoned in all three. Used by `serve` (writes between reads) and
  * `ingest` (writes only). */
final class LiveStores(spark: SparkSession, in: String, work: String, t: Tracer) {
  val Model: String = TransformerModel.FixtureModelId
  val docSchema: StructType = new StructType().add("doc_id", LongType).add("text", StringType)
  private val rowSchema = docSchema.add("ts", TimestampType)
  val nDeliveries: Int = new File(s"$in/deliveries").list().count(f => f.matches("\\d+\\.jsonl"))
  private def delivery(d: Int): File = new File(f"$in/deliveries/$d%04d.jsonl")

  private var dir = ""
  def bm25: String = s"$dir/bm25"
  def dedup: String = s"$dir/dedup"
  def ann: String = s"$dir/ann"
  /** Deliveries landed so far. */
  var delivered = 0

  def base: DataFrame = spark.read.schema(docSchema).json(s"$in/base.jsonl")
  def embedded(d: DataFrame): DataFrame =
    Embedders.embed(d, "text", "embedding", Model).select(col("doc_id").as("vec_id"), col("embedding"))
  private def takedowns(d: Int): DataFrame =
    spark.read.schema(new StructType().add("doc_id", LongType))
      .json(f"$in/deliveries/$d%04d.takedowns.jsonl")

  /** Builds the three stores over the base documents under `root`. */
  def build(root: String): Unit = {
    dir = root
    delivered = 0
    val b = base.persist()
    Bm25IndexStore.writeBm25Index(b, bm25)
    DedupIndexStore.writeDedupIndex(b, dedup)
    val vecs = embedded(b).persist()
    IndexStore.writeIvfPqIndex(vecs, ann)
    vecs.unpersist(); b.unpersist()
    new File(s"$dir/landing").mkdirs()
  }

  /** Moves delivery `d`'s file into the landing directory in one rename
    * (the stream skips the hidden temporary name). */
  private def land(d: Int): Long = {
    val tmp = new File(f"$dir/landing/.$d%04d.jsonl")
    Files.copy(delivery(d).toPath, tmp.toPath, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp.toPath, new File(f"$dir/landing/$d%04d.jsonl").toPath, StandardCopyOption.ATOMIC_MOVE)
    Files.lines(delivery(d).toPath).count()
  }

  /** The curated stream over the landing directory: gate, then stateful
    * exact dedup. Each store's sink runs it under its own checkpoint. */
  private def curated: DataFrame =
    TextStream.streamingExactDedup(
      TextStream.curationGate(spark.readStream.schema(rowSchema).json(s"$dir/landing"), "text"),
      "text", "ts").select("doc_id", "text")

  private def drain(q: StreamingQuery): Unit = {
    q.awaitTermination()
    q.exception.foreach(e => throw e)
  }

  /** Lands delivery `d` and returns once all three stores serve it and its
    * takedowns; returns the documents it held. */
  def deliver(d: Int): Long = {
    require(d < nDeliveries, s"only $nDeliveries deliveries generated")
    val docs = land(d)
    t.span("store.bm25.append") {
      drain(Bm25IndexStore.streamAppendToBm25Index(curated, bm25, s"$dir/ckpt/bm25"))
    }
    t.span("store.dedup.append") {
      drain(DedupIndexStore.streamAppendToDedupIndex(curated, dedup, s"$dir/ckpt/dedup"))
    }
    t.span("store.ann.append") {
      drain(curated.writeStream
        .option("checkpointLocation", s"$dir/ckpt/ann")
        .foreachBatch { (batch: DataFrame, _: Long) => IndexStore.appendToIvfPqIndex(embedded(batch), ann) }
        .trigger(Trigger.AvailableNow())
        .start())
    }
    val down = takedowns(d).persist()
    t.span("store.bm25.delete")(Bm25IndexStore.deleteFromBm25Index(down, bm25))
    t.span("store.dedup.delete")(DedupIndexStore.deleteFromDedupIndex(down, dedup))
    t.span("store.ann.delete")(IndexStore.deleteFromIndex(down.select(col("doc_id").as("vec_id")), ann))
    down.unpersist()
    delivered = d + 1
    docs
  }

  def compact(): Unit = {
    t.span("store.bm25.compact")(Bm25IndexStore.compactBm25Index(spark, bm25))
    t.span("store.dedup.compact")(DedupIndexStore.compactDedupIndex(spark, dedup))
    t.span("store.ann.compact")(IndexStore.compactIvfIndex(spark, ann))
  }

  /** The live corpus after the deliveries so far, from the ground truth:
    * base + admitted delivered documents − takedowns. */
  def live(): DataFrame = {
    import spark.implicits._
    val truth = new ObjectMapper().readTree(new File(s"$in/truth.json")).get("deliveries")
      .elements().asScala.take(delivered).toSeq
    def ids(key: String) = truth.flatMap(_.get(key).elements().asScala.map(_.asLong)).toDF("doc_id")
    val (admitted, downIds) = (ids("admitted"), ids("takedowns"))
    val rows = spark.read.schema(docSchema).json((0 until delivered).map(delivery(_).getPath): _*)
    base.union(rows.join(admitted, Seq("doc_id"), "left_semi"))
      .join(downIds, Seq("doc_id"), "left_anti")
  }

  /** Live document count of each store under `root` (default: the stores
    * being fed), from its `describe*`. */
  def liveCounts(root: String = dir): Map[String, Any] = {
    val bd = Bm25IndexStore.describeBm25Index(spark, s"$root/bm25").first()
    val dd = DedupIndexStore.describeDedupIndex(spark, s"$root/dedup").first()
    val ad = IndexStore.describeIvfIndex(spark, s"$root/ann").agg(sum("n_codes"), sum("n_tombstoned")).first()
    Map(
      "bm25_live" -> (bd.getAs[Long]("n_docs") - bd.getAs[Long]("n_tombstones")),
      "dedup_live" -> (dd.getAs[Long]("n_docs") - dd.getAs[Long]("n_tombstoned")),
      "ann_live" -> (ad.getLong(0) - ad.getLong(1)))
  }

  def parquetFiles(root: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty
    walk(new File(root))
  }

  /** Parquet files per store and their total bytes on disk. */
  def footprint(): Map[String, Any] = Map(
    "store_bytes" -> Seq(bm25, dedup, ann).flatMap(parquetFiles).map(_.length).sum,
    "store_files" -> Map("bm25" -> parquetFiles(bm25).size, "dedup" -> parquetFiles(dedup).size,
      "ann" -> parquetFiles(ann).size))
}
