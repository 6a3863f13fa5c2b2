package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.similarity.{Bm25, Bm25IndexStore, HybridSearch, IndexStore, Similarity}

/** `serve`: one client replays a Zipf-skewed operation log against live
  * stores (see [[LiveStores]]): a BM25 index and a document IVF-PQ index,
  * read by requests, plus the dedup store deliveries also feed.
  * Each cycle of the log is one delivery, then a per-call BM25 request, a
  * 16-query BM25 batch and a 16-query hybrid batch. A delivery first
  * compacts the stores, then lands the next delivery file and tombstones
  * its takedowns, so the requests read the state a live index sits in
  * between compactions: base, one appended delta and pending tombstones.
  * The last result of each read kind is kept for the checks, which re-run
  * the same queries on reference paths after the timed loop. */
final class Serve(spark: SparkSession, in: String, work: String, t: Tracer) extends Workload {
  import spark.implicits._

  val K = 10
  val RoundTo = 6
  private val stores = new LiveStores(spark, in, work, t)
  import stores.{Model, ann, bm25, embedded}

  // The query pool and the operation log, read on the driver: they are
  // the client's inputs, not data the program processes.
  private def jsonLines(file: String): Seq[JsonNode] = {
    val m = new ObjectMapper()
    val src = scala.io.Source.fromFile(s"$in/$file", "UTF-8")
    try src.getLines().map(l => m.readTree(l)).toVector finally src.close()
  }
  private def longs(n: JsonNode): Seq[Long] = n.elements().asScala.map(_.asLong).toSeq
  private val pool: Map[Long, (Seq[String], String)] = jsonLines("queries.jsonl").map { q =>
    q.get("qid").asLong -> (q.get("terms").elements().asScala.map(_.asText).toSeq, q.get("text").asText)
  }.toMap
  private final case class Request(kind: String, qids: Seq[Long], delivery: Int)
  private val requests: Array[Request] = jsonLines("requests.jsonl").sortBy(_.get("req").asLong).map { r =>
    Request(r.get("kind").asText, longs(r.get("qids")), r.get("delivery").asInt(-1))
  }.toArray

  /** The log repeats its kinds in cycles of this length. */
  def cycle: Int = 4
  def kind(i: Int): String = requests(i).kind

  def setup(rep: Int): Unit = stores.build(s"$work/serve-$rep")

  /** Delivery 0, then the per-call and hybrid requests of the log's last
    * cycle (the hybrid batch runs the BM25 batch path for its lexical leg).
    * Compaction is not warmed: the first one is part of the loop. */
  def warmup(): Unit = {
    stores.deliver(0)
    (requests.length - cycle until requests.length)
      .filter(i => kind(i) == "bm25_one" || kind(i) == "hybrid_batch").foreach(serve)
  }

  private def queryFrame(qids: Seq[Long]): DataFrame =
    qids.zipWithIndex.map { case (q, j) => (j.toLong, pool(q)._1, pool(q)._2) }
      .toDF("query_id", "terms", "text")

  /** Result rows of read request `i`, as `query_id, doc_id, score-or-rrf`. */
  private def serve(i: Int): Seq[Seq[Any]] = {
    val Request(kind, qids, _) = requests(i)
    def timed(build: => DataFrame): Array[Row] = {
      val df = t.span(s"similarity.$kind.construct")(build)
      t.span(s"similarity.$kind.action")(df.collect())
    }
    kind match {
      case "bm25_one" =>
        timed(Bm25IndexStore.serveBm25TopK(spark, bm25, pool(qids.head)._1, k = K, roundTo = RoundTo)
          .select("doc_id", "score"))
          .map(r => Seq[Any](0L, r.getLong(0), r.getDouble(1))).toSeq
      case "bm25_batch" =>
        timed(Bm25IndexStore.serveBm25TopKBatch(queryFrame(qids).select("query_id", "terms"), bm25,
          k = K, roundTo = RoundTo).select("query_id", "doc_id", "score"))
          .map(r => Seq[Any](r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      case "hybrid_batch" =>
        timed(HybridSearch.rrfServedBatch(queryFrame(qids), bm25, ann, Model, k = K)
          .select("query_id", "doc_id", "r_lex", "r_sem", "rrf"))
          .map(r => Seq(r.getLong(0), r.getLong(1), r.get(2), r.get(3), r.getDouble(4))).toSeq
    }
  }

  /** The last result of each read kind. The loop ends on a cycle boundary,
    * after the reads, so the stores still hold the state they were read in. */
  private val samples = mutable.LinkedHashMap.empty[String, (Int, Seq[Seq[Any]])]

  def op(i: Int): OpResult = requests(i) match {
    case Request("delivery", _, d) =>
      stores.compact()
      stores.deliver(d)
      OpResult(0L, Map("delivery" -> d))
    case Request(kind, qids, _) =>
      samples(kind) = i -> serve(i)
      OpResult(qids.size.toLong)
  }

  /** Per sampled request: the served rows and the reference rows.
    *  - BM25: in-session [[Bm25.search]] over the live corpus (base +
    *    admitted deliveries − takedowns); batches check their first 2 queries.
    *  - hybrid: per-call [[HybridSearch.rrfServed]] for the first query.
    *  - ANN: recall@K of the IVF-PQ serve against [[Similarity.bruteForceTopK]]
    *    over the live vectors, for 10 live documents' own vectors as queries
    *    (under negative ids, so neither path excludes the document itself).
    *  - stores: each store's live count, for the ground truth's. */
  def observations(): Map[String, Any] = {
    val live = stores.live().persist()
    val checks = samples.toSeq.flatMap { case (kind, (i, rows)) =>
      val qs = requests(i).qids.zipWithIndex.take(if (kind == "hybrid_batch") 1 else 2)
      qs.map { case (q, j) =>
        val (terms, text) = pool(q)
        val got = rows.filter(_.head == j.toLong).map(_.tail)
        val ref =
          if (kind == "hybrid_batch")
            HybridSearch.rrfServed(spark, bm25, ann, terms, text, Model, k = K)
              .select("doc_id", "r_lex", "r_sem", "rrf").collect()
              .map(r => Seq(r.getLong(0), r.get(1), r.get(2), r.getDouble(3))).toSeq
          else
            Bm25.search(live, "text", "doc_id", terms, k = K, roundTo = RoundTo)
              .select("doc_id", "score").collect().map(r => Seq[Any](r.getLong(0), r.getDouble(1))).toSeq
        Map("req" -> i, "kind" -> kind, "terms" -> terms, "got" -> got, "ref" -> ref)
      }
    }
    val liveVecs = embedded(live).persist()
    val qVecs = embedded(live.orderBy("doc_id").limit(10).select(-col("doc_id") as "doc_id", col("text")))
      .persist()
    def ids(df: DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val approx = ids(IndexStore.serveIvfPqTopK(qVecs, ann, k = K))
    val exact = ids(Similarity.bruteForceTopK(qVecs, liveVecs, k = K))
    val recall = exact.toSeq.map { case (q, e) => approx.getOrElse(q, Set.empty).intersect(e).size.toDouble / e.size }
    live.unpersist(); liveVecs.unpersist(); qVecs.unpersist()
    Map("results" -> checks, "ann_recall" -> recall.sum / math.max(recall.size, 1),
      "ann_queries" -> recall.size, "delivered" -> stores.delivered,
      "store" -> stores.liveCounts()) ++ stores.footprint()
  }
}
