package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.dedup.DedupIndexStore
import graft.similarity.{Bm25IndexStore, IndexStore}

/** `ingest`: deliveries land as JSON-lines files in a directory; each one
  * drains through the streaming curation gate and exact dedup into the
  * BM25, dedup and ANN stores, then its takedown list is tombstoned in all
  * three (see [[LiveStores]]). Every [[CompactEvery]]th delivery also
  * compacts the three stores. One operation is one delivery, timed from the
  * file landing to all three stores serving it. Delivery 0 lands in the
  * warm-up. */
final class Ingest(spark: SparkSession, in: String, work: String, t: Tracer) extends Workload {
  import spark.implicits._

  val CompactEvery = 2
  private val stores = new LiveStores(spark, in, work, t)
  import stores.{ann, bm25, dedup, embedded}

  def cycle: Int = CompactEvery
  def kind(i: Int): String = if ((i + 1) % CompactEvery == 0) "delivery_compact" else "delivery"

  def setup(rep: Int): Unit = stores.build(s"$work/ingest-$rep")

  def warmup(): Unit = stores.deliver(0)

  def op(i: Int): OpResult = {
    val d = i + 1
    val docs = stores.deliver(d)
    if (d % CompactEvery == 0) stores.compact()
    OpResult(docs, Map("delivery" -> d))
  }

  /** Store state after the run, and the same figures from a one-shot build
    * over the final live corpus (base + admitted deliveries − takedowns, as
    * the ground truth lists them). The one-shot ANN index reuses the live
    * index's centroids and codebooks, so served neighbours must match. */
  def observations(): Map[String, Any] = {
    val live = stores.live().persist()
    val one = s"$work/oneshot"
    Bm25IndexStore.writeBm25Index(live, s"$one/bm25")
    DedupIndexStore.writeDedupIndex(live, s"$one/dedup")
    val (cents, cbs) = IndexStore.readIvfArtifacts(spark, ann)
    IndexStore.writeIvfPqIndex(embedded(live), s"$one/ann", coarseCentroids = cents, residCodebooks = cbs)

    // sampled serves on both: BM25 terms from the first live documents,
    // dedup probes and ANN queries from the same documents under fresh ids
    val sample = live.orderBy("doc_id").limit(4).collect().map(r => (r.getLong(0), r.getString(1)))
    def serves(b: String, d: String, a: String): Map[String, Any] = {
      val lex = sample.toSeq.map { case (_, text) =>
        val ws = text.split(" ").distinct
        Bm25IndexStore.serveBm25TopK(spark, b, Seq(ws(0), ws(ws.length / 2), ws.last).distinct, k = 10, roundTo = 6)
          .select("doc_id", "score").collect().map(r => Seq[Any](r.getLong(0), r.getDouble(1))).toSeq
      }
      val probes = sample.toSeq.map { case (id, text) => (id + 1000000000L, text) }.toDF("doc_id", "text")
      val near = DedupIndexStore.probeDedupIndex(probes, d).select("id_new", "id_indexed", "est_jaccard")
        .collect().map(r => Seq[Any](r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_.take(2).mkString(",")).toSeq
      val q = embedded(sample.toSeq.map { case (id, text) => (-id, text) }.toDF("doc_id", "text"))
      val nn = IndexStore.serveIvfPqTopK(q, a, k = 10).select("query_id", "neighbor_id", "rank")
        .collect().map(r => Seq(r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_.mkString(",")).toSeq
      Map("bm25" -> lex, "dedup" -> near, "ann" -> nn)
    }
    val out = Map(
      "delivered" -> stores.delivered,
      "store" -> stores.liveCounts(),
      "oneshot" -> stores.liveCounts(one),
      "store_serves" -> serves(bm25, dedup, ann),
      "oneshot_serves" -> serves(s"$one/bm25", s"$one/dedup", s"$one/ann")) ++ stores.footprint()
    live.unpersist()
    out
  }
}
