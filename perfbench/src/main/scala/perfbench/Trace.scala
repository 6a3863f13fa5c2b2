package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Cumulative Spark job, stage and task counters from a `SparkListener`,
  * plus the wall-clock interval of every job (for driver idle time). */
final class SparkCounters extends SparkListener {
  val names: Seq[String] = Seq("jobs", "stages", "tasks", "failed_tasks", "exec_run_ms",
    "exec_cpu_ms", "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "gc_ms", "output_bytes")
  private val v = new Array[Double](names.length)
  private val open = mutable.Map.empty[Int, Long]
  val jobs = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    v(0) += 1; open(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { v(1) += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    v(2) += 1
    if (e.taskInfo.failed) v(3) += 1
    val m = e.taskMetrics
    if (m != null) {
      v(4) += m.executorRunTime
      v(5) += m.executorCpuTime / 1e6
      v(6) += m.inputMetrics.bytesRead
      v(7) += m.shuffleReadMetrics.totalBytesRead
      v(8) += m.shuffleWriteMetrics.bytesWritten
      v(9) += m.memoryBytesSpilled + m.diskBytesSpilled
      v(10) += m.jvmGCTime
      v(11) += m.outputMetrics.bytesWritten
    }
  }
  def snapshot(): Array[Double] = synchronized(v.clone())
}

/** Cumulative micro-batch phases from a `StreamingQueryListener`;
  * `state_rows` is a gauge: the latest state-row total of each query. */
final class StreamCounters extends StreamingQueryListener {
  val names: Seq[String] =
    Seq("batches", "add_batch_ms", "planning_ms", "wal_commit_ms", "state_commit_ms", "state_rows")
  private val v = new Array[Double](names.length - 1)
  private val rows = mutable.Map.empty[java.util.UUID, Long]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    v(0) += 1
    v(1) += d("addBatch")
    v(2) += d("queryPlanning")
    v(3) += d("walCommit") + d("commitOffsets")
    v(4) += p.stateOperators.map(_.commitTimeMs.toDouble).sum
    rows(p.id) = p.stateOperators.map(_.numRowsTotal).sum
  }
  def snapshot(): Array[Double] = synchronized(v :+ rows.values.sum.toDouble)
}

/** Texts encoded and encoder busy time, summed over every thread that
  * calls the registered embedder (task threads and hybrid leg threads). */
object EmbedCounters {
  val texts = new AtomicLong()
  val busyNanos = new AtomicLong()
}

/** The embedder under `id`, wrapped to count calls into [[EmbedCounters]].
  * Outputs are the wrapped model's, unchanged. */
final class CountingEmbedder(inner: graft.embed.EmbeddingModel) extends graft.embed.EmbeddingModel {
  def dim: Int = inner.dim
  override def maxSeqLen: Int = inner.maxSeqLen
  def countTokens(text: String): Int = inner.countTokens(text)
  def encodeBatch(texts: Seq[String]): Seq[Array[Float]] = {
    val t0 = System.nanoTime()
    try inner.encodeBatch(texts)
    finally {
      EmbedCounters.busyNanos.addAndGet(System.nanoTime() - t0)
      EmbedCounters.texts.addAndGet(texts.size.toLong)
    }
  }
}

/** Spans around the benchmark's calls into the program. With tracing off
  * [[span]] only runs its body; with tracing on, spans are recorded while
  * `active` (the timed loop), not during setup, warm-up or checks.
  *
  * A span holds its name, parent, operation id, wall-clock interval and the
  * change of every counter over it; counters are read after draining the
  * listener bus. Spans stay in memory until [[write]]. */
final class Tracer(spark: SparkSession, enabled: Boolean) {
  var active = false
  private var op = -1
  private val sc = new SparkCounters
  private val st = new StreamCounters
  if (enabled) {
    spark.sparkContext.addSparkListener(sc)
    spark.streams.addListener(st)
  }
  private val originMs = System.currentTimeMillis().toDouble
  private val originNs = System.nanoTime()
  /** Wall-clock milliseconds, on the same clock as listener job times. */
  def nowMs(): Double = originMs + (System.nanoTime() - originNs) / 1e6

  private final case class Open(id: Int, t0: Double, c0: Array[Double],
      attrs: mutable.LinkedHashMap[String, Any])
  private var stack = List.empty[Open]
  private var nextId = 0
  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]

  def beginOp(i: Int): Unit = op = i

  private var ownNanos = 0L
  /** Time spent recording spans (counter reads, listener-bus drains and
    * span records), the part of a traced run's time tracing adds. */
  def ownMs: Double = ownNanos / 1e6

  private def counters(): Array[Double] = {
    org.apache.spark.perfbench.BusFlush(spark.sparkContext)
    sc.snapshot() ++ st.snapshot() ++
      Array(EmbedCounters.texts.get.toDouble, EmbedCounters.busyNanos.get / 1e6)
  }
  private val counterNames: Seq[String] =
    sc.names ++ st.names.map("stream." + _) ++ Seq("embed.texts", "embed.busy_ms")

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val s0 = System.nanoTime()
      val c0 = counters()
      val started = Open(nextId, nowMs(), c0, mutable.LinkedHashMap.empty)
      ownNanos += System.nanoTime() - s0
      nextId += 1
      val parent = stack.headOption.map(_.id)
      stack = started :: stack
      try body
      finally {
        val s1 = System.nanoTime()
        val t1 = nowMs()
        val c1 = counters()
        stack = stack.tail
        val delta = counterNames.indices.collect {
          case k if c1(k) != started.c0(k) || counterNames(k) == "stream.state_rows" =>
            counterNames(k) -> (if (counterNames(k) == "stream.state_rows") c1(k) else c1(k) - started.c0(k))
        }.toMap
        spans += Map("id" -> started.id, "parent" -> parent.getOrElse(-1), "name" -> name,
          "op" -> op, "t0" -> started.t0, "t1" -> t1, "c" -> delta, "a" -> started.attrs.toMap)
        ownNanos += System.nanoTime() - s1
      }
    }

  /** Attach a value to the innermost open span (traced operations only). */
  def note(key: String, value: Any): Unit =
    if (active) stack.headOption.foreach(_.attrs(key) = value)

  /** Spans and job intervals, one JSON object per line. */
  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      spans.foreach(s => w.println(Json(s + ("type" -> "span"))))
      sc.synchronized(sc.jobs.toList).foreach { case (a, b) =>
        w.println(Json(Map("type" -> "job", "t0" -> a, "t1" -> b)))
      }
    } finally w.close()
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case a: Array[_] => apply(a.toSeq)
    case (a, b) => apply(Seq(a, b))
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
