package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One closed-loop operation's outcome: the items it processed (documents
  * or queries) and what the checks need to judge it. */
final case class OpResult(items: Long, obs: Map[String, Any] = Map.empty)

/** A workload: state built in setup, then one operation at a time from a
  * single client thread, then the observations its checks compare against
  * ground truth. The checks themselves run in `run.py`, after the timed loop. */
trait Workload {
  /** Operations per cycle of the workload's fixed mix; a run ends on a
    * cycle boundary, so every run holds the same mix. */
  def cycle: Int
  def kind(i: Int): String
  /** Build the state operations run against; repetition `rep` builds into
    * its own directories, and the last one built is the one measured. */
  def setup(rep: Int): Unit
  /** Lets caches fill and code generation finish on the measured state
    * before the timed loop; timed on its own, not part of setup. */
  def warmup(): Unit
  def op(i: Int): OpResult
  def observations(): Map[String, Any]
}

/** Runs one workload for a fixed time and writes the raw record:
  * `--workload W --input DIR --work DIR --seconds S --trace 0|1 --out FILE`,
  * on `local[Cpus]` with `Cpus` shuffle partitions.
  * The record holds setup times, every operation's latency and result, the
  * observations, peak RSS and (traced) the span file. Metrics and checks
  * are derived from it by `run.py`. */
object Main {
  /** Setups per run; `setup_s` is their median. The first one also pays
    * cold code generation, so the median of two is their mean. */
  val SetupReps = 2
  val Cpus = 4

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = o("work")
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val model = graft.embed.TransformerModel.FixtureModelId
    if (trace)
      graft.embed.EmbedderRegistry.register(model, new CountingEmbedder(graft.embed.TransformerModel.fixture()))
    val tracer = new Tracer(spark, trace)
    val prepStart = System.nanoTime()
    val wl: Workload = o("workload") match {
      case "corpus" => new Corpus(spark, o("input"), work, tracer)
      case "serve" => new Serve(spark, o("input"), work, tracer)
      case "ingest" => new Ingest(spark, o("input"), work, tracer)
    }
    val prepareS = (System.nanoTime() - prepStart) / 1e9

    val setupS = (0 until SetupReps).map { r =>
      val s = System.nanoTime(); wl.setup(r); (System.nanoTime() - s) / 1e9
    }
    val warmS = { val s = System.nanoTime(); wl.warmup(); (System.nanoTime() - s) / 1e9 }
    val liveWarmMb = liveHeapMb()

    // Closed loop, one client, whole cycles, at least one.
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val loopStart = System.nanoTime()
    tracer.active = trace
    var i = 0
    while ((System.nanoTime() - loopStart) / 1e9 < seconds || i == 0 || i % wl.cycle != 0) {
      tracer.beginOp(i)
      val kind = wl.kind(i)
      val start = tracer.nowMs()
      val s = System.nanoTime()
      val (res, err) =
        try (tracer.span("op." + kind)(wl.op(i)), null)
        catch { case e: Throwable => (OpResult(0L), e.toString) }
      val ms = (System.nanoTime() - s) / 1e6
      ops += Map("i" -> i, "kind" -> kind, "ms" -> ms, "t0" -> start, "items" -> res.items,
        "traced" -> tracer.active, "error" -> err, "obs" -> res.obs)
      i += 1
    }
    val loopS = (System.nanoTime() - loopStart) / 1e9
    tracer.active = false
    val liveLoopMb = liveHeapMb()

    val checksStart = System.nanoTime()
    val obs =
      try wl.observations()
      catch { case e: Throwable => Map[String, Any]("error" -> e.toString) }
    val checksS = (System.nanoTime() - checksStart) / 1e9

    val spansPath = s"$work/spans.jsonl"
    if (trace) tracer.write(spansPath)
    val record = Map(
      "workload" -> o("workload"),
      "session_start_s" -> sessionS,
      "prepare_s" -> prepareS,
      "setup_s" -> setupS,
      "warmup_s" -> warmS,
      "loop_s" -> loopS,
      "checks_s" -> checksS,
      "ops" -> ops,
      "obs" -> obs,
      "peak_rss_mb" -> peakRssMb(),
      "heap_mb" -> heapMb,
      "live_heap_mb" -> math.max(liveWarmMb, liveLoopMb),
      "trace_own_ms" -> tracer.ownMs,
      "spans" -> (if (trace) spansPath else null))
    val w = new java.io.PrintWriter(o("out"), "UTF-8")
    try w.println(Json(record)) finally w.close()
    spark.stop()
  }

  private def heapMb: Double =
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / 1048576.0

  /** Heap in use after a full collection, in MB: what the program retains
    * (caches, persisted blocks, plans). Called outside the timed loop. The
    * second collection frees the broadcast and shuffle blocks Spark's
    * context cleaner drops once the first one has cleared their owners. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}
