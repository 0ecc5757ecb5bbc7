package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** Per-layer Spark accounting, registered by the benchmark (not the engine).
  *
  * Attribution: [[LayerTrace.in]] runs a block under the job group
  * `perfbench:<layer>` and sets the local property `perfbench.layer`. The
  * property is an inheritable thread-local, so jobs submitted by threads the
  * engine starts inside the call (the suffix-pass thread, processBatch's
  * `inParallel` chains, broadcast exchanges) still carry it even where the
  * engine replaces the job group. Inside processBatch the chain a job
  * belongs to is read from the engine's own job description
  * (`incr chain <name>`).
  */
final class LayerTrace(sc: SparkContext) extends SparkListener {
  import LayerTrace._

  final class Acc {
    var wallNs = 0L
    var jobs = 0
    var taskMs = 0L
    var cpuNs = 0L
    var failed = 0
    var shufWrite = 0L
    var shufRead = 0L
    var spill = 0L
    var rows = 0L
    val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  }

  private val accs = mutable.LinkedHashMap.empty[String, Acc]
  private val stageLayer = mutable.Map.empty[Int, String]
  /** (layer, description, startMs, endMs) of every job, keyed by job id. */
  private val jobSpans = mutable.Map.empty[Int, (String, String, Long, Long)]

  def acc(layer: String): Acc = synchronized(accs.getOrElseUpdate(layer, new Acc))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val layer = props.flatMap(p => Option(p.getProperty(LayerProp))).getOrElse(Untraced)
    val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    acc(layer).jobs += 1
    e.stageIds.foreach(stageLayer(_) = layer)
    jobSpans(e.jobId) = (layer, desc, e.time, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpans.get(e.jobId).foreach { case (l, d, s, _) => jobSpans(e.jobId) = (l, d, s, e.time) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageLayer.getOrElse(e.stageId, Untraced))
    val info = e.taskInfo
    if (e.reason != Success) a.failed += 1
    if (info != null) {
      a.taskMs += info.duration
      a.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += info.duration
    }
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
      a.shufWrite += m.shuffleWriteMetrics.bytesWritten
      a.shufRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.diskBytesSpilled
    }
  }

  /** Wait until every posted event has reached this listener. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Run `f` as (part of) `layer`: its wall time and every Spark job it
    * submits are charged to the layer.
    */
  def in[A](layer: String)(f: => A): A = {
    sc.setJobGroup(s"perfbench:$layer", layer, interruptOnCancel = false)
    sc.setLocalProperty(LayerProp, layer)
    val t0 = System.nanoTime()
    try f
    finally {
      val dt = System.nanoTime() - t0
      acc(layer).wallNs += dt
      sc.setLocalProperty(LayerProp, null)
      sc.clearJobGroup()
    }
  }

  /** Per-chain spans of the jobs a layer started between two driver
    * timestamps (ms): chain name → (first job start, last job end).
    */
  def chainSpans(layer: String, fromMs: Long, toMs: Long): Map[String, (Long, Long)] = synchronized {
    jobSpans.values
      .filter { case (l, _, s, _) => l == layer && s >= fromMs && s <= toMs }
      .groupBy { case (_, d, _, _) => chainOf(d) }
      .map { case (c, js) => c -> (js.map(_._3).min, js.map(_._4).max) }
  }

  /** The per-layer metrics every layer reports, named `<layer>.<metric>`. */
  def metrics(layer: String, cores: Int): Seq[(String, Double)] = synchronized {
    val a = acc(layer)
    val wall = a.wallNs / 1e9
    val task = a.taskMs / 1e3
    // skew: max ÷ median task time in the layer's heaviest stage (the stage
    // with the most task time) — the stage a straggler actually delays
    val heaviest = a.stageTasks.values.filter(_.nonEmpty).maxByOption(_.sum)
    val skew = heaviest.map { ts =>
      val s = ts.sorted
      val med = math.max(1L, s(s.size / 2))
      s.last.toDouble / med
    }.getOrElse(1.0)
    Seq(
      "wall_s" -> wall,
      "task_s" -> task,
      "cpu_s" -> a.cpuNs / 1e9,
      "slot_idle" -> (if (wall > 0) 1.0 - task / (wall * cores) else 1.0),
      "jobs" -> a.jobs.toDouble,
      "failed_tasks" -> a.failed.toDouble,
      "shuffle_write_mb" -> a.shufWrite / MB,
      "shuffle_read_mb" -> a.shufRead / MB,
      "spill_mb" -> a.spill / MB,
      "skew" -> skew,
      "rows_out" -> a.rows.toDouble)
      .map { case (k, v) => s"$layer.$k" -> v }
  }
}

object LayerTrace {
  val LayerProp = "perfbench.layer"
  val Untraced = "untraced"
  val MB = 1024.0 * 1024.0

  /** processBatch's concurrent state chains and their nested sub-chains
    * (IncrementalDedup.inParallel names each as `incr chain <name>`).
    */
  private val ChainOf = Map(
    "lsh" -> "lsh", "sigs.write" -> "lsh", "bands.write" -> "lsh",
    "bcounts.write" -> "lsh", "lsh.pairs" -> "lsh",
    "suffix" -> "suffix", "toks.write" -> "suffix", "grams.write" -> "suffix",
    "gcounts.write" -> "suffix", "sfx.pairs" -> "suffix",
    "exact" -> "exact")

  def chainOf(desc: String): String =
    if (!desc.startsWith("incr chain ")) "prep"
    else ChainOf.getOrElse(desc.stripPrefix("incr chain "), "other")
}
