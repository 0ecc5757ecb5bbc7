package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Dedup, DedupPipeline}
import graft.cc.ConnectedComponents
import graft.conf.DedupConfig
import graft.ingest.Ingest
import graft.lsh.{Banding, CandidatePairs}
import graft.streaming.IncrementalDedup
import graft.suffix.SuffixPass
import graft.verify.Verifier

/** The benchmark's JVM entry point: one JVM, one workload, one seed.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *   perfbench.Main --corpus <workload> --seed <n>   (print corpus properties only)
  *
  * Metric runs (`--trace 0`) time the workload's operation in a closed loop
  * with one caller until `--seconds` have passed and report medians; traced
  * runs (`--trace 1`) compose the pipeline from the layer functions under a
  * [[LayerTrace]] listener and report per-layer metrics. The last stdout
  * line is the result object; every output check that fails counts as a
  * failed operation and makes the exit code nonzero.
  */
object Main {

  val DefaultSeed = 1L

  /** Workload shapes (why each, in perfbench/README.md). Sizes keep one
    * iteration (lazy + staged run) near 20 s on a 4-core box while each
    * workload's intended layers still carry most of the work.
    */
  val Shapes: Map[String, Shape] = Map(
    "near_dup_heavy" -> Shape(docs = 4000, meanTokens = 54, families = 250, familySize = 10,
      hotFamilies = 1, hotSize = 600, exactShare = 0.1, containShare = 0.0,
      batches = 8),
    "long_docs" -> Shape(docs = 2000, meanTokens = 1600, families = 167, familySize = 4,
      hotFamilies = 0, hotSize = 0, exactShare = 0.2, containShare = 0.3,
      batches = 8))

  /** Cluster digest (count, bit_xor of xxhash64(doc_id, cluster_id)) of
    * every workload at [[DefaultSeed]].
    */
  val Pinned: Map[String, (Long, Long)] = Map(
    "near_dup_heavy" -> (4000L, -7882841367361371402L),
    "long_docs" -> (2000L, 7289870925813593327L))

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String)

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    a.get("corpus") match {
      case Some(w) =>
        val c = Corpus.generate(w, Shapes(w), a.get("seed").map(_.toLong).getOrElse(DefaultSeed))
        println(Json.obj(c.stats))
      case None =>
        val o = Opts(a("workload"), a("seed").toLong, a("seconds").toInt, a("trace") == "1", a("work"))
        require(Shapes.contains(o.workload), s"unknown workload ${o.workload}")
        val ok = new Bench(o).run()
        sys.exit(if (ok) 0 else 1)
    }
  }
}

/** Failure accounting: an operation fails if it throws or any of its checks fails. */
final class Tally {
  var attempted = 0
  var failed = 0
  val problems = mutable.ArrayBuffer.empty[String]

  /** Run one operation; `f` returns the list of failed checks. */
  def op(name: String)(f: => Seq[String]): Unit = {
    attempted += 1
    val bad =
      try f
      catch { case e: Throwable => Seq(s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    if (bad.nonEmpty) { failed += 1; problems ++= bad.take(3) }
  }
}

final class Bench(o: Main.Opts) {
  import Main._

  private val cores = Runtime.getRuntime.availableProcessors()
  private val cfg = DedupConfig.default
  private val shape = Shapes(o.workload)
  private val work = new File(o.work).getAbsoluteFile
  private val tally = new Tally
  private val info = mutable.LinkedHashMap.empty[String, Any]
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      // the engine's default session settings — the ones graft.Bench sets
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def now = System.nanoTime()
  private def secs(t0: Long) = (System.nanoTime() - t0) / 1e9
  private def path(name: String) = new File(work, name).getPath

  private def median(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Highest percentile with ≥ 10 samples beyond it, or the max. */
  private def tail(xs: Seq[Double]): (String, Double) = if (xs.isEmpty) ("max", Double.NaN) else {
    val s = xs.sorted
    val n = s.size
    val p = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).find(p => n * (100 - p) / 100 >= 10)
    p match {
      case Some(q) => (s"p$q", s(math.min(n - 1, math.ceil(n * q / 100).toInt - 1)))
      case None => ("max", s.last)
    }
  }

  private def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
    f.delete()
  }

  private def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(du).sum).getOrElse(0L) else f.length()

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst { case l if l.startsWith("VmHWM:") =>
      l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  type Digest = (Long, Long)

  private def digest(clusters: DataFrame): Digest = {
    val r = clusters.agg(count(lit(1)), bit_xor(xxhash64(col("doc_id"), col("cluster_id")))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def corpusDf(dirs: Seq[String]): DataFrame =
    spark.read.parquet(dirs: _*).select(Ingest.CorpusCols.map(col): _*)

  // ---------------------------------------------------------------- inputs

  private var corpus: Corpus = _
  private def batchDir(i: Int) = path(s"input/batch=$i")
  /** The whole corpus is the union of the micro-batch inputs. */
  private def inputDirs = (0 until shape.batches).map(batchDir)
  /** The traced stream feeds the first [[StreamBatches]] slices. */
  private val StreamBatches = 4
  private def streamDirs = (0 until StreamBatches).map(batchDir)

  /** Generate the corpus and write every parquet input before any timing:
    * one job, one file per micro-batch slice (`input/batch=<i>`).
    */
  private def makeInputs(): Unit = {
    import spark.implicits._
    corpus = Corpus.generate(o.workload, shape, o.seed)
    corpus.docs.zipWithIndex
      .map { case (d, i) => (d.repo, d.path, d.commit, d.lang, d.content, i / shape.batchSize) }
      .toDF((Ingest.CorpusCols :+ "batch"): _*)
      .repartition(col("batch"))
      .write.mode("overwrite").partitionBy("batch").parquet(path("input"))
  }

  // ------------------------------------------------------------ operations

  /** Lazy batch pipeline until clusters and candidates are materialized. */
  private def lazyRun(dirs: Seq[String] = inputDirs): (Double, Digest) = {
    val t0 = now
    val res = DedupPipeline.run(spark, Ingest.ingest(corpusDf(dirs)), cfg)
    val d = digest(res.clusters)
    res.candidatePairs.count()
    res.release()
    val wall = secs(t0)
    res.t1.unpersist(blocking = true)
    (wall, d)
  }

  private var stagedRuns = 0

  /** Staged executor into a fresh work dir (a reused one would resume). */
  private def stagedRun(): (Double, Digest, Long) = {
    val wd = new File(work, s"staged-$stagedRuns"); stagedRuns += 1
    val t0 = now
    val r = Dedup.run(spark, corpusDf(inputDirs), wd.getPath, cfg, inputId = corpus.digest)
    val d = digest(r.clusters)
    val wall = secs(t0)
    val bytes = du(wd)
    rm(wd)
    (wall, d, bytes)
  }

  final case class Pass(batchWalls: Seq[Double], compact: Double, query: Double, digest: Digest,
      stateBytes: Long, windows: Seq[(Long, Long)])

  /** One stream over a fresh state dir: every micro-batch through
    * processBatch, compactState after a middle batch (never the newest),
    * then the clusters query.
    */
  private def streamPass(tr: LayerTrace): Pass = {
    val state = new File(work, "state")
    def layer[A](f: => A): A = tr.in("streaming")(f)
    val compactAfter = StreamBatches / 2
    val walls = mutable.ArrayBuffer.empty[Double]
    val windows = mutable.ArrayBuffer.empty[(Long, Long)]
    var compact = 0.0
    (0 until StreamBatches).foreach { b =>
      val w0 = System.currentTimeMillis()
      val t0 = now
      layer(IncrementalDedup.processBatch(spark, corpusDf(Seq(batchDir(b))), state.getPath, cfg,
        collectStats = false))
      walls += secs(t0)
      windows += w0 -> System.currentTimeMillis()
      if (b == compactAfter) {
        val c0 = now
        layer(IncrementalDedup.compactState(spark, state.getPath))
        compact = secs(c0)
      }
    }
    val q0 = now
    val d = tr.in("query")(digest(IncrementalDedup.clusters(spark, state.getPath, cfg)))
    val query = secs(q0)
    val bytes = du(state)
    rm(state)
    Pass(walls.toSeq, compact, query, d, bytes, windows.toSeq)
  }

  // ----------------------------------------------------------------- runs

  /** Reference digest every operation must reproduce. */
  private var reference: Digest = _

  private def checkDigest(what: String, d: Digest): Seq[String] =
    if (d == reference) Nil else Seq(s"$what digest $d != reference $reference")

  def run(): Boolean = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    rm(work); work.mkdirs()
    spark.range(1).count() // session ready
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val gen = (0 until 3).map { _ => val t0 = now; makeInputs(); secs(t0) }
    val s0 = now
    setupChecks()
    val setup = sessionS + median(gen) + secs(s0)
    info("corpus") = corpus.stats
    info("cores") = cores
    info("workload") = o.workload
    info("seed") = o.seed
    info("setup_parts_s") = Map("session" -> sessionS, "generate_median" -> median(gen),
      "reference" -> secs(s0))

    if (o.trace) traced() else measured(setup)

    info("problems") = tally.problems.toSeq
    println("perfbench-info " + Json.obj(info.toSeq))
    val correct = tally.failed == 0
    println(Json.result(correct, tally.attempted, tally.failed, metrics.toSeq))
    spark.stop()
    rm(work)
    correct
  }

  /** Reference digest and pinned-digest check. The reference run is also
    * the lazy path's untimed warm-up; the staged path is timed from its
    * first call in the JVM, as a staged CLI invocation runs.
    */
  private def setupChecks(): Unit = {
    tally.op("reference") {
      val (_, d) = lazyRun()
      reference = d
      info("digest") = Seq(d._1, d._2)
      Pinned.get(o.workload).filter(_ => o.seed == DefaultSeed) match {
        case Some(p) if p != d => Seq(s"pinned digest $p != $d at the default seed")
        case _ => Nil
      }
    }
  }

  /** Closed loop, one caller: lazy run then staged run, until the time is up. */
  private def measured(setup: Double): Unit = {
    val lazyW, stagedW = mutable.ArrayBuffer.empty[Double]
    val deadline = now + o.seconds * 1000000000L
    var iters = 0
    while (iters == 0 || now < deadline) {
      iters += 1
      tally.op("lazy") { val (w, d) = lazyRun(); lazyW += w; checkDigest("lazy", d) }
      tally.op("staged") { val (w, d, _) = stagedRun(); stagedW += w; checkDigest("staged", d) }
    }
    metrics("setup_s") = (setup, "s")
    metrics("dedup_wall_s") = (median(lazyW.toSeq), "s")
    metrics("staged_wall_s") = (median(stagedW.toSeq), "s")
    metrics("peak_rss_mb") = (peakRssMb(), "MB")
    info("samples") = Map("setup_s" -> 3, "dedup_wall_s" -> lazyW.size,
      "staged_wall_s" -> stagedW.size, "peak_rss_mb" -> 1)
    info("walls_s") = Map("dedup" -> lazyW.toSeq, "staged" -> stagedW.toSeq)
    info("tails_s") = Map("dedup" -> tail(lazyW.toSeq), "staged" -> tail(stagedW.toSeq))
  }

  // ---------------------------------------------------------------- trace

  /** The batch pipeline composed from the layer functions in
    * DedupPipeline.run's order, sequentially (no suffix thread), every
    * output materialized inside its layer so each layer is timed from the
    * call (several calls run jobs before returning), not from its first
    * action.
    */
  private def composed(tr: LayerTrace): (Digest, Map[String, Double]) = {
    val cached = mutable.ArrayBuffer.empty[DataFrame]
    /** Persist and count `build` inside `layer`; `main` marks the layer's output. */
    def stage(layer: String, main: Boolean = false)(build: => DataFrame): (DataFrame, Long) =
      tr.in(layer) {
        val d = build.persist()
        cached += d
        val n = d.count()
        if (main) tr.acc(layer).rows += n
        (d, n)
      }
    val withEst = Seq("a", "b", "est_jaccard", "src")

    val (t1, nT1) = stage("ingest")(Ingest.ingest(corpusDf(inputDirs)))
    val (t1d, nReps) = stage("ingest", main = true)(DedupPipeline.distinctByContent(t1))
    val (sigs, _) = stage("kernel", main = true)(DedupPipeline.signatures(spark, t1d, cfg))
    val (bands, _) = stage("lsh")(Banding.bandRows(sigs, cfg))
    val (pairs, stop) = tr.in("lsh")(CandidatePairs.generateJoin(spark, bands, cfg))
    val (lshPairs, nCand) = stage("lsh", main = true)(pairs)
    val repsBySha = t1d.select(col("content_sha256"), col("doc_id").as("rep"))
    val (exact, _) = stage("lsh")(CandidatePairs.exactPairsFromReps(t1, repsBySha))
    val (suffix, nSfx) = stage("suffix", main = true)(
      SuffixPass.containmentPairs(spark, t1d, cfg).select(col("a"), col("b"), col("src")))
    val (lshVerified, nVer) = stage("verify", main = true)(
      Verifier.verifyLshPairs(lshPairs, sigs, cfg))
    val (verified, _) = stage("lsh")(CandidatePairs.strongestWithEst(lshVerified
      .unionByName(exact.withColumn("est_jaccard", lit(1.0d)).select(withEst.map(col): _*))
      .unionByName(suffix.withColumn("est_jaccard", lit(1.0d)).select(withEst.map(col): _*))))
    stage("lsh")(CandidatePairs.strongest(lshPairs.unionByName(exact).unionByName(suffix)))
    val repEdges = verified.where(col("src") =!= "exact").select("a", "b")
    val (mapping, _) = stage("cc")(ConnectedComponents.run(spark, repEdges))
    val (clusters, _) = stage("cc", main = true)(
      DedupPipeline.attachMembersVia(t1, mapping, repsBySha))
    val d = digest(clusters)

    // counters, outside every layer
    val nEdges = repEdges.count()
    val hotGroups = bands.groupBy("band", "band_hash").count()
      .where(col("count") > cfg.maxBandSize).count()
    val nStop = stop.count()
    cached.foreach(_.unpersist(blocking = true))
    (d, Map(
      "ingest.distinct_ratio" -> nReps.toDouble / nT1,
      "lsh.candidates_per_doc" -> nCand.toDouble / nReps,
      "lsh.hot_groups" -> hotGroups.toDouble,
      "lsh.stop_bands" -> nStop.toDouble,
      "verify.pass_rate" -> (if (nCand > 0) nVer.toDouble / nCand else 1.0),
      "suffix.pairs_per_doc" -> nSfx.toDouble / nReps,
      "cc.edges_in" -> nEdges.toDouble,
      // ConnectedComponents.run finishes on the driver iff the edge list
      // fits its default maxLocalEdges (5M)
      "cc.local_finish" -> (if (nEdges <= 5000000L) 1.0 else 0.0)))
  }

  private val Layers = Seq("ingest", "kernel", "lsh", "verify", "suffix", "cc", "streaming", "io")

  private def traced(): Unit = {
    val tr = new LayerTrace(spark.sparkContext)
    spark.sparkContext.addSparkListener(tr)
    // untraced reference wall (tracing off) for trace.gap_s and io.overhead_s
    var dedupWall = 0.0
    tally.op("lazy")({ val (w, d) = lazyRun(); dedupWall = w; checkDigest("lazy", d) })
    val extra = mutable.LinkedHashMap.empty[String, Double]
    tally.op("traced") {
      val (d, ex) = composed(tr)
      extra ++= ex
      checkDigest("traced composition", d)
    }
    tally.op("staged") {
      val (w, d, bytes) = tr.in("io")(stagedRun())
      tr.acc("io").rows += d._1
      extra("io.bytes_written_mb") = bytes / LayerTrace.MB
      extra("io.overhead_s") = w - dedupWall
      checkDigest("staged", d)
    }
    tally.op("stream") {
      // the stream's own untimed batch reference (StreamingSpec's property)
      val (_, streamRef) = lazyRun(streamDirs)
      val streamed = (0 until StreamBatches).flatMap(corpus.batch)
      val p = streamPass(tr)
      tr.drain()
      tr.acc("streaming").rows += streamed.size
      val spans = p.windows.map { case (f, t) => tr.chainSpans("streaming", f, t) }
      def chain(c: String) = spans.map(_.get(c).map { case (s, e) => (e - s) / 1e3 }.getOrElse(0.0)).sum
      val chainWindow = spans.map { m =>
        val cs = m.filter(_._1 != "prep").values
        if (cs.isEmpty) 0.0 else (cs.map(_._2).max - cs.map(_._1).min) / 1e3
      }.sum
      extra("streaming.chain_lsh_s") = chain("lsh")
      extra("streaming.chain_suffix_s") = chain("suffix")
      extra("streaming.chain_exact_s") = chain("exact")
      extra("streaming.prep_s") = p.batchWalls.sum - chainWindow
      extra("streaming.state_mb") = p.stateBytes / LayerTrace.MB
      extra("streaming.state_bytes_per_input_byte") =
        p.stateBytes.toDouble / streamed.map(_.content.getBytes(UTF_8).length.toLong).sum
      extra("streaming.batch_p50_s") = median(p.batchWalls)
      extra("streaming.batch_tail_s") = tail(p.batchWalls)._2 // max: < 10 samples beyond any percentile
      extra("streaming.docs_per_s") = streamed.size / p.batchWalls.sum
      extra("streaming.compact_s") = p.compact
      extra("streaming.query_s") = p.query
      if (p.digest == streamRef) Nil else Seq(s"stream digest ${p.digest} != batch $streamRef")
    }
    tr.drain()
    Layers.foreach(l => tr.metrics(l, cores).foreach { case (k, v) => metrics(k) = (v, unitOf(k)) })
    extra.foreach { case (k, v) => metrics(k) = (v, unitOf(k)) }
    val batchLayers = Seq("ingest", "kernel", "lsh", "verify", "suffix", "cc")
    metrics("trace.gap_s") = (batchLayers.map(tr.acc(_).wallNs / 1e9).sum - dedupWall, "s")
    info("untraced_dedup_wall_s") = dedupWall
  }

  private def unitOf(k: String): String = k.split('.').last match {
    case "docs_per_s" => "1/s"
    case s if s.endsWith("_s") => "s"
    case s if s.endsWith("_mb") => "MB"
    case "jobs" | "failed_tasks" | "rows_out" | "hot_groups" | "stop_bands" | "edges_in" => "count"
    case _ => "ratio"
  }
}
