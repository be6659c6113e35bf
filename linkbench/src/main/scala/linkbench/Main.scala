package linkbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.algo.{ConnectedComponents, LabelPropagation, PageRank, TriangleCount}
import graft.analytics.NetworkAnalytics
import graft.engine.PageRankOutcome
import graft.graph.LinkGraph
import graft.model.{Edge, PageRankConfig, RankChunk}
import graft.sources.RepoFiles
import graft.util.HostProbe

/** One benchmark process. It writes the seeded input, runs the workload
  * through the engine's public API, checks every output against
  * single-threaded references outside the timed regions, and prints one
  * `LINKBENCH {json}` line.
  *
  * Legs: `round` writes the input, runs two warm-up rounds (checked, not
  * reported; after one, every call is still 10-30% slower than it settles
  * to), then measured rounds until `--seconds` have
  * passed (at least one), and reports each value's median over them. A
  * traced run alternates traced and untraced rounds: the traced ones give
  * the values, and the difference of the two medians is the cost of
  * tracing. The `superstep` leg is a fresh 1-core process that builds the
  * same graph from the same input through the same call and measures
  * supersteps only: the other half of the scaling pair.
  */
object Main {

  final case class Args(
      workload: String,
      seed: Long,
      seconds: Double,
      trace: Boolean,
      cores: Int,
      work: String,
      spawnMs: Long,
      leg: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("cores").toInt, need("work"), need("spawn-ms").toLong, need("leg"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = Workload(a.workload)
    val load1Before = load1()
    val steal0 = HostProbe.stealSec()
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("linkbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.default.parallelism", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      // Spark keeps finished jobs, stages and queries for its status pages;
      // bounded, they stop the live heap from growing with the round count
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = System.currentTimeMillis()
    val runId = s"${a.workload}-${a.seed}-${a.leg}-c${a.cores}"
    val tracer = new Tracer(spark.sparkContext, runId, a.trace)
    val gatesBefore = Gates.snapshot()

    // set-up: the seeded input, written three times; the median counts
    val inputDir = s"${a.work}/input"
    val writeSecs =
      if (a.leg != "round") Nil
      else (0 until 3).map { i =>
        val dir = if (i == 2) inputDir else s"$inputDir-$i"
        val t0 = System.nanoTime()
        w.writeInput(spark, a.seed, dir)
        val s = (System.nanoTime() - t0) / 1e9
        if (dir != inputDir) deleteTree(new File(dir))
        s
      }
    val setupS = (sessionReadyMs - a.spawnMs) / 1000.0 + (if (writeSecs.isEmpty) 0.0 else median(writeSecs))

    val checks = new Checks
    val runner = new RoundRunner(spark, w, tracer, checks, inputDir, a)
    val measured = mutable.ArrayBuffer.empty[(Double, Map[String, Double])]
    // round walls of a traced run's untraced rounds
    val plain = mutable.ArrayBuffer.empty[Double]
    if (a.leg == "round") {
      runner.round()
      runner.round()
      val t0 = System.nanoTime()
      while (measured.isEmpty || (a.trace && plain.isEmpty) || (System.nanoTime() - t0) / 1e9 < a.seconds) {
        tracer.enabled = a.trace && (measured.size + plain.size) % 2 == 0
        val (sample, s) = tracer.timed("round")(runner.round())
        if (a.trace && !tracer.enabled) plain += s else measured += ((s, sample))
      }
      tracer.enabled = false
    } else measured += ((0.0, runner.supersteps()))
    val values = measured.flatMap(_._2.keys).distinct.map { k =>
      k -> median(measured.flatMap(_._2.get(k)).toSeq)
    }
    checks.expect("no engine gate was written", Gates.snapshot() == gatesBefore)
    val load1After = load1()
    val steal1 = HostProbe.stealSec()
    spark.stop() // drains the listener bus before spans are read
    val spans = tracer.finish()
    runner.cleanup()

    val record = Seq(
      "workload" -> Json.str(a.workload), "leg" -> Json.str(a.leg), "seed" -> a.seed.toString,
      "cores" -> a.cores.toString, "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "load1_before" -> Json.num(load1Before), "load1_after" -> Json.num(load1After),
      "steal_s" -> Json.num(if (steal0 < 0 || steal1 < 0) -1.0 else steal1 - steal0),
      "rounds" -> measured.size.toString,
      "round_s" -> Json.num(median(measured.map(_._1).toSeq)),
      "untraced_round_s" -> Json.num(median(plain.toSeq)),
      "input_write_s" -> Json.arr(writeSecs.map(Json.num)),
      "gates" -> Json.obj(gatesBefore.map { case (k, v) => k -> v.toString }))
    if (spans.nonEmpty) {
      val dir = new File(s"${a.work}/trace"); dir.mkdirs()
      Files.writeString(Paths.get(dir.getPath, s"$runId.jsonl"), tracer.jsonl(spans))
    }
    val layers = if (a.trace) Layers.of(spans) else Map.empty[String, Double]
    println("LINKBENCH " + Json.obj(Seq(
      "record" -> Json.obj(record),
      "setup_s" -> Json.num(setupS),
      "reference_s" -> Json.num(runner.referenceS),
      "values" -> Json.obj(values.map { case (k, v) => k -> Json.num(v) }),
      "round_values" -> Json.arr(measured.map(m => Json.obj(m._2.toSeq.map { case (k, v) => k -> Json.num(v) }))),
      "layers" -> Json.obj(layers.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "digests" -> Json.obj(runner.digests.toSeq.map { case (k, (exact, v)) =>
        k -> Json.obj(Seq("exact" -> exact.toString, "value" -> Json.str(v))) }),
      "attempted" -> checks.attempted.toString,
      "failed" -> checks.failures.size.toString,
      "failures" -> Json.arr(checks.failures.map(Json.str)))))
    System.exit(if (checks.failures.isEmpty) 0 else 1)
  }

  /** 1-minute load average, -1 when /proc is unavailable. */
  private def load1(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split("\\s+")(0).toDouble
      finally src.close()
    } catch { case _: Exception => -1.0 }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(treeBytes).sum).getOrElse(0L) else f.length
}

/** Peak heap of a round: the largest heap in use right after any garbage
  * collection in it, young or full, summed over all pools. Every collection
  * is seen through the collectors' notifications, so memory a call
  * allocates and drops inside itself counts whenever a collection runs while
  * it is held. Each round starts from two forced full collections, 100 ms
  * apart, outside every timed call: they clear the garbage the previous
  * round promoted to the old generation, and the heap in use after them is
  * the round's floor. A collection wakes Spark's cleaner thread, which then
  * deletes the shuffle files and blocks it found unreachable; the pause
  * keeps that work out of the first timed call.
  */
object HeapWatch {
  private val collectors = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private var peak = 0L
  /** JVM uptime (ms) at the round's start; earlier collections are ignored. */
  private var sinceMs = 0L
  /** Per collector, the number of its collections handled so far. */
  private val seen = mutable.HashMap.from(collectors.map(c => c.getName -> c.getCollectionCount))

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val gc = info.getGcInfo
        val used = gc.getMemoryUsageAfterGc.asScala.valuesIterator.map(_.getUsed).sum
        HeapWatch.synchronized {
          if (gc.getStartTime >= sinceMs) peak = math.max(peak, used)
          seen(info.getGcName) = math.max(seen.getOrElse(info.getGcName, 0L), gc.getId)
        }
      }
  }
  collectors.foreach(_.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))

  private def handled: Boolean = synchronized {
    collectors.forall(c => seen.getOrElse(c.getName, 0L) >= c.getCollectionCount)
  }

  /** Waits (up to 2 s) until the notification of every collection so far
    * has been handled.
    */
  private def await(): Unit = {
    val deadline = System.nanoTime() + 2000000000L
    while (!handled && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def reset(): Unit = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    await()
    synchronized {
      sinceMs = ManagementFactory.getRuntimeMXBean.getUptime
      peak = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
  }

  def peakMb: Double = {
    await()
    synchronized { peak / 1048576.0 }
  }
}

/** Correctness checks; each failed check counts in `failed`. */
final class Checks {
  var attempted = 0
  val failures = mutable.ArrayBuffer.empty[String]
  def expect(what: String, ok: Boolean): Unit = {
    attempted += 1
    if (!ok) failures += what
  }
}

/** The nine engine gates, read (never written) so the run record shows the
  * budget each operator's regime was chosen against, and so the run can
  * assert that the benchmark left them untouched.
  */
object Gates {
  def snapshot(): Seq[(String, Long)] = Seq(
    "LinkGraph.ResidentFoldRows" -> LinkGraph.ResidentFoldRows,
    "LinkGraph.ResidentBuildBytes" -> LinkGraph.ResidentBuildBytes,
    "LinkGraph.ResidentAssembleBytes" -> LinkGraph.ResidentAssembleBytes,
    "PageRankEngine.BroadcastThresholdBytes" -> graft.engine.PageRankEngine.BroadcastThresholdBytes,
    "PageRankEngine.LocalGatherBytes" -> graft.engine.PageRankEngine.LocalGatherBytes,
    "PageRankEngine.SlabBudgetBytes" -> graft.engine.PageRankEngine.SlabBudgetBytes,
    "ConnectedComponents.ResidentEdgeBytes" -> ConnectedComponents.ResidentEdgeBytes,
    "LabelPropagation.ResidentEdgeBytes" -> LabelPropagation.ResidentEdgeBytes,
    "TriangleCount.ResidentEdgeBytes" -> TriangleCount.ResidentEdgeBytes)
}

/** A seeded input and the public call that builds the graph from it. Sizes
  * are fixed here; the regime each operator takes follows from them alone.
  */
sealed trait Workload {
  def writeInput(spark: SparkSession, seed: Long, dir: String): Unit
  def build(spark: SparkSession, dir: String): LinkGraph
  /** Analytics and checkpoint phases run in each round. */
  def analytics: Boolean = true
  def pagerankTolerance: Double = 1e-6
  def pagerankMaxIterations: Int = 1000
  /** Superstep wall as the slope between the fastest PageRank calls of
    * these two lengths; None takes the fastest warm superstep of the
    * engine's own metrics, which are whole milliseconds and so only resolve
    * steps of tens of milliseconds and more. Interference from other tenants
    * only ever adds time.
    */
  def slope: Option[(Int, Int)]
}

object Workload {
  def apply(name: String): Workload = name match {
    case "repo_resident" => RepoResident
    case "dense_scaling" => DenseScaling
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** A repo-file catalog small enough that every operator stays in its
    * driver-resident regime. vocab stays at 1000: RepoFiles.table pads token
    * ids to three digits, so larger vocabularies are truncated by the
    * extraction regex (a known defect this workload neither hides nor
    * exercises).
    */
  object RepoResident extends Workload {
    val Repos = 600L
    def writeInput(spark: SparkSession, seed: Long, dir: String): Unit =
      RepoFiles.table(spark, numRepos = Repos, filesPerRepo = 10, vocab = 1000, seed = seed)
        .write.mode("overwrite").parquet(s"$dir/files")
    def files(spark: SparkSession, dir: String): DataFrame = spark.read.parquet(s"$dir/files")
    def build(spark: SparkSession, dir: String): LinkGraph =
      RepoFiles.linkGraph(spark, files(spark, dir), maxReposPerToken = 1000)
    val slope = Some((5, 805))
  }

  /** A pre-folded dense-id edge list with n above the vector-resident gate,
    * so PageRank takes the distributed zipPartitions superstep. Sources are
    * distinct ids spread over every block (an odd multiplier coprime to n
    * permutes the ids), so no pair repeats and every block sends.
    */
  object DenseScaling extends Workload {
    val Vertices = 8650000L
    val Edges = 1300000L
    val Blocks = 16
    override def analytics = false
    override def pagerankTolerance = 0.0
    override def pagerankMaxIterations = 8
    val slope = None
    def writeInput(spark: SparkSession, seed: Long, dir: String): Unit =
      spark.range(Edges)
        .select(
          pmod(col("id") * lit(2654435761L), lit(Vertices)).as("src"),
          pmod(xxhash64(col("id"), lit(seed)), lit(Vertices)).as("dst"),
          (pmod(xxhash64(col("id"), lit(seed + 1)), lit(3L)) + 1).cast("double").as("weight"))
        .write.mode("overwrite").parquet(s"$dir/edges")
    def build(spark: SparkSession, dir: String): LinkGraph = {
      import spark.implicits._
      LinkGraph.fromDenseWeighted(spark, spark.read.parquet(s"$dir/edges").as[Edge], Vertices, Blocks)
    }
  }
}

/** The timed calls of one round. Each is one span, forced through a
  * value-dependent reduction of its output whose result is kept as the
  * call's digest: integer outputs must repeat exactly across runs of a
  * seed, floating ones to 1e-9.
  */
final class RoundRunner(
    spark: SparkSession,
    w: Workload,
    tr: Tracer,
    checks: Checks,
    inputDir: String,
    a: Main.Args) {
  import spark.implicits._

  /** Wall of the single-threaded reference power iteration. */
  var referenceS = 0.0
  private var reference: Map[Int, Array[Double]] = null
  private var edges: LocalEdges = null
  val digests = mutable.LinkedHashMap.empty[String, (Boolean, String)]
  private val ckpt = new File(s"${a.work}/checkpoint")

  private def exact(name: String, df: DataFrame, cols: Column*): Unit = {
    val v = df.agg(sum(pmod(xxhash64(cols: _*), lit(1000003L)))).first()
    record(name, exact = true, (if (v.isNullAt(0)) 0L else v.getLong(0)).toString)
  }

  private def close(name: String, v: Double): Unit = record(name, exact = false, v.toString)

  /** Keeps a call's first digest; later rounds must reproduce it. */
  private def record(name: String, exact: Boolean, v: String): Unit = digests.get(name) match {
    case None => digests(name) = (exact, v)
    case Some((_, first)) =>
      val same = if (exact) first == v else math.abs(first.toDouble - v.toDouble) <= 1e-9 * math.abs(first.toDouble)
      checks.expect(s"$name digest repeats across rounds", same)
  }

  private def rankSum(g: LinkGraph, out: PageRankOutcome): Double =
    out.toVertexDf(g).agg(sum(col("value") * (pmod(col("vid"), lit(1021L)) + 1))).first().getDouble(0)

  private def ranksOf(g: LinkGraph, out: PageRankOutcome): Array[Double] = {
    val x = new Array[Double](g.numVertices.toInt)
    out.ranks.collect().foreach((c: RankChunk) => System.arraycopy(c.values, 0, x, c.loVid.toInt, c.values.length))
    x
  }

  private def checkRanks(what: String, x: Array[Double], want: Array[Double]): Unit = {
    checks.expect(s"$what ranks sum to 1", math.abs(x.sum - 1.0) < 1e-9)
    checks.expect(s"$what ranks allclose to the single-thread power iteration", Reference.allclose(x, want))
  }

  private def build(out: mutable.Map[String, Double])(call: => LinkGraph): LinkGraph = {
    val (g, s) = tr.timed("graph.build") {
      val g = call
      exact("graph.edges", g.edges.toDF(), col("src"), col("dst"), col("weight"))
      exact("graph.dictionary", g.vertexDict.toDF(), col("extId"), col("vid"))
      g
    }
    out("graph.build_s") = s
    out("graph.vertices") = g.numVertices.toDouble
    out("graph.edges") = g.numEdges.toDouble
    out("graph.blocks") = g.numBlocks.toDouble
    g
  }

  /** The first PageRank call on the graph, then the superstep measurement. */
  private def pagerank(g: LinkGraph, out: mutable.Map[String, Double]): PageRankOutcome = {
    val (pr, s) = tr.timed("engine.pagerank") {
      val o = PageRank.run(g, tolerance = w.pagerankTolerance, maxIterations = w.pagerankMaxIterations)
      close("engine.pagerank", rankSum(g, o))
      o
    }
    val steps = pr.metrics
    val warm = if (steps.size > 1) steps.tail else steps
    out("pagerank_s") = s
    out("engine.iterations") = pr.run.iterations.toDouble
    out("engine.pre_superstep_s") = s - steps.map(_.wallMs).sum / 1e3
    out("engine.superstep_ms.p50") = Main.median(warm.map(_.wallMs.toDouble))
    out("engine.superstep_ms.max") = warm.map(_.wallMs.toDouble).max
    out("engine.superstep_cpu_ms") = Main.median(warm.map(_.procCpuMs.toDouble))
    out("engine.superstep_gc_ms") = Main.median(warm.map(_.gcMs.toDouble))
    out("engine.superstep_shuffle_bytes") = Main.median(warm.map(_.shuffleWriteBytes.toDouble))
    out("engine.superstep_shuffle_rows") = Main.median(warm.map(_.shuffleWriteRows.toDouble))
    out("superstep_s") = w.slope match {
      case None => warm.map(_.wallMs).min / 1e3
      case Some((k1, k2)) =>
        def call(k: Int): Double = tr.timed(s"engine.supersteps_$k") {
          val o = PageRank.run(g, tolerance = 0.0, maxIterations = k)
          rankSum(g, o)
          o.free()
        }._2
        // each length's fastest call: one slowed call must not skew the slope
        val (t1, t2) = Seq.fill(3)((call(k1), call(k2))).unzip
        (t2.min - t1.min) / (k2 - k1)
    }
    out("superstep_eps") = g.numEdges / out("superstep_s")
    pr
  }

  /** The 1-core leg: the round leg's graph from its input, then PageRank
    * only. Its first PageRank call, two supersteps long, is a warm-up: it
    * assembles the adjacency, which the graph keeps, and the 4-core figure
    * it is divided by comes from a JVM past two warm-up rounds.
    */
  def supersteps(): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    val g = build(out)(w.build(spark, inputDir))
    PageRank.run(g, tolerance = 0.0, maxIterations = 2).free()
    pagerank(g, out).free()
    g.unpersistAll()
    out.toMap
  }

  def round(): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    HeapWatch.reset()
    w match {
      case rr: Workload.RepoResident.type =>
        out("sources.extract_s") = tr.timed("sources.extract") {
          val t = RepoFiles.repoTokens(rr.files(spark, inputDir))
          exact("sources.incidences", t, col("repo"), col("token"))
          out("sources.incidences") = t.agg(count(lit(1))).first().getLong(0).toDouble
        }._2
      case _ =>
    }
    val g = build(out)(w.build(spark, inputDir))
    out("graph.degrees_s") =
      if (!w.analytics) 0.0
      else tr.timed("graph.degrees") {
        exact("graph.degrees", g.degreeTable, col("vid"), col("inDeg"), col("outDeg"))
      }._2
    out("build_s") = out("graph.build_s") + out("graph.degrees_s")
    val pr = pagerank(g, out)

    // correctness, untimed; each round builds the same graph
    if (reference == null) {
      edges = LocalEdges.of(g)
      val t0 = System.nanoTime()
      reference = Reference.pageRank(edges, Seq(pr.run.iterations) ++ Seq(20).filter(_ => w.analytics))
      referenceS = (System.nanoTime() - t0) / 1e9
    }
    checks.expect("pagerank iterations match the first round", reference.contains(pr.run.iterations))
    reference.get(pr.run.iterations).foreach(checkRanks("pagerank", ranksOf(g, pr), _))
    pr.free()

    out("answer_s") = out("build_s") + out("pagerank_s")
    if (w.analytics) {
      out("analytics_s") = tr.timed("analytics") { analytics(g, edges, out) }._2
      out("answer_s") += out("analytics_s")
      checkpoint(g, reference(20), out)
    }
    g.unpersistAll()
    out("peak_heap_mb") = HeapWatch.peakMb
    out.toMap
  }

  private def analytics(g: LinkGraph, edges: LocalEdges, out: mutable.Map[String, Double]): Unit = {
    val (cc, ccS) = tr.timed("algo.cc") {
      val df = ConnectedComponents.run(g).persist()
      exact("algo.cc", df, col("vid"), col("label"))
      df
    }
    out("algo.cc_s") = ccS
    val want = Reference.components(edges)
    val got = new Array[Long](g.numVertices.toInt)
    cc.select(col("vid"), col("label")).as[(Long, Long)].collect().foreach { case (v, l) => got(v.toInt) = l }
    checks.expect("cc labels match union-find", got.indices.forall(i => got(i) == want(i)))
    cc.unpersist()

    out("algo.lpa_s") = tr.timed("algo.lpa") {
      exact("algo.lpa", LabelPropagation.run(g, 4), col("vid"), col("label"))
    }._2
    out("algo.triangles_s") = tr.timed("algo.triangles") {
      exact("algo.triangles", TriangleCount.perVertexTriangles(g), col("vid"), col("triangles"))
    }._2
    out("analytics.network_metrics_s") = tr.timed("analytics.network_metrics") {
      val row = NetworkAnalytics.networkMetrics(g).collect().head
      close("analytics.network_metrics", row.toSeq.map(_.toString.toDouble).sum)
    }._2
    val ((prior, risk), riskS) = tr.timed("algo.risk") {
      val prior = NetworkAnalytics.compositeRisk(g)
      val o = PageRank.propagateRisk(g, prior, tolerance = 0.0, maxIterations = 6)
      close("algo.risk", rankSum(g, o))
      (prior, o)
    }
    out("algo.risk_s") = riskS
    out("analytics.high_risk_s") = tr.timed("analytics.high_risk") {
      val hr = NetworkAnalytics.highRiskProviders(risk.toVertexDf(g), prior)
      val row = hr.agg(count(lit(1)).cast("double"), sum(col("risk_score")), sum(col("risk_percentile"))).first()
      close("analytics.high_risk", row.getDouble(0) + row.getDouble(1) + row.getDouble(2))
    }._2
    risk.free()
  }

  /** A checkpointed PageRank to 10 supersteps, then `resume` to 20. */
  private def checkpoint(g: LinkGraph, want20: Array[Double], out: mutable.Map[String, Double]): Unit = {
    val cfg = PageRankConfig(tolerance = 0.0, maxIterations = 20, checkpointDir = Some(ckpt.getPath))
    val (first, writeS) = tr.timed("engine.checkpoint_write") {
      val o = PageRank.run(g, tolerance = 0.0, maxIterations = 10, checkpointDir = Some(ckpt.getPath))
      close("engine.checkpoint", rankSum(g, o))
      o
    }
    // the engine's superstep walls exclude the snapshot commit
    out("engine.checkpoint_write_s") = writeS - first.metrics.map(_.wallMs).sum / 1e3
    first.free()
    out("engine.checkpoint_bytes") = Main.treeBytes(ckpt).toDouble
    val (resumed, resumeS) = tr.timed("engine.resume") {
      val o = PageRank.resume(g, cfg)
      close("engine.resume", rankSum(g, o))
      o
    }
    out("engine.resume_s") = resumeS
    out("checkpoint_s") = writeS + resumeS
    checks.expect("resume recomputes no checkpointed superstep", resumed.metrics.forall(_.superstep > 10))
    checkRanks("resumed", ranksOf(g, resumed), want20)
    resumed.free()
  }

  def cleanup(): Unit = Main.deleteTree(ckpt)
}

/** Counter-based layer metrics from the traced round's spans; 0 where the
  * workload does not make the call.
  */
object Layers {
  def of(spans: Seq[Span]): Map[String, Double] = {
    def med(name: String, counter: String): Double = {
      val xs = spans.filter(_.name == name).map(_.counters(counter))
      if (xs.isEmpty) 0.0 else Main.median(xs)
    }
    val out = mutable.LinkedHashMap.empty[String, Double]
    out("graph.build_jobs") = med("graph.build", "spark.jobs")
    out("graph.build_shuffle_bytes") = med("graph.build", "spark.shuffle_bytes")
    out("graph.build_task_cpu_s") = med("graph.build", "spark.executor_cpu_s")
    out("engine.pagerank_jobs") = med("engine.pagerank", "spark.jobs")
    out("engine.task_skew") = med("engine.pagerank", "spark.task_skew")
    for (op <- Seq("cc", "lpa", "triangles", "risk")) {
      out(s"algo.${op}_jobs") = med(s"algo.$op", "spark.jobs")
      out(s"algo.${op}_shuffle_bytes") = med(s"algo.$op", "spark.shuffle_bytes")
      out(s"algo.${op}_task_skew") = med(s"algo.$op", "spark.task_skew")
    }
    for (c <- Seq("jvm.gc_s", "jvm.driver_cpu_s", "spark.tasks", "spark.executor_cpu_s",
        "spark.spill_bytes", "host.steal_s"))
      out(c) = med("round", c)
    out.toMap
  }
}

/** Minimal JSON writer for the result line and the spans. */
object Json {
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Iterable[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
