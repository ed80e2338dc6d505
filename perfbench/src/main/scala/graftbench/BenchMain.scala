package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `gen` writes the seeded PDF corpus and its
  * manifest, in a JVM of its own so that the run's first set-up finds
  * a fresh JVM. `run` sets the session up several times, measures warm
  * iterations for the given seconds and checks every output. It writes
  * `result.json` (and, traced, `spans.json`) into the work directory;
  * `run.py` prints the final line.
  *
  * {{{
  * graftbench.BenchMain <gen|run> <workload> <seed> <seconds> <trace 0|1> <workDir> <tablesDir>
  * }}}
  */
object BenchMain {

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  def main(argv: Array[String]): Unit = {
    val Array(mode, workload, seedS, secondsS, traceS, workS, tablesS) = argv
    val work = Paths.get(workS).toAbsolutePath
    val corpus = work.resolve("input").resolve("corpus")
    if (mode == "gen") {
      Corpus.write(seedS.toLong, corpus)
      return
    }
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val nproc = Runtime.getRuntime.availableProcessors()
    val wl: Workload = workload match {
      case "pdf_stats" | "pdf_ingest" =>
        new PdfWorkload(workload == "pdf_ingest", corpus, Corpus.read(corpus), work.resolve("sink"))
      case "operator_mix" =>
        new MixWorkload(Paths.get(tablesS).toAbsolutePath, work.resolve("oracle"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val gc = new GcLog

    var attempted = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    /** Runs and checks one iteration; returns its wall seconds. */
    def iterate(spark: SparkSession, tap: Tap): Double = {
      attempted += 1
      val t0 = System.nanoTime()
      val (dt, verdict) =
        try {
          tap("workload")(wl.iteration(spark, tap))
          val dt = (System.nanoTime() - t0) / 1e9
          (dt, wl.check(spark))
        } catch {
          case e: Exception => ((System.nanoTime() - t0) / 1e9, Some(e.toString))
        }
      failures ++= verdict
      dt
    }

    // Set-up: session start plus the cold iteration (which builds the
    // artifacts) over emptied artifact, warehouse and sink dirs. The
    // first one is what a one-shot graft.Main user pays in a fresh JVM;
    // the others repeat it after stopping the session.
    var spark: SparkSession = null
    var trace: Option[Trace] = None
    val setupS = mutable.ArrayBuffer.empty[Double]
    val buildS = mutable.ArrayBuffer.empty[Double]
    for (_ <- 0 until Setups) {
      if (spark != null) spark.stop()
      for (d <- Seq("artifacts", "warehouse", "sink")) Dirs.empty(work.resolve(d))
      val t0 = System.nanoTime()
      spark = Session.start(work, nproc)
      val sessionS = (System.nanoTime() - t0) / 1e9
      trace = if (traced) Some(new Trace(spark.sparkContext, Session.artifactRoots(work))) else None
      trace.foreach(_.start())
      setupS += sessionS + iterate(spark, NoTap)
      trace.foreach { t => t.drain(); buildS += t.takeArtifactWrites()._2; t.stop() }
    }

    val warmupS = (0 until wl.warmup).map(_ => iterate(spark, NoTap))

    // Timed iterations. A traced run follows each one with a traced
    // iteration and the layer probes.
    val times = mutable.ArrayBuffer.empty[Double]
    val timedSpans = mutable.ArrayBuffer.empty[(Long, Long)]
    val tracedTimes = mutable.ArrayBuffer.empty[Double]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    var builtInTimed = 0L
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var it = 0
    while (it == 0 || System.nanoTime() < deadline) {
      val start = gc.now
      times += iterate(spark, NoTap)
      timedSpans += ((start, gc.now))
      for (t <- trace) {
        t.start()
        val (wall, layer, built) = tracedIteration(spark, t, wl, it, nproc, iterate)
        tracedTimes += wall
        layers += layer
        builtInTimed += built
        t.stop()
      }
      it += 1
    }
    if (builtInTimed > 0)
      failures += s"$builtInTimed artifact builds during timed iterations; set-up should have built them"
    val liveMb = gc.maxLiveMb(timedSpans.toSeq)

    val p50 = Stats.median(times.toSeq)
    val (tailQ, tail) = Stats.tail(times.toSeq)
    val metrics: Seq[(String, Double)] =
      if (!traced) Seq(
        "setup_s" -> Stats.median(setupS.toSeq),
        "run_s_p50" -> p50,
        "run_s_tail" -> tail)
      else
        layers.flatMap(_.keys).distinct.sorted.toSeq.map(k => k -> Stats.median(layers.flatMap(_.get(k)).toSeq)) ++
          Seq(
            "sources.artifact_store.build_s" -> Stats.median(buildS.toSeq),
            "sources.artifact_store.built_in_timed" -> builtInTimed.toDouble,
            "jvm.cold_setup_s" -> setupS.head,
            "jvm.live_heap_mb" -> liveMb,
            "trace.overhead_s" -> (Stats.median(tracedTimes.toSeq) - p50))
    val extra = Seq(
      "run_s_tail_percentile" -> Json.num(tailQ),
      "live_heap_mb" -> Json.num(liveMb),
      "samples" -> times.size.toString,
      "run_s_each" -> times.map(Json.num).mkString("[", ", ", "]"),
      "cold_setup_s" -> Json.num(setupS.head),
      "setup_s_each" -> setupS.map(Json.num).mkString("[", ", ", "]"),
      "warmup_s_each" -> warmupS.map(Json.num).mkString("[", ", ", "]"),
      "pages_per_s" -> Json.num(wl.inputPages / p50),
      "input_mb_per_s" -> Json.num(wl.inputBytes / 1e6 / p50),
      "input_bytes" -> wl.inputBytes.toString,
      "input_pages" -> wl.inputPages.toString)
    val env = Seq(
      "nproc" -> nproc.toString,
      "java" -> Json.str(s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}"),
      "spark" -> Json.str(spark.version),
      "manifest_sha256" -> Json.str(wl.manifestSha256))
    spark.stop()
    trace.foreach(t => Files.write(work.resolve("spans.json"), Trace.spansJson(t.spans.toSeq).getBytes(UTF_8)))

    val json = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "trace" -> traceS,
      "attempted" -> attempted.toString,
      "failed" -> failures.size.toString,
      "failures" -> failures.take(5).map(Json.str).mkString("[", ", ", "]"),
      "metrics" -> Json.obj(metrics.map { case (k, v) => k -> Json.num(v) }),
      "extra" -> Json.obj(extra),
      "env" -> Json.obj(env)))
    Files.write(work.resolve("result.json"), (json + "\n").getBytes(UTF_8))
  }

  /** One traced iteration plus its layer probes. Returns the
    * iteration's wall seconds, its per-layer metrics and the number of
    * artifact builds it caused.
    */
  private def tracedIteration(spark: SparkSession, t: Trace, wl: Workload, it: Int, nproc: Int,
      iterate: (SparkSession, Tap) => Double): (Double, Map[String, Double], Long) = {
    t.drain(); t.takeAll(); t.takeArtifactWrites()
    val tap = new SpanTap(t, it)
    val (root, wall) = t.span("iteration", -1, it) { id =>
      tap.parent = id
      (id, iterate(spark, tap))
    }
    t.drain()
    // the check's jobs run outside any group and are dropped here
    val groups = t.takeAll().filter { case (g, _) => g == "workload" || g.startsWith("ext.") }
    val iter = groups.values.foldLeft(new GroupStats)(_ merge _)
    val built = t.takeArtifactWrites()._1
    val spans = t.spans.filter(_.iteration == it).toVector
    val w = spans.find(_.name == "workload").get.seconds
    tap.parent = root
    val probe = t.span("probes", root, it) { pid =>
      tap.parent = pid
      wl.probes(spark, t, tap, iter)
    }
    val ext = Workloads.Mix.flatMap { q =>
      groups.get(s"ext.$q").toSeq.flatMap { g =>
        Seq(s"ext.$q.wall_s" -> spans.find(_.name == s"ext.$q").map(_.seconds).getOrElse(0.0),
          s"ext.$q.shuffle_bytes" -> g.shuffleBytes.toDouble,
          s"ext.$q.task_skew" -> g.taskSkew,
          s"ext.$q.stages" -> g.stages.toDouble)
      }
    }
    val layer = Workloads.LayerZeros ++ probe ++ ext ++ Map(
      "spark.jobs" -> iter.jobs.toDouble,
      "spark.stages" -> iter.stages.toDouble,
      "spark.tasks" -> iter.tasks.toDouble,
      "spark.task_s" -> iter.taskS,
      "spark.cpu_util" -> iter.cpuNs / 1e9 / (w * nproc),
      "spark.gc_s" -> iter.gcMs / 1e3,
      "spark.shuffle_bytes" -> iter.shuffleBytes.toDouble,
      "spark.spill_bytes" -> iter.spillBytes.toDouble,
      "spark.task_skew" -> iter.taskSkew,
      "spark.driver_gap_s" -> (w - iter.jobUnionS))
    (wall, layer, built)
  }
}

/** Records a span per layer call and files its jobs under the layer's group. */
final class SpanTap(t: Trace, iteration: Int) extends Tap {
  var parent: Int = -1
  def apply[T](layer: String)(body: => T): T = {
    val outer = parent
    t.span(layer, outer, iteration) { id =>
      parent = id
      try t.inGroup(layer)(body) finally parent = outer
    }
  }
}

/** Heap occupancy right after each collection, from the JVM's own GC
  * notifications; no collection is ever forced.
  */
final class GcLog {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  /** (end of the collection in ms since JVM start, heap bytes in use after it) */
  private val after = mutable.ArrayBuffer.empty[(Long, Long)]
  private val listener: NotificationListener = (n, _) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
      val used = info.getMemoryUsageAfterGc.asScala.collect { case (p, u) if heapPools(p) => u.getUsed }.sum
      synchronized(after += ((info.getEndTime, used)))
    }
  ManagementFactory.getGarbageCollectorMXBeans.asScala
    .foreach(_.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))

  /** ms since JVM start, the clock of the GC notifications */
  def now: Long = ManagementFactory.getRuntimeMXBean.getUptime

  /** Largest occupancy after a collection that ended inside one of `spans`, in MB. */
  def maxLiveMb(spans: Seq[(Long, Long)]): Double = synchronized {
    after.collect { case (t, b) if spans.exists { case (s, e) => s <= t && t <= e } => b }
      .maxOption.getOrElse(0L) / 1048576.0
  }
}

object Session {
  def artifactRoots(work: Path): Seq[String] =
    Seq(work.resolve("artifacts").toString, work.resolve("warehouse").toString)

  /** graft.Main's session, with every scratch location inside `work`. */
  def start(work: Path, nproc: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.artifactDir", work.resolve("artifacts").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

object Dirs {
  def empty(p: Path): Unit = {
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toVector.reverse.foreach(Files.delete)
    Files.createDirectories(p)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest percentile with at least ten samples above it, and
    * its value; the median when there are fewer than twenty samples.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val n = xs.size
    if (n < 20) (50.0, median(xs))
    else {
      val s = xs.sorted
      val q = math.floor(100.0 * (n - 10) / n)
      val idx = math.ceil(q / 100.0 * n).toInt - 1
      (q, s(math.max(0, math.min(n - 1, idx))))
    }
  }
}
