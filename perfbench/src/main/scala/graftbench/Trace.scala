package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Spark-side counters of one job group, as the listener saw them. */
final class GroupStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskNs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var bytesRead = 0L
  var bytesWritten = 0L
  var recordsWritten = 0L
  /** (start, end) of each job, epoch ms */
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  /** stage id -> task durations, ms */
  val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  /** stage id -> submission-to-completion time, ms */
  val stageWall = mutable.Map.empty[Int, Long]

  def taskS: Double = taskNs / 1e9

  /** max/median task time of the stage with the longest wall time. */
  def taskSkew: Double =
    if (stageWall.isEmpty) 0.0
    else {
      val sid = stageWall.maxBy(_._2)._1
      val ts = stageTasks.getOrElse(sid, mutable.ArrayBuffer.empty[Long]).sorted
      if (ts.isEmpty) 0.0
      else ts.last.toDouble / math.max(1L, ts(ts.size / 2))
    }

  /** Length of the union of job spans, in seconds. */
  def jobUnionS: Double = Trace.unionLength(jobSpans.toSeq) / 1e3

  def merge(o: GroupStats): GroupStats = {
    val g = new GroupStats
    for (x <- Seq(this, o)) {
      g.jobs += x.jobs; g.stages += x.stages; g.tasks += x.tasks
      g.taskNs += x.taskNs; g.cpuNs += x.cpuNs; g.gcMs += x.gcMs
      g.shuffleBytes += x.shuffleBytes; g.spillBytes += x.spillBytes
      g.bytesRead += x.bytesRead; g.bytesWritten += x.bytesWritten
      g.recordsWritten += x.recordsWritten
      g.jobSpans ++= x.jobSpans
      g.stageTasks ++= x.stageTasks; g.stageWall ++= x.stageWall
    }
    g
  }
}

/** A timed region of one iteration; `parent` is the enclosing span's id. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
    parent: Int, iteration: Int) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** The traced run's instrument: a `SparkListener` that files every
  * job, stage and task under the job group the benchmark set around
  * the layer call that caused it, plus in-memory spans written out at
  * exit. Untraced runs never construct one.
  */
final class Trace(sc: SparkContext, artifactRoots: Seq[String]) extends SparkListener {
  private val groups = mutable.Map.empty[String, GroupStats]
  private val groupOfStage = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, (Long, String)]
  private val sqlStart = mutable.Map.empty[Long, Long]
  private var artifactWrites = 0L
  private var artifactWriteMs = 0L

  val spans = mutable.ArrayBuffer.empty[Span]

  def start(): Unit = sc.addSparkListener(this)
  def stop(): Unit = sc.removeSparkListener(this)

  /** Runs `body` with every Spark job it starts filed under `group`. */
  def inGroup[T](group: String)(body: => T): T = {
    val outer = Option(sc.getLocalProperty("spark.jobGroup.id"))
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body
    finally outer match {
      case Some(g) => sc.setJobGroup(g, g, interruptOnCancel = false)
      case None => sc.clearJobGroup()
    }
  }

  /** Times `body` as a span. */
  def span[T](name: String, parent: Int, iteration: Int)(body: Int => T): T = {
    val id = spans.synchronized(spans.size)
    spans.synchronized(spans += Span(id, name, System.nanoTime(), 0L, parent, iteration))
    try body(id)
    finally spans.synchronized(spans(id) = spans(id).copy(endNs = System.nanoTime()))
  }

  /** Blocks until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.BenchBridge.drainListeners(sc)

  /** Removes and returns the counters of `group`. */
  def take(group: String): GroupStats = synchronized(groups.remove(group).getOrElse(new GroupStats))

  /** Removes and returns the counters of every group. */
  def takeAll(): Map[String, GroupStats] = synchronized {
    val all = groups.toMap
    groups.clear()
    all
  }

  /** Removes and returns (count, seconds) of artifact writes seen. */
  def takeArtifactWrites(): (Long, Double) = synchronized {
    val r = (artifactWrites, artifactWriteMs / 1e3)
    artifactWrites = 0; artifactWriteMs = 0
    r
  }

  private def stats(group: String): GroupStats = groups.getOrElseUpdate(group, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("ungrouped")
    jobStart(e.jobId) = (e.time, g)
    e.stageIds.foreach(groupOfStage(_) = g)
    stats(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, g) => stats(g).jobSpans += ((t0, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val s = stats(groupOfStage.getOrElse(info.stageId, "ungrouped"))
    s.stages += 1
    for (a <- info.submissionTime; b <- info.completionTime) s.stageWall(info.stageId) = b - a
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stats(groupOfStage.getOrElse(e.stageId, "ungrouped"))
    s.tasks += 1
    s.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Long]) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.taskNs += m.executorRunTime * 1000000L
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
      s.bytesRead += m.inputMetrics.bytesRead
      s.bytesWritten += m.outputMetrics.bytesWritten
      s.recordsWritten += m.outputMetrics.recordsWritten
    }
  }

  /** SQL executions that write under an artifact root are artifact
    * (or published-layout) builds.
    */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart
        if artifactRoots.exists(r => s.physicalPlanDescription.contains(r)) &&
          s.physicalPlanDescription.contains("InsertInto") =>
      synchronized(sqlStart(s.executionId) = s.time)
    case x: SparkListenerSQLExecutionEnd => synchronized {
      sqlStart.remove(x.executionId).foreach { t0 =>
        artifactWrites += 1
        artifactWriteMs += x.time - t0
      }
    }
    case _ => ()
  }
}

object Trace {
  /** Length of the union of [start, end) intervals, in their unit. */
  def unionLength(spans: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- spans.sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: duration minus the union of its children. */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionLength(kids.getOrElse(s.id, Nil).map(k => (k.startNs / 1000, k.endNs / 1000)))
      s.id -> (s.seconds - covered / 1e6)
    }.toMap
  }

  def spansJson(spans: Seq[Span]): String = {
    val self = selfTimes(spans)
    spans.map { s =>
      f"""{"id": ${s.id}, "name": "${s.name}", "start_ns": ${s.startNs}, "end_ns": ${s.endNs}, """ +
        f""""parent": ${s.parent}, "iteration": ${s.iteration}, "self_s": ${self(s.id)}%.6f}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}
