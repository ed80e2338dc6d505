package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** Shared local SparkSession for specs (small parallelism — the specs
  * run on tiny data; sf-scale runs go through graft.Bench).
  */
trait SparkTestBase extends BeforeAndAfterAll { self: Suite =>

  lazy val spark: SparkSession = SparkTestBase.session

  override def afterAll(): Unit = super.afterAll()

  /** Call sites of the jobs `body` starts on this thread. */
  def jobsDuring(body: => Unit): List[String] = sparkRunDuring(body).jobs

  /** What `body` runs on Spark from this thread, counted in its own job
    * group once the listener bus has drained: its jobs, stages, tasks and
    * shuffle bytes, and the SQL executions it starts.
    */
  def sparkRunDuring(body: => Unit): SparkTestBase.SparkRun = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
      SparkListenerTaskEnd}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val sc = spark.sparkContext
    val group = s"jobs-during-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val tasks = new java.util.concurrent.atomic.AtomicInteger()
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong()
    val sqlExecutions = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.add(e.stageInfos.map(_.name).mkString("; "))
          e.stageIds.foreach(stages.add)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId)) {
          tasks.incrementAndGet()
          Option(e.taskMetrics).foreach(m =>
            shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(group) =>
          sqlExecutions.incrementAndGet()
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
    } finally {
      org.apache.spark.ListenerDrain(sc)
      sc.removeSparkListener(listener)
    }
    SparkTestBase.SparkRun(jobs.toArray(Array.empty[String]).toList, stages.size,
      tasks.get, shuffleBytes.get, sqlExecutions.get)
  }
}

object SparkTestBase {

  /** Per job, the names of its stages; over all jobs, the stages, the
    * tasks that ended and the shuffle bytes they wrote; and the SQL
    * executions started.
    */
  final case class SparkRun(
      jobs: List[String], stages: Int, tasks: Int, shuffleBytes: Long, sqlExecutions: Int)

  lazy val session: SparkSession = GraftSession.start(4,
    // fresh artifact root per test JVM: durable index artifacts must not
    // leak across sbt runs (stale formats would shadow the code under test)
    "spark.graft.artifactDir" ->
      java.nio.file.Files.createTempDirectory("graft-artifacts-test").toString,
    // and a fresh warehouse: saved tables (bucketed layouts, published
    // indexes) must not pile up in the checkout's spark-warehouse/
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse-test").toString)
}
