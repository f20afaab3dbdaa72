package graft

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The Spark jobs, tasks and SQL executions (a Dataset action's
  * `withNewExecutionId`, whether or not it runs a job) a block of driver
  * code starts.
  */
final case class SparkWork[A](jobs: Int, tasks: Int, result: A, sqlExecutions: Int = 0)

object SparkWork {

  private val seq = new java.util.concurrent.atomic.AtomicLong

  /** Run `body` on this thread under a fresh job group and count the jobs,
    * tasks and SQL executions started in that group (including jobs on helper threads
    * that inherit the group, such as file listing and broadcasts). The
    * listener bus is asynchronous but FIFO: once a marker job run AFTER
    * `body` has ended on the bus, every event of `body`'s jobs has been
    * delivered too, so the counts are exact rather than "quiet for a
    * while".
    */
  def apply[A](sc: SparkContext)(body: => A): SparkWork[A] = {
    val group = s"spark-work-${seq.incrementAndGet()}"
    val marker = s"$group-marker"
    val l = new SparkListener {
      var jobs = 0
      var tasks = 0
      var sqls = 0
      val stages = mutable.Set.empty[Int]
      val markerJobs = mutable.Set.empty[Int]
      @volatile var drained = false
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs += 1; stages ++= e.stageIds
          case Some(`marker`) => markerJobs += e.jobId
          case _ => ()
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        if (stages.contains(e.stageId)) tasks += 1
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(group) =>
          synchronized(sqls += 1)
        case _ => ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        if (markerJobs.contains(e.jobId)) drained = true
      }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, group)
      val result = try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!l.drained && System.nanoTime() < deadline) Thread.sleep(5)
      require(l.drained, "listener bus did not deliver the marker job")
      l.synchronized(SparkWork(l.jobs, l.tasks, result, l.sqls))
    } finally sc.removeSparkListener(l)
  }
}
