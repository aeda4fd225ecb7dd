package org.apache.spark.graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import scala.jdk.CollectionConverters._

/** What a block of code started on a SparkContext: its jobs, and for each
  * of its SQL executions the long call site (submitting thread's stack) and
  * the physical plan descriptions (the one at the start and each adaptive
  * re-plan), plus the generated classes it compiled (Spark's codegen cache
  * misses; a process-wide count).
  */
final case class SparkEvents(jobs: Int, sqlCallSites: Seq[String], sqlPlans: Seq[String],
    codegenCompiles: Long)

object SparkEvents {

  private final class Recorder extends SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val sites = new ConcurrentLinkedQueue[String]()
    val plans = new ConcurrentLinkedQueue[String]()
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        sites.add(s.details); plans.add(s.physicalPlanDescription)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => plans.add(u.physicalPlanDescription)
      case _ =>
    }
  }

  /** Run `body` and return what it started. Listener delivery is
    * asynchronous, so Spark's (package-private) listener bus is drained
    * before the recorder is added and again before it is read.
    */
  def during[T](sc: SparkContext)(body: => T): (T, SparkEvents) = {
    sc.listenerBus.waitUntilEmpty(60000L)
    val r = new Recorder
    sc.addSparkListener(r)
    try {
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val out = body
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      sc.listenerBus.waitUntilEmpty(60000L)
      (out, SparkEvents(r.jobs.get(), r.sites.asScala.toSeq, r.plans.asScala.toSeq, compiles))
    } finally sc.removeSparkListener(r)
  }
}
