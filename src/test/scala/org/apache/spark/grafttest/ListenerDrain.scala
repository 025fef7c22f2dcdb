package org.apache.spark.grafttest

import org.apache.spark.SparkContext

/** Test-only bridge to the private[spark] listener bus: lets specs drain
  * pending listener events so job-count assertions aren't racy (events are
  * delivered on async queue threads; without a drain, a previous action's
  * JobStart can leak into a freshly attached listener, or a just-finished
  * action's events can be counted late). */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000)

  /** `body`'s result and the Spark jobs it started, counted between two
    * drains. */
  def jobsDuring[A](sc: SparkContext)(body: => A): (A, Int) = {
    val (result, jobs, _) = jobsAndStagesDuring(sc)(body)
    (result, jobs)
  }

  /** `body`'s result, the Spark jobs it started and the stages those jobs
    * submitted (a stage skipped for reuse is not submitted). */
  def jobsAndStagesDuring[A](sc: SparkContext)(body: => A): (A, Int, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onStageSubmitted(
          s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit = {
        stages.incrementAndGet(); ()
      }
    }
    drain(sc)
    sc.addSparkListener(listener)
    try {
      val result = body
      drain(sc)
      (result, jobs.get(), stages.get())
    } finally sc.removeSparkListener(listener)
  }

  /** `body`'s result and the SQL executions it started
    * (`SparkListenerSQLExecutionStart` events, a temp-view command
    * included), counted between two drains. */
  def sqlExecutionsDuring[A](sc: SparkContext)(body: => A): (A, Int) = {
    val executions = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          executions.incrementAndGet(); ()
        case _ => ()
      }
    }
    drain(sc)
    sc.addSparkListener(listener)
    try {
      val result = body
      drain(sc)
      (result, executions.get())
    } finally sc.removeSparkListener(listener)
  }
}
