package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for suites (one per suite via lazy val). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(cores = 4, appName = getClass.getSimpleName)

  def scratchDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-test-$tag-").toString

  /** Action names (`isEmpty`, `collect`, `command`, ...) of the SQL
    * executions `f` runs in this session or in a session cloned from it
    * after this call, such as a stream's micro-batches.
    */
  def actionsRunBy(f: => Unit): Seq[String] = executionsRunBy(f).map(_._1)

  /** The SQL executions (action name, query execution) `f` runs, as in
    * [[actionsRunBy]]. Listener events arrive asynchronously on one
    * shared queue, so tagged marker actions run before and after `f`
    * bound what is counted: executions reported before the first marker
    * ended before `f` started, and once the second is reported, so is
    * every execution of `f`.
    */
  def executionsRunBy(f: => Unit): Seq[(String, QueryExecution)] = {
    val tag = java.util.UUID.randomUUID().toString
    val (start, end) = (s"$tag-start", s"$tag-end")
    var started = false // read and set on the listener bus's thread only
    val seenRuns = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    val marked = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      private def seen(funcName: String, qe: QueryExecution): Unit = {
        val plan = qe.logical.toString
        if (plan.contains(start)) started = true
        else if (plan.contains(end)) marked.countDown()
        else if (started) seenRuns.add(funcName -> qe)
      }
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen(funcName, qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        seen(funcName, qe)
    }
    spark.listenerManager.register(listener)
    try {
      spark.range(1).select(lit(start)).collect()
      f
      spark.range(1).select(lit(end)).collect()
      assert(marked.await(30, TimeUnit.SECONDS), "marker execution never reported")
      seenRuns.asScala.toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  /** The number of Spark jobs `f` starts, SQL or not (a schema-inferring
    * file read runs its job outside any SQL execution). Marker jobs
    * named by their description bound the count, as the marker actions
    * of [[executionsRunBy]] do.
    */
  def jobsStartedBy(f: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val (start, end) = (s"$tag-start", s"$tag-end")
    var started = false // read and set on the listener bus's thread only
    val jobs = new AtomicInteger()
    val marked = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))) match {
          case Some(`start`) => started = true
          case Some(`end`) => marked.countDown()
          case _ => if (started) jobs.incrementAndGet()
        }
    }
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      marker(start)
      f
      marker(end)
      assert(marked.await(30, TimeUnit.SECONDS), "marker job never reported")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}
