package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Counts the Spark jobs a block of code runs. */
object JobCount {

  /** Spark jobs run by `f` whose call site holds `frame` (every job when
    * `frame` is empty) — read off the job's own call site, or, for
    * adaptive stages submitted from a pool thread, off its SQL
    * execution's. */
  def jobsUnder(spark: SparkSession, frame: String)(f: => Unit): Int = {
    val sc = spark.sparkContext
    val execSites = TrieMap.empty[String, String]
    val hits = new AtomicInteger
    val sentinel = new CountDownLatch(1)
    val group = "job-count-sentinel-" + System.nanoTime()
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          execSites(x.executionId.toString) = x.details
        case _ => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty("spark.jobGroup.id") == group))
          sentinel.countDown()
        else {
          val own = e.stageInfos.headOption.map(_.details).getOrElse("")
          val exec = props.flatMap(p =>
            Option(p.getProperty("spark.sql.execution.id")))
          if ((own + exec.flatMap(execSites.get).getOrElse(""))
              .contains(frame))
            hits.incrementAndGet()
        }
      }
    }
    sc.addSparkListener(l)
    try {
      f
      // events reach a listener in order: once the sentinel job's start
      // is seen, every job `f` ran has been counted
      sc.setJobGroup(group, "sentinel")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.clearJobGroup()
      assert(sentinel.await(60, TimeUnit.SECONDS))
    } finally sc.removeSparkListener(l)
    hits.get()
  }

  /** Every Spark job `f` runs. */
  def jobs(spark: SparkSession)(f: => Unit): Int = jobsUnder(spark, "")(f)
}
