package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.Suite
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Millis, Seconds, Span}

/** Shared local session for specs. Suites share one session via
  * getOrCreate; the forked test JVM tears it down at exit.
  */
trait SparkSpec { self: Suite =>
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Spark jobs that `body` starts. A job group tags them; a marker job
    * in a group of its own runs after `body`, and once the listener has
    * seen it, it has seen every job before it (the listener bus hands
    * one listener its events in order). */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID}"
    val marker = s"marker-$group"
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body
      finally sc.clearJobGroup()
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.clearJobGroup()
      eventually(timeout(Span(30, Seconds)), interval(Span(50, Millis))) {
        assert(groups.contains(marker), "the listener bus has not drained")
      }
      groups.asScala.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }
}
