package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
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

  /** Spark jobs that `body` starts. */
  def jobsOf(body: => Unit): Int = jobSitesOf(body).total

  /** Spark jobs that `body` starts, counted per call site. A job group
    * tags them; a marker job in a group of its own runs after `body`,
    * and once the listener has seen it, it has seen every job before it
    * (the listener bus hands one listener its events in order). A job
    * of a SQL execution is charged to the first program frame of the
    * execution's call site, since the jobs of one execution may start
    * on other threads (broadcasts, adaptive query stages); any other job
    * to its own call site. */
  def jobSitesOf(body: => Unit): JobSites = {
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID}"
    val marker = s"marker-$group"
    val executions = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          val frames = x.details.linesIterator.map(_.trim).toSeq
          executions.put(x.executionId.toString, frames.find(_.startsWith("graft.")).getOrElse(x.details))
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
        val site = prop("spark.sql.execution.id")
          .map(id => Option(executions.get(id)).getOrElse(s"SQL execution $id"))
          .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("?"))
        jobs.add(prop("spark.jobGroup.id").getOrElse("") -> site)
      }
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
        assert(jobs.asScala.exists(_._1 == marker), "the listener bus has not drained")
      }
      val sites = jobs.asScala.toSeq.collect { case (`group`, site) => site }
      JobSites(sites.groupMapReduce(identity)(_ => 1)(_ + _).toSeq.sortBy { case (site, n) => (-n, site) })
    } finally sc.removeSparkListener(listener)
  }
}

/** Spark jobs per call site, most first; prints one site a line, so a
  * failed job-count pin names the line that added jobs. */
final case class JobSites(sites: Seq[(String, Int)]) {
  def total: Int = sites.map(_._2).sum
  override def toString: String =
    (s"$total jobs:" +: sites.map { case (site, n) => f"$n%4d  $site" }).mkString("\n")
}
