package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** One shared local session for the whole test run (suites may run in
  * parallel in one JVM; SparkSession is thread-safe).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", 4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = TestSpark.spark

  /** `body`'s result and the ids of the Spark jobs it starts on this
    * thread. A sentinel job submitted afterwards drains the listener
    * bus: a listener receives events in order, so every job `body`
    * started is recorded first.
    */
  def jobsStartedBy[A](body: => A): (A, Seq[Int]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"jobs-started-by-${java.util.UUID.randomUUID}"
    val sentinel = s"$group-sentinel"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val sentinelSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.add(j.jobId)
          case Some(`sentinel`) => sentinelSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    val result = try {
      sc.setJobGroup(group, group)
      val r = body
      sc.setJobGroup(sentinel, sentinel)
      sc.parallelize(Seq(1), 1).count()
      sentinelSeen.await(60, java.util.concurrent.TimeUnit.SECONDS) shouldBe true
      r
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    (result, jobs.asScala.toSeq)
  }
}
