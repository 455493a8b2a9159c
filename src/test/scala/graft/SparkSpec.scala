package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for Spark-backed suites (one JVM per `sbt test` fork). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `body` and counts the Spark jobs it starts. Listener events are
    * delivered in order on one queue, so counting between two marker jobs
    * (one before `body`, one after) sees every job of `body` and nothing
    * queued from earlier work.
    */
  def countJobs[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = s"graft-count-jobs-${java.util.UUID.randomUUID()}"
    val (begin, end) = (new CountDownLatch(1), new CountDownLatch(1))
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.job.description")).orNull match {
          case d if d == s"$tag-begin" => begin.countDown()
          case d if d == s"$tag-end" => end.countDown()
          case _ => if (begin.getCount == 0 && end.getCount == 1) jobs.incrementAndGet()
        }
    }
    def marker(name: String, latch: CountDownLatch): Unit = {
      sc.setJobDescription(s"$tag-$name")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      require(latch.await(60, TimeUnit.SECONDS), s"countJobs: $name marker never delivered")
    }
    sc.addSparkListener(listener)
    try {
      marker("begin", begin)
      val result = body
      marker("end", end)
      (result, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark
}
