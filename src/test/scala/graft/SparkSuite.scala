package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared single session for all suites (sbt forks one JVM for tests). */
object SparkSuite {
  // the entry points' session recipe, so tests exercise the injected
  // functions AND the similarity-join optimizer rule exactly as
  // Verify's and Bench's sessions do
  lazy val session: SparkSession = Sessions.local("4")
}

trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  val sf: String = "/root/testdata/sf0.001"

  /** Spark jobs launched while `body` runs. */
  def jobsDuring(body: => Any): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(l)
    try { body; TestListenerBus.drain(sc); n.get }
    finally sc.removeSparkListener(l)
  }
}
