package graft

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite, from the same factory as the mains. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session()

  def sf(d: String = "0.001"): String = s"/root/testdata/sf$d"

  /** Jobs started while `body` runs, counted by a SparkListener. */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    ListenerDrain(sc)
    val n = new java.util.concurrent.atomic.AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(counter)
    try { body; ListenerDrain(sc); n.get } finally sc.removeSparkListener(counter)
  }
}
