package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Jobs started on the shared SparkContext while `body` runs. */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerDrain.drain(sc)
    sc.addSparkListener(l)
    try { body; ListenerDrain.drain(sc) } finally sc.removeSparkListener(l)
    n.get
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    // ",2" = tolerate one task retry, so ChaosSpec can inject first-attempt
    // task failures; no other spec fails tasks, so behavior is unchanged.
    // No GraftSession.fromEnv: the suite's session ignores the shell's env.
    val s = GraftSession.start(GraftSession.builder(master = "local[4,2]", shufflePartitions = 4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString))
    graft.functions.GraftFunctions.register(s)
    s
  }
}
