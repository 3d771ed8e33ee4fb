package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
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
