package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session — suites
  * run against the same context, mirroring how the engine runs one session
  * per driver).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf0001 = "/root/testdata/sf0.001"
}

object SparkSpec {
  /** The session Verify, Bench and perfbench run ([[graft.core.Sessions]]:
    * GraftExtensions installed, parquet timestamps read as TIMESTAMP), so
    * specs plan the same queries they do. The warehouse dir goes in as a
    * `spark.*` system property, which the builder's SparkConf picks up. */
  lazy val session: SparkSession = {
    System.setProperty("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    val s = graft.core.Sessions.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
