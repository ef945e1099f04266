package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM per `sbt test` fork;
  * suites run sequentially, so a single session keeps the run fast).
  */
object TestSpark {
  lazy val spark: SparkSession = Posture.session(
    // the suite's pins and time budget assume local[4] on any host, so the
    // test session does not follow SPARK_GRAFT_CPUS
    cpus = 4,
    staticConfs = Seq("spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-wh").toString))
}

abstract class GraftSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = "/root/testdata/sf0.001"

  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
}
