package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for specs — one JVM-wide SparkSession built by the
  * programs' own factory ([[Harness.session]]), so the test JVM sizes
  * the codegen cache before any spec compiles. The deltas: local[4],
  * a small shuffle fan-out and a test warehouse. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf0001 = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = Harness.session("graft-test",
    "spark.master" -> "local[4]",
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.warehouse.dir" -> "/tmp/graft-warehouse")
}
