package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for specs: one JVM-wide `EngineConf.local(4)`
  * session — UTC, small shuffle parallelism, nanos-tolerant parquet
  * reads (TESTDATA.md), GraftExtensions installed.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "0.001"): String = s"/root/testdata/sf$dir"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = EngineConf.local(4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
