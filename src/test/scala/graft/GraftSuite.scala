package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one local SparkSession per suite (lazy, small core count
  * for test speed), UTC, AQE on — same config surface as Graft.session. */
trait GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName(getClass.getSimpleName)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // static conf (must be set at build time): Thrift connections share
      // the server's parent session, so SqlEndpointSpec can prove the Pinot
      // compat vocabulary over JDBC; no effect outside the Thrift server
      .config("spark.sql.hive.thriftServer.singleSession", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(s)
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}
