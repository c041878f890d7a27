package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one forked test JVM). */
object SparkSpec {
  lazy val session: SparkSession = {
    // the session conf that ships, plus the suite's own warehouse dir
    val s = GraftSession.builder(4)
      .config("spark.sql.warehouse.dir", "target/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}
