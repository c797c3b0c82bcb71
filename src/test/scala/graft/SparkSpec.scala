package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — Spark
  * sessions are expensive; specs run sequentially in sbt's forked JVM).
  */
object SparkSpec {
  // pinned to local[4] whatever the host or SPARK_GRAFT_* say, so specs
  // see the same partitioning everywhere
  lazy val spark: SparkSession = GraftSession.builder("graft-test")
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def sqlTs(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
}
