package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs: [[GraftSession]]'s shape. */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.session
  def sf0001 = "/root/testdata/sf0.001"
}

object SparkSpecBase {
  // local[4] whatever the environment: specs pin partition-dependent
  // shapes, and the suite's command exports SPARK_GRAFT_CPUS=nproc
  lazy val session: SparkSession = GraftSession.build("4")
}
