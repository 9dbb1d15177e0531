package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for operator specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = ()
}

object SparkSpec {
  /** The tools' session shape, on 4 cores so test partitioning is fixed. */
  lazy val session: SparkSession = GraftSession.local(4)
}
