package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. sf0.001 keeps the suite fast. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // session shared across suites
}

object SparkSpec {
  /** Pinned at 4 threads whatever SPARK_GRAFT_CPUS says: specs assert
    * partition counts of this session. */
  lazy val session: SparkSession = Battery.session(cpus = 4)
}
