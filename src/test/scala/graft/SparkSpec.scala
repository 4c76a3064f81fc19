package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = {
    // Session is shared across suites in one JVM (Test/fork := true gives one
    // JVM per test run); don't stop it per-suite.
    super.afterAll()
  }

  val sf0001 = "/root/testdata/sf0.001"
  /** The sf0.01 fixture, next to sf0.001. */
  val sf001: String = java.nio.file.Paths.get(sf0001).resolveSibling("sf0.01").toString
}

object SparkSpec {
  /** One local session per test JVM, shared by the suites and the
    * ScalaCheck properties that need Spark. */
  lazy val session: SparkSession = Run.session(4)
}
