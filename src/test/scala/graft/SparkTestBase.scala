package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession across all suites (cheap re-`getOrCreate`). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  def resource(name: String): String =
    getClass.getResource(name).getPath
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}

object SparkTestBase {
  lazy val session: SparkSession = GraftSession.build("local[4]", 4)
}
