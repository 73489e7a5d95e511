package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for suites (one per suite via lazy val). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(cores = 4, appName = getClass.getSimpleName)

  def scratchDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-test-$tag-").toString
}
