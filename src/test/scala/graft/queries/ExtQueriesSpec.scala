package graft.queries

import java.net.URI
import java.nio.file.Paths

import org.apache.hadoop.fs.RawLocalFileSystem

import graft.SparkSpec

/** The local filesystem under a scheme java.nio has no provider for —
  * stands in for hdfs:// or s3a:// without a cluster.
  */
class AliasLocalFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("alias:///")
  override def getScheme: String = "alias"
}

class ExtQueriesSpec extends SparkSpec {

  private def writeOneFile(dir: String): String = {
    spark.range(10).coalesce(1).write.parquet(dir)
    dir
  }

  private def estimate(path: String): Long =
    ExtQueries.scanPartitionEstimate(spark, spark.read.parquet(path))

  test("scan estimate never widens when a file cannot be sized through java.nio") {
    val parallelism = spark.sparkContext.defaultParallelism.toLong
    // one small local file, even under a directory name with a space:
    // a real estimate below the session parallelism
    assert(estimate(writeOneFile(Paths.get(scratchDir("widen"), "plain").toString)) < parallelism)
    assert(estimate(writeOneFile(Paths.get(scratchDir("widen"), "dir with space").toString)) < parallelism)
    // a scheme java.nio cannot resolve: fall back to the never-widen default
    spark.sparkContext.hadoopConfiguration.set("fs.alias.impl", classOf[AliasLocalFileSystem].getName)
    val dir = writeOneFile(Paths.get(scratchDir("widen"), "remote").toString)
    assert(estimate(s"alias://$dir") == parallelism)
  }
}
