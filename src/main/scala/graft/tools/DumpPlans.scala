package graft.tools

import org.apache.spark.sql.execution.ExplainMode

/** Dump `.explain("formatted")` for a comma-separated list of
  * `SparkEntry` queries to `<outDir>/<query>.txt` — the plan evidence
  * files committed under plans/r{N}/. Usage:
  * runMain graft.tools.DumpPlans <outDir> <q1,q2,...> <sfDir>
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val Array(outDir, qlist, sfDir) = args
    val spark = graft.Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    qlist.split(",").foreach { q =>
      try {
        val df = graft.SparkEntry.queries(q)(spark, sfDir)
        val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/$q.txt"), plan.getBytes("UTF-8"))
        println(s"WROTE $q")
      } catch {
        case e: Throwable => println(s"FAILED $q: ${e.getMessage.take(200)}")
      } finally graft.Bench.resetSharedState(spark)
    }
    spark.stop()
  }
}
