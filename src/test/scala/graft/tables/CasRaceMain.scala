package graft.tables

/** Forked-JVM writer harness for the cross-PROCESS commit-race spec:
  * appends `n` one-row batches to the table at `root` through the full
  * [[LakeTable.append]] path (real parquet writes, real CAS manifest
  * publish with optimistic retry). Two of these racing from separate
  * JVMs exercise the `Files.createLink` claim-a-version protocol across
  * process boundaries — the property the in-JVM race test cannot reach.
  */
object CasRaceMain {
  def main(args: Array[String]): Unit = {
    val Array(root, writer, nStr) = args
    val n = nStr.toInt
    val spark = graft.Sessions.local(cores = 2, appName = s"cas-race-$writer")
    try {
      import spark.implicits._
      val t = LakeTable(spark, root)
      (0 until n).foreach(i => t.append(Seq((i, writer)).toDF("k", "src")))
    } finally spark.stop()
  }
}
