package graft.tools

/** Measurement tool (optimization rounds): dump `.explain("formatted")`
  * for named SparkEntry queries into an output directory, one
  * `<name>.txt` per query — the plan evidence committed under
  * plans/rNN/. Building a query's DataFrame runs any side-effecting
  * ladder it contains (CREATE/INSERT/mutation steps), so the captured
  * plan is the final read — exactly what the bench times with count().
  *
  * Usage: runMain graft.tools.ExplainDump <sfDir> <outDir> <name>[,<name>...]
  *        (names = "all" dumps every registered query)
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names: Seq[String] =
      if (args(2) == "all") graft.SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(",").toSeq
    val spark = graft.GraftSession.local()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (n <- names) {
      graft.SparkEntry.queries.get(n) match {
        case None => System.err.println(s"[explain] no such query: $n")
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(outDir, s"$n.txt"),
              txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            System.err.println(s"[explain] $n ok")
          } catch {
            case e: Throwable =>
              System.err.println(s"[explain] $n FAILED: ${e.getMessage}")
          }
          graft.GraftSession.releaseGrains()
          spark.sharedState.cacheManager.clearCache()
      }
    }
    spark.stop()
  }
}
