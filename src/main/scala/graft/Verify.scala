package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [comma-separated query-name filter (local
    // iteration only; the driver always passes two args = run all)]
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(
          f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // ~90 queries, several of which cache intermediates: release the
      // tracked operator grains (and clear any remainder) after each so
      // earlier queries' dead cache entries can't evict/GC-stall later
      // ones — and so the grain registry itself stays bounded.
      GraftSession.releaseGrains()
      spark.sharedState.cacheManager.clearCache()
    }
    // a tab or CR in oracle SQL must not break the JSON reader
    def q(s: String): String = "\"" + graft.sources.GraftProvenance.esc(s) + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
