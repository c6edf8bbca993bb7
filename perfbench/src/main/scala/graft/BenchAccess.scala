package graft

import org.apache.spark.sql.SparkSession

/** The benchmark's reach into `private[graft]` surface. */
object BenchAccess {

  /** `dedup_semantic`'s oracle SQL bakes the centroids graft's trainer
    * learns at sf0.01. On other data the same trainer's centroids must
    * be baked, as `SemDedup.printSf001Centroids` does for sf0.01.
    */
  def semanticDedupOracleSql(s: SparkSession, dir: String): String =
    operators.SemDedup.oracleSql(operators.SemDedup.trainCentroids(s, dir).toSeq)
}
