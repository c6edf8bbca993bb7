package graft

import graft.functions.VectorFns
import graft.operators.Dedup
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The interpreted higher-order-function (HOF) forms of graft's native
  * Catalyst expressions. Production runs only the native forms; these
  * exist as the bit-identity references the specs compare them with.
  */
object HofReferences {

  /** `DotProductExpr`'s twin: two boxed lambda calls per element. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Per-row argmax of `score(emb, centroid)` over a centroid-array
    * column, ties to the smallest id via max(struct(score, -id)).
    */
  private def argmaxCentroid(cArr: Column,
      score: (Column, Column) => Column): Column = {
    val best = array_max(transform(cArr, c =>
      struct(score(col("emb"), c.getField("_2")).as("cos"),
        (-c.getField("_1")).as("nid"))))
    (-best.getField("nid")).cast("int")
  }

  /** `Similarity.assignCentroids`'s twin (`NearestCentroidExpr`): the
    * centroid table as a plan literal. Adds `centroid_id`.
    */
  def assignCentroidsHof(
      e: DataFrame, centroids: Array[(Int, Seq[Double])],
      score: (Column, Column) => Column = VectorFns.cosine(_, _)): DataFrame =
    e.withColumn("centroid_id",
      argmaxCentroid(typedlit(centroids.toSeq), score))

  /** `Similarity.assignSubspaces`'s twin (`SubspaceNearestExpr`): the
    * literal array-of-codebooks indexed by `sub`, argmin of the L2
    * distance as argmax of (-l2sq, -id). Adds `code`.
    */
  def assignSubspacesHof(e: DataFrame,
      books: Array[Array[(Int, Seq[Double])]]): DataFrame = {
    val bookArr = typedlit(books.map(_.toSeq).toSeq)
    val best = array_max(transform(element_at(bookArr, col("sub") + 1), c =>
      struct((-VectorFns.l2sq(col("emb"), c.getField("_2"))).as("nd"),
        (-c.getField("_1")).as("nid"))))
    e.withColumn("code", (-best.getField("nid")).cast("int"))
  }

  /** `Dedup.wordGramHashesOf`'s twin (`WordSpanHashesExpr`): the SQL
    * the oracle runs, expressed in Spark HOFs.
    */
  def wordGramHashesHof(documents: DataFrame): DataFrame = {
    val P = graft.functions.SpanHash.P; val B = graft.functions.SpanHash.B
    val n = Dedup.SpanWords
    documents
      .withColumn("words", expr(
        "filter(split(trim(lower(text)), '\\\\s+'), w -> length(w) > 0)"))
      .withColumn("wh", expr(
        s"transform(words, w -> aggregate(split(w, ''), cast(0 as bigint), " +
          s"(acc, c) -> (acc * 257 + ascii(c)) % $P))"))
      .withColumn("ghs",
        when(size(col("wh")) < n, expr("cast(array() as array<bigint>)"))
          .otherwise(expr(
            s"""transform(sequence(1, size(wh) - ${n - 1}), p ->
                  ((((((element_at(wh, p) * $B + element_at(wh, p + 1)) % $P)
                      * $B + element_at(wh, p + 2)) % $P)
                      * $B + element_at(wh, p + 3)) % $P))""")))
      .select(col("doc_id"), posexplode(col("ghs")).as(Seq("p0", "gh")))
      .select(col("doc_id"), (col("p0") + 1).as("p"), col("gh"))
  }
}
