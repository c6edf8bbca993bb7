package graft

import org.apache.spark.sql.functions._

/** r12 cache-lifecycle discipline: every operator-local `.cache()` in
  * the read surface routes through `grainCache()` (cache + session
  * registry), and `GraftSession.releaseGrains()` is the one precise
  * release point — so a long-lived session composing operators holds
  * at most one composition's grains, instead of accumulating executor
  * storage forever (50 cache sites vs 12 unpersists was the r11
  * finding). The returned plans stay cache-backed (unpersisting inside
  * the operator would re-introduce the double-tokenize class the
  * doctor lints); the CALLER's composition boundary is where grains
  * die.
  */
class CacheSweepSpec extends SparkSpecBase {

  /** Cache-heavy read queries across every converted family (dedup,
    * text, similarity, multimodal, assembly, profiling).
    */
  private val CacheHeavy = Seq(
    "dedup_minhash_lsh", "dedup_simhash", "dedup_ngram_jaccard",
    "dedup_clusters_exact", "dedup_substring_removal",
    "dedup_source_overlap", "pipeline_curation_funnel",
    "dedup_embedding_cosine_lsh", "text_vocab_growth",
    "text_ingest_drift", "text_perplexity_buckets",
    "text_quality_classifier", "text_dsir_weights",
    "text_decontaminate_semantic")

  /** `file:line: text` of each non-comment line in the `.scala` files
    * under `dir` (recursively) that `bad` flags, skipping `allowed`
    * file names.
    */
  private def sourceLint(dir: String, allowed: Set[String] = Set.empty)(
      bad: String => Boolean): Seq[String] = {
    val root = new java.io.File(dir)
    assume(root.isDirectory, "source tree not available")
    def files(d: java.io.File): Seq[java.io.File] = d.listFiles().toSeq
      .flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    files(root).filter(f => f.getName.endsWith(".scala") && !allowed(f.getName))
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().zipWithIndex.collect {
          case (l, i) if bad(l) && !l.trim.startsWith("//") =>
            s"${f.getName}:${i + 1}: $l"
        }.toList finally src.close()
      }
  }

  test("source lint: no raw .cache() in the operator surface — every grain routes through grainCache()") {
    val offenders = sourceLint("src/main/scala/graft/operators")(_.contains(".cache()"))
    assert(offenders.isEmpty,
      "raw .cache() re-opens the unreleased-grain leak; use grainCache():\n" +
        offenders.mkString("\n"))
  }

  test("source lint: GraftSession is the only session builder in the main source") {
    val offenders = sourceLint("src/main", allowed = Set("GraftSession.scala"))(
      _.contains("SparkSession.builder"))
    assert(offenders.isEmpty,
      "harnesses build their session with GraftSession.local:\n" +
        offenders.mkString("\n"))
  }

  test("source lint: HOF bit-identity references live in src/test, not the main source") {
    val hofDef = """def \w+Hof\b""".r
    val offenders = sourceLint("src/main")(l => hofDef.findFirstIn(l).isDefined)
    assert(offenders.isEmpty,
      "move reference-only HOF twins to HofReferences in src/test:\n" +
        offenders.mkString("\n"))
  }

  test("every cache-heavy read operator's grains release at the composition boundary; user caches survive") {
    spark.catalog.clearCache()
    GraftSession.releaseGrains()
    // a USER-cached frame must survive the graft release point — the
    // precision releaseGrains has over catalog.clearCache
    val mine = spark.range(10).toDF("user_kept").cache()
    mine.count()
    for (name <- CacheHeavy) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val n = df.count()
      assert(n > 0, s"$name returned no rows")
      val released = GraftSession.releaseGrains()
      val live = spark.sharedState.cacheManager
      assert(live.lookupCachedData(
        mine.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isDefined,
        s"$name: releaseGrains must not touch user caches")
      // after release, graft's own grains are gone: the ONLY cached
      // entry left in the session is the user's
      mine.unpersist(true)
      assert(live.isEmpty,
        s"$name left ${if (released >= 0) s"cached grains behind (released=$released)" else ""}")
      mine.cache(); mine.count()
    }
    mine.unpersist(true)
    // post-release correctness: a released grain RECOMPUTES, never
    // errors — re-running a representative query is value-identical
    val again = SparkEntry.queries("pipeline_curation_funnel")(spark, sfDir)
    assert(again.collect().map(_.toSeq).toSeq ===
      SparkEntry.queries("pipeline_curation_funnel")(spark, sfDir)
        .collect().map(_.toSeq).toSeq)
    GraftSession.releaseGrains()
  }
}
