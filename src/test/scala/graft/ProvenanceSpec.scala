package graft

import graft.sources.GraftProvenance
import org.apache.spark.sql.functions._

/** A33: provenance manifests — inputs + output fingerprint recorded
  * at write time, layout drift detected afterwards.
  */
class ProvenanceSpec extends SparkSpecBase {

  test("the JSON escaper round-trips quotes, backslashes and control characters through Jackson") {
    val v = "say \"hi\" at C:\\tmp\nnext line\ttab\r\u0001"
    val line = s"""{"sf":"${GraftProvenance.esc(v)}"}"""
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(parsed.get("sf").asText() === v)
  }

  test("write records inputs/rows/schema; check detects layout drift; rewrite heals") {
    import spark.implicits._
    val out = graft.sources.GraftSink.scratchDir + "/spec_prov"
    val df = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val rec = GraftProvenance.write(spark, df, out,
      inputs = Seq(("orders", 3L), ("lineitem", 7L)), note = "spec run")
    // the manifest round-trips
    val r = GraftProvenance.read(spark, out)
    assert(r === rec)
    assert(r.inputs === Seq(("orders", 3L), ("lineitem", 7L)))
    assert(r.rows === df.count())
    assert(r.schemaDdl.contains("o_totalprice"))
    assert(r.note === "spec run")
    // the manifest itself is invisible to readers and listings
    assert(spark.read.parquet(out).count() === r.rows)
    assert(GraftProvenance.check(spark, out))
    // an alien file lands → layout drift detected
    Seq((1L, "X", 1.0)).toDF("o_orderkey", "o_orderstatus", "o_totalprice")
      .coalesce(1).write.mode("append").parquet(out)
    assert(!GraftProvenance.check(spark, out))
    // a fresh provenance-carrying rewrite heals the record
    GraftProvenance.write(spark, df, out, inputs = Seq(("orders", 4L)))
    assert(GraftProvenance.check(spark, out))
    assert(GraftProvenance.read(spark, out).inputs === Seq(("orders", 4L)))
  }
}
