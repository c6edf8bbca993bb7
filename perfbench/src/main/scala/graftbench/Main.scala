package graftbench

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ColumnarToRowExec, InputAdapter, ProjectExec, SparkPlan,
  TakeOrderedAndProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Entry point of the benchmark's JVM. run.py passes `--key value` pairs:
  *  - `--mode oracle`: write the oracle SQL of every curation query;
  *  - `--mode run`: one timed workload run, result written to `--out`;
  *  - `--mode selftest`: check that the timed action keeps each query's
  *    top operator, and that `count()` would not.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spark = GraftSession.local(kv("cores").toInt)
    try kv("mode") match {
      case "oracle" => oracle(spark, kv("data"), kv("out"))
      case "run" => new Runner(spark, kv).run()
      case "selftest" => if (!SelfTest.run(spark, kv)) sys.exit(1)
    } finally spark.stop()
  }

  private def oracle(spark: SparkSession, data: String, out: String): Unit = {
    val sql = SparkEntry.oracleSql ++
      Map("dedup_semantic" -> graft.BenchAccess.semanticDedupOracleSql(spark, data))
    val json = Workloads.Curation.map(n => s"${Json.str(n)}: ${Json.str(sql(n))}")
      .mkString("{", ",\n", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
  }
}

object SelfTest {
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  /** The query's own top operator, below plan wrappers and projections. */
  private def top(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => top(a.executedPlan)
    case w @ (_: WholeStageCodegenExec | _: InputAdapter | _: ProjectExec | _: ColumnarToRowExec)
        if w.children.size == 1 => top(w.children.head)
    case other => other
  }

  /** `plan` runs `t`: an operator of the same class producing every
    * attribute `t` produces. A top-k keeps its limit and sort order;
    * the projection it fuses differs by design.
    */
  private def keeps(plan: SparkPlan, t: SparkPlan): Boolean = {
    val want = t.output.map(_.exprId).toSet
    nodes(plan).exists {
      case n: TakeOrderedAndProjectExec => t match {
        case k: TakeOrderedAndProjectExec => n.limit == k.limit &&
          n.sortOrder.size == k.sortOrder.size &&
          n.sortOrder.zip(k.sortOrder).forall { case (a, b) => a.semanticEquals(b) }
        case _ => false
      }
      case n => n.getClass == t.getClass && want.subsetOf(n.output.map(_.exprId).toSet)
    }
  }

  def run(spark: SparkSession, kv: Map[String, String]): Boolean = {
    val results = Workloads.Curation.map { n =>
      val df = SparkEntry.queries(n)(spark, kv("data"))
      val t = top(df.queryExecution.executedPlan)
      val action = Digest.actionFrame(df, Digest.kinds(df.schema, df.schema))
      val kept = keeps(action.queryExecution.executedPlan, t)
      val byCount = keeps(df.groupBy().count().queryExecution.executedPlan, t)
      println(f"[selftest] $n%-34s top=${t.nodeName}%-24s timed-action-keeps=$kept count-keeps=$byCount")
      GraftSession.releaseGrains()
      spark.sharedState.cacheManager.clearCache()
      (kept, byCount)
    }
    val allKept = results.forall(_._1)
    // the check must be able to fail: count() drops some query's top operator
    val countCaught = results.exists(!_._2)
    println(s"[selftest] timed action keeps every top operator: $allKept; " +
      s"count() would drop at least one: $countCaught")
    allKept && countCaught
  }
}
