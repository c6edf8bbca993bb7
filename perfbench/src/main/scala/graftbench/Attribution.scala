package graftbench

import java.io.PrintWriter

/** Splits a traced run's listener events across ops, phases and passes.
  *
  * The loop is closed and single-threaded, so every job that starts
  * inside an op's interval belongs to that op (including jobs an
  * operator launches from its own threads), and to the phase whose
  * interval holds the job's start.
  */
final class Attribution(r: Recorder, ops: Seq[Op], cores: Int) {

  private def opAt(t: Double): Option[Op] = ops.find(o => o.start <= t && t <= o.end)
  private def phaseAt(o: Op, t: Double): Option[String] =
    o.phases.collectFirst { case (n, a, b) if a <= t && t <= b => n }

  private val jobOp: Map[Int, Op] = r.jobs.flatMap(j => opAt(j.start).map(j.id -> _)).toMap

  /** Spans nest op → phase → job → stage and share the op id. Written
    * as JSON lines once the run has ended.
    */
  def writeSpans(path: String): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    def span(id: String, parent: String, op: Int, name: String, a: Double, b: Double): Unit =
      w.println(s"""{"id":${Json.str(id)},"parent":${Json.str(parent)},"op":$op,""" +
        s""""name":${Json.str(name)},"start_ms":${Json.num(a)},"end_ms":${Json.num(b)}}""")
    try {
      ops.foreach { o =>
        span(s"op${o.id}", "", o.id, o.name, o.start, o.end)
        o.phases.foreach { case (n, a, b) => span(s"op${o.id}.$n", s"op${o.id}", o.id, n, a, b) }
      }
      r.jobs.foreach { j =>
        jobOp.get(j.id).foreach { o =>
          val parent = phaseAt(o, j.start).fold(s"op${o.id}")(p => s"op${o.id}.$p")
          span(s"job${j.id}", parent, o.id, s"job ${j.id}", j.start, j.end)
          j.stages.flatMap(r.stages.get).foreach { s =>
            span(s"stage${s.id}", s"job${j.id}", o.id, s"stage ${s.id}", s.start, s.end)
          }
        }
      }
    } finally w.close()
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Length of the union of intervals, clipped to [a, b]. */
  private def covered(iv: Seq[(Double, Double)], a: Double, b: Double): Double = {
    var total = 0.0; var cur = a
    iv.map { case (x, y) => (math.max(x, a), math.min(y, b)) }.filter(t => t._2 > t._1)
      .sortBy(_._1).foreach { case (x, y) =>
        if (y > cur) { total += y - math.max(x, cur); cur = y }
      }
    total
  }

  /** Per-layer metrics of every pass: (pass, metric → value). */
  def perPass(grains: Map[Int, Int], debt: Map[Int, Long]): Seq[(Int, Seq[(String, Double)])] =
    ops.groupBy(_.pass).toSeq.sortBy(_._1).map { case (p, pops) =>
      val a = pops.map(_.start).min; val b = pops.map(_.end).max
      val wall = (b - a) / 1e3
      val opIds = pops.map(_.id).toSet
      val pjobs = r.jobs.filter(j => jobOp.get(j.id).exists(o => opIds(o.id))).toSeq
      def inPhase(ph: String)(j: r.JobRec) = phaseAt(jobOp(j.id), j.start).contains(ph)
      val pstages = pjobs.flatMap(_.stages).distinct.flatMap(r.stages.get).filter(_.taskDur.nonEmpty)
      val actionJobs = pjobs.filter(inPhase("action"))
      val actionStages = actionJobs.flatMap(_.stages).distinct.flatMap(r.stages.get)
        .filter(_.taskDur.nonEmpty)
      val compactIds = pops.filter(_.kind == "compact").map(_.id).toSet
      val compactStages = pjobs.filter(j => compactIds(jobOp(j.id).id))
        .flatMap(_.stages).distinct.flatMap(r.stages.get)
      val pqes = r.qes.filter(q => q.at >= a && q.at <= b).toSeq
      val taskRun = pstages.map(_.runMs).sum / 1e3
      val mb = 1024.0 * 1024.0
      val debts = pops.flatMap(o => debt.get(o.id)).map(_.toDouble)
      p -> Seq(
        "operators.construct_s" -> pops.map(_.phaseS("construct")).sum,
        "operators.construct_jobs" -> pjobs.count(inPhase("construct")).toDouble,
        "plans.plan_s" -> pops.map(_.phaseS("plan")).sum,
        "plans.analysis_s" -> pqes.map(_.analysisS).sum,
        "plans.optimizer_s" -> pqes.map(_.optimizerS).sum,
        "plans.physical_s" -> pqes.map(_.physicalS).sum,
        "plans.query_executions" -> pqes.size.toDouble,
        "spark.exec.action_s" -> pops.map(_.phaseS("action")).sum,
        "spark.exec.jobs" -> actionJobs.size.toDouble,
        "spark.exec.stages" -> actionStages.size.toDouble,
        "spark.exec.tasks" -> actionStages.map(_.taskDur.size).sum.toDouble,
        "spark.exec.task_run_s" -> taskRun,
        "spark.exec.task_cpu_s" -> pstages.map(_.cpuNs).sum / 1e9,
        "spark.exec.gc_s" -> pstages.map(_.gcMs).sum / 1e3,
        "spark.exec.busy_frac" -> (if (wall > 0) taskRun / (wall * cores) else 0.0),
        "spark.exec.skew_s" -> pstages.map(s => s.taskDur.max - median(s.taskDur.toSeq)).sum / 1e3,
        "spark.exec.driver_gap_s" -> (wall - covered(pjobs.map(j => (j.start, j.end)), a, b) / 1e3),
        "spark.shuffle.write_mb" -> pstages.map(_.shWrite).sum / mb,
        "spark.shuffle.read_mb" -> pstages.map(_.shRead).sum / mb,
        "spark.shuffle.spill_mb" -> pstages.map(_.spill).sum / mb,
        "spark.shuffle.fetch_wait_s" -> pstages.map(_.fetchWaitMs).sum / 1e3,
        "sources.read_mb" -> pstages.map(_.inBytes).sum / mb,
        "sources.read_rows" -> pstages.map(_.inRows).sum,
        "sources.scan_tasks" -> pstages.map(_.inTasks).sum.toDouble,
        "sources.write_mb" -> pstages.map(_.outBytes).sum / mb,
        "sources.files_written" -> pqes.map(_.files).sum.toDouble,
        "sources.compact_rewrite_mb" -> compactStages.map(_.outBytes).sum / mb,
        "sources.tombstone_debt" -> (if (debts.isEmpty) 0.0 else debts.sum / debts.size),
        "graft.grains_released" -> pops.map(o => grains.getOrElse(o.id, 0)).sum.toDouble,
        "graft.cache_peak_mb" -> (r.cache.filter(c => c.at >= a && c.at <= b)
          .map(_.bytes).maxOption.getOrElse(0L) / mb))
    }
}
