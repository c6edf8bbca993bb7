package graft.tools

import org.apache.spark.scheduler._

/** Measurement tool (optimization rounds): run one SparkEntry query
  * with a job-level listener and print, for the TIMED (post-warmup)
  * run, every Spark job's wall time + call site — the breakdown that
  * says whether a 5s ladder is one slow scan or thirty 150ms commits.
  *
  * Usage: runMain graft.tools.ProfileQuery <sfDir> <name> [reps=1]
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 1
    val spark = graft.GraftSession.local()
    val fn = graft.SparkEntry.queries(name)

    case class J(id: Int, desc: String, start: Long, var end: Long = 0L,
                 var tasks: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    @volatile var record = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (record) {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        jobs.put(e.jobId, J(e.jobId, desc, e.time))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId); if (j != null) j.end = e.time
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        // stageId->job mapping skipped; task counts come from stages
      }
    }
    spark.sparkContext.addSparkListener(listener)

    def once(): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val t = (System.nanoTime() - t0) / 1e9
      graft.GraftSession.releaseGrains()
      spark.sharedState.cacheManager.clearCache()
      t
    }
    val warm = once()  // warm-up (codegen/JIT), not recorded

    // driver ("main" thread) stack sampler: where do inter-job gaps go?
    val mainThread = Thread.currentThread()
    val samples = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val fullStacks = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile var sampling = true
    val sampler = new Thread(() => {
      while (sampling) {
        val st = mainThread.getStackTrace
        // first frame inside spark/graft/hadoop/parquet below the tool
        val f = st.find { e =>
          val c = e.getClassName
          (c.startsWith("org.apache.spark.sql.catalyst") ||
           c.startsWith("org.apache.spark.sql.execution") ||
           c.startsWith("org.apache.hadoop") ||
           c.startsWith("org.apache.parquet") ||
           c.startsWith("graft")) && !c.contains("ProfileQuery")
        }.map(e => e.getClassName.split("\\.").takeRight(2).mkString(".") + "." + e.getMethodName)
          .getOrElse(st.headOption.map(e =>
            e.getClassName.split("\\.").takeRight(1).mkString + "." + e.getMethodName)
            .getOrElse("<none>"))
        samples.merge(f, 1, (a, b) => a + b)
        // full-stack capture for frames we need to attribute exactly
        if (f.contains("Shell.runCommand") || f.contains("mergeSchemasInParallel") ||
            f.contains("writeCompressedByteArray") || f.contains("deleteImpl")) {
          val sig = st.take(28).map(e => e.getClassName + "." + e.getMethodName)
            .mkString(" <- ")
          fullStacks.merge(sig, 1, (a, b) => a + b)
        }
        Thread.sleep(5)
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    record = true
    var total = 0.0
    for (_ <- 1 to reps) total += once()
    record = false
    sampling = false
    spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(300) // let listener drain

    val js = {
      import scala.jdk.CollectionConverters._
      jobs.values.asScala.toSeq.sortBy(_.id)
    }
    val sumJobs = js.map(j => (j.end - j.start) / 1e3).sum
    println(f"[profile] $name warm=$warm%.3f timed_total=$total%.3f over $reps rep(s); ${js.size} jobs, sum job wall = $sumJobs%.3f s")
    var prevEnd = 0L
    for (j <- js) {
      val gap = if (prevEnd == 0) 0.0 else (j.start - prevEnd) / 1e3
      prevEnd = j.end
      println(f"[profile] job ${j.id}%4d ${(j.end - j.start) / 1e3}%7.3f s  (gap before: $gap%6.3f)  ${j.desc.take(110)}")
    }
    {
      import scala.jdk.CollectionConverters._
      val top = samples.asScala.toSeq.sortBy(-_._2).take(35)
      val n = samples.asScala.values.map(_.toInt).sum.max(1)
      println(s"[profile] driver main-thread samples: $n")
      for ((f, c) <- top)
        println(f"[profile] stack ${c.toInt * 100.0 / n}%5.1f%% ($c%5d) $f")
      val fulls = fullStacks.asScala.toSeq.sortBy(-_._2).take(8)
      for ((sig, c) <- fulls)
        println(s"[profile] FULL ($c) " + sig)
    }
    spark.stop()
  }
}
