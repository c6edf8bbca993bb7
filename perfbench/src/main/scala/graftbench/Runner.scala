package graftbench

import graft.{GraftSession, SparkEntry}
import graft.sources.{GraftCatalog, GraftMor}
import graft.sources.v2.GraftV2
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Opens and closes the named phases of one op. */
final class Phases {
  val spans = mutable.ArrayBuffer.empty[(String, Double, Double)]
  def apply[T](name: String)(f: => T): T = {
    val a = Clock.nowMs
    try f finally spans += ((name, a, Clock.nowMs))
  }
}

/** One timed process: set-up, the closed loop for `seconds`, then the
  * correctness checks and the result file. Run by run.py in a fresh JVM.
  */
final class Runner(spark: SparkSession, kv: Map[String, String]) {
  private val workload = kv("workload")
  private val seed = kv("seed").toLong
  private val seconds = kv("seconds").toDouble
  private val work = kv("work")
  private val recorder: Option[Recorder] =
    if (kv("trace") == "1") Some(new Recorder) else None
  recorder.foreach { r =>
    spark.sparkContext.addSparkListener(r)
    spark.listenerManager.register(r)
  }
  private val hconf = spark.sessionState.newHadoopConf()

  val ops = mutable.ArrayBuffer.empty[Op]
  private val grains = mutable.HashMap.empty[Int, Int]
  private val digests = mutable.HashMap.empty[Int, (Seq[String], Map[String, Char], (Long, Long))]
  private val debt = mutable.HashMap.empty[Int, Long]
  private val reads = mutable.ArrayBuffer.empty[Seq[String]]
  private val checkFailures = mutable.HashMap.empty[Int, String]
  private var setupEnd = 0.0
  private var discoverS = 0.0
  private var spaceAmp = 0.0
  private var batchesRun = 0

  private def timed(pass: Int, name: String, kind: String)(body: Phases => Unit): Op = {
    val ph = new Phases
    val start = Clock.nowMs
    val err = try { body(ph); "" } catch {
      case e: Throwable => Option(e.getMessage).getOrElse(e.toString).take(300)
    }
    val op = Op(ops.size, pass, name, kind, start, Clock.nowMs, ph.spans.toSeq, err.isEmpty, err)
    if (pass >= 0) ops += op
    op
  }

  /** The composition boundary: graft's operator grains, then any cache. */
  private def release(opId: Int): Unit = {
    grains(opId) = GraftSession.releaseGrains()
    spark.sharedState.cacheManager.clearCache()
  }

  /** GraftCatalog discovery of every table under `dir`: listing, pins and schemas. */
  private def discover(dir: String): Unit = {
    val t = Clock.nowMs
    val cat = new GraftCatalog(spark, dir)
    cat.tableNames().foreach(cat.tableSchema)
    discoverS = (Clock.nowMs - t) / 1e3
  }

  private val completed = mutable.ArrayBuffer.empty[Int]

  /** Runs `minPasses` passes, then more while `seconds` have not passed
    * since set-up, so every run times the same work unless the machine
    * is much faster. `runPass` returns whether its pass completed: a
    * pass cut at the deadline, or one with no input left, ends the loop
    * and does not count.
    */
  private def closedLoop(minPasses: Int)(runPass: Int => Boolean): Unit = {
    val deadline = setupEnd + seconds * 1e3
    var pass = 0
    while ((pass < minPasses || Clock.nowMs < deadline) && runPass(pass)) {
      completed += pass
      pass += 1
    }
  }

  // ---- curation: SparkEntry queries, oracle-checked ----

  private def queryWorkload(names: Seq[String], dir: String): Unit = {
    val oracle = s"$work/oracle"
    val expected = names.map { n =>
      n -> GraftV2.readSchema(s"$oracle/$n.parquet", hconf)
    }.toMap
    def one(pass: Int, n: String, d: String): Op = {
      val op = timed(pass, n, "read") { ph =>
        val df = ph("construct") { SparkEntry.queries(n)(spark, d) }
        val kinds = Digest.kinds(df.schema, expected(n))
        val act = ph("plan") {
          val a = Digest.actionFrame(df, kinds)
          a.queryExecution.executedPlan
          a
        }
        val dg = ph("action") { Digest.collect(act) }
        if (pass >= 0) digests(ops.size) = (df.columns.toSeq.sorted, kinds, dg)
      }
      release(op.id)
      op
    }
    discover(dir)
    // warm-up: one untimed op pays Spark's first job and class loading. A
    // whole warm-up pass would double the run; the pass is timed cold, as
    // a batch job in a fresh JVM runs.
    val w = one(-1, names.head, dir)
    if (!w.ok) System.err.println(s"[perfbench] warm-up ${names.head} failed: ${w.error}")
    setupEnd = Clock.nowMs
    val deadline = setupEnd + seconds * 1e3
    closedLoop(1) { pass =>
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(names)
      val it = order.iterator
      while (it.hasNext && (pass < 1 || Clock.nowMs < deadline)) one(pass, it.next(), dir)
      !it.hasNext
    }
    // expected digests: the oracle's result reduced by the same action
    val exp = ops.map(_.name).distinct.map { n =>
      n -> ops.find(o => o.name == n && digests.contains(o.id)).map { o =>
        val e = spark.read.schema(expected(n)).parquet(s"$oracle/$n.parquet")
        (e.columns.toSeq.sorted, Digest.collect(Digest.actionFrame(e, digests(o.id)._2)))
      }
    }.toMap
    ops.foreach { o =>
      (digests.get(o.id), exp.get(o.name).flatten) match {
        case (Some((cols, _, dg)), Some((ecols, edg))) =>
          if (cols != ecols) checkFailures(o.id) = s"columns $cols != oracle $ecols"
          else if (dg != edg) checkFailures(o.id) = s"digest $dg != oracle $edg"
        case (None, _) => // the op threw; already failed
        case (_, None) => checkFailures(o.id) = "no oracle digest"
      }
    }
  }

  // ---- cdc_mutation: merge-on-read batches on a copy of orders ----

  private def cdcWorkload(src: String): Unit = {
    val base = s"$src/orders.parquet"
    val schema = GraftV2.readSchema(base, hconf)
    val keySchema = StructType(Seq(StructField("o_orderkey", LongType)))
    val batches = s"$work/batches"
    val nBatches = new java.io.File(batches).list().count(_.startsWith("upsert-"))
    def fresh(t: String): String = {
      if (Files.exists(Paths.get(t)))
        Files.walk(Paths.get(t)).iterator().asScala.toSeq.reverse.foreach(Files.delete)
      Files.createDirectories(Paths.get(t))
      Files.copy(Paths.get(base), Paths.get(t, "part-00000.parquet"))
      t
    }
    val keys = Seq("o_orderkey")
    def batch(pass: Int, table: String, b: Int): Unit = {
      val up = f"$batches/upsert-$b%05d.parquet"
      val del = f"$batches/delete-$b%05d.parquet"
      timed(pass, "cdc_upsert", "write") { ph =>
        ph("construct") { GraftMor.morUpsert(spark, table, spark.read.schema(schema).parquet(up), keys) }
      }
      timed(pass, "cdc_delete", "write") { ph =>
        ph("construct") { GraftMor.morDeleteKeys(spark, table, spark.read.schema(keySchema).parquet(del), keys) }
      }
      val op = timed(pass, "cdc_read", "read") { ph =>
        val df = ph("construct") {
          GraftMor.morRead(spark, table).groupBy("o_orderstatus").agg(
            count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"),
            sum(col("o_totalprice").cast("decimal(28,6)")).as("price_sum"))
        }
        ph("plan") { df.queryExecution.executedPlan }
        val rows = ph("action") { df.collect() }
        if (pass >= 0) reads += rows.map(_.mkString("|")).sorted.toSeq
      }
      if (pass >= 0 && !op.ok) reads += Seq("error")
      if (pass >= 0 && recorder.nonEmpty) debt(ops.size - 1) = GraftMor.tombstoneDebt(spark, table)
    }
    def compact(pass: Int, table: String): Unit =
      timed(pass, "cdc_compact", "compact") { ph => ph("construct") { GraftMor.morCompact(spark, table) } }

    discover(src)
    val warm = fresh(s"$work/cdc_warm/orders")
    batch(-1, warm, 1)
    compact(-1, warm)
    val table = fresh(s"$work/cdc_table/orders")
    setupEnd = Clock.nowMs
    closedLoop(3) { pass =>
      batchesRun + Workloads.BatchesPerCycle <= nBatches && {
        for (_ <- 1 to Workloads.BatchesPerCycle) {
          batchesRun += 1
          batch(pass, table, batchesRun)
        }
        compact(pass, table)
        true
      }
    }
    // end state for the reference check, and its size as a fresh write
    val fin = s"$work/cdc_final"
    GraftMor.morRead(spark, table).write.mode("overwrite").parquet(fin)
    spaceAmp = dirBytes(table).toDouble / dirBytes(fin)
  }

  private def dirBytes(d: String): Long =
    Files.walk(Paths.get(d)).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  // ---- the result file ----

  def run(): Unit = {
    val data = kv("data")
    workload match {
      case "curation" => queryWorkload(Workloads.Curation, data)
      case "cdc_mutation" => cdcWorkload(data)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val layers = recorder.map { r =>
      org.apache.spark.BenchBridge.drainListenerBus(spark.sparkContext)
      val a = new Attribution(r, ops.toSeq, spark.sparkContext.defaultParallelism)
      a.writeSpans(kv("spans"))
      a.perPass(grains.toMap, debt.toMap)
    }.getOrElse(Seq.empty)

    val sb = new StringBuilder
    sb ++= s"""{"workload":${Json.str(workload)},"seed":$seed,"""
    sb ++= s""""setup_s":${Json.num((setupEnd - jvmStart) / 1e3)},"""
    sb ++= s""""peak_rss_mb":${Json.num(peakRssMb)},"""
    sb ++= s""""discover_s":${Json.num(discoverS)},"space_amp":${Json.num(spaceAmp)},"""
    sb ++= s""""cdc_batches":$batchesRun,"complete_passes":${completed.mkString("[", ",", "]")},"""
    sb ++= ops.map { o =>
      val fail = if (!o.ok) o.error else checkFailures.getOrElse(o.id, "")
      s"""{"id":${o.id},"pass":${o.pass},"name":${Json.str(o.name)},"kind":"${o.kind}",""" +
        s""""start_ms":${Json.num(o.start)},"end_ms":${Json.num(o.end)},""" +
        s""""wall_s":${Json.num(o.wallS)},"construct_s":${Json.num(o.phaseS("construct"))},""" +
        s""""plan_s":${Json.num(o.phaseS("plan"))},"action_s":${Json.num(o.phaseS("action"))},""" +
        s""""grains":${grains.getOrElse(o.id, 0)},"failure":${Json.str(fail)}}"""
    }.mkString(""""ops":[""", ",", "],")
    sb ++= reads.map(r => r.map(Json.str).mkString("[", ",", "]")).mkString(""""cdc_reads":[""", ",", "],")
    sb ++= layers.map { case (p, m) =>
      m.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
        .mkString(s"""{"pass":$p,""", ",", "}")
    }.mkString(""""layers":[""", ",", "]}")
    Files.writeString(Paths.get(kv("out")), sb.toString)
  }

  /** The process's peak resident set (VmHWM). */
  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}
