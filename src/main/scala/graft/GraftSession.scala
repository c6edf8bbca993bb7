package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory with the engine's standard tuning.
  *
  * Tuned for local[32] testing but with settings that scale to a real
  * cluster: AQE (runtime re-plan + skew-join splitting), partition
  * coalescing, and a broadcast threshold sized for TPC-H-ratio dims.
  */
object GraftSession {

  /** Apply graft's standard config to an existing builder. */
  def tune(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
    .config("spark.sql.parquet.filterPushdown", "true")
    // testdata events.parquet carries TIMESTAMP(NANOS) which Spark 4
    // refuses by default; read as long ns and convert explicitly.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.sql.warehouse.dir",
      sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft_warehouse/spark")
    .config("spark.sql.parquet.aggregatePushdown", "true")
    // runtime row-level join pruning: a bloom filter built from the
    // filtered build side prunes the probe-side scan before the shuffle
    .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    .config("spark.sql.optimizer.runtimeFilter.semiJoinReduction.enabled", "false")
    // local file:// without permission-materializing forks or .crc
    // sidecar doubling (see GraftLocalFileSystem); inert on cluster
    // filesystems, which keep their own impls
    .config("spark.hadoop.fs.file.impl", "graft.sources.GraftLocalFileSystem")
    .config("spark.ui.enabled", "false")

  /** The one session builder every harness uses: `local[cores]` with
    * as many shuffle partitions, `tune`d, logging at WARN. `cores`
    * defaults to `SPARK_GRAFT_CPUS`, else every available processor.
    */
  def local(cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())): SparkSession = {
    val s = tune(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("graft")
        .config("spark.sql.shuffle.partitions", cores.toString)
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Load a named table from an sf directory (TESTDATA.md layout).
    * Schema resolves driver-side from one footer (no inference job).
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    graft.sources.GraftIO.readParquet(spark, s"$sfDir/$name.parquet")

  /** Operator-grain cache lifecycle (r12 discipline). Operators cache
    * intermediate GRAINS (a tokenize pass, a signature table) that
    * their RETURNED plan references — the cache must outlive the
    * operator call (the caller's action is what pays it off), so a
    * try/finally unpersist inside the operator would silently
    * recompute the grain per consumer (the very double-tokenize class
    * GraftDoctor lints). Instead every grain registers here at cache
    * time (`grainCache()`), and the session owner releases them ALL
    * at its composition boundary with [[releaseGrains]] — between
    * queries (what Bench's clearCache already did), after a pipeline
    * stage, on a serving-session cadence. References are STRONG by
    * necessity: the CacheManager keeps a cached plan alive even after
    * the operator's local Dataset is garbage-collected, so the
    * registry's handle is the only thing that can still unpersist it —
    * and it is cleared (bounded) at every release point.
    */
  private val grainRegistry: java.util.Set[org.apache.spark.sql.Dataset[_]] =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.concurrent.ConcurrentHashMap[org.apache.spark.sql.Dataset[_], java.lang.Boolean]()))

  private[graft] def trackGrain(ds: org.apache.spark.sql.Dataset[_]): Unit =
    grainRegistry.add(ds)

  /** Unpersist every tracked operator grain (blocking=false). Safe at
    * any point — an unpersisted grain recomputes, never errors — and
    * precise: ONLY graft's operator-local caches are dropped, a
    * caller's own cached frames survive (the advantage over
    * `spark.catalog.clearCache()`). Returns how many grains released.
    */
  def releaseGrains(): Int = {
    val snapshot = grainRegistry.synchronized {
      val s = new java.util.ArrayList(grainRegistry)
      grainRegistry.clear()
      s
    }
    snapshot.forEach(_.unpersist(false))
    snapshot.size
  }

  /** `.grainCache()` — cache + register as an operator grain. */
  implicit class GrainOps[T](private val ds: org.apache.spark.sql.Dataset[T]) {
    def grainCache(): org.apache.spark.sql.Dataset[T] = {
      ds.cache()
      trackGrain(ds)
      ds
    }
  }

  /** Frees the storage blocks behind a localCheckpoint'd Dataset.
    * `Dataset.unpersist` only clears CacheManager entries and is a
    * NO-OP for checkpoints (verified on this Spark build): the blocks
    * belong to the materialized RDD inside the plan's LogicalRDD
    * leaf, so that RDD must be unpersisted directly. Call ONLY on a
    * checkpoint no live plan will read again — its lineage is
    * truncated, so dropped blocks cannot be recomputed.
    *
    * Accepts ONLY the checkpoint Dataset itself (analyzed plan = one
    * bare LogicalRDD leaf). A derived plan is rejected: it may join or
    * union OTHER still-live LogicalRDD leaves, and unpersisting every
    * leaf found would free those checkpoints' blocks too — later reads
    * then fail with missing blocks rather than recomputing, because
    * checkpoint lineage is truncated.
    */
  def releaseCheckpoint(df: org.apache.spark.sql.Dataset[_]): Unit = {
    val plan = df.queryExecution.analyzed
    require(plan.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD],
      "[GRAFT] releaseCheckpoint takes the localCheckpoint Dataset itself " +
        s"(a bare LogicalRDD plan), not a derived plan: ${plan.nodeName}")
    plan.asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd.unpersist(false)
  }
}
