package graft

import org.apache.spark.sql.SparkSession

/** Session factory shared by Verify/Bench/tests.
  *
  * local-mode defaults sized from the machine (local[N] over its
  * available processors; the heap comes from the launcher, see
  * build.sbt): shuffle partitions match core count, AQE on so
  * skewed/small shuffles re-plan at runtime — the same settings that
  * scale to a real cluster, where `spark.sql.shuffle.partitions` would
  * be set to ~2-3x total cores and AQE coalesces the rest.
  */
object Sessions {
  /** Core count: `SPARK_GRAFT_CPUS` if set, else the machine's. */
  def cpus: Int = cpusFrom(sys.env.get("SPARK_GRAFT_CPUS"))

  /** Parsed once: the same value feeds both local[N] and
    * spark.sql.shuffle.partitions, so a master-only value like '*' must
    * fail HERE with a clear message, not at the first shuffle. */
  def cpusFrom(raw: Option[String]): Int = raw match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(r) =>
      require(r.nonEmpty && r.forall(_.isDigit) && r.toInt > 0,
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$r'")
      r.toInt
  }

  def local(appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // let AQE re-plan CACHED subtrees too (broadcast conversion, partition
      // coalescing): persisted stages otherwise fall back to static planning
      // — size-estimate joins and fixed shuffle partitions — exactly the
      // plans the dedup suite stages most. Off by default only for
      // partitioning-compatibility caution; the engine derives downstream
      // requirements from actual output partitioning, so it composes.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // AQE's coalescing floor: bytes are a poor proxy for compute on
      // expression-heavy columns (md5/levenshtein/n-gram transforms), and
      // the default 1 MB floor folds every small-but-CPU-dense shuffle to
      // one task. 64 KB keeps such stages parallel without fragmenting
      // the many tiny-per-round shuffles of the iterative operators
      // (measured: a 16 KB floor cost the kmeans/IVF/star-cycle family
      // ~0.3-1.2 s each in task overhead). At production volumes every
      // partition clears both floors, so the setting is inert there
      // (partition targets still come from advisoryPartitionSizeInBytes).
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64kb")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.filterPushdown", "true")
      // zstd over the snappy default: at warehouse scale the corpus is
      // write-once read-many, and zstd's ~30% smaller files cut every
      // future scan's IO for a one-time write cost — the standard choice
      // for a 100 TB parquet estate (readers decode either transparently)
      .config("spark.sql.parquet.compression.codec", "zstd")
      // events.parquet carries TIMESTAMP(NANOS), which Spark's vectorized
      // reader rejects outright; read it as Long nanos and convert in the
      // loader (Tables.events) — Spark timestamps are micros anyway.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
