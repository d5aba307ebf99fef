package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session builder: every main and the test suite run the
  * same configuration, and each setting's reason is written here once.
  */
object GraftSession {

  /** Cores for the local master: `SPARK_GRAFT_CPUS`, else every core the
    * JVM sees.
    */
  private def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // the engine's SQL functions (block_subsidy, script_to_address, …)
      .withExtensions(new GraftExtensions)
      // one shuffle partition per local core
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      // queries compare timestamps against DuckDB's epoch_us, which is UTC
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS), which Spark 4 otherwise
      // rejects; read as nanosecond longs (queries compute in microseconds
      // to line up with DuckDB's ns->us truncation)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Spark 4.1's union partitioning propagation plans SMJ over a
      // 2N-partition union as exchange-free against an N-partition side ->
      // runtime zip failure (observed on the fused addressStats)
      .config("spark.sql.unionOutputPartitioning", "false")
      // bucket-aligned gold joins cluster on a SUBSET of the join keys
      // (tx_hash buckets, (tx_hash, address) joins); allow that co-partition
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      // recentProgress retains only this many entries (default 100); the
      // corpus-scale drains count batches from it, and a long drain would
      // silently undercount
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      // ContextCleaner is GC-driven, and a big driver heap doing mostly small
      // allocations can go the default 30-min periodic-GC interval without a
      // full collection — shuffle files and checkpoint blocks of dead frames
      // then pile up on disk for a long single-JVM campaign; 2 min keeps
      // the reclaim continuous (it does not change bk0@30×'s heap demand:
      // the OOM at 8 g reproduces with and without it)
      .config("spark.cleaner.periodicGC.interval", "2min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
