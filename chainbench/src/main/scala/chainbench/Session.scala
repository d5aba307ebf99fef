package chainbench

import org.apache.spark.sql.SparkSession

/** The one place the benchmark builds its engine session. The settings are
  * the ones the repository's rehearsal mains use (ScaleRehearsal,
  * StreamRehearsal): local[cores], one shuffle partition per core, UTC,
  * nanosecond parquet timestamps as longs, no UI, the two partitioning
  * flags the bucketed silver layout relies on, the streaming progress
  * history the drains read, and the 2-minute periodic cleaner GC.
  *
  * Only data location is added: spill, shuffle and warehouse files go under
  * the benchmark's work directory so a run writes nowhere else. No engine
  * behaviour knob is set.
  */
object Session {

  def build(cores: Int, workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName("chainbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.unionOutputPartitioning", "false")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
