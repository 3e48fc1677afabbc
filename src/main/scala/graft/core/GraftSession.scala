package graft.core

import org.apache.spark.sql.SparkSession

/** Single place where engine-level Spark tuning lives, so every entry
  * point (Verify, Bench, tests, serving) runs the same plan-shaping
  * config. Values are chosen for the local[32] harness but the knobs
  * are the ones that matter on a real cluster too: AQE re-plans
  * shuffles at runtime (skew join, partition coalescing), shuffle
  * parallelism is sized to cores rather than the 200 default, and
  * timestamps are pinned to UTC for oracle parity.
  */
object GraftSession {
  def defaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def builder(master: String = s"local[$defaultCpus]",
              shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // one pass over the 40-query inventory compiles ~330 codegen
      // classes (sf0.001, local[8]). Spark's default 100-entry cache
      // would evict by hash segment, so what a repeated pass recompiles
      // would depend on the hash codes of generated source; with room
      // for several passes a repeat recompiles only the classes whose
      // source changed between runs
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the synthetic events table has carried parquet TIMESTAMP(NANOS)
      // in some generations and TIMESTAMP(MICROS, isAdjustedToUTC=false)
      // in others. Nanos: Spark has no nanos TimestampType, so read them
      // as raw longs and normalize in Tables.events. Micros without UTC
      // adjustment: Spark ≥3.4 infers TIMESTAMP_NTZ by default, which
      // unix_micros()/to_utc conversions reject — disable the inference
      // so the column scans as plain TimestampType whose epoch-micros
      // match what DuckDB's epoch_us sees (session tz is pinned UTC).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")

  def local(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
