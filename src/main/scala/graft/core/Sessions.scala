package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory (SURVEY §7 module 1): local[N] with UTC session
  * timezone, shuffle partitions = cores, UI off, and
  * [[graft.plans.GraftExtensions]] installed — so every entry point
  * (Verify, Bench, tests, user sessions) runs with the engine's
  * optimizer rule, planner strategy, and SQL functions active.
  */
object Sessions {
  def local(cores: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      // SURVEY §1.3: all timestamps normalized to UTC at the read
      // boundary. Spark 4 defaults inferTimestampNTZ=true, so a parquet
      // timestamp[us] with no tz annotation surfaces as TIMESTAMP_NTZ —
      // which time functions like unix_micros reject. With the session
      // tz pinned to UTC above, reading it as TIMESTAMP (LTZ) yields
      // the identical micros value, so this is a pure type fix.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
}
