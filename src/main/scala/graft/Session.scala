package graft

import org.apache.spark.sql.SparkSession

import graft.util.Confs

/** The one way this repo builds a session. Every entry point, tool and
  * the test harness starts from `Session.builder(cores)` and adds only
  * what is truly its own (an app name, a warehouse dir, state
  * partitions), so the conf contract cannot drift between copies:
  *   - `local[cores]` with `cores` shuffle partitions;
  *   - a UTC session time zone (the fixtures' timestamp contract);
  *   - `GraftExtensions` (the DuckDB-compat function pack and the SQL
  *     surface of the custom kernels);
  *   - `nanosAsLong`, so a TIMESTAMP(NANOS) fixture footer resolves
  *     (it only affects NANOS columns);
  *   - the objectHashAggregate fallback threshold at 500000, which the
  *     bounded-state aggregates rely on (see [[graft.util.Confs]]);
  *   - no Spark UI. */
object Session {
  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config(Confs.ObjHashKey, "500000")
      .config("spark.ui.enabled", "false")
}
