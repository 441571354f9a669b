package graft

import org.apache.spark.sql.SparkSession

/** Plumbing shared by the local mains (Bench, Verify, Explain,
  * EtlMain, ScaleGen) and the test session.
  */
object GraftSession {

  /** Builder for a `local[cpus]` session with the config every query
    * assumes: UTC session time zone, GraftExtensions, the legacy
    * nanosecond-parquet read `Tables.events` relies on, no UI, and one
    * shuffle partition per core. Callers add their own settings.
    */
  def local(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** JSON string literal: escapes backslash, quote and ALL control
    * chars (< 0x20) — a tab or CR in builder-authored SQL would
    * otherwise make a consumer's json.load fail.
    */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
