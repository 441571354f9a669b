package graft.queries

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions

/** Scratch-file handoff between a Spark query and its DuckDB oracle.
  *
  * Some operators materialize an intermediate (simhash signatures,
  * winnowing hashes, decoded multimodal planes) to parquet so the oracle
  * can re-derive everything downstream of a Spark-only kernel from the
  * exact same bytes. Two failure modes a fixed world-writable `/tmp`
  * path invites:
  *
  *   - a concurrent run against a DIFFERENT sf dir overwrites the file
  *     between this run's dump and its DuckDB compare → poisoned oracle;
  *   - another local user pre-creates the path → clobber or poison.
  *
  * So handoff paths live under a per-user 0700 directory and embed a
  * tag derived from the data dir. The oracle SQL is a static string
  * (the `SparkEntry.oracleSql` contract takes no dir argument), so it
  * carries [[Placeholder]] where the tag goes; [[Verify]] substitutes
  * the real tag for its sf dir at dump time — the SQL DuckDB executes
  * always names the same file the Spark run just wrote.
  */
object Scratch {

  /** Literal token in oracle SQL, replaced by [[resolveSql]]. */
  val Placeholder = "__GRAFT_DIR_TAG__"

  /** Deterministic tag for a data dir — same derivation as the bucketed
    * table names, so repeated runs on one dir overwrite in place while
    * runs on different dirs never share a path.
    */
  def tag(d: String): String = Integer.toHexString(d.hashCode)

  private[graft] lazy val root: Path = {
    val user = sys.props.getOrElse("user.name", "graft")
    val p = Paths.get(sys.props("java.io.tmpdir"), s"graft_scratch_$user")
    Files.createDirectories(p)
    try Files.setPosixFilePermissions(
      p, PosixFilePermissions.fromString("rwx------"))
    catch { case _: UnsupportedOperationException => () } // non-POSIX FS
    p
  }

  /** Concrete path for the Spark side (writer/reader) of a handoff. */
  def path(name: String, d: String): String =
    root.resolve(s"${name}_${tag(d)}.parquet").toString

  /** Path form for embedding in static oracle SQL. */
  def sqlPath(name: String): String =
    root.resolve(s"${name}_$Placeholder.parquet").toString

  /** Bind a static oracle SQL string to a concrete data dir. */
  def resolveSql(sql: String, d: String): String =
    sql.replace(Placeholder, tag(d))

  /** Delete `p` and everything under it; a missing `p` is a no-op. */
  private[graft] def rmTree(p: Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(Files.deleteIfExists(_))
    }
}
