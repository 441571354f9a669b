package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.AbstractFileContextBasedCheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** CheckpointFileManager for LOCAL (file://) streaming checkpoints whose
  * write path is plain java.nio instead of Hadoop's FileContext.
  *
  * Why it exists: without the Hadoop native library (libhadoop), every
  * FileContext file CREATE on the local filesystem applies its permission
  * by forking a `chmod` process. A streaming micro-batch performs several
  * such creates — offset-log entry (walCommit), commit-log entry
  * (commitOffsets), one state-store delta per store — so on a local
  * checkpoint dir the per-batch floor is process-fork-bound, not
  * I/O-bound: measured on this box's tmpfs, FileContext
  * create+write+rename of a 300-byte metadata file costs 88.8 ms vs
  * 0.27 ms through java.nio, and walCommit+commitOffsets alone were
  * ~100 ms of every micro-batch (OPTIMIZATION_r18.md;
  * NioCheckpointFileManagerSpec checks the contract below).
  *
  * Scope: registered via `spark.sql.streaming.checkpointFileManagerClass`
  * ONLY on the per-call session clones that run the ephemeral local
  * checkpoints of the replay/fixture streaming keys
  * (StreamingQ.EphemeralCkptConfs); a production deployment checkpoints
  * to durable shared storage, where the default manager (or the object
  * store's) is the right choice and this class is never installed.
  *
  * Semantics preserved relative to FileContextBasedCheckpointFileManager:
  * - createAtomic = write temp file + atomic rename-on-close, cancel
  *   deletes the temp file (RenameHelperMethods is sealed, so the
  *   rename plumbing is reimplemented here with the same contract);
  * - non-overwriting rename of an existing destination throws Hadoop's
  *   FileAlreadyExistsException — HDFSMetadataLog distinguishes a lost
  *   concurrent-writer race by that exact type;
  * - reads/lists/deletes stay on the inherited FileContext paths (no
  *   fork there — measured at 0.8 ms/op).
  */
class NioCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends AbstractFileContextBasedCheckpointFileManager(path, hadoopConf) {
  import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
  import NioCheckpointFileManager.nio

  require(Option(path.toUri.getScheme).forall(_ == "file"),
    s"NioCheckpointFileManager handles only local file:// paths, got $path")

  override def createAtomic(path: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    val dst = nio(path)
    val tmp = dst.resolveSibling(s".${dst.getFileName}.${
      java.util.UUID.randomUUID().toString}.tmp")
    if (dst.getParent != null) Files.createDirectories(dst.getParent)
    val out = Files.newOutputStream(tmp, StandardOpenOption.CREATE,
      StandardOpenOption.TRUNCATE_EXISTING, StandardOpenOption.WRITE)
    new NioCheckpointFileManager.NioAtomicStream(
      out, tmp, dst, path, overwriteIfPossible)
  }

  override def mkdirs(path: Path): Unit = {
    Files.createDirectories(nio(path))
  }
}

object NioCheckpointFileManager {
  import java.nio.file.{Files, Paths, StandardCopyOption}

  private def nio(p: Path): java.nio.file.Path = Paths.get(p.toUri.getPath)

  /** Temp-file stream that atomically renames into place on close and
    * deletes the temp file on cancel — the RenameBasedFSDataOutputStream
    * contract, over java.nio.
    */
  private final class NioAtomicStream(
      out: java.io.OutputStream,
      tmp: java.nio.file.Path,
      dst: java.nio.file.Path,
      hadoopDst: Path,
      overwriteIfPossible: Boolean)
      extends CancellableFSDataOutputStream(out) {
    @volatile private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        super.close()
        if (!overwriteIfPossible && Files.exists(dst)) {
          // a concurrent writer already committed this batch file:
          // surface the same exception type the FileContext manager's
          // Rename.NONE raises, after discarding our temp file
          Files.deleteIfExists(tmp)
          throw new org.apache.hadoop.fs.FileAlreadyExistsException(
            s"Failed to rename $tmp to $hadoopDst as destination already exists")
        }
        // POSIX rename: atomic, silently replaces dst — exactly the
        // overwriteIfPossible contract; the non-overwrite case was
        // screened above (single-JVM local checkpoints, no
        // cross-process race)
        Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try super.close() catch { case _: java.io.IOException => }
        Files.deleteIfExists(tmp)
      }
    }
  }
}
