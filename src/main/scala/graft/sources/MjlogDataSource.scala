package graft.sources

import java.time.LocalDate
import java.time.format.DateTimeFormatter
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.etl.MjlogParser
import graft.model.ParsedGame

/** DataSource V2 for the Tenhou mjlog XML format — the reference's E6+E7
  * (directory scan + XML parse, extractor.py:64 / main.py) exposed the
  * way a Spark user expects a source: `spark.read.format("mjlog")
  * .load(dir)` yields one nested row per game (the [[ParsedGame]]
  * schema), from which `Pipeline.tables` demuxes the 9 reference tables.
  *
  * Scale design:
  *  - files are BIN-PACKED into InputPartitions with
  *    FileSourceScanExec's split policy (maxPartitionBytes /
  *    openCostInBytes / minPartitionNum, whole files only — a game
  *    never splits): KB-sized mjlogs pack hundreds to a task instead of
  *    one task per file, while a 1000-executor cluster still gets full
  *    parallelism from the same policy;
  *  - file listing runs once on the driver through the Hadoop
  *    FileSystem API, so the same code reads local disk, HDFS, or any
  *    object store with a Hadoop connector;
  *  - column pruning is pushed into the reader
  *    ([[SupportsPushDownRequiredColumns]]): parse is all-or-nothing,
  *    but the per-row projection drops unused (potentially deeply
  *    nested) columns BEFORE rows cross the task boundary, so
  *    `select(game_id)` ships ids, not full games.
  */
class MjlogDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "mjlog"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    MjlogTable.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new MjlogTable(Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("mjlog source requires a path")))
  override def supportsExternalMetadata(): Boolean = false
}

object MjlogTable {
  /** Row schema = the ParsedGame encoder's schema (single source of
    * truth with the typed ETL path).
    */
  val Schema: StructType = ExpressionEncoder[ParsedGame]().schema

  private[sources] val DirDate = DateTimeFormatter.ofPattern("yyyyMMdd")
  private val FileRe = "(\\d{8})/([^/]+)\\.xml$".r

  /** (dt, game_id) from `<YYYYMMDD>/<id>.xml`, as in Pipeline.parseRaw. */
  def parseName(path: String): Option[(LocalDate, String)] =
    FileRe.findFirstMatchIn(path).map { m =>
      (LocalDate.parse(m.group(1), DirDate), m.group(2))
    }

  /** Filter-literal → epoch day, whichever date representation Spark
    * hands down (java.sql.Date by default, LocalDate under the java8
    * datetime API).
    */
  def literalEpochDay(v: Any): Option[Long] = v match {
    case d: java.sql.Date      => Some(d.toLocalDate.toEpochDay)
    case d: LocalDate          => Some(d.toEpochDay)
    case _                     => None
  }

  /** A source filter this scan can evaluate from the path alone: a
    * comparison on the `dt` column against date literals. (Top-level
    * AND is already split by Spark before pushFilters.)
    */
  def isDtPrunable(f: Filter): Boolean = f match {
    case EqualTo("dt", v)            => literalEpochDay(v).isDefined
    case GreaterThan("dt", v)        => literalEpochDay(v).isDefined
    case GreaterThanOrEqual("dt", v) => literalEpochDay(v).isDefined
    case LessThan("dt", v)           => literalEpochDay(v).isDefined
    case LessThanOrEqual("dt", v)    => literalEpochDay(v).isDefined
    case In("dt", vs)                => vs.nonEmpty && vs.forall(v => literalEpochDay(v).isDefined)
    case _                           => false
  }

  /** Evaluate a prunable filter against one file's path-derived dt. */
  def dtSatisfies(epochDay: Long, f: Filter): Boolean = f match {
    case EqualTo("dt", v)            => literalEpochDay(v).contains(epochDay)
    case GreaterThan("dt", v)        => literalEpochDay(v).exists(epochDay > _)
    case GreaterThanOrEqual("dt", v) => literalEpochDay(v).exists(epochDay >= _)
    case LessThan("dt", v)           => literalEpochDay(v).exists(epochDay < _)
    case LessThanOrEqual("dt", v)    => literalEpochDay(v).exists(epochDay <= _)
    case In("dt", vs)                => vs.exists(v => literalEpochDay(v).contains(epochDay))
    case _                           => true
  }
}

class MjlogTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"mjlog:`$path`"
  override def schema(): StructType = MjlogTable.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
                         TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new MjlogScanBuilder(path,
      Option(options.get("maxFilesPerTrigger")).map(_.toInt))
}

class MjlogScanBuilder(path: String, maxFilesPerTrigger: Option[Int] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = MjlogTable.Schema
  private var dtFilters: Array[Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit =
    // honor pruning at the TOP level only: Spark may hand back nested
    // structs with fields removed (schema pruning), but the parser
    // materializes whole games, so we keep each selected column's full
    // type and let Spark's retained Project trim nested fields above
    // the scan — best-effort pruning is the documented contract
    required = StructType(
      requiredSchema.fieldNames.map(n => MjlogTable.Schema(n)))
  // dt is path-derived (reference E4: date-prefix filter at LISTING
  // time, extractor.py:33-40), so dt comparisons prune InputPartitions
  // before they are created — a `.where($"dt" === d)` over a year of
  // logs lists one day, not 365. All filters are returned as residual:
  // pruning is a partition-elimination optimization, Spark re-checks
  // rows above the scan (free at one game per file).
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    dtFilters = filters.filter(MjlogTable.isDtPrunable)
    filters
  }
  override def pushedFilters(): Array[Filter] = dtFilters
  override def build(): Scan =
    new MjlogScan(path, required, dtFilters, maxFilesPerTrigger)
}

/** One whole xml file inside a packed partition. */
case class MjlogFileSpec(file: String, len: Long, dtEpochDay: Long,
                         gameId: String)

case class MjlogFilesPartition(files: Seq[MjlogFileSpec])
    extends InputPartition

/** Driver-side listing + whole-file bin-packing, shared by the batch
  * scan and the micro-batch stream.
  */
object MjlogListing {

  /** Test probe: one entry per [[listFiles]] call = the number of
    * directories that call listed (listStatus round-trips). Lets specs
    * assert the stream's watermark-pruned incremental listing skips day
    * dirs, and that one listing is shared per trigger, without wrapping
    * the FileSystem. Driver-side only; cleared by specs.
    */
  val listingProbe = new java.util.concurrent.ConcurrentLinkedQueue[Int]()

  /** E4 date-prefix pruning at LISTING time (extractor.py:33-40): walk
    * the tree breadth-first, skip whole `<YYYYMMDD>` day dirs whose
    * path-derived dt fails a pushed filter BEFORE listing their files —
    * over a year of logs a dt= predicate lists one day, not 365. Each
    * depth level lists its sibling dirs in parallel (bounded pool, as
    * InMemoryFileIndex does above its listing threshold): 365+ day dirs
    * on an object store pay ~ceil(365/16) LIST round-trips instead of
    * 365 serial ones. listStatus (no per-file block locations) is the
    * cheap call on local/HDFS; object-store connectors flat-list a day
    * dir in one request.
    */
  def listFiles(fs: FileSystem, root: HPath,
                dtFilters: Array[Filter]): Array[MjlogFileSpec] = {
    val specs = Array.newBuilder[MjlogFileSpec]
    def dayDirPruned(name: String): Boolean =
      name.matches("\\d{8}") && {
        val ed = LocalDate.parse(name, MjlogTable.DirDate).toEpochDay
        !dtFilters.forall(MjlogTable.dtSatisfies(ed, _))
      }
    var frontier: Seq[HPath] = Seq(root)
    var dirsThisCall = 0
    while (frontier.nonEmpty) {
      dirsThisCall += frontier.size
      val listed: Seq[org.apache.hadoop.fs.FileStatus] =
        if (frontier.size <= 1) frontier.flatMap(fs.listStatus(_).toSeq)
        else {
          val pool = java.util.concurrent.Executors.newFixedThreadPool(
            math.min(16, frontier.size))
          try frontier
            .map(d => pool.submit(
              new java.util.concurrent.Callable[Array[org.apache.hadoop.fs.FileStatus]] {
                override def call() = fs.listStatus(d)
              }))
            .flatMap(_.get().toSeq)
          finally pool.shutdown()
        }
      frontier = listed.collect {
        case d if d.isDirectory && !dayDirPruned(d.getPath.getName) => d.getPath
      }
      listed.foreach { f =>
        val p = f.getPath.toString
        if (!f.isDirectory && p.endsWith(".xml"))
          MjlogTable.parseName(p).foreach { case (dt, id) =>
            val ed = dt.toEpochDay
            if (dtFilters.forall(MjlogTable.dtSatisfies(ed, _)))
              specs += MjlogFileSpec(p, f.getLen, ed, id)
          }
      }
    }
    listingProbe.add(dirsThisCall)
    specs.result()
  }

  /** FileSourceScanExec's split policy applied to WHOLE files (a game
    * never splits): KB-sized mjlogs would otherwise cost one task each
    * — 200k files = 200k task launches — so pack largest-first up to
    * maxSplitBytes, honoring the same session knobs the parquet scan
    * uses (Pipeline.etlSession sets openCostInBytes=64k for mjlog corpora).
    */
  def pack(files: Array[MjlogFileSpec], openCost: Long, minParts: Int,
           maxPartitionBytes: Long): Array[InputPartition] = {
    val totalBytes = files.map(_.len + openCost).sum
    val bytesPerCore = totalBytes / math.max(1, minParts)
    val maxSplit = math.min(maxPartitionBytes,
                            math.max(openCost, bytesPerCore))
    val parts = Array.newBuilder[InputPartition]
    val cur = scala.collection.mutable.ArrayBuffer.empty[MjlogFileSpec]
    var curBytes = 0L
    files.sortBy(f => (-f.len, f.file)).foreach { f =>
      val cost = f.len + openCost
      if (cur.nonEmpty && curBytes + cost > maxSplit) {
        parts += MjlogFilesPartition(cur.toVector); cur.clear(); curBytes = 0L
      }
      cur += f; curBytes += cost
    }
    if (cur.nonEmpty) parts += MjlogFilesPartition(cur.toVector)
    parts.result()
  }

  /** The three split-policy knobs read from the active session. */
  def splitKnobs(session: org.apache.spark.sql.SparkSession): (Long, Int, Long) = {
    val sql = session.sessionState.conf
    (sql.filesOpenCostInBytes,
     sql.filesMinPartitionNum
       .getOrElse(session.sparkContext.defaultParallelism),
     sql.filesMaxPartitionBytes)
  }
}

class MjlogScan(path: String, required: StructType,
                dtFilters: Array[Filter] = Array.empty,
                maxFilesPerTrigger: Option[Int] = None)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  // surface the listing-time pruning in `.explain()`: BatchScan prints
  // the scan's description, so the pushed dt filters are visible in the
  // plan the same way FileSourceScanExec prints PushedFilters
  override def description(): String =
    s"mjlog $path, PushedFilters: ${dtFilters.mkString("[", ", ", "]")}"

  // Memoized: one Scan instance is shared by every physical-plan copy of
  // a query execution, but Spark's planning rules (supportsColumnar,
  // RemoveRedundantProjects, AQE re-plans, ...) each hold their own
  // BatchScanExec whose `inputPartitions` lazy val calls back into this
  // Batch — without the cache the recursive file listing re-ran once per
  // rule, which dominated wall time (measured ~7× a 10 s listing on a
  // 10k-file corpus). A fresh action builds a fresh Scan via the
  // ScanBuilder, so the listing is still re-taken per query.
  override def planInputPartitions(): Array[InputPartition] = cachedPartitions

  private lazy val cachedPartitions: Array[InputPartition] = {
    val session = org.apache.spark.sql.SparkSession.active
    val root = new HPath(path)
    val fs = root.getFileSystem(session.sparkContext.hadoopConfiguration)
    val (openCost, minParts, maxPB) = MjlogListing.splitKnobs(session)
    MjlogListing.pack(
      MjlogListing.listFiles(fs, root, dtFilters), openCost, minParts, maxPB)
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val session = org.apache.spark.sql.SparkSession.active
    val conf = new org.apache.spark.util.SerializableConfiguration(
      session.sparkContext.hadoopConfiguration)
    // same skip counter as the typed path (graft.etl.ParseMetrics):
    // registered driver-side, bumped in executors, visible in the UI
    new MjlogReaderFactory(required, conf,
      graft.etl.ParseMetrics.skippedFiles(session))
  }

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new MjlogMicroBatchStream(path, required, dtFilters, maxFilesPerTrigger)
}

/** Offset for the mjlog stream: the max file path read so far (paths
  * sort as `<root>/<YYYYMMDD>/<id>.xml`, so path order IS scrape order
  * for the reference's daily-append layout, extractor.py:58-67). The
  * raw path string is the offset's JSON payload — Spark treats it
  * opaquely in the checkpoint offset log.
  */
case class MjlogOffset(maxPath: String)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = maxPath
}

/** Micro-batch stream over a growing mjlog directory tree — the
  * reference's E6 directory scan + E13 per-date incremental flush
  * (main.py:18-33) as a Structured Streaming source:
  * `spark.readStream.format("mjlog").load(dir)` emits each game once,
  * in file-path order, batched per trigger.
  *
  * Exactly-once contract: offsets are max-path watermarks, so delivery
  * is exactly-once as long as new files arrive at paths AFTER the
  * committed watermark — true for the reference's layout, where each
  * day's scrape appends under a fresh `<YYYYMMDD>/` prefix. A file
  * backfilled BELOW the watermark is skipped (same behavior as
  * FileStreamSource once a file ages past maxFileAge). At 100 TB this
  * keeps the per-trigger driver state at one string, vs the
  * seen-files map FileStreamSource must persist.
  *
  * dt filters: Spark's streaming planner does not run filter pushdown
  * for V2 streams (the Filter stays above the scan and is applied
  * row-wise — semantically identical), so `dtFilters` is empty today;
  * the plumbing below composes if a pushdown-capable planner hands
  * them down.
  */
class MjlogMicroBatchStream(path: String, required: StructType,
                            dtFilters: Array[Filter],
                            maxFilesPerTrigger: Option[Int] = None)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadAllAvailable, ReadLimit, ReadMaxFiles}

  // capture session-derived state eagerly: stream lifecycle methods run
  // on the streaming query thread, where SparkSession.active may differ
  private val session = org.apache.spark.sql.SparkSession.active
  private val hadoopConf = new org.apache.spark.util.SerializableConfiguration(
    session.sparkContext.hadoopConfiguration)
  private val (openCost, minParts, maxPB) = MjlogListing.splitKnobs(session)
  private val skipped = graft.etl.ParseMetrics.skippedFiles(session)
  private val root = new HPath(path)
  private val fs = root.getFileSystem(hadoopConf.value)

  override def initialOffset(): Offset = MjlogOffset("")
  override def deserializeOffset(json: String): Offset = MjlogOffset(json)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  // Admission control: without a limit, a restart against a year-long
  // backfill would land the whole year in ONE micro-batch. With
  // `.option("maxFilesPerTrigger", n)` the watermark advances at most n
  // files (in path = scrape order) per trigger, bounding batch size and
  // state the same way FileStreamSource's maxFilesPerTrigger does.
  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(n => ReadLimit.maxFiles(n))
      .getOrElse(ReadLimit.allAvailable())

  // Trigger.AvailableNow (SupportsTriggerAvailableNow): snapshot the
  // backlog's end once at query start; subsequent triggers keep
  // stepping the watermark by maxFilesPerTrigger but never past the
  // snapshot, so a bounded-batch drain terminates even while new files
  // keep arriving. Without this Spark falls back to one
  // all-files-in-one-batch trigger.
  @volatile private var availableNowCap: Option[String] = None
  override def prepareForTriggerAvailableNow(): Unit = {
    val files = listFrom("")
    lastListingFresh = true
    availableNowCap = Some(if (files.isEmpty) "" else files.map(_.file).max)
  }

  // Incremental listing: the offset is a max PATH and paths embed the
  // day (`<root>/<YYYYMMDD>/<id>.xml`), so every day dir strictly below
  // the committed watermark's day is dead weight — draining a year-long
  // backlog with maxFilesPerTrigger must not pay O(whole tree) per
  // trigger to admit n files. Derive a `dt >= watermarkDay` filter from
  // the start offset (the watermark's OWN day still lists: files above
  // the watermark may share its day dir) and reuse the listing-time
  // pruning the batch scan already has. The one listing a trigger takes
  // here is shared with the same trigger's planInputPartitions below.
  private def watermarkFilters(startPath: String): Array[Filter] =
    dtFilters ++ MjlogTable.parseName(startPath).map { case (day, _) =>
      GreaterThanOrEqual("dt", java.sql.Date.valueOf(day)) }

  // One listing per trigger: latestOffset lists (or consumes the fresh
  // AvailableNow seed, exactly once — an idle trigger must NOT reuse a
  // prior trigger's listing or new files would never be discovered) and
  // the same trigger's planInputPartitions reuses it by start-offset key.
  @volatile private var lastListing: Option[(String, Array[MjlogFileSpec])] = None
  @volatile private var lastListingFresh = false
  private def listFrom(startPath: String): Array[MjlogFileSpec] = {
    val files = MjlogListing.listFiles(fs, root, watermarkFilters(startPath))
    lastListing = Some((startPath, files))
    files
  }

  // Backfill observability: exactly-once covers path-ordered appends
  // only; a file landing BELOW the committed watermark is skipped by
  // design (scaladoc above). Make the skip countable: when a trigger
  // ends at watermark e, remember how many listed files sit at-or-below
  // e among the day dirs the NEXT trigger will still list; any excess
  // the next trigger observes is a backfilled file that will never be
  // emitted → bump the "graft.mjlog.backfilledFiles" accumulator.
  // (A backfill into a day dir older than the watermark's day is below
  // the pruned listing's horizon — same blind spot as FileStreamSource
  // past maxFileAge — which is why the baseline counts only days the
  // next listing will see.)
  @volatile private var expectedBelow: Option[(String, Long)] = None
  private val backfilled = graft.etl.ParseMetrics.backfilledFiles(session)
  private def countBelow(files: Array[MjlogFileSpec], mark: String): Long = {
    val markDay = MjlogTable.parseName(mark).map(_._1.toEpochDay)
    files.count(f => f.file <= mark && markDay.forall(f.dtEpochDay >= _)).toLong
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[MjlogOffset].maxPath
    val files = lastListing match {
      // AvailableNow seeds the cache with a full listing at query start;
      // reuse it for the first trigger instead of listing a second time
      case Some((`s`, cached)) if lastListingFresh => cached
      case _                                       => listFrom(s)
    }
    lastListingFresh = false
    expectedBelow match {
      case Some((`s`, exp)) =>
        val below = countBelow(files, s)
        if (below > exp) {
          backfilled.add(below - exp)
          graft.etl.LenientParse.warnSkip("graft-mjlog-stream",
            s"$root: ${below - exp} file(s) backfilled below watermark $s",
            new IllegalStateException("backfill below committed watermark"))
        }
      case _ => ()
    }
    val pending = files
      .collect { case f if f.file > s &&
                   availableNowCap.forall(f.file <= _) => f.file }
      .sorted
    val admitted = limit match {
      case m: ReadMaxFiles      => pending.take(m.maxFiles())
      case _: ReadAllAvailable  => pending
      case _                    => pending
    }
    val e = if (admitted.isEmpty) s else admitted.last
    expectedBelow = Some((e, countBelow(files, e)))
    MjlogOffset(e)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[MjlogOffset].maxPath
    val e = end.asInstanceOf[MjlogOffset].maxPath
    // same trigger as the latestOffset above → its listing is cached;
    // a checkpoint REPLAY of a committed batch (no preceding
    // latestOffset call) re-lists, still day-pruned from the replayed
    // batch's own start
    val files = lastListing match {
      case Some((`s`, cached)) => cached
      case _                   => listFrom(s)
    }
    val batch = files.filter(f => f.file > s && f.file <= e)
    MjlogListing.pack(batch, openCost, minParts, maxPB)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new MjlogReaderFactory(required, hadoopConf, skipped)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

object MjlogReaderFactory {
  /** Encoder resolution and UnsafeProjection codegen are driver-grade
    * costs (~10 ms each); paying them per FILE made the V2 path ~20×
    * slower than the typed one on a 10k-file corpus. Both are stateful
    * (reused buffers), so: one instance per (required schema, executor
    * thread), built on first use and reused for every file the thread
    * ever reads. The projection binds each required field to its
    * ordinal in the full row (the pushed-down column pruning).
    */
  private val codecs = new java.util.concurrent.ConcurrentHashMap[
    StructType,
    ThreadLocal[(ParsedGame => InternalRow, UnsafeProjection)]]()

  private[sources] def codecFor(required: StructType)
      : (ParsedGame => InternalRow, UnsafeProjection) =
    codecs.computeIfAbsent(required, schema =>
      ThreadLocal.withInitial { () =>
        val ser = ExpressionEncoder[ParsedGame]().createSerializer()
        val full = MjlogTable.Schema
        val refs = schema.fields.map { f =>
          val i = full.fieldIndex(f.name)
          BoundReference(i, full(i).dataType, full(i).nullable)
        }
        ((g: ParsedGame) => ser(g), UnsafeProjection.create(refs.toSeq))
      }).get()
}

class MjlogReaderFactory(
    required: StructType,
    conf: org.apache.spark.util.SerializableConfiguration,
    skipped: org.apache.spark.util.LongAccumulator)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[MjlogFilesPartition]
    new PartitionReader[InternalRow] {
      private val files = p.files.iterator
      private var fs: org.apache.hadoop.fs.FileSystem = _
      private var row: InternalRow = _
      // one codec lookup per partition, not per row: a task consumes
      // its reader on a single thread, so the ThreadLocal resolution
      // (and the nested StructType hashCode it keys on) can be done
      // once. Lazy because createReader may run before the task thread
      // takes over.
      private lazy val codec = MjlogReaderFactory.codecFor(required)

      @annotation.tailrec
      override final def next(): Boolean =
        if (!files.hasNext) false
        else {
          val f = files.next()
          val hp = new HPath(f.file)
          if (fs == null) fs = hp.getFileSystem(conf.value)
          val out = new java.io.ByteArrayOutputStream()
          val in = fs.open(hp)
          try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
          finally in.close()
          val xml = out.toString(java.nio.charset.StandardCharsets.UTF_8)
          // same per-file leniency as Pipeline.parseRaw: one corrupt log
          // skips, it must not kill the job
          val game: ParsedGame =
            try MjlogParser.parse(xml, f.gameId,
                                  LocalDate.ofEpochDay(f.dtEpochDay))
            catch {
              case e: Exception =>
                skipped.add(1L)
                graft.etl.LenientParse.warnSkip("graft-mjlog", f.file, e)
                null
            }
          if (game == null) next()
          else {
            val (serialize, project) = codec
            row = project(serialize(game)).copy()
            true
          }
        }

      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}
