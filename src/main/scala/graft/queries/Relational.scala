package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import util._

/** Scans, projection/filter, joins, aggregation, sort/limit, set ops —
  * the relational core of SURVEY.md §2.3.
  *
  * Every query ends in a total ORDER BY (unique key set) and computed
  * doubles go through the exact-decimal trick in [[util.dsum]] so the
  * driver's DuckDB hash compare is deterministic.
  *
  * Scale notes are inline per query; the common themes:
  *  - joins declare only the equi/condition — Catalyst picks broadcast vs
  *    shuffled-hash vs sort-merge by size, and AQE re-plans at runtime;
  *  - aggregations are partial+final automatically (map-side combine);
  *  - filters/projections sit directly on the scan so they push down to
  *    parquet (verify via `.explain`: PushedFilters / ReadSchema).
  */
object Relational {

  // ---------------------------------------------------------------- scans

  /** Full scan + narrow projection. At 100 TB the only thing that matters
    * here is ReadSchema: we select 3 of 11 columns so the parquet reader
    * materializes 3 column chunks, not the whole row.
    */
  // ORDER BY covers every projected column: (l_orderkey, l_linenumber)
  // is NOT unique in the data, and a non-total order let the two
  // engines permute tied rows once the input spanned multiple files
  // (caught by the sf1 gate; same fix on every lineitem detail key)
  val qScanParquet: Q = (s, d) =>
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber", "l_quantity")

  val qScanParquetSql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin

  /** Predicate reaching the scan: row-group/page-level skipping via
    * parquet min/max stats (PushedFilters). On a `dt=`-partitioned lake
    * the same predicate also prunes partitions before listing.
    */
  val qScanPruned: Q = (s, d) =>
    Tables.lineitem(s, d)
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
             col("l_shipdate") <  lit("1996-04-01").cast("timestamp"))
      .select("l_orderkey", "l_linenumber", "l_shipdate")
      .orderBy("l_orderkey", "l_linenumber", "l_shipdate")

  val qScanPrunedSql: String =
    """SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate <  TIMESTAMP '1996-04-01'
      |ORDER BY l_orderkey, l_linenumber, l_shipdate""".stripMargin

  /** Stable scratch dir per (prefix, input dir) under [[Scratch]]'s
    * per-user root: repeated Verify/Bench runs overwrite in place
    * instead of accumulating temp garbage. (`private[graft]` so
    * CompactionSpec can locate q_sink_compact's output dirs and count
    * files.)
    *
    * The `q_scan_*` round-trips declare the SCAN as the operator under
    * test, so their text/columnar seed is written once per sf dir
    * ([[Seeds.once]]) and reused across reps and runs — re-seeding per
    * rep measures the writer, not the reader (same rationale as
    * q_sink_compact's fragmented seed).
    */
  private[graft] def scratchDir(prefix: String, d: String): String =
    Scratch.root.resolve(prefix + "_" + Scratch.tag(d)).toString

  /** Partitioned parquet sink (reference E11, scrape.py:612-660:
    * `<table>/dt=.../` layout) — write partitioned by a key, read back,
    * aggregate. The oracle aggregates the original table, so this checks
    * the round-trip loses nothing. Hive-style directory partitioning is
    * exactly what enables partition pruning at 100 TB.
    */
  val qSinkPartitioned: Q = (s, d) => {
    val tmp = scratchDir("sink", d)
    Tables.lineitem(s, d)
      // project before the sink: the downstream aggregate reads 2 of 11
      // columns, so only those (plus the salt source) are written —
      // column pruning applies to sinks too, not just scans
      .select(col("l_returnflag"), col("l_extendedprice"), col("l_orderkey"))
      // (partition key, salt) split: each l_returnflag directory is
      // written by up to 8 tasks instead of 1 — 3 distinct flags would
      // otherwise serialize the whole table through 3 tasks at any
      // scale, while files-per-directory stays bounded at 8
      .repartition(col("l_returnflag"), pmod(col("l_orderkey"), lit(8)))
      .drop("l_orderkey")
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(tmp)
    Tables.parquet(s, tmp)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("cnt"), dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy("l_returnflag")
  }

  val qSinkPartitionedSql: String =
    s"""SELECT l_returnflag, COUNT(*) AS cnt, ${dsumSql("l_extendedprice")} AS sum_price
       |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Small-file compaction of a partitioned table — the OPTIMIZE /
    * bin-pack maintenance job every long-lived partitioned sink needs
    * (Delta/Iceberg ship it as a command; declaratively it is one
    * keyed repartition + rewrite). Seed: orders written partitioned by
    * month with a deliberately fragmented layout (round-robin over 4
    * tasks, so every month directory holds ~4 small files — the shape
    * a day's worth of incremental micro-batch appends leaves behind).
    * Compact: read back, `repartition(col("month"))` so each directory
    * is rewritten by exactly one task → one file per partition, write
    * to a fresh dir (at 100 TB the swap is a directory rename /
    * metastore pointer flip, and compaction runs per-partition so a
    * failed rewrite never corrupts the live table). The query returns
    * per-month rowcount + exact revenue from the COMPACTED copy; the
    * oracle computes the same from the original table, proving the
    * rewrite lost nothing. CompactionSpec asserts the physical
    * file-count collapse (~4 → 1 per partition). The fragmented seed is
    * written ONCE per sf dir and reused by later runs: seeding cost
    * twice the compaction's, so a benchmark that re-seeded per rep
    * measured the seed, not the operator under test.
    */
  val qSinkCompact: Q = (s, d) => {
    val frag = scratchDir("compact_frag", d)
    val tidy = scratchDir("compact_tidy", d)
    Seeds.once("compact_frag", frag) {
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"),
                date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .repartition(4)
        .write.mode("overwrite").partitionBy("month").parquet(frag)
    }
    Tables.parquet(s, frag)
      .repartition(col("month"))
      .write.mode("overwrite").partitionBy("month").parquet(tidy)
    Tables.parquet(s, tidy)
      .groupBy("month")
      .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("month")
  }

  val qSinkCompactSql: String =
    s"""SELECT strftime(o_orderdate, '%Y-%m') AS month, COUNT(*) AS cnt,
       |  ${dsumSql("o_totalprice")} AS sum_price
       |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** Text source incl. gzip (reference E2: `.gz` archives decompressed
    * transparently — Spark's text source does the same natively).
    */
  val qScanTextGz: Q = (s, d) => {
    val tmp = scratchDir("textgz", d)
    Seeds.once("textgz", tmp) {
      Tables.documents(s, d).select("text")
        .write.mode("overwrite").option("compression", "gzip").text(tmp)
    }
    s.read.text(tmp)
      .agg(count(lit(1)).as("cnt"),
           sum(length(col("value"))).cast("long").as("total_chars"))
  }

  val qScanTextGzSql: String =
    """SELECT COUNT(*) AS cnt, CAST(SUM(length(text)) AS BIGINT) AS total_chars
      |FROM documents""".stripMargin

  /** CSV source with an explicit schema — the interchange format every
    * ingest pipeline still meets. Round-trip: write a projection as
    * headered CSV, read it back through Spark's CSV parser with a
    * declared schema (never inferSchema at scale — it double-scans),
    * aggregate. The oracle aggregates the ORIGINAL parquet, so a pass
    * proves the text round-trip loses nothing (doubles survive via
    * toString/parse round-tripping). CSV files split by line at scale
    * like any text source; the declared schema keeps the read
    * single-pass.
    */
  val qScanCsv: Q = (s, d) => {
    val tmp = scratchDir("csv", d)
    Seeds.once("csv", tmp) {
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .write.mode("overwrite").option("header", "true").csv(tmp)
    }
    val dec = DecimalType(18, 2)
    s.read
      .schema("l_orderkey LONG, l_linenumber LONG, l_quantity DOUBLE, l_returnflag STRING")
      .option("header", "true").csv(tmp)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("cnt"),
           sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
           sum(col("l_orderkey")).as("sum_keys"))
      .orderBy("l_returnflag")
  }

  val qScanCsvSql: String =
    """SELECT l_returnflag, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_keys
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** ORC source — the other columnar lake format Spark ships a native
    * vectorized reader for. Round-trip a projection through ORC and
    * aggregate; the oracle aggregates the ORIGINAL parquet, so a pass
    * proves lossless interchange. ORC keeps the same scale properties
    * as parquet (splittable stripes, predicate pushdown, column
    * pruning), so at 100 TB this is a drop-in scan.
    */
  val qScanOrc: Q = (s, d) => {
    val tmp = scratchDir("orc", d)
    Seeds.once("orc", tmp) {
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .write.mode("overwrite").orc(tmp)
    }
    s.read.orc(tmp)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("cnt"),
           dsum(col("l_quantity")).as("sum_qty"),
           sum(col("l_orderkey")).as("sum_keys"))
      .orderBy("l_returnflag")
  }

  val qScanOrcSql: String =
    s"""SELECT l_returnflag, COUNT(*) AS cnt,
       |  ${dsumSql("l_quantity")} AS sum_qty,
       |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_keys
       |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** JSON-lines source — the ingest format of every event firehose.
    * Round-trip a projection through newline-delimited JSON and read it
    * back with a DECLARED schema (schema inference at 100 TB means a
    * full extra pass; never do it). JSON lines split by newline, so the
    * scan parallelizes like any text source. The oracle aggregates the
    * original parquet: a pass proves the text round-trip is lossless,
    * doubles included (Spark writes shortest-round-trip decimals).
    */
  val qScanJson: Q = (s, d) => {
    val tmp = scratchDir("json", d)
    Seeds.once("json", tmp) {
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .write.mode("overwrite").json(tmp)
    }
    s.read
      .schema("l_orderkey LONG, l_linenumber LONG, l_quantity DOUBLE, l_returnflag STRING")
      .json(tmp)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("cnt"),
           dsum(col("l_quantity")).as("sum_qty"),
           sum(col("l_orderkey")).as("sum_keys"))
      .orderBy("l_returnflag")
  }

  val qScanJsonSql: String = qScanOrcSql

  /** XML source — Spark 4 ships the (formerly spark-xml) reader
    * natively, and XML is the reference's actual wire format (mjlog is
    * gzipped XML; `main.py` parses it record-per-file). Round-trip a
    * projection through element-per-row XML and read it back with a
    * DECLARED schema (inference would cost a full extra pass at 100 TB)
    * — the row tag splits records, so the scan parallelizes like any
    * text source. The oracle aggregates the original parquet: a pass
    * proves the markup round-trip is lossless, doubles included.
    */
  val qScanXml: Q = (s, d) => {
    // 16-file seed: the writer's natural layout was ONE file holding the
    // whole table (104 MB at sf0.1 — under maxPartitionBytes, so the
    // XML parse ran as a single task regardless of record splitting).
    // Spreading the seed over 16 part files is the layout any real lake
    // has and lets the markup parse — the operator under test —
    // parallelize (guide §6: input split size bounds scan parallelism).
    // Prefix bumped xml → xmlp so stale single-file dirs never feed it.
    val tmp = scratchDir("xmlp", d)
    Seeds.once("xmlp", tmp) {
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .repartition(16)
        .write.mode("overwrite").option("rowTag", "li").format("xml").save(tmp)
    }
    s.read
      .schema("l_orderkey LONG, l_linenumber LONG, l_quantity DOUBLE, l_returnflag STRING")
      .option("rowTag", "li").format("xml").load(tmp)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("cnt"),
           dsum(col("l_quantity")).as("sum_qty"),
           sum(col("l_orderkey")).as("sum_keys"))
      .orderBy("l_returnflag")
  }

  val qScanXmlSql: String = qScanOrcSql

  /** FULL OUTER join — per-(user, day) click activity vs purchase
    * activity, where each side has keys the other lacks (days a user
    * clicked but bought nothing and vice versa), so BOTH null-extension
    * directions are exercised, not just declared. Plans as a sort-merge
    * full join on the composite key — one shuffle per side at any
    * scale.
    */
  val qJoinFull: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"),
              col("event_type"))
    val clicks = ev.where(col("event_type") === "click")
      .groupBy("user_id", "day").agg(count(lit(1)).as("n_clicks"))
    val purch = ev.where(col("event_type") === "purchase")
      .groupBy("user_id", "day").agg(count(lit(1)).as("n_purchases"))
    clicks.join(purch, Seq("user_id", "day"), "full_outer")
      .select(col("user_id"), col("day").cast("timestamp").as("day"),
              col("n_clicks"), col("n_purchases"))
      .orderBy("user_id", "day")
  }

  val qJoinFullSql: String =
    """WITH ev AS (
      |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, event_type
      |  FROM events
      |), c AS (
      |  SELECT user_id, day, COUNT(*) AS n_clicks FROM ev
      |  WHERE event_type = 'click' GROUP BY user_id, day
      |), p AS (
      |  SELECT user_id, day, COUNT(*) AS n_purchases FROM ev
      |  WHERE event_type = 'purchase' GROUP BY user_id, day
      |)
      |SELECT COALESCE(c.user_id, p.user_id) AS user_id,
      |  CAST(COALESCE(c.day, p.day) AS TIMESTAMP) AS day,
      |  c.n_clicks, p.n_purchases
      |FROM c FULL JOIN p ON c.user_id = p.user_id AND c.day = p.day
      |ORDER BY user_id, day""".stripMargin

  /** Correlated EXISTS / NOT EXISTS — Catalyst decorrelates both into
    * semi/anti joins (visible in the plan), so the subquery spelling
    * costs the same as the explicit joins at any scale.
    */
  val qSubqueryExists: Q = (s, d) => {
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_ex")
    Tables.lineitem(s, d).createOrReplaceTempView("graft_lineitem_ex")
    s.sql(
      """SELECT o_orderkey, o_totalprice FROM graft_orders_ex
        |WHERE EXISTS (SELECT 1 FROM graft_lineitem_ex
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
        |  AND NOT EXISTS (SELECT 1 FROM graft_lineitem_ex
        |                  WHERE l_orderkey = o_orderkey AND l_tax > 0.07)
        |ORDER BY o_orderkey""".stripMargin)
  }

  val qSubqueryExistsSql: String =
    """SELECT o_orderkey, o_totalprice FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem
      |                  WHERE l_orderkey = o_orderkey AND l_tax > 0.07)
      |ORDER BY o_orderkey""".stripMargin

  /** LATERAL correlated subquery with per-row ORDER BY + LIMIT — the
    * top-N-per-key spelling SQL users reach for; the planner turns the
    * correlation into a join + per-group limit rather than a per-row
    * re-execution, which is what makes it usable at scale (the window
    * formulation of the same thing is q_win_topk_group).
    */
  val qJoinLateral: Q = (s, d) => {
    Tables.customer(s, d).createOrReplaceTempView("graft_customer_lat")
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_lat")
    s.sql(
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        |FROM graft_customer_lat c,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM graft_orders_lat
        |         WHERE o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        |ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey""".stripMargin)
  }

  val qJoinLateralSql: String =
    """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
      |FROM customer c,
      |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
      |         WHERE o_custkey = c.c_custkey
      |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
      |ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey""".stripMargin

  // ------------------------------------------------------ data profiling

  /** One-pass column profiler — the data-quality census every ingest
    * runs before a table ships: per column, row count, non-null count,
    * EXACT distinct count, min and max. All columns' stats are computed
    * in a SINGLE aggregate over one scan (the profiler shape that
    * matters at 100 TB — four separate profiling passes would read the
    * table four times), then unpivoted row-per-column with `stack`.
    */
  val qProfileColumns: Q = (s, d) => {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val aggs = count(lit(1)).as("n_rows") +:
      cols.flatMap { c =>
        Seq(count(col(c)).as(s"nn_$c"),
            countDistinct(col(c)).as(s"nd_$c"),
            min(col(c)).as(s"mn_$c"),
            max(col(c)).as(s"mx_$c"))
      }
    val stackArgs = cols.map(c =>
      s"'$c', nn_$c, nd_$c, mn_$c, mx_$c").mkString(", ")
    Tables.lineitem(s, d)
      .agg(aggs.head, aggs.tail: _*)
      .select(col("n_rows"), expr(
        s"stack(${cols.length}, $stackArgs) AS " +
          "(column_name, n_non_null, n_distinct, min_val, max_val)"))
      .select("column_name", "n_rows", "n_non_null", "n_distinct",
              "min_val", "max_val")
      .orderBy("column_name")
  }

  val qProfileColumnsSql: String = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    cols.map { c =>
      s"""SELECT '$c' AS column_name, COUNT(*) AS n_rows,
         |  COUNT($c) AS n_non_null, COUNT(DISTINCT $c) AS n_distinct,
         |  MIN($c) AS min_val, MAX($c) AS max_val FROM lineitem""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
  }

  /** Fixed-width value histogram of order totals — the profiling
    * companion for numeric distributions. Value bucketing (not
    * equi-depth): bucket = floor(x / 50k), one hash shuffle on the
    * bucket id, fully parallel at any scale. Equi-depth deciles would
    * need a global sort or approximate quantiles (the approx path is
    * covered by q_agg_approx); the fixed-width form is the one that
    * stays exact AND distributed.
    */
  val qProfileHistogram: Q = (s, d) =>
    Tables.orders(s, d)
      .select((floor(col("o_totalprice") / 50000).cast("long") * 50000)
                .as("bucket_lo"),
              col("o_totalprice"))
      .groupBy("bucket_lo")
      .agg(count(lit(1)).as("n"),
           round(min(col("o_totalprice")), 2).as("min_price"),
           round(max(col("o_totalprice")), 2).as("max_price"),
           dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("bucket_lo")

  val qProfileHistogramSql: String =
    s"""SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) * 50000 AS bucket_lo,
       |  COUNT(*) AS n,
       |  ROUND(MIN(o_totalprice), 2) AS min_price,
       |  ROUND(MAX(o_totalprice), 2) AS max_price,
       |  ${dsumSql("o_totalprice")} AS sum_price
       |FROM orders GROUP BY 1 ORDER BY bucket_lo""".stripMargin

  // ------------------------------------------------------ recursive CTE

  /** Calendar-dimension generation + time-series gap fill via Spark 4's
    * recursive CTE (`WITH RECURSIVE`, SPARK-24497): generate every day
    * of the events window, LEFT JOIN the fact, and emit zero rows for
    * gap days (2024-01-31 has no events at any SF — the gap row is
    * exercised, not hypothetical). The fixed horizon keeps recursion
    * depth at 31, far under `spark.sql.cteRecursionLevelLimit` (100).
    *
    * Scale shape: the recursion materializes a 31-row dimension — the
    * iterative UnionLoop runs on the driver-side plan but each step is
    * constant work; the fact side joins via BROADCAST of the tiny
    * calendar and aggregates map-side. At 100 TB the calendar is still
    * tiny (days, not rows), so this shape is unchanged.
    */
  val qRecursiveCalendar: Q = (s, d) => {
    Tables.events(s, d).createOrReplaceTempView("graft_events_cal")
    s.sql(
      """WITH RECURSIVE cal AS (
        |  SELECT DATE '2024-01-01' AS day
        |  UNION ALL
        |  SELECT date_add(day, 1) FROM cal WHERE day < DATE '2024-01-31'
        |)
        |SELECT CAST(c.day AS TIMESTAMP) AS day, count(e.event_id) AS n_events,
        |       CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM cal c LEFT JOIN graft_events_cal e ON to_date(e.ts) = c.day
        |GROUP BY c.day ORDER BY day""".stripMargin)
  }

  val qRecursiveCalendarSql: String =
    """WITH RECURSIVE cal AS (
      |  SELECT DATE '2024-01-01' AS day
      |  UNION ALL
      |  SELECT day + 1 FROM cal WHERE day < DATE '2024-01-31'
      |)
      |SELECT CAST(c.day AS TIMESTAMP) AS day, count(e.event_id) AS n_events,
      |       CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM cal c LEFT JOIN events e
      |  ON CAST(CAST(e.ts AS TIMESTAMP) AS DATE) = c.day
      |GROUP BY c.day ORDER BY day""".stripMargin

  // ------------------------------------------------- projection / filter

  /** Arithmetic/bit expressions (reference F7 bitfield decode + F10 ×100
    * scaling, scrape.py:371-417,449). All stay inside whole-stage codegen.
    */
  val qProjectExpr: Q = (s, d) =>
    Tables.lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      col("l_orderkey").bitwiseAND(255).as("key_mask"),
      shiftright(col("l_orderkey"), 4).as("key_shift"),
      (col("l_quantity").cast("long") * 100).as("qty100"),
      (col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2))))
        .cast("double").as("net"),
      (col("l_tax") > 0.04).as("taxed")
    ).orderBy("l_orderkey", "l_linenumber", "qty100", "net", "taxed")

  val qProjectExprSql: String =
    """SELECT l_orderkey, l_linenumber,
      |  l_orderkey & 255 AS key_mask,
      |  l_orderkey >> 4 AS key_shift,
      |  CAST(l_quantity AS BIGINT) * 100 AS qty100,
      |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |       (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS net,
      |  l_tax > 0.04 AS taxed
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, qty100, net, taxed""".stripMargin

  /** Conjunctive/disjunctive predicates, IN / BETWEEN / LIKE / IS NULL. */
  val qFilterPred: Q = (s, d) =>
    Tables.orders(s, d)
      .where((col("o_orderstatus").isin("O", "F") &&
              col("o_totalprice").between(50000, 300000)) ||
             (col("o_orderpriority").like("1-%") &&
              !(col("o_orderstatus") === "P") &&
              col("o_custkey").isNotNull))
      .select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
      .orderBy("o_orderkey")

  val qFilterPredSql: String =
    """SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
      |FROM orders
      |WHERE (o_orderstatus IN ('O','F') AND o_totalprice BETWEEN 50000 AND 300000)
      |   OR (o_orderpriority LIKE '1-%' AND NOT (o_orderstatus = 'P')
      |       AND o_custkey IS NOT NULL)
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- joins

  /** Fact⋈fact equi join — at scale this is a shuffle on o_orderkey both
    * sides (sort-merge or shuffled-hash under AQE). On a real lake both
    * tables would be bucketed by orderkey to make this co-located.
    */
  val qJoinInner: Q = (s, d) =>
    Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"), col("l_linenumber"), col("o_custkey"),
              col("l_extendedprice"))
      .orderBy("o_orderkey", "l_linenumber", "o_custkey", "l_extendedprice")

  val qJoinInnerSql: String =
    """SELECT o_orderkey, l_linenumber, o_custkey, l_extendedprice
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |ORDER BY o_orderkey, l_linenumber, o_custkey, l_extendedprice""".stripMargin

  /** Dimension joins with explicit broadcast — region/nation are tiny at
    * any scale factor, so we pin broadcast-hash-join rather than let a
    * stale size estimate pick a shuffle.
    */
  val qJoinBroadcast: Q = (s, d) =>
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("customers"), dsum(col("c_acctbal")).as("sum_bal"))
      .orderBy("r_name")

  val qJoinBroadcastSql: String =
    s"""SELECT r_name, COUNT(*) AS customers, ${dsumSql("c_acctbal")} AS sum_bal
       |FROM customer
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY r_name ORDER BY r_name""".stripMargin

  /** Left outer: customers keep a row even with no orders (reference
    * analog kyoku ⟕ agari, er/mahjong.md:11). Null ordering pinned
    * explicitly — Spark defaults NULLS FIRST, DuckDB NULLS LAST.
    */
  val qJoinLeft: Q = (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("c_custkey").asc, col("o_orderkey").asc_nulls_first)

  val qJoinLeftSql: String =
    """SELECT c_custkey, o_orderkey, o_totalprice
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |ORDER BY c_custkey, o_orderkey NULLS FIRST""".stripMargin

  /** Existence (left semi) — games-having-any-agari pattern. */
  val qJoinSemi: Q = (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  val qJoinSemiSql: String =
    """SELECT c_custkey, c_name FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** Absence (left anti) — kyokus-that-went-to-draw pattern. The right
    * side is filtered (high-value orders) so the result is non-trivial at
    * every scale factor.
    */
  val qJoinAnti: Q = (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d).where(col("o_totalprice") > 400000),
            col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  val qJoinAntiSql: String =
    """SELECT c_custkey, c_name FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
      |ORDER BY c_custkey""".stripMargin

  /** Non-equi range join, written DECLARATIVELY (equi key + size-band
    * between). The injected [[graft.expressions.RewriteBandedRangeJoin]]
    * optimizer rule recognizes the constant band and rewrites the plan
    * to the banded equi-join automatically — so this query now PLANS
    * like [[qJoinRangeBanded]] (Generate + hash join keyed on
    * (brand, band)) while staying the natural spelling a user writes.
    * The DuckDB oracle replays the raw between, so every driver run
    * gates the rule's soundness. Without the rule the fallback shape is
    * still safe (equi on brand, band as post-join filter — never a
    * cartesian).
    */
  val qJoinThetaRange: Q = (s, d) => {
    val p1 = Tables.part(s, d).alias("p1")
    val p2 = Tables.part(s, d).alias("p2")
    p1.join(p2,
        col("p1.p_brand") === col("p2.p_brand") &&
        col("p1.p_partkey") < col("p2.p_partkey") &&
        col("p2.p_size").between(col("p1.p_size") - 1, col("p1.p_size") + 1))
      .groupBy(col("p1.p_brand").as("brand"))
      .agg(count(lit(1)).as("pairs"))
      .orderBy("brand")
  }

  val qJoinThetaRangeSql: String =
    """SELECT p1.p_brand AS brand, COUNT(*) AS pairs
      |FROM part p1 JOIN part p2
      |  ON p1.p_brand = p2.p_brand
      | AND p1.p_partkey < p2.p_partkey
      | AND p2.p_size BETWEEN p1.p_size - 1 AND p1.p_size + 1
      |GROUP BY p1.p_brand ORDER BY brand""".stripMargin

  /** BANDED range join — the scale path for [[qJoinThetaRange]]'s shape.
    * The naive plan equi-joins on brand and filters the ±1 size band
    * INSIDE each brand block, so work is quadratic per brand. Banding
    * turns the range predicate itself into join keys: one side explodes
    * each row into its 3 candidate bands {size−1, size, size+1}, the
    * other keys by its actual size, and the equi-join on (brand, band)
    * IS the between — exact, each qualifying pair produced exactly once
    * (bands are distinct integers), no residual filter. Cost trades a
    * 3× replication of one side for join blocks keyed by (brand, size)
    * instead of brand — at 100 TB that's the difference between
    * Σ_brand n² and Σ_(brand,size) n², orders of magnitude for wide
    * bands of data. Oracle: the SAME SQL as the naive form — DuckDB
    * replays the declarative between; a hash-pass proves the banding
    * rewrite is semantics-preserving.
    */
  val qJoinRangeBanded: Q = (s, d) => {
    val p1 = Tables.part(s, d)
      .select(col("p_brand"), col("p_partkey").as("k1"), col("p_size").as("s1"))
      .withColumn("band", explode(array(col("s1") - 1, col("s1"), col("s1") + 1)))
    val p2 = Tables.part(s, d)
      .select(col("p_brand"), col("p_partkey").as("k2"), col("p_size").as("band"))
    p1.join(p2.hint("shuffle_hash"), Seq("p_brand", "band"))
      .where(col("k1") < col("k2"))
      .groupBy(col("p_brand").as("brand"))
      .agg(count(lit(1)).as("pairs"))
      .orderBy("brand")
  }

  /** As-of join: for each event, the latest order (by date, orderkey
    * tiebreak) of the same user at-or-before the event time. Spark has no
    * ASOF JOIN; the idiomatic equivalent is condition-join + top-1 per
    * event, spelled as a combining max(struct) aggregate. At 100 TB
    * you'd bound the join with a time-range band (e.g. orders within 90
    * days) to keep the pre-aggregate fanout small.
    */
  val qJoinAsof: Q = (s, d) => {
    val e = Tables.events(s, d).select("event_id", "user_id", "ts")
    val o = Tables.orders(s, d).select("o_custkey", "o_orderkey", "o_orderdate")
    val j = e.join(o, col("user_id") === col("o_custkey") &&
                      col("o_orderdate") <= col("ts"), "left")
    // top-1-per-event as a COMBINING max(struct) aggregate, not a rank
    // window: lexicographic max of (o_orderdate, o_orderkey) IS the
    // (date DESC, key DESC) top row, and the partial aggregate collapses
    // each event's join fanout map-side BEFORE the exchange — the window
    // form shuffled and sorted every (event × candidate-order) row
    // (guide §2.3: aggregate before you shuffle). A left-joined event
    // with no order is a single all-null candidate, so the max is the
    // null struct and last_order stays NULL, exactly as the window's
    // nulls-last rank emitted.
    j.groupBy("event_id")
      .agg(max(struct(col("o_orderdate"), col("o_orderkey"))).as("m"))
      .select(col("event_id"), col("m.o_orderkey").as("last_order"))
      .orderBy("event_id")
  }

  val qJoinAsofSql: String =
    """SELECT e.event_id,
      |  (SELECT o.o_orderkey FROM orders o
      |    WHERE o.o_custkey = e.user_id AND o.o_orderdate <= CAST(e.ts AS TIMESTAMP)
      |    ORDER BY o.o_orderdate DESC, o.o_orderkey DESC LIMIT 1) AS last_order
      |FROM events e ORDER BY e.event_id""".stripMargin

  /** As-of join WITH A STALENESS TOLERANCE — the feature-store lookup
    * contract: the latest order at most T old at event time, or
    * NULL (a feature older than its TTL must not leak into training).
    * Same user-keyed equi-join + per-event ranked window as
    * [[qJoinAsof]]; the tolerance is one more residual predicate riding
    * the join, so the plan (and its 100 TB shape — one user_id
    * exchange, interval residual, windowed top-1) is unchanged, which
    * is the point: TTL semantics cost nothing over plain as-of.
    * T = 9131 days (~25 y) because the synthetic epochs sit decades
    * apart (events 2024, orders 1995–2001): this lands the TTL inside
    * the actual gap distribution, so the gate exercises BOTH outcomes
    * (~98% fresh, ~2% nulled at sf0.01) rather than a degenerate
    * all-NULL column.
    */
  val qJoinAsofTolerance: Q = (s, d) => {
    val e = Tables.events(s, d).select("event_id", "user_id", "ts")
    val o = Tables.orders(s, d).select("o_custkey", "o_orderkey", "o_orderdate")
    val j = e.join(o,
      col("user_id") === col("o_custkey") &&
      col("o_orderdate") <= col("ts") &&
      col("o_orderdate") >= col("ts") - expr("INTERVAL 9131 DAYS"), "left")
    // same combining max(struct) top-1 as [[qJoinAsof]] — the TTL is a
    // join-side residual, the aggregate shape (and its map-side partial
    // collapse of the fanout) is unchanged
    j.groupBy("event_id")
      .agg(max(struct(col("o_orderdate"), col("o_orderkey"))).as("m"))
      .select(col("event_id"), col("m.o_orderkey").as("fresh_order"))
      .orderBy("event_id")
  }

  val qJoinAsofToleranceSql: String =
    """SELECT e.event_id,
      |  (SELECT o.o_orderkey FROM orders o
      |    WHERE o.o_custkey = e.user_id
      |      AND o.o_orderdate <= CAST(e.ts AS TIMESTAMP)
      |      AND o.o_orderdate >= CAST(e.ts AS TIMESTAMP) - INTERVAL 9131 DAY
      |    ORDER BY o.o_orderdate DESC, o.o_orderkey DESC LIMIT 1)
      |    AS fresh_order
      |FROM events e ORDER BY e.event_id""".stripMargin

  /** The same as-of semantics through the native operator
    * (graft.plans.AsOfJoinExec): hash-cluster + sort both sides, one
    * forward merge, no row fanout. Shares q_join_asof's oracle — the
    * two must hash-match DuckDB identically.
    */
  val qJoinAsofNative: Q = (s, d) => {
    val e = Tables.events(s, d).select("event_id", "user_id", "ts")
    val o = Tables.orders(s, d).select("o_custkey", "o_orderkey", "o_orderdate")
    graft.plans.AsOf.join(e, o,
        e("user_id"), o("o_custkey"), e("ts"), o("o_orderdate"),
        rightTieBreak = Seq(o("o_orderkey")))
      .select(col("event_id"), col("o_orderkey").as("last_order"))
      .orderBy("event_id")
  }

  /** 3+ table chain — exercises Catalyst join reordering; the two dims
    * broadcast, orders shuffles once on custkey.
    */
  val qJoinMultiway: Q = (s, d) =>
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
      .orderBy("r_name", "n_name")

  val qJoinMultiwaySql: String =
    s"""SELECT r_name, n_name, COUNT(*) AS n_orders, ${dsumSql("o_totalprice")} AS revenue
       |FROM orders
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  /** Bucketed fact-fact join — the one 100 TB join shape where NEITHER
    * side broadcasts: both facts are bucketed at rest on the join key
    * (`bucketBy(N, key)` + in-bucket sort), so the sort-merge join
    * reads both sides co-partitioned and plans NO Exchange on either
    * input — the shuffle happened once at write time and is amortized
    * over every subsequent join. PlanSpec asserts the exchange-free
    * join shape with broadcasting disabled; the oracle replays the join
    * on the raw tables, proving the bucketed round-trip loses nothing.
    *
    * The pre-write `repartition(n, key)` uses the same murmur3 hash as
    * the bucket spec, so each bucket is written by exactly one task →
    * one file per bucket — the layout that also lets the reader elide
    * the sort (and at 100 TB keeps file counts = buckets, not
    * buckets × tasks).
    *
    * Bucket count is SIZED TO THE DATA, not a constant: one bucket ≈
    * one 128 MB file at rest (the parquet sweet spot — large enough to
    * amortize footer/dictionary overhead, small enough that one bucket
    * is one task's worth of work), rounded up to a power of two so a
    * future re-bucketing by doubling/halving stays hash-aligned.
    * Floor 8 keeps tiny demo inputs parallel; cap 2^20 bounds the
    * at-rest file count (100 TB / 128 MB ≈ 2^20 — past that, grow the
    * file size, not the bucket count).
    */
  private[graft] def bucketCountForBytes(bytes: Long): Int = {
    val target = 128L * 1024 * 1024
    val needed = math.max(1L, (bytes + target - 1) / target)
    val pow2 = java.lang.Long.highestOneBit(needed) *
      (if (java.lang.Long.bitCount(needed) == 1) 1 else 2)
    math.min(1 << 20, math.max(8L, pow2)).toInt
  }

  private def bucketCountFor(s: SparkSession, d: String): Int = {
    val conf = s.sparkContext.hadoopConfiguration
    val bytes = Seq("orders.parquet", "lineitem.parquet").map { t =>
      val p = new org.apache.hadoop.fs.Path(s"$d/$t")
      p.getFileSystem(conf).getContentSummary(p).getLength
    }.sum
    bucketCountForBytes(bytes)
  }

  /** Bucketed-at-rest fact tables, seeded ONCE per (sf dir, bucket
    * count): the declared operator downstream is the exchange-free
    * JOIN, so re-writing the layout per invocation would bench the
    * writer (same rationale as the q_scan_* seeds). The bucket count is
    * part of the path/table tag, so a data-size change that moves
    * [[bucketCountFor]] self-invalidates the stale layout. Across JVMs
    * the files survive but the in-memory catalog does not — the guard
    * re-registers the bucketed DDL over the existing files instead of
    * rewriting them.
    */
  private[graft] def bucketedFacts(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val base = scratchDir("bucketed", d)
    val nBuckets = bucketCountFor(s, d)
    def sink(df: DataFrame, key: String, name: String,
             colsDdl: String): DataFrame = {
      val tbl = s"graft_${name}_b${nBuckets}_" +
        Integer.toHexString(d.hashCode)
      val path = s"$base/${name}_$nBuckets"
      if (!s.catalog.tableExists(tbl)) {
        Seeds.once(s"bucketed_$name", path) {
          df.repartition(nBuckets, col(key))
            .write.mode("overwrite").format("parquet")
            .bucketBy(nBuckets, key).sortBy(key)
            .option("path", path)
            .saveAsTable(tbl)
        }
        s.sql(s"""CREATE TABLE IF NOT EXISTS $tbl ($colsDdl) USING parquet
                 |CLUSTERED BY ($key) SORTED BY ($key)
                 |INTO $nBuckets BUCKETS
                 |LOCATION '$path'""".stripMargin)
      }
      s.table(tbl)
    }
    val o = sink(Tables.orders(s, d)
                   .select("o_orderkey", "o_orderpriority"),
                 "o_orderkey", "orders",
                 "o_orderkey BIGINT, o_orderpriority STRING")
    val l = sink(Tables.lineitem(s, d)
                   .select("l_orderkey", "l_extendedprice", "l_discount"),
                 "l_orderkey", "lineitem",
                 "l_orderkey BIGINT, l_extendedprice DOUBLE, " +
                   "l_discount DOUBLE")
    (o, l)
  }

  val qJoinBucketed: Q = (s, d) => {
    val dec = DecimalType(18, 2)
    val (o, l) = bucketedFacts(s, d)
    o.join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
           sum(col("l_extendedprice").cast(dec) *
               (lit(1).cast(dec) - col("l_discount").cast(dec)))
             .cast("double").as("revenue"))
      .orderBy("o_orderpriority")
  }

  val qJoinBucketedSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
      |       AS DOUBLE) AS revenue
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Dynamic partition pruning — the third leg of the runtime-pruning
    * story next to [[qJoinBloom]] (row-level) and static pushdown
    * ([[qScanPruned]]): the fact table is partitioned AT REST on the
    * join key (`l_shipmode=` Hive layout), the dimension filter is on a
    * NON-key attribute (`speed = 'fast'`), so no static rule can prune
    * the fact scan — only the runtime result of the dim filter can.
    * Spark's DPP inserts a dynamicpruning subquery into the fact scan's
    * partition filters: the dim side is evaluated first and the fact
    * scan then reads ONLY the matching partitions. At 100 TB this is
    * the difference between scanning 2/7 of the table and all of it —
    * per query, with zero layout work beyond the partitioned write.
    * PlanSpec asserts the dynamicpruning filter is ON the scan.
    *
    * The oracle reads the ORIGINAL parquet (same rows, no partition
    * layout) — a hash-pass proves the pruned plan loses nothing.
    */
  val qJoinDpp: Q = (s, d) => {
    import s.implicits._
    val base = scratchDir("dpp", d)
    val tbl = "graft_dpp_orders_" + Integer.toHexString(d.hashCode)
    // seed the partitioned-at-rest fact once per sf dir (the declared
    // operator is the PRUNED SCAN, not the writer); across JVMs the
    // guard re-registers the partitioned DDL over the surviving files
    // and recovers the partition listing
    if (!s.catalog.tableExists(tbl)) {
      Seeds.once("dpp_orders", s"$base/orders") {
        Tables.orders(s, d)
          .select("o_orderkey", "o_orderpriority", "o_totalprice")
          .write.mode("overwrite").format("parquet")
          .partitionBy("o_orderpriority")
          .option("path", s"$base/orders")
          .saveAsTable(tbl)
      }
      if (!s.catalog.tableExists(tbl)) {
        s.sql(s"""CREATE TABLE IF NOT EXISTS $tbl (o_orderkey BIGINT,
                 |  o_totalprice DOUBLE, o_orderpriority STRING)
                 |USING parquet PARTITIONED BY (o_orderpriority)
                 |LOCATION '$base/orders'""".stripMargin)
        s.sql(s"MSCK REPAIR TABLE $tbl")
      }
    }
    // the dim must be a STORED table (as in production): an in-memory
    // LocalRelation dim gets its filter constant-folded away, and DPP
    // only fires when the build side still carries a selective predicate
    Seeds.once("dpp_dim", s"$base/dim") {
      Seq(
        ("1-URGENT", "high"), ("2-HIGH", "high"), ("3-MEDIUM", "low"),
        ("4-NOT SPECIFIED", "low"), ("5-LOW", "low")).toDF("prio", "tier")
        .write.mode("overwrite").parquet(s"$base/dim")
    }
    val dim = Tables.parquet(s, s"$base/dim")
    s.table(tbl)
      .join(broadcast(dim), col("o_orderpriority") === col("prio"))
      .where(col("tier") === "high")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
           dsum(col("o_totalprice")).as("revenue"))
      .orderBy("o_orderpriority")
  }

  val qJoinDppSql: String =
    s"""WITH dim(prio, tier) AS (VALUES
       |  ('1-URGENT', 'high'), ('2-HIGH', 'high'), ('3-MEDIUM', 'low'),
       |  ('4-NOT SPECIFIED', 'low'), ('5-LOW', 'low'))
       |SELECT o_orderpriority, COUNT(*) AS n_orders,
       |  ${dsumSql("o_totalprice")} AS revenue
       |FROM orders JOIN dim ON o_orderpriority = dim.prio
       |WHERE dim.tier = 'high'
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Bloom-prefiltered join — the runtime-filter pattern that decides
    * whether a 100 TB probe-side SHUFFLE happens at all: a selective
    * build side (≈10% of orders) is sketched into a Bloom filter by a
    * distributed [[BloomFilterAggregate]] (partial sketches OR-merge on
    * executors like any aggregate; only the final ~1 MiB bitmap reaches
    * the driver — O(bits), constant in row count), and the probe scan
    * applies [[BloomFilterMightContain]] BEFORE its exchange, so rows
    * that cannot join never enter the shuffle. False positives are
    * harmless — the exact equi-join still runs after — which is why the
    * result is oracle-identical to the plain join. This is precisely
    * what Spark's InjectRuntimeFilter synthesizes when it fires; built
    * explicitly here so the pruning is guaranteed, not heuristic.
    * PlanSpec asserts might_contain sits below the probe Exchange and
    * that it actually prunes.
    */
  val qJoinBloom: Q = (s, d) => {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.classic.GraftShim
    val dec = DecimalType(18, 2)
    val buildSide = Tables.orders(s, d)
      .where(col("o_totalprice") > 450000)
      .select(col("o_orderkey"), col("o_orderpriority"))
    // size the sketch from the build cardinality (~16 bits/key ≈ 0.05%
    // fpp): EVERY partial aggregate carries a full bitmap, so an
    // oversized bloom turns the cheap sketch merge into the bottleneck
    // — at any scale, bits ∝ build keys, never a fixed "big enough"
    val nKeys = math.max(4096L, buildSide.count())
    val bloomAgg = GraftShim.column(
      new BloomFilterAggregate(
        GraftShim.expression(xxhash64(col("o_orderkey"))),
        Literal(nKeys), Literal(nKeys * 16)
      ).toAggregateExpression())
    val bf = buildSide.agg(bloomAgg.as("bf")).head().getAs[Array[Byte]](0)
    val might = GraftShim.column(BloomFilterMightContain(
      Literal.create(bf, org.apache.spark.sql.types.BinaryType),
      GraftShim.expression(xxhash64(col("l_orderkey")))))
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .where(might)
      .join(buildSide, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
           sum(col("l_extendedprice").cast(dec) *
               (lit(1).cast(dec) - col("l_discount").cast(dec)))
             .cast("double").as("revenue"))
      .orderBy("o_orderpriority")
  }

  val qJoinBloomSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
      |       AS DOUBLE) AS revenue
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE o_totalprice > 450000
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ----------------------------------------------------------- aggregates

  /** TPC-H-Q1-shaped multi-measure hash aggregate (the reference's
    * "win-rate by rule flag" pattern). Partial aggregation makes the
    * shuffle carry 6 groups, not 600k rows.
    */
  val qAggGroup: Q = (s, d) => {
    val dec = DecimalType(18, 2)
    Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base"),
        sum(col("l_extendedprice").cast(dec) *
            (lit(1).cast(dec) - col("l_discount").cast(dec)))
          .cast("double").as("sum_disc_price"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val qAggGroupSql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${dsumSql("l_quantity")} AS sum_qty,
       |  ${dsumSql("l_extendedprice")} AS sum_base,
       |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
       |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
       |    AS sum_disc_price,
       |  ${davgSql("l_quantity")} AS avg_qty,
       |  ${davgSql("l_discount")} AS avg_disc,
       |  COUNT(*) AS cnt
       |FROM lineitem GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Exact COUNT(DISTINCT) — expands to a two-phase distinct aggregate.
    * (approx_count_distinct is exercised in unit tests with tolerance;
    * it is not hash-stable across engines so it stays out of the oracle.)
    */
  val qAggDistinct: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy("o_orderstatus")
      .agg(countDistinct(col("o_custkey")).as("n_custs"),
           countDistinct(year(col("o_orderdate"))).as("n_years"),
           count(lit(1)).as("cnt"))
      .orderBy("o_orderstatus")

  val qAggDistinctSql: String =
    """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_custs,
      |  COUNT(DISTINCT EXTRACT(year FROM o_orderdate)) AS n_years,
      |  COUNT(*) AS cnt
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** ROLLUP (daily→ALL hierarchy). NULL group markers are coalesced to a
    * sentinel so ordering is engine-independent.
    */
  val qAggRollup: Q = (s, d) =>
    Tables.orders(s, d)
      .withColumn("yr", year(col("o_orderdate")).cast("string"))
      .rollup("yr", "o_orderstatus")
      .agg(dsum(col("o_totalprice")).as("sum_price"), count(lit(1)).as("cnt"))
      .select(coalesce(col("yr"), lit("ALL")).as("yr"),
              coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
              col("sum_price"), col("cnt"))
      .orderBy("yr", "status")

  val qAggRollupSql: String =
    s"""SELECT COALESCE(CAST(EXTRACT(year FROM o_orderdate) AS VARCHAR), 'ALL') AS yr,
       |  COALESCE(o_orderstatus, 'ALL') AS status,
       |  ${dsumSql("o_totalprice")} AS sum_price, COUNT(*) AS cnt
       |FROM orders
       |GROUP BY ROLLUP(CAST(EXTRACT(year FROM o_orderdate) AS VARCHAR), o_orderstatus)
       |ORDER BY yr, status""".stripMargin

  /** CUBE over two dims. */
  val qAggCube: Q = (s, d) =>
    Tables.orders(s, d)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(dsum(col("o_totalprice")).as("sum_price"), count(lit(1)).as("cnt"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
              coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
              col("sum_price"), col("cnt"))
      .orderBy("status", "prio")

  val qAggCubeSql: String =
    s"""SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       |  COALESCE(o_orderpriority, 'ALL') AS prio,
       |  ${dsumSql("o_totalprice")} AS sum_price, COUNT(*) AS cnt
       |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
       |ORDER BY status, prio""".stripMargin

  /** Explicit GROUPING SETS via SQL. */
  val qAggGsets: Q = (s, d) => {
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_gsets")
    s.sql(
      s"""SELECT COALESCE(o_orderstatus, 'ALL') AS status,
         |  COALESCE(o_orderpriority, 'ALL') AS prio,
         |  ${dsumSql("o_totalprice")} AS sum_price, COUNT(*) AS cnt
         |FROM graft_orders_gsets
         |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         |ORDER BY status, prio""".stripMargin)
  }

  val qAggGsetsSql: String =
    s"""SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       |  COALESCE(o_orderpriority, 'ALL') AS prio,
       |  ${dsumSql("o_totalprice")} AS sum_price, COUNT(*) AS cnt
       |FROM orders
       |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
       |ORDER BY status, prio""".stripMargin

  /** Statistical aggregates: stddev/variance/exact percentile. Rounded —
    * central-moment accumulation differs at the 1e-12 level between
    * engines, far below the 1e-6 rounding grain.
    */
  val qAggStats: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
           round(var_samp(col("l_quantity")), 6).as("var_qty"),
           round(percentile(col("l_quantity"), lit(0.5)), 4).as("med_qty"),
           round(percentile(col("l_extendedprice"), lit(0.9)), 2).as("p90_price"),
           davg(col("l_quantity")).as("avg_qty"))
      .orderBy("l_returnflag")

  val qAggStatsSql: String =
    s"""SELECT l_returnflag,
       |  ROUND(stddev_samp(l_quantity), 6) AS sd_qty,
       |  ROUND(var_samp(l_quantity), 6) AS var_qty,
       |  ROUND(quantile_cont(l_quantity, 0.5), 4) AS med_qty,
       |  ROUND(quantile_cont(l_extendedprice, 0.9), 2) AS p90_price,
       |  ${davgSql("l_quantity")} AS avg_qty
       |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Bivariate aggregates — correlation and least-squares regression of
    * extendedprice on quantity, per return flag. Rather than the
    * engines' corr()/regr_*() accumulators (whose co-moment merge order
    * differs run to run), both sides derive the SAME closed forms from
    * exact decimal sums: x and x·y are 2/4-dp decimals, so
    * Sx, Sy, Sxx, Syy, Sxy are exact integers-in-decimal; slope, corr
    * and r² are then a fixed IEEE expression tree over identical
    * operands — bit-identical across engines AND across partitionings.
    *
    * Scale shape: one map-side-partial hash aggregate (five decimal
    * sums + a count), identical cost to any q_agg_* entry.
    */
  val qAggCorr: Q = (s, d) => {
    def m(c: Column) = sum(c.cast(DecimalType(28, 4))).cast("double")
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).cast("double").as("n"),
           m(col("l_quantity")).as("sx"),
           m(col("l_extendedprice")).as("sy"),
           m(col("l_quantity") * col("l_quantity")).as("sxx"),
           m(col("l_extendedprice") * col("l_extendedprice")).as("syy"),
           m(col("l_quantity") * col("l_extendedprice")).as("sxy"))
      .select(
        col("l_returnflag"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
              sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
                   (col("n") * col("syy") - col("sy") * col("sy"))), 6)
          .as("corr_qty_price"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
              (col("n") * col("sxx") - col("sx") * col("sx")), 6)
          .as("regr_slope"),
        round((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy")) /
                           (col("n") * col("sxx") - col("sx") * col("sx")) *
                           col("sx")) / col("n"), 6).as("regr_intercept"),
        round(((col("n") * col("sxy") - col("sx") * col("sy")) *
               (col("n") * col("sxy") - col("sx") * col("sy"))) /
              ((col("n") * col("sxx") - col("sx") * col("sx")) *
               (col("n") * col("syy") - col("sy") * col("sy"))), 6)
          .as("regr_r2"))
      .orderBy("l_returnflag")
  }

  val qAggCorrSql: String = {
    def m(c: String) = s"CAST(SUM(CAST($c AS DECIMAL(28,4))) AS DOUBLE)"
    s"""WITH mom AS (
       |  SELECT l_returnflag,
       |    CAST(COUNT(*) AS DOUBLE) AS n,
       |    ${m("l_quantity")} AS sx,
       |    ${m("l_extendedprice")} AS sy,
       |    ${m("l_quantity * l_quantity")} AS sxx,
       |    ${m("l_extendedprice * l_extendedprice")} AS syy,
       |    ${m("l_quantity * l_extendedprice")} AS sxy
       |  FROM lineitem GROUP BY l_returnflag
       |)
       |SELECT l_returnflag,
       |  ROUND((n * sxy - sx * sy) /
       |        sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
       |    AS corr_qty_price,
       |  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS regr_slope,
       |  ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
       |    AS regr_intercept,
       |  ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
       |        ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS regr_r2
       |FROM mom ORDER BY l_returnflag""".stripMargin
  }

  /** Ordered string aggregation (LISTAGG / string_agg): per nation, the
    * '|'-joined names of its top-5 account balances, ordered by balance
    * desc then name. Spark has no ordered string_agg primitive, so the
    * deterministic spelling is collect_list of (sort-key, value)
    * structs → array_sort → transform → concat_ws — order is imposed by
    * an explicit total sort key, NOT by arrival order (collect_list
    * alone is partitioning-dependent, the classic wrong answer).
    *
    * Scale shape: window top-5 prune first (map-side rank per nation),
    * so the aggregated arrays are ≤5 elements regardless of corpus
    * size; one exchange shared by window + groupBy.
    */
  val qAggListagg: Q = (s, d) => {
    val w = Window.partitionBy("c_nationkey")
      .orderBy(col("c_acctbal").desc, col("c_name").asc)
    Tables.customer(s, d)
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 5)
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_top"),
           concat_ws("|",
             transform(
               array_sort(collect_list(struct(negate(col("c_acctbal")),
                                              col("c_name")))),
               e => e.getField("c_name"))).as("top_names"))
      .orderBy("c_nationkey")
  }

  val qAggListaggSql: String =
    """WITH ranked AS (
      |  SELECT c_nationkey, c_name, c_acctbal,
      |    row_number() OVER (PARTITION BY c_nationkey
      |                       ORDER BY c_acctbal DESC, c_name ASC) AS rk
      |  FROM customer
      |)
      |SELECT c_nationkey, COUNT(*) AS n_top,
      |  string_agg(c_name, '|' ORDER BY c_acctbal DESC, c_name ASC)
      |    AS top_names
      |FROM ranked WHERE rk <= 5
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  /** Z-order (Morton) clustering key — the multi-dimensional data-layout
    * technique: interleaving the bits of (customer, order-day) gives a
    * 1-D sort key under which rows close in EITHER dimension land in the
    * same file, so parquet min-max row-group stats prune 2-D predicates
    * (`cust BETWEEN … AND day BETWEEN …`) that a single-column sort can
    * only prune on one axis. At 100 TB this is how you lay the table
    * out at rest (`sort by zval` at write time — the write path is
    * [[qSinkPartitioned]]'s); the operator computes the key and the
    * derived file assignment.
    *
    * The interleave is 16 static shift/mask/or terms per dimension —
    * pure codegen'd integer ops, identically spelled in DuckDB, so every
    * z-value is row-for-row oracled.
    */
  val qZorder: Q = (s, d) => {
    def interleave(x: Column, y: Column): Column =
      (0 until 16).map { i =>
        (shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
         shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
      }.reduce(_ + _)
    Tables.orders(s, d)
      .select(col("o_orderkey"),
              pmod(col("o_custkey"), lit(65536L)).as("xd"),
              pmod(datediff(col("o_orderdate"), lit("1992-01-01")).cast("long"),
                   lit(65536L)).as("yd"))
      .select(col("o_orderkey"),
              interleave(col("xd"), col("yd")).as("zval"))
      .withColumn("zfile", shiftright(col("zval"), 22))
      .orderBy("o_orderkey")
  }

  val qZorderSql: String = {
    val terms = (0 until 16).map { i =>
      s"(((xd >> $i) & 1) << ${2 * i}) + (((yd >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")
    s"""WITH dims AS (
       |  SELECT o_orderkey,
       |    o_custkey % 65536 AS xd,
       |    CAST(datediff('day', DATE '1992-01-01', o_orderdate) AS BIGINT)
       |      % 65536 AS yd
       |  FROM orders
       |), z AS (
       |  SELECT o_orderkey, $terms AS zval FROM dims
       |)
       |SELECT o_orderkey, zval, zval >> 22 AS zfile
       |FROM z ORDER BY o_orderkey""".stripMargin
  }

  /** Sweep-line interval concurrency — how many orders are "open" on
    * each date, treating every order as active for 7 days from
    * o_orderdate. The classic telemetry/concurrency question (max
    * concurrent sessions, active leases) answered without an interval
    * self-join: each order contributes a +1 at its start and a −1 at
    * its end; a running sum over the date axis is the concurrency.
    *
    * Scale shape: the ±1 events AGGREGATE to per-date deltas first
    * (map-side partial, one narrow shuffle on date), so the ordered
    * running-sum window runs over the DATE DIMENSION — ~2.4k rows for
    * TPC-H regardless of SF — never over the fact table. The
    * single-partition window is over a provably bounded input; the
    * interval-join alternative would be O(orders × avg_span).
    */
  val qIntervalSweep: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val deltas = o.select(to_date(col("o_orderdate")).as("dt"), lit(1L).as("delta"))
      .unionByName(
        o.select(date_add(to_date(col("o_orderdate")), 7).as("dt"),
                 lit(-1L).as("delta")))
      .groupBy("dt").agg(sum(col("delta")).as("net"))
    val w = Window.orderBy("dt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas
      .select(col("dt").cast("timestamp").as("dt"),
              sum(col("net")).over(w).as("n_active"))
      .orderBy("dt")
  }

  val qIntervalSweepSql: String =
    """WITH deltas AS (
      |  SELECT dt, CAST(SUM(delta) AS BIGINT) AS net FROM (
      |    SELECT CAST(o_orderdate AS DATE) AS dt, 1 AS delta FROM orders
      |    UNION ALL
      |    SELECT CAST(o_orderdate AS DATE) + 7 AS dt, -1 AS delta FROM orders
      |  ) GROUP BY dt
      |)
      |SELECT CAST(dt AS TIMESTAMP) AS dt,
      |  CAST(SUM(net) OVER (ORDER BY dt
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS n_active
      |FROM deltas ORDER BY dt""".stripMargin

  /** Data-quality constraint suite (the Deequ/dbt-tests shape): declared
    * expectations over the lake evaluated in bulk, each reporting its
    * violation count — primary-key uniqueness, referential integrity,
    * null fraction, value range, set membership. One row per check, so
    * the result is a quality REPORT, not a filtered table; a scheduler
    * gates downstream jobs on `n_violations = 0`.
    *
    * Scale shape: each check is an aggregate the optimizer already
    * handles (count-distinct for uniqueness, anti-join for FK, predicate
    * counts for the rest); checks over the same table could share one
    * scan via a single multi-aggregate pass — kept separate here so each
    * check's shape stays independently readable, at one scan per check.
    */
  val qDqChecks: Q = (s, d) => {
    val orders = Tables.orders(s, d)
    val lineitem = Tables.lineitem(s, d)
    val customer = Tables.customer(s, d)
    // every check is a one-row count frame; UNION them into a single
    // plan so the whole audit is ONE job whose branches run as parallel
    // stages — the r17 shape issued six sequential .count() driver
    // actions, serializing six scans end to end (guide §2.6: overlap
    // independent work; the audit values are identical)
    def c1(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_violations"))
        .select(lit(name).as("check_name"), col("n_violations"))
    c1("pk_unique_o_orderkey",
        orders.groupBy("o_orderkey").count().where(col("count") > 1))
      .unionByName(c1("fk_lineitem_orders",
        lineitem.join(orders, col("l_orderkey") === col("o_orderkey"),
                      "left_anti")))
      .unionByName(c1("fk_orders_customer",
        orders.join(customer, col("o_custkey") === col("c_custkey"),
                    "left_anti")))
      .unionByName(c1("not_null_o_totalprice",
        orders.where(col("o_totalprice").isNull)))
      .unionByName(c1("range_l_quantity_1_50",
        lineitem.where(col("l_quantity") < 1 || col("l_quantity") > 50)))
      .unionByName(c1("set_o_orderstatus",
        orders.where(!col("o_orderstatus").isin("F", "O", "P"))))
      .withColumn("pass", col("n_violations") === 0)
      .orderBy("check_name")
  }

  val qDqChecksSql: String =
    """WITH checks(check_name, n_violations) AS (
      |  SELECT 'pk_unique_o_orderkey',
      |    (SELECT COUNT(*) FROM (SELECT o_orderkey FROM orders
      |      GROUP BY o_orderkey HAVING COUNT(*) > 1))
      |  UNION ALL
      |  SELECT 'fk_lineitem_orders',
      |    (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
      |      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
      |  UNION ALL
      |  SELECT 'fk_orders_customer',
      |    (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
      |      (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
      |  UNION ALL
      |  SELECT 'not_null_o_totalprice',
      |    (SELECT COUNT(*) FROM orders WHERE o_totalprice IS NULL)
      |  UNION ALL
      |  SELECT 'range_l_quantity_1_50',
      |    (SELECT COUNT(*) FROM lineitem
      |     WHERE l_quantity < 1 OR l_quantity > 50)
      |  UNION ALL
      |  SELECT 'set_o_orderstatus',
      |    (SELECT COUNT(*) FROM orders
      |     WHERE o_orderstatus NOT IN ('F', 'O', 'P'))
      |)
      |SELECT check_name, CAST(n_violations AS BIGINT) AS n_violations,
      |  n_violations = 0 AS pass
      |FROM checks ORDER BY check_name""".stripMargin

  // ----------------------------------------------------------- subqueries

  /** Scalar subquery — Catalyst plans the aggregate once and broadcasts
    * the scalar; price ratio is double/double of identical operands in
    * both engines.
    */
  val qSubqueryScalar: Q = (s, d) => {
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_sq")
    s.sql(
      """SELECT o_orderkey,
        |  ROUND(o_totalprice /
        |        (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |                / COUNT(*) FROM graft_orders_sq), 6) AS price_ratio
        |FROM graft_orders_sq
        |WHERE o_totalprice > 1.5 *
        |      (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |              / COUNT(*) FROM graft_orders_sq)
        |ORDER BY o_orderkey""".stripMargin)
  }

  val qSubqueryScalarSql: String =
    """SELECT o_orderkey,
      |  ROUND(o_totalprice /
      |        (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |                / COUNT(*) FROM orders), 6) AS price_ratio
      |FROM orders
      |WHERE o_totalprice > 1.5 *
      |      (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |              / COUNT(*) FROM orders)
      |ORDER BY o_orderkey""".stripMargin

  /** IN / NOT IN subqueries — planned as semi/anti joins. */
  val qSubqueryIn: Q = (s, d) => {
    Tables.customer(s, d).createOrReplaceTempView("graft_cust_sq")
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_sq2")
    s.sql(
      """SELECT c_custkey, c_mktsegment FROM graft_cust_sq
        |WHERE c_custkey IN (SELECT o_custkey FROM graft_orders_sq2
        |                    WHERE o_totalprice > 350000)
        |  AND c_custkey NOT IN (SELECT o_custkey FROM graft_orders_sq2
        |                        WHERE o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin)
  }

  val qSubqueryInSql: String =
    """SELECT c_custkey, c_mktsegment FROM customer
      |WHERE c_custkey IN (SELECT o_custkey FROM orders
      |                    WHERE o_totalprice > 350000)
      |  AND c_custkey NOT IN (SELECT o_custkey FROM orders
      |                        WHERE o_orderstatus = 'P')
      |ORDER BY c_custkey""".stripMargin

  /** PIVOT: status columns per order-year (oracle uses the equivalent
    * conditional aggregation — PIVOT is sugar over it in any engine).
    */
  val qPivot: Q = (s, d) =>
    Tables.orders(s, d)
      .withColumn("yr", year(col("o_orderdate")).cast("long"))
      .groupBy("yr")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("yr")

  val qPivotSql: String =
    """SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
      |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
      |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
      |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
      |FROM orders GROUP BY 1 ORDER BY yr""".stripMargin

  /** UNPIVOT (melt): wide measures → long (measure, value) rows via the
    * native unpivot operator, then a per-measure profile. The melt is a
    * row-local 1→3 expansion (no shuffle of its own — the only exchange
    * is the tiny final agg), which is what makes long-form conversion
    * free at 100 TB. Values are decimal-exact per the [[util.dsum]]
    * recipe.
    */
  val qUnpivot: Q = (s, d) => {
    val dec = DecimalType(18, 2)
    Tables.lineitem(s, d)
      .select(col("l_orderkey"),
              col("l_quantity").cast(dec).as("quantity"),
              col("l_extendedprice").cast(dec).as("extendedprice"),
              col("l_discount").cast(dec).as("discount"))
      .unpivot(Array(col("l_orderkey")),
               Array(col("quantity"), col("extendedprice"), col("discount")),
               "measure", "val")
      .groupBy("measure")
      .agg(count(lit(1)).as("n"),
           sum(col("val")).cast("double").as("total"),
           max(col("val")).cast("double").as("mx"))
      .orderBy("measure")
  }

  val qUnpivotSql: String =
    """WITH u AS (
      |  SELECT l_orderkey, 'quantity' AS measure,
      |         CAST(l_quantity AS DECIMAL(18,2)) AS val FROM lineitem
      |  UNION ALL
      |  SELECT l_orderkey, 'extendedprice',
      |         CAST(l_extendedprice AS DECIMAL(18,2)) FROM lineitem
      |  UNION ALL
      |  SELECT l_orderkey, 'discount',
      |         CAST(l_discount AS DECIMAL(18,2)) FROM lineitem
      |)
      |SELECT measure, COUNT(*) AS n,
      |       CAST(SUM(val) AS DOUBLE) AS total,
      |       CAST(MAX(val) AS DOUBLE) AS mx
      |FROM u GROUP BY measure ORDER BY measure""".stripMargin

  /** Null semantics: null-safe equality, IS DISTINCT FROM, null-aware
    * conditionals over the outer join's generated nulls.
    */
  val qNullSemantics: Q = (s, d) => {
    val j = Tables.customer(s, d)
      .join(Tables.orders(s, d).where(col("o_totalprice") > 400000),
            col("c_custkey") === col("o_custkey"), "left")
    j.select(
        col("c_custkey"), col("o_orderkey"),
        col("o_orderkey").isNull.as("no_big_order"),
        (col("o_orderstatus") <=> lit("F")).as("nullsafe_f"),
        coalesce(col("o_totalprice"), lit(0.0)).as("price_or_zero"),
        when(col("o_orderkey").isNotNull, lit("matched"))
          .otherwise(lit("unmatched")).as("tag"))
      .orderBy(col("c_custkey").asc, col("o_orderkey").asc_nulls_first)
  }

  val qNullSemanticsSql: String =
    """SELECT c_custkey, o_orderkey,
      |  o_orderkey IS NULL AS no_big_order,
      |  o_orderstatus IS NOT DISTINCT FROM 'F' AS nullsafe_f,
      |  COALESCE(o_totalprice, 0.0) AS price_or_zero,
      |  CASE WHEN o_orderkey IS NOT NULL THEN 'matched'
      |       ELSE 'unmatched' END AS tag
      |FROM customer LEFT JOIN
      |  (SELECT * FROM orders WHERE o_totalprice > 400000) o
      |  ON c_custkey = o_custkey
      |ORDER BY c_custkey, o_orderkey NULLS FIRST""".stripMargin

  // ------------------------------------------------------- sort / top-k

  /** Multi-key global sort → range-partitioned exchange + per-partition
    * sort. Output partitions are contiguous ranges, so coalesced writes
    * stay globally ordered.
    */
  val qSortMulti: Q = (s, d) =>
    Tables.lineitem(s, d)
      .select("l_returnflag", "l_shipdate", "l_orderkey", "l_linenumber")
      .orderBy(col("l_returnflag").asc, col("l_shipdate").desc,
               col("l_orderkey").asc, col("l_linenumber").asc)

  val qSortMultiSql: String =
    """SELECT l_returnflag, l_shipdate, l_orderkey, l_linenumber FROM lineitem
      |ORDER BY l_returnflag ASC, l_shipdate DESC, l_orderkey, l_linenumber""".stripMargin

  /** ORDER BY + LIMIT k — planner emits TakeOrderedAndProject: per-
    * partition top-k then a k-row merge on the driver; no global sort.
    * This is the distributed top-k pattern that survives 100 TB.
    */
  val qTopkGlobal: Q = (s, d) =>
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc,
               col("l_linenumber").asc)
      .limit(100)

  val qTopkGlobalSql: String =
    """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
      |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin

  // ---------------------------------------------------------------- sets

  /** UNION ALL + grouped count (covers bag semantics deterministically). */
  val qSetUnion: Q = (s, d) =>
    Tables.customer(s, d).select(col("c_custkey").as("k"))
      .unionAll(Tables.orders(s, d).select(col("o_custkey").as("k")))
      .groupBy("k").agg(count(lit(1)).as("cnt"))
      .orderBy("k")

  val qSetUnionSql: String =
    """SELECT k, COUNT(*) AS cnt FROM (
      |  SELECT c_custkey AS k FROM customer
      |  UNION ALL
      |  SELECT o_custkey AS k FROM orders
      |) GROUP BY k ORDER BY k""".stripMargin

  val qSetIntersect: Q = (s, d) =>
    Tables.customer(s, d).select(col("c_custkey").as("k"))
      .intersect(Tables.orders(s, d).select(col("o_custkey").as("k")))
      .orderBy("k")

  val qSetIntersectSql: String =
    """SELECT c_custkey AS k FROM customer
      |INTERSECT
      |SELECT o_custkey AS k FROM orders
      |ORDER BY k""".stripMargin

  val qSetExcept: Q = (s, d) =>
    Tables.customer(s, d).select(col("c_custkey").as("k"))
      .except(Tables.orders(s, d).where(col("o_totalprice") > 400000)
                .select(col("o_custkey").as("k")))
      .orderBy("k")

  val qSetExceptSql: String =
    """SELECT c_custkey AS k FROM customer
      |EXCEPT
      |SELECT o_custkey AS k FROM orders WHERE o_totalprice > 400000
      |ORDER BY k""".stripMargin

  // -------------------------------------------------------- merge/upsert

  /** CDC-style MERGE (upsert) on immutable storage — latest-wins
    * compaction, the copy-on-write pattern Delta/Hudi apply at file
    * granularity, expressed in pure Spark: union the base snapshot with
    * a versioned change feed (updates + inserts), then keep the highest
    * version per key via one key-partitioned window. One shuffle on the
    * merge key; at 100 TB the same plan runs per partition/bucket with
    * file-level pruning deciding which base files even join the union —
    * bucketing the base on the key (see [[qJoinBucketed]]) makes the
    * compaction shuffle-free on the base side.
    *
    * The change feed is derived deterministically from the base so the
    * oracle can rebuild it: keys ≡0 mod 37 get a priority rewrite and a
    * +1.00 price bump; keys ≡0 mod 97 are re-inserted as new rows under
    * key + (max(o_orderkey)+1) — the offset is derived from the data, so
    * insert keys are disjoint from base keys at ANY scale factor (a fixed
    * offset would collide once orderkeys pass it and silently turn
    * inserts into updates). DuckDB re-derives the same offset via a
    * scalar subquery and replays the union + window argmax row-for-row.
    */
  val qMergeUpsert: Q = (s, d) => {
    // scalar max — one agg action on the driver, exact integer arithmetic
    // (no float log tricks), same value DuckDB's scalar subquery computes
    val offset = Tables.orders(s, d)
      .agg(max(col("o_orderkey"))).first().getLong(0) + 1L
    val base = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"),
              col("o_totalprice"), lit(0).as("v"))
    val updates = Tables.orders(s, d)
      .where(pmod(col("o_orderkey"), lit(37)) === 0)
      .select(col("o_orderkey"),
              concat(lit("U-"), col("o_orderpriority")).as("o_orderpriority"),
              (col("o_totalprice") + lit(1.0)).as("o_totalprice"),
              lit(1).as("v"))
    val inserts = Tables.orders(s, d)
      .where(pmod(col("o_orderkey"), lit(97)) === 0)
      .select((col("o_orderkey") + lit(offset)).as("o_orderkey"),
              lit("9-NEW").as("o_orderpriority"),
              col("o_totalprice"), lit(1).as("v"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_orderkey").orderBy(col("v").desc)
    base.unionByName(updates).unionByName(inserts)
      .withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  val qMergeUpsertSql: String =
    """WITH feed AS (
      |  SELECT o_orderkey, o_orderpriority, o_totalprice, 0 AS v FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, 'U-' || o_orderpriority, o_totalprice + 1.0, 1
      |  FROM orders WHERE o_orderkey % 37 = 0
      |  UNION ALL
      |  SELECT o_orderkey + (SELECT max(o_orderkey) + 1 FROM orders),
      |         '9-NEW', o_totalprice, 1
      |  FROM orders WHERE o_orderkey % 97 = 0
      |), ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY o_orderkey
      |                               ORDER BY v DESC) AS rk
      |  FROM feed
      |)
      |SELECT o_orderkey, o_orderpriority, o_totalprice
      |FROM ranked WHERE rk = 1 ORDER BY o_orderkey""".stripMargin

  // ------------------------------------------------------------ registry

  val entries: Map[String, Q] = Map(
    "q_scan_parquet"     -> qScanParquet,
    "q_scan_pruned"      -> qScanPruned,
    "q_sink_partitioned" -> qSinkPartitioned,
    "q_sink_compact"     -> qSinkCompact,
    "q_scan_text_gz"     -> qScanTextGz,
    "q_scan_csv"         -> qScanCsv,
    "q_scan_orc"         -> qScanOrc,
    "q_scan_json"        -> qScanJson,
    "q_scan_xml"         -> qScanXml,
    "q_recursive_calendar" -> qRecursiveCalendar,
    "q_profile_columns"  -> qProfileColumns,
    "q_profile_histogram" -> qProfileHistogram,
    "q_project_expr"     -> qProjectExpr,
    "q_filter_pred"      -> qFilterPred,
    "q_join_inner"       -> qJoinInner,
    "q_join_broadcast"   -> qJoinBroadcast,
    "q_join_left"        -> qJoinLeft,
    "q_join_semi"        -> qJoinSemi,
    "q_join_anti"        -> qJoinAnti,
    "q_join_theta_range" -> qJoinThetaRange,
    "q_join_range_banded" -> qJoinRangeBanded,
    "q_join_asof"        -> qJoinAsof,
    "q_join_asof_tolerance" -> qJoinAsofTolerance,
    "q_join_asof_native" -> qJoinAsofNative,
    "q_join_multiway"    -> qJoinMultiway,
    "q_join_bucketed"    -> qJoinBucketed,
    "q_join_bloom"       -> qJoinBloom,
    "q_join_full"        -> qJoinFull,
    "q_join_lateral"     -> qJoinLateral,
    "q_subquery_exists"  -> qSubqueryExists,
    "q_agg_group"        -> qAggGroup,
    "q_agg_distinct"     -> qAggDistinct,
    "q_agg_rollup"       -> qAggRollup,
    "q_agg_cube"         -> qAggCube,
    "q_agg_gsets"        -> qAggGsets,
    "q_agg_stats"        -> qAggStats,
    "q_agg_corr"         -> qAggCorr,
    "q_agg_listagg"      -> qAggListagg,
    "q_zorder"           -> qZorder,
    "q_join_dpp"         -> qJoinDpp,
    "q_interval_sweep"   -> qIntervalSweep,
    "q_dq_checks"        -> qDqChecks,
    "q_subquery_scalar"  -> qSubqueryScalar,
    "q_subquery_in"      -> qSubqueryIn,
    "q_pivot"            -> qPivot,
    "q_unpivot"          -> qUnpivot,
    "q_null_semantics"   -> qNullSemantics,
    "q_sort_multi"       -> qSortMulti,
    "q_topk_global"      -> qTopkGlobal,
    "q_set_union"        -> qSetUnion,
    "q_set_intersect"    -> qSetIntersect,
    "q_set_except"       -> qSetExcept,
    "q_merge_upsert"     -> qMergeUpsert
  )

  val oracles: Map[String, String] = Map(
    "q_scan_parquet"     -> qScanParquetSql,
    "q_scan_pruned"      -> qScanPrunedSql,
    "q_sink_partitioned" -> qSinkPartitionedSql,
    "q_sink_compact"     -> qSinkCompactSql,
    "q_scan_text_gz"     -> qScanTextGzSql,
    "q_scan_csv"         -> qScanCsvSql,
    "q_scan_orc"         -> qScanOrcSql,
    "q_scan_json"        -> qScanJsonSql,
    "q_scan_xml"         -> qScanXmlSql,
    "q_recursive_calendar" -> qRecursiveCalendarSql,
    "q_profile_columns"  -> qProfileColumnsSql,
    "q_profile_histogram" -> qProfileHistogramSql,
    "q_project_expr"     -> qProjectExprSql,
    "q_filter_pred"      -> qFilterPredSql,
    "q_join_inner"       -> qJoinInnerSql,
    "q_join_broadcast"   -> qJoinBroadcastSql,
    "q_join_left"        -> qJoinLeftSql,
    "q_join_semi"        -> qJoinSemiSql,
    "q_join_anti"        -> qJoinAntiSql,
    "q_join_theta_range" -> qJoinThetaRangeSql,
    "q_join_range_banded" -> qJoinThetaRangeSql,
    "q_join_asof"        -> qJoinAsofSql,
    "q_join_asof_tolerance" -> qJoinAsofToleranceSql,
    "q_join_asof_native" -> qJoinAsofSql,
    "q_join_multiway"    -> qJoinMultiwaySql,
    "q_join_bucketed"    -> qJoinBucketedSql,
    "q_join_bloom"       -> qJoinBloomSql,
    "q_join_full"        -> qJoinFullSql,
    "q_join_lateral"     -> qJoinLateralSql,
    "q_subquery_exists"  -> qSubqueryExistsSql,
    "q_agg_group"        -> qAggGroupSql,
    "q_agg_distinct"     -> qAggDistinctSql,
    "q_agg_rollup"       -> qAggRollupSql,
    "q_agg_cube"         -> qAggCubeSql,
    "q_agg_gsets"        -> qAggGsetsSql,
    "q_agg_stats"        -> qAggStatsSql,
    "q_agg_corr"         -> qAggCorrSql,
    "q_agg_listagg"      -> qAggListaggSql,
    "q_zorder"           -> qZorderSql,
    "q_join_dpp"         -> qJoinDppSql,
    "q_interval_sweep"   -> qIntervalSweepSql,
    "q_dq_checks"        -> qDqChecksSql,
    "q_subquery_scalar"  -> qSubqueryScalarSql,
    "q_subquery_in"      -> qSubqueryInSql,
    "q_pivot"            -> qPivotSql,
    "q_unpivot"          -> qUnpivotSql,
    "q_null_semantics"   -> qNullSemanticsSql,
    "q_sort_multi"       -> qSortMultiSql,
    "q_topk_global"      -> qTopkGlobalSql,
    "q_set_union"        -> qSetUnionSql,
    "q_set_intersect"    -> qSetIntersectSql,
    "q_set_except"       -> qSetExceptSql,
    "q_merge_upsert"     -> qMergeUpsertSql
  )
}
