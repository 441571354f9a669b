package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import util._

/** Lake-operations wave: incremental aggregate-state maintenance,
  * file-level lineage metering, CUSUM changepoint detection, and a
  * Zipf rank-frequency fit over the token stream.
  *
  * Reference analog: the reference materializes its parquet lake once
  * and delegates all analytics to Athena (README.md:2); these are the
  * operate-the-lake-over-time queries such a deployment grows into —
  * keeping rollups fresh without rescanning history, attributing rows
  * to the files that carried them, and watching the series/corpus for
  * structural change.
  *
  * Cross-engine exactness per query: the state merge is pure
  * integer/decimal arithmetic; CUSUM is scaled to stay in integers
  * (S_t = n·P_t − t·T) so the argmax is exact; the Zipf fit rounds each
  * ln-derived term to 6 dp and sums in DECIMAL, so the one libm
  * touchpoint (`ln`, ≤1 ulp between engines) sits behind a rounding
  * far coarser than its error — the same discipline as q_dq_drift's
  * PSI.
  */
object Maintain {

  // ---------------------------------------------------------------
  // q_agg_incremental_state — merge persisted aggregate state with a
  // delta batch; exact distincts maintained incrementally.
  // ---------------------------------------------------------------

  private val StateCutoff = "2024-01-25"

  /** Mergeable per-(event_type, user_id) partials: row count + exact
    * decimal value sum. This IS the persisted state's schema — nothing
    * non-mergeable (no avg, no distinct-count scalar) is ever stored.
    */
  private def partials(df: org.apache.spark.sql.DataFrame) =
    df.groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).as("s"))

  /** Incremental aggregate maintenance — the nightly-rollup pattern: a
    * persisted per-(event_type, user_id) partial-aggregate state is
    * merged with the new delta batch's partials, and the report
    * (including an EXACT distinct-user count) derives from the merged
    * state WITHOUT rescanning history. The oracle aggregates the full
    * raw table directly, so the gate proves the state layer loses
    * nothing: counts add, decimal sums add exactly, and the distinct
    * comes from counting merged state keys — the only way to keep an
    * exact distinct incremental.
    *
    * At 100 TB: the state is |event_type × active users| rows — smaller
    * than the firehose by the per-user event rate — and the nightly
    * cost is O(state + delta), never O(corpus). Both sides of the merge
    * arrive pre-aggregated, so the union shuffles partials, not rows;
    * the state side would be bucketed-at-rest on (event_type, user_id)
    * in production, making the merge exchange-free on its side.
    */
  val qAggIncrementalState: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val dir = Relational.scratchDir("agg_state", d)
    Seeds.once("agg_state", dir) {
      partials(ev.where(col("ts") < lit(StateCutoff).cast("timestamp")))
        .write.mode("overwrite").parquet(s"$dir/state")
    }
    val delta =
      partials(ev.where(col("ts") >= lit(StateCutoff).cast("timestamp")))
    Tables.parquet(s, s"$dir/state").unionByName(delta)
      .groupBy("event_type", "user_id")
      .agg(sum(col("n")).as("n"), sum(col("s")).as("s"))
      .groupBy("event_type")
      .agg(sum(col("n")).as("n_events"),
        count(lit(1)).as("n_users"),
        sum(col("s")).cast("double").as("total_value"))
      .withColumn("avg_value", round(col("total_value") / col("n_events"), 6))
      .orderBy("event_type")
  }

  val qAggIncrementalStateSql: String =
    """SELECT event_type,
      |  count(*) AS n_events,
      |  count(DISTINCT user_id) AS n_users,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
      |  round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) /
      |        count(*), 6) AS avg_value
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q_scan_lineage — file-level provenance metering.
  // ---------------------------------------------------------------

  /** File-level lineage: attribute every row of a multi-file table back
    * to the physical file that carried it via `input_file_name()` and
    * meter per-file row counts and value totals — the audit a lake
    * operator runs to find the file a bad batch landed in. The orders
    * table is seeded once per sf dir into an 8-file hash layout; the
    * oracle reads the SAME files with DuckDB's `filename=true`, so the
    * gate proves the lineage column names exactly the file each row
    * physically lives in (both engines count the same per-file rows and
    * the same exact-decimal totals).
    *
    * At 100 TB lineage is metadata-only: `input_file_name` is populated
    * by the scan itself (no join against a manifest), the per-file
    * rollup combines map-side — each task emits one partial per file it
    * read — and the exchange carries |files| rows, not |rows|.
    */
  val qScanLineage: Q = (s, d) => {
    val dir = Scratch.path("lineage_files", d)
    Seeds.once("lineage_files", dir) {
      Tables.orders(s, d).repartition(8, col("o_orderkey"))
        .write.mode("overwrite").parquet(dir)
    }
    Tables.parquet(s, dir)
      .withColumn("file",
        regexp_extract(input_file_name(), "([^/]+)$", 1))
      .groupBy("file")
      .agg(count(lit(1)).as("n_rows"),
        dsum(col("o_totalprice")).as("total_price"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy("file")
  }

  val qScanLineageSql: String =
    s"""SELECT regexp_extract(filename, '([^/]+)$$', 1) AS file,
       |  count(*) AS n_rows,
       |  ${dsumSql("o_totalprice")} AS total_price,
       |  min(o_orderkey) AS min_key,
       |  max(o_orderkey) AS max_key
       |FROM read_parquet('${Scratch.sqlPath("lineage_files")}/*.parquet',
       |                  filename=true)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q_time_changepoint — integer-exact CUSUM mean-shift detection.
  // ---------------------------------------------------------------

  /** CUSUM changepoint detection over the daily event series, per
    * event_type: the classic mean-shift statistic S_t = Σ_{i≤t}(x_i − x̄)
    * peaks at the day the series' mean level shifts. Computed SCALED BY
    * n so every step stays in integer arithmetic — S'_t = n·P_t − t·T
    * (P_t prefix sum, T total, n days) — making the argmax exact in
    * both engines; the before/after mean levels are single divisions of
    * identical integer operands. Ties on |S'| break to the earliest day.
    *
    * At 100 TB the firehose collapses to the (event_type, day) grain in
    * one combining aggregation; every window below runs over the
    * aggregated series (|types| × |days| rows), partitioned by
    * event_type so no global sort ever sees raw rows.
    */
  val qTimeChangepoint: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val byDay = Window.partitionBy("event_type").orderBy("day")
    val whole = Window.partitionBy("event_type")
    val scored = daily
      .withColumn("p", sum(col("n")).over(
        byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("t", row_number().over(byDay).cast("long"))
      .withColumn("tot", sum(col("n")).over(whole))
      .withColumn("nd", count(lit(1)).over(whole).cast("long"))
      .withColumn("abs_s",
        abs(col("nd") * col("p") - col("t") * col("tot")))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy("event_type")
          .orderBy(col("abs_s").desc, col("day").asc)))
      .where(col("rk") === 1)
      .select(col("event_type"),
        col("nd").as("n_days"),
        col("day").cast("timestamp").as("cp_day"),
        col("abs_s").as("max_abs_s"),
        round(col("p").cast("double") / col("t"), 6).as("mean_before"),
        when(col("nd") > col("t"),
          round((col("tot") - col("p")).cast("double") /
            (col("nd") - col("t")), 6)).as("mean_after"))
      .orderBy("event_type")
  }

  val qTimeChangepointSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |w AS (
      |  SELECT event_type, day, n,
      |    sum(n) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
      |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
      |    sum(n) OVER (PARTITION BY event_type) AS tot,
      |    count(*) OVER (PARTITION BY event_type) AS nd
      |  FROM daily),
      |r AS (
      |  SELECT *, abs(nd * p - t * tot) AS abs_s,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY abs(nd * p - t * tot) DESC, day ASC) AS rk
      |  FROM w)
      |SELECT event_type,
      |  CAST(nd AS BIGINT) AS n_days,
      |  CAST(day AS TIMESTAMP) AS cp_day,
      |  CAST(abs_s AS BIGINT) AS max_abs_s,
      |  round(CAST(p AS DOUBLE) / t, 6) AS mean_before,
      |  CASE WHEN nd > t
      |    THEN round(CAST(tot - p AS DOUBLE) / (nd - t), 6) END
      |    AS mean_after
      |FROM r WHERE rk = 1 ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------
  // q_text_zipf — rank-frequency power-law fit over the token stream.
  // ---------------------------------------------------------------

  private val ZipfTopK = 300

  /** Zipf rank-frequency fit per source: OLS slope of ln(freq) on
    * ln(rank) over each source's top-300 tokens — the corpus-health
    * screen that flags templated or machine-generated text (natural
    * language sits near slope −1; boilerplate flattens, spam steepens).
    * Ranks tie-break on the token string so the top-k cut is
    * deterministic; each ln-derived OLS term is rounded to 6 dp and
    * summed in DECIMAL, so both engines sum identical values and the
    * slope/intercept quotients see identical operands (q_dq_drift's
    * PSI discipline).
    *
    * At 100 TB: one combining aggregation collapses the token stream to
    * (source, token) counts; the rank window and the fit run over the
    * top-k per source (bounded rows). The token exchange is the only
    * corpus-sized shuffle, and it carries combiner-collapsed counts.
    */
  val qTextZipf: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("source"),
        explode(filter(split(col("text"), " "), t => length(t) > 0))
          .as("tok"))
    val tf = toks.groupBy("source", "tok").agg(count(lit(1)).as("cnt"))
    val ranked = tf
      .withColumn("rank", row_number().over(
        Window.partitionBy("source")
          .orderBy(col("cnt").desc, col("tok").asc)).cast("long"))
      .where(col("rank") <= ZipfTopK)
      .withColumn("lx", log(col("rank").cast("double")))
      .withColumn("ly", log(col("cnt").cast("double")))
    def dterm(c: org.apache.spark.sql.Column) =
      sum(round(c, 6).cast(DecimalType(28, 6))).cast("double")
    ranked.groupBy("source")
      .agg(count(lit(1)).cast("double").as("k"),
        dterm(col("lx")).as("sx"),
        dterm(col("ly")).as("sy"),
        dterm(col("lx") * col("lx")).as("sxx"),
        dterm(col("lx") * col("ly")).as("sxy"))
      .select(col("source"),
        col("k").cast("long").as("n_terms"),
        round((col("k") * col("sxy") - col("sx") * col("sy")) /
          (col("k") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
        round((col("sy") - ((col("k") * col("sxy") - col("sx") * col("sy")) /
          (col("k") * col("sxx") - col("sx") * col("sx"))) * col("sx")) /
          col("k"), 6).as("intercept"))
      .orderBy("source")
  }

  val qTextZipfSql: String =
    s"""WITH toks AS (
       |  SELECT source, tok
       |  FROM documents,
       |    UNNEST(string_split(text, ' ')) AS u(tok)
       |  WHERE len(tok) > 0),
       |tf AS (
       |  SELECT source, tok, count(*) AS cnt FROM toks GROUP BY 1, 2),
       |ranked AS (
       |  SELECT source, cnt,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY cnt DESC, tok ASC) AS rank
       |  FROM tf),
       |terms AS (
       |  SELECT source,
       |    ln(CAST(rank AS DOUBLE)) AS lx,
       |    ln(CAST(cnt AS DOUBLE)) AS ly
       |  FROM ranked WHERE rank <= $ZipfTopK),
       |m AS (
       |  SELECT source,
       |    CAST(count(*) AS DOUBLE) AS k,
       |    CAST(SUM(CAST(round(lx, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sx,
       |    CAST(SUM(CAST(round(ly, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sy,
       |    CAST(SUM(CAST(round(lx * lx, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
       |    CAST(SUM(CAST(round(lx * ly, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sxy
       |  FROM terms GROUP BY source)
       |SELECT source,
       |  CAST(k AS BIGINT) AS n_terms,
       |  round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS slope,
       |  round((sy - ((k * sxy - sx * sy) / (k * sxx - sx * sx)) * sx) / k,
       |        6) AS intercept
       |FROM m ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // q_win_islands — per-user activity streaks (gaps-and-islands).
  // ---------------------------------------------------------------

  /** Per-user activity streaks — the retention question "how long do
    * users stay active without a break?" via the gaps-and-islands
    * identity: within a user's ordered distinct active days,
    * `epoch_day − row_number()` is constant exactly across consecutive
    * days, so one grouping on it recovers every streak without a
    * calendar spine. Pure integer/date arithmetic end to end; the
    * longest streak tie-breaks to the earliest start.
    *
    * At 100 TB: the firehose collapses to distinct (user, day) in one
    * combining aggregation; the single user-keyed exchange serves the
    * row_number window, the island rollup, and the per-user summary
    * (same partitioning, no re-shuffle). State is |users × active
    * days|, never |events|.
    */
  val qWinIslands: Q = (s, d) => {
    val active = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .withColumn("dayidx", datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
    val byDay = Window.partitionBy("user_id").orderBy("dayidx")
    val islands = active
      .withColumn("grp", col("dayidx") - row_number().over(byDay))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"), min(col("day")).as("start"))
    val byUser = Window.partitionBy("user_id")
    islands
      .withColumn("n_active_days", sum(col("len")).over(byUser))
      .withColumn("n_islands", count(lit(1)).over(byUser))
      .withColumn("rk", row_number().over(
        byUser.orderBy(col("len").desc, col("start").asc)))
      .where(col("rk") === 1)
      .select(col("user_id"), col("n_active_days"), col("n_islands"),
        col("len").as("max_streak"),
        col("start").cast("timestamp").as("streak_start"))
      .orderBy("user_id")
  }

  val qWinIslandsSql: String =
    """WITH active AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |idx AS (
      |  SELECT user_id, day,
      |    date_diff('day', DATE '1970-01-01', day) AS dayidx
      |  FROM active),
      |isl AS (
      |  SELECT user_id, day,
      |    dayidx - row_number() OVER (PARTITION BY user_id
      |      ORDER BY dayidx) AS grp
      |  FROM idx),
      |islands AS (
      |  SELECT user_id, grp, count(*) AS len, min(day) AS start
      |  FROM isl GROUP BY 1, 2),
      |ranked AS (
      |  SELECT user_id, len, start,
      |    sum(len) OVER (PARTITION BY user_id) AS n_active_days,
      |    count(*) OVER (PARTITION BY user_id) AS n_islands,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY len DESC, start ASC) AS rk
      |  FROM islands)
      |SELECT user_id,
      |  CAST(n_active_days AS BIGINT) AS n_active_days,
      |  CAST(n_islands AS BIGINT) AS n_islands,
      |  CAST(len AS BIGINT) AS max_streak,
      |  CAST(start AS TIMESTAMP) AS streak_start
      |FROM ranked WHERE rk = 1 ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------
  // q_basket_lift — market-basket co-occurrence with lift.
  // ---------------------------------------------------------------

  /** Market-basket affinity: part pairs that co-occur in the same order,
    * with support and lift (observed co-occurrence over the
    * independence expectation). The pair join is WITHIN the order key —
    * output is Σ_orders C(basket,2), LINEAR in orders because TPC-H
    * baskets are bounded (≤7 items) — never the part×part cross. Lift's
    * numerator and denominator are exact integers; one division + round
    * 6 at the end.
    *
    * At 100 TB this is the co-occurrence mining shape: one exchange on
    * the basket key for the pair expansion, one on the pair for the
    * support count, part frequencies broadcast back (bounded |parts|
    * aggregate). A pathological mega-basket would quadratically inflate
    * its C(n,2) — production guards with a basket-size cap; TPC-H's
    * 7-row orders need none.
    */
  val qBasketLift: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    val freq = li.groupBy("p").agg(count(lit(1)).as("f"))
    val nOrders = li.select(countDistinct(col("o")).as("n_orders"))
    val pairs = li.alias("a")
      .join(li.alias("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("p1"), col("b.p").as("p2"))
      .agg(count(lit(1)).as("support"))
      .where(col("support") >= 2)
    pairs
      .join(broadcast(freq.withColumnRenamed("p", "p1")
        .withColumnRenamed("f", "f1")), "p1")
      .join(broadcast(freq.withColumnRenamed("p", "p2")
        .withColumnRenamed("f", "f2")), "p2")
      .crossJoin(broadcast(nOrders))
      .select(col("p1"), col("p2"), col("support"),
        round((col("support") * col("n_orders")).cast("double") /
          (col("f1") * col("f2")), 6).as("lift"))
      .orderBy(col("support").desc, col("p1"), col("p2"))
  }

  val qBasketLiftSql: String =
    """WITH e AS (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |freq AS (SELECT p, count(*) AS f FROM e GROUP BY 1),
      |n AS (SELECT count(DISTINCT o) AS n_orders FROM e),
      |pairs AS (
      |  SELECT a.p AS p1, b.p AS p2, count(*) AS support
      |  FROM e a JOIN e b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2 HAVING count(*) >= 2)
      |SELECT p1, p2, support,
      |  round(CAST(support * n_orders AS DOUBLE) / (f1.f * f2.f), 6)
      |    AS lift
      |FROM pairs
      |JOIN freq f1 ON f1.p = pairs.p1
      |JOIN freq f2 ON f2.p = pairs.p2
      |CROSS JOIN n
      |ORDER BY support DESC, p1, p2""".stripMargin

  // ---------------------------------------------------------------
  // q_dq_orphans — referential-integrity audit across the FK graph.
  // ---------------------------------------------------------------

  /** Referential-integrity audit: for every FK edge of the schema
    * (orders→customer, lineitem→orders, lineitem→part,
    * lineitem→supplier), count child rows whose parent key is missing.
    * TPC-H data is referentially clean, so a deterministic "lost parent
    * partition" is planted — parents with key % 97 = 0 are dropped —
    * making every relation's orphan count a non-trivial value the gate
    * actually exercises (an all-zero audit would pass under any bug).
    *
    * At 100 TB each relation is one anti-join shuffling the child on
    * its own FK once (no relation touches another's keys, so the four
    * audits parallelize as independent stages); parent sides carry only
    * the key column. Orphan RATE divides two exact counts.
    */
  val qDqOrphans: Q = (s, d) => {
    def audit(rel: String, child: DataFrame, fk: String,
              parent: DataFrame, pk: String) = {
      val liveParent = parent.select(col(pk))
        .where(col(pk) % 97 =!= 0)
      val orphans = child.select(col(fk))
        .join(liveParent, col(fk) === col(pk), "left_anti")
      child.agg(count(lit(1)).as("n_child"))
        .crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
        .select(lit(rel).as("relation"), col("n_child"), col("n_orphans"),
          round(col("n_orphans").cast("double") / col("n_child"), 6)
            .as("orphan_rate"))
    }
    val li = Tables.lineitem(s, d)
    audit("lineitem->orders", li, "l_orderkey",
        Tables.orders(s, d), "o_orderkey")
      .unionByName(audit("lineitem->part", li, "l_partkey",
        Tables.part(s, d), "p_partkey"))
      .unionByName(audit("lineitem->supplier", li, "l_suppkey",
        Tables.supplier(s, d), "s_suppkey"))
      .unionByName(audit("orders->customer", Tables.orders(s, d),
        "o_custkey", Tables.customer(s, d), "c_custkey"))
      .orderBy("relation")
  }

  val qDqOrphansSql: String =
    """WITH a AS (
      |  SELECT 'lineitem->orders' AS relation,
      |    (SELECT count(*) FROM lineitem) AS n_child,
      |    (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN
      |      (SELECT o_orderkey FROM orders WHERE o_orderkey % 97 <> 0))
      |      AS n_orphans
      |  UNION ALL
      |  SELECT 'lineitem->part',
      |    (SELECT count(*) FROM lineitem),
      |    (SELECT count(*) FROM lineitem WHERE l_partkey NOT IN
      |      (SELECT p_partkey FROM part WHERE p_partkey % 97 <> 0))
      |  UNION ALL
      |  SELECT 'lineitem->supplier',
      |    (SELECT count(*) FROM lineitem),
      |    (SELECT count(*) FROM lineitem WHERE l_suppkey NOT IN
      |      (SELECT s_suppkey FROM supplier WHERE s_suppkey % 97 <> 0))
      |  UNION ALL
      |  SELECT 'orders->customer',
      |    (SELECT count(*) FROM orders),
      |    (SELECT count(*) FROM orders WHERE o_custkey NOT IN
      |      (SELECT c_custkey FROM customer WHERE c_custkey % 97 <> 0)))
      |SELECT relation, n_child, n_orphans,
      |  round(CAST(n_orphans AS DOUBLE) / n_child, 6) AS orphan_rate
      |FROM a ORDER BY relation""".stripMargin

  // ---------------------------------------------------------------
  // q_text_novelty — per-batch n-gram novelty rate.
  // ---------------------------------------------------------------

  /** Corpus-freshness screen: treating doc_id ÷ 100 as the ingest
    * batch, what fraction of each batch's distinct 2-grams was never
    * seen in ANY earlier batch? A crawl whose novelty rate collapses is
    * re-fetching what it already has — the signal that drives crawl
    * scheduling and incremental training-set cuts. First-seen batch is
    * a min-aggregate per gram; everything is exact integer arithmetic
    * until the final rate division.
    *
    * At 100 TB: the gram stream collapses to distinct (batch, gram) in
    * one combining aggregation; the gram-keyed window computes
    * first-seen without a second scan (same exchange serves min and
    * membership); the batch rollup is |batches| rows. No all-batch
    * self-join, no spine.
    */
  val qTextNovelty: Q = (s, d) => {
    import s.implicits._
    val grams = Tables.documents(s, d)
      .select((col("doc_id") / 100).cast("long").as("batch"),
        col("doc_id"), col("text"))
      .as[(Long, Long, String)]
      .flatMap { case (b, _, text) =>
        LlmOps.twoGrams(text).map(g => (b, g)) }
      .toDF("batch", "gram")
      .distinct()
    val firstSeen = Window.partitionBy("gram")
    grams
      .withColumn("first_batch", min(col("batch")).over(firstSeen))
      .groupBy("batch")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_batch") === col("batch"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty_rate",
        round(col("n_novel").cast("double") / col("n_grams"), 6))
      .orderBy("batch")
  }

  val qTextNoveltySql: String =
    """WITH toks AS (
      |  SELECT doc_id // 100 AS batch,
      |    list_filter(string_split(text, ' '), t -> length(t) > 0) AS ts
      |  FROM documents
      |), grams AS (
      |  SELECT DISTINCT batch,
      |    CASE WHEN len(ts) < 2 THEN ts[i]
      |         ELSE ts[i] || ' ' || ts[i+1] END AS gram
      |  FROM toks, UNNEST(generate_series(1, greatest(len(ts) - 1, 1))) AS g(i)
      |  WHERE len(ts) >= 1
      |), f AS (
      |  SELECT batch, gram,
      |    min(batch) OVER (PARTITION BY gram) AS first_batch
      |  FROM grams)
      |SELECT batch, count(*) AS n_grams,
      |  CAST(sum(CASE WHEN first_batch = batch THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_novel,
      |  round(CAST(sum(CASE WHEN first_batch = batch THEN 1 ELSE 0 END)
      |    AS DOUBLE) / count(*), 6) AS novelty_rate
      |FROM f GROUP BY batch ORDER BY batch""".stripMargin

  // ---------------------------------------------------------------
  // q_scan_snapshot — versioned reads with delete vectors.
  // ---------------------------------------------------------------

  /** Lakehouse-style snapshot reads: a table whose version 1 is a set
    * of base files, and whose version 2 adds a delta file and a DELETE
    * VECTOR (a key list masking rows out without rewriting data files)
    * — the Iceberg/Delta MVCC mechanics built on plain parquet. Both
    * versions are read from the SAME physical layout: v1 = base files
    * as written; v2 = base ∪ delta, anti-joined against the delete
    * vector. The oracle recomputes each version from the raw table's
    * defining predicates, so the gate proves the physical assembly
    * (file split + mask) loses and resurrects nothing.
    *
    * At 100 TB this is why deletes are cheap: the delete vector is
    * |deleted keys| rows (broadcast-able), data files are immutable,
    * and time travel is a manifest choice, not a copy. The anti-join
    * is the only work added to a v2 scan.
    */
  val qScanSnapshot: Q = (s, d) => {
    val orders = Tables.orders(s, d)
    val baseDir = Scratch.path("snap_base", d)
    val deltaDir = Scratch.path("snap_delta", d)
    val delDir = Scratch.path("snap_deletes", d)
    Seeds.once("snap_base", baseDir) {
      orders.where(col("o_orderkey") % 4 < 3)
        .write.mode("overwrite").parquet(baseDir)
      orders.where(col("o_orderkey") % 4 === 3)
        .write.mode("overwrite").parquet(deltaDir)
      orders.where(col("o_orderkey") % 10 === 7).select(col("o_orderkey"))
        .write.mode("overwrite").parquet(delDir)
    }
    val base = Tables.parquet(s, baseDir)
    val v2 = base.unionByName(Tables.parquet(s, deltaDir))
      .join(broadcast(Tables.parquet(s, delDir)), Seq("o_orderkey"),
        "left_anti")
    def stat(df: DataFrame, v: Int) =
      df.agg(count(lit(1)).as("n_rows"),
          dsum(col("o_totalprice")).as("total_price"))
        .select(lit(v.toLong).as("version"), col("n_rows"),
          col("total_price"))
    stat(base, 1).unionByName(stat(v2, 2)).orderBy("version")
  }

  val qScanSnapshotSql: String =
    s"""SELECT CAST(1 AS BIGINT) AS version, count(*) AS n_rows,
       |  ${dsumSql("o_totalprice")} AS total_price
       |FROM orders WHERE o_orderkey % 4 < 3
       |UNION ALL
       |SELECT 2, count(*), ${dsumSql("o_totalprice")}
       |FROM orders WHERE o_orderkey % 10 <> 7
       |ORDER BY version""".stripMargin

  // ---------------------------------------------------------------
  // q_join_asof_nearest — nearest-event-in-time join, either direction.
  // ---------------------------------------------------------------

  /** Nearest-event join: for every purchase, the user's click closest
    * in time in EITHER direction — the bidirectional cousin of the
    * backward-only as-of joins. No range join and no candidate
    * explosion: both event kinds ride ONE user-keyed ordered window
    * (the sorted-union trick), where the nearest preceding click is a
    * running `last(ignoreNulls)` and the nearest following one a
    * `first(ignoreNulls)` over the suffix frame. Ordering by
    * (ts, event_id) makes tie handling deterministic and identical in
    * both engines: a same-timestamp click with a smaller id lands in
    * the preceding frame, a larger id in the following; between
    * directions, the smaller time gap wins and an exact tie goes
    * backward. At 100 TB: one exchange on user_id, window state is one
    * row per direction, output ∝ purchases.
    */
  val qJoinAsofNearest: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .where(col("event_type").isin("purchase", "click"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"), unix_micros(col("ts")).as("us"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("us").asc, col("event_id").asc)
    val clickTs = when(col("event_type") === "click", col("us"))
    val clickId = when(col("event_type") === "click", col("event_id"))
    val scored = ev
      .withColumn("prev_us", last(clickTs, ignoreNulls = true).over(
        w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("prev_id", last(clickId, ignoreNulls = true).over(
        w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("next_us", first(clickTs, ignoreNulls = true).over(
        w.rowsBetween(1, Window.unboundedFollowing)))
      .withColumn("next_id", first(clickId, ignoreNulls = true).over(
        w.rowsBetween(1, Window.unboundedFollowing)))
      .where(col("event_type") === "purchase" &&
        (col("prev_us").isNotNull || col("next_us").isNotNull))
    scored
      .select(col("event_id"), col("user_id"),
        when(col("next_us").isNull ||
            (col("prev_us").isNotNull &&
             col("us") - col("prev_us") <= col("next_us") - col("us")),
          col("prev_id")).otherwise(col("next_id")).as("click_id"),
        when(col("next_us").isNull ||
            (col("prev_us").isNotNull &&
             col("us") - col("prev_us") <= col("next_us") - col("us")),
          col("us") - col("prev_us"))
          .otherwise(col("next_us") - col("us")).as("gap_us"))
      .orderBy("event_id")
  }

  val qJoinAsofNearestSql: String =
    """WITH ev AS (
      |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |    event_type
      |  FROM events WHERE event_type IN ('purchase', 'click')),
      |scored AS (
      |  SELECT event_id, user_id, us, event_type,
      |    last_value(CASE WHEN event_type = 'click' THEN us END
      |      IGNORE NULLS) OVER (PARTITION BY user_id
      |      ORDER BY us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_us,
      |    last_value(CASE WHEN event_type = 'click' THEN event_id END
      |      IGNORE NULLS) OVER (PARTITION BY user_id
      |      ORDER BY us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_id,
      |    first_value(CASE WHEN event_type = 'click' THEN us END
      |      IGNORE NULLS) OVER (PARTITION BY user_id
      |      ORDER BY us, event_id
      |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_us,
      |    first_value(CASE WHEN event_type = 'click' THEN event_id END
      |      IGNORE NULLS) OVER (PARTITION BY user_id
      |      ORDER BY us, event_id
      |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_id
      |  FROM ev)
      |SELECT event_id, user_id,
      |  CASE WHEN next_us IS NULL OR
      |      (prev_us IS NOT NULL AND us - prev_us <= next_us - us)
      |    THEN prev_id ELSE next_id END AS click_id,
      |  CASE WHEN next_us IS NULL OR
      |      (prev_us IS NOT NULL AND us - prev_us <= next_us - us)
      |    THEN us - prev_us ELSE next_us - us END AS gap_us
      |FROM scored
      |WHERE event_type = 'purchase'
      |  AND (prev_us IS NOT NULL OR next_us IS NOT NULL)
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------
  // q_time_forecast — linear-trend forecast of the daily series.
  // ---------------------------------------------------------------

  /** 7-day-ahead linear-trend forecast per event_type: OLS over
    * (epoch day, daily count) — q_stats_regression's discipline on the
    * operational series — extrapolated over a generated horizon. Every
    * OLS sum is integer arithmetic (day indices × counts) cast once to
    * double, so slope/intercept are single identical divisions in both
    * engines, and each ŷ adds one multiply — the forecasting shape a
    * monitoring pipeline runs after q_time_changepoint clears.
    *
    * At 100 TB: one combining aggregation to the (type, day) grain, one
    * |types|-row moment rollup, and the horizon explode is 7 rows per
    * type. Nothing downstream of the first aggregate touches raw rows.
    */
  val qTimeForecast: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
      .withColumn("x",
        datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
    val m = daily.groupBy("event_type").agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("x")).cast("double").as("sx"),
      sum(col("x") * col("x")).cast("double").as("sxx"),
      sum(col("y")).cast("double").as("sy"),
      sum(col("x") * col("y")).cast("double").as("sxy"),
      max(col("x")).as("maxx"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    m.select(col("event_type"), col("maxx"), col("n"), col("sx"),
        col("sy"), slope.as("slope"),
        ((col("sy") - slope * col("sx")) / col("n")).as("icept"))
      .withColumn("h", explode(sequence(lit(1), lit(7))))
      .select(col("event_type"),
        date_add(lit("1970-01-01").cast("date"),
          (col("maxx") + col("h")).cast("int")).cast("timestamp").as("day"),
        round(col("icept") + col("slope") * (col("maxx") + col("h")), 6)
          .as("yhat"))
      .orderBy("event_type", "day")
  }

  val qTimeForecastSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS y
      |  FROM events GROUP BY 1, 2),
      |m AS (
      |  SELECT event_type,
      |    CAST(count(*) AS DOUBLE) AS n,
      |    CAST(sum(date_diff('day', DATE '1970-01-01', day)) AS DOUBLE) AS sx,
      |    CAST(sum(date_diff('day', DATE '1970-01-01', day) *
      |             date_diff('day', DATE '1970-01-01', day)) AS DOUBLE) AS sxx,
      |    CAST(sum(y) AS DOUBLE) AS sy,
      |    CAST(sum(date_diff('day', DATE '1970-01-01', day) * y) AS DOUBLE) AS sxy,
      |    max(date_diff('day', DATE '1970-01-01', day)) AS maxx
      |  FROM daily GROUP BY event_type),
      |f AS (
      |  SELECT event_type, maxx, h.h AS h,
      |    (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
      |    (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS icept
      |  FROM m, generate_series(1, 7) h(h))
      |SELECT event_type,
      |  CAST(DATE '1970-01-01' + INTERVAL (maxx + h) DAY AS TIMESTAMP) AS day,
      |  round(icept + slope * (maxx + h), 6) AS yhat
      |FROM f ORDER BY event_type, day""".stripMargin

  // ---------------------------------------------------------------
  // Shared co-purchase edge set (support ≥ 2) — memoized per
  // (context, dir) like LlmOps' near-dup chainCache: in production the
  // thresholded edge list is a PERSISTED ARTIFACT of a corpus
  // snapshot, consumed by link prediction, assortativity, and k-core
  // alike — not recomputed per consumer. The lineitem self-join that
  // builds it is the dominant cost of all three keys (the bench ran
  // it 9× per suite before sharing). Eager localCheckpoint: small
  // (|edges| rows), lineage-free, dropped with the context.
  // ---------------------------------------------------------------

  private val edgeCache = new ContextMemo[String]

  private def copurchaseEdges(s: org.apache.spark.sql.SparkSession,
                              d: String): DataFrame =
    edgeCache(s, d)(
      Seeds.timed("copurchase_edges") {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      li.alias("a")
        .join(li.alias("b"),
          col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .groupBy(col("a.p").as("p1"), col("b.p").as("p2"))
        .agg(count(lit(1)).as("support"))
        .where(col("support") >= 2)
        .select(col("p1"), col("p2"))
        .localCheckpoint(true)
    })

  // ---------------------------------------------------------------
  // q_graph_degree_hist — degree distribution of the co-purchase graph.
  // ---------------------------------------------------------------

  /** Degree histogram of the co-purchase graph — the first diagnostic
    * a graph pipeline prints (hub detection, power-law sanity, and the
    * skew forecast for every downstream wedge/neighbor join): node
    * degree over the undirected support-≥2 edge set, rolled up to
    * (degree → node count). Consumes the SAME memoized edge artifact
    * as Adamic–Adar / assortativity / k-core, so the lineitem
    * self-join is still built once per (session, dir).
    *
    * At 100 TB: two combining aggregates over the edge list (node →
    * degree, degree → count) — output bounded by max degree, input
    * bounded by the thresholded edge count, never the raw corpus.
    */
  val qGraphDegreeHist: Q = (s, d) => {
    val e = copurchaseEdges(s, d)
    val und = e.select(col("p1").as("u"))
      .unionAll(e.select(col("p2").as("u")))
    und.groupBy("u").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
      .orderBy("degree")
  }

  val qGraphDegreeHistSql: String =
    """WITH e AS (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |edges AS MATERIALIZED (
      |  SELECT a.p AS p1, b.p AS p2
      |  FROM e a JOIN e b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |und AS (
      |  SELECT p1 AS u FROM edges UNION ALL SELECT p2 FROM edges),
      |deg AS (SELECT u, count(*) AS degree FROM und GROUP BY 1)
      |SELECT degree, count(*) AS n_nodes
      |FROM deg GROUP BY 1 ORDER BY degree""".stripMargin

  // ---------------------------------------------------------------
  // q_graph_adamic_adar — link prediction on the co-purchase graph.
  // ---------------------------------------------------------------

  /** Adamic–Adar link prediction over the co-purchase graph (part pairs
    * with basket support ≥ 2, i.e. q_basket_lift's surviving edges):
    * for every two-hop pair not already linked, Σ_w 1/ln(deg(w)) over
    * common neighbors w — rare hubs count more. Each term is rounded to
    * 6 dp and summed in DECIMAL (the PSI/Zipf discipline), so the one
    * `ln` per neighbor is the only libm touchpoint.
    *
    * At 100 TB the candidate set is Σ_w deg(w)² — bounded by the
    * support-thresholded graph's degree distribution, NOT by |parts|²;
    * the threshold is the supported knob when a hub inflates it. One
    * exchange builds edges, one joins the two hops, one aggregates per
    * candidate pair.
    */
  val qGraphAdamicAdar: Q = (s, d) => {
    val edges = copurchaseEdges(s, d) // shared artifact, 3 local uses
    val und = edges.select(col("p1").as("u"), col("p2").as("v"))
      .unionByName(edges.select(col("p2").as("u"), col("p1").as("v")))
    val deg = und.groupBy("u").agg(count(lit(1)).as("d"))
    // the checkpointed edge artifact carries no size stats, so every
    // join here planned sort-merge over frames that are degree-table /
    // edge-list sized: hash them instead — the wedge self-join builds a
    // shuffled-hash table (no sorts of either side), and the ≤|V|-row
    // degree table plus the support-thresholded edge list broadcast
    // (guide §3.1; at a scale where they outgrow the cap the same plan
    // falls back to shuffled-hash on the thresholded lists)
    val twohop = und.alias("l")
      .join(und.hint("shuffle_hash").alias("r"),
        col("l.v") === col("r.u") && col("l.u") < col("r.v"))
      .select(col("l.u").as("x"), col("r.v").as("y"), col("l.v").as("w"))
    twohop
      .join(broadcast(deg.withColumnRenamed("u", "w")), "w")
      .groupBy("x", "y")
      .agg(count(lit(1)).as("n_common"),
        sum(round(lit(1.0) / log(col("d").cast("double")), 6)
          .cast(DecimalType(28, 6))).cast("double").as("aa"))
      .join(broadcast(edges),
        col("x") === col("p1") && col("y") === col("p2"), "left_anti")
      .orderBy("x", "y")
  }

  val qGraphAdamicAdarSql: String =
    """WITH e AS (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |edges AS (
      |  SELECT a.p AS p1, b.p AS p2
      |  FROM e a JOIN e b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |und AS (
      |  SELECT p1 AS u, p2 AS v FROM edges
      |  UNION ALL SELECT p2, p1 FROM edges),
      |deg AS (SELECT u, count(*) AS d FROM und GROUP BY 1),
      |twohop AS (
      |  SELECT l.u AS x, r.v AS y, l.v AS w
      |  FROM und l JOIN und r ON l.v = r.u AND l.u < r.v),
      |aa AS (
      |  SELECT x, y, count(*) AS n_common,
      |    CAST(SUM(CAST(round(1.0 / ln(CAST(d AS DOUBLE)), 6)
      |      AS DECIMAL(28,6))) AS DOUBLE) AS aa
      |  FROM twohop JOIN deg ON deg.u = twohop.w
      |  GROUP BY 1, 2)
      |SELECT x, y, n_common, aa FROM aa
      |WHERE NOT EXISTS (SELECT 1 FROM edges
      |  WHERE edges.p1 = aa.x AND edges.p2 = aa.y)
      |ORDER BY x, y""".stripMargin

  // ---------------------------------------------------------------
  // q_graph_assortativity — degree correlation of the co-purchase graph.
  // ---------------------------------------------------------------

  /** Degree assortativity of the co-purchase graph (same support ≥ 2
    * edge set as [[qGraphAdamicAdar]]): the Pearson correlation of
    * endpoint degrees over the directed (symmetrized) edge list — the
    * one-number readout of whether hubs link to hubs (assortative,
    * r > 0) or to leaves (disassortative, r < 0), which decides hub
    * salting strategy for downstream graph joins.
    *
    * Exactness: degrees and every sufficient moment (Σx, Σx², Σxy over
    * edges) are integer sums; the correlation is single double ops over
    * those exact integers with the identical expression tree in both
    * engines, so round-6 is deterministic.
    *
    * At 100 TB: one exchange builds edges, one computes degrees, two
    * broadcast-sized joins attach them, and the moments collapse
    * map-side to a single row. No window, no sort, no per-node state
    * beyond the degree table.
    */
  val qGraphAssortativity: Q = (s, d) => {
    val edges = copurchaseEdges(s, d)
    val und = edges.select(col("p1").as("u"), col("p2").as("v"))
      .unionByName(edges.select(col("p2").as("u"), col("p1").as("v")))
    val deg = und.groupBy("u").agg(count(lit(1)).as("d"))
    val n = col("n").cast("double")
    val sx = col("sx").cast("double"); val sy = col("sy").cast("double")
    val sxx = col("sxx").cast("double"); val syy = col("syy").cast("double")
    val sxy = col("sxy").cast("double")
    und
      // the scaladoc's "two broadcast-sized joins" made explicit: the
      // checkpointed frames carry no stats, so un-hinted these planned
      // sort-merge over the ≤|V|-row degree table
      .join(broadcast(deg.select(col("u"), col("d").as("du"))), "u")
      .join(broadcast(deg.select(col("u").as("v"), col("d").as("dv"))), "v")
      .agg(count(lit(1)).as("n"),
        sum(col("du")).as("sx"), sum(col("dv")).as("sy"),
        sum(col("du") * col("du")).as("sxx"),
        sum(col("dv") * col("dv")).as("syy"),
        sum(col("du") * col("dv")).as("sxy"))
      .select(col("n").as("n_edges"),
        round((n * sxy - sx * sy) /
              (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
          .as("assortativity"))
  }

  val qGraphAssortativitySql: String =
    """WITH e AS (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |edges AS MATERIALIZED (
      |  SELECT a.p AS p1, b.p AS p2
      |  FROM e a JOIN e b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |und AS (
      |  SELECT p1 AS u, p2 AS v FROM edges
      |  UNION ALL SELECT p2, p1 FROM edges),
      |deg AS MATERIALIZED (SELECT u, count(*) AS d FROM und GROUP BY 1),
      |m AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n,
      |    CAST(sum(a.d) AS DOUBLE) AS sx, CAST(sum(b.d) AS DOUBLE) AS sy,
      |    CAST(sum(a.d * a.d) AS DOUBLE) AS sxx,
      |    CAST(sum(b.d * b.d) AS DOUBLE) AS syy,
      |    CAST(sum(a.d * b.d) AS DOUBLE) AS sxy
      |  FROM und JOIN deg a ON und.u = a.u JOIN deg b ON und.v = b.u)
      |SELECT CAST(n AS BIGINT) AS n_edges,
      |  ROUND((n * sxy - sx * sy) /
      |        (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
      |    AS assortativity
      |FROM m""".stripMargin

  // ---------------------------------------------------------------
  // q_agg_hist_eqdepth — equi-depth (quantile-bucket) histogram.
  // ---------------------------------------------------------------

  /** Equi-depth histogram per order priority: rows land in 10 buckets
    * of (near-)equal population, bucket k of a row being
    * ⌊(rank−1)·10 / n⌋ from its within-group price rank — PURE INTEGER
    * arithmetic, no quantile interpolation to diverge between engines
    * (the complement of q_profile_histogram's fixed-width form; the
    * approximate-quantile path is q_agg_approx). Rank ties break on the
    * order key, so bucket assignment is total and deterministic.
    *
    * Scale: one exchange on the group key; the within-group sort is the
    * window's. For groups too large for one task, the distributed
    * total-sort trick of q_assign_ids (range partition +
    * sortWithinPartitions + zipWithIndex) swaps in — same rule, same
    * buckets; at the other extreme a production profiler switches to
    * the sketch path. This op pins the EXACT semantics those
    * approximations are judged against.
    */
  val qAggHistEqdepth: Q = (s, d) => {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
    val whole = Window.partitionBy("o_orderpriority")
    Tables.orders(s, d)
      .select(col("o_orderpriority"), col("o_totalprice"),
        col("o_orderkey"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("cnt", count(lit(1)).over(whole))
      // integer floor-division (quotient < 10, so the double round-trip
      // can never cross the next integer: 1/cnt >> one ulp at this scale)
      .withColumn("bucket",
        ((col("rn") - 1) * 10 / col("cnt")).cast("long"))
      .groupBy(col("o_orderpriority"), col("bucket"))
      .agg(count(lit(1)).as("n"),
        round(min(col("o_totalprice")), 2).as("lo"),
        round(max(col("o_totalprice")), 2).as("hi"),
        dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderpriority", "bucket")
  }

  val qAggHistEqdepthSql: String =
    """WITH r AS (
      |  SELECT o_orderpriority, o_totalprice,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY o_totalprice, o_orderkey) AS rn,
      |    count(*) OVER (PARTITION BY o_orderpriority) AS cnt
      |  FROM orders)
      |SELECT o_orderpriority, (rn - 1) * 10 // cnt AS bucket,
      |  count(*) AS n,
      |  round(min(o_totalprice), 2) AS lo,
      |  round(max(o_totalprice), 2) AS hi,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS sum_price
      |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------
  // q_sample_consistent — hash-consistent holdout sampling.
  // ---------------------------------------------------------------

  /** Consistent (hash-bucketed) user sampling — the eval-holdout rule
    * that stays STABLE as data grows: a user is held out iff the first
    * two hex digits of md5(user_id) fall under 0x20 (a fixed ≈12.5%
    * cut), so the same users are sampled at every scale factor, every
    * day, every engine — no RNG, no reshuffling of the holdout when the
    * corpus doubles (the property row-level Bernoulli sampling lacks).
    * Reported per event_type so the gate pins both membership and the
    * event mass the holdout carries.
    *
    * At 100 TB the sample predicate is a row-local hash (pushed into
    * the scan projection); nothing shuffles until the |types|-row
    * rollup of the sampled slice.
    */
  val qSampleConsistent: Q = (s, d) => {
    val bucket = conv(substring(md5(col("user_id").cast("string")), 1, 2),
      16, 10).cast("long")
    Tables.events(s, d)
      .withColumn("held_out", bucket < 32)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("held_out"), 1L).otherwise(0L)).as("n_holdout"),
        countDistinct(when(col("held_out"), col("user_id")))
          .as("n_holdout_users"),
        sum(when(col("held_out"), col("value"))
          .cast(DecimalType(18, 2))).cast("double").as("holdout_value"))
      .orderBy("event_type")
  }

  val qSampleConsistentSql: String =
    """WITH e AS (
      |  SELECT event_type, user_id, value,
      |    (strpos('0123456789abcdef',
      |       substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) * 16 +
      |    strpos('0123456789abcdef',
      |       substr(md5(CAST(user_id AS VARCHAR)), 2, 1)) - 1 < 32
      |      AS held_out
      |  FROM events)
      |SELECT event_type, count(*) AS n_events,
      |  CAST(sum(CASE WHEN held_out THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_holdout,
      |  count(DISTINCT CASE WHEN held_out THEN user_id END)
      |    AS n_holdout_users,
      |  CAST(SUM(CASE WHEN held_out
      |    THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
      |    AS holdout_value
      |FROM e GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q_time_backtest — holdout evaluation of the linear forecast.
  // ---------------------------------------------------------------

  private val BacktestHorizon = 7

  /** Backtest of [[qTimeForecast]]'s model: train the per-type OLS on
    * all days EXCEPT the last 7, predict the held-out week, and report
    * WAPE and bias per type — the evaluation loop that decides whether
    * a forecast is shippable. The train/test split is a pure integer
    * day-index comparison; per-day |error| terms are rounded to 6 dp
    * and summed in DECIMAL (seven-term double sums are order-dependent;
    * the PSI discipline keeps both engines bit-equal).
    *
    * At 100 TB: identical shape to q_time_forecast — everything after
    * the one firehose→(type, day) aggregation runs on the tiny series.
    */
  val qTimeBacktest: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
      .withColumn("x",
        datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
    val cut = daily.groupBy("event_type")
      .agg((max(col("x")) - BacktestHorizon).as("cutx"))
    val joined = daily.join(cut, "event_type")
    val m = joined.where(col("x") <= col("cutx"))
      .groupBy("event_type").agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("x") * col("x")).cast("double").as("sxx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("x") * col("y")).cast("double").as("sxy"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    val test = joined.where(col("x") > col("cutx"))
      .join(m.select(col("event_type"), slope.as("slope"),
        ((col("sy") - slope * col("sx")) / col("n")).as("icept")),
        "event_type")
      .withColumn("err",
        col("y").cast("double") -
          (col("icept") + col("slope") * col("x")))
    test.groupBy("event_type")
      .agg(count(lit(1)).as("n_test"),
        sum(round(abs(col("err")), 6).cast(DecimalType(28, 6)))
          .cast("double").as("sum_abs_err"),
        sum(round(col("err"), 6).cast(DecimalType(28, 6)))
          .cast("double").as("sum_err"),
        sum(col("y")).as("sum_y"))
      .select(col("event_type"), col("n_test"),
        round(col("sum_abs_err") / col("sum_y").cast("double"), 6)
          .as("wape"),
        round(col("sum_err") / col("n_test").cast("double"), 6)
          .as("mean_bias"))
      .orderBy("event_type")
  }

  val qTimeBacktestSql: String =
    s"""WITH daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS y,
       |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x
       |  FROM events GROUP BY 1, 2, 4),
       |cut AS (
       |  SELECT event_type, max(x) - $BacktestHorizon AS cutx
       |  FROM daily GROUP BY 1),
       |m AS (
       |  SELECT daily.event_type,
       |    CAST(count(*) AS DOUBLE) AS n,
       |    CAST(sum(x) AS DOUBLE) AS sx,
       |    CAST(sum(x * x) AS DOUBLE) AS sxx,
       |    CAST(sum(y) AS DOUBLE) AS sy,
       |    CAST(sum(x * y) AS DOUBLE) AS sxy
       |  FROM daily JOIN cut USING (event_type)
       |  WHERE x <= cutx GROUP BY 1),
       |t AS (
       |  SELECT daily.event_type, y, x,
       |    CAST(y AS DOUBLE) -
       |      ((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n +
       |       (n * sxy - sx * sy) / (n * sxx - sx * sx) * x) AS err
       |  FROM daily JOIN cut USING (event_type) JOIN m
       |    USING (event_type)
       |  WHERE x > cutx)
       |SELECT event_type, count(*) AS n_test,
       |  round(CAST(SUM(CAST(round(abs(err), 6) AS DECIMAL(28,6)))
       |      AS DOUBLE) / CAST(sum(y) AS DOUBLE), 6) AS wape,
       |  round(CAST(SUM(CAST(round(err, 6) AS DECIMAL(28,6)))
       |      AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS mean_bias
       |FROM t GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q_stats_power — A/B sample-size (power) analysis from live moments.
  // ---------------------------------------------------------------

  /** Experiment power analysis from the table's own moments: for each
    * event_type, the per-arm sample size needed to detect a 5% lift in
    * mean value at α = 0.05 / power = 0.80 under the two-sample normal
    * approximation — n = (z_α/2 + z_β)² · 2s² / δ², the question every
    * A/B design starts with, answered from live data instead of a
    * guessed σ. The moments (count, Σv, Σv²) are exact-decimal
    * aggregates; s², δ, and n are the same expression tree in both
    * engines, so the final ceil lands on identical doubles.
    *
    * At 100 TB this is one combining aggregation (three mergeable
    * moments per key) and a |types|-row projection — the cheapest query
    * in the experimentation family and the one that gates the rest.
    */
  val qStatsPower: Q = (s, d) => {
    val zsum2 = lit((1.959963984540054 + 0.8416212335729143) *
      (1.959963984540054 + 0.8416212335729143)) // (z_.025 + z_.20)²
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sv"),
        sum((col("value").cast(DecimalType(18, 2)) *
          col("value").cast(DecimalType(18, 2))).cast(DecimalType(28, 4)))
          .cast("double").as("svv"))
      .select(col("event_type"),
        col("n").cast("long").as("n"),
        round(col("sv") / col("n"), 6).as("mean_value"),
        round((col("svv") - col("sv") * col("sv") / col("n")) /
          (col("n") - 1), 6).as("s2"),
        ceil(zsum2 * lit(2.0) *
          ((col("svv") - col("sv") * col("sv") / col("n")) /
            (col("n") - 1)) /
          ((col("sv") / col("n") * lit(0.05)) *
           (col("sv") / col("n") * lit(0.05)))).cast("long")
          .as("n_per_arm"))
      .orderBy("event_type")
  }

  val qStatsPowerSql: String =
    """WITH m AS (
      |  SELECT event_type,
      |    CAST(count(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv,
      |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) *
      |                  CAST(value AS DECIMAL(18,2)) AS DECIMAL(28,4)))
      |      AS DOUBLE) AS svv
      |  FROM events GROUP BY 1)
      |SELECT event_type,
      |  CAST(n AS BIGINT) AS n,
      |  round(sv / n, 6) AS mean_value,
      |  round((svv - sv * sv / n) / (n - 1), 6) AS s2,
      |  CAST(ceil((1.959963984540054 + 0.8416212335729143) *
      |            (1.959963984540054 + 0.8416212335729143) * 2.0 *
      |            ((svv - sv * sv / n) / (n - 1)) /
      |            ((sv / n * 0.05) * (sv / n * 0.05))) AS BIGINT)
      |    AS n_per_arm
      |FROM m ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------
  // q_funnel_latency — conversion-latency distribution per cohort.
  // ---------------------------------------------------------------

  /** Time-to-convert distribution: for every user whose first signup is
    * later followed by a purchase, the signup→first-purchase latency,
    * summarized per signup-week cohort as rank-exact p50/p90 (the value
    * at row ⌈p·n⌉ of the cohort's sorted latencies — PURE INTEGER
    * selection, deliberately NOT interpolated percentiles: interpolating
    * two ~1e10-µs integers differs by an ulp between engines' formula
    * shapes, and an ulp at that magnitude is 2e-6 — above a round-6
    * gate). Latency itself is exact microsecond arithmetic.
    *
    * At 100 TB: two keyed min-aggregates and a user join (the funnel
    * shape), then windows over |converted users| rows partitioned by
    * cohort — the summary never touches the event firehose.
    */
  val qFunnelLatency: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val signup = ev.where(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts")).as("t0"))
    val conv = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"))
      .join(signup, "user_id")
      .where(col("ts") > col("t0"))
      .groupBy(col("user_id"), col("t0"))
      .agg(min(col("ts")).as("t1"))
      .select(date_trunc("week", col("t0")).as("cohort"),
        (unix_micros(col("t1")) - unix_micros(col("t0"))).as("lat_us"))
    val byLat = Window.partitionBy("cohort")
      .orderBy(col("lat_us").asc)
    val whole = Window.partitionBy("cohort")
    conv
      .withColumn("rn", row_number().over(byLat).cast("long"))
      .withColumn("n", count(lit(1)).over(whole))
      .withColumn("p50", ceil(col("n") * 0.5).cast("long"))
      .withColumn("p90", ceil(col("n") * 0.9).cast("long"))
      .groupBy(col("cohort"), col("n"))
      .agg(max(when(col("rn") === col("p50"), col("lat_us"))).as("p50_us"),
        max(when(col("rn") === col("p90"), col("lat_us"))).as("p90_us"),
        max(col("lat_us")).as("max_us"))
      .select(col("cohort").cast("timestamp").as("cohort"),
        col("n").as("n_converted"), col("p50_us"), col("p90_us"),
        col("max_us"))
      .orderBy("cohort")
  }

  val qFunnelLatencySql: String =
    """WITH signup AS (
      |  SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t0
      |  FROM events WHERE event_type = 'signup' GROUP BY 1),
      |conv AS (
      |  SELECT e.user_id, s.t0, min(CAST(e.ts AS TIMESTAMP)) AS t1
      |  FROM events e JOIN signup s USING (user_id)
      |  WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > s.t0
      |  GROUP BY 1, 2),
      |lat AS (
      |  SELECT CAST(date_trunc('week', t0) AS TIMESTAMP) AS cohort,
      |    epoch_us(t1) - epoch_us(t0) AS lat_us
      |  FROM conv),
      |r AS (
      |  SELECT cohort, lat_us,
      |    row_number() OVER (PARTITION BY cohort ORDER BY lat_us) AS rn,
      |    count(*) OVER (PARTITION BY cohort) AS n
      |  FROM lat)
      |SELECT cohort, CAST(n AS BIGINT) AS n_converted,
      |  max(CASE WHEN rn = ceil(n * 0.5) THEN lat_us END) AS p50_us,
      |  max(CASE WHEN rn = ceil(n * 0.9) THEN lat_us END) AS p90_us,
      |  max(lat_us) AS max_us
      |FROM r GROUP BY 1, 2 ORDER BY cohort""".stripMargin

  // ---------------------------------------------------------------
  // q_win_pareto — ABC (cumulative-share) revenue classification.
  // ---------------------------------------------------------------

  /** ABC / Pareto classification of customers by revenue: sorted
    * descending, class A is every customer while the cumulative share
    * is ≤ 80%, B until ≤ 95%, C the tail — the "which 20% of customers
    * carry 80% of revenue" readout behind [[Insights.qStatsGini]]'s
    * one-number concentration. Classification compares cumulative
    * DECIMAL sums against DECIMAL thresholds (cum·100 ≤ total·80), so
    * the class boundary is exact in both engines — no percentage
    * doubles anywhere near the cut.
    *
    * Scale: the fact table collapses to customer-level revenue first;
    * the descending cumulative window is over that aggregate. Here it
    * is one global window (|customers| rows); at 100 TB the same
    * classification runs two-phase — range-partition by revenue,
    * per-partition cumsums, then add broadcast partition-prefix
    * offsets (the [[qAssignIds]] trick, documented not duplicated).
    */
  val qWinPareto: Q = (s, d) => {
    val rev = Tables.orders(s, d).groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
    val byRev = Window.orderBy(col("rev").desc, col("o_custkey").asc)
    val cum = sum(col("rev")).over(
      byRev.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val total = sum(col("rev")).over(
      Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing))
    rev
      .withColumn("cum", cum).withColumn("total", total)
      .withColumn("abc_class",
        when(col("cum") * 100 <= col("total") * 80, "A")
          .when(col("cum") * 100 <= col("total") * 95, "B")
          .otherwise("C"))
      .groupBy("abc_class")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("rev")).cast("double").as("class_rev"),
        round(sum(col("rev")).cast("double") /
              max(col("total")).cast("double"), 6).as("rev_share"))
      .orderBy("abc_class")
  }

  val qWinParetoSql: String =
    """WITH rev AS (
      |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders GROUP BY 1),
      |c AS (
      |  SELECT o_custkey, rev,
      |    sum(rev) OVER (ORDER BY rev DESC, o_custkey ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    sum(rev) OVER () AS total
      |  FROM rev),
      |k AS (
      |  SELECT rev, total,
      |    CASE WHEN cum * 100 <= total * 80 THEN 'A'
      |         WHEN cum * 100 <= total * 95 THEN 'B'
      |         ELSE 'C' END AS abc_class
      |  FROM c)
      |SELECT abc_class, count(*) AS n_customers,
      |  CAST(sum(rev) AS DOUBLE) AS class_rev,
      |  ROUND(CAST(sum(rev) AS DOUBLE) / CAST(max(total) AS DOUBLE), 6)
      |    AS rev_share
      |FROM k GROUP BY 1 ORDER BY abc_class""".stripMargin

  // ---------------------------------------------------------------
  // q_stats_moments — skewness/kurtosis from exact raw moments.
  // ---------------------------------------------------------------

  /** Higher-moment distribution profile per event type: skewness and
    * excess kurtosis of `value`, computed from EXACT decimal raw
    * moments (Σv..Σv⁴ accumulate in widening DECIMAL, so map-side
    * partials merge losslessly in any order — the moment-merge
    * discipline of [[Insights.qStatsRegression]] extended to order 4).
    * The central-moment algebra runs once on the final exact sums with
    * the identical expression tree in both engines; m₂^1.5 is spelled
    * √m₂·m₂ (sqrt is IEEE-exact; pow's libm varies across engines).
    *
    * At 100 TB: one combining hash aggregate, |types| result rows —
    * nothing else.
    */
  val qStatsMoments: Q = (s, d) => {
    val v = col("value").cast(DecimalType(18, 2))
    val m = Tables.events(s, d)
      .select(col("event_type"), v.as("v"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("v")).as("s1"),
        sum((col("v") * col("v")).cast(DecimalType(28, 4))).as("s2"),
        sum((col("v") * col("v") * col("v")).cast(DecimalType(38, 6))).as("s3"),
        sum((col("v") * col("v") * col("v") * col("v"))
          .cast(DecimalType(38, 8))).as("s4"))
    val n = col("n").cast("double")
    val s1 = col("s1").cast("double"); val s2 = col("s2").cast("double")
    val s3 = col("s3").cast("double"); val s4 = col("s4").cast("double")
    val mu = s1 / n
    val m2 = s2 / n - mu * mu
    val m3 = s3 / n - lit(3.0) * mu * (s2 / n) + lit(2.0) * mu * mu * mu
    val m4 = s4 / n - lit(4.0) * mu * (s3 / n) +
      lit(6.0) * mu * mu * (s2 / n) - lit(3.0) * mu * mu * mu * mu
    m.select(col("event_type"), col("n"),
        round(mu, 6).as("mean"),
        round(m3 / (sqrt(m2) * m2), 6).as("skewness"),
        round(m4 / (m2 * m2) - lit(3.0), 6).as("kurtosis_excess"))
      .orderBy("event_type")
  }

  val qStatsMomentsSql: String =
    """WITH m AS (
      |  SELECT event_type, count(*) AS n,
      |    sum(v) AS s1,
      |    sum(CAST(v * v AS DECIMAL(28,4))) AS s2,
      |    sum(CAST(CAST(v * v AS DECIMAL(19,4)) * v AS DECIMAL(38,6)))
      |      AS s3,
      |    sum(CAST(CAST(v * v AS DECIMAL(19,4)) *
      |             CAST(v * v AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS s4
      |  FROM (SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v
      |        FROM events)
      |  GROUP BY 1),
      |c AS (
      |  SELECT event_type, n,
      |    CAST(n AS DOUBLE) AS nd, CAST(s1 AS DOUBLE) AS s1,
      |    CAST(s2 AS DOUBLE) AS s2, CAST(s3 AS DOUBLE) AS s3,
      |    CAST(s4 AS DOUBLE) AS s4
      |  FROM m),
      |e AS (
      |  SELECT event_type, n, s1 / nd AS mu,
      |    s2 / nd - (s1 / nd) * (s1 / nd) AS m2,
      |    s3 / nd - 3.0 * (s1 / nd) * (s2 / nd)
      |      + 2.0 * (s1 / nd) * (s1 / nd) * (s1 / nd) AS m3,
      |    s4 / nd - 4.0 * (s1 / nd) * (s3 / nd)
      |      + 6.0 * (s1 / nd) * (s1 / nd) * (s2 / nd)
      |      - 3.0 * (s1 / nd) * (s1 / nd) * (s1 / nd) * (s1 / nd) AS m4
      |  FROM c)
      |SELECT event_type, n, ROUND(mu, 6) AS mean,
      |  ROUND(m3 / (sqrt(m2) * m2), 6) AS skewness,
      |  ROUND(m4 / (m2 * m2) - 3.0, 6) AS kurtosis_excess
      |FROM e ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------
  // q_maintain_retention — partition-expiry (TTL) maintenance cycle.
  // ---------------------------------------------------------------

  private val RetentionCutoff = "1997-01" // keep months >= this

  /** The retention/TTL maintenance job every partitioned lake runs
    * nightly, executed end to end: seed a month-partitioned copy of
    * orders, EXPIRE every partition directory older than the cutoff
    * (real filesystem deletes, not a filter), then audit — dropped
    * months reported from the source (the pre-delete manifest), kept
    * months counted from a POST-DELETE read-back of the lake. The gate
    * hash therefore proves both sides: expired data is gone from disk
    * and surviving partitions are intact.
    *
    * At 100 TB: expiry is O(|expired partitions|) directory removals
    * (a metastore DROP PARTITION + object-store prefix delete) — no
    * data is read or rewritten; the audit reads only partition-pruned
    * footers. The seed write is this op's test harness, not the
    * production cost.
    */
  val qMaintainRetention: Q = (s, d) => {
    val lake = Relational.scratchDir("retention_lake", d)
    Tables.orders(s, d)
      .withColumn("omonth", date_format(col("o_orderdate"), "yyyy-MM"))
      .repartition(col("omonth"))
      .write.mode("overwrite").partitionBy("omonth").parquet(lake)
    val dropped = Tables.orders(s, d)
      .where(date_format(col("o_orderdate"), "yyyy-MM") < RetentionCutoff)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("omonth"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("status", lit("dropped"))
    val lakeDir = java.nio.file.Paths.get(lake)
    val listing = java.nio.file.Files.list(lakeDir)
    try {
      val expired = listing.iterator()
      while (expired.hasNext) {
        val p = expired.next()
        val n = p.getFileName.toString
        if (n.startsWith("omonth=") &&
            n.stripPrefix("omonth=") < RetentionCutoff)
          Scratch.rmTree(p)
      }
    } finally listing.close()
    val kept = Tables.parquet(s, lake)
      .groupBy(col("omonth").cast("string").as("omonth"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("status", lit("kept"))
    kept.unionByName(dropped)
      .select(col("omonth"), col("status"), col("n_rows"))
      .orderBy("omonth")
  }

  val qMaintainRetentionSql: String =
    """SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS omonth,
      |  CASE WHEN strftime(CAST(o_orderdate AS DATE), '%Y-%m') < '1997-01'
      |       THEN 'dropped' ELSE 'kept' END AS status,
      |  count(*) AS n_rows
      |FROM orders GROUP BY 1, 2 ORDER BY omonth""".stripMargin

  // ---------------------------------------------------------------
  // q_stats_proptest — two-proportion z-test between signup cohorts.
  // ---------------------------------------------------------------

  private val PropSplit = "2024-01-03"

  /** Two-proportion z-test: did the 7-day conversion rate differ
    * between users who signed up before vs after the split date? The
    * significance readout behind every before/after launch comparison,
    * from the same per-user funnel kernel as [[qFunnelWindow]].
    * z = (p₁−p₂)/√(p̂(1−p̂)(1/n₁+1/n₂)) with pooled p̂ — counts are
    * exact integers, the z math is single double ops on identical
    * operands in both engines.
    *
    * At 100 TB: identical shape to [[qFunnelWindow]] — user-keyed
    * aggregates and one semi join, collapsing to a single moment row.
    */
  val qStatsProptest: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val signup = ev.where(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts")).as("t0"))
    val converted = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"))
      .join(signup, "user_id")
      .where(col("ts") > col("t0") &&
             col("ts") <= col("t0") + expr("INTERVAL 7 DAY"))
      .select(col("user_id")).distinct()
      .withColumn("conv", lit(1L))
    val early = col("t0") < lit(PropSplit).cast("timestamp")
    val m = signup.join(converted, Seq("user_id"), "left")
      .agg(
        sum(when(early, 1L).otherwise(0L)).as("n1"),
        sum(when(early, coalesce(col("conv"), lit(0L))).otherwise(0L)).as("x1"),
        sum(when(!early, 1L).otherwise(0L)).as("n2"),
        sum(when(!early, coalesce(col("conv"), lit(0L))).otherwise(0L)).as("x2"))
    val n1 = col("n1").cast("double"); val x1 = col("x1").cast("double")
    val n2 = col("n2").cast("double"); val x2 = col("x2").cast("double")
    val p1 = x1 / n1; val p2 = x2 / n2
    val pp = (x1 + x2) / (n1 + n2)
    m.select(col("n1"), col("x1"), col("n2"), col("x2"),
      round(p1, 6).as("p1"), round(p2, 6).as("p2"),
      // z is undefined when the pooled rate is degenerate (all or no
      // users converted): NULL, identically in the oracle
      when(pp > 0.0 && pp < 1.0,
        round((p1 - p2) /
          sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / n1 + lit(1.0) / n2)), 6))
        .as("z"))
  }

  val qStatsProptestSql: String =
    """WITH signup AS (
      |  SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t0
      |  FROM events WHERE event_type = 'signup' GROUP BY 1),
      |conv AS (
      |  SELECT DISTINCT e.user_id
      |  FROM events e JOIN signup s USING (user_id)
      |  WHERE e.event_type = 'purchase'
      |    AND CAST(e.ts AS TIMESTAMP) > s.t0
      |    AND CAST(e.ts AS TIMESTAMP) <= s.t0 + INTERVAL 7 DAY),
      |m AS (
      |  SELECT
      |    sum(CASE WHEN s.t0 < TIMESTAMP '2024-01-03' THEN 1 ELSE 0 END)
      |      AS n1,
      |    sum(CASE WHEN s.t0 < TIMESTAMP '2024-01-03'
      |             AND c.user_id IS NOT NULL THEN 1 ELSE 0 END) AS x1,
      |    sum(CASE WHEN s.t0 >= TIMESTAMP '2024-01-03' THEN 1 ELSE 0 END)
      |      AS n2,
      |    sum(CASE WHEN s.t0 >= TIMESTAMP '2024-01-03'
      |             AND c.user_id IS NOT NULL THEN 1 ELSE 0 END) AS x2
      |  FROM signup s LEFT JOIN conv c USING (user_id)),
      |c AS (
      |  SELECT CAST(n1 AS BIGINT) AS n1, CAST(x1 AS BIGINT) AS x1,
      |    CAST(n2 AS BIGINT) AS n2, CAST(x2 AS BIGINT) AS x2,
      |    CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
      |    CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS p2,
      |    (CAST(x1 AS DOUBLE) + CAST(x2 AS DOUBLE)) /
      |    (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) AS pp
      |  FROM m)
      |SELECT n1, x1, n2, x2, ROUND(p1, 6) AS p1, ROUND(p2, 6) AS p2,
      |  CASE WHEN pp > 0.0 AND pp < 1.0 THEN
      |    ROUND((p1 - p2) /
      |      sqrt(pp * (1.0 - pp) *
      |           (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE))), 6)
      |  END AS z
      |FROM c""".stripMargin

  // ---------------------------------------------------------------
  // q_funnel_window — deadline-conversion rate per signup cohort.
  // ---------------------------------------------------------------

  /** Cohort conversion-within-deadline: per signup-week cohort, how
    * many users made their first purchase within 7 days of first
    * signup, and the conversion rate. Complements [[qFunnel]] (global
    * stage counts) and [[qFunnelLatency]] (latency distribution GIVEN
    * conversion) with the per-cohort rate a growth dashboard plots —
    * counts and one division, all exact.
    *
    * At 100 TB: two keyed min-aggregates and a user-keyed semi join
    * (the funnel shape, all riding user_id partitioning), then one
    * tiny rollup on the cohort key. No windows, no event-stream sort.
    */
  val qFunnelWindow: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val signup = ev.where(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts")).as("t0"))
    val converted = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"))
      .join(signup, "user_id")
      .where(col("ts") > col("t0") &&
             col("ts") <= col("t0") + expr("INTERVAL 7 DAY"))
      .select(col("user_id")).distinct()
      .withColumn("conv", lit(1L))
    signup.join(converted, Seq("user_id"), "left")
      .groupBy(date_trunc("week", col("t0")).as("cohort"))
      .agg(count(lit(1)).as("n_signups"),
        coalesce(sum(col("conv")), lit(0L)).as("n_converted_7d"))
      .select(col("cohort"), col("n_signups"), col("n_converted_7d"),
        round(col("n_converted_7d").cast("double") /
              col("n_signups").cast("double"), 6).as("cvr_7d"))
      .orderBy("cohort")
  }

  val qFunnelWindowSql: String =
    """WITH signup AS (
      |  SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t0
      |  FROM events WHERE event_type = 'signup' GROUP BY 1),
      |conv AS (
      |  SELECT DISTINCT e.user_id
      |  FROM events e JOIN signup s USING (user_id)
      |  WHERE e.event_type = 'purchase'
      |    AND CAST(e.ts AS TIMESTAMP) > s.t0
      |    AND CAST(e.ts AS TIMESTAMP) <= s.t0 + INTERVAL 7 DAY)
      |SELECT CAST(date_trunc('week', t0) AS TIMESTAMP) AS cohort,
      |  count(*) AS n_signups,
      |  CAST(count(c.user_id) AS BIGINT) AS n_converted_7d,
      |  ROUND(CAST(count(c.user_id) AS DOUBLE) /
      |        CAST(count(*) AS DOUBLE), 6) AS cvr_7d
      |FROM signup s LEFT JOIN conv c USING (user_id)
      |GROUP BY 1 ORDER BY cohort""".stripMargin

  // ---------------------------------------------------------------
  // q_win_median_smooth — rolling rank-exact median of the daily series.
  // ---------------------------------------------------------------

  /** Trailing-7-day rolling MEDIAN of daily revenue — the robust
    * smoother that shrugs off one-day spikes where a rolling mean
    * follows them. Rank-exact: the window's ≤7 DECIMAL values are
    * sorted and the ⌊(m+1)/2⌋-th is selected — no interpolation, so
    * both engines pick the identical exact value (lower median on the
    * short head windows).
    *
    * At 100 TB: the firehose collapses to the bounded date dimension
    * first; the rolling window carries ≤7 decimals per row over that
    * ~2.4k-row series — aggregated-series shape, never a fact sort.
    */
  val qWinMedianSmooth: Q = (s, d) => {
    val daily = Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
    val w = Window.orderBy("day").rowsBetween(-6, 0)
    daily
      .withColumn("win", array_sort(collect_list(col("rev")).over(w)))
      .select(col("day").cast("timestamp").as("day"),
        col("rev").cast("double").as("rev"),
        expr("CAST(element_at(win, CAST(floor((size(win) + 1) / 2.0) AS INT)) AS DOUBLE)")
          .as("med7"))
      .orderBy("day")
  }

  val qWinMedianSmoothSql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders GROUP BY 1),
      |r AS (
      |  SELECT day, rev,
      |    list_sort(list(rev) OVER (ORDER BY day
      |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS win
      |  FROM daily)
      |SELECT CAST(day AS TIMESTAMP) AS day, CAST(rev AS DOUBLE) AS rev,
      |  CAST(win[CAST(floor((len(win) + 1) / 2.0) AS INT)] AS DOUBLE)
      |    AS med7
      |FROM r ORDER BY day""".stripMargin

  // ---------------------------------------------------------------
  // q_stats_theilsen — robust trend slope via the median of pair slopes.
  // ---------------------------------------------------------------

  /** Theil–Sen robust trend estimate of the 1995 daily-revenue series:
    * the median of all pairwise slopes (revⱼ−revᵢ)/(dayⱼ−dayᵢ) —
    * breakdown point 29%, where [[qStatsRegression]]'s least squares
    * follows a single corrupted day. Median by rank selection (slope,
    * then day-pair tie-break), so both engines pick the identical
    * element; each slope is one division of a decimal-exact difference
    * by an integer day gap.
    *
    * At 100 TB: the pair set is |date-dim-year|² (~66k) regardless of
    * SF — the firehose collapses to the daily series first, and the
    * self-join + selection window run on that bounded square. (The
    * subsample-of-pairs estimator is the knob if the window widens.)
    */
  val qStatsTheilsen: Q = (s, d) => {
    val daily = Tables.orders(s, d)
      .where(year(col("o_orderdate")) === 1995)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
    val a = daily.alias("a"); val b = daily.alias("b")
    val pairs = a.join(b, col("a.day") < col("b.day"))
      .select(col("a.day").as("d1"), col("b.day").as("d2"),
        ((col("b.rev") - col("a.rev")).cast("double") /
         datediff(col("b.day"), col("a.day")).cast("double")).as("slope"))
    val byS = Window.orderBy(col("slope").asc, col("d1").asc, col("d2").asc)
    pairs
      .withColumn("rn", row_number().over(byS).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      .where(col("rn") ===
        floor((col("n") + 1) / lit(2.0)).cast("long"))
      .select(col("n").as("n_pairs"),
        round(col("slope"), 6).as("slope_per_day"))
  }

  val qStatsTheilsenSql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1),
      |pairs AS (
      |  SELECT a.day AS d1, b.day AS d2,
      |    CAST(b.rev - a.rev AS DOUBLE) /
      |      CAST(date_diff('day', a.day, b.day) AS DOUBLE) AS slope
      |  FROM daily a JOIN daily b ON a.day < b.day),
      |r AS (
      |  SELECT slope,
      |    CAST(row_number() OVER (ORDER BY slope ASC, d1 ASC, d2 ASC)
      |         AS BIGINT) AS rn,
      |    count(*) OVER () AS n
      |  FROM pairs)
      |SELECT CAST(n AS BIGINT) AS n_pairs,
      |  ROUND(slope, 6) AS slope_per_day
      |FROM r WHERE rn = CAST(floor((n + 1) / 2.0) AS BIGINT)""".stripMargin

  // ---------------------------------------------------------------
  // q_dq_pk_gaps — distributed key-space gap audit.
  // ---------------------------------------------------------------

  private val GapBlock = 65536L

  /** Key-space continuity audit over o_orderkey (TPC-H keys are sparse
    * by design — this measures exactly how): gap count, widest gap, and
    * total missing keys between min and max. Computed DISTRIBUTED: keys
    * bucket into aligned 64Ki blocks; within-block gaps are a lag diff
    * inside each block partition, and cross-block gaps come from
    * joining each block's max to the NEXT populated block's min — no
    * global-order single-partition window anywhere, which is what makes
    * this shape survive a 100× key-space. (The oracle uses the naive
    * global lag — same answer, simpler SQL; the Spark plan is the
    * 100 TB form.)
    */
  val qDqPkGaps: Q = (s, d) => {
    val keys = Tables.orders(s, d)
      .select(col("o_orderkey").as("k")).distinct()
      .withColumn("blk", (col("k") / GapBlock).cast("long"))
    val inBlock = keys
      .withColumn("prev", lag(col("k"), 1).over(
        Window.partitionBy("blk").orderBy("k")))
      .where(col("prev").isNotNull && col("k") - col("prev") > 1)
      .select((col("k") - col("prev") - 1).as("missing"))
    val blocks = keys.groupBy("blk")
      .agg(min(col("k")).as("bmin"), max(col("k")).as("bmax"))
    val byBlk = Window.orderBy("blk") // |populated blocks| rows only
    val crossBlock = blocks
      .withColumn("next_min", lead(col("bmin"), 1).over(byBlk))
      .where(col("next_min").isNotNull &&
        col("next_min") - col("bmax") > 1)
      .select((col("next_min") - col("bmax") - 1).as("missing"))
    val gaps = inBlock.unionByName(crossBlock)
    keys.agg(count(lit(1)).as("n_keys"), min(col("k")).as("min_key"),
        max(col("k")).as("max_key"))
      .crossJoin(gaps.agg(
        count(lit(1)).as("n_gaps"),
        coalesce(max(col("missing")), lit(0L)).as("max_gap"),
        coalesce(sum(col("missing")), lit(0L)).as("n_missing")))
      .select(col("n_keys"), col("min_key"), col("max_key"),
        col("n_gaps"), col("max_gap"), col("n_missing"))
  }

  val qDqPkGapsSql: String =
    """WITH k AS (SELECT DISTINCT o_orderkey AS k FROM orders),
      |g AS (
      |  SELECT k - lag(k) OVER (ORDER BY k) - 1 AS missing
      |  FROM k),
      |gaps AS (SELECT missing FROM g WHERE missing > 0)
      |SELECT (SELECT count(*) FROM k) AS n_keys,
      |  (SELECT min(k) FROM k) AS min_key,
      |  (SELECT max(k) FROM k) AS max_key,
      |  (SELECT count(*) FROM gaps) AS n_gaps,
      |  (SELECT coalesce(max(missing), 0) FROM gaps) AS max_gap,
      |  (SELECT coalesce(CAST(sum(missing) AS BIGINT), 0) FROM gaps)
      |    AS n_missing""".stripMargin

  // ---------------------------------------------------------------
  // q_time_xcorr — lead-lag cross-correlation between two series.
  // ---------------------------------------------------------------

  /** Lead-lag cross-correlation between the daily `click` and `view`
    * count series at lags 0, 1, and 7 days — the "does views today
    * predict clicks next week" screen that pairs with
    * [[Insights.qTimeAutocorr]] (same day-grain collapse, two series
    * instead of one). One conditional aggregate folds both series in a
    * single events scan; each lag is a window shift over the ≤ |days|
    * aggregated rows, and Pearson r comes from the closed form
    * (nΣxy − ΣxΣy)/√((nΣx² − (Σx)²)(nΣy² − (Σy)²)) — every sum is a
    * sum of INTEGER products (counts), exact in double far below 2⁵³,
    * so the 6-dp round sits on a deterministic quotient in both
    * engines.
    *
    * At 100 TB: the firehose collapses to one combining aggregate on
    * day (≤ a few thousand rows for years of data); lag windows and the
    * final reduction run on that bounded series. Nothing else moves.
    */
  val qTimeXcorr: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
             .as("x"),
           sum(when(col("event_type") === "click", 1L).otherwise(0L))
             .as("y"))
    val wOrd = Window.orderBy("day")
    val lags = Seq(0, 1, 7)
    val shifted = lags.foldLeft(daily) { (df, l) =>
      df.withColumn(s"y_$l", lag(col("y"), l).over(wOrd))
    }
    // one aggregate carries all three lags' moment sums (6 each), so
    // the events table is scanned exactly once; the per-lag rows are
    // then exploded from that single row inside the same plan
    val moments = lags.flatMap { l =>
      val yl = col(s"y_$l")
      val in = yl.isNotNull
      Seq(
        sum(when(in, 1L).otherwise(0L)).as(s"n_$l"),
        sum(when(in, col("x")).otherwise(0L)).as(s"sx_$l"),
        sum(when(in, yl).otherwise(0L)).as(s"sy_$l"),
        sum(when(in, col("x") * col("x")).otherwise(0L)).as(s"sxx_$l"),
        sum(when(in, yl * yl).otherwise(0L)).as(s"syy_$l"),
        sum(when(in, col("x") * yl).otherwise(0L)).as(s"sxy_$l"))
    }
    val perLag = lags.map { l =>
      val (n, sx, sy) = (col(s"n_$l"), col(s"sx_$l"), col(s"sy_$l"))
      val (sxx, syy, sxy) = (col(s"sxx_$l"), col(s"syy_$l"), col(s"sxy_$l"))
      struct(
        lit(l.toLong).as("lag_days"), n.as("n_pairs"),
        round((n * sxy - sx * sy).cast("double") /
          sqrt(((n * sxx - sx * sx) * (n * syy - sy * sy))
            .cast("double")), 6).as("r"))
    }
    shifted.agg(moments.head, moments.tail: _*)
      .select(explode(array(perLag: _*)).as("o"))
      .select(col("o.lag_days"), col("o.n_pairs"), col("o.r"))
      .orderBy("lag_days")
  }

  val qTimeXcorrSql: String =
    """WITH daily AS (
      |  SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
      |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS x,
      |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS y
      |  FROM events GROUP BY 1),
      |sh AS (
      |  SELECT x, y AS y_0,
      |    lag(y, 1) OVER (ORDER BY day) AS y_1,
      |    lag(y, 7) OVER (ORDER BY day) AS y_7
      |  FROM daily),
      |one AS (
      |  SELECT l.lag_days,
      |    CASE l.lag_days WHEN 0 THEN y_0 WHEN 1 THEN y_1 ELSE y_7 END
      |      AS yl, x
      |  FROM sh CROSS JOIN (VALUES (0), (1), (7)) AS l(lag_days))
      |SELECT lag_days, count(*) AS n_pairs,
      |  ROUND(CAST(count(*) * sum(x * yl) - sum(x) * sum(yl) AS DOUBLE) /
      |    sqrt(CAST((count(*) * sum(x * x) - sum(x) * sum(x)) *
      |              (count(*) * sum(yl * yl) - sum(yl) * sum(yl))
      |         AS DOUBLE)), 6) AS r
      |FROM one WHERE yl IS NOT NULL
      |GROUP BY 1 ORDER BY lag_days""".stripMargin

  // ---------------------------------------------------------------
  // q_stats_kendall — Kendall tau-b rank correlation, exact counts.
  // ---------------------------------------------------------------

  /** Kendall tau-b between the daily event COUNT and the daily exact
    * revenue SUM — the rank-correlation complement to
    * [[Insights.qStatsSpearman]] that is robust to ties. Both series
    * collapse to ≤ |days| rows first (count is an integer; revenue is
    * an exact DECIMAL sum carried as integer cents), so every pairwise
    * comparison in the O(days²) self-join is integer-exact: concordant
    * / discordant / tie counts are identical in both engines by
    * construction, and tau-b's one double division rounds at 6 dp with
    * no tie pressure.
    *
    * At 100 TB: the self-join is over the AGGREGATED day series
    * (years of data ≈ 10³ rows → 10⁶ comparisons on one executor) —
    * the fact table contributes one combining aggregate, nothing more.
    * For day counts beyond ~10⁵ the O(n log n) merge-sort inversion
    * count replaces the pair join (documented, not needed at this
    * grain).
    */
  val qStatsKendall: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("x"),
           sum(col("value").cast(DecimalType(18, 2))).as("rev"))
      .select(col("day"), col("x"),
              (col("rev") * 100).cast("long").as("y"))
    val a = daily.alias("a"); val b = daily.alias("b")
    val pairs = a.join(b, col("a.day") < col("b.day"))
      .select(
        (col("a.x") - col("b.x")).as("dx"),
        (col("a.y") - col("b.y")).as("dy"))
    pairs.agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("dx") * col("dy") > 0, 1L).otherwise(0L))
          .as("concordant"),
        sum(when(col("dx") * col("dy") < 0, 1L).otherwise(0L))
          .as("discordant"),
        sum(when(col("dx") === 0 && col("dy") =!= 0, 1L).otherwise(0L))
          .as("ties_x"),
        sum(when(col("dy") === 0 && col("dx") =!= 0, 1L).otherwise(0L))
          .as("ties_y"))
      .select(col("n_pairs"), col("concordant"), col("discordant"),
        round((col("concordant") - col("discordant")).cast("double") /
          sqrt(((col("n_pairs") - col("ties_x")) *
                (col("n_pairs") - col("ties_y"))).cast("double")), 6)
          .as("tau_b"))
  }

  val qStatsKendallSql: String =
    """WITH daily AS (
      |  SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
      |    count(*) AS x,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
      |  FROM events GROUP BY 1),
      |p AS (
      |  SELECT a.x - b.x AS dx, a.y - b.y AS dy
      |  FROM daily a JOIN daily b ON a.day < b.day),
      |c AS (
      |  SELECT count(*) AS n_pairs,
      |    CAST(sum(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS concordant,
      |    CAST(sum(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS discordant,
      |    CAST(sum(CASE WHEN dx = 0 AND dy <> 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS ties_x,
      |    CAST(sum(CASE WHEN dy = 0 AND dx <> 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS ties_y
      |  FROM p)
      |SELECT n_pairs, concordant, discordant,
      |  ROUND(CAST(concordant - discordant AS DOUBLE) /
      |    sqrt(CAST((n_pairs - ties_x) * (n_pairs - ties_y) AS DOUBLE)),
      |    6) AS tau_b
      |FROM c""".stripMargin

  // ---------------------------------------------------------------
  // q_agg_percentile_exact — exact interpolated percentiles per group.
  // ---------------------------------------------------------------

  /** EXACT linear-interpolated percentiles (p50/p90/p99) of the event
    * value per event type — the ground truth the sketch keys
    * (`q_agg_quantile_sketch`, `q_agg_approx`) are tolerance-gated
    * against, as its own first-class operator. Values are exact integer
    * cents, so the interpolation `lo + (hi − lo)·frac` runs on exact
    * integers with one shared `frac = p·(n−1)` double in both engines
    * (Spark's `percentile` and DuckDB's `quantile_cont` implement the
    * identical Type-7 estimator).
    *
    * At 100 TB exact percentiles mean a per-group sort — that is the
    * operator's CONTRACT (the sketch keys are the scale path); Spark
    * plans it as a single-pass sort-based aggregate per group, not a
    * global sort.
    */
  val qAggPercentileExact: Q = (s, d) => {
    val cents = (col("value").cast(DecimalType(18, 2)) * 100)
      .cast("long")
    Tables.events(s, d)
      .select(col("event_type"), cents.as("v"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(expr("percentile(v, 0.5)"), 4).as("p50"),
        round(expr("percentile(v, 0.9)"), 4).as("p90"),
        round(expr("percentile(v, 0.99)"), 4).as("p99"))
      .orderBy("event_type")
  }

  val qAggPercentileExactSql: String =
    """WITH v AS (
      |  SELECT event_type,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM events)
      |SELECT event_type, count(*) AS n,
      |  ROUND(quantile_cont(v, 0.5), 4) AS p50,
      |  ROUND(quantile_cont(v, 0.9), 4) AS p90,
      |  ROUND(quantile_cont(v, 0.99), 4) AS p99
      |FROM v GROUP BY 1 ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------
  // q_time_holt — Holt linear-trend smoothing, exact decimal steps.
  // ---------------------------------------------------------------

  /** Holt's linear-trend double exponential smoothing (α = 0.2,
    * β = 0.1) over the daily event-count series, emitting the 1..7-day
    * forecast — the trend-aware upgrade of [[Insights.qWinEwma]] and
    * the recursive counterpart of [[qTimeForecast]]'s closed-form line.
    *
    * The recursion is inherently sequential, so it runs over the
    * AGGREGATED day series only: the firehose collapses to ≤ |days|
    * integer counts (one combining aggregate — the distributed part),
    * then the fold walks that bounded series on the driver in exact
    * BigDecimal with every level/trend step rounded to 6 dp HALF_UP
    * (away-from-zero, matching DuckDB's decimal ROUND). The oracle
    * replays the identical recursion as a recursive CTE in pure
    * DECIMAL arithmetic — every step is exact in both engines, so the
    * hash match is structural, not lucky. Same bounded-collect
    * contract as the PQ codebook / MMR driver loops (the series is
    * years-of-days ≈ 10³ rows, not corpus-sized).
    */
  val qTimeHolt: Q = (s, d) => {
    import s.implicits._
    val daily = Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .orderBy("day")
      .select(col("n")).as[Long].collect()
    require(daily.length >= 2, "Holt needs at least two days")
    val alpha = BigDecimal("0.2"); val beta = BigDecimal("0.1")
    val one = BigDecimal(1)
    def r6(x: BigDecimal): BigDecimal =
      x.setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)
    var l = BigDecimal(daily(0))
    var b = BigDecimal(daily(1)) - BigDecimal(daily(0))
    daily.drop(1).foreach { y =>
      val lNew = r6(alpha * BigDecimal(y) + (one - alpha) * (l + b))
      b = r6(beta * (lNew - l) + (one - beta) * b)
      l = lNew
    }
    val out = (1 to 7).map { h =>
      (h.toLong, daily.length.toLong, r6(l + BigDecimal(h) * b).toDouble)
    }
    s.createDataFrame(out).toDF("h", "n_days", "forecast")
      .orderBy("h")
  }

  val qTimeHoltSql: String =
    """WITH RECURSIVE daily AS (
      |  SELECT row_number() OVER (ORDER BY day) AS rn,
      |         CAST(n AS DECIMAL(28,6)) AS y
      |  FROM (SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
      |               count(*) AS n
      |        FROM events GROUP BY 1)),
      |rec AS (
      |  SELECT CAST(2 AS BIGINT) AS rn,
      |    CAST(ROUND(0.2 * d2.y + 0.8 * (d1.y + (d2.y - d1.y)), 6)
      |      AS DECIMAL(28,6)) AS l,
      |    CAST(ROUND(0.1 * (ROUND(0.2 * d2.y
      |                            + 0.8 * (d1.y + (d2.y - d1.y)), 6)
      |                      - d1.y)
      |               + 0.9 * (d2.y - d1.y), 6) AS DECIMAL(28,6)) AS b
      |  FROM daily d1, daily d2 WHERE d1.rn = 1 AND d2.rn = 2
      |  UNION ALL
      |  SELECT r.rn + 1,
      |    CAST(ROUND(0.2 * s.y + 0.8 * (r.l + r.b), 6)
      |      AS DECIMAL(28,6)),
      |    CAST(ROUND(0.1 * (ROUND(0.2 * s.y + 0.8 * (r.l + r.b), 6) - r.l)
      |               + 0.9 * r.b, 6) AS DECIMAL(28,6))
      |  FROM rec r JOIN daily s ON s.rn = r.rn + 1),
      |fin AS (
      |  SELECT l, b FROM rec ORDER BY rn DESC LIMIT 1),
      |nd AS (SELECT count(*) AS n_days FROM daily)
      |SELECT CAST(h.h AS BIGINT) AS h, CAST(nd.n_days AS BIGINT) AS n_days,
      |  CAST(ROUND(fin.l + h.h * fin.b, 6) AS DOUBLE) AS forecast
      |FROM (SELECT unnest(generate_series(1, 7)) AS h) h, fin, nd
      |ORDER BY h""".stripMargin

  // ---------------------------------------------------------------
  // q_stats_bootstrap — deterministic bootstrap CI for the daily mean.
  // ---------------------------------------------------------------

  /** Bootstrap 95% confidence interval for the mean daily revenue —
    * B = 200 resamples of the day series WITH replacement, where draw
    * (b, j) picks day `lcg(b·10⁵ + j) mod n`: a fixed 31-bit LCG both
    * engines evaluate in exact BIGINT arithmetic, so the resample
    * matrix is identical by construction (deterministic-fake
    * randomness, the repo's standard for seeded sampling). Each
    * resample mean is an exact-integer-cents sum over one double
    * division; the CI bounds are exact Type-7 percentiles over the 200
    * means (the q_agg_percentile_exact parity), and the grand mean
    * sums round-6 decimals so no order-dependence survives.
    *
    * At 100 TB: the fact table collapses to the day series once; the
    * draw matrix is B×|days| ≈ 10⁵ rows JOINED against that bounded
    * series — never against the fact table. Everything after the first
    * aggregate is sub-second work regardless of corpus size.
    */
  val qStatsBootstrap: Q = (s, d) => {
    import s.implicits._
    val B = 200L
    val daily = Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100)
        .cast("long").as("cents"))
      .withColumn("idx",
        row_number().over(Window.orderBy("day")).cast("long") - 1)
      .select(col("idx"), col("cents"))
      .localCheckpoint(true) // bounded: |days| rows, feeds count + join
    val n = daily.count()
    val draws = s.range(0, B * n)
      .select((col("id") / n + 1).cast("long").as("b"),
        (col("id") % n + 1).as("j"))
      .select(col("b"),
        ((lit(1103515245L) * (col("b") * 100000L + col("j"))
          + 12345L) % 2147483648L % n).as("idx"))
    val means = draws.join(daily, "idx")
      .groupBy("b")
      .agg((sum(col("cents")).cast("double") / n).as("m"))
    means.agg(
      lit(n).as("n_days"),
      count(lit(1)).as("n_boot"),
      round(sum(round(col("m"), 6).cast(DecimalType(28, 6)))
        .cast("double") / B, 4).as("boot_mean"),
      round(expr("percentile(m, 0.025)"), 4).as("ci_lo"),
      round(expr("percentile(m, 0.975)"), 4).as("ci_hi"))
  }

  val qStatsBootstrapSql: String =
    """WITH daily AS (
      |  SELECT row_number() OVER (ORDER BY day) - 1 AS idx,
      |         CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
      |           AS cents
      |  FROM (SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
      |               value
      |        FROM events)
      |  GROUP BY day),
      |nn AS (SELECT count(*) AS n FROM daily),
      |draws AS (
      |  SELECT b.b,
      |    (1103515245 * (b.b * 100000 + j.j) + 12345) % 2147483648 % nn.n
      |      AS idx
      |  FROM (SELECT unnest(generate_series(1, 200)) AS b) b,
      |       (SELECT unnest(generate_series(1,
      |          (SELECT count(*) FROM daily))) AS j) j,
      |       nn),
      |means AS (
      |  SELECT dr.b,
      |    CAST(sum(d.cents) AS DOUBLE) / max(nn.n) AS m
      |  FROM draws dr JOIN daily d USING (idx), nn
      |  GROUP BY dr.b)
      |SELECT (SELECT n FROM nn) AS n_days, count(*) AS n_boot,
      |  ROUND(CAST(sum(CAST(ROUND(m, 6) AS DECIMAL(28,6))) AS DOUBLE)
      |        / 200, 4) AS boot_mean,
      |  ROUND(quantile_cont(m, 0.025), 4) AS ci_lo,
      |  ROUND(quantile_cont(m, 0.975), 4) AS ci_hi
      |FROM means""".stripMargin

  // ---------------------------------------------------------------
  // q_graph_kcore — k-core decomposition by iterative peeling.
  // ---------------------------------------------------------------

  /** 2-core of the co-purchase graph (the support ≥ 2 edge set shared
    * with [[qGraphAdamicAdar]]): repeatedly peel nodes of degree < 2
    * until the remainder is stable — pruning every tree appendage —
    * then emit each surviving node with its degree inside the core,
    * the standard dense-subgraph screen before community work.
    * (k = 2 keeps the core non-empty at every shipped scale; the
    * measured peel depth is 4–11 rounds at sf0.01..sf1 against the 12
    * unrolled.) Peeling is MONOTONE (nodes only ever leave), so extra
    * rounds after the fixpoint are no-ops; Spark runs to the measured
    * fixpoint and FAILS LOUDLY past 12 rounds, and the oracle simply
    * unrolls 12 peels — identical by monotonicity. Everything is
    * integer counts; no FP anywhere.
    *
    * At 100 TB each round is one semi-join of the edge list against
    * the surviving-node set plus a degree count — edges ∝ the
    * support-thresholded graph, never |parts|²; the round count is
    * bounded by the peel depth (log-ish on real graphs), same
    * convergence discipline as the dedup label propagation.
    */
  val qGraphKcore: Q = (s, d) => {
    val k = 2
    val edges = copurchaseEdges(s, d) // shared artifact; reused every peel round
    // peel on the LIVE EDGE SET, shrinking it each round: a round drops
    // the edges touching a degree-<k node, so later rounds join smaller
    // tables; edge-count fixpoint ⟺ node fixpoint (removing a node
    // removes its edges). Each round's survivor set is an EAGER
    // localCheckpoint — `live` appears three times in the next round's
    // plan (join left + both alive branches), so without truncation the
    // LOGICAL plan grows 3^rounds and analysis time explodes (measured:
    // 21 s to plan round 6 over SIX edges); with it every round plans
    // against a flat checkpoint scan. The count after a checkpoint is
    // ~free (the data is already materialized and ∝ surviving edges).
    var live = edges.select(col("p1").as("u"), col("p2").as("v"))
      .unionByName(edges.select(col("p2").as("u"), col("p1").as("v")))
      .localCheckpoint(true)
    var liveN = live.count()
    var rounds = 0
    var stable = false
    while (!stable && rounds < 12) {
      val alive = live.groupBy("u").agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k).select(col("u"))
      val next = live
        .join(alive, "u")
        .join(alive.withColumnRenamed("u", "v"), "v")
        .localCheckpoint(true)
      val nextN = next.count()
      stable = nextN == liveN
      live = next
      liveN = nextN
      rounds += 1
    }
    require(stable, s"k-core peeling did not stabilize in $rounds rounds")
    live.groupBy("u").agg(count(lit(1)).as("core_degree"))
      .orderBy("u")
  }

  val qGraphKcoreSql: String = {
    val peel = (i: Int) =>
      // MATERIALIZED throughout: each peel references its predecessor
      // twice and `und` twice — inlined, the plan doubles per round
      // (the q_graph_triangles lesson; DuckDB spilled >75 GB once)
      s"""a$i AS MATERIALIZED (
         |  SELECT und.u AS u FROM und
         |  JOIN a${i - 1} x ON x.u = und.u
         |  JOIN a${i - 1} y ON y.u = und.v
         |  GROUP BY und.u HAVING count(*) >= 2)""".stripMargin
    s"""WITH e AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |edges AS MATERIALIZED (
      |  SELECT a.p AS p1, b.p AS p2
      |  FROM e a JOIN e b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |und AS MATERIALIZED (
      |  SELECT p1 AS u, p2 AS v FROM edges
      |  UNION ALL SELECT p2, p1 FROM edges),
      |a0 AS MATERIALIZED (SELECT DISTINCT u FROM und),
      |${(1 to 12).map(peel).mkString(",\n")}
      |SELECT und.u AS u, count(*) AS core_degree
      |FROM und
      |JOIN a12 x ON x.u = und.u
      |JOIN a12 y ON y.u = und.v
      |GROUP BY und.u ORDER BY und.u""".stripMargin
  }

  // ---------------------------------------------------------------
  // q_seq_paths — most common session event paths.
  // ---------------------------------------------------------------

  /** Top-20 most common session PATHS — the ordered event-type
    * sequence of each 30-minute-gap session (the [[Windows.qSessionize]]
    * session definition), the path-mining readout behind funnel design
    * ("what do users actually do?"). Order within a session is the
    * total (ts, event_id) key, made deterministic in Spark by sorting
    * the collected struct array (collect_list alone has no order
    * contract) and in DuckDB by `string_agg(... ORDER BY ts,
    * event_id)`. Ranking ties break on the path string itself.
    *
    * At 100 TB: one shuffle on user_id feeds the session windows and
    * the per-session path build; the path table then collapses to
    * ≤ |distinct paths| combiner-merged counts, and the top-20 is a
    * TakeOrdered. Pathological sessions are capped upstream by the
    * gap rule, so no collect grows unbounded.
    */
  val qSeqPaths: Q = (s, d) => {
    val wOrd = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(wOrd))
      .withColumn("brk",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts"))
            > 1800000000L, 1L).otherwise(0L))
      .withColumn("session_no", sum(col("brk")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_no"))
      .agg(array_join(
        transform(
          array_sort(collect_list(
            struct(col("ts"), col("event_id"), col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path").asc)
      .limit(20)
  }

  val qSeqPathsSql: String =
    """WITH e AS (
      |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
      |         event_type
      |  FROM events),
      |l AS (
      |  SELECT *, lag(ts) OVER (PARTITION BY user_id
      |                          ORDER BY ts, event_id) AS prev_ts
      |  FROM e),
      |f AS (
      |  SELECT *, CASE WHEN prev_ts IS NULL
      |                   OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
      |                 THEN 1 ELSE 0 END AS brk
      |  FROM l),
      |sn AS (
      |  SELECT *, SUM(brk) OVER (PARTITION BY user_id
      |                           ORDER BY ts, event_id
      |                           ROWS UNBOUNDED PRECEDING) AS session_no
      |  FROM f),
      |paths AS (
      |  SELECT user_id, session_no,
      |    string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      |  FROM sn GROUP BY 1, 2)
      |SELECT path, count(*) AS n_sessions
      |FROM paths GROUP BY 1
      |ORDER BY n_sessions DESC, path ASC LIMIT 20""".stripMargin

  // ---------------------------------------------------------------
  // q_stats_mi — mutual information between type and value bucket.
  // ---------------------------------------------------------------

  /** Mutual information (and normalized MI) between the event type and
    * the value decile — the dependence screen that catches what
    * correlation misses (any non-linear association). Buckets are the
    * fixed-width [[Insights.qDqDrift]] bins (exact decimal edge
    * discipline); every probability is a ratio of exact integer counts
    * written as `(c·N)/(ct·cb)` so both engines evaluate the identical
    * expression tree, and each of the ≤ 50 plogp terms rounds to 6 dp
    * before an exact DECIMAL sum (the PSI rule — `ln` is the only
    * libm call).
    *
    * At 100 TB: one conditional aggregate over the fact table to the
    * (type, bucket) grid; everything after runs on ≤ 50 rows.
    */
  val qStatsMi: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val rng = ev.agg(min(col("value")).as("v0"),
                     max(col("value")).as("v1"))
    val cells = ev.crossJoin(broadcast(rng))
      .withColumn("bucket",
        least(floor((col("value") - col("v0")) /
          (greatest(col("v1") - col("v0"), lit(1e-12)) / lit(10.0))),
          lit(9L)).cast("long"))
      .groupBy("event_type", "bucket")
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // ≤ |types|×10 rows; feeds 4 aggregates
    val n = cells.agg(sum(col("c"))).first().getLong(0)
    val tMarg = cells.groupBy("event_type").agg(sum(col("c")).as("ct"))
    val bMarg = cells.groupBy("bucket").agg(sum(col("c")).as("cb"))
    val nd = lit(n).cast("double")
    val joint = cells
      .join(broadcast(tMarg), "event_type")
      .join(broadcast(bMarg), "bucket")
    val mi = joint.agg(
      sum(round((col("c") / nd) *
        log((col("c") * lit(n)).cast("double") /
            (col("ct") * col("cb")).cast("double")), 6)
        .cast(DecimalType(28, 6))).cast("double").as("mi"))
    val ht = tMarg.agg(
      sum(round((col("ct") / nd) * -log(col("ct") / nd), 6)
        .cast(DecimalType(28, 6))).cast("double").as("ht"))
    val hb = bMarg.agg(
      sum(round((col("cb") / nd) * -log(col("cb") / nd), 6)
        .cast(DecimalType(28, 6))).cast("double").as("hb"))
    mi.crossJoin(ht).crossJoin(hb)
      .select(lit(n).as("n"), round(col("mi"), 6).as("mi_nats"),
        round(col("mi") / sqrt(col("ht") * col("hb")), 6).as("nmi"))
  }

  val qStatsMiSql: String =
    """WITH rng AS (
      |  SELECT min(value) AS v0, max(value) AS v1 FROM events),
      |cells AS MATERIALIZED (
      |  SELECT event_type,
      |    CAST(least(floor((value - v0) /
      |      (greatest(v1 - v0, 1e-12) / CAST(10.0 AS DOUBLE))), 9)
      |      AS BIGINT) AS bucket,
      |    count(*) AS c
      |  FROM events, rng GROUP BY 1, 2),
      |nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
      |tm AS MATERIALIZED (
      |  SELECT event_type, CAST(sum(c) AS BIGINT) AS ct
      |  FROM cells GROUP BY 1),
      |bm AS MATERIALIZED (
      |  SELECT bucket, CAST(sum(c) AS BIGINT) AS cb
      |  FROM cells GROUP BY 1),
      |mi AS (
      |  SELECT CAST(sum(CAST(ROUND(
      |      (c / CAST(n AS DOUBLE)) *
      |      ln(CAST(c * n AS DOUBLE) / CAST(ct * cb AS DOUBLE)), 6)
      |    AS DECIMAL(28,6))) AS DOUBLE) AS mi
      |  FROM cells JOIN tm USING (event_type) JOIN bm USING (bucket),
      |       nn),
      |ht AS (
      |  SELECT CAST(sum(CAST(ROUND(
      |      (ct / CAST(n AS DOUBLE)) * -ln(ct / CAST(n AS DOUBLE)), 6)
      |    AS DECIMAL(28,6))) AS DOUBLE) AS ht
      |  FROM tm, nn),
      |hb AS (
      |  SELECT CAST(sum(CAST(ROUND(
      |      (cb / CAST(n AS DOUBLE)) * -ln(cb / CAST(n AS DOUBLE)), 6)
      |    AS DECIMAL(28,6))) AS DOUBLE) AS hb
      |  FROM bm, nn)
      |SELECT (SELECT n FROM nn) AS n, ROUND(mi, 6) AS mi_nats,
      |  ROUND(mi / sqrt(ht * hb), 6) AS nmi
      |FROM mi, ht, hb""".stripMargin

  // ---------------------------------------------------------------
  // q_agg_stickiness — DAU/MAU engagement ratio per month.
  // ---------------------------------------------------------------

  /** Monthly engagement stickiness: average daily active users over
    * monthly active users — THE product-analytics ratio, and a shape
    * worth gating because it mixes two exact distinct-counts at
    * different grains in one result. Both distincts are exact
    * (shuffle-deduped, no HLL); avg DAU is an integer sum over the
    * month's day count; the ratio is one round-6 quotient.
    *
    * At 100 TB: the (day, user) dedup is the one big exchange; the
    * month rollup rides the same hash partitioning (day maps to its
    * month), and MAU reuses the deduped set — no second fact scan.
    */
  val qAggStickiness: Q = (s, d) => {
    val dayUser = Tables.events(s, d)
      .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
      .distinct()
      .localCheckpoint(true) // |days|×|users| bound; feeds DAU and MAU
    val dau = dayUser.groupBy("day")
      .agg(count(lit(1)).as("dau"))
      .groupBy(date_trunc("month", col("day")).as("month"))
      .agg(count(lit(1)).as("n_days"), sum(col("dau")).as("dau_sum"))
    val mau = dayUser
      .groupBy(date_trunc("month", col("day")).as("month"))
      .agg(count_distinct(col("user_id")).as("mau"))
    dau.join(mau, "month")
      .select(col("month"), col("n_days"), col("mau"),
        round(col("dau_sum").cast("double") / col("n_days"), 4)
          .as("avg_dau"),
        round(col("dau_sum").cast("double") /
          (col("n_days") * col("mau")).cast("double"), 6)
          .as("stickiness"))
      .orderBy("month")
  }

  val qAggStickinessSql: String =
    """WITH du AS (
      |  SELECT DISTINCT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
      |                  user_id
      |  FROM events),
      |dau AS (
      |  SELECT date_trunc('month', day) AS month, count(*) AS n_days,
      |         CAST(sum(dau) AS BIGINT) AS dau_sum
      |  FROM (SELECT day, count(*) AS dau FROM du GROUP BY 1)
      |  GROUP BY 1),
      |mau AS (
      |  SELECT date_trunc('month', day) AS month,
      |         count(DISTINCT user_id) AS mau
      |  FROM du GROUP BY 1)
      |SELECT CAST(month AS TIMESTAMP) AS month, n_days, mau,
      |  ROUND(CAST(dau_sum AS DOUBLE) / n_days, 4) AS avg_dau,
      |  ROUND(CAST(dau_sum AS DOUBLE) / CAST(n_days * mau AS DOUBLE), 6)
      |    AS stickiness
      |FROM dau JOIN mau USING (month) ORDER BY month""".stripMargin

  // ---------------------------------------------------------------
  // q_stats_wilson — Wilson score interval for a proportion.
  // ---------------------------------------------------------------

  /** Wilson 95% score interval for the per-type proportion of
    * high-value events (value > 500) — the right CI for proportions
    * (never leaves [0, 1], sane at small n), complementing
    * [[qStatsProptest]]'s two-sample z. x and n are exact integers;
    * the interval is a closed-form expression over them with the z
    * = 1.96 literal spelled identically in both engines, one sqrt,
    * round-6 outputs.
    *
    * At 100 TB: one conditional aggregate to |types| rows; the math
    * runs on those rows only.
    */
  val qStatsWilson: Q = (s, d) => {
    val z2 = lit(1.96) * lit(1.96)
    val n = col("n").cast("double"); val x = col("x").cast("double")
    val p = x / n
    val denom = lit(1.0) + z2 / n
    val center = p + z2 / (lit(2.0) * n)
    val spread = lit(1.96) *
      sqrt(p * (lit(1.0) - p) / n + z2 / (lit(4.0) * n * n))
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") > 500.0, 1L).otherwise(0L)).as("x"))
      .select(col("event_type"), col("n"), col("x"),
        round(p, 6).as("p_hat"),
        round((center - spread) / denom, 6).as("ci_lo"),
        round((center + spread) / denom, 6).as("ci_hi"))
      .orderBy("event_type")
  }

  val qStatsWilsonSql: String =
    """WITH g AS (
      |  SELECT event_type, count(*) AS n,
      |    CAST(sum(CASE WHEN value > 500.0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS x
      |  FROM events GROUP BY 1),
      |c AS (
      |  SELECT event_type, n, x,
      |    CAST(n AS DOUBLE) AS nd, CAST(x AS DOUBLE) AS xd
      |  FROM g)
      |SELECT event_type, n, x,
      |  ROUND(xd / nd, 6) AS p_hat,
      |  ROUND((xd / nd + 1.96 * 1.96 / (2.0 * nd)
      |         - 1.96 * sqrt((xd / nd) * (1.0 - xd / nd) / nd
      |                       + 1.96 * 1.96 / (4.0 * nd * nd)))
      |        / (1.0 + 1.96 * 1.96 / nd), 6) AS ci_lo,
      |  ROUND((xd / nd + 1.96 * 1.96 / (2.0 * nd)
      |         + 1.96 * sqrt((xd / nd) * (1.0 - xd / nd) / nd
      |                       + 1.96 * 1.96 / (4.0 * nd * nd)))
      |        / (1.0 + 1.96 * 1.96 / nd), 6) AS ci_hi
      |FROM c ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------
  // q_stats_levene — Brown–Forsythe variance-homogeneity test.
  // ---------------------------------------------------------------

  /** Brown–Forsythe test (Levene with the median center) for equal
    * spread of order totals across priorities — the check that decides
    * whether [[Insights.qStatsAnova]]'s equal-variance assumption even
    * holds. Per group: the EXACT Type-7 median of integer cents (whole
    * or half-integer, exact in double), then z = |x − med| which is an
    * exact half-integer per row, summed as DECIMAL(28,1)/(38,2) so the
    * ANOVA-on-z moment sums are order-free and exact; the F statistic
    * is single double algebra over those exact sums (the
    * q_stats_anova discipline).
    *
    * At 100 TB: one per-group sort for the medians (the exact-median
    * contract), then one combining aggregate over the transformed
    * rows; nothing else.
    */
  val qStatsLevene: Q = (s, d) => {
    val cents = (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
      .cast("long")
    val base = Tables.orders(s, d)
      .select(col("o_orderpriority").as("grp"), cents.as("v"))
    val med = base.groupBy("grp")
      .agg(expr("percentile(v, 0.5)").as("med"))
    val z = base.join(broadcast(med), "grp")
      .select(col("grp"),
        abs(col("v").cast("double") - col("med"))
          .cast(DecimalType(19, 1)).as("z"))
    val g = z.groupBy("grp").agg(
      count(lit(1)).as("n"),
      sum(col("z")).as("sz"),
      sum((col("z") * col("z")).cast(DecimalType(38, 2))).as("szz"))
    g.agg(
        count(lit(1)).as("k"),
        sum(col("n")).as("n_tot"),
        sum(round(col("sz").cast("double") * col("sz").cast("double") /
            col("n").cast("double"), 2)
          .cast(DecimalType(38, 2))).cast("double").as("sb"),
        sum(col("sz")).cast("double").as("s_all"),
        sum(col("szz")).cast("double").as("ss_all"))
      .select(col("k"), col("n_tot").cast("long").as("n"),
        round((col("sb") - col("s_all") * col("s_all") /
               col("n_tot").cast("double")) / (col("k") - 1) /
              ((col("ss_all") - col("sb")) /
               (col("n_tot") - col("k")).cast("double")), 6)
          .as("f_stat"))
  }

  val qStatsLeveneSql: String =
    """WITH base AS (
      |  SELECT o_orderpriority AS grp,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM orders),
      |med AS (SELECT grp, quantile_cont(v, 0.5) AS med
      |        FROM base GROUP BY 1),
      |z AS (
      |  SELECT base.grp,
      |    CAST(abs(CAST(v AS DOUBLE) - med) AS DECIMAL(19,1)) AS z
      |  FROM base JOIN med USING (grp)),
      |g AS (
      |  SELECT grp, count(*) AS n, sum(z) AS sz,
      |    sum(CAST(z * z AS DECIMAL(38,2))) AS szz
      |  FROM z GROUP BY 1)
      |SELECT count(*) AS k, CAST(sum(n) AS BIGINT) AS n,
      |  ROUND(((CAST(sum(CAST(ROUND(CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)
      |            / CAST(n AS DOUBLE), 2) AS DECIMAL(38,2))) AS DOUBLE)
      |          - CAST(sum(sz) AS DOUBLE) * CAST(sum(sz) AS DOUBLE)
      |            / CAST(sum(n) AS DOUBLE)) / (count(*) - 1))
      |        / ((CAST(sum(szz) AS DOUBLE)
      |            - CAST(sum(CAST(ROUND(CAST(sz AS DOUBLE)
      |                  * CAST(sz AS DOUBLE)
      |                  / CAST(n AS DOUBLE), 2) AS DECIMAL(38,2)))
      |                AS DOUBLE))
      |           / CAST(sum(n) - count(*) AS DOUBLE)), 6) AS f_stat
      |FROM g""".stripMargin

  // ---------------------------------------------------------------
  // q_dq_key_skew — shuffle-key skew diagnosis.
  // ---------------------------------------------------------------

  /** Join/shuffle-key skew diagnosis for `l_orderkey` — the profiling
    * pass that DECIDES whether a key needs salting ([[Skew]]'s
    * operators are the treatment; this is the diagnosis): per-key row
    * counts, their exact p50/p99 (Type-7, integer inputs), the max,
    * and the max/mean skew factor. Everything is integer counts plus
    * round-6/round-4 quotients.
    *
    * At 100 TB: one combining aggregate to |keys| rows, then the
    * percentile contract over THAT (the profile is per-key, never
    * per-row).
    */
  val qDqKeySkew: Q = (s, d) => {
    val perKey = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("c"))
    perKey.agg(
      count(lit(1)).as("n_keys"),
      sum(col("c")).as("n_rows"),
      max(col("c")).as("max_rows"),
      round(expr("percentile(c, 0.5)"), 4).as("p50"),
      round(expr("percentile(c, 0.99)"), 4).as("p99"),
      round(max(col("c")).cast("double") /
        (sum(col("c")).cast("double") / count(lit(1))), 6)
        .as("skew_factor"))
  }

  val qDqKeySkewSql: String =
    """WITH k AS (
      |  SELECT l_orderkey, count(*) AS c FROM lineitem GROUP BY 1)
      |SELECT count(*) AS n_keys, CAST(sum(c) AS BIGINT) AS n_rows,
      |  max(c) AS max_rows,
      |  ROUND(quantile_cont(c, 0.5), 4) AS p50,
      |  ROUND(quantile_cont(c, 0.99), 4) AS p99,
      |  ROUND(CAST(max(c) AS DOUBLE) /
      |        (CAST(sum(c) AS DOUBLE) / count(*)), 6) AS skew_factor
      |FROM k""".stripMargin

  // ---------------------------------------------------------------
  // q_time_peaks — local-maximum peak detection on the daily series.
  // ---------------------------------------------------------------

  /** Peak detection over daily revenue: a day is a PEAK when it
    * strictly exceeds both neighbors AND its revenue is ≥ 1.02× the
    * trailing-7-day median — the alerting primitive behind
    * [[Insights.qDqAnomaly]]'s z-screen, in robust (median) form
    * (1.02 keeps the peak set non-empty at every shipped scale; the
    * threshold is the tuning knob). The 1.02× test multiplies exact
    * integer cents by 100 against median×102 so both sides stay exact
    * (the median is at worst a half-cent, ×102 an exact multiple of
    * 51); neighbors via lag/lead are exact integers. No FP comparison
    * anywhere — the ratio column is round-6 display only.
    *
    * At 100 TB: the firehose collapses to the day grain first; all
    * windows run over that bounded series.
    */
  val qTimePeaks: Q = (s, d) => {
    val wOrd = Window.orderBy("day")
    val w7 = wOrd.rowsBetween(-6, 0)
    Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100)
        .cast("long").as("cents"))
      .withColumn("prev", lag(col("cents"), 1).over(wOrd))
      .withColumn("next", lead(col("cents"), 1).over(wOrd))
      .withColumn("med7", expr("percentile(cents, 0.5)").over(w7))
      .where(col("prev").isNotNull && col("next").isNotNull &&
        col("cents") > col("prev") && col("cents") > col("next") &&
        col("cents").cast("double") * 100.0 >= col("med7") * 102.0)
      .select(col("day"),
        round(col("cents").cast("double") / 100.0, 2).as("revenue"),
        round(col("cents").cast("double") / col("med7"), 6)
          .as("vs_med7"))
      .orderBy("day")
  }

  val qTimePeaksSql: String =
    """WITH daily AS (
      |  SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
      |      AS cents
      |  FROM events GROUP BY 1),
      |w AS (
      |  SELECT day, cents,
      |    lag(cents, 1) OVER (ORDER BY day) AS prev,
      |    lead(cents, 1) OVER (ORDER BY day) AS next,
      |    quantile_cont(cents, 0.5) OVER (ORDER BY day
      |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med7
      |  FROM daily)
      |SELECT CAST(day AS TIMESTAMP) AS day,
      |  ROUND(CAST(cents AS DOUBLE) / 100.0, 2) AS revenue,
      |  ROUND(CAST(cents AS DOUBLE) / med7, 6) AS vs_med7
      |FROM w
      |WHERE prev IS NOT NULL AND next IS NOT NULL
      |  AND cents > prev AND cents > next
      |  AND CAST(cents AS DOUBLE) * 100.0 >= med7 * 102.0
      |ORDER BY day""".stripMargin

  // ---------------------------------------------------------------
  // q_stats_simpson — stratification-reversal (Simpson) screen.
  // ---------------------------------------------------------------

  /** Simpson's-paradox screen: does the purchase-rate difference
    * between two user cohorts (even/odd user id) REVERSE inside any
    * event-type stratum relative to the overall difference? Emits the
    * overall row plus one row per stratum with both cohorts' exact
    * counts, the round-6 rate difference, and the reversal flag — the
    * aggregation-bias audit run before trusting any cohort metric.
    * All decisions compare integer cross-products (x1·n2 vs x2·n1),
    * never floats, so the flag cannot wobble.
    *
    * At 100 TB: one conditional aggregate to |types|+1 rows.
    */
  val qStatsSimpson: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("event_type"),
        (pmod(col("user_id"), lit(2)) === 0).as("cohort_a"),
        (col("event_type") === "purchase").as("hit"))
    def cells(g: org.apache.spark.sql.RelationalGroupedDataset) = g.agg(
      sum(when(col("cohort_a"), 1L).otherwise(0L)).as("n1"),
      sum(when(col("cohort_a") && col("hit"), 1L).otherwise(0L)).as("x1"),
      sum(when(!col("cohort_a"), 1L).otherwise(0L)).as("n2"),
      sum(when(!col("cohort_a") && col("hit"), 1L).otherwise(0L)).as("x2"))
    val overall = cells(ev.groupBy())
      .select(lit("ALL").as("stratum"), col("n1"), col("x1"),
        col("n2"), col("x2"))
    val strata = cells(ev.groupBy(col("event_type")))
      .select(col("event_type").as("stratum"), col("n1"), col("x1"),
        col("n2"), col("x2"))
    val all = overall.unionByName(strata)
    val sign = col("x1") * col("n2") - col("x2") * col("n1")
    val ovSign = all.where(col("stratum") === "ALL")
      .select(sign.as("ov_sign"))
    all.crossJoin(broadcast(ovSign))
      .select(col("stratum"), col("n1"), col("x1"), col("n2"), col("x2"),
        round(col("x1").cast("double") / col("n1") -
              col("x2").cast("double") / col("n2"), 6).as("rate_diff"),
        (sign * col("ov_sign") < 0).as("reversed"))
      .orderBy("stratum")
  }

  val qStatsSimpsonSql: String =
    """WITH ev AS (
      |  SELECT event_type, user_id % 2 = 0 AS cohort_a,
      |    event_type = 'purchase' AS hit
      |  FROM events),
      |cells AS (
      |  SELECT 'ALL' AS stratum,
      |    CAST(sum(CASE WHEN cohort_a THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(sum(CASE WHEN cohort_a AND hit THEN 1 ELSE 0 END)
      |      AS BIGINT) AS x1,
      |    CAST(sum(CASE WHEN NOT cohort_a THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n2,
      |    CAST(sum(CASE WHEN NOT cohort_a AND hit THEN 1 ELSE 0 END)
      |      AS BIGINT) AS x2
      |  FROM ev
      |  UNION ALL
      |  SELECT event_type AS stratum,
      |    CAST(sum(CASE WHEN cohort_a THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(sum(CASE WHEN cohort_a AND hit THEN 1 ELSE 0 END)
      |      AS BIGINT),
      |    CAST(sum(CASE WHEN NOT cohort_a THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(sum(CASE WHEN NOT cohort_a AND hit THEN 1 ELSE 0 END)
      |      AS BIGINT)
      |  FROM ev GROUP BY event_type),
      |ov AS (
      |  SELECT x1 * n2 - x2 * n1 AS ov_sign FROM cells
      |  WHERE stratum = 'ALL')
      |SELECT stratum, n1, x1, n2, x2,
      |  ROUND(CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2, 6)
      |    AS rate_diff,
      |  (x1 * n2 - x2 * n1) * ov_sign < 0 AS reversed
      |FROM cells, ov ORDER BY stratum""".stripMargin

  // ---------------------------------------------------------------
  // q_stats_effect — Cohen's d and Cliff's delta effect sizes.
  // ---------------------------------------------------------------

  /** Effect sizes between the `click` and `view` value distributions:
    * Cohen's d (standardized mean difference, from exact decimal
    * moment sums) and Cliff's delta (the ordinal P(x>y) − P(x<y),
    * derived from the same grouped-value-domain rank machinery as
    * [[Insights.qStatsMannWhitney]]) — the "how big, not just how
    * significant" companions to the repo's test battery. All rank
    * inputs are exact integers/dyadic halves; d's algebra runs over
    * exact decimal sums; two round-6 outputs.
    *
    * At 100 TB: one combiner-collapsed aggregate to the ≤ |distinct
    * values| domain, one window over that bounded table, one reduce.
    */
  val qStatsEffect: Q = (s, d) => {
    val g = Tables.events(s, d)
      .where(col("event_type").isin("click", "view"))
      .groupBy(col("value").cast(DecimalType(18, 2)).as("v"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("d1"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("d2"),
        sum(when(col("event_type") === "click",
          col("value").cast(DecimalType(18, 2))).otherwise(lit(0)))
          .as("s1"),
        sum(when(col("event_type") === "view",
          col("value").cast(DecimalType(18, 2))).otherwise(lit(0)))
          .as("s2"),
        sum(when(col("event_type") === "click",
          (col("value").cast(DecimalType(18, 2)) *
           col("value").cast(DecimalType(18, 2)))
            .cast(DecimalType(28, 4))).otherwise(lit(0))).as("ss1"),
        sum(when(col("event_type") === "view",
          (col("value").cast(DecimalType(18, 2)) *
           col("value").cast(DecimalType(18, 2)))
            .cast(DecimalType(28, 4))).otherwise(lit(0))).as("ss2"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = g.withColumn("below2",
      coalesce(sum("d2").over(w), lit(0L)))
    val a = ranked.agg(
      sum("d1").as("n1"), sum("d2").as("n2"),
      sum("s1").as("s1"), sum("s2").as("s2"),
      sum("ss1").as("ss1"), sum("ss2").as("ss2"),
      // 2·U1 = Σ d1·(2·views_below + views_tied) — stays integral
      sum(col("d1") * (col("below2") * 2 + col("d2"))).as("u1x2"))
    val n1 = col("n1").cast("double"); val n2 = col("n2").cast("double")
    val m1 = col("s1").cast("double") / n1
    val m2 = col("s2").cast("double") / n2
    val var1 = (col("ss1").cast("double") - n1 * m1 * m1) / (n1 - 1)
    val var2 = (col("ss2").cast("double") - n2 * m2 * m2) / (n2 - 1)
    val pooled = sqrt(((n1 - 1) * var1 + (n2 - 1) * var2) / (n1 + n2 - 2))
    a.select(col("n1"), col("n2"),
      round((m1 - m2) / pooled, 6).as("cohens_d"),
      round(col("u1x2").cast("double") / (n1 * n2) - 1.0, 6)
        .as("cliffs_delta"))
  }

  val qStatsEffectSql: String =
    """WITH g AS (
      |  SELECT CAST(value AS DECIMAL(18,2)) AS v,
      |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS d1,
      |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS d2,
      |    sum(CASE WHEN event_type = 'click'
      |        THEN CAST(value AS DECIMAL(18,2)) ELSE 0 END) AS s1,
      |    sum(CASE WHEN event_type = 'view'
      |        THEN CAST(value AS DECIMAL(18,2)) ELSE 0 END) AS s2,
      |    sum(CASE WHEN event_type = 'click'
      |        THEN CAST(CAST(value AS DECIMAL(18,2)) *
      |                  CAST(value AS DECIMAL(18,2)) AS DECIMAL(28,4))
      |        ELSE 0 END) AS ss1,
      |    sum(CASE WHEN event_type = 'view'
      |        THEN CAST(CAST(value AS DECIMAL(18,2)) *
      |                  CAST(value AS DECIMAL(18,2)) AS DECIMAL(28,4))
      |        ELSE 0 END) AS ss2
      |  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1
      |), r AS (
      |  SELECT *, coalesce(CAST(sum(d2) OVER (ORDER BY v
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
      |    0) AS below2
      |  FROM g
      |), a AS (
      |  SELECT CAST(sum(d1) AS BIGINT) AS n1,
      |    CAST(sum(d2) AS BIGINT) AS n2,
      |    sum(s1) AS s1, sum(s2) AS s2, sum(ss1) AS ss1, sum(ss2) AS ss2,
      |    CAST(sum(d1 * (below2 * 2 + d2)) AS BIGINT) AS u1x2
      |  FROM r
      |), c AS (
      |  SELECT n1, n2, u1x2,
      |    CAST(n1 AS DOUBLE) AS n1d, CAST(n2 AS DOUBLE) AS n2d,
      |    CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
      |    CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
      |    CAST(ss1 AS DOUBLE) AS ss1d, CAST(ss2 AS DOUBLE) AS ss2d
      |  FROM a)
      |SELECT n1, n2,
      |  ROUND((m1 - m2) /
      |    sqrt(((n1d - 1) * ((ss1d - n1d * m1 * m1) / (n1d - 1))
      |          + (n2d - 1) * ((ss2d - n2d * m2 * m2) / (n2d - 1)))
      |         / (n1d + n2d - 2)), 6) AS cohens_d,
      |  ROUND(CAST(u1x2 AS DOUBLE) / (n1d * n2d) - 1.0, 6)
      |    AS cliffs_delta
      |FROM c""".stripMargin

  // ---------------------------------------------------------------
  // q_profile_freq — top-k frequent values per column.
  // ---------------------------------------------------------------

  /** Top-3 most frequent values per categorical column of `orders` —
    * the frequent-values half of a data profile (the moments half is
    * [[Insights]]' column profiler). The column stack is built
    * map-side (explode of a literal struct array — no UNPIVOT shuffle),
    * then one combining count per (column, value) and a top-3 window
    * per column with (count desc, value asc) total order.
    *
    * At 100 TB: |columns| × |distinct| aggregate rows; the rank window
    * partitions per column over those aggregates only.
    */
  val qProfileFreq: Q = (s, d) => {
    val stacked = Tables.orders(s, d)
      .select(explode(array(
        struct(lit("o_orderstatus").as("column"),
          col("o_orderstatus").cast("string").as("value")),
        struct(lit("o_orderpriority").as("column"),
          col("o_orderpriority").cast("string").as("value")),
        struct(lit("order_year").as("column"),
          year(col("o_orderdate")).cast("string").as("value"))))
        .as("cv"))
      .select(col("cv.column").as("column"), col("cv.value").as("value"))
    val counts = stacked.groupBy("column", "value")
      .agg(count(lit(1)).as("n"))
    val wRank = Window.partitionBy("column")
      .orderBy(col("n").desc, col("value").asc)
    counts.withColumn("rank", row_number().over(wRank))
      .where(col("rank") <= 3)
      .orderBy("column", "rank")
  }

  val qProfileFreqSql: String =
    """WITH stacked AS (
      |  SELECT 'o_orderstatus' AS "column",
      |         CAST(o_orderstatus AS VARCHAR) AS "value"
      |  FROM orders
      |  UNION ALL
      |  SELECT 'o_orderpriority', CAST(o_orderpriority AS VARCHAR)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'order_year',
      |         CAST(CAST(year(CAST(o_orderdate AS DATE)) AS INT)
      |           AS VARCHAR)
      |  FROM orders),
      |counts AS (
      |  SELECT "column", "value", count(*) AS n
      |  FROM stacked GROUP BY 1, 2),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY "column"
      |    ORDER BY n DESC, "value" ASC) AS rank
      |  FROM counts)
      |SELECT "column", "value", n, rank FROM ranked
      |WHERE rank <= 3 ORDER BY "column", rank""".stripMargin

  // ---------------------------------------------------------------
  // q_sample_neyman — optimal (Neyman) stratified allocation.
  // ---------------------------------------------------------------

  /** Neyman-allocated stratified sample of orders: 1 000 samples
    * distributed across priority strata ∝ N_h·σ_h (high-variance
    * strata get proportionally more), with the leftover seats assigned
    * by largest remainder, then per-stratum selection by md5 hash
    * order (the [[qSampleConsistent]] determinism rule — same sample
    * every engine, every run). σ_h comes from exact decimal moments;
    * the allocation quotients are identical doubles in both engines
    * (exact integer/decimal inputs, one sqrt), and remainder ties
    * break on the stratum name.
    *
    * At 100 TB: moments are one combining aggregate; the selection
    * window sorts only within strata and is bounded by the allocation
    * (a threshold-on-hash two-pass replaces the rank window when
    * strata are huge — documented trade).
    */
  val qSampleNeyman: Q = (s, d) => {
    val total = 1000L
    val cents = (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
      .cast("long")
    val base = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority").as("stratum"),
        cents.as("v"))
    val m = base.groupBy("stratum").agg(
      count(lit(1)).as("nh"),
      sum(col("v")).as("sv"),
      sum((col("v").cast(DecimalType(19, 0)) *
           col("v").cast(DecimalType(19, 0))).cast(DecimalType(38, 0)))
        .as("svv"))
    val nh = col("nh").cast("double")
    val sd = sqrt((col("svv").cast("double") -
      col("sv").cast("double") * col("sv").cast("double") / nh) /
      (nh - 1))
    val weighted = m.withColumn("w", nh * sd)
    val wSum = Window.partitionBy()
    val alloc = weighted
      .withColumn("share", col("w") * total / sum(col("w")).over(wSum))
      .withColumn("base_n", floor(col("share")).cast("long"))
      .withColumn("rem", col("share") - col("base_n"))
      .withColumn("leftover",
        (lit(total) - sum(col("base_n")).over(wSum)).cast("long"))
      .withColumn("rrank", row_number().over(
        Window.orderBy(col("rem").desc, col("stratum").asc)))
      .withColumn("n_alloc",
        col("base_n") + when(col("rrank") <= col("leftover"), 1L)
          .otherwise(0L))
      .select(col("stratum"), col("nh"), col("n_alloc"))
    val picked = base.join(broadcast(alloc), "stratum")
      .withColumn("hk", md5(col("o_orderkey").cast("string")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("stratum")
          .orderBy(col("hk").asc, col("o_orderkey").asc)))
      .where(col("rn") <= col("n_alloc"))
    picked.groupBy("stratum")
      .agg(max(col("nh")).as("n_stratum"),
        count(lit(1)).as("n_sampled"),
        round(sum(col("v")).cast("double") / count(lit(1)) / 100.0, 4)
          .as("sample_mean"))
      .orderBy("stratum")
  }

  val qSampleNeymanSql: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_orderpriority AS stratum,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM orders),
      |m AS (
      |  SELECT stratum, count(*) AS nh,
      |    CAST(sum(v) AS BIGINT) AS sv,
      |    sum(CAST(CAST(v AS DECIMAL(19,0)) * CAST(v AS DECIMAL(19,0))
      |        AS DECIMAL(38,0))) AS svv
      |  FROM base GROUP BY 1),
      |w AS (
      |  SELECT stratum, nh,
      |    CAST(nh AS DOUBLE) *
      |    sqrt((CAST(svv AS DOUBLE)
      |          - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)
      |            / CAST(nh AS DOUBLE))
      |         / (CAST(nh AS DOUBLE) - 1)) AS wgt
      |  FROM m),
      |a AS (
      |  SELECT stratum, nh,
      |    wgt * 1000 / sum(wgt) OVER () AS share
      |  FROM w),
      |b AS (
      |  SELECT stratum, nh,
      |    CAST(floor(share) AS BIGINT) AS base_n,
      |    share - floor(share) AS rem,
      |    1000 - CAST(sum(floor(share)) OVER () AS BIGINT) AS leftover,
      |    row_number() OVER (ORDER BY share - floor(share) DESC,
      |                       stratum ASC) AS rrank
      |  FROM a),
      |alloc AS (
      |  SELECT stratum, nh,
      |    base_n + CASE WHEN rrank <= leftover THEN 1 ELSE 0 END
      |      AS n_alloc
      |  FROM b),
      |picked AS (
      |  SELECT base.stratum, v, nh, n_alloc,
      |    row_number() OVER (PARTITION BY base.stratum
      |      ORDER BY md5(CAST(o_orderkey AS VARCHAR)) ASC,
      |               o_orderkey ASC) AS rn
      |  FROM base JOIN alloc USING (stratum))
      |SELECT stratum, max(nh) AS n_stratum, count(*) AS n_sampled,
      |  ROUND(CAST(sum(v) AS DOUBLE) / count(*) / 100.0, 4)
      |    AS sample_mean
      |FROM picked WHERE rn <= n_alloc
      |GROUP BY 1 ORDER BY stratum""".stripMargin

  // ---------------------------------------------------------------
  // q_rank_rbo — rank-biased overlap between two revenue rankings.
  // ---------------------------------------------------------------

  /** Rank-biased overlap (RBO, p = 0.9, truncated at k = 20) between
    * the part-revenue rankings of 1995's first and second halves — the
    * top-weighted "did the leaderboard change?" metric that plain
    * set-overlap misses. Revenue is an exact decimal
    * Σ extendedprice·(1−discount); each list orders by (revenue desc,
    * partkey asc), a total order. A shared part with ranks (ra, rb)
    * joins every prefix depth d ≥ max(ra, rb), so the per-depth
    * overlap X_d is one integer count; each depth term
    * (1−p)·p^(d−1)·X_d/d rounds to 6 dp into an exact DECIMAL sum (the
    * PSI discipline — `pow`'s ≤1 ulp sits far below the round).
    *
    * At 100 TB the two rankings are TakeOrdered-k results (k = 20),
    * so the RBO math runs on ≤ 2k rows regardless of corpus size.
    */
  val qRankRbo: Q = (s, d) => {
    val k = 20
    val li = Tables.lineitem(s, d)
      .where(year(col("l_shipdate")) === 1995)
      .select(col("l_partkey"),
        month(col("l_shipdate")).as("m"),
        (col("l_extendedprice").cast(DecimalType(18, 2)) *
         (lit(1).cast(DecimalType(18, 2)) -
          col("l_discount").cast(DecimalType(18, 2))))
          .cast(DecimalType(28, 4)).as("rev"))
    def topk(half: org.apache.spark.sql.Column, name: String) = {
      val w = Window.orderBy(col("rev").desc, col("l_partkey").asc)
      li.where(half).groupBy("l_partkey")
        .agg(sum(col("rev")).as("rev"))
        .withColumn(name, row_number().over(w))
        .where(col(name) <= k)
        .select(col("l_partkey"), col(name))
    }
    val a = topk(col("m") <= 6, "ra")
    val b = topk(col("m") > 6, "rb")
    val shared = a.join(b, "l_partkey")
      .select(greatest(col("ra"), col("rb")).as("dmin"))
    val depths = Tables.nation(s, d) // any 25-row table beats a range()
      .select((col("n_nationkey") + 1).cast("int").as("depth"))
      .where(col("depth") <= k)
    depths.join(broadcast(shared), col("dmin") <= col("depth"), "left")
      .groupBy("depth")
      .agg(sum(when(col("dmin").isNotNull, 1L).otherwise(0L)).as("xd"))
      .agg(
        lit(k).as("k"),
        max(when(col("depth") === k, col("xd"))).as("overlap_at_k"),
        sum(round(lit(0.1) * pow(lit(0.9), col("depth") - 1) *
          col("xd") / col("depth"), 6).cast(DecimalType(18, 6)))
          .cast("double").as("rbo_min"))
  }

  val qRankRboSql: String =
    """WITH li AS (
      |  SELECT l_partkey, month(CAST(l_shipdate AS DATE)) AS m,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |         (1 - CAST(l_discount AS DECIMAL(18,2)))
      |      AS DECIMAL(28,4)) AS rev
      |  FROM lineitem WHERE year(CAST(l_shipdate AS DATE)) = 1995),
      |a AS (
      |  SELECT l_partkey, row_number() OVER (ORDER BY sum(rev) DESC,
      |    l_partkey ASC) AS ra
      |  FROM li WHERE m <= 6 GROUP BY l_partkey
      |  ORDER BY sum(rev) DESC, l_partkey ASC LIMIT 20),
      |b AS (
      |  SELECT l_partkey, row_number() OVER (ORDER BY sum(rev) DESC,
      |    l_partkey ASC) AS rb
      |  FROM li WHERE m > 6 GROUP BY l_partkey
      |  ORDER BY sum(rev) DESC, l_partkey ASC LIMIT 20),
      |shared AS (
      |  SELECT greatest(ra, rb) AS dmin FROM a JOIN b USING (l_partkey)),
      |xd AS (
      |  SELECT d.depth,
      |    CAST(sum(CASE WHEN s.dmin IS NOT NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS xd
      |  FROM (SELECT unnest(generate_series(1, 20)) AS depth) d
      |  LEFT JOIN shared s ON s.dmin <= d.depth
      |  GROUP BY 1)
      |SELECT 20 AS k,
      |  max(CASE WHEN depth = 20 THEN xd END) AS overlap_at_k,
      |  CAST(sum(CAST(ROUND(0.1 * power(0.9, depth - 1) * xd / depth, 6)
      |    AS DECIMAL(18,6))) AS DOUBLE) AS rbo_min
      |FROM xd""".stripMargin

  // ---------------------------------------------------------------
  // q_text_repetition — intra-document repetition signals.
  // ---------------------------------------------------------------

  /** Intra-document repetition profile per language — the
    * Gopher-style "repetitious text" screens a curation pass filters
    * on: the duplicate-3-gram fraction (1 − distinct/total sliding
    * 3-grams) and the top-token share (most frequent token / doc
    * length), averaged per language with a flagged-document count.
    * Both signals are ROW-LOCAL array expressions (no explode, no
    * shuffle until the |langs|-row rollup); each per-doc ratio rounds
    * to 6 dp and the averages sum those rounded decimals, so the
    * aggregate is order-free in both engines.
    *
    * At 100 TB: pure map-side scoring — the codegen'd array kernels
    * run inside the scan stage; only ≤ |langs| rows move.
    */
  val qTextRepetition: Q = (s, d) => {
    val toks = filter(split(col("text"), " "), t => t =!= "")
    val dl = size(col("toks"))
    val grams = transform(sequence(lit(0), dl - 3),
      i => concat_ws(" ", col("toks")(i), col("toks")(i + 1),
        col("toks")(i + 2)))
    val rep3 = round(lit(1.0) -
      size(array_distinct(col("grams"))).cast("double") /
      size(col("grams")).cast("double"), 6)
    val topShare = round(
      array_max(transform(array_distinct(col("toks")),
        t => size(filter(col("toks"), x => x === t)))).cast("double") /
      dl.cast("double"), 6)
    Tables.documents(s, d)
      .select(col("lang"), toks.as("toks"))
      .where(size(col("toks")) >= 3)
      .withColumn("grams", grams)
      .select(col("lang"), rep3.as("rep3"), topShare.as("top_share"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("rep3").cast(DecimalType(18, 6))).cast("double") /
          count(lit(1)), 6).as("avg_rep3"),
        round(sum(col("top_share").cast(DecimalType(18, 6)))
          .cast("double") / count(lit(1)), 6).as("avg_top_share"),
        sum(when(col("rep3") > 0.2 || col("top_share") > 0.1, 1L)
          .otherwise(0L)).as("n_flagged"))
      .orderBy("lang")
  }

  val qTextRepetitionSql: String =
    """WITH toks AS (
      |  SELECT lang,
      |    list_filter(string_split(text, ' '), t -> length(t) > 0) AS ts
      |  FROM documents),
      |g AS (
      |  SELECT lang,
      |    list_transform(generate_series(1, len(ts) - 2),
      |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) AS grams,
      |    ts
      |  FROM toks WHERE len(ts) >= 3),
      |r AS (
      |  SELECT lang,
      |    ROUND(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
      |                / len(grams), 6) AS rep3,
      |    ROUND(CAST(list_max(list_transform(list_distinct(ts),
      |        t -> len(list_filter(ts, x -> x = t)))) AS DOUBLE)
      |      / len(ts), 6) AS top_share
      |  FROM g)
      |SELECT lang, count(*) AS n_docs,
      |  ROUND(CAST(sum(CAST(rep3 AS DECIMAL(18,6))) AS DOUBLE)
      |        / count(*), 6) AS avg_rep3,
      |  ROUND(CAST(sum(CAST(top_share AS DECIMAL(18,6))) AS DOUBLE)
      |        / count(*), 6) AS avg_top_share,
      |  CAST(sum(CASE WHEN rep3 > 0.2 OR top_share > 0.1
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
      |FROM r GROUP BY 1 ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------
  // q_stats_runs — Wald–Wolfowitz runs test on daily movements.
  // ---------------------------------------------------------------

  /** Wald–Wolfowitz runs test on the up/down sequence of daily
    * revenue — "is the series random, trending, or mean-reverting?"
    * (too few runs → momentum; too many → oscillation), rounding out
    * the time-series test battery. Signs come from exact integer-cent
    * differences (zeros dropped, the standard treatment); the run
    * count is one lag comparison; μ, σ, z are closed-form doubles over
    * exact integers, round-6.
    *
    * At 100 TB: day-grain collapse first; the sign/lag machinery runs
    * on the bounded series.
    */
  val qStatsRuns: Q = (s, d) => {
    val wOrd = Window.orderBy("day")
    val signs = Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100)
        .cast("long").as("cents"))
      .withColumn("diff", col("cents") - lag(col("cents"), 1).over(wOrd))
      .where(col("diff").isNotNull && col("diff") =!= 0)
      .withColumn("sgn", when(col("diff") > 0, 1L).otherwise(-1L))
      .withColumn("chg",
        when(lag(col("sgn"), 1).over(wOrd).isNull ||
          lag(col("sgn"), 1).over(wOrd) =!= col("sgn"), 1L)
          .otherwise(0L))
    val a = signs.agg(
      sum(when(col("sgn") === 1, 1L).otherwise(0L)).as("n_up"),
      sum(when(col("sgn") === -1, 1L).otherwise(0L)).as("n_down"),
      sum(col("chg")).as("runs"))
    val n1 = col("n_up").cast("double"); val n2 = col("n_down").cast("double")
    val mu = lit(2.0) * n1 * n2 / (n1 + n2) + 1.0
    val sig = sqrt(lit(2.0) * n1 * n2 *
      (lit(2.0) * n1 * n2 - n1 - n2) /
      ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1)))
    a.select(col("n_up"), col("n_down"), col("runs"),
      round(mu, 6).as("expected_runs"),
      round((col("runs").cast("double") - mu) / sig, 6).as("z"))
  }

  val qStatsRunsSql: String =
    """WITH daily AS (
      |  SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
      |      AS cents
      |  FROM events GROUP BY 1),
      |dd AS (
      |  SELECT day, cents - lag(cents) OVER (ORDER BY day) AS diff
      |  FROM daily),
      |sg AS (
      |  SELECT day, CASE WHEN diff > 0 THEN 1 ELSE -1 END AS sgn
      |  FROM dd WHERE diff IS NOT NULL AND diff <> 0),
      |ch AS (
      |  SELECT sgn, CASE WHEN lag(sgn) OVER (ORDER BY day) IS NULL
      |                     OR lag(sgn) OVER (ORDER BY day) <> sgn
      |                   THEN 1 ELSE 0 END AS chg
      |  FROM sg),
      |a AS (
      |  SELECT CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_up,
      |    CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_down,
      |    CAST(sum(chg) AS BIGINT) AS runs
      |  FROM ch),
      |c AS (
      |  SELECT n_up, n_down, runs,
      |    CAST(n_up AS DOUBLE) AS n1, CAST(n_down AS DOUBLE) AS n2
      |  FROM a)
      |SELECT n_up, n_down, runs,
      |  ROUND(2.0 * n1 * n2 / (n1 + n2) + 1.0, 6) AS expected_runs,
      |  ROUND((CAST(runs AS DOUBLE) - (2.0 * n1 * n2 / (n1 + n2) + 1.0))
      |        / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
      |               / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1))), 6) AS z
      |FROM c""".stripMargin

  // ---------------------------------------------------------------
  // q_text_udiv — unigram KL divergence of each doc vs the corpus.
  // ---------------------------------------------------------------

  /** Per-document unigram KL divergence against the corpus
    * distribution, averaged per language — the CCNet-style "does this
    * document look like the corpus?" filter signal (high KL = jargon /
    * boilerplate / wrong-language). Corpus token counts are one tiny
    * aggregate joined broadcast; each doc's KL is
    * Σ_t p_doc·ln(p_doc/p_corpus) over its own tokens with every term
    * rounded to 6 dp into a DECIMAL sum (PSI discipline), and the
    * per-language average sums those rounded per-doc KLs the same way.
    * All probabilities are ratios of exact integer counts written as
    * (c_doc·N_corpus)/(dl·c_corpus) — identical trees in both engines.
    *
    * At 100 TB: the corpus distribution is a combiner-collapsed
    * |vocab|-row broadcast; the per-doc pass is one explode + local
    * re-aggregation keyed by doc (the token stream never joins
    * anything bigger than the broadcast).
    */
  val qTextUdiv: Q = (s, d) => {
    val toks = filter(split(col("text"), " "), t => t =!= "")
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), explode(toks).as("tok"))
    val corpus = base.groupBy("tok").agg(count(lit(1)).as("ct"))
    val nCorpus = base.agg(count(lit(1))).first().getLong(0)
    val docTok = base.groupBy("doc_id", "lang", "tok")
      .agg(count(lit(1)).as("cd"))
    val dl = Window.partitionBy("doc_id")
    val kl = docTok
      .withColumn("dlen", sum(col("cd")).over(dl))
      .join(broadcast(corpus), "tok")
      .groupBy("doc_id", "lang")
      .agg(sum(round((col("cd") / col("dlen")) *
        log((col("cd") * lit(nCorpus)).cast("double") /
            (col("dlen") * col("ct")).cast("double")), 6)
        .cast(DecimalType(18, 6))).as("kl"))
    kl.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("kl")).cast("double") / count(lit(1)), 6)
          .as("avg_kl"),
        round(max(col("kl")).cast("double"), 6).as("max_kl"))
      .orderBy("lang")
  }

  val qTextUdivSql: String =
    """WITH base AS (
      |  SELECT doc_id, lang,
      |    unnest(list_filter(string_split(text, ' '),
      |      t -> length(t) > 0)) AS tok
      |  FROM documents),
      |corpus AS (SELECT tok, count(*) AS ct FROM base GROUP BY 1),
      |nc AS (SELECT count(*) AS n FROM base),
      |dt AS (
      |  SELECT doc_id, lang, tok, count(*) AS cd
      |  FROM base GROUP BY 1, 2, 3),
      |dl AS (
      |  SELECT *, CAST(sum(cd) OVER (PARTITION BY doc_id) AS BIGINT)
      |    AS dlen
      |  FROM dt),
      |kl AS (
      |  SELECT doc_id, lang,
      |    sum(CAST(ROUND((cd / CAST(dlen AS DOUBLE)) *
      |      ln(CAST(cd * nc.n AS DOUBLE) / CAST(dlen * ct AS DOUBLE)),
      |      6) AS DECIMAL(18,6))) AS kl
      |  FROM dl JOIN corpus USING (tok), nc
      |  GROUP BY 1, 2)
      |SELECT lang, count(*) AS n_docs,
      |  ROUND(CAST(sum(kl) AS DOUBLE) / count(*), 6) AS avg_kl,
      |  ROUND(CAST(max(kl) AS DOUBLE), 6) AS max_kl
      |FROM kl GROUP BY 1 ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------
  // q_eval_lift — decile gains/lift chart for a score column.
  // ---------------------------------------------------------------

  /** Decile gains chart: rank users by their total event value
    * (the "model score"), cut into deciles, and report each decile's
    * purchaser rate plus cumulative lift over the base rate — THE
    * model-evaluation table for any ranking/propensity score. Deciles
    * come from ntile(10) over the total (value desc, user_id asc)
    * order — deterministic in both engines; rates and lifts are
    * round-6 ratios of exact integer counts (cumulative sums over the
    * 10-row decile table).
    *
    * At 100 TB: one combining aggregate to |users|, one global ntile
    * window over the aggregate (the documented exact-decile contract;
    * the sketch-based approximate cut is the scale path), then 10-row
    * math.
    */
  val qEvalLift: Q = (s, d) => {
    val users = Tables.events(s, d)
      .groupBy("user_id")
      .agg(sum(col("value").cast(DecimalType(18, 2))).as("score"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("purchaser"))
    val cut = users.withColumn("decile",
      ntile(10).over(Window.orderBy(col("score").desc,
        col("user_id").asc)))
    val byDecile = cut.groupBy("decile")
      .agg(count(lit(1)).as("n_users"),
        sum(col("purchaser")).as("n_purchasers"))
    val wCum = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    byDecile
      .withColumn("cum_u", sum(col("n_users")).over(wCum))
      .withColumn("cum_p", sum(col("n_purchasers")).over(wCum))
      .withColumn("tot_u", sum(col("n_users")).over(wAll))
      .withColumn("tot_p", sum(col("n_purchasers")).over(wAll))
      .select(col("decile"), col("n_users"), col("n_purchasers"),
        round(col("n_purchasers").cast("double") / col("n_users"), 6)
          .as("rate"),
        round((col("cum_p").cast("double") / col("cum_u")) /
          (col("tot_p").cast("double") / col("tot_u")), 6)
          .as("cum_lift"))
      .orderBy("decile")
  }

  val qEvalLiftSql: String =
    """WITH users AS (
      |  SELECT user_id,
      |    sum(CAST(value AS DECIMAL(18,2))) AS score,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS purchaser
      |  FROM events GROUP BY 1),
      |cut AS (
      |  SELECT *, ntile(10) OVER (ORDER BY score DESC, user_id ASC)
      |    AS decile
      |  FROM users),
      |bd AS (
      |  SELECT decile, count(*) AS n_users,
      |    CAST(sum(purchaser) AS BIGINT) AS n_purchasers
      |  FROM cut GROUP BY 1),
      |c AS (
      |  SELECT *,
      |    CAST(sum(n_users) OVER (ORDER BY decile
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_u,
      |    CAST(sum(n_purchasers) OVER (ORDER BY decile
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_p,
      |    CAST(sum(n_users) OVER () AS BIGINT) AS tot_u,
      |    CAST(sum(n_purchasers) OVER () AS BIGINT) AS tot_p
      |  FROM bd)
      |SELECT decile, n_users, n_purchasers,
      |  ROUND(CAST(n_purchasers AS DOUBLE) / n_users, 6) AS rate,
      |  ROUND((CAST(cum_p AS DOUBLE) / cum_u) /
      |        (CAST(tot_p AS DOUBLE) / tot_u), 6) AS cum_lift
      |FROM c ORDER BY decile""".stripMargin

  // ---------------------------------------------------------------
  // q_time_stl — classical seasonal decomposition (trend + weekday).
  // ---------------------------------------------------------------

  /** Classical decomposition of daily revenue: centered 7-day
    * moving-average trend, per-weekday seasonal index over the
    * detrended series, and the residual sd — the decomposition
    * [[Insights.qTimeSeasonality]]'s one-number seasonality score
    * summarizes. Exactness: the MA is rounded to a 4-dp DECIMAL (its
    * input sum is an exact integer, the ÷7 quotient is the same
    * double in both engines), so detrended values are EXACT decimals;
    * seasonal indices and the residual variance then run entirely in
    * decimal sums with one final quotient each. Weekday is Monday=0
    * in both engines (Spark `weekday`, DuckDB `isodow − 1`).
    *
    * At 100 TB: day-grain collapse first; every window runs over the
    * bounded day series.
    */
  val qTimeStl: Q = (s, d) => {
    val wOrd = Window.orderBy("day")
    val w7 = wOrd.rowsBetween(-3, 3)
    val detr = Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100)
        .cast("long").as("cents"))
      .withColumn("n7", count(lit(1)).over(w7))
      .withColumn("ma", round(sum(col("cents")).over(w7) / 7.0, 4)
        .cast(DecimalType(28, 4)))
      .where(col("n7") === 7) // centered window fully populated
      .select(weekday(col("day")).as("dow"),
        (col("cents").cast(DecimalType(28, 4)) - col("ma")).as("detr"))
    val seasonal = detr.groupBy("dow")
      .agg(count(lit(1)).as("n_days"),
        sum(col("detr")).as("sdetr"))
      .withColumn("seasonal",
        round(col("sdetr").cast("double") / col("n_days") / 100.0, 4)
          .cast(DecimalType(28, 4)))
    val resid = detr.join(broadcast(seasonal.select(col("dow"),
        (col("seasonal") * 100).as("s"))), "dow")
      .select((col("detr") - col("s")).cast(DecimalType(19, 4)).as("r"))
    val sd = resid.agg(
      round(sqrt((sum((col("r") * col("r")).cast(DecimalType(38, 8)))
        .cast("double") -
        sum(col("r")).cast("double") * sum(col("r")).cast("double") /
          count(lit(1))) / (count(lit(1)) - 1)) / 100.0, 4)
        .as("resid_sd"))
    seasonal.crossJoin(broadcast(sd))
      .select(col("dow"), col("n_days"),
        col("seasonal").cast("double").as("seasonal"),
        col("resid_sd"))
      .orderBy("dow")
  }

  val qTimeStlSql: String =
    """WITH daily AS (
      |  SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
      |      AS cents
      |  FROM events GROUP BY 1),
      |ma AS (
      |  SELECT day, cents,
      |    count(*) OVER w AS n7,
      |    CAST(ROUND(CAST(sum(cents) OVER w AS DOUBLE) / 7.0, 4)
      |      AS DECIMAL(28,4)) AS ma
      |  FROM daily
      |  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING
      |               AND 3 FOLLOWING)),
      |detr AS (
      |  SELECT isodow(day) - 1 AS dow,
      |    CAST(cents AS DECIMAL(28,4)) - ma AS detr
      |  FROM ma WHERE n7 = 7),
      |seasonal AS (
      |  SELECT dow, count(*) AS n_days, sum(detr) AS sdetr,
      |    CAST(ROUND(CAST(sum(detr) AS DOUBLE) / count(*) / 100.0, 4)
      |      AS DECIMAL(28,4)) AS seasonal
      |  FROM detr GROUP BY 1),
      |resid AS (
      |  SELECT CAST(detr.detr - seasonal.seasonal * 100
      |    AS DECIMAL(19,4)) AS r
      |  FROM detr JOIN seasonal USING (dow)),
      |sd AS (
      |  SELECT ROUND(sqrt((CAST(sum(CAST(r * r AS DECIMAL(38,8)))
      |      AS DOUBLE)
      |    - CAST(sum(r) AS DOUBLE) * CAST(sum(r) AS DOUBLE) / count(*))
      |    / (count(*) - 1)) / 100.0, 4) AS resid_sd
      |  FROM resid)
      |SELECT dow, n_days, CAST(seasonal AS DOUBLE) AS seasonal,
      |  resid_sd
      |FROM seasonal, sd ORDER BY dow""".stripMargin

  // ---------------------------------------------------------------
  // q_eval_auc — exact ROC AUC via the rank-sum identity.
  // ---------------------------------------------------------------

  /** Exact ROC AUC of the user-value score against the purchaser
    * label — AUC = P(score⁺ > score⁻) + ½P(tie), computed by the
    * rank-sum identity over the GROUPED score domain (the
    * [[Insights.qStatsMannWhitney]] machinery): with c⁻ negatives
    * below a score holding c⁺ positives, 2·U accumulates
    * c⁺·(2·below⁻ + tied⁻) — exact integers, so AUC is one round-6
    * division. No per-row sort, no sampling — the exact metric at any
    * scale.
    *
    * At 100 TB: one combining aggregate to the score domain, one
    * window over that bounded table, one reduce — the
    * q_stats_mannwhitney scale shape.
    */
  val qEvalAuc: Q = (s, d) => {
    val users = Tables.events(s, d)
      .groupBy("user_id")
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100)
        .cast("long").as("score"),
        count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("np"))
      .select(col("score"),
        when(col("np") * 5 > col("n"), 1L).otherwise(0L).as("label"))
    val g = users.groupBy("score")
      .agg(sum(when(col("label") === 1, 1L).otherwise(0L)).as("pos"),
        sum(when(col("label") === 0, 1L).otherwise(0L)).as("neg"))
    val w = Window.orderBy("score")
      .rowsBetween(Window.unboundedPreceding, -1)
    g.withColumn("negBelow", coalesce(sum("neg").over(w), lit(0L)))
      .agg(sum("pos").as("n_pos"), sum("neg").as("n_neg"),
        sum(col("pos") * (col("negBelow") * 2 + col("neg"))).as("u2"))
      .select(col("n_pos"), col("n_neg"),
        round(col("u2").cast("double") /
          (lit(2.0) * col("n_pos") * col("n_neg")), 6).as("auc"))
  }

  val qEvalAucSql: String =
    """WITH users AS (
      |  SELECT score,
      |    CASE WHEN np * 5 > n THEN 1 ELSE 0 END AS label
      |  FROM (
      |    SELECT user_id,
      |      CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
      |        AS score,
      |      count(*) AS n,
      |      sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |        AS np
      |    FROM events GROUP BY 1)),
      |g AS (
      |  SELECT score,
      |    CAST(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS pos,
      |    CAST(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS neg
      |  FROM users GROUP BY 1),
      |r AS (
      |  SELECT pos, neg,
      |    coalesce(CAST(sum(neg) OVER (ORDER BY score
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      AS BIGINT), 0) AS neg_below
      |  FROM g),
      |a AS (
      |  SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
      |    CAST(sum(neg) AS BIGINT) AS n_neg,
      |    CAST(sum(pos * (neg_below * 2 + neg)) AS BIGINT) AS u2
      |  FROM r)
      |SELECT n_pos, n_neg,
      |  ROUND(CAST(u2 AS DOUBLE) /
      |        (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6)
      |    AS auc
      |FROM a""".stripMargin

  // ---------------------------------------------------------------
  // q_eval_confusion — thresholded confusion matrix + odds ratio.
  // ---------------------------------------------------------------

  /** Confusion matrix of the "high-value user" rule (score above the
    * exact median) against the purchaser label, with precision,
    * recall, F1, and the odds ratio + its 95% log-normal CI — the
    * operating-point companion to [[qEvalAuc]]'s ranking view. The
    * threshold is the exact Type-7 median of integer scores (whole or
    * half, exact in double); the four cells are integer counts;
    * every derived metric is closed-form round-6 over them.
    *
    * At 100 TB: a user-grain aggregate, one percentile over it, one
    * conditional reduce.
    */
  val qEvalConfusion: Q = (s, d) => {
    val users = Tables.events(s, d)
      .groupBy("user_id")
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100)
        .cast("long").as("score"),
        count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("np"))
      .select(col("score"),
        when(col("np") * 5 > col("n"), 1L).otherwise(0L).as("label"))
      .localCheckpoint(true) // user-grain; feeds the threshold + cells
    val thr = users.agg(expr("percentile(score, 0.5)")).first().getDouble(0)
    val cells = users.agg(
      sum(when(col("score") > thr && col("label") === 1, 1L)
        .otherwise(0L)).as("tp"),
      sum(when(col("score") > thr && col("label") === 0, 1L)
        .otherwise(0L)).as("fp"),
      sum(when(col("score") <= thr && col("label") === 1, 1L)
        .otherwise(0L)).as("fn"),
      sum(when(col("score") <= thr && col("label") === 0, 1L)
        .otherwise(0L)).as("tn"))
    val (tp, fp, fn, tn) = (col("tp").cast("double"),
      col("fp").cast("double"), col("fn").cast("double"),
      col("tn").cast("double"))
    val prec = tp / (tp + fp)
    val rec = tp / (tp + fn)
    val orr = (tp * tn) / (fp * fn)
    val seLn = sqrt(lit(1.0) / tp + lit(1.0) / fp +
      lit(1.0) / fn + lit(1.0) / tn)
    cells.select(col("tp"), col("fp"), col("fn"), col("tn"),
      round(prec, 6).as("precision"),
      round(rec, 6).as("recall"),
      round(lit(2.0) * prec * rec / (prec + rec), 6).as("f1"),
      round(orr, 6).as("odds_ratio"),
      round(exp(log(orr) - lit(1.96) * seLn), 6).as("or_ci_lo"),
      round(exp(log(orr) + lit(1.96) * seLn), 6).as("or_ci_hi"))
  }

  val qEvalConfusionSql: String =
    """WITH users AS (
      |  SELECT score,
      |    CASE WHEN np * 5 > n THEN 1 ELSE 0 END AS label
      |  FROM (
      |    SELECT user_id,
      |      CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
      |        AS score,
      |      count(*) AS n,
      |      sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |        AS np
      |    FROM events GROUP BY 1)),
      |thr AS (SELECT quantile_cont(score, 0.5) AS t FROM users),
      |cells AS (
      |  SELECT
      |    CAST(sum(CASE WHEN score > t AND label = 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS tp,
      |    CAST(sum(CASE WHEN score > t AND label = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS fp,
      |    CAST(sum(CASE WHEN score <= t AND label = 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS fn,
      |    CAST(sum(CASE WHEN score <= t AND label = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS tn
      |  FROM users, thr),
      |c AS (
      |  SELECT tp, fp, fn, tn,
      |    CAST(tp AS DOUBLE) AS tpd, CAST(fp AS DOUBLE) AS fpd,
      |    CAST(fn AS DOUBLE) AS fnd, CAST(tn AS DOUBLE) AS tnd
      |  FROM cells)
      |SELECT tp, fp, fn, tn,
      |  ROUND(tpd / (tpd + fpd), 6) AS precision,
      |  ROUND(tpd / (tpd + fnd), 6) AS recall,
      |  ROUND(2.0 * (tpd / (tpd + fpd)) * (tpd / (tpd + fnd)) /
      |        ((tpd / (tpd + fpd)) + (tpd / (tpd + fnd))), 6) AS f1,
      |  ROUND((tpd * tnd) / (fpd * fnd), 6) AS odds_ratio,
      |  ROUND(exp(ln((tpd * tnd) / (fpd * fnd))
      |    - 1.96 * sqrt(1.0 / tpd + 1.0 / fpd + 1.0 / fnd + 1.0 / tnd)),
      |    6) AS or_ci_lo,
      |  ROUND(exp(ln((tpd * tnd) / (fpd * fnd))
      |    + 1.96 * sqrt(1.0 / tpd + 1.0 / fpd + 1.0 / fnd + 1.0 / tnd)),
      |    6) AS or_ci_hi
      |FROM c""".stripMargin

  // ---------------------------------------------------------------
  // q_olap_parent_share — hierarchical percent-of-parent rollup.
  // ---------------------------------------------------------------

  /** Percent-of-parent revenue report down the region → nation
    * hierarchy: each nation's share within its region and each
    * region's share of the world — the drill-down ratio readout BI
    * tools layer on every rollup. Revenue aggregates exactly in
    * DECIMAL; each share is one round-6 division of exact decimal
    * sums computed by windows OVER THE AGGREGATE (never the fact
    * table).
    *
    * At 100 TB: the orders→customer→nation joins broadcast the dims;
    * one combining aggregate to ≤ |nations| rows; both share windows
    * run on those rows.
    */
  val qOlapParentShare: Q = (s, d) => {
    val rev = Tables.orders(s, d)
      .join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
    val wRegion = Window.partitionBy("region")
    val wAll = Window.partitionBy()
    rev
      .withColumn("region_rev", sum(col("rev")).over(wRegion))
      .withColumn("world_rev", sum(col("rev")).over(wAll))
      .select(col("region"), col("nation"),
        col("rev").cast("double").as("revenue"),
        round(col("rev").cast("double") /
          col("region_rev").cast("double"), 6).as("share_of_region"),
        round(col("region_rev").cast("double") /
          col("world_rev").cast("double"), 6).as("region_share_of_world"))
      .orderBy("region", "nation")
  }

  val qOlapParentShareSql: String =
    """WITH rev AS (
      |  SELECT r.r_name AS region, n.n_name AS nation,
      |    sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders o
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  JOIN region r ON n.n_regionkey = r.r_regionkey
      |  GROUP BY 1, 2),
      |w AS (
      |  SELECT *, sum(rev) OVER (PARTITION BY region) AS region_rev,
      |    sum(rev) OVER () AS world_rev
      |  FROM rev)
      |SELECT region, nation, CAST(rev AS DOUBLE) AS revenue,
      |  ROUND(CAST(rev AS DOUBLE) / CAST(region_rev AS DOUBLE), 6)
      |    AS share_of_region,
      |  ROUND(CAST(region_rev AS DOUBLE) / CAST(world_rev AS DOUBLE), 6)
      |    AS region_share_of_world
      |FROM w ORDER BY region, nation""".stripMargin

  // ---------------------------------------------------------------
  // q_time_business_days — weekend-aware lead-time histogram.
  // ---------------------------------------------------------------

  /** Business-day (Mon–Fri) lead time from order to ship, as a
    * histogram — the calendar-aware SLA metric plain `datediff`
    * mis-states by up to 2/7. The count is pure integer arithmetic:
    * 5 per full week plus a per-remainder scan of at most 6 weekday
    * flags, built from the SAME Monday-0 weekday both engines expose
    * (Spark `weekday`, DuckDB `isodow − 1`) — no FP anywhere.
    *
    * At 100 TB: the lineitem→orders join shuffles on orderkey once
    * (or rides bucketing); the business-day expression is row-local
    * codegen; the histogram is ≤ ~40 rows.
    */
  val qTimeBusinessDays: Q = (s, d) => {
    val diff = datediff(col("l_shipdate"), col("o_orderdate"))
    val dow = weekday(col("o_orderdate"))
    val rem = pmod(diff, lit(7))
    // the partial-week weekday count is a pure function of (dow, rem) —
    // 7×7 cases — so it reads from a 49-slot literal lookup instead of
    // allocating a sequence+filter array PER ROW (the expression tree is
    // codegen-local either way; the array build was the per-row cost).
    // Table built by the same rule the oracle spells out: weekdays among
    // days dow, dow+1, …, dow+rem−1 (mod 7, Monday-0).
    val partialWeek = Array.tabulate(7 * 7) { ix =>
      val (dw, rm) = (ix / 7, ix % 7)
      (0 until rm).count(i => (dw + i) % 7 < 5)
    }
    val bd = (diff - rem) / 7 * 5 +
      element_at(lit(partialWeek), (dow * 7 + rem + 1).cast("int"))
    Tables.lineitem(s, d)
      // shuffled-hash, not sort-merge: both sides shuffle on the order
      // key either way, but the hash build (orders, the smaller side)
      // skips sorting the 4×-larger lineitem side (guide §3.1)
      .join(Tables.orders(s, d).hint("shuffle_hash"),
            col("l_orderkey") === col("o_orderkey"))
      .select(bd.cast("long").as("business_days"))
      .groupBy("business_days")
      .agg(count(lit(1)).as("n_lineitems"))
      .orderBy("business_days")
  }

  val qTimeBusinessDaysSql: String =
    """WITH j AS (
      |  SELECT datediff('day', CAST(o.o_orderdate AS DATE),
      |                  CAST(l.l_shipdate AS DATE)) AS df,
      |         isodow(CAST(o.o_orderdate AS DATE)) - 1 AS dow
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |r AS (
      |  -- ((x % 7) + 7) % 7 = Spark's pmod (DuckDB % keeps the sign)
      |  SELECT df, dow, ((df % 7) + 7) % 7 AS rem FROM j),
      |b AS (
      |  SELECT (df - rem) // 7 * 5 +
      |    CASE WHEN rem = 0 THEN 0
      |         ELSE len(list_filter(generate_series(0, rem - 1),
      |           i -> (dow + i) % 7 < 5)) END
      |      AS business_days
      |  FROM r)
      |SELECT CAST(business_days AS BIGINT) AS business_days,
      |  count(*) AS n_lineitems
      |FROM b GROUP BY 1 ORDER BY business_days""".stripMargin

  // ---------------------------------------------------------------
  // q_seq_vshape — MATCH_RECOGNIZE-style V-pattern detection.
  // ---------------------------------------------------------------

  /** V-shaped reversal detection on daily revenue — the
    * MATCH_RECOGNIZE pattern `DOWN{2,} UP{2,}` that Spark lacks as
    * syntax, composed from its primitives: direction signs → run
    * islands (the gaps-and-islands trick) → consecutive-run join
    * (down-run length ≥ 2 followed by an up-run ≥ 2). Everything is
    * integer-exact (cent diffs, run lengths, island ids); the output
    * lists each V with its trough day, run lengths, and recovery
    * fraction (one round-6 ratio).
    *
    * At 100 TB: day-grain collapse first; signs/islands/joins all run
    * over the bounded series.
    */
  val qSeqVshape: Q = (s, d) => {
    val wOrd = Window.orderBy("day")
    val runs = Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg((sum(col("value").cast(DecimalType(18, 2))) * 100)
        .cast("long").as("cents"))
      .withColumn("prev", lag(col("cents"), 1).over(wOrd))
      .where(col("prev").isNotNull && col("cents") =!= col("prev"))
      .withColumn("sgn", when(col("cents") > col("prev"), 1L)
        .otherwise(-1L))
      .withColumn("chg", when(lag(col("sgn"), 1).over(wOrd).isNull ||
        lag(col("sgn"), 1).over(wOrd) =!= col("sgn"), 1L).otherwise(0L))
      .withColumn("run_id", sum(col("chg")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("run_id")
      .agg(max(col("sgn")).as("sgn"), count(lit(1)).as("len"),
        max(col("day")).as("end_day"),
        max(col("cents")).as("hi_cents"), min(col("cents")).as("lo_cents"))
    val down = runs.where(col("sgn") === -1 && col("len") >= 2)
      .select(col("run_id"), col("len").as("down_len"),
        col("end_day").as("trough_day"),
        col("lo_cents").as("trough_cents"))
    val up = runs.where(col("sgn") === 1 && col("len") >= 2)
      .select((col("run_id") - 1).as("run_id"), col("len").as("up_len"),
        col("hi_cents").as("recover_cents"))
    down.join(up, "run_id")
      .select(col("trough_day"), col("down_len"), col("up_len"),
        round(col("recover_cents").cast("double") /
          col("trough_cents"), 6).as("recovery_ratio"))
      .orderBy("trough_day")
  }

  val qSeqVshapeSql: String =
    """WITH daily AS (
      |  SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
      |      AS cents
      |  FROM events GROUP BY 1),
      |dd AS (
      |  SELECT day, cents, lag(cents) OVER (ORDER BY day) AS prev
      |  FROM daily),
      |sg AS (
      |  SELECT day, cents, prev,
      |    CASE WHEN cents > prev THEN 1 ELSE -1 END AS sgn
      |  FROM dd WHERE prev IS NOT NULL AND cents <> prev),
      |ch AS (
      |  SELECT *, CASE WHEN lag(sgn) OVER (ORDER BY day) IS NULL
      |                   OR lag(sgn) OVER (ORDER BY day) <> sgn
      |                 THEN 1 ELSE 0 END AS chg
      |  FROM sg),
      |ri AS (
      |  SELECT *, CAST(sum(chg) OVER (ORDER BY day
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id
      |  FROM ch),
      |runs AS (
      |  SELECT run_id, max(sgn) AS sgn, count(*) AS len,
      |    max(day) AS end_day, max(cents) AS hi_cents,
      |    min(cents) AS lo_cents
      |  FROM ri GROUP BY 1),
      |down AS (
      |  SELECT run_id, len AS down_len, end_day AS trough_day,
      |    lo_cents AS trough_cents
      |  FROM runs WHERE sgn = -1 AND len >= 2),
      |up AS (
      |  SELECT run_id - 1 AS run_id, len AS up_len,
      |    hi_cents AS recover_cents
      |  FROM runs WHERE sgn = 1 AND len >= 2)
      |SELECT CAST(trough_day AS TIMESTAMP) AS trough_day, down_len,
      |  up_len,
      |  ROUND(CAST(recover_cents AS DOUBLE) / trough_cents, 6)
      |    AS recovery_ratio
      |FROM down JOIN up USING (run_id)
      |ORDER BY trough_day""".stripMargin

  // ---------------------------------------------------------------
  // q_win_drawdown — maximum drawdown of the cumulative series.
  // ---------------------------------------------------------------

  /** Maximum drawdown of cumulative daily net value (value signed
    * negative for `error` events, so the cumulative series actually
    * falls) — the risk metric behind "how bad did it get from the
    * best point so far": running peak of the cumulative sum, per-day
    * drawdown against it, the maximum and its date. All integer cents
    * through the windows; the one ratio rounds at 6 dp.
    *
    * At 100 TB: day-grain collapse, then two window passes over the
    * bounded series.
    */
  val qWinDrawdown: Q = (s, d) => {
    val wOrd = Window.orderBy("day")
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    val signed = when(col("event_type") === "error",
      -col("value").cast(DecimalType(18, 2)))
      .otherwise(col("value").cast(DecimalType(18, 2)))
    Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg((sum(signed) * 100).cast("long").as("net"))
      .withColumn("cum", sum(col("net")).over(wCum))
      .withColumn("peak", max(col("cum")).over(wCum))
      .withColumn("dd", col("peak") - col("cum"))
      .orderBy(col("dd").desc, col("day").asc)
      .limit(1)
      .select(col("day").as("worst_day"), col("dd").as("max_drawdown_cents"),
        round(col("dd").cast("double") / col("peak"), 6)
          .as("dd_over_peak"))
  }

  val qWinDrawdownSql: String =
    """WITH daily AS (
      |  SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
      |    CAST(sum(CASE WHEN event_type = 'error'
      |        THEN -CAST(value AS DECIMAL(18,2))
      |        ELSE CAST(value AS DECIMAL(18,2)) END) * 100 AS BIGINT)
      |      AS net
      |  FROM events GROUP BY 1),
      |c AS (
      |  SELECT day,
      |    CAST(sum(net) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
      |      AS BIGINT) AS cum
      |  FROM daily),
      |p AS (
      |  SELECT day, cum,
      |    CAST(max(cum) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
      |      AS BIGINT) AS peak
      |  FROM c)
      |SELECT CAST(day AS TIMESTAMP) AS worst_day,
      |  peak - cum AS max_drawdown_cents,
      |  ROUND(CAST(peak - cum AS DOUBLE) / peak, 6) AS dd_over_peak
      |FROM p ORDER BY peak - cum DESC, day ASC LIMIT 1""".stripMargin

  // ---------------------------------------------------------------
  // q_split_temporal — time-based split with embargo + leakage audit.
  // ---------------------------------------------------------------

  /** Temporal train/test split of the event log — train strictly
    * before a cutoff minus a 2-day EMBARGO gap, test strictly after
    * the cutoff — plus the leakage audit every temporal-ML pipeline
    * needs: how many users appear on both sides (fine for user-level
    * features, fatal for user-level labels — the audit makes it
    * visible either way). The cutoff is data-derived but exact:
    * 21 days after the first event day, a pure integer-microsecond
    * comparison in both engines. All outputs are integer counts plus
    * one round-6 ratio.
    *
    * At 100 TB: the cutoff is a 1-row broadcast; bucket assignment is
    * row-local; the user-overlap audit is one distinct + semi-join on
    * user_id (the only exchange).
    */
  val qSplitTemporal: Q = (s, d) => {
    val embargoUs = 2L * 86400L * 1000000L
    val ev = Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
    val cut = ev.agg(
      (unix_micros(min(date_trunc("day", timestamp_micros(col("us"))))) +
        lit(21L * 86400L * 1000000L)).as("cut_us"))
    val tagged = ev.crossJoin(broadcast(cut))
      .withColumn("bucket",
        when(col("us") < col("cut_us") - embargoUs, "train")
          .when(col("us") > col("cut_us"), "test")
          .otherwise("embargo"))
    val users = tagged.groupBy("user_id").agg(
      max(when(col("bucket") === "train", 1L).otherwise(0L)).as("in_tr"),
      max(when(col("bucket") === "test", 1L).otherwise(0L)).as("in_te"))
    val overlap = users.agg(
      sum(when(col("in_tr") === 1 && col("in_te") === 1, 1L)
        .otherwise(0L)).as("n_leaky_users"),
      sum(when(col("in_te") === 1, 1L).otherwise(0L)).as("n_test_users"))
    tagged.groupBy().agg(
        sum(when(col("bucket") === "train", 1L).otherwise(0L))
          .as("n_train"),
        sum(when(col("bucket") === "test", 1L).otherwise(0L))
          .as("n_test"),
        sum(when(col("bucket") === "embargo", 1L).otherwise(0L))
          .as("n_embargoed"))
      .crossJoin(broadcast(overlap))
      .select(col("n_train"), col("n_test"), col("n_embargoed"),
        col("n_leaky_users"),
        round(col("n_leaky_users").cast("double") /
          col("n_test_users"), 6).as("leaky_user_ratio"))
  }

  val qSplitTemporalSql: String =
    """WITH ev AS (
      |  SELECT user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |cut AS (
      |  SELECT epoch_us(min(date_trunc('day',
      |      make_timestamp(us)))) + CAST(21 AS BIGINT) * 86400 * 1000000
      |    AS cut_us
      |  FROM ev),
      |tagged AS (
      |  SELECT user_id, us,
      |    CASE WHEN us < cut_us - CAST(2 AS BIGINT) * 86400 * 1000000
      |         THEN 'train'
      |         WHEN us > cut_us THEN 'test'
      |         ELSE 'embargo' END AS bucket
      |  FROM ev, cut),
      |users AS (
      |  SELECT user_id,
      |    max(CASE WHEN bucket = 'train' THEN 1 ELSE 0 END) AS in_tr,
      |    max(CASE WHEN bucket = 'test' THEN 1 ELSE 0 END) AS in_te
      |  FROM tagged GROUP BY 1),
      |ov AS (
      |  SELECT
      |    CAST(sum(CASE WHEN in_tr = 1 AND in_te = 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_leaky_users,
      |    CAST(sum(CASE WHEN in_te = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_test_users
      |  FROM users),
      |b AS (
      |  SELECT
      |    CAST(sum(CASE WHEN bucket = 'train' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_train,
      |    CAST(sum(CASE WHEN bucket = 'test' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_test,
      |    CAST(sum(CASE WHEN bucket = 'embargo' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_embargoed
      |  FROM tagged)
      |SELECT n_train, n_test, n_embargoed, n_leaky_users,
      |  ROUND(CAST(n_leaky_users AS DOUBLE) / n_test_users, 6)
      |    AS leaky_user_ratio
      |FROM b, ov""".stripMargin

  // ---------------------------------------------------------------
  // q_embed_outliers — far-from-centroid embedding QA screen.
  // ---------------------------------------------------------------

  /** Embedding-space outlier screen: each vector's cosine to its own
    * label centroid (the [[LlmOps.qEmbedCentroids]] plumbing), flagged
    * when it falls below the global 5th percentile — the "these
    * embeddings don't belong to their cluster" QA pass run before
    * training on labeled embeddings. The threshold is an exact Type-7
    * percentile over round-6 cosines (identical doubles in both
    * engines); the flag is a strict `<` on those same doubles, so the
    * boundary vector lands on the same side everywhere.
    *
    * At 100 TB: centroids are a broadcast-sized (k·d) table; per-vec
    * cosines are one keyed fold; the threshold is a 1-row broadcast
    * over the |vecs|-row cosine table.
    */
  val qEmbedOutliers: Q = (s, d) => {
    val ex = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), posexplode(col("embedding")))
      .select(col("vec_id"), col("label"), col("pos"),
        col("col").cast("double").as("v"))
    val cent = ex.groupBy("label", "pos").agg(avg(col("v")).as("c"))
    val cos = ex.join(broadcast(cent), Seq("label", "pos"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(col("v") * col("c")).as("dot"),
        sum(col("v") * col("v")).as("vn2"),
        sum(col("c") * col("c")).as("cn2"))
      .select(col("vec_id"), col("label"),
        round(col("dot") / (sqrt(col("vn2")) * sqrt(col("cn2"))), 6)
          .as("cos_sim"))
    val thr = cos.agg(expr("percentile(cos_sim, 0.05)").as("thr"))
    cos.crossJoin(broadcast(thr))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("cos_sim") < col("thr"), 1L).otherwise(0L))
          .as("n_outliers"),
        round(min(col("cos_sim")), 6).as("min_cos"))
      .orderBy("label")
  }

  val qEmbedOutliersSql: String =
    """WITH ex AS (
      |  SELECT vec_id, label, i.i AS pos,
      |         CAST(embedding[i.i] AS DOUBLE) AS v
      |  FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) i
      |), cent AS (
      |  SELECT label, pos, AVG(v) AS c FROM ex GROUP BY label, pos
      |), cos AS (
      |  SELECT e.vec_id, e.label,
      |    ROUND(SUM(e.v * c.c) /
      |      (sqrt(SUM(e.v * e.v)) * sqrt(SUM(c.c * c.c))), 6) AS cos_sim
      |  FROM ex e JOIN cent c ON e.label = c.label AND e.pos = c.pos
      |  GROUP BY e.vec_id, e.label
      |), thr AS (SELECT quantile_cont(cos_sim, 0.05) AS thr FROM cos)
      |SELECT label, count(*) AS n_vecs,
      |  CAST(sum(CASE WHEN cos_sim < thr THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_outliers,
      |  ROUND(min(cos_sim), 6) AS min_cos
      |FROM cos, thr GROUP BY 1 ORDER BY label""".stripMargin

  // ---------------------------------------------------------------
  // q_win_rolling_corr — rolling correlation of two daily series.
  // ---------------------------------------------------------------

  /** 14-day rolling Pearson correlation between the daily `view` and
    * `click` count series — the time-LOCAL dependence view that
    * [[qTimeXcorr]]'s whole-series number averages away (regime
    * changes show up here first). Every rolling moment (Σx, Σy, Σxy,
    * Σx², Σy²) is a window sum of INTEGER products — exact in double —
    * so each day's r is one deterministic round-6 expression; windows
    * shorter than 4 days emit NULL in both engines.
    *
    * At 100 TB: one conditional aggregate to the day grain; five
    * window sums over that bounded series.
    */
  val qWinRollingCorr: Q = (s, d) => {
    val w14 = Window.orderBy("day").rowsBetween(-13, 0)
    val daily = Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
        .as("x"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L))
        .as("y"))
    val n = count(lit(1)).over(w14).cast("double")
    val sx = sum(col("x")).over(w14).cast("double")
    val sy = sum(col("y")).over(w14).cast("double")
    val sxx = sum(col("x") * col("x")).over(w14).cast("double")
    val syy = sum(col("y") * col("y")).over(w14).cast("double")
    val sxy = sum(col("x") * col("y")).over(w14).cast("double")
    daily
      .select(col("day"),
        count(lit(1)).over(w14).as("n_window"),
        when(count(lit(1)).over(w14) >= 4,
          round((n * sxy - sx * sy) /
            sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6))
          .as("rolling_r"))
      .orderBy("day")
  }

  val qWinRollingCorrSql: String =
    """WITH daily AS (
      |  SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
      |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS x,
      |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS y
      |  FROM events GROUP BY 1),
      |w AS (
      |  SELECT day,
      |    count(*) OVER w14 AS n_window,
      |    CAST(count(*) OVER w14 AS DOUBLE) AS n,
      |    CAST(sum(x) OVER w14 AS DOUBLE) AS sx,
      |    CAST(sum(y) OVER w14 AS DOUBLE) AS sy,
      |    CAST(sum(x * x) OVER w14 AS DOUBLE) AS sxx,
      |    CAST(sum(y * y) OVER w14 AS DOUBLE) AS syy,
      |    CAST(sum(x * y) OVER w14 AS DOUBLE) AS sxy
      |  FROM daily
      |  WINDOW w14 AS (ORDER BY day ROWS BETWEEN 13 PRECEDING
      |                 AND CURRENT ROW))
      |SELECT CAST(day AS TIMESTAMP) AS day, n_window,
      |  CASE WHEN n_window >= 4 THEN
      |    ROUND((n * sxy - sx * sy) /
      |      sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
      |  END AS rolling_r
      |FROM w ORDER BY day""".stripMargin

  // ---------------------------------------------------------------
  // q_time_user_growth — cumulative-distinct user growth curve.
  // ---------------------------------------------------------------

  /** Cumulative distinct-user growth by day — new users per day (the
    * first-seen trick: one min-aggregate per user, then a day-grain
    * count) plus the running total and day-over-day growth rate. The
    * cumulative distinct NEVER runs a distinct-over-window: first-seen
    * collapses it to an ordinary cumsum over ≤ |days| rows, which is
    * the only shape that survives 100 TB. Counts are integers; the
    * growth rate is one round-6 ratio.
    */
  val qTimeUserGrowth: Q = (s, d) => {
    val wOrd = Window.orderBy("day")
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    Tables.events(s, d)
      .groupBy("user_id")
      .agg(date_trunc("day", min(col("ts"))).as("day"))
      .groupBy("day")
      .agg(count(lit(1)).as("new_users"))
      .withColumn("total_users", sum(col("new_users")).over(wCum))
      .withColumn("growth_rate",
        round(col("new_users").cast("double") /
          lag(col("total_users"), 1).over(wOrd), 6))
      .orderBy("day")
  }

  val qTimeUserGrowthSql: String =
    """WITH first_seen AS (
      |  SELECT user_id,
      |    date_trunc('day', min(CAST(ts AS TIMESTAMP))) AS day
      |  FROM events GROUP BY 1),
      |daily AS (
      |  SELECT day, count(*) AS new_users FROM first_seen GROUP BY 1),
      |c AS (
      |  SELECT CAST(day AS TIMESTAMP) AS day, new_users,
      |    CAST(sum(new_users) OVER (ORDER BY day
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS total_users
      |  FROM daily)
      |SELECT day, new_users, total_users,
      |  ROUND(CAST(new_users AS DOUBLE) /
      |    lag(total_users) OVER (ORDER BY day), 6) AS growth_rate
      |FROM c ORDER BY day""".stripMargin

  val entries: Map[String, Q] = Map(
    "q_graph_assortativity"   -> qGraphAssortativity,
    "q_graph_degree_hist"     -> qGraphDegreeHist,
    "q_maintain_retention"    -> qMaintainRetention,
    "q_stats_proptest"        -> qStatsProptest,
    "q_funnel_window"         -> qFunnelWindow,
    "q_win_median_smooth"     -> qWinMedianSmooth,
    "q_stats_theilsen"        -> qStatsTheilsen,
    "q_funnel_latency"        -> qFunnelLatency,
    "q_dq_pk_gaps"            -> qDqPkGaps,
    "q_stats_power"           -> qStatsPower,
    "q_agg_hist_eqdepth"      -> qAggHistEqdepth,
    "q_sample_consistent"     -> qSampleConsistent,
    "q_time_backtest"         -> qTimeBacktest,
    "q_time_forecast"         -> qTimeForecast,
    "q_graph_adamic_adar"     -> qGraphAdamicAdar,
    "q_scan_snapshot"         -> qScanSnapshot,
    "q_join_asof_nearest"     -> qJoinAsofNearest,
    "q_dq_orphans"            -> qDqOrphans,
    "q_text_novelty"          -> qTextNovelty,
    "q_agg_incremental_state" -> qAggIncrementalState,
    "q_scan_lineage"          -> qScanLineage,
    "q_time_changepoint"      -> qTimeChangepoint,
    "q_text_zipf"             -> qTextZipf,
    "q_win_islands"           -> qWinIslands,
    "q_basket_lift"           -> qBasketLift,
    "q_win_pareto"            -> qWinPareto,
    "q_stats_moments"         -> qStatsMoments,
    "q_time_xcorr"            -> qTimeXcorr,
    "q_stats_kendall"         -> qStatsKendall,
    "q_agg_percentile_exact"  -> qAggPercentileExact,
    "q_time_holt"             -> qTimeHolt,
    "q_stats_bootstrap"       -> qStatsBootstrap,
    "q_graph_kcore"           -> qGraphKcore,
    "q_seq_paths"             -> qSeqPaths,
    "q_stats_mi"              -> qStatsMi,
    "q_agg_stickiness"        -> qAggStickiness,
    "q_stats_wilson"          -> qStatsWilson,
    "q_stats_levene"          -> qStatsLevene,
    "q_dq_key_skew"           -> qDqKeySkew,
    "q_time_peaks"            -> qTimePeaks,
    "q_stats_simpson"         -> qStatsSimpson,
    "q_stats_effect"          -> qStatsEffect,
    "q_profile_freq"          -> qProfileFreq,
    "q_sample_neyman"         -> qSampleNeyman,
    "q_rank_rbo"              -> qRankRbo,
    "q_text_repetition"       -> qTextRepetition,
    "q_stats_runs"            -> qStatsRuns,
    "q_text_udiv"             -> qTextUdiv,
    "q_eval_lift"             -> qEvalLift,
    "q_time_stl"              -> qTimeStl,
    "q_eval_auc"              -> qEvalAuc,
    "q_eval_confusion"        -> qEvalConfusion,
    "q_olap_parent_share"     -> qOlapParentShare,
    "q_time_business_days"    -> qTimeBusinessDays,
    "q_seq_vshape"            -> qSeqVshape,
    "q_win_drawdown"          -> qWinDrawdown,
    "q_split_temporal"        -> qSplitTemporal,
    "q_embed_outliers"        -> qEmbedOutliers,
    "q_win_rolling_corr"      -> qWinRollingCorr,
    "q_time_user_growth"      -> qTimeUserGrowth
  )

  val oracles: Map[String, String] = Map(
    "q_graph_assortativity"   -> qGraphAssortativitySql,
    "q_graph_degree_hist"     -> qGraphDegreeHistSql,
    "q_maintain_retention"    -> qMaintainRetentionSql,
    "q_stats_proptest"        -> qStatsProptestSql,
    "q_funnel_window"         -> qFunnelWindowSql,
    "q_win_median_smooth"     -> qWinMedianSmoothSql,
    "q_stats_theilsen"        -> qStatsTheilsenSql,
    "q_funnel_latency"        -> qFunnelLatencySql,
    "q_dq_pk_gaps"            -> qDqPkGapsSql,
    "q_stats_power"           -> qStatsPowerSql,
    "q_agg_hist_eqdepth"      -> qAggHistEqdepthSql,
    "q_sample_consistent"     -> qSampleConsistentSql,
    "q_time_backtest"         -> qTimeBacktestSql,
    "q_time_forecast"         -> qTimeForecastSql,
    "q_graph_adamic_adar"     -> qGraphAdamicAdarSql,
    "q_scan_snapshot"         -> qScanSnapshotSql,
    "q_join_asof_nearest"     -> qJoinAsofNearestSql,
    "q_dq_orphans"            -> qDqOrphansSql,
    "q_text_novelty"          -> qTextNoveltySql,
    "q_agg_incremental_state" -> qAggIncrementalStateSql,
    "q_scan_lineage"          -> qScanLineageSql,
    "q_time_changepoint"      -> qTimeChangepointSql,
    "q_text_zipf"             -> qTextZipfSql,
    "q_win_islands"           -> qWinIslandsSql,
    "q_basket_lift"           -> qBasketLiftSql,
    "q_win_pareto"            -> qWinParetoSql,
    "q_stats_moments"         -> qStatsMomentsSql,
    "q_time_xcorr"            -> qTimeXcorrSql,
    "q_stats_kendall"         -> qStatsKendallSql,
    "q_agg_percentile_exact"  -> qAggPercentileExactSql,
    "q_time_holt"             -> qTimeHoltSql,
    "q_stats_bootstrap"       -> qStatsBootstrapSql,
    "q_graph_kcore"           -> qGraphKcoreSql,
    "q_seq_paths"             -> qSeqPathsSql,
    "q_stats_mi"              -> qStatsMiSql,
    "q_agg_stickiness"        -> qAggStickinessSql,
    "q_stats_wilson"          -> qStatsWilsonSql,
    "q_stats_levene"          -> qStatsLeveneSql,
    "q_dq_key_skew"           -> qDqKeySkewSql,
    "q_time_peaks"            -> qTimePeaksSql,
    "q_stats_simpson"         -> qStatsSimpsonSql,
    "q_stats_effect"          -> qStatsEffectSql,
    "q_profile_freq"          -> qProfileFreqSql,
    "q_sample_neyman"         -> qSampleNeymanSql,
    "q_rank_rbo"              -> qRankRboSql,
    "q_text_repetition"       -> qTextRepetitionSql,
    "q_stats_runs"            -> qStatsRunsSql,
    "q_text_udiv"             -> qTextUdivSql,
    "q_eval_lift"             -> qEvalLiftSql,
    "q_time_stl"              -> qTimeStlSql,
    "q_eval_auc"              -> qEvalAucSql,
    "q_eval_confusion"        -> qEvalConfusionSql,
    "q_olap_parent_share"     -> qOlapParentShareSql,
    "q_time_business_days"    -> qTimeBusinessDaysSql,
    "q_seq_vshape"            -> qSeqVshapeSql,
    "q_win_drawdown"          -> qWinDrawdownSql,
    "q_split_temporal"        -> qSplitTemporalSql,
    "q_embed_outliers"        -> qEmbedOutliersSql,
    "q_win_rolling_corr"      -> qWinRollingCorrSql,
    "q_time_user_growth"      -> qTimeUserGrowthSql
  )
}
