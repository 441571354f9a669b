package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.classic.GraftShim
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import util._

/** Time-series / experimentation / data-quality analytics wave:
  * EWMA smoothing, islands-and-gaps outage detection, Welch's t-test
  * A/B readout, PSI distribution-drift screens, two-level mergeable
  * re-aggregation (the daily→monthly rollup-reuse pattern),
  * point-in-time SCD2 lookup, edit-distance dedup verify,
  * sliding-window distinct counts, incremental batch-vs-index dedup,
  * rolling z-score anomaly screens, calendar-spine resampling with
  * LOCF fill, and inline pipeline metering via observe/CollectMetrics.
  *
  * Reference analog: the reference delegates every analytical query to
  * Athena over its parquet lake (README.md:2); these are the
  * monitoring/experimentation queries such a lake serves, re-expressed
  * Spark-first. Cross-engine exactness is engineered per query: EWMA
  * uses dyadic weights (exact in binary FP at every step), the t-test,
  * anomaly, and re-aggregation math derives from integer/decimal-exact
  * moments, and PSI sums per-bucket terms in DECIMAL after rounding so
  * the one `ln` call is the only FP-library touchpoint (≤1 ulp, far
  * below the 1e-6 gate).
  */
object Insights {

  /** Daily event counts per type — the shared spine of the series ops.
    * One hash aggregation (map-side combining), shuffle on the tiny
    * (event_type, day) key space; at 100 TB this is the standard
    * firehose→series rollup and everything downstream touches only the
    * aggregated series (|types| × |days| rows).
    */
  private def dailyCounts(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))

  private val dailyCountsSql =
    """SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
      |FROM events GROUP BY 1, 2""".stripMargin

  /** EWMA smoothing over the daily series — alpha = 1/2, 8-term window.
    *
    * Exactness: the weights 2^-k are dyadic rationals, counts are
    * integers, so every product and partial sum is EXACTLY representable
    * in an IEEE double (numerator < 2^53, denominator 2^7) — addition
    * order cannot matter and both engines hit the same final division.
    * No `pow` at runtime: the weights are literals.
    *
    * Scale: the heavy stage is the daily rollup above; the EWMA itself
    * is one window over the aggregated series (8 lags computed in a
    * single WindowExec pass per partition key) — negligible at any SF.
    */
  val qWinEwma: Q = (s, d) => {
    val w = Window.partitionBy("event_type").orderBy("day")
    val wts = (0 to 7).map(k => math.pow(0.5, k)) // dyadic literals
    val lags = (0 to 7).map { k =>
      if (k == 0) col("n") else lag(col("n"), k).over(w)
    }
    val num = lags.zip(wts).map { case (l, wt) =>
      coalesce(l.cast("double"), lit(0.0)) * lit(wt)
    }.reduce(_ + _)
    val den = lags.zip(wts).map { case (l, wt) =>
      when(l.isNotNull, lit(wt)).otherwise(lit(0.0))
    }.reduce(_ + _)
    dailyCounts(s, d)
      .withColumn("ewma", round(num / den, 6))
      .select(col("event_type"), col("day").cast("timestamp").as("day"),
        col("n"), col("ewma"))
      .orderBy("event_type", "day")
  }

  val qWinEwmaSql: String = {
    val lagDefs = (1 to 7)
      .map(k => s"lag(n, $k) OVER w AS n$k").mkString(",\n      |    ")
    val wts = (0 to 7).map(k => s"${math.pow(0.5, k)}")
    val num = (0 to 7).map { k =>
      val src = if (k == 0) "n" else s"coalesce(n$k, 0)"
      s"CAST($src AS DOUBLE) * ${wts(k)}"
    }.mkString(" + ")
    val den = (0 to 7).map { k =>
      if (k == 0) wts(k)
      else s"CASE WHEN n$k IS NULL THEN 0.0 ELSE ${wts(k)} END"
    }.mkString(" + ")
    s"""WITH daily AS ($dailyCountsSql),
       |l AS (
       |  SELECT event_type, day, n,
       |    $lagDefs
       |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day))
       |SELECT event_type, CAST(day AS TIMESTAMP) AS day, n,
       |  round(CAST($num AS DOUBLE) / CAST($den AS DOUBLE), 6) AS ewma
       |FROM l ORDER BY event_type, day""".stripMargin
  }

  /** Islands-and-gaps outage detection — the monitoring question "which
    * days did ingestion miss, per stream?". A deterministic synthetic
    * outage (drop days with epoch-day % 9 ∈ {4,5}) is applied to the
    * daily series, then ONE window (lag) per event_type finds every gap
    * and its width — no calendar-spine explode, no generate_series: at
    * 100 TB the spine join would materialize |types|×|days| rows while
    * the lag formulation touches only the observed series.
    */
  val qTimeGaps: Q = (s, d) => {
    val w = Window.partitionBy("event_type").orderBy("day")
    dailyCounts(s, d)
      .withColumn("dayidx", expr("datediff(day, DATE '1970-01-01')"))
      .where(!(col("dayidx") % 9).isin(4, 5)) // simulated outage days
      .withColumn("prev_day", lag(col("day"), 1).over(w))
      .withColumn("prev_idx", lag(col("dayidx"), 1).over(w))
      .where(col("prev_idx").isNotNull &&
        col("dayidx") - col("prev_idx") > 1)
      .select(col("event_type"),
        col("prev_day").cast("timestamp").as("gap_after"),
        col("day").cast("timestamp").as("resume_day"),
        (col("dayidx") - col("prev_idx") - 1).cast("long")
          .as("missing_days"))
      .orderBy("event_type", "gap_after")
  }

  val qTimeGapsSql: String =
    s"""WITH daily AS ($dailyCountsSql),
       |idx AS (
       |  SELECT event_type, day,
       |    date_diff('day', DATE '1970-01-01', day) AS dayidx
       |  FROM daily
       |  WHERE (date_diff('day', DATE '1970-01-01', day) % 9) NOT IN (4, 5)),
       |g AS (
       |  SELECT event_type, day, dayidx,
       |    lag(day) OVER w AS prev_day,
       |    lag(dayidx) OVER w AS prev_idx
       |  FROM idx WINDOW w AS (PARTITION BY event_type ORDER BY day))
       |SELECT event_type,
       |  CAST(prev_day AS TIMESTAMP) AS gap_after,
       |  CAST(day AS TIMESTAMP) AS resume_day,
       |  CAST(dayidx - prev_idx - 1 AS BIGINT) AS missing_days
       |FROM g WHERE prev_idx IS NOT NULL AND dayidx - prev_idx > 1
       |ORDER BY event_type, gap_after""".stripMargin

  /** Welch's unequal-variance t-test per event_type — the A/B-test
    * readout (arm = user_id parity). The moments (n, Σx, Σx²) are
    * DECIMAL-exact: value is cast to DECIMAL(18,2) once, the square is
    * exact decimal multiplication, and the sums are mergeable decimal
    * aggregates — so both engines feed IDENTICAL doubles into the
    * identical t/df expression tree (same operation order spelled out
    * on both sides) and every IEEE step matches bit-for-bit.
    *
    * Scale: one pass over events with conditional map-side-combining
    * aggregates — no join, no second scan; the t-statistic math runs on
    * |event_type| rows.
    */
  val qStatsAb: Q = (s, d) => {
    val dv = col("value").cast(DecimalType(18, 2))
    val isA = col("user_id") % 2 === 0
    val m = Tables.events(s, d).groupBy("event_type").agg(
      sum(when(isA, 1L).otherwise(0L)).as("n_a"),
      sum(when(!isA, 1L).otherwise(0L)).as("n_b"),
      sum(when(isA, dv)).as("s_a"),
      sum(when(!isA, dv)).as("s_b"),
      sum(when(isA, dv * dv)).as("ss_a"),
      sum(when(!isA, dv * dv)).as("ss_b"))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val sa = col("s_a").cast("double")
    val sb = col("s_b").cast("double")
    val ssa = col("ss_a").cast("double")
    val ssb = col("ss_b").cast("double")
    val ma = sa / na
    val mb = sb / nb
    val va = (ssa - sa * sa / na) / (na - lit(1.0))
    val vb = (ssb - sb * sb / nb) / (nb - lit(1.0))
    val sea = va / na
    val seb = vb / nb
    val t = (ma - mb) / sqrt(sea + seb)
    val df = (sea + seb) * (sea + seb) /
      (sea * sea / (na - lit(1.0)) + seb * seb / (nb - lit(1.0)))
    m.select(col("event_type"), col("n_a"), col("n_b"),
      round(ma, 6).as("mean_a"), round(mb, 6).as("mean_b"),
      round(t, 4).as("t_stat"), round(df, 1).as("df"),
      (abs(t) > lit(1.96)).as("significant"))
      .orderBy("event_type")
  }

  val qStatsAbSql: String =
    """WITH m AS (
      |  SELECT event_type,
      |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    sum(CASE WHEN user_id % 2 = 0
      |             THEN CAST(value AS DECIMAL(18,2)) END) AS s_a,
      |    sum(CASE WHEN user_id % 2 <> 0
      |             THEN CAST(value AS DECIMAL(18,2)) END) AS s_b,
      |    sum(CASE WHEN user_id % 2 = 0
      |             THEN CAST(value AS DECIMAL(18,2)) *
      |                  CAST(value AS DECIMAL(18,2)) END) AS ss_a,
      |    sum(CASE WHEN user_id % 2 <> 0
      |             THEN CAST(value AS DECIMAL(18,2)) *
      |                  CAST(value AS DECIMAL(18,2)) END) AS ss_b
      |  FROM events GROUP BY 1),
      |x AS (
      |  SELECT event_type, n_a, n_b,
      |    CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
      |    CAST(s_a AS DOUBLE) AS sa, CAST(s_b AS DOUBLE) AS sb,
      |    CAST(ss_a AS DOUBLE) AS ssa, CAST(ss_b AS DOUBLE) AS ssb
      |  FROM m),
      |y AS (
      |  SELECT event_type, n_a, n_b, na, nb, sa / na AS ma, sb / nb AS mb,
      |    ((ssa - sa * sa / na) / (na - 1.0)) / na AS sea,
      |    ((ssb - sb * sb / nb) / (nb - 1.0)) / nb AS seb
      |  FROM x)
      |SELECT event_type, n_a, n_b,
      |  round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
      |  round((ma - mb) / sqrt(sea + seb), 4) AS t_stat,
      |  round((sea + seb) * (sea + seb) /
      |        (sea * sea / (na - 1.0) + seb * seb / (nb - 1.0)), 1) AS df,
      |  abs((ma - mb) / sqrt(sea + seb)) > 1.96 AS significant
      |FROM y ORDER BY event_type""".stripMargin

  /** PSI (population stability index) distribution-drift screen: split
    * events at the midpoint of the time range, bucket `value` into 10
    * fixed-width bins over the global range, Laplace-smooth the two
    * histograms, PSI = Σ (p−q)·ln(p/q) per event_type.
    *
    * Exactness: the split point and bin edges derive from global
    * min/max (one tiny broadcast aggregate — integers in micros for
    * time, identical doubles for value), bucket assignment is one
    * identical floor per row, and the final PSI sums per-bucket terms
    * AFTER rounding to DECIMAL(18,6) so the cross-bucket sum is exact
    * and order-free. The single `ln` is the only libm call — its ≤1 ulp
    * engine difference is ~13 orders of magnitude below the 1e-6 gate.
    *
    * Scale: two scans collapse to one (conditional aggregation on
    * (event_type, bucket)); the broadcast stats row never shuffles the
    * fact table; PSI math runs on ≤ |types|×10 rows.
    */
  val qDqDrift: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val rng = ev.agg(
      min(unix_micros(col("ts"))).as("t0"),
      max(unix_micros(col("ts"))).as("t1"),
      min(col("value")).as("v0"),
      max(col("value")).as("v1"))
    val e = ev.crossJoin(broadcast(rng))
      .withColumn("early",
        unix_micros(col("ts")) * lit(2L) < col("t0") + col("t1"))
      .withColumn("bucket",
        // bin width floored at a tiny epsilon: a constant value column
        // (v1 = v0) would otherwise divide 0/0 → NaN, which Spark's
        // non-ANSI cast folds to a bucket while DuckDB's CAST raises —
        // with the guard both engines put every row in bucket 0
        least(floor((col("value") - col("v0")) /
          (greatest(col("v1") - col("v0"), lit(1e-12)) / lit(10.0))),
          lit(9L)).cast("long"))
    val hist = e.groupBy("event_type", "bucket").agg(
      sum(when(col("early"), 1L).otherwise(0L)).as("c0"),
      sum(when(!col("early"), 1L).otherwise(0L)).as("c1"))
    val w = Window.partitionBy("event_type")
    val p = (col("c0").cast("double") + lit(1.0)) /
      (sum(col("c0")).over(w).cast("double") + lit(10.0))
    val q = (col("c1").cast("double") + lit(1.0)) /
      (sum(col("c1")).over(w).cast("double") + lit(10.0))
    hist
      .withColumn("term",
        round((p - q) * log(p / q), 6).cast(DecimalType(18, 6)))
      .withColumn("n0", sum(col("c0")).over(w))
      .withColumn("n1", sum(col("c1")).over(w))
      .groupBy("event_type")
      .agg(first(col("n0")).as("n_early"), first(col("n1")).as("n_late"),
        count(lit(1)).as("n_buckets"),
        sum(col("term")).cast("double").as("psi"))
      .withColumn("drift", col("psi") > lit(0.1))
      .orderBy("event_type")
  }

  val qDqDriftSql: String =
    """WITH rng AS (
      |  SELECT min(epoch_us(CAST(ts AS TIMESTAMP))) AS t0,
      |         max(epoch_us(CAST(ts AS TIMESTAMP))) AS t1,
      |         min(value) AS v0, max(value) AS v1
      |  FROM events),
      |e AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) * 2 < t0 + t1 AS early,
      |    CAST(least(floor((value - v0) /
      |      (greatest(v1 - v0, 1e-12) / CAST(10.0 AS DOUBLE))), 9)
      |      AS BIGINT) AS bucket
      |  FROM events, rng),
      |hist AS (
      |  SELECT event_type, bucket,
      |    CAST(sum(CASE WHEN early THEN 1 ELSE 0 END) AS BIGINT) AS c0,
      |    CAST(sum(CASE WHEN NOT early THEN 1 ELSE 0 END) AS BIGINT) AS c1
      |  FROM e GROUP BY 1, 2),
      |t AS (
      |  SELECT event_type, bucket, c0, c1,
      |    sum(c0) OVER w AS n0, sum(c1) OVER w AS n1,
      |    (CAST(c0 AS DOUBLE) + 1.0) /
      |      (CAST(sum(c0) OVER w AS DOUBLE) + 10.0) AS p,
      |    (CAST(c1 AS DOUBLE) + 1.0) /
      |      (CAST(sum(c1) OVER w AS DOUBLE) + 10.0) AS q
      |  FROM hist WINDOW w AS (PARTITION BY event_type))
      |SELECT event_type,
      |  CAST(any_value(n0) AS BIGINT) AS n_early,
      |  CAST(any_value(n1) AS BIGINT) AS n_late,
      |  count(*) AS n_buckets,
      |  CAST(sum(CAST(round((p - q) * ln(p / q), 6) AS DECIMAL(18,6)))
      |       AS DOUBLE) AS psi,
      |  CAST(sum(CAST(round((p - q) * ln(p / q), 6) AS DECIMAL(18,6)))
      |       AS DOUBLE) > 0.1 AS drift
      |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Two-level mergeable re-aggregation — the rollup-reuse pattern: a
    * daily partial layer (count / exact-decimal sum / min / max per
    * (priority, day)) re-aggregated to months WITHOUT touching raw rows
    * again. The oracle computes months directly from raw orders, so the
    * gate proves the partial layer loses nothing: counts add, decimal
    * sums add exactly, min/max compose, and avg derives from the merged
    * sum/count. At 100 TB this is why rollup tables work at all —
    * day→month→year re-aggregates over data smaller by the daily
    * compression ratio, and every aggregate here is partial-mergeable
    * by construction (no avg/median stored, only its numerator and
    * denominator).
    */
  val qAggReagg: Q = (s, d) => {
    val daily = Tables.orders(s, d)
      .groupBy(col("o_orderpriority"), to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).as("s"),
        min(col("o_totalprice")).as("mn"),
        max(col("o_totalprice")).as("mx"))
    daily
      .groupBy(col("o_orderpriority"),
        date_trunc("month", col("day")).as("month"))
      .agg(sum(col("n")).as("n"),
        sum(col("s")).cast("double").as("sum_price"),
        min(col("mn")).as("min_price"),
        max(col("mx")).as("max_price"))
      .withColumn("avg_price", round(col("sum_price") / col("n"), 6))
      .orderBy("o_orderpriority", "month")
  }

  val qAggReaggSql: String =
    """SELECT o_orderpriority,
      |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
      |  count(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  min(o_totalprice) AS min_price,
      |  max(o_totalprice) AS max_price,
      |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) /
      |        count(*), 6) AS avg_price
      |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Point-in-time (PIT) lookup against an SCD Type-2 dimension — the
    * query pattern that motivates SCD2 in the first place: for every
    * purchase, which activity-state version was the user in AT THAT
    * MOMENT? The dimension is the q_scd2 fold over the non-purchase
    * stream (same single-user_id-exchange shape); the lookup is an
    * equi-join on user_id with the `[valid_from, valid_to)` interval as
    * a residual predicate — Spark plans a sort-merge join keyed on
    * user_id, so at 100 TB both sides shuffle once on the dimension key
    * and the interval check never degenerates into a range-only join.
    * Half-open intervals make boundary hits deterministic (a fact at
    * exactly `valid_to` belongs to the NEXT version) in both engines.
    */
  val qJoinPit: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val byTs = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val byVersion = Window.partitionBy("du").orderBy(col("version").asc)
    val dim = ev.where(col("event_type") =!= "purchase")
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(byTs).isNull ||
          lag(col("event_type"), 1).over(byTs) =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("version",
        sum(col("chg")).over(byTs.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .groupBy(col("user_id").as("du"), col("version"),
        col("event_type").as("state"))
      .agg(min(col("ts")).as("valid_from"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(byVersion))
    ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
      .join(dim,
        col("user_id") === col("du") &&
          col("ts") >= col("valid_from") &&
          (col("valid_to").isNull || col("ts") < col("valid_to")))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("version"), col("state"), col("valid_from"))
      .orderBy("event_id")
  }

  val qJoinPitSql: String =
    """WITH status AS (
      |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      |  FROM events WHERE event_type <> 'purchase'),
      |flagged AS (
      |  SELECT user_id, event_id, event_type, ts,
      |    CASE WHEN lag(event_type) OVER w IS NULL
      |           OR lag(event_type) OVER w <> event_type
      |         THEN 1 ELSE 0 END AS chg
      |  FROM status
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
      |versioned AS (
      |  SELECT user_id, event_type, ts,
      |    SUM(chg) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |                   ROWS UNBOUNDED PRECEDING) AS version
      |  FROM flagged),
      |dim AS (
      |  SELECT user_id AS du, CAST(version AS BIGINT) AS version,
      |    event_type AS state, MIN(ts) AS valid_from
      |  FROM versioned GROUP BY 1, 2, 3),
      |dim2 AS (
      |  SELECT du, version, state, valid_from,
      |    lead(valid_from) OVER (PARTITION BY du ORDER BY version)
      |      AS valid_to
      |  FROM dim)
      |SELECT f.event_id, f.user_id, CAST(f.ts AS TIMESTAMP) AS ts,
      |  d.version, d.state, d.valid_from
      |FROM events f JOIN dim2 d
      |  ON f.user_id = d.du
      | AND CAST(f.ts AS TIMESTAMP) >= d.valid_from
      | AND (d.valid_to IS NULL OR CAST(f.ts AS TIMESTAMP) < d.valid_to)
      |WHERE f.event_type = 'purchase'
      |ORDER BY f.event_id""".stripMargin

  /** Edit-distance near-dup verify — the precision stage of a dedup
    * chain spelled with exact Levenshtein instead of Jaccard: block on
    * (32-char prefix, length-bucket), score only the blocked candidate
    * pairs with `levenshtein` over the 200-char head. Both engines run
    * the identical classic DP, so distances hash-compare exactly.
    *
    * Scale: the blocking join is a pure equi-join (shuffle on the
    * block key, never all-pairs); the O(len²) DP runs only on
    * candidates, bounded by the 200-char truncation. At 100 TB the
    * recall stage would be the MinHash/SimHash chain (q_dedup_near)
    * feeding THIS as its verify — prefix blocking here keeps the op
    * self-contained and deterministic for the oracle.
    */
  val qDedupEdit: Q = (s, d) => {
    val b = Tables.documents(s, d).select(
      col("doc_id"),
      substring(col("text"), 1, 32).as("pfx"),
      expr("n_chars DIV 20").as("lb"),
      substring(col("text"), 1, 200).as("t2"),
      col("n_chars"))
    val a = b.alias("a")
    // shuffle-hash, not sort-merge: the block key is a 32-char string
    // prefix — sorting both sides on it is pure overhead when a
    // per-partition hash table does the same blocking (guide §3.1);
    // same plan shape at any scale (both sides shuffle on the block
    // key, the build side holds one block-group per slot)
    val c = b.hint("shuffle_hash").alias("c")
    a.join(c,
        col("a.pfx") === col("c.pfx") && col("a.lb") === col("c.lb") &&
          col("a.doc_id") < col("c.doc_id"))
      // BANDED DP: the 3-arg levenshtein computes only the ±20 diagonal
      // band (O(len·k), returning −1 past the threshold) instead of the
      // full O(len²) table — for kept pairs (d ≤ 20) it returns the
      // exact distance, so the output is bit-identical while every
      // REJECTED candidate (the overwhelming majority of block pairs)
      // pays ~1/5 the comparisons and exits the band early
      .where(levenshtein(col("a.t2"), col("c.t2"), 20) >= 0)
      .select(col("a.doc_id").as("doc_a"), col("c.doc_id").as("doc_b"),
        levenshtein(col("a.t2"), col("c.t2"), 20).cast("long").as("edit_dist"),
        col("a.n_chars").as("n_chars_a"), col("c.n_chars").as("n_chars_b"))
      .orderBy("doc_a", "doc_b")
  }

  val qDedupEditSql: String =
    """WITH b AS (
      |  SELECT doc_id, substr(text, 1, 32) AS pfx, n_chars // 20 AS lb,
      |    substr(text, 1, 200) AS t2, n_chars
      |  FROM documents)
      |SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
      |  CAST(levenshtein(a.t2, c.t2) AS BIGINT) AS edit_dist,
      |  a.n_chars AS n_chars_a, c.n_chars AS n_chars_b
      |FROM b a JOIN b c
      |  ON a.pfx = c.pfx AND a.lb = c.lb AND a.doc_id < c.doc_id
      |WHERE levenshtein(a.t2, c.t2) <= 20
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Distinct users per SLIDING 7-day window (1-day slide) — the
    * rolling-reach metric. Spark's `window(ts, 7d, 1d)` expands each
    * event to its 7 overlapping windows (an Expand operator, the same
    * expansion the oracle spells as a 0..6 spine join) and
    * `countDistinct` plans as the two-level partial-distinct aggregate —
    * so at 100 TB the expansion is map-side (×7 rows into the exchange,
    * combiner-collapsed to distinct (window, type, user) partials) and
    * no per-window user set ever materializes on one node.
    */
  val qAggWindowDistinct: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(col("event_type"),
        window(col("ts"), "7 days", "1 day").getField("start").as("ws"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type", "ws")

  val qAggWindowDistinctSql: String =
    """WITH e AS (
      |  SELECT event_type, user_id,
      |    time_bucket(INTERVAL 1 DAY, CAST(ts AS TIMESTAMP),
      |                TIMESTAMP '1970-01-01') AS db
      |  FROM events),
      |x AS (
      |  SELECT event_type, user_id, db - to_days(CAST(k AS INTEGER)) AS ws
      |  FROM e, UNNEST(generate_series(0, 6)) AS t(k))
      |SELECT event_type, ws, count(DISTINCT user_id) AS n_users,
      |  count(*) AS n_events
      |FROM x GROUP BY 1, 2 ORDER BY event_type, ws""".stripMargin

  /** Incremental dedup of a NEW batch against a PERSISTED corpus index —
    * the nightly-ingest pattern: yesterday's corpus (doc_id % 10 != 0)
    * has its 2-gram inverted index and per-doc gram counts materialized
    * ONCE to scratch parquet (standing in for the warehouse's signature
    * store); today's batch (doc_id % 10 == 0)
    * computes grams for ITSELF ONLY, probes the stored index with one
    * equi-join on the gram, and reports exact-Jaccard ≥ 0.5 matches.
    * The oracle recomputes everything from `documents` directly, so the
    * hash-pass proves the persisted index is equivalent to recompute.
    *
    * Scale: this is why incremental dedup is cheap — per night, gram
    * extraction is O(batch), not O(corpus), and the probe join shuffles
    * the batch's grams against a pre-bucketed index (at 100 TB the
    * index side would be bucketed-at-rest on the gram hash and the
    * exact gram stage replaced by the MinHash band index of
    * q_dedup_near, with THIS op's exact-Jaccard as its verify stage).
    */
  val qDedupIncremental: Q = (s, d) => {
    val (plan, deps) = dedupIncrementalPlan(s, d)
    // materialize the (tiny) match set eagerly so the batch-gram cache
    // is released per invocation instead of accumulating in the session
    val out = plan.localCheckpoint(true)
    deps.foreach(_.unpersist())
    out.orderBy("batch_doc", "index_doc")
  }

  /** Declarative form of [[qDedupIncremental]] before the eager
    * checkpoint — plan evidence and specs read THIS (the checkpointed
    * result is a bare RDD scan). Callers unpersist the returned deps
    * after materializing.
    */
  private[graft] def dedupIncrementalPlan(
      s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame,
         Seq[org.apache.spark.sql.Dataset[_]]) = {
    import s.implicits._
    def grams(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .flatMap { case (id, text) =>
          LlmOps.twoGrams(text).map(g => (id, g)) }
        .toDF("doc_id", "gram")
    val docs = Tables.documents(s, d)
    val tmp = Relational.scratchDir("dedup_index", d)
    Seeds.once("dedup_index", tmp) {
      val ix = grams(docs.where(col("doc_id") % 10 =!= 0))
      ix.write.mode("overwrite").parquet(s"$tmp/grams")
      ix.groupBy("doc_id").agg(count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(s"$tmp/sizes")
    }
    // referenced twice (probe + its own sizes) — cache the batch's
    // gram stream so the typed flatMap runs once per job
    val batch = grams(docs.where(col("doc_id") % 10 === 0))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Per-doc gram counts are |docs|-sized — broadcast them ONTO the
    // gram rows so the exact size bound for J ≥ 0.5 prunes pairs INSIDE
    // the probe join, before the (batch_doc, index_doc) aggregation
    // ever sees them. Soundness of the pushed bound: the kept pairs are
    // those with round(J,6) ≥ 0.5, i.e. J ≥ 0.4999995, which forces
    // |∩| ≥ 0.3333331·(na+nb); |∩| ≤ min(na,nb) then gives
    // min ≥ 0.4999997·max — by integrality (any na, nb < 1.6M) exactly
    // na ≤ 2·nb ∧ nb ≤ 2·na, so no surviving pair is dropped (guide
    // §3.2: reduce the join input with a predicate the output implies).
    // Carrying na/nb through the groupBy as grouping keys (they are
    // functions of the doc ids) also deletes the two post-aggregation
    // size joins the r17 shape paid. At 100 TB the sizes broadcast is
    // |docs|-keyed — beyond broadcast range the same attach rides the
    // doc_id-bucketed layout both artifacts share at rest.
    val bsz = batch.groupBy("doc_id").agg(count(lit(1)).as("na"))
    val bg = batch.join(broadcast(bsz), "doc_id")
    val xg = Tables.parquet(s, s"$tmp/grams")
      .join(broadcast(Tables.parquet(s, s"$tmp/sizes")
        .withColumnRenamed("n", "nb")), "doc_id")
    // build the shuffled-hash table from the BATCH side (one night's
    // ~10% of the corpus), probe with the stored index: the build side
    // of a shuffled-hash join should be the small side (guide §3.1) —
    // r17 built on the 9×-larger index side
    val inter = bg.hint("shuffle_hash").alias("b")
      .join(xg.alias("x"),
        col("b.gram") === col("x.gram") &&
          col("b.na") <= col("x.nb") * 2 && col("x.nb") <= col("b.na") * 2)
      .groupBy(col("b.doc_id").as("batch_doc"),
        col("x.doc_id").as("index_doc"),
        col("b.na").as("na"), col("x.nb").as("nb"))
      .agg(count(lit(1)).as("inter"))
    val out = inter
      .select(col("batch_doc"), col("index_doc"),
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")), 6).as("jaccard"))
      .where(col("jaccard") >= 0.5)
    (out, Seq(batch))
  }

  val qDedupIncrementalSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split(text, ' '), t -> length(t) > 0) AS ts
      |  FROM documents),
      |grams AS (
      |  SELECT DISTINCT doc_id,
      |    CASE WHEN len(ts) < 2 THEN ts[i]
      |         ELSE ts[i] || ' ' || ts[i+1] END AS gram
      |  FROM toks, UNNEST(generate_series(1, greatest(len(ts) - 1, 1)))
      |    AS g(i)
      |  WHERE len(ts) >= 1),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
      |inter AS (
      |  SELECT b.doc_id AS batch_doc, x.doc_id AS index_doc,
      |    COUNT(*) AS i
      |  FROM grams b JOIN grams x ON b.gram = x.gram
      |  WHERE b.doc_id % 10 = 0 AND x.doc_id % 10 <> 0
      |  GROUP BY 1, 2)
      |SELECT batch_doc, index_doc,
      |  ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = batch_doc
      |JOIN sizes sb ON sb.doc_id = index_doc
      |WHERE ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.5
      |ORDER BY batch_doc, index_doc""".stripMargin

  /** Rolling z-score anomaly screen over the daily series — each day is
    * scored against the TRAILING 7-day window (current day excluded, so
    * an anomaly can't suppress itself). All window inputs are integer
    * sums (Σn, Σn², k), so both engines derive bit-identical doubles
    * through the identical mean/var/z expression tree; `z` is NULL
    * until 3 trailing days exist or when the trailing window is
    * constant (var = 0). One window pass over the aggregated series —
    * the firehose never re-shuffles.
    */
  val qDqAnomaly: Q = (s, d) => {
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-7, -1)
    val sN = sum(col("n")).over(w).cast("double")
    val ssN = sum(col("n") * col("n")).over(w).cast("double")
    val k = count(col("n")).over(w).cast("double")
    val mean = sN / k
    val vr = (ssN - sN * sN / k) / (k - lit(1.0))
    val z = when(k >= 3 && vr > 0,
      (col("n").cast("double") - mean) / sqrt(vr))
    dailyCounts(s, d)
      .withColumn("z", round(z, 4))
      .withColumn("trailing_mean", round(mean, 4))
      .withColumn("anomaly", coalesce(abs(col("z")) > 2.5, lit(false)))
      .where(col("trailing_mean").isNotNull)
      .select(col("event_type"), col("day").cast("timestamp").as("day"),
        col("n"), col("trailing_mean"), col("z"), col("anomaly"))
      .orderBy("event_type", "day")
  }

  val qDqAnomalySql: String =
    s"""WITH daily AS ($dailyCountsSql),
       |r AS (
       |  SELECT event_type, day, n,
       |    CAST(sum(n) OVER w AS DOUBLE) AS s,
       |    CAST(sum(n * n) OVER w AS DOUBLE) AS ss,
       |    CAST(count(n) OVER w AS DOUBLE) AS k
       |  FROM daily
       |  WINDOW w AS (PARTITION BY event_type ORDER BY day
       |               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
       |z AS (
       |  SELECT event_type, day, n, s / k AS mean,
       |    CASE WHEN k >= 3 AND (ss - s * s / k) / (k - 1.0) > 0
       |         THEN (CAST(n AS DOUBLE) - s / k) /
       |              sqrt((ss - s * s / k) / (k - 1.0))
       |         END AS zv
       |  FROM r WHERE k > 0)
       |SELECT event_type, CAST(day AS TIMESTAMP) AS day, n,
       |  round(mean, 4) AS trailing_mean, round(zv, 4) AS z,
       |  coalesce(abs(round(zv, 4)) > 2.5, FALSE) AS anomaly
       |FROM z ORDER BY event_type, day""".stripMargin

  /** Resample-to-regular-grid with LOCF fill — the inverse companion of
    * q_time_gaps: the same simulated outage punches holes in the daily
    * series, a per-type calendar spine (`sequence` over the observed
    * min..max day) restores the full grid, and `last(_, ignoreNulls)`
    * forward-fills each hole from the last observed day, flagged
    * `was_gap`. The spine here is DIMENSION-sized (|types| × |days|) so
    * the explode is safe at any SF — the scale contrast with
    * q_time_gaps' explode-free detection is deliberate and documented
    * on both operators.
    */
  val qTimeResample: Q = (s, d) => {
    val obs = dailyCounts(s, d)
      .withColumn("dayidx", expr("datediff(day, DATE '1970-01-01')"))
      .where(!(col("dayidx") % 9).isin(4, 5))
    val spine = obs.groupBy("event_type")
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("event_type"),
        explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(obs.select(col("event_type"), col("day"), col("n")),
        Seq("event_type", "day"), "left")
      .withColumn("was_gap", col("n").isNull)
      .withColumn("n_filled", last(col("n"), ignoreNulls = true).over(w))
      .select(col("event_type"), col("day").cast("timestamp").as("day"),
        col("n_filled"), col("was_gap"))
      .orderBy("event_type", "day")
  }

  val qTimeResampleSql: String =
    s"""WITH daily AS ($dailyCountsSql),
       |obs AS (
       |  SELECT event_type, day, n FROM daily
       |  WHERE (date_diff('day', DATE '1970-01-01', day) % 9) NOT IN (4, 5)),
       |spine AS (
       |  SELECT event_type,
       |    CAST(unnest(generate_series(min(day), max(day),
       |                                INTERVAL 1 DAY)) AS DATE) AS day
       |  FROM obs GROUP BY event_type),
       |j AS (
       |  SELECT s.event_type, s.day, o.n, o.n IS NULL AS was_gap
       |  FROM spine s LEFT JOIN obs o
       |    ON o.event_type = s.event_type AND o.day = s.day)
       |SELECT event_type, CAST(day AS TIMESTAMP) AS day,
       |  last_value(n IGNORE NULLS) OVER (
       |    PARTITION BY event_type ORDER BY day
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_filled,
       |  was_gap
       |FROM j ORDER BY event_type, day""".stripMargin

  /** Inline pipeline observability — `df.observe` + `Observation`: the
    * production pattern for metering a 100 TB job WITHOUT a second
    * scan. The CollectMetrics node accumulates its aggregates on the
    * rows already flowing through the plan (here: row count,
    * high-discount count, null screen, exact-decimal revenue) and
    * delivers them to the driver when the consuming action finishes —
    * data-quality telemetry at zero extra passes, vs. the separate
    * aggregation query every naive pipeline runs twice. The returned
    * row IS the metric set; the oracle recomputes the same metrics
    * with plain SQL, so the gate proves CollectMetrics sees every row
    * exactly once (`n_consumed` — the action's own count — is pinned
    * to `n_rows`, the observe node's count).
    */
  val qObserve: Q = (s, d) => {
    import org.apache.spark.sql.Observation
    val obs = Observation() // fresh per invocation: one attach per query
    val li = Tables.lineitem(s, d).observe(obs,
      count(lit(1)).as("n_rows"),
      sum(when(col("l_discount") > lit(0.05), 1L).otherwise(0L))
        .as("n_high_discount"),
      sum(when(col("l_shipdate").isNull, 1L).otherwise(0L))
        .as("n_null_shipdate"),
      dsum(col("l_extendedprice")).as("sum_price"))
    val consumed = li.count() // the action that fires the metrics
    val m = obs.get
    import s.implicits._
    Seq((consumed, m("n_rows").asInstanceOf[Long],
        m("n_high_discount").asInstanceOf[Long],
        m("n_null_shipdate").asInstanceOf[Long],
        m("sum_price").asInstanceOf[Double]))
      .toDF("n_consumed", "n_rows", "n_high_discount", "n_null_shipdate",
        "sum_price")
  }

  val qObserveSql: String =
    s"""SELECT count(*) AS n_consumed, count(*) AS n_rows,
       |  CAST(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END)
       |       AS BIGINT) AS n_high_discount,
       |  CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
       |       AS BIGINT) AS n_null_shipdate,
       |  ${dsumSql("l_extendedprice")} AS sum_price
       |FROM lineitem""".stripMargin

  /** Spark 4 SQL scripting — `BEGIN … DECLARE … WHILE … END` control
    * flow executed entirely by the SQL engine (no driver-side loop in
    * user code): a 12-iteration month loop accumulates the urgent-order
    * totals into DECIMAL variables (exact, so the iteration order adds
    * nothing the oracle's one-shot aggregate wouldn't), then the final
    * SELECT is the script's result. Scripting is the orchestration
    * layer — each statement inside is still a full declarative plan
    * (scan, pushdown, codegen), which is why the loop body stays a
    * plain aggregate query. The oracle computes the same totals in one
    * statement; the hash-pass proves the scripted fold is lossless.
    */
  val qSqlScript: Q = (caller, d) => {
    // scripting is enabled on a clone of the caller's session, so the
    // caller's conf is never written and the returned frame belongs to
    // the clone. The script's cached table is dropped even on a
    // mid-script failure: the cache manager is shared by every session
    // of the application, clones included
    val s = GraftShim.cloneSession(caller)
    s.conf.set("spark.sql.scripting.enabled", "true")
    try {
      Tables.orders(s, d).createOrReplaceTempView("graft_orders_script")
      s.sql(
      """BEGIN
        |  DECLARE m INT DEFAULT 1;
        |  DECLARE total DECIMAL(28,2) DEFAULT 0.00;
        |  DECLARE n BIGINT DEFAULT 0;
        |  -- the loop body scans the table 24x; cache it once up front
        |  -- (and drop it before the final SELECT) so the script pays
        |  -- one parquet read, not twenty-four
        |  CACHE TABLE graft_orders_script;
        |  WHILE m <= 12 DO
        |    -- one multi-assignment per iteration: every SET is its own
        |    -- statement (= its own job), and statement dispatch is the
        |    -- script's dominant cost — measured, see SCALE.md
        |    SET (total, n, m) = (
        |      SELECT total + coalesce(SUM(CAST(o_totalprice
        |               AS DECIMAL(18,2))), 0.00),
        |             n + count(*), m + 1
        |      FROM graft_orders_script
        |      WHERE month(o_orderdate) = m
        |        AND o_orderpriority = '1-URGENT');
        |  END WHILE;
        |  UNCACHE TABLE graft_orders_script;
        |  SELECT CAST(total AS DOUBLE) AS urgent_total, n AS n_urgent,
        |         m - 1 AS n_months;
        |END""".stripMargin)
    } finally {
      try {
        if (s.catalog.tableExists("graft_orders_script") &&
            s.catalog.isCached("graft_orders_script"))
          s.catalog.uncacheTable("graft_orders_script")
      } catch { case _: Exception => }
    }
  }

  val qSqlScriptSql: String =
    """SELECT
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS urgent_total,
      |  count(*) AS n_urgent,
      |  12 AS n_months
      |FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin

  /** Dead-letter / quarantine ingestion — the error-handling half of
    * every production scan: a JSON-lines feed (seeded once per sf dir;
    * every 37th record is a deterministically truncated line) is read
    * in PERMISSIVE mode with `columnNameOfCorruptRecord`, valid rows
    * aggregate while malformed lines route to the quarantine count —
    * no job failure, no silent drop. The DuckDB oracle re-reads the
    * same bytes line-by-line and classifies with `json_valid`, so the
    * hash-pass proves Spark's permissive parser quarantines exactly
    * the malformed lines and loses none of the valid ones.
    *
    * Scale: PERMISSIVE parsing is row-local (the corrupt column is
    * populated per-record inside the scan); the aggregate is one
    * conditional pass. The quarantine side IS written out — malformed
    * raw records land in a dead-letter parquet dir for replay, and the
    * gated `n_quarantined` is read back from that file, so the hash
    * covers the write path too (both halves of production routing).
    */
  val qScanQuarantine: Q = (s, d) => {
    val dir = graft.queries.Scratch.path("quarantine_lines", d)
    Seeds.once("quarantine_lines", dir) {
      Tables.orders(s, d)
        .select(when(col("o_orderkey") % 37 === 0,
            concat(lit("{\"k\":"), col("o_orderkey"), lit(",\"p\":")))
          .otherwise(concat(lit("{\"k\":"), col("o_orderkey"),
            lit(",\"p\":"),
            col("o_totalprice").cast(DecimalType(18, 2)).cast("string"),
            lit("}")))
          .as("value"))
        .write.mode("overwrite").text(dir)
    }
    // cached for the two consumers below; Spark additionally disallows a
    // query whose file scan would reference ONLY the internal corrupt
    // column (the dead-letter projection) — the documented answer is to
    // parse once into cache and route from there
    val parsed = s.read
      .schema("k LONG, p DOUBLE, _corrupt_record STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir)
      .persist()
    try {
      // the dead-letter half: malformed lines are WRITTEN out (raw bytes
      // preserved for replay/debug), not just counted — and the gated
      // n_quarantined below is read back FROM the dead-letter file, so
      // the oracle hash proves the write path captured exactly the
      // malformed rows (lost none, duplicated none)
      val dead = graft.queries.Scratch.path("quarantine_dead", d)
      parsed.where(col("_corrupt_record").isNotNull)
        .select(col("_corrupt_record").as("raw_record"))
        .write.mode("overwrite").parquet(dead)
      val quarantined = Tables.parquet(s, dead)
      parsed
        .where(col("_corrupt_record").isNull)
        .agg(
          count(lit(1)).as("n_valid"),
          sum(col("p").cast(DecimalType(18, 2))).cast("double").as("sum_p"))
        .crossJoin(broadcast(
          quarantined.agg(count(lit(1)).as("n_quarantined"))))
        .select(col("n_valid"), col("n_quarantined"), col("sum_p"))
        .localCheckpoint(true)
    } finally { parsed.unpersist(); () }
  }

  val qScanQuarantineSql: String = {
    val p = graft.queries.Scratch.sqlPath("quarantine_lines")
    s"""WITH l AS (
       |  SELECT line FROM read_csv('$p/part-*',
       |    columns={'line': 'VARCHAR'}, header=false,
       |    delim='', quote='', escape='')
       |)
       |SELECT
       |  CAST(sum(CASE WHEN json_valid(line) THEN 1 ELSE 0 END)
       |       AS BIGINT) AS n_valid,
       |  CAST(sum(CASE WHEN json_valid(line) THEN 0 ELSE 1 END)
       |       AS BIGINT) AS n_quarantined,
       |  CAST(SUM(CASE WHEN json_valid(line)
       |           THEN CAST(line->>'$$.p' AS DECIMAL(18,2)) END)
       |       AS DOUBLE) AS sum_p
       |FROM l""".stripMargin
  }

  /** Chi-squared independence test between event type and day-of-week —
    * the categorical-drift cousin of [[qStatsAb]]: is traffic mix
    * independent of weekday? One grouped pass builds the contingency
    * cells; everything after runs on the AGGREGATED |types|×7 table, so
    * at 100 TB the statistical machinery costs nothing beyond the first
    * rollup (and the cells are eagerly checkpointed once, not rebuilt
    * for each marginal). Cross-engine exactness: cell counts and
    * marginals are integers; each expected value is the single
    * expression CAST(r AS DOUBLE)*c/tot evaluated identically by both
    * engines; per-cell terms are rounded to 6 dp and summed in DECIMAL
    * so addition order cannot matter.
    */
  val qStatsChisq: Q = (s, d) => {
    import org.apache.spark.sql.types.{DecimalType => Dec}
    val cells = Tables.events(s, d)
      .groupBy(col("event_type"), dayofweek(col("ts")).as("dow"))
      .agg(count(lit(1)).as("o"))
      .localCheckpoint(true) // |types|×7 rows; one events scan, 4 readers
    val r = cells.groupBy("event_type").agg(sum("o").as("r"))
    val c = cells.groupBy("dow").agg(sum("o").as("c"))
    val g = cells.agg(sum("o").as("tot"),
                      countDistinct("event_type").as("nt"),
                      countDistinct("dow").as("nd"))
    cells.join(r, "event_type").join(c, "dow").crossJoin(broadcast(g))
      .withColumn("e", col("r").cast("double") * col("c") / col("tot"))
      .groupBy("event_type")
      .agg(
        min(col("r")).as("n"),
        sum(round((col("o") - col("e")) * (col("o") - col("e")) / col("e"),
                  6).cast(Dec(18, 6))).cast("double").as("chi2_part"),
        min((col("nt") - 1) * (col("nd") - 1)).as("dof"))
      .orderBy("event_type")
  }

  val qStatsChisqSql: String =
    """WITH cells AS (
      |  SELECT event_type,
      |         dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS dow,
      |         count(*) AS o
      |  FROM events GROUP BY 1, 2),
      |r AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r
      |      FROM cells GROUP BY 1),
      |c AS (SELECT dow, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
      |g AS (SELECT CAST(sum(o) AS BIGINT) AS tot,
      |             count(DISTINCT event_type) AS nt,
      |             count(DISTINCT dow) AS nd FROM cells),
      |t AS (
      |  SELECT cells.event_type, cells.o,
      |         CAST(r.r AS DOUBLE) * c.c / g.tot AS e,
      |         r.r AS r, g.nt AS nt, g.nd AS nd
      |  FROM cells JOIN r USING (event_type) JOIN c USING (dow)
      |  CROSS JOIN g)
      |SELECT event_type, min(r) AS n,
      |  CAST(SUM(CAST(round((o - e) * (o - e) / e, 6)
      |                AS DECIMAL(18,6))) AS DOUBLE) AS chi2_part,
      |  min((nt - 1) * (nd - 1)) AS dof
      |FROM t GROUP BY 1 ORDER BY 1""".stripMargin

  /** Day-of-week seasonality profile over the daily series — per
    * (event_type, weekday): total volume, observed days, and the
    * seasonal index (weekday mean ÷ type-wide daily mean). Both means
    * and the index are single divisions over integer-exact sums written
    * identically in both engines, so no tolerance is needed. Everything
    * downstream of the [[dailyCounts]] rollup is |types|×7-sized.
    */
  val qTimeSeasonality: Q = (s, d) => {
    val daily = dailyCounts(s, d)
    val byDow = daily.withColumn("dow", dayofweek(col("day")))
      .groupBy("event_type", "dow")
      .agg(sum("n").as("n_dow"), count(lit(1)).as("days"))
    val byType = daily.groupBy("event_type")
      .agg(sum("n").as("n_type"), count(lit(1)).as("days_type"))
    byDow.join(byType, "event_type")
      .select(col("event_type"), col("dow"), col("n_dow"), col("days"),
        round((col("n_dow").cast("double") / col("days")) /
              (col("n_type").cast("double") / col("days_type")), 6)
          .as("seasonal_idx"))
      .orderBy("event_type", "dow")
  }

  val qTimeSeasonalitySql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |by_dow AS (
      |  SELECT event_type, dayofweek(day) + 1 AS dow,
      |         CAST(sum(n) AS BIGINT) AS n_dow, count(*) AS days
      |  FROM daily GROUP BY 1, 2),
      |by_type AS (
      |  SELECT event_type, CAST(sum(n) AS BIGINT) AS n_type,
      |         count(*) AS days_type
      |  FROM daily GROUP BY 1)
      |SELECT event_type, dow, n_dow, days,
      |  round((CAST(n_dow AS DOUBLE) / days) /
      |        (CAST(n_type AS DOUBLE) / days_type), 6) AS seasonal_idx
      |FROM by_dow JOIN by_type USING (event_type)
      |ORDER BY event_type, dow""".stripMargin

  /** Per-type OLS trend line (slope / intercept / R²) of daily event
    * value against time — the "is this metric drifting" readout, fit
    * from the five mergeable sufficient statistics
    * (n, Σx, Σy, Σxy, Σx², Σy²) rather than a solver.
    *
    * Exactness: x is an integer day index and y a 2-decimal value, so
    * every sufficient statistic is an exact DECIMAL sum; the closed-form
    * slope/intercept/R² are computed from single casts of those exact
    * sums with an identical expression tree in both engines — every
    * double op sees bit-identical operands, so `round(…, 6)` cannot
    * straddle a boundary.
    *
    * At 100 TB: the statistics combine map-side (one hash aggregate,
    * one exchange on the 5-value type key); the fit itself touches 5
    * rows. This moment-merge shape is also how the fit incrementalizes:
    * per-partition moments union with yesterday's without refitting.
    */
  val qStatsRegression: Q = (s, d) => {
    val e = Tables.events(s, d).select(
      col("event_type"),
      datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
        .cast("long").as("x"),
      col("value").cast(DecimalType(18, 2)).as("y"))
    val m = e.groupBy("event_type").agg(
      count(lit(1)).cast("double").as("n"),
      sum("x").cast("double").as("sx"),
      sum(col("x") * col("x")).cast("double").as("sxx"),
      sum("y").cast("double").as("sy"),
      sum((col("x") * col("y")).cast(DecimalType(28, 2))).cast("double").as("sxy"),
      sum((col("y") * col("y")).cast(DecimalType(28, 4))).cast("double").as("syy"))
    m.select(
        col("event_type"),
        col("n").cast("long").as("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
              (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
        round((col("sy") - ((col("n") * col("sxy") - col("sx") * col("sy")) /
              (col("n") * col("sxx") - col("sx") * col("sx"))) * col("sx")) /
              col("n"), 6).as("intercept"),
        round(((col("n") * col("sxy") - col("sx") * col("sy")) *
               (col("n") * col("sxy") - col("sx") * col("sy"))) /
              ((col("n") * col("sxx") - col("sx") * col("sx")) *
               (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("r2"))
      .orderBy("event_type")
  }

  val qStatsRegressionSql: String =
    """WITH m AS (
      |  SELECT event_type,
      |    CAST(count(*) AS DOUBLE) AS n,
      |    CAST(sum(x) AS DOUBLE) AS sx,
      |    CAST(sum(x * x) AS DOUBLE) AS sxx,
      |    CAST(sum(y) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(x * y AS DECIMAL(28,2))) AS DOUBLE) AS sxy,
      |    CAST(sum(CAST(y * y AS DECIMAL(28,4))) AS DOUBLE) AS syy
      |  FROM (SELECT event_type,
      |          CAST(date_diff('day', DATE '2024-01-01',
      |                         CAST(ts AS DATE)) AS BIGINT) AS x,
      |          CAST(value AS DECIMAL(18,2)) AS y
      |        FROM events)
      |  GROUP BY event_type)
      |SELECT event_type, CAST(n AS BIGINT) AS n,
      |  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
      |  ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n,
      |        6) AS intercept,
      |  ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
      |        ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
      |FROM m ORDER BY event_type""".stripMargin

  /** Two-sample Kolmogorov–Smirnov statistic between the `click` and
    * `view` value distributions — the standard "did this distribution
    * shift" test a feature-drift monitor runs between cohorts.
    *
    * D = max_x |F₁(x) − F₂(x)| is computed on the GROUPED value domain:
    * one aggregate collapses the rows to (value, n₁, n₂), a window
    * ordered by value forms both ECDFs cumulatively, and the max runs
    * over |c₁·n₂ − c₂·n₁| in exact BIGINT arithmetic — the single
    * division by n₁·n₂ happens once, on identical integers, in both
    * engines.
    *
    * At 100 TB: the row table collapses to ≤ |distinct values| rows
    * (bounded at 49 002 by the 2-decimal domain) before the window ever
    * runs, so the unpartitioned ECDF window is over a bounded series —
    * same shape as the PSI drift screen's bucket table, not a sort of
    * the firehose.
    */
  val qStatsKs: Q = (s, d) => {
    val e = Tables.events(s, d)
      .where(col("event_type").isin("click", "view"))
      .groupBy(col("value").cast(DecimalType(18, 2)).as("v"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("d1"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("d2"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ecdf = e.select(
      sum("d1").over(w).as("c1"),
      sum("d2").over(w).as("c2"))
    val tot = ecdf.agg(max("c1").as("n1"), max("c2").as("n2"))
    ecdf
      .crossJoin(broadcast(tot))
      .groupBy("n1", "n2")
      .agg(max(abs(col("c1") * col("n2") - col("c2") * col("n1")))
        .as("dnum"))
      .select(
        col("n1"), col("n2"),
        round(col("dnum").cast("double") /
              (col("n1") * col("n2")).cast("double"), 6).as("ks_d"))
  }

  val qStatsKsSql: String =
    """WITH g AS (
      |  SELECT CAST(value AS DECIMAL(18,2)) AS v,
      |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS d1,
      |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS d2
      |  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1
      |), ecdf AS (
      |  SELECT
      |    CAST(sum(d1) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS c1,
      |    CAST(sum(d2) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS c2
      |  FROM g
      |), tot AS (
      |  SELECT max(c1) AS n1, max(c2) AS n2 FROM ecdf
      |)
      |SELECT n1, n2,
      |  ROUND(CAST(max(abs(c1 * n2 - c2 * n1)) AS DOUBLE) /
      |        CAST(n1 * n2 AS DOUBLE), 6) AS ks_d
      |FROM ecdf, tot GROUP BY n1, n2""".stripMargin

  /** Mann–Whitney U (Wilcoxon rank-sum) between the `click` and `view`
    * value distributions — the rank-based location test that
    * complements [[qStatsKs]]'s shape test and [[qStatsAb]]'s
    * parametric t-test. Tie-corrected normal approximation.
    *
    * Exactness: ranks are computed on the GROUPED value domain — a
    * value with c rows after B predecessors holds average rank
    * B + (c+1)/2, a dyadic half that doubles carry exactly — so the
    * rank sum, U, the tie term Σ(t³−t), and every variance input are
    * exact; both engines feed identical doubles through one identical
    * sqrt/divide tail.
    *
    * At 100 TB: same shape as the KS screen — one combiner-collapsed
    * aggregate bounds the row table to ≤ |distinct values| (≤ 49 002
    * here), one window over that bounded series, one single-row reduce.
    */
  val qStatsMannWhitney: Q = (s, d) => {
    val g = Tables.events(s, d)
      .where(col("event_type").isin("click", "view"))
      .groupBy(col("value").cast(DecimalType(18, 2)).as("v"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("d1"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("d2"))
      .withColumn("c", col("d1") + col("d2"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = g.withColumn("b", coalesce(sum("c").over(w), lit(0L)))
    ranked
      .agg(
        sum("d1").as("n1"),
        sum("d2").as("n2"),
        // rank sum of sample 1, doubled to stay integral: Σ d1·(2B+c+1)
        sum(col("d1") * (col("b") * 2 + col("c") + 1)).as("r1x2"),
        sum(col("c") * col("c") * col("c") - col("c")).as("ties"))
      .select(
        col("n1"), col("n2"),
        ((col("r1x2").cast("double") / 2.0) -
          (col("n1") * (col("n1") + 1)).cast("double") / 2.0).as("u1"),
        col("ties"))
      .select(
        col("n1"), col("n2"), round(col("u1"), 6).as("u1"),
        round(
          (col("u1") - (col("n1") * col("n2")).cast("double") / 2.0) /
          sqrt((col("n1") * col("n2")).cast("double") / 12.0 *
            ((col("n1") + col("n2") + 1).cast("double") -
             col("ties").cast("double") /
               ((col("n1") + col("n2")).cast("double") *
                (col("n1") + col("n2") - 1).cast("double")))), 6)
          .as("z"))
  }

  val qStatsMannWhitneySql: String =
    """WITH g AS (
      |  SELECT CAST(value AS DECIMAL(18,2)) AS v,
      |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS d1,
      |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS d2
      |  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1
      |), r AS (
      |  SELECT d1, d2, d1 + d2 AS c,
      |    coalesce(CAST(sum(d1 + d2) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
      |      0) AS b
      |  FROM g
      |), a AS (
      |  SELECT CAST(sum(d1) AS BIGINT) AS n1, CAST(sum(d2) AS BIGINT) AS n2,
      |    CAST(sum(d1 * (b * 2 + c + 1)) AS BIGINT) AS r1x2,
      |    CAST(sum(c * c * c - c) AS BIGINT) AS ties
      |  FROM r
      |), u AS (
      |  SELECT n1, n2, ties,
      |    (CAST(r1x2 AS DOUBLE) / 2.0) -
      |      CAST(n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u1
      |  FROM a)
      |SELECT n1, n2, ROUND(u1, 6) AS u1,
      |  ROUND((u1 - CAST(n1 * n2 AS DOUBLE) / 2.0) /
      |    sqrt(CAST(n1 * n2 AS DOUBLE) / 12.0 *
      |      (CAST(n1 + n2 + 1 AS DOUBLE) -
      |       CAST(ties AS DOUBLE) /
      |         (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE)))),
      |    6) AS z
      |FROM u""".stripMargin

  /** Freshness / staleness report per event type — the latest event
    * timestamp, its lag behind the global high-water mark in exact
    * integer minutes, and a staleness flag at the 24 h SLA. The DQ
    * check every ingestion dashboard runs first.
    *
    * At 100 TB: one map-combined max per type plus a broadcast of the
    * one-row global max — the row table is scanned once and never
    * shuffled (the per-type maxes are the exchange).
    */
  val qDqFreshness: Q = (s, d) => {
    val perType = Tables.events(s, d)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), max(unix_micros(col("ts"))).as("last_us"))
    val tot = perType.agg(max("last_us").as("hw_us"))
    perType
      .crossJoin(broadcast(tot))
      .select(
        col("event_type"), col("n"),
        timestamp_micros(col("last_us")).as("last_ts"),
        expr("(hw_us - last_us) div 60000000").as("lag_minutes"),
        (col("hw_us") - col("last_us") > lit(86400000000L)).as("stale"))
      .orderBy("event_type")
  }

  val qDqFreshnessSql: String =
    """WITH p AS (
      |  SELECT event_type, count(*) AS n,
      |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us
      |  FROM events GROUP BY 1
      |), t AS (SELECT max(last_us) AS hw_us FROM p)
      |SELECT event_type, n, make_timestamp(last_us) AS last_ts,
      |  (hw_us - last_us) // 60000000 AS lag_minutes,
      |  hw_us - last_us > 86400000000 AS stale
      |FROM p, t ORDER BY event_type""".stripMargin

  /** Functional-dependency audit — for each candidate FD X → Y, how many
    * X-groups carry more than one distinct Y (and how many rows sit in
    * the violating groups). One holding FD (nationkey → regionkey) and
    * one expected-violated FD (custkey → orderpriority) so both verdicts
    * are exercised; this is the profiling step that decides whether a
    * column is safe to denormalize or must stay keyed.
    *
    * At 100 TB: each FD is one map-side-combined aggregate on its LHS
    * key plus a ~|X| rollup — no joins, no row movement beyond the
    * grouped exchange; candidate FDs audit in one pass each.
    */
  val qDqFd: Q = (s, d) => {
    def audit(df: DataFrame, fd: String, lhs: String, rhs: String) =
      df.groupBy(col(lhs))
        .agg(count(lit(1)).as("rows"),
             count_distinct(col(rhs)).as("nrhs"))
        .agg(
          count(lit(1)).as("lhs_groups"),
          sum(when(col("nrhs") > 1, 1L).otherwise(0L)).as("violating_groups"),
          sum(when(col("nrhs") > 1, col("rows")).otherwise(0L))
            .as("violating_rows"),
          max("nrhs").as("max_distinct_rhs"))
        .select(lit(fd).as("fd"), col("lhs_groups"), col("violating_groups"),
                col("violating_rows"), col("max_distinct_rhs"))
    audit(Tables.nation(s, d), "nationkey->regionkey",
          "n_nationkey", "n_regionkey")
      .unionAll(audit(Tables.orders(s, d), "custkey->orderpriority",
                      "o_custkey", "o_orderpriority"))
      .orderBy("fd")
  }

  val qDqFdSql: String =
    """WITH a AS (
      |  SELECT n_nationkey AS k, count(*) AS rows_,
      |         count(DISTINCT n_regionkey) AS nrhs
      |  FROM nation GROUP BY 1
      |), b AS (
      |  SELECT o_custkey AS k, count(*) AS rows_,
      |         count(DISTINCT o_orderpriority) AS nrhs
      |  FROM orders GROUP BY 1
      |), u AS (
      |  SELECT 'nationkey->regionkey' AS fd, count(*) AS lhs_groups,
      |    CAST(sum(CASE WHEN nrhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS violating_groups,
      |    CAST(sum(CASE WHEN nrhs > 1 THEN rows_ ELSE 0 END) AS BIGINT)
      |      AS violating_rows,
      |    max(nrhs) AS max_distinct_rhs
      |  FROM a
      |  UNION ALL
      |  SELECT 'custkey->orderpriority', count(*),
      |    CAST(sum(CASE WHEN nrhs > 1 THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(sum(CASE WHEN nrhs > 1 THEN rows_ ELSE 0 END) AS BIGINT),
      |    max(nrhs)
      |  FROM b)
      |SELECT * FROM u ORDER BY fd""".stripMargin

  /** k-anonymity screen over customer quasi-identifiers
    * (mktsegment, nationkey, acctbal rounded to the thousand): per
    * segment, the equivalence-class census a privacy review reads —
    * class count, smallest class, and how many classes / rows fall
    * below k = 5 (re-identifiable under the QI combination).
    *
    * At 100 TB: one aggregate on the QI tuple, one ~|segments| rollup;
    * the QI class table is the (bounded) join key domain, never the row
    * table. This is the same two-level census as the FD audit, keyed on
    * a composite.
    */
  val qDqKanon: Q = (s, d) =>
    Tables.customer(s, d)
      .groupBy(
        col("c_mktsegment"), col("c_nationkey"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bal_k"))
      .agg(count(lit(1)).as("sz"))
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n_classes"),
        min("sz").as("min_class"),
        sum(when(col("sz") < 5, 1L).otherwise(0L)).as("classes_below_k"),
        sum(when(col("sz") < 5, col("sz")).otherwise(0L)).as("rows_at_risk"),
        sum("sz").as("n_rows"))
      .orderBy("c_mktsegment")

  val qDqKanonSql: String =
    """WITH cls AS (
      |  SELECT c_mktsegment, c_nationkey,
      |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_k,
      |    count(*) AS sz
      |  FROM customer GROUP BY 1, 2, 3)
      |SELECT c_mktsegment, count(*) AS n_classes, min(sz) AS min_class,
      |  CAST(sum(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS classes_below_k,
      |  CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
      |    AS rows_at_risk,
      |  CAST(sum(sz) AS BIGINT) AS n_rows
      |FROM cls GROUP BY 1 ORDER BY 1""".stripMargin

  /** Benford first-digit audit — the classic fabricated-data screen:
    * the distribution of leading significant digits of order totals
    * against Benford's law log10(1 + 1/d). The digit is extracted from
    * the INTEGER cents string (round(x*100) then first character), not
    * from floor(log10(x)) — log10 sits a ULP below integers at exact
    * powers of ten and the two engines could disagree on the digit of
    * 999.999…; an integer's decimal string is engine-identical.
    * One scan, digit-keyed combiner aggregate (≤ 9 groups), total via
    * a 1-row broadcast. The op REPORTS divergence (obs vs expected
    * freq + the chi-squared contribution); this synthetic data is
    * visibly non-Benford, which is exactly what the audit should say.
    */
  val qDqBenford: Q = (s, d) => {
    val digits = Tables.orders(s, d)
      .where(col("o_totalprice") > 0)
      .select(substring(round(col("o_totalprice") * 100, 0)
        .cast("long").cast("string"), 1, 1).cast("long").as("digit"))
    val total = digits.agg(count(lit(1)).as("n_total"))
    digits.groupBy("digit")
      .agg(count(lit(1)).as("n_obs"))
      .crossJoin(broadcast(total)) // 1-row total — constant-size build
      .select(col("digit"), col("n_obs"),
        round(col("n_obs").cast("double") / col("n_total"), 6)
          .as("obs_freq"),
        round(log10(lit(1.0) + lit(1.0) / col("digit")), 6)
          .as("benford_freq"),
        round(pow(col("n_obs").cast("double") / col("n_total") -
                  log10(lit(1.0) + lit(1.0) / col("digit")), 2) /
              log10(lit(1.0) + lit(1.0) / col("digit")), 6)
          .as("chisq_term"))
      .orderBy("digit")
  }

  val qDqBenfordSql: String =
    """WITH d AS (
      |  SELECT CAST(substring(CAST(CAST(ROUND(o_totalprice * 100, 0)
      |    AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
      |  FROM orders WHERE o_totalprice > 0
      |), tot AS (SELECT count(*) AS n_total FROM d)
      |SELECT digit, count(*) AS n_obs,
      |  ROUND(CAST(count(*) AS DOUBLE) / (SELECT n_total FROM tot), 6)
      |    AS obs_freq,
      |  ROUND(log10(1.0 + 1.0 / digit), 6) AS benford_freq,
      |  ROUND(pow(CAST(count(*) AS DOUBLE) / (SELECT n_total FROM tot)
      |            - log10(1.0 + 1.0 / digit), 2)
      |        / log10(1.0 + 1.0 / digit), 6) AS chisq_term
      |FROM d GROUP BY digit ORDER BY digit""".stripMargin

  /** Source-vs-derived reconciliation — the migration/audit join: does
    * the stored order total equal the total re-derived from its line
    * items (extendedprice·(1−discount)·(1+tax), 2-dp-rounded exact
    * decimal sum)? FULL OUTER join of the orders table against the
    * lineitem rollup, each row classified match / mismatch /
    * missing_lineitem / missing_order at a 1-cent tolerance, then a
    * bounded per-status aggregate of counts and total absolute drift.
    *
    * At 100 TB: one orderkey exchange per side feeding a co-partitioned
    * full outer merge; the classification is row-local and the final
    * aggregate is 4 groups. This synthetic data's totals are NOT
    * lineitem-derived, so the audit reports what is true: all
    * non-orphan orders mismatch, with the drift quantified.
    */
  val qDqReconcile: Q = (s, d) => {
    // every money/rate column is a true 2-dp quantity stored as double,
    // so casting to decimal recovers it EXACTLY in both engines and the
    // whole derivation runs in exact decimal arithmetic — no round()
    // anywhere mid-pipeline (a round on the double products diverged 5
    // cents at sf0.01: Spark rounds the shortest decimal repr, DuckDB
    // the binary value). Only the final 4-row sums round, at 2 dp, so
    // the double cast stays exact far past sf1.
    val dec2 = org.apache.spark.sql.types.DecimalType(18, 2)
    val rate = org.apache.spark.sql.types.DecimalType(4, 2)
    val li = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_extendedprice").cast(dec2)
               * (lit(1).cast(rate) - col("l_discount").cast(rate))
               * (lit(1).cast(rate) + col("l_tax").cast(rate)))
             .as("derived"))
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice").cast(dec2).as("stored"))
    // shuffled-hash full-outer (supported since 3.1): both sides shuffle
    // on the order key regardless; hashing the aggregated lineitem side
    // skips the two per-partition sorts the sort-merge form paid
    o.join(li.hint("shuffle_hash"),
        col("o_orderkey") === col("l_orderkey"), "full_outer")
      .select(
        when(col("l_orderkey").isNull, lit("missing_lineitem"))
          .when(col("o_orderkey").isNull, lit("missing_order"))
          .when(abs(col("stored") - col("derived")) <= 0.01, lit("match"))
          .otherwise(lit("mismatch")).as("status"),
        abs(coalesce(col("stored"), lit(0).cast(dec2)) -
            coalesce(col("derived"), lit(0).cast(dec2))).as("adiff"))
      .groupBy("status")
      .agg(count(lit(1)).as("n"),
           round(sum(col("adiff")), 2).cast("double").as("sum_absdiff"))
      .orderBy("status")
  }

  val qDqReconcileSql: String =
    """WITH li AS (
      |  SELECT l_orderkey,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |        * (1 - CAST(l_discount AS DECIMAL(4,2)))
      |        * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS derived
      |  FROM lineitem GROUP BY 1
      |), j AS (
      |  SELECT
      |    CASE WHEN li.l_orderkey IS NULL THEN 'missing_lineitem'
      |         WHEN o.o_orderkey IS NULL THEN 'missing_order'
      |         WHEN abs(CAST(o.o_totalprice AS DECIMAL(18,2)) - li.derived)
      |              <= 0.01 THEN 'match'
      |         ELSE 'mismatch' END AS status,
      |    abs(coalesce(CAST(o.o_totalprice AS DECIMAL(18,2)), 0)
      |        - coalesce(li.derived, 0)) AS adiff
      |  FROM orders o FULL OUTER JOIN li ON o.o_orderkey = li.l_orderkey
      |)
      |SELECT status, count(*) AS n,
      |  CAST(ROUND(SUM(adiff), 2) AS DOUBLE) AS sum_absdiff
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  /** One-way ANOVA across order priorities — the k-group
    * generalization of [[qStatsAb]]'s two-sample test: does mean order
    * value differ by priority? One grouped pass computes each group's
    * exact-decimal count/sum/sum-of-squares (prices are true 2-dp
    * quantities, so every aggregate is exact integer arithmetic in
    * decimal — no order-dependent double accumulation over the
    * corpus); the F statistic assembles driver-free from the k-row
    * table via the sum-of-squares identities (SSB = Σs²ᵍ/nᵍ − s²/n,
    * SSW = SS − Σs²ᵍ/nᵍ). Only the final k-term reductions and
    * divisions run in double — a 5-term sum whose 1-ulp order noise
    * sits far inside the 2-dp round. At 100 TB: one combiner-collapsed
    * aggregate, then constant-size arithmetic.
    */
  val qStatsAnova: Q = (s, d) => {
    val dec2 = org.apache.spark.sql.types.DecimalType(18, 2)
    val g = Tables.orders(s, d)
      .select(col("o_orderpriority").as("grp"),
              col("o_totalprice").cast(dec2).as("v"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
           sum(col("v") * col("v")).as("ssv"))
    g.agg(
        count(lit(1)).as("k"),
        sum(col("n")).as("n_tot"),
        // Σ sv²/n over the k group rows: the raw double sum is
        // order-dependent, and at sf1 the terms are ~1e17 — a few ulps
        // of reordering noise dwarfs the round-2 gate on ms_between
        // (this exact flake surfaced between two DuckDB runs of the
        // SAME dump: parallel partial-combine order). Round each term
        // to 2 dp (full-precision quotients — no structural half-ties)
        // and sum in DECIMAL so both engines add identical exact values
        // in any order.
        sum(round(col("sv").cast("double") * col("sv").cast("double") /
            col("n").cast("double"), 2)
          .cast(org.apache.spark.sql.types.DataTypes
            .createDecimalType(38, 2))).cast("double").as("sb"),
        sum(col("sv")).cast("double").as("s_all"),
        sum(col("ssv")).cast("double").as("ss_all"))
      .select(col("k"), col("n_tot").as("n"),
        round((col("sb") - col("s_all") * col("s_all") /
               col("n_tot").cast("double")) / (col("k") - 1), 2)
          .as("ms_between"),
        round((col("ss_all") - col("sb")) /
              (col("n_tot") - col("k")).cast("double"), 2).as("ms_within"),
        round(((col("sb") - col("s_all") * col("s_all") /
                col("n_tot").cast("double")) / (col("k") - 1)) /
              ((col("ss_all") - col("sb")) /
               (col("n_tot") - col("k")).cast("double")), 6).as("f_stat"))
  }

  val qStatsAnovaSql: String =
    """WITH g AS (
      |  SELECT o_orderpriority AS grp, count(*) AS n,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS sv,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))
      |        * CAST(o_totalprice AS DECIMAL(18,2))) AS ssv
      |  FROM orders GROUP BY 1
      |)
      |SELECT count(*) AS k, CAST(sum(n) AS BIGINT) AS n,
      |  ROUND((CAST(sum(CAST(ROUND(CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)
      |               / CAST(n AS DOUBLE), 2) AS DECIMAL(38,2))) AS DOUBLE)
      |         - CAST(sum(sv) AS DOUBLE) * CAST(sum(sv) AS DOUBLE)
      |           / CAST(sum(n) AS DOUBLE)) / (count(*) - 1), 2)
      |    AS ms_between,
      |  ROUND((CAST(sum(ssv) AS DOUBLE)
      |         - CAST(sum(CAST(ROUND(CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)
      |               / CAST(n AS DOUBLE), 2) AS DECIMAL(38,2))) AS DOUBLE))
      |        / CAST(sum(n) - count(*) AS DOUBLE), 2) AS ms_within,
      |  ROUND(((CAST(sum(CAST(ROUND(CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)
      |              / CAST(n AS DOUBLE), 2) AS DECIMAL(38,2))) AS DOUBLE)
      |          - CAST(sum(sv) AS DOUBLE) * CAST(sum(sv) AS DOUBLE)
      |            / CAST(sum(n) AS DOUBLE)) / (count(*) - 1))
      |        / ((CAST(sum(ssv) AS DOUBLE)
      |            - CAST(sum(CAST(ROUND(CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)
      |                  / CAST(n AS DOUBLE), 2) AS DECIMAL(38,2))) AS DOUBLE))
      |           / CAST(sum(n) - count(*) AS DOUBLE)), 6) AS f_stat
      |FROM g""".stripMargin

  /** Lag-k autocorrelation of the daily event-count series (ACF at
    * lags 1 and 7) — the memory/weekly-cycle screen that pairs with
    * [[qTimeSeasonality]]: one day-grain aggregate collapses the
    * firehose to ≤ |days| integer counts, then lag windows + one
    * global reduction over THAT bounded series. Counts are integers
    * (exact in double); the 30-odd-term product sums carry only
    * ulp-order noise against the 6-dp round.
    */
  val qTimeAutocorr: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).cast("double").as("n"))
    val wOrd = Window.orderBy("day")
    val lagged = daily
      .withColumn("p1", lag(col("n"), 1).over(wOrd))
      .withColumn("p7", lag(col("n"), 7).over(wOrd))
    val mu = daily.agg(sum(col("n")) / count(lit(1))).head().getDouble(0)
    lagged.agg(
        round(sum((col("n") - mu) * (col("p1") - mu)) /
              sum((col("n") - mu) * (col("n") - mu)), 6).as("acf_1"),
        round(sum(when(col("p7").isNotNull,
                       (col("n") - mu) * (col("p7") - mu))) /
              sum((col("n") - mu) * (col("n") - mu)), 6).as("acf_7"))
  }

  val qTimeAutocorrSql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
      |    AS day, CAST(count(*) AS DOUBLE) AS n
      |  FROM events GROUP BY 1
      |), st AS (SELECT sum(n) / count(*) AS mu FROM daily),
      |lagged AS (
      |  SELECT n, lag(n, 1) OVER (ORDER BY day) AS p1,
      |    lag(n, 7) OVER (ORDER BY day) AS p7
      |  FROM daily
      |)
      |SELECT
      |  ROUND(sum((n - mu) * (p1 - mu)) / sum((n - mu) * (n - mu)), 6)
      |    AS acf_1,
      |  ROUND(sum(CASE WHEN p7 IS NOT NULL
      |                 THEN (n - mu) * (p7 - mu) END)
      |        / sum((n - mu) * (n - mu)), 6) AS acf_7
      |FROM lagged, st""".stripMargin

  // ---------------------------------------------------------------
  // q_stats_gini — revenue-concentration (inequality) per nation.
  // ---------------------------------------------------------------

  /** Gini coefficient of customer revenue per nation — the standard
    * concentration readout ("is this market a long tail or a
    * monopoly?"), via the rank identity
    * G = 2·Σᵢ(i·xᵢ) / (n·Σx) − (n+1)/n over ascending-sorted revenues.
    *
    * Exactness: per-customer revenue is an exact DECIMAL(18,2) sum,
    * ranks are integers (revenue asc, custkey asc tie-break), and
    * i·xᵢ accumulates in DECIMAL(28,2) — the closed form is single
    * double ops over bit-identical exact operands in both engines, so
    * `round(…, 6)` cannot straddle a boundary.
    *
    * At 100 TB: the order firehose collapses to one combining
    * aggregate on custkey; the rank window partitions by nation over
    * customer-level rows (|customers|/25 per partition), and the final
    * rollup reuses the same nation partitioning. The fact table is
    * never sorted — only the aggregate is.
    */
  val qStatsGini: Q = (s, d) => {
    val rev = Tables.orders(s, d).groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_nationkey"))
    val nat = Tables.nation(s, d)
      .select(col("n_nationkey"), col("n_name"))
    val byNation = Window.partitionBy("n_name")
      .orderBy(col("rev").asc, col("o_custkey").asc)
    rev.join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .withColumn("i", row_number().over(byNation).cast("long"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("rev")).as("srev"),
        sum((col("i") * col("rev")).cast(DecimalType(28, 2))).as("sirev"))
      .select(col("n_name").as("nation"), col("n_customers"),
        col("srev").cast("double").as("total_rev"),
        round(lit(2.0) * col("sirev").cast("double") /
              (col("n_customers").cast("double") * col("srev").cast("double")) -
              (col("n_customers").cast("double") + lit(1.0)) /
              col("n_customers").cast("double"), 6).as("gini"))
      .orderBy("nation")
  }

  val qStatsGiniSql: String =
    """WITH rev AS (
      |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders GROUP BY 1),
      |ranked AS (
      |  SELECT n.n_name, r.rev,
      |    CAST(row_number() OVER (PARTITION BY n.n_name
      |      ORDER BY r.rev ASC, r.o_custkey ASC) AS BIGINT) AS i
      |  FROM rev r
      |  JOIN customer c ON r.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
      |m AS (
      |  SELECT n_name, count(*) AS n_customers,
      |    sum(rev) AS srev,
      |    sum(CAST(i * rev AS DECIMAL(28,2))) AS sirev
      |  FROM ranked GROUP BY 1)
      |SELECT n_name AS nation, n_customers,
      |  CAST(srev AS DOUBLE) AS total_rev,
      |  ROUND(2.0 * CAST(sirev AS DOUBLE) /
      |        (CAST(n_customers AS DOUBLE) * CAST(srev AS DOUBLE)) -
      |        (CAST(n_customers AS DOUBLE) + 1.0) /
      |        CAST(n_customers AS DOUBLE), 6) AS gini
      |FROM m ORDER BY nation""".stripMargin

  // ---------------------------------------------------------------
  // q_stats_spearman — rank correlation on the daily order series.
  // ---------------------------------------------------------------

  /** Spearman rank correlation between daily order volume and daily
    * revenue — "do busy days earn proportionally?" asked robustly
    * (monotone association, insensitive to revenue outliers), via
    * ρ = 1 − 6·Σd² / (n·(n²−1)) with d = rank(volume) − rank(revenue).
    *
    * Ranks are row_numbers with a date tie-break, so d and Σd² are
    * EXACT integers in both engines; the single division happens once
    * on identical operands. (With the deterministic tie-break this is
    * the textbook ρ whenever values are distinct, and a documented
    * deterministic variant under ties.)
    *
    * At 100 TB: the firehose collapses to the bounded date dimension
    * (~2.4k rows for TPC-H at any SF) in one combining aggregate; the
    * two unpartitioned rank windows and the moment rollup all run on
    * that bounded series — same shape as the autocorr/forecast ops.
    */
  val qStatsSpearman: Q = (s, d) => {
    val daily = Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
    val byCnt = Window.orderBy(col("n_orders").asc, col("day").asc)
    val byRev = Window.orderBy(col("rev").asc, col("day").asc)
    daily
      .withColumn("rc", row_number().over(byCnt).cast("long"))
      .withColumn("rr", row_number().over(byRev).cast("long"))
      .agg(count(lit(1)).as("n_days"),
        sum((col("rc") - col("rr")) * (col("rc") - col("rr"))).as("sum_d2"))
      .select(col("n_days"), col("sum_d2"),
        round(lit(1.0) - lit(6.0) * col("sum_d2").cast("double") /
              (col("n_days").cast("double") *
               (col("n_days").cast("double") * col("n_days").cast("double") -
                lit(1.0))), 6).as("rho"))
  }

  val qStatsSpearmanSql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    count(*) AS n_orders,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders GROUP BY 1),
      |ranked AS (
      |  SELECT
      |    CAST(row_number() OVER (ORDER BY n_orders ASC, day ASC) AS BIGINT)
      |      AS rc,
      |    CAST(row_number() OVER (ORDER BY rev ASC, day ASC) AS BIGINT)
      |      AS rr
      |  FROM daily)
      |SELECT count(*) AS n_days,
      |  CAST(sum((rc - rr) * (rc - rr)) AS BIGINT) AS sum_d2,
      |  ROUND(1.0 - 6.0 * CAST(sum((rc - rr) * (rc - rr)) AS DOUBLE) /
      |        (CAST(count(*) AS DOUBLE) *
      |         (CAST(count(*) AS DOUBLE) * CAST(count(*) AS DOUBLE) - 1.0)),
      |        6) AS rho
      |FROM ranked""".stripMargin

  // ---------------------------------------------------------------
  // q_dq_entropy — categorical-column entropy profile.
  // ---------------------------------------------------------------

  /** Shannon-entropy profile of categorical columns — the profiling
    * readout that flags near-constant columns (entropy ≈ 0, candidates
    * for dropping/dictionary encoding) and ID-like columns (uniformity
    * ≈ 1). Per column: distinct count, entropy in bits, the log₂(k)
    * maximum, and entropy/max uniformity (1.0 for the degenerate k=1).
    *
    * FP parity: each −p·log₂p term is rounded to 12 dp and summed in
    * DECIMAL(16,12), so both engines add identical exact values in any
    * order (the r14 ANOVA lesson — a raw double Σ over parallel
    * partials is order-dependent); p itself is one division of exact
    * integers and log₂ is the only FP-library call (≤1 ulp, nowhere
    * near a 1e-12 half-tie on an irrational).
    *
    * At 100 TB: one combining aggregate per profiled column collapses
    * the table to ≤k rows map-side; the entropy math runs on those k
    * rows against a broadcast 1-row total. Profiling more columns adds
    * map-side aggregates, never extra shuffled volume.
    */
  val qDqEntropy: Q = (s, d) => {
    def profile(cname: String, expr: Column): DataFrame = {
      val cnt = Tables.orders(s, d)
        .groupBy(expr.cast("string").as("v"))
        .agg(count(lit(1)).as("cnt"))
      val tot = cnt.agg(sum(col("cnt")).as("tot"), count(lit(1)).as("k"))
      val p = col("cnt").cast("double") / col("tot").cast("double")
      cnt.crossJoin(broadcast(tot))
        .select(col("k"),
          round(-p * log2(p), 12).cast(DecimalType(16, 12)).as("term"))
        .groupBy(col("k"))
        .agg(sum(col("term")).as("h"))
        .select(lit(cname).as("column_name"),
          col("k").as("n_distinct"),
          round(col("h").cast("double"), 6).as("entropy_bits"),
          round(log2(col("k").cast("double")), 6).as("max_bits"),
          when(col("k") === 1, lit(1.0))
            .otherwise(round(col("h").cast("double") /
              log2(col("k").cast("double")), 6)).as("uniformity"))
    }
    profile("o_orderstatus", col("o_orderstatus"))
      .unionByName(profile("o_orderpriority", col("o_orderpriority")))
      .unionByName(profile("o_orderyear",
        year(col("o_orderdate")).cast("long")))
      .orderBy("column_name")
  }

  val qDqEntropySql: String = {
    def one(label: String, cname: String): String =
      s"""SELECT '$label' AS column_name, k AS n_distinct,
         |  ROUND(CAST(h AS DOUBLE), 6) AS entropy_bits,
         |  ROUND(log2(CAST(k AS DOUBLE)), 6) AS max_bits,
         |  CASE WHEN k = 1 THEN 1.0
         |       ELSE ROUND(CAST(h AS DOUBLE) / log2(CAST(k AS DOUBLE)), 6)
         |  END AS uniformity
         |FROM (
         |  SELECT k, sum(CAST(ROUND(-p * log2(p), 12) AS DECIMAL(16,12)))
         |    AS h
         |  FROM (
         |    SELECT t.k,
         |      CAST(c.cnt AS DOUBLE) / CAST(t.tot AS DOUBLE) AS p
         |    FROM (SELECT CAST($cname AS VARCHAR) AS v, count(*) AS cnt
         |          FROM orders GROUP BY 1) c
         |    CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS tot,
         |                  CAST(count(DISTINCT CAST($cname AS VARCHAR))
         |                       AS BIGINT) AS k
         |                FROM orders) t)
         |  GROUP BY k)""".stripMargin
    Seq(("o_orderstatus", "o_orderstatus"),
        ("o_orderpriority", "o_orderpriority"),
        ("o_orderyear", "CAST(year(o_orderdate) AS BIGINT)"))
      .map((one _).tupled)
      .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
  }

  val entries: Map[String, Q] = Map(
    "q_stats_gini" -> qStatsGini,
    "q_stats_spearman" -> qStatsSpearman,
    "q_dq_entropy" -> qDqEntropy,
    "q_stats_anova" -> qStatsAnova,
    "q_time_autocorr" -> qTimeAutocorr,
    "q_dq_benford"  -> qDqBenford,
    "q_dq_reconcile" -> qDqReconcile,
    "q_stats_regression" -> qStatsRegression,
    "q_stats_mannwhitney" -> qStatsMannWhitney,
    "q_dq_freshness" -> qDqFreshness,
    "q_stats_ks"    -> qStatsKs,
    "q_dq_fd"       -> qDqFd,
    "q_dq_kanon"    -> qDqKanon,
    "q_stats_chisq" -> qStatsChisq,
    "q_time_seasonality" -> qTimeSeasonality,
    "q_win_ewma"   -> qWinEwma,
    "q_time_gaps"  -> qTimeGaps,
    "q_stats_ab"   -> qStatsAb,
    "q_dq_drift"   -> qDqDrift,
    "q_agg_reagg"  -> qAggReagg,
    "q_join_pit"   -> qJoinPit,
    "q_dedup_edit" -> qDedupEdit,
    "q_agg_window_distinct" -> qAggWindowDistinct,
    "q_dedup_incremental"   -> qDedupIncremental,
    "q_dq_anomaly"          -> qDqAnomaly,
    "q_time_resample"       -> qTimeResample,
    "q_observe"             -> qObserve,
    "q_sql_script"          -> qSqlScript,
    "q_scan_quarantine"     -> qScanQuarantine
  )

  val oracles: Map[String, String] = Map(
    "q_stats_gini" -> qStatsGiniSql,
    "q_stats_spearman" -> qStatsSpearmanSql,
    "q_dq_entropy" -> qDqEntropySql,
    "q_stats_anova" -> qStatsAnovaSql,
    "q_time_autocorr" -> qTimeAutocorrSql,
    "q_dq_benford"  -> qDqBenfordSql,
    "q_dq_reconcile" -> qDqReconcileSql,
    "q_stats_regression" -> qStatsRegressionSql,
    "q_stats_mannwhitney" -> qStatsMannWhitneySql,
    "q_dq_freshness" -> qDqFreshnessSql,
    "q_stats_ks"    -> qStatsKsSql,
    "q_dq_fd"       -> qDqFdSql,
    "q_dq_kanon"    -> qDqKanonSql,
    "q_stats_chisq" -> qStatsChisqSql,
    "q_time_seasonality" -> qTimeSeasonalitySql,
    "q_win_ewma"   -> qWinEwmaSql,
    "q_time_gaps"  -> qTimeGapsSql,
    "q_stats_ab"   -> qStatsAbSql,
    "q_dq_drift"   -> qDqDriftSql,
    "q_agg_reagg"  -> qAggReaggSql,
    "q_join_pit"   -> qJoinPitSql,
    "q_dedup_edit" -> qDedupEditSql,
    "q_agg_window_distinct" -> qAggWindowDistinctSql,
    "q_dedup_incremental"   -> qDedupIncrementalSql,
    "q_dq_anomaly"          -> qDqAnomalySql,
    "q_time_resample"       -> qTimeResampleSql,
    "q_observe"             -> qObserveSql,
    "q_sql_script"          -> qSqlScriptSql,
    "q_scan_quarantine"     -> qScanQuarantineSql
  )
}
