package graft

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Insights

/** Insights wave: EWMA smoothing, islands-and-gaps outage detection,
  * Welch A/B t-test, PSI drift, two-level mergeable re-aggregation.
  * The DuckDB oracle hash-compares all five per driver run; these specs
  * assert the semantic identities the hash can't express (the EWMA
  * recurrence, the gap⊆outage containment, moment identities, PSI
  * non-negativity, partial-merge losslessness) plus the plan shapes.
  */
class InsightsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q_win_ewma: first rows of each series obey the closed form") {
    val rows = Insights.qWinEwma(spark, sf).collect()
    assert(rows.nonEmpty)
    val byType = rows.groupBy(_.getAs[String]("event_type"))
    byType.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[java.sql.Timestamp]("day").getTime)
      // row 0: only the k=0 term -> ewma == n exactly
      val r0 = sorted.head
      assert(r0.getAs[Double]("ewma") == r0.getAs[Long]("n").toDouble)
      // row 1: (n1 + 0.5*n0) / 1.5 — dyadic arithmetic, exact to 6dp
      if (sorted.length > 1) {
        val n0 = sorted(0).getAs[Long]("n").toDouble
        val n1 = sorted(1).getAs[Long]("n").toDouble
        val expect = BigDecimal((n1 + 0.5 * n0) / 1.5)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(math.abs(sorted(1).getAs[Double]("ewma") - expect) < 1e-9)
      }
    }
  }

  test("q_win_ewma: smoother than the raw series (variance shrinks)") {
    val rows = Insights.qWinEwma(spark, sf).collect()
    def variance(xs: Seq[Double]): Double = {
      val m = xs.sum / xs.size
      xs.map(x => (x - m) * (x - m)).sum / xs.size
    }
    rows.groupBy(_.getAs[String]("event_type")).foreach { case (t, rs) =>
      val raw = rs.map(_.getAs[Long]("n").toDouble).toSeq
      val sm = rs.map(_.getAs[Double]("ewma")).toSeq
      assert(variance(sm) <= variance(raw) + 1e-9,
        s"EWMA must not amplify variance for $t")
    }
  }

  test("q_time_gaps: every gap spans exactly the simulated outage days") {
    val rows = Insights.qTimeGaps(spark, sf).collect()
    assert(rows.nonEmpty, "the synthetic outage must produce gaps")
    val epoch = java.time.LocalDate.of(1970, 1, 1)
    rows.foreach { r =>
      val after = r.getAs[java.sql.Timestamp]("gap_after")
        .toLocalDateTime.toLocalDate
      val resume = r.getAs[java.sql.Timestamp]("resume_day")
        .toLocalDateTime.toLocalDate
      val missing = r.getAs[Long]("missing_days")
      assert(java.time.temporal.ChronoUnit.DAYS.between(after, resume) ==
        missing + 1)
      // surviving endpoints are never outage days; every interior
      // missing day either is an outage day or had no raw events
      Seq(after, resume).foreach { dy =>
        val idx = java.time.temporal.ChronoUnit.DAYS.between(epoch, dy)
        assert(!(Set(4L, 5L) contains (idx % 9)),
          s"endpoint $dy (idx%9=${idx % 9}) should have been dropped")
      }
    }
    // at sf0.001 the daily series is dense, so gaps are exactly the
    // outage runs: missing_days in {1,2}
    assert(rows.forall(r => r.getAs[Long]("missing_days") <= 2))
    assert(rows.exists(r => r.getAs[Long]("missing_days") == 2L),
      "the %9 in (4,5) rule yields two-day outages on a dense series")
  }

  test("q_stats_ab: arms partition events; means match a direct recompute") {
    val out = Insights.qStatsAb(spark, sf).collect()
    val total = Tables.events(spark, sf).count()
    assert(out.map(r => r.getAs[Long]("n_a") + r.getAs[Long]("n_b")).sum
      == total)
    // direct recompute of one arm mean for one event_type
    val t0 = out.head.getAs[String]("event_type")
    val direct = Tables.events(spark, sf)
      .where(col("event_type") === t0 && col("user_id") % 2 === 0)
      .agg(avg(col("value").cast("decimal(18,2)")).cast("double"))
      .head.getDouble(0)
    assert(math.abs(out.head.getAs[Double]("mean_a") - direct) < 1e-4)
    // Welch df must sit between min(n)-1 and n_a+n_b-2
    out.foreach { r =>
      val df = r.getAs[Double]("df")
      val lo = math.min(r.getAs[Long]("n_a"), r.getAs[Long]("n_b")) - 1.0
      val hi = r.getAs[Long]("n_a") + r.getAs[Long]("n_b") - 2.0
      assert(df >= lo - 0.1 && df <= hi + 0.1, s"df=$df outside [$lo,$hi]")
    }
  }

  test("q_dq_drift: PSI is non-negative and halves partition the stream") {
    val out = Insights.qDqDrift(spark, sf).collect()
    assert(out.nonEmpty)
    val total = Tables.events(spark, sf).count()
    assert(out.map(r =>
      r.getAs[Long]("n_early") + r.getAs[Long]("n_late")).sum == total)
    out.foreach { r =>
      // each PSI term (p-q)ln(p/q) >= 0; per-term 6dp rounding can only
      // shave < 5e-7 per bucket
      assert(r.getAs[Double]("psi") >= -1e-5)
      assert(r.getAs[Long]("n_buckets") <= 10)
    }
    // uniform synthetic halves should NOT drift (the screen's null case)
    assert(out.count(_.getAs[Boolean]("drift")) <= out.length / 2,
      "stationary synthetic data must mostly pass the drift screen")
  }

  test("q_agg_reagg: month level from daily partials equals direct") {
    val reagg = Insights.qAggReagg(spark, sf).collect()
    val direct = Tables.orders(spark, sf)
      .groupBy(col("o_orderpriority"),
        date_trunc("month", col("o_orderdate")).as("month"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("sum_price"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"))
      .withColumn("avg_price", round(col("sum_price") / col("n"), 6))
      .orderBy("o_orderpriority", "month")
      .collect()
    assert(reagg.toSeq == direct.toSeq,
      "re-aggregating daily partials must lose nothing vs raw")
  }

  test("q_join_pit: each purchase resolves to exactly the version " +
      "active at its timestamp") {
    val rows = Insights.qJoinPit(spark, sf).collect()
    assert(rows.nonEmpty)
    // at most one dim version per fact
    assert(rows.map(_.getAs[Long]("event_id")).distinct.length ==
      rows.length, "a purchase must never match two versions")
    rows.foreach { r =>
      assert(r.getAs[String]("state") != "purchase")
      assert(!r.getAs[java.sql.Timestamp]("ts")
        .before(r.getAs[java.sql.Timestamp]("valid_from")))
    }
    // coverage: every purchase with at least one earlier status event
    // for the same user resolves
    val ev = Tables.events(spark, sf)
    val purchases = ev.where(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts").collect()
    val firstStatus = ev.where(col("event_type") =!= "purchase")
      .groupBy("user_id").agg(min("ts").as("t0")).collect()
      .map(r => r.getAs[Long]("user_id") ->
        r.getAs[java.sql.Timestamp]("t0")).toMap
    val expect = purchases.count { p =>
      firstStatus.get(p.getAs[Long]("user_id"))
        .exists(t0 => !p.getAs[java.sql.Timestamp]("ts").before(t0))
    }
    assert(rows.length == expect,
      s"PIT join must cover all resolvable purchases: ${rows.length} vs $expect")
  }

  test("q_dedup_edit: blocked pairs only, exact distances, dist-0 means " +
      "identical heads") {
    val rows = Insights.qDedupEdit(spark, sf).collect()
    assert(rows.nonEmpty, "the corpus carries exact dups -> pairs exist")
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), substring(col("text"), 1, 200).as("t2"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("t2")).toMap
    rows.foreach { r =>
      val a = r.getAs[Long]("doc_a"); val b = r.getAs[Long]("doc_b")
      assert(a < b, "pairs must be canonical (doc_a < doc_b)")
      val dist = r.getAs[Long]("edit_dist")
      assert(dist <= 20)
      if (dist == 0L) assert(docs(a) == docs(b))
      else assert(docs(a) != docs(b))
    }
  }

  test("q_agg_window_distinct: every event lands in exactly 7 sliding " +
      "windows; spot window matches a direct recompute") {
    val rows = Insights.qAggWindowDistinct(spark, sf).collect()
    val total = Tables.events(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_events")).sum == 7 * total)
    rows.foreach(r =>
      assert(r.getAs[Long]("n_users") <= r.getAs[Long]("n_events")))
    // spot check one interior window against a direct range filter
    val mid = rows(rows.length / 2)
    val ws = mid.getAs[java.sql.Timestamp]("ws")
    val we = java.sql.Timestamp.from(ws.toInstant.plus(
      java.time.Duration.ofDays(7)))
    val direct = Tables.events(spark, sf)
      .where(col("event_type") === mid.getAs[String]("event_type") &&
        col("ts") >= lit(ws) && col("ts") < lit(we))
      .select("user_id").distinct().count()
    assert(mid.getAs[Long]("n_users") == direct)
  }

  test("q_dedup_incremental: persisted index equals recompute; " +
      "idempotent across invocations") {
    val rows = Insights.qDedupIncremental(spark, sf).collect()
    assert(rows.nonEmpty, "cross-split near-dups exist at sf0.001")
    val texts = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text")).toMap
    rows.foreach { r =>
      val b = r.getAs[Long]("batch_doc"); val x = r.getAs[Long]("index_doc")
      assert(b % 10 == 0 && x % 10 != 0)
      // exact-Jaccard recompute from raw text, no index involved
      val gb = graft.queries.LlmOps.twoGrams(texts(b)).toSet
      val gx = graft.queries.LlmOps.twoGrams(texts(x)).toSet
      val j = gb.intersect(gx).size.toDouble / gb.union(gx).size
      val expect = BigDecimal(j).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getAs[Double]("jaccard") - expect) < 1e-9)
      assert(r.getAs[Double]("jaccard") >= 0.5)
    }
    // warm-index second run (seed-once must not rewrite) is identical
    val again = Insights.qDedupIncremental(spark, sf).collect()
    assert(again.toSeq == rows.toSeq)
  }

  test("q_dq_anomaly: z matches a hand recompute; self-exclusion holds") {
    val rows = Insights.qDqAnomaly(spark, sf).collect()
    assert(rows.nonEmpty)
    val byType = rows.groupBy(_.getAs[String]("event_type"))
    // recompute z for the last row of one series from its raw n values
    val (_, rs) = byType.head
    val sorted = rs.sortBy(_.getAs[java.sql.Timestamp]("day").getTime)
    val ns = Tables.events(spark, sf)
      .where(col("event_type") === sorted.head.getAs[String]("event_type"))
      .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("n"))
      .orderBy("day").collect().map(_.getAs[Long]("n"))
    val i = ns.length - 1
    val trail = ns.slice(i - 7, i).map(_.toDouble) // 7 preceding, current excluded
    val k = trail.length
    val mean = trail.sum / k
    val vr = (trail.map(x => x * x).sum - trail.sum * trail.sum / k) / (k - 1)
    val zExpect = BigDecimal((ns(i) - mean) / math.sqrt(vr))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val zGot = sorted.last.getAs[Double]("z")
    assert(math.abs(zGot - zExpect) < 1e-9, s"$zGot vs $zExpect")
    // flag consistency
    rows.foreach { r =>
      val z = Option(r.getAs[Any]("z")).map(_.asInstanceOf[Double])
      assert(r.getAs[Boolean]("anomaly") == z.exists(v => math.abs(v) > 2.5))
    }
  }

  test("q_time_resample: full grid restored, gaps filled from the last " +
      "observed day") {
    val rows = Insights.qTimeResample(spark, sf).collect()
    val byType = rows.groupBy(_.getAs[String]("event_type"))
    byType.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[java.sql.Timestamp]("day").getTime)
      // grid is contiguous daily
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[java.sql.Timestamp]("day").getTime -
            a.getAs[java.sql.Timestamp]("day").getTime == 86400000L)
        case _ =>
      }
      // every gap day carries the previous day's value
      sorted.sliding(2).foreach {
        case Array(a, b) if b.getAs[Boolean]("was_gap") =>
          assert(b.getAs[Long]("n_filled") == a.getAs[Long]("n_filled"))
        case _ =>
      }
      assert(!sorted.head.getAs[Boolean]("was_gap"),
        "the spine starts at an observed day")
    }
    assert(rows.exists(_.getAs[Boolean]("was_gap")),
      "the simulated outage must appear in the grid")
  }

  test("q_observe: CollectMetrics sees every row once; re-invocation " +
      "attaches a fresh Observation") {
    val row = Insights.qObserve(spark, sf).head()
    assert(row.getAs[Long]("n_consumed") == row.getAs[Long]("n_rows"))
    val direct = Tables.lineitem(spark, sf).agg(
      count(lit(1)).as("n"),
      sum(when(col("l_discount") > lit(0.05), 1L).otherwise(0L)).as("hd"),
      sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
        .as("sp")).head()
    assert(row.getAs[Long]("n_rows") == direct.getAs[Long]("n"))
    assert(row.getAs[Long]("n_high_discount") == direct.getAs[Long]("hd"))
    assert(row.getAs[Double]("sum_price") == direct.getAs[Double]("sp"))
    // a second invocation must not trip "Observation already attached"
    val again = Insights.qObserve(spark, sf).head()
    assert(again == row)
  }

  test("q_stream_window_distinct: chained stateful aggs drain to the " +
      "batch distinct exactly") {
    val streamed = graft.queries.StreamingQ
      .entries("q_stream_window_distinct")(spark, sf).collect()
    val batch = Tables.events(spark, sf)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("day", "event_type")
      .collect()
    assert(streamed.toSeq == batch.toSeq,
      "every finalized window must carry the exact distinct count")
    streamed.foreach(r =>
      assert(r.getAs[Long]("n_users") <= r.getAs[Long]("n_events")))
  }

  test("q_scan_quarantine: malformed lines route to quarantine, valid " +
      "rows lose nothing") {
    val row = Insights.qScanQuarantine(spark, sf).head()
    val orders = Tables.orders(spark, sf)
    val nCorrupt = orders.where(col("o_orderkey") % 37 === 0).count()
    val nValid = orders.count() - nCorrupt
    assert(row.getAs[Long]("n_valid") == nValid)
    assert(row.getAs[Long]("n_quarantined") == nCorrupt)
    val direct = orders.where(col("o_orderkey") % 37 =!= 0)
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"))
      .head.getDouble(0)
    assert(row.getAs[Double]("sum_p") == direct)
    // the dead-letter half: every malformed raw record is ON DISK, and
    // each retains the truncated prefix the permissive parser captured
    val dead = spark.read
      .parquet(graft.queries.Scratch.path("quarantine_dead", sf))
    assert(dead.count() == nCorrupt)
    assert(dead.where(col("raw_record").startsWith("{\"k\":")).count()
      == nCorrupt)
    // seed-once: a second invocation reads the same bytes
    assert(Insights.qScanQuarantine(spark, sf).head() == row)
  }

  test("q_sql_script: the scripted month loop folds to the one-shot " +
      "aggregate exactly") {
    val before = spark.conf.getOption("spark.sql.scripting.enabled")
    val row = Insights.qSqlScript(spark, sf).head()
    // session hygiene: the caller's scripting flag is untouched, and the
    // script's CACHE TABLE never outlives the invocation. The script's
    // view lives on the call's clone, so the check goes to the cache
    // manager every session of the application shares: it must hold no
    // entry for the orders scan
    assert(spark.conf.getOption("spark.sql.scripting.enabled") == before)
    assert(Tables.orders(spark, sf).storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE,
      "the script's cached orders scan outlived the call")
    val direct = Tables.orders(spark, sf)
      .where(col("o_orderpriority") === "1-URGENT")
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
        .as("t"), count(lit(1)).as("n")).head()
    assert(row.getAs[Double]("urgent_total") == direct.getAs[Double]("t"))
    assert(row.getAs[Long]("n_urgent") == direct.getAs[Long]("n"))
    assert(row.getAs[Int]("n_months") == 12)
  }

  test("q_stream_anomaly: the incremental fold equals the batch z-score " +
      "row-for-row") {
    val streamed = graft.queries.StreamingQ
      .entries("q_stream_anomaly")(spark, sf).collect()
    val batch = Insights.qDqAnomaly(spark, sf).collect()
    assert(streamed.length == batch.length && streamed.nonEmpty)
    streamed.zip(batch).foreach { case (a, b) =>
      assert(a == b, s"stream row $a != batch row $b")
    }
  }

  test("plan shapes: one scan for the t-test, broadcast stats for drift," +
      " two-level agg for reagg, no cartesians anywhere") {
    val ab = plan("q_stats_ab")
    // formatted mode prints each node twice (tree line + detail section)
    assert("Scan parquet".r.findAllIn(ab).size <= 2,
      "q_stats_ab must compute all six moments in ONE events scan")
    assert(!ab.contains("CartesianProduct"))

    val drift = plan("q_dq_drift")
    assert(drift.contains("BroadcastExchange"),
      "the global stats row must broadcast, never shuffle the stream")
    assert(!drift.contains("CartesianProduct"))

    val reagg = plan("q_agg_reagg")
    assert("HashAggregate".r.findAllIn(reagg).size >= 4,
      "daily partial layer + monthly merge layer (each partial+final)")
    assert(!reagg.contains("CartesianProduct"))

    val ewma = plan("q_win_ewma")
    // all 8 lags must ride ONE window pass
    assert("\\bWindow\\b".r.findAllIn(ewma).size <= 2, // formatted prints node + detail
      "the 8 lag terms must share a single WindowExec")
    assert(!ewma.contains("CartesianProduct"))

    val gaps = plan("q_time_gaps")
    assert(!gaps.contains("Generate"),
      "gap detection must be the lag formulation, not a spine explode")

    val pit = plan("q_join_pit")
    assert(pit.contains("SortMergeJoin") || pit.contains("ShuffledHashJoin")
      || pit.contains("BroadcastHashJoin"),
      "the PIT lookup must key on user_id, not scan intervals")
    assert(!pit.contains("CartesianProduct") &&
      !pit.contains("BroadcastNestedLoopJoin"),
      "the interval predicate must ride the user_id equi-join as residual")

    val edit = plan("q_dedup_edit")
    assert(!edit.contains("CartesianProduct") &&
      !edit.contains("BroadcastNestedLoopJoin"),
      "candidate generation must be the blocking equi-join, never all-pairs")

    val slide = plan("q_agg_window_distinct")
    assert(slide.contains("Expand"),
      "sliding windows must be the map-side Expand, not a spine join")
    assert(!slide.contains("CartesianProduct"))

    val incr = plan("q_dedup_incremental")
    assert(!incr.contains("CartesianProduct") &&
      !incr.contains("BroadcastNestedLoopJoin"),
      "the index probe must be a gram equi-join")
  }

  test("q_stats_chisq: parts are non-negative, dof matches the table shape") {
    val rows = Insights.qStatsChisq(spark, sf).collect()
    assert(rows.nonEmpty)
    val ev = Tables.events(spark, sf)
    val nt = ev.select("event_type").distinct().count()
    val nd = ev.select(dayofweek(col("ts"))).distinct().count()
    rows.foreach { r =>
      assert(r.getAs[Double]("chi2_part") >= 0.0)
      assert(r.getAs[Long]("dof") == (nt - 1) * (nd - 1))
      assert(r.getAs[Long]("n") > 0)
    }
    // row totals partition the events
    assert(rows.map(_.getAs[Long]("n")).sum == ev.count())
  }

  test("q_time_seasonality: per-type volume-weighted index averages to 1") {
    val rows = Insights.qTimeSeasonality(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (t, rs) =>
      // Σ_dow days·(idx·typeMean) = Σ n_dow  ⇒  Σ days·idx = Σ days
      // up to the 6-dp rounding of idx
      val days = rs.map(_.getAs[Long]("days").toDouble)
      val idx = rs.map(_.getAs[Double]("seasonal_idx"))
      val lhs = days.zip(idx).map { case (a, b) => a * b }.sum
      assert(math.abs(lhs - days.sum) < 1e-3,
             s"$t: weighted seasonal indices must average to 1")
    }
  }

  test("q_stats_regression matches a driver-side OLS refit per type") {
    val rows = Insights.qStatsRegression(spark, sf).collect()
    assert(rows.nonEmpty)
    val pts = Tables.events(spark, sf)
      .select(col("event_type"),
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
          .cast("double").as("x"),
        col("value"))
      .collect()
      .groupBy(_.getString(0))
    rows.foreach { r =>
      val t = r.getString(0)
      val xs = pts(t).map(_.getAs[Double]("x"))
      val ys = pts(t).map(_.getAs[Double]("value"))
      val n = xs.length.toDouble
      val sx = xs.sum; val sy = ys.sum
      val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
      val sxx = xs.map(a => a * a).sum
      val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      assert(r.getAs[Long]("n") == xs.length.toLong)
      assert(math.abs(r.getAs[Double]("slope") - slope) < 1e-4,
             s"$t slope")
      val r2 = r.getAs[Double]("r2")
      assert(r2 >= 0.0 && r2 <= 1.0, s"$t r2 in [0,1]")
      // intercept consistency with the refit line through the centroid
      val intercept = (sy - slope * sx) / n
      assert(math.abs(r.getAs[Double]("intercept") - intercept) < 1e-3,
             s"$t intercept")
    }
  }

  test("q_stats_ks matches a driver-side two-sample KS recompute") {
    val Array(row) = Insights.qStatsKs(spark, sf).collect()
    val vals = Tables.events(spark, sf)
      .where(col("event_type").isin("click", "view"))
      .select("event_type", "value").collect()
    val a = vals.filter(_.getString(0) == "click").map(_.getDouble(1)).sorted
    val b = vals.filter(_.getString(0) == "view").map(_.getDouble(1)).sorted
    assert(row.getAs[Long]("n1") == a.length.toLong)
    assert(row.getAs[Long]("n2") == b.length.toLong)
    // brute-force D over the pooled value domain
    val domain = (a ++ b).distinct.sorted
    val d = domain.map { v =>
      val f1 = a.count(_ <= v).toDouble / a.length
      val f2 = b.count(_ <= v).toDouble / b.length
      math.abs(f1 - f2)
    }.max
    assert(math.abs(row.getAs[Double]("ks_d") - d) < 1e-6)
  }

  test("q_dq_fd: the key FD holds, the non-key FD is violated") {
    val rows = Insights.qDqFd(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val nk = rows("nationkey->regionkey")
    assert(nk.getAs[Long]("violating_groups") == 0L,
           "nationkey is a key of nation — its FD cannot be violated")
    assert(nk.getAs[Long]("max_distinct_rhs") == 1L)
    val co = rows("custkey->orderpriority")
    // sf0.001 has ~10x more orders than customers: priorities collide
    assert(co.getAs[Long]("violating_groups") > 0L,
           "custkey->orderpriority must be violated on this data")
    assert(co.getAs[Long]("violating_rows") >= co.getAs[Long]("violating_groups") * 2,
           "each violating group holds at least two rows")
  }

  test("q_stats_mannwhitney matches a driver-side rank-sum recompute") {
    val Array(row) = Insights.qStatsMannWhitney(spark, sf).collect()
    val vals = Tables.events(spark, sf)
      .where(col("event_type").isin("click", "view"))
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), math.round(r.getDouble(1) * 100)))
    val pooled = vals.sortBy(_._2)
    // average ranks with ties, classic O(n) sweep
    val rankOf = scala.collection.mutable.Map.empty[Long, Double]
    var i = 0
    while (i < pooled.length) {
      var j = i
      while (j < pooled.length && pooled(j)._2 == pooled(i)._2) j += 1
      rankOf(pooled(i)._2) = (i + 1 + j) / 2.0 // mean of ranks i+1..j
      i = j
    }
    val n1 = vals.count(_._1 == "click").toDouble
    val n2 = vals.count(_._1 == "view").toDouble
    val r1 = vals.filter(_._1 == "click").map(v => rankOf(v._2)).sum
    val u1 = r1 - n1 * (n1 + 1) / 2
    assert(row.getAs[Long]("n1") == n1.toLong)
    assert(row.getAs[Long]("n2") == n2.toLong)
    assert(math.abs(row.getAs[Double]("u1") - u1) < 1e-6, "U statistic")
    // tie-corrected z
    val ties = pooled.groupBy(_._2).values.map(_.length.toLong)
      .map(t => t * t * t - t).sum.toDouble
    val n = n1 + n2
    val z = (u1 - n1 * n2 / 2) /
      math.sqrt(n1 * n2 / 12.0 * ((n + 1) - ties / (n * (n - 1))))
    assert(math.abs(row.getAs[Double]("z") - z) < 1e-5, "z score")
  }

  test("q_dq_freshness: the high-water type lags zero, all lags non-negative") {
    val rows = Insights.qDqFreshness(spark, sf).collect()
    assert(rows.nonEmpty)
    val lags = rows.map(_.getAs[Long]("lag_minutes"))
    assert(lags.min == 0L, "some type holds the global high-water mark")
    assert(lags.forall(_ >= 0L))
    rows.foreach { r =>
      // stale is decided on exact micros; the minute column floors, so
      // the two agree except inside the 1440..1441 boundary minute
      val lag = r.getAs[Long]("lag_minutes")
      if (lag > 1440L) assert(r.getAs[Boolean]("stale"))
      if (lag < 1440L) assert(!r.getAs[Boolean]("stale"))
    }
    assert(rows.map(_.getAs[Long]("n")).sum ==
           Tables.events(spark, sf).count())
  }

  test("q_dq_kanon: class census partitions the customer table") {
    val rows = Insights.qDqKanon(spark, sf).collect()
    assert(rows.nonEmpty)
    val total = Tables.customer(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_rows")).sum == total,
           "class sizes must partition the table")
    rows.foreach { r =>
      assert(r.getAs[Long]("min_class") >= 1L)
      assert(r.getAs[Long]("rows_at_risk") <= r.getAs[Long]("n_rows"))
      assert(r.getAs[Long]("classes_below_k") <= r.getAs[Long]("n_classes"))
      // every below-k class holds fewer than 5 rows
      assert(r.getAs[Long]("rows_at_risk") <
             5L * math.max(1L, r.getAs[Long]("classes_below_k")) +
             (if (r.getAs[Long]("classes_below_k") == 0) 1L else 0L))
    }
  }

  test("q_stats_anova: F statistic matches a driver-side computation") {
    import org.apache.spark.sql.functions._
    val r = Insights.qStatsAnova(spark, sf).head()
    val rows = Tables.orders(spark, sf)
      .select(col("o_orderpriority"), col("o_totalprice")).collect()
      .map(x => (x.getString(0), BigDecimal(x.getDouble(1))
        .setScale(2, BigDecimal.RoundingMode.HALF_UP)))
    val groups = rows.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val k = groups.size
    val n = rows.length
    val sAll = rows.map(_._2).sum.toDouble
    val ssAll = rows.map(t => t._2 * t._2).sum.toDouble
    val sb = groups.values.map { vs =>
      val s = vs.sum.toDouble; s * s / vs.length }.sum
    val msb = (sb - sAll * sAll / n) / (k - 1)
    val msw = (ssAll - sb) / (n - k)
    assert(r.getAs[Long]("k") == k && r.getAs[Long]("n") == n)
    assert(math.abs(r.getAs[Double]("ms_between") - msb) < 0.5)
    assert(math.abs(r.getAs[Double]("ms_within") - msw) < 0.5)
    assert(math.abs(r.getAs[Double]("f_stat") - msb / msw) < 1e-4)
  }

  test("q_time_autocorr: ACF values are in [-1, 1] and deterministic") {
    val r = Insights.qTimeAutocorr(spark, sf).head()
    val (a1, a7) = (r.getAs[Double]("acf_1"), r.getAs[Double]("acf_7"))
    assert(a1 >= -1.0 && a1 <= 1.0)
    assert(a7 >= -1.0 && a7 <= 1.0)
    val again = Insights.qTimeAutocorr(spark, sf).head()
    assert(again.getAs[Double]("acf_1") == a1 &&
           again.getAs[Double]("acf_7") == a7)
  }

  test("q_dq_benford: digits 1-9, observed freqs sum to 1, Benford freqs exact") {
    val rows = Insights.qDqBenford(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSet.subsetOf((1L to 9L).toSet))
    val fsum = rows.map(_.getAs[Double]("obs_freq")).sum
    assert(math.abs(fsum - 1.0) < 1e-4, s"obs freqs sum to $fsum")
    rows.foreach { r =>
      val d = r.getLong(0).toDouble
      val want = BigDecimal(math.log10(1.0 + 1.0 / d))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Double]("benford_freq") == want)
      assert(r.getAs[Double]("chisq_term") >= 0.0)
    }
  }

  test("q_dq_reconcile: statuses partition the full outer row space") {
    import org.apache.spark.sql.functions._
    val rows = Insights.qDqReconcile(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getAs[Double]("sum_absdiff")))
      .toMap
    assert(rows.keySet.subsetOf(
      Set("match", "mismatch", "missing_lineitem", "missing_order")))
    // a match contributes at most 1 cent of drift per row; a mismatch
    // strictly more than the tolerance in total
    rows.get("match").foreach { case (n, s) => assert(s <= 0.01 * n) }
    rows.get("mismatch").foreach { case (n, s) => assert(s > 0.01 * n) }
    // total row count = orders ∪ lineitem orderkeys (full outer)
    val nOrders = Tables.orders(spark, sf).count()
    val liKeys = Tables.lineitem(spark, sf)
      .select(countDistinct(col("l_orderkey"))).head().getLong(0)
    val oKeys = Tables.orders(spark, sf)
      .select(countDistinct(col("o_orderkey"))).head().getLong(0)
    val joint = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf),
            col("l_orderkey") === col("o_orderkey"), "left_semi")
      .select(countDistinct(col("l_orderkey"))).head().getLong(0)
    assert(rows.values.map(_._1).sum == nOrders + (liKeys - joint))
  }

  test("q_stats_gini: bounds, conservation, and a driver-side recompute") {
    import org.apache.spark.sql.functions._
    val rows = Insights.qStatsGini(spark, sf).collect()
    assert(rows.nonEmpty)
    // Gini of non-negative values lies in [0, 1); customers conserve
    val nCust = rows.map(_.getAs[Long]("n_customers")).sum
    val nWithOrders = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf),
            col("o_custkey") === col("c_custkey"), "left_semi")
      .count() // sanity only: every order's customer exists
    assert(nWithOrders == Tables.orders(spark, sf).count())
    rows.foreach { r =>
      val g = r.getAs[Double]("gini")
      assert(g >= 0.0 && g < 1.0, s"gini $g out of range")
    }
    // recompute one nation's Gini from the raw orders
    val nation = rows.head.getAs[String]("nation")
    val revs = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, sf), col("c_nationkey") === col("n_nationkey"))
      .where(col("n_name") === nation)
      .groupBy("o_custkey")
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
      .collect().map(r => (r.getLong(0), r.getDecimal(1)))
      .sortBy(t => (t._2, t._1)).map(_._2)
    val n = revs.length
    val srev = revs.map(BigDecimal(_)).sum
    val sirev = revs.zipWithIndex
      .map { case (x, i) => BigDecimal(x) * (i + 1) }.sum
    val expect = BigDecimal(
      2.0 * sirev.toDouble / (n.toDouble * srev.toDouble) -
      (n + 1.0) / n.toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(rows.head.getAs[Double]("gini") - expect) < 1e-9)
  }

  test("q_stats_spearman: perfect monotone association would give rho 1") {
    val r = Insights.qStatsSpearman(spark, sf).collect()(0)
    val (n, sd2, rho) = (r.getAs[Long]("n_days"), r.getAs[Long]("sum_d2"),
      r.getAs[Double]("rho"))
    assert(n > 0 && rho >= -1.0 && rho <= 1.0)
    // identity: rho == 1 - 6*sd2/(n(n^2-1)) to the rounded 6dp
    val expect = BigDecimal(
      1.0 - 6.0 * sd2.toDouble / (n.toDouble * (n.toDouble * n.toDouble - 1.0)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(rho - expect) < 1e-9)
    // at sf0.001 most days hold ~1 order, so tie-broken volume ranks
    // carry little signal — direction, not strength, is asserted at
    // this scale (the hash gate pins the exact value at sf0.01/sf1)
    assert(rho > -1.0 && rho < 1.0)
  }

  test("q_dq_entropy: bounds, uniformity normalization, recompute") {
    val rows = Insights.qDqEntropy(spark, sf).collect()
      .map(r => r.getAs[String]("column_name") ->
        (r.getAs[Long]("n_distinct"), r.getAs[Double]("entropy_bits"),
         r.getAs[Double]("max_bits"), r.getAs[Double]("uniformity"))).toMap
    assert(rows.keySet ==
      Set("o_orderstatus", "o_orderpriority", "o_orderyear"))
    rows.foreach { case (c, (k, h, mx, u)) =>
      assert(h >= 0.0 && h <= mx + 1e-9, s"$c: entropy $h > max $mx")
      assert(u >= 0.0 && u <= 1.0 + 1e-9, s"$c: uniformity $u")
      assert(k >= 1)
    }
    // recompute o_orderstatus entropy driver-side (term-rounded sum,
    // mirroring the engine's DECIMAL(16,12) accumulation)
    val cnts = Tables.orders(spark, sf)
      .groupBy("o_orderstatus").count().collect().map(_.getLong(1))
    val tot = cnts.sum.toDouble
    val h = cnts.map { c =>
      val p = c / tot
      BigDecimal(-p * (math.log(p) / math.log(2.0)))
        .setScale(12, BigDecimal.RoundingMode.HALF_UP)
    }.sum
    val expect = h.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(rows("o_orderstatus")._2 - expect) < 1e-9)
  }
}
