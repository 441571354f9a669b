package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions

/** SQL-registered codec UDFs + typed-Aggregator UDAF. */
class FunctionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("codec UDFs evaluate through SQL") {
    GraftFunctions.register(spark)
    val row = spark.sql(
      """SELECT graft_tiles(array(0, 4, 8, 12, 16), true) AS t,
        |       graft_dora(array(32)) AS d,
        |       graft_meld_pais(17408, false) AS mp,
        |       graft_meld_type(17408, false) AS mt,
        |       graft_meld_pais(33, false) AS nuki
        |""".stripMargin).first()
    assert(row.getAs[String]("t") == "m12340")
    assert(row.getSeq[Int](row.fieldIndex("d")) == Seq(0))
    assert(row.getAs[String]("mp") == "p9999")
    assert(row.getAs[String]("mt") == "kan")
    assert(row.isNullAt(row.fieldIndex("nuki")))
  }

  test("a second qUdfTiles call keeps the first call's graft_tiles builder") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val s = spark.newSession()
    def builder = s.sessionState.functionRegistry
      .lookupFunctionBuilder(FunctionIdentifier("graft_tiles"))
    graft.queries.Extensions.qUdfTiles(s, sf)
    val first = builder
    assert(first.isDefined)
    graft.queries.Extensions.qUdfTiles(s, sf)
    assert(builder.exists(_ eq first.get),
      "re-registering replaces the function and logs a WARN")
  }

  test("minhash-merge UDAF takes elementwise minima per group") {
    GraftFunctions.register(spark)
    import spark.implicits._
    Seq(("a", Seq(5L, 1L, 9L)), ("a", Seq(3L, 7L, 2L)), ("b", Seq(4L, 4L, 4L)))
      .toDF("g", "sig").createOrReplaceTempView("sigs_udaf")
    val rows = spark.sql(
      "SELECT g, graft_minhash_merge(sig) AS m FROM sigs_udaf GROUP BY g ORDER BY g")
      .collect()
    assert(rows(0).getSeq[Long](1) == Seq(3L, 1L, 2L))
    assert(rows(1).getSeq[Long](1) == Seq(4L, 4L, 4L))
  }

  test("weighted-avg UDAF matches the exact decimal expression") {
    GraftFunctions.register(spark)
    val df = Tables.lineitem(spark, sf)
    df.createOrReplaceTempView("li_udaf")
    val got = spark.sql(
      "SELECT graft_weighted_avg(l_extendedprice, l_quantity) FROM li_udaf")
      .first().getDouble(0)
    val want = spark.sql(
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |               CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) /
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |FROM li_udaf""".stripMargin).first().getDouble(0)
    assert(got == want) // bit-identical by construction
  }

  test("top-k aggregator matches a row_number window over the same order") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // ties on score (groups a and b share score 5.0 across ids) exercise
    // the id-asc tie-break; k larger than group c's size exercises finish
    // on a short buffer
    val df = Seq(
      ("a", 5.0, 10L), ("a", 5.0, 3L), ("a", 7.0, 8L), ("a", 1.0, 1L),
      ("a", 7.0, 2L), ("b", 5.0, 4L), ("b", 5.0, 9L), ("b", 6.0, 7L),
      ("c", 2.0, 5L)
    ).toDF("g", "score", "id")
    val topk = udaf(new GraftFunctions.TopKByScore(3))
    val got = df.groupBy("g")
      .agg(topk(col("score"), col("id")).as("top"))
      .select(col("g"), posexplode(col("top")))
      .select(col("g"), col("col._2").as("id"), col("col._1").as("score"),
              (col("pos") + 1).cast("long").as("rnk"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
                           r.getLong(3))).sorted.toSeq
    val w = Window.partitionBy("g").orderBy(col("score").desc, col("id").asc)
    val want = df.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= 3)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getDouble(1),
                           r.getInt(3).toLong)).sorted.toSeq
    assert(got == want)
  }

  test("q_fn_regex: extracted clerk numbers reconcile with the join keys") {
    import org.apache.spark.sql.functions._
    val rows = graft.queries.Funcs.qFnRegex(spark, sf).collect()
    assert(rows.map(_.getAs[String]("prio_word")).toSet ==
           Set("URGENT", "HIGH", "MEDIUM", "NOT SPECIFIED", "LOW"))
    // c_name is 'Customer#<custkey zero-padded>', so the regex-extracted
    // number must reconcile exactly with sum(o_custkey) per priority word
    val want = Tables.orders(spark, sf)
      .groupBy(regexp_replace(col("o_orderpriority"), "^[0-9]-", "")
        .as("p"))
      .agg(sum("o_custkey").as("s"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    rows.foreach { r =>
      val (s, n) = want(r.getAs[String]("prio_word"))
      assert(r.getAs[Long]("sum_cust") == s, "regex-extracted key sum")
      assert(r.getAs[Long]("n") == n)
      // only 1-/2- priorities are hot, and then every row in the group is
      val hot = Set("URGENT", "HIGH")(r.getAs[String]("prio_word"))
      assert(r.getAs[Long]("n_hot") == (if (hot) n else 0L))
    }
  }

  test("q_fn_explode: outer semantics keep the null-array docs in bucket -1") {
    import org.apache.spark.sql.functions._
    val rows = graft.queries.Funcs.qFnExplode(spark, sf).collect()
    val byBucket = rows.map(r =>
      r.getAs[Long]("bucket") -> r.getAs[Long]("n")).toMap
    val docs = Tables.documents(spark, sf)
    val nNull = docs.where(col("n_chars") % 97 === 0).count()
    if (nNull > 0)
      assert(byBucket(-1L) == nNull,
        "every null-array doc must survive the outer explode")
    // token mass conservation: buckets 0..7 hold exactly the tokens of
    // the non-null docs
    val nTok = docs.where(col("n_chars") % 97 =!= 0)
      .select(sum(size(filter(split(col("text"), " "),
        x => length(x) > 0))).cast("long"))
      .first().getLong(0)
    assert(byBucket.collect { case (k, v) if k >= 0 => v }.sum == nTok)
  }

  test("q_fn_try: null accounting matches the raw predicates") {
    val r = graft.queries.Funcs.qFnTry(spark, sf).collect()(0)
    val orders = Tables.orders(spark, sf)
      .select(org.apache.spark.sql.functions.col("o_orderkey"),
        org.apache.spark.sql.functions.col("o_orderpriority"))
      .collect().map(x => (x.getLong(0), x.getString(1)))
    assert(r.getAs[Long]("n_rows") == orders.length.toLong)
    // try_divide nulls are exactly the zero denominators
    assert(r.getAs[Long]("div_nulls") == orders.count(_._1 % 7 == 0).toLong)
    // every priority leads with a digit → zero cast nulls, exact sum
    assert(r.getAs[Long]("cast_nulls") == 0L)
    assert(r.getAs[Long]("prio_sum") ==
      orders.map(_._2.substring(0, 1).toLong).sum)
    // priorities are two '-'-joined tokens → element 5 always null
    assert(r.getAs[Long]("elem_nulls") == orders.length.toLong)
  }
}
