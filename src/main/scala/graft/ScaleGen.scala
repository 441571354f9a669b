package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator: replicates an existing testdata
  * scale factor K× (default 10×, sf0.1 → sf1) with disjoint key spaces
  * per replica, preserving FK integrity, so the measured scaling trend
  * (SCALE.md) extends beyond the driver-shipped data.
  *
  * Usage: `runMain graft.ScaleGen <srcSfDir> <dstDir> [replicas]`
  *
  * Design — the same rules a 100 TB load-test harness would use:
  *  - every surrogate key (orderkey/custkey/suppkey/partkey/doc_id/
  *    vec_id/event_id/user_id) shifts by `r * KeyOffset` in replica r,
  *    shifting BOTH sides of every FK edge, so joins produce exactly K×
  *    the matches and no cross-replica matches — workload character is
  *    preserved (selectivities, group cardinalities per key) while the
  *    data is K× bigger;
  *  - fixed-cardinality dims (region, nation) copy through unshifted, as
  *    in TPC-H where their size is SF-independent; FK columns that point
  *    at them (c_nationkey …) stay in range;
  *  - timestamps jitter by `r` seconds — within the same dt partition
  *    bounds, so date-grain pruning/grouping sees the same partitions —
  *    which keeps event/order orderings unique across replicas;
  *  - document text is letter-rotated per replica (a deterministic
  *    `translate` over the ascii alphabet): length, whitespace, digits
  *    and punctuation are preserved (quality/stats workloads unchanged)
  *    but nearly every shingle differs, so replicas are NOT near-dups of
  *    each other and the LSH/minhash workload grows linearly instead of
  *    collapsing into 10-deep duplicate clusters;
  *  - embeddings get a deterministic per-replica perturbation
  *    (`x + r*0.003*sin(vec_id*97 + i)` per element, ~0.3% of unit
  *    scale): distance structure is preserved but exact cross-replica
  *    ties — which would degenerate top-k — cannot occur.
  *
  * `events.ts` is read under whichever of the three live encodings the
  * source carries (BIGINT nanos via `nanosAsLong`, TIMESTAMP_NTZ micros,
  * or TIMESTAMP micros — see [[Tables.events]]) and always written back
  * as a plain long of epoch nanos, the generator's canonical shape.
  */
object ScaleGen {
  /** Larger than any source key at the scale factors involved (sf1
    * lineitem has ~6M orderkeys), so replica key ranges never overlap.
    */
  val KeyOffset: Long = 1000000000L

  private val Lower = "abcdefghijklmnopqrstuvwxyz"
  private val Upper = Lower.toUpperCase

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "scratch/sf1"
    val replicas = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.shuffle.partitions", "32")
      .appName("graft-scalegen")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, src, dst, replicas)
    spark.stop()
  }

  def generate(spark: SparkSession, src: String, dst: String,
               replicas: Int): Unit = {
    def read(name: String): DataFrame = Tables.load(spark, src, name)
    def write(df: DataFrame, name: String, files: Int): Unit =
      df.repartition(files).write.mode("overwrite")
        .parquet(s"$dst/$name.parquet")

    /** Union of `replicas` copies of `df`, each projected through
      * `exprs(r)` — plain column-level rewrites, so the whole generate
      * is one scan per replica with no shuffle before the write's
      * repartition.
      */
    def replicate(df: DataFrame)(exprs: Int => Seq[String]): DataFrame =
      (0 until replicas).map(r => df.selectExpr(exprs(r): _*))
        .reduce(_ unionAll _)

    def off(r: Int): Long = r * KeyOffset
    /** Per-replica alphabet rotation (identity at r=0). */
    def rot(s: String, r: Int): String = {
      val k = r % s.length
      s.substring(k) + s.substring(0, k)
    }

    // fixed-cardinality dims: copy through (SF-independent, as in TPC-H)
    write(read("region"), "region", 1)
    write(read("nation"), "nation", 1)

    write(replicate(read("customer")) { r => Seq(
      s"c_custkey + ${off(r)} AS c_custkey",
      "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    }, "customer", 4)

    write(replicate(read("supplier")) { r => Seq(
      s"s_suppkey + ${off(r)} AS s_suppkey",
      "s_name", "s_nationkey", "s_acctbal")
    }, "supplier", 2)

    write(replicate(read("part")) { r => Seq(
      s"p_partkey + ${off(r)} AS p_partkey",
      "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
    }, "part", 4)

    write(replicate(read("orders")) { r => Seq(
      s"o_orderkey + ${off(r)} AS o_orderkey",
      s"o_custkey + ${off(r)} AS o_custkey",
      "o_orderstatus", "o_totalprice",
      s"timestampadd(SECOND, $r, o_orderdate) AS o_orderdate",
      "o_orderpriority")
    }, "orders", 16)

    write(replicate(read("lineitem")) { r => Seq(
      s"l_orderkey + ${off(r)} AS l_orderkey",
      s"l_partkey + ${off(r)} AS l_partkey",
      s"l_suppkey + ${off(r)} AS l_suppkey",
      "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
      "l_tax", "l_returnflag", "l_linestatus",
      s"timestampadd(SECOND, $r, l_shipdate) AS l_shipdate")
    }, "lineitem", 32)

    // events.ts arrives under any of the three live encodings (see
    // Tables.events); normalize to the generator's canonical shape — a
    // plain BIGINT of epoch nanos — before replicating, then jitter r
    // seconds. Output round-trips through Tables.events' LongType branch.
    val ev0 = read("events")
    val evNanos = ev0.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => ev0
      case _ => ev0.withColumn("ts",
        expr("unix_micros(cast(ts as timestamp)) * 1000L"))
    }
    write(replicate(evNanos) { r => Seq(
      s"event_id + ${off(r)} AS event_id",
      s"ts + ${r}L * 1000000000L AS ts",
      s"user_id + ${off(r)} AS user_id",
      "event_type", "value", "props")
    }, "events", 16)

    write(replicate(read("documents")) { r => Seq(
      s"doc_id + ${off(r)} AS doc_id",
      s"translate(text, '${Lower + Upper}', '${rot(Lower, r) + rot(Upper, r)}') AS text",
      "lang", "source", "n_chars")
    }, "documents", 8)

    write(replicate(read("embeddings")) { r => Seq(
      s"vec_id + ${off(r)} AS vec_id",
      s"transform(embedding, (x, i) -> cast(x + $r * 0.003d * sin(vec_id * 97 + i) as float)) AS embedding",
      "label")
    }, "embeddings", 8)
  }
}
