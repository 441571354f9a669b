package graft.functions

import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import org.apache.spark.sql.functions._

import graft.codecs.{Melds, Tiles}

/** Query-time extension surface (SURVEY.md §2.4): scalar UDFs wrapping
  * the pure codec layer, and a typed Aggregator registered as a UDAF.
  *
  * UDFs are optimization barriers (no codegen, no pushdown through
  * them), so they exist for *rendering* at query time — the hot path
  * (ETL parse, §2.1) calls the same pure functions directly in typed
  * map tasks, and relational predicates stay built-in expressions.
  */
object GraftFunctions {

  /** Exact weighted average: decimal-exact partial sums so results are
    * engine-independent (same trick as util.dsum). Demonstrates the
    * typed Aggregator surface — partials merge associatively, so Spark
    * runs it as partial+final just like a built-in.
    */
  final case class WSum(sum: BigDecimal, weight: BigDecimal)

  class WeightedAvg extends Aggregator[(Double, Double), WSum, Double] {
    def zero: WSum = WSum(BigDecimal(0), BigDecimal(0))
    def reduce(b: WSum, a: (Double, Double)): WSum = {
      val v = BigDecimal(a._1).setScale(2, BigDecimal.RoundingMode.HALF_UP)
      val w = BigDecimal(a._2).setScale(2, BigDecimal.RoundingMode.HALF_UP)
      WSum(b.sum + v * w, b.weight + w)
    }
    def merge(x: WSum, y: WSum): WSum = WSum(x.sum + y.sum, x.weight + y.weight)
    def finish(r: WSum): Double =
      // two exact decimal->double conversions + one IEEE division, so
      // the result is bit-identical to the oracle's SUM/SUM expression
      if (r.weight == 0) 0.0 else r.sum.toDouble / r.weight.toDouble
    def bufferEncoder: Encoder[WSum] = Encoders.product[WSum]
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** Group-level MinHash signature merge: the signature of a *set* of
    * documents is the elementwise min of member signatures — letting a
    * groupBy estimate cross-cluster Jaccard without touching raw text
    * again. Null/empty inputs are identities.
    */
  class MinhashMerge extends Aggregator[Seq[Long], Array[Long], Seq[Long]] {
    def zero: Array[Long] = Array.empty
    def reduce(b: Array[Long], a: Seq[Long]): Array[Long] = merge2(b, a)
    def merge(x: Array[Long], y: Array[Long]): Array[Long] =
      merge2(x, scala.collection.immutable.ArraySeq.unsafeWrapArray(y))
    private def merge2(b: Array[Long], a: Seq[Long]): Array[Long] = {
      if (a == null || a.isEmpty) return b
      if (b.isEmpty) return a.toArray
      val out = new Array[Long](b.length)
      var i = 0
      while (i < b.length) { out(i) = math.min(b(i), a(i)); i += 1 }
      out
    }
    def finish(r: Array[Long]): Seq[Long] = r.toSeq
    def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  /** Bounded top-k by (score desc, id asc) as a typed Aggregator — the
    * partial-aggregation form of a distributed top-k/kNN merge. Each
    * map task reduces its scored stream to ≤k rows per group BEFORE
    * the exchange (partial ObjectHashAggregate), so the shuffle
    * carries at most k rows per (group, task) instead of the full
    * candidate fanout — the property a kNN join needs to survive a
    * candidate set that grows with the data.
    *
    * The comparator is total on (score, id) with unique ids, so
    * reduce/merge are associative+commutative and the result is
    * identical to a row_number() window over the same ordering. A NaN
    * score (e.g. cosine of a zero-norm vector) would break that
    * totality — better() answers false both ways and the sort order
    * becomes undefined — so NaN rows are dropped at insert, which is
    * also what the row_number-over-DESC oracle shape does with NULLs.
    */
  class TopKByScore(k: Int)
      extends Aggregator[(Double, Long), Seq[(Double, Long)], Seq[(Double, Long)]] {
    private def better(a: (Double, Long), b: (Double, Long)): Boolean =
      a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)
    private def insert(b: Seq[(Double, Long)],
                       a: (Double, Long)): Seq[(Double, Long)] =
      if (a._1.isNaN) b
      else if (b.length >= k && better(b.last, a)) b
      else (b :+ a).sortWith(better).take(k)
    def zero: Seq[(Double, Long)] = Seq.empty
    def reduce(b: Seq[(Double, Long)], a: (Double, Long)): Seq[(Double, Long)] =
      insert(b, a)
    def merge(x: Seq[(Double, Long)],
              y: Seq[(Double, Long)]): Seq[(Double, Long)] = y.foldLeft(x)(insert)
    def finish(r: Seq[(Double, Long)]): Seq[(Double, Long)] = r
    def bufferEncoder: Encoder[Seq[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
    def outputEncoder: Encoder[Seq[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
  }

  /** Upper-triangle Gram-matrix accumulator: one pass over the
    * embedding column folds every vector's outer product into a
    * d(d+1)/2-cell buffer of exact micro-units (each pairwise product
    * is rounded to 6 dp first — BigDecimal.valueOf + HALF_UP, the same
    * rounding Spark's own `round()` applies to doubles — so partials
    * are integers and merge order cannot move the result). Partial
    * aggregation runs map-side; the shuffle carries one ~16 KB buffer
    * per task regardless of corpus size, which is what lets a d×d
    * covariance/PCA precursor run over billions of rows without a
    * row-pair expansion.
    */
  class GramAgg(dim: Int)
      extends Aggregator[Seq[Float], Array[Long], Seq[Long]] {
    private val cells = dim * (dim + 1) / 2
    def zero: Array[Long] = new Array[Long](cells)
    /** round(v, 6) in exact micro-units, HALF_UP on the shortest
      * decimal repr — BigDecimal.valueOf semantics (what Spark's own
      * round() applies to doubles), with a fast path: when v*1e6 sits
      * ≥ 1e-6 away from every rounding boundary, floor-based rounding
      * provably agrees (the double-scaling and shortest-repr errors
      * are < 1e-8 there), so the ~10× slower exact path only runs on
      * knife-edge values. ~10× on the whole-table aggregate.
      */
    private def micro6(v: Double): Long = {
      val r = v * 1e6
      // the ±1e-6 boundary-margin argument needs r to carry sub-integer
      // resolution — past 2^52 every double IS an integer and frac is
      // meaningless, so large magnitudes take the exact path
      if (math.abs(r) >= 4.5e15)
        return java.math.BigDecimal.valueOf(v)
          .setScale(6, java.math.RoundingMode.HALF_UP)
          .unscaledValue().longValueExact()
      val f = math.floor(r)
      val frac = r - f
      if (frac > 1e-6 && frac < 0.4999990) f.toLong
      else if (frac > 0.5000010 && frac < 0.9999990) f.toLong + 1L
      else
        java.math.BigDecimal.valueOf(v)
          .setScale(6, java.math.RoundingMode.HALF_UP)
          .unscaledValue().longValueExact()
    }
    def reduce(b: Array[Long], v: Seq[Float]): Array[Long] = {
      if (v == null || v.length != dim) return b
      val x = v.toArray
      var k = 0
      var i = 0
      while (i < dim) {
        val xi = x(i).toDouble
        var j = i
        while (j < dim) {
          b(k) += micro6(xi * x(j).toDouble)
          k += 1
          j += 1
        }
        i += 1
      }
      b
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var k = 0
      while (k < cells) { a(k) += b(k); k += 1 }
      a
    }
    def finish(r: Array[Long]): Seq[Long] = r.toSeq
    def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  /** The graft SQL functions, by name. */
  private lazy val functions: Seq[(String, UserDefinedFunction)] = Seq(
    "graft_tiles" ->
      udf((ids: Seq[Int], hasAka: Boolean) => Tiles.numToHai(ids, hasAka)),
    "graft_dora" -> udf((ids: Seq[Int]) => Tiles.doraFromIndicators(ids)),
    "graft_meld_pais" ->
      udf((m: Int, hasAka: Boolean) => Melds.decode(m, hasAka).map(_.pais).orNull),
    "graft_meld_type" ->
      udf((m: Int, hasAka: Boolean) => Melds.decode(m, hasAka).map(_.atype).orNull),
    "graft_weighted_avg" -> udaf(new WeightedAvg),
    "graft_minhash_merge" -> udaf(new MinhashMerge))

  /** Register every graft SQL function the session lacks. A name it
    * already has keeps its function: registering it again would replace
    * it and log a WARN on every call.
    */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, f) =>
      if (!spark.catalog.functionExists(name)) spark.udf.register(name, f)
    }
}
