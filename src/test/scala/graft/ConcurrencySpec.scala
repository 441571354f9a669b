package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

/** Round-2 hardening: query bodies no longer mutate session state
  * (extensions arrive via `spark.sql.extensions`, loaders are
  * side-effect-free), so concurrent queries on one shared session must
  * be safe. Runs a mixed batch — relational, window, LSH, native
  * expression, UDAF — in parallel and asserts each result matches its
  * sequential run.
  */
class ConcurrencySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private val mixed = Seq(
    "q_agg_group", "q_win_rank", "q_join_broadcast", "q_dedup_exact",
    "q_sim_topk", "q_udaf_weighted_avg", "q_text_langid", "q_join_asof_native")

  test("a mixed query batch is deterministic under concurrent execution") {
    val sequential = mixed.map { n =>
      n -> SparkEntry.queries(n)(spark, sf).collect().toSeq
    }.toMap
    val futures = mixed.map { n =>
      Future(n -> SparkEntry.queries(n)(spark, sf).collect().toSeq)
    }
    val concurrent = Await.result(Future.sequence(futures), 120.seconds).toMap
    mixed.foreach { n =>
      assert(concurrent(n) == sequential(n), s"$n diverged under concurrency")
    }
  }

  /** Streaming keys set their shuffle-partition count and state-store
    * confs on a clone of the caller's session, so they can share the
    * session with batch keys running at the same time: neither side
    * plans under the other's settings.
    */
  test("streaming keys run concurrently with batch keys, each result " +
       "as in its sequential run") {
    val keys = Seq("q_stream_session", "q_stream_mv", "q_stream_stateful",
                   "q_agg_group", "q_win_rank", "q_join_broadcast")
    val sequential = keys.map { n =>
      n -> SparkEntry.queries(n)(spark, sf).collect().toSeq
    }.toMap
    val futures = keys.map { n =>
      Future(n -> SparkEntry.queries(n)(spark, sf).collect().toSeq)
    }
    val concurrent = Await.result(Future.sequence(futures), 300.seconds).toMap
    keys.foreach { n =>
      assert(concurrent(n).nonEmpty, n)
      assert(concurrent(n) == sequential(n), s"$n diverged under concurrency")
    }
  }
}
