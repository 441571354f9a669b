package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{Analytics, Curation, Extensions, Funcs, Headline,
  Insights, LlmOps, MahjongAnalytics, Maintain, Multimodal, Quality,
  Relational, Signals, Skew, StreamingQ, Windows}

/** The query registry's coverage: 318 keys, 312 of them oracled by
  * DuckDB. `SparkEntry.queries` joins the query objects' maps with `++`,
  * which keeps only the last of two equal keys, so a key one object
  * shares with another would drop out without any error.
  */
class RegistrySpec extends AnyFunSuite {
  private val objectEntries = Seq(
    Relational.entries, Windows.entries, Funcs.entries, LlmOps.entries,
    StreamingQ.entries, Multimodal.entries, Extensions.entries,
    Headline.entries, Skew.entries, Analytics.entries, Curation.entries,
    Insights.entries, Maintain.entries, Quality.entries,
    MahjongAnalytics.entries, Signals.entries)

  /** Keys with no DuckDB equivalent (the watermark fixtures, LSH and
    * SimHash candidate sets): the correctness gate checks only that they
    * return rows, and their suites assert the rest.
    */
  private val rowsOnly = Set("q_dedup_embed", "q_dedup_near", "q_dedup_simhash",
    "q_stream_dedup", "q_stream_watermark", "q_text_fingerprint")

  test("the registry holds every key of its 16 query objects") {
    assert(SparkEntry.queries.size == objectEntries.map(_.size).sum)
    assert(SparkEntry.queries.size == 318)
  }

  test("every oracle names a registry key, and only the rows-only keys " +
       "lack one") {
    val keys = SparkEntry.queries.keySet
    val oracled = SparkEntry.oracleSql.keySet
    assert((oracled -- keys).isEmpty, "oracles without a key")
    assert(keys -- oracled == rowsOnly)
    assert(oracled.size == 312)
  }
}
