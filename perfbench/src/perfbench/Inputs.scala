package perfbench

import java.nio.file.{Files, Path}

import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.etl.LogGen

/** Workload inputs, made from a seed and written under the run directory. */
object Inputs {

  /** A LogGen corpus: `<dir>/<YYYYMMDD>/<game>.xml`, `perDay` games for
    * each of `days` consecutive dates from 2024-01-01 + `firstDay`.
    * Game indices continue across days, so a corpus written in pieces
    * equals one written whole. Returns (games, bytes).
    */
  def mjlogs(dir: Path, rng: Random, firstDay: Int, days: Int, perDay: Int): (Int, Long) = {
    var bytes = 0L
    for (d <- firstDay until firstDay + days) {
      val date = java.time.LocalDate.of(2024, 1, 1).plusDays(d)
        .format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE)
      val sub = Files.createDirectories(dir.resolve(date))
      for (g <- 0 until perDay) {
        val xml = LogGen.genGame(rng, d * perDay + g).getBytes("UTF-8")
        Files.write(sub.resolve(f"$date$g%05dgm.xml"), xml)
        bytes += xml.length
      }
    }
    (days * perDay, bytes)
  }

  /** Vocabulary of the synthetic documents in the repo testdata (TESTDATA.md). */
  private val Vocab = Vector("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")
  private val Langs = Vector("en", "en", "en", "en", "en", "en", "en", "en",
    "zh", "zh", "zh", "es", "es", "es", "fr", "fr", "fr", "de", "de", "de")

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
  final case class Emb(vec_id: Long, embedding: Seq[Float], label: Int)

  /** The two tables LlmOps reads, shaped like the sf0.01 repo testdata
    * (`<dir>/documents.parquet`, `<dir>/embeddings.parquet`, 500 rows
    * each): random-word documents of 10-100 tokens, 5% of them an earlier
    * document plus " dup"; unit-norm 64-d Gaussian embeddings with 10
    * labels. Fixed data (seed 42), so key outputs have recorded values.
    */
  def tables(spark: SparkSession, dir: Path): Unit = {
    import spark.implicits._
    val rng = new Random(42L)
    val nDocs = 500
    val texts = new Array[String](nDocs)
    val docs = (0 until nDocs).map { i =>
      texts(i) =
        if (i > 0 && rng.nextDouble() < 0.05) texts(rng.nextInt(i)) + " dup"
        else Seq.fill(10 + rng.nextInt(91))(Vocab(rng.nextInt(Vocab.size))).mkString(" ")
      Doc(i, texts(i), Langs(rng.nextInt(Langs.size)), s"src${i % 20}", texts(i).length)
    }
    val embs = (0 until 500).map { i =>
      val v = Array.fill(64)(rng.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Emb(i, v.map(x => (x / norm).toFloat).toSeq, rng.nextInt(10))
    }
    def write(df: org.apache.spark.sql.DataFrame, name: String): Unit =
      df.coalesce(1).write.parquet(dir.resolve(s"$name.parquet").toString)
    write(docs.toDF(), "documents")
    write(embs.toDF(), "embeddings")
  }
}
