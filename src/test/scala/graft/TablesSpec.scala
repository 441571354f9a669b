package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.classic.GraftShim
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.parquet`, the schema-memoized parquet reader: a repeated read
  * of an unchanged dir submits no Spark job and returns what
  * `spark.read.parquet` returns, and a changed dir, a new partition or a
  * different session conf is never served a stale schema.
  */
class TablesSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_tables_${tag}_")
      .resolve("t.parquet").toString

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** `body`'s result and the number of Spark jobs it submitted from this
    * thread. A marker job in a second group follows `body`; the listener
    * bus delivers events in order, so once the marker's start is seen
    * every job `body` started has been counted.
    */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${java.util.UUID.randomUUID}"
    val marker = s"$group-marker"
    val started = new AtomicInteger
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`)  => started.incrementAndGet()
          case Some(`marker`) => markerSeen.countDown()
          case _              =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      val a = try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "marker job never seen")
      (a, started.get)
    } finally sc.removeSparkListener(listener)
  }

  test("a repeated read of an unchanged dir submits no job and equals spark.read.parquet") {
    val dir = freshDir("hit")
    Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, null, 3.5)).toDF("id", "s", "x")
      .repartition(2).write.parquet(dir)
    val (_, coldJobs) = jobsOf(Tables.parquet(spark, dir))
    assert(coldJobs >= 1, "the first read should infer the schema in a job")
    val (hits0, _) = Tables.schemaReads
    val (df, warmJobs) = jobsOf(Tables.parquet(spark, dir))
    assert(warmJobs == 0, s"a memo hit submitted $warmJobs job(s)")
    assert(Tables.schemaReads._1 == hits0 + 1)
    val plain = spark.read.parquet(dir)
    assert(df.schema == plain.schema)
    assert(rows(df) == rows(plain))
  }

  test("a rewritten dir is read with its new schema") {
    val dir = freshDir("rewrite")
    Seq((1L, "a")).toDF("id", "s").write.parquet(dir)
    assert(Tables.parquet(spark, dir).schema.fieldNames.toSeq == Seq("id", "s"))
    assert(Tables.parquet(spark, dir).schema.fieldNames.toSeq == Seq("id", "s"))
    Seq((1L, "a", 7)).toDF("id", "s", "n").write.mode("overwrite").parquet(dir)
    val df = Tables.parquet(spark, dir)
    assert(df.schema.fieldNames.toSeq == Seq("id", "s", "n"))
    assert(df.collect().toSeq == Seq(Row(1L, "a", 7)))
  }

  test("a new partition is read, with the partition type re-inferred") {
    val dir = freshDir("part")
    Seq((1L, "2024-01-01"), (2L, "2024-01-02")).toDF("id", "k")
      .write.partitionBy("k").parquet(dir)
    assert(Tables.parquet(spark, dir).schema("k").dataType == DateType)
    assert(Tables.parquet(spark, dir).count() == 2)
    // a partition value with a time of day widens the inferred k to a
    // timestamp; under the old DATE the new value would lose its time
    Seq((3L, "2024-01-03 10:00:00")).toDF("id", "k")
      .write.mode("append").partitionBy("k").parquet(dir)
    val df = Tables.parquet(spark, dir)
    assert(df.schema("k").dataType == TimestampType)
    assert(rows(df.selectExpr("id", "CAST(k AS STRING)")) ==
      Seq("[1,2024-01-01 00:00:00]", "[2,2024-01-02 00:00:00]",
          "[3,2024-01-03 10:00:00]"))
  }

  test("a memo schema the dir no longer resolves under is a miss") {
    val dir = freshDir("widen")
    Seq((1L, 1L), (2L, 2L)).toDF("id", "k")
      .write.partitionBy("k").parquet(dir)
    assert(Tables.parquet(spark, dir).schema("k").dataType == IntegerType)
    assert(Tables.parquet(spark, dir).count() == 2)
    // past Int.MaxValue: the memo's INT k cannot parse the new value
    Seq((3L, 3000000000L)).toDF("id", "k")
      .write.mode("append").partitionBy("k").parquet(dir)
    val df = Tables.parquet(spark, dir)
    assert(df.schema("k").dataType == LongType)
    assert(rows(df) == Seq("[1,1]", "[2,2]", "[3,3000000000]"))
  }

  test("the session's spark.sql conf is part of the memo key") {
    // Spark-written files carry their Spark schema, which inference
    // prefers to binaryAsString; write a plain parquet file instead
    val dir = freshDir("conf")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; required binary b; }")
    val writer = ExampleParquetWriter
      .builder(new HadoopPath(s"$dir/part-0.parquet"))
      .withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("id", 1L).append("b", "hi"))
    finally writer.close()
    val asString = GraftShim.cloneSession(spark)
    asString.conf.set("spark.sql.parquet.binaryAsString", "true")
    val asBinary = GraftShim.cloneSession(spark)
    asBinary.conf.set("spark.sql.parquet.binaryAsString", "false")
    assert(Tables.parquet(asString, dir).schema("b").dataType == StringType)
    assert(Tables.parquet(asBinary, dir).schema("b").dataType == BinaryType)
    assert(Tables.parquet(asString, dir).schema("b").dataType == StringType)
    assert(Tables.parquet(asBinary, dir).schema("b").dataType == BinaryType)
    assert(Tables.parquet(asString, dir).collect().toSeq == Seq(Row(1L, "hi")))
  }

  test("8 threads reading a fresh path at once all get its schema") {
    val dir = freshDir("race")
    Seq((1L, "a", 2.0)).toDF("id", "s", "x").write.parquet(dir)
    val expected = spark.read.parquet(dir).schema
    val pool = Executors.newFixedThreadPool(8)
    try {
      val go = new CountDownLatch(1)
      val reads = (1 to 8).map { _ =>
        pool.submit(() => { go.await(); Tables.parquet(spark, dir) })
      }
      go.countDown()
      reads.foreach { f =>
        val df = f.get(120, TimeUnit.SECONDS)
        assert(df.schema == expected)
        assert(df.collect().toSeq == Seq(Row(1L, "a", 2.0)))
      }
    } finally pool.shutdownNow()
    assert(Tables.parquet(spark, dir).schema == expected)
  }
}
