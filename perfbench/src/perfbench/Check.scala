package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Output checks, run outside the timed region. */
object Check {

  /** Floats are compared at 9 (doubles) or 6 (floats) significant
    * digits, so summation order cannot flip a digest; maps are hashed as
    * sorted entry arrays. Everything else hashes as stored.
    */
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType => format_string("%.9g", c)
    case FloatType => format_string("%.6g", c.cast(DoubleType))
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case StructType(fs) =>
      when(c.isNull, lit(null)).otherwise(struct(fs.map(f => canon(c.getField(f.name), f.dataType).as(f.name)).toSeq: _*))
    case MapType(kt, vt, _) => canon(array_sort(map_entries(c)), ArrayType(StructType(Seq(
      StructField("key", kt), StructField("value", vt)))))
    case _ => c
  }

  /** (rows, order-independent digest) of a DataFrame: the sum of a 64-bit
    * hash of every row, over all columns.
    */
  def digest(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.map(f => canon(col(s"`${f.name}`"), f.dataType))
    val r = df.select((if (cols.isEmpty) lit(0L) else xxhash64(cols.toSeq: _*)).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toString).getOrElse("0"))
  }

  /** Per-table (rows, digest) of a lake written by the ETL. */
  def lake(spark: SparkSession, dir: Path): Map[String, (Long, String)] =
    graft.etl.Pipeline.TableNames.map { t =>
      t -> digest(spark.read.parquet(dir.resolve(t).toString))
    }.toMap

  /** Data files and bytes under a directory tree. */
  def footprint(dir: Path): (Long, Long) = {
    val s = Files.walk(dir)
    try {
      val files = s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith(".") && !p.getFileName.toString.startsWith("_")).toSeq
      (files.size.toLong, files.map(Files.size).sum)
    } finally s.close()
  }
}
