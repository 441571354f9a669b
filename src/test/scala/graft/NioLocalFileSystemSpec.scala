package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{NioLocalFileSystem, Pipeline}

/** The ETL's fork-free local file system: the same permissions and
  * checksums as Hadoop's stock `LocalFileSystem`, installed on the ETL's
  * clone only.
  */
class NioLocalFileSystemSpec extends AnyFunSuite {

  private def open(fs: FileSystem, umask: String): FileSystem = {
    val conf = new Configuration()
    conf.set(FsPermission.UMASK_LABEL, umask)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  private def perms(p: String) = Files.getPosixFilePermissions(Paths.get(p))

  test("files and dirs get the permissions the stock local FS gives them") {
    for (umask <- Seq("022", "000")) {
      val trees = Seq(new LocalFileSystem(), new NioLocalFileSystem()).map { fs =>
        val f = open(fs, umask)
        val root = Files.createTempDirectory("graft_nio_fs_").toString
        for (mode <- Seq("600", "644", "700", "755", "777")) {
          val perm = new FsPermission(Integer.parseInt(mode, 8).toShort)
          f.create(new Path(s"$root/f$mode"), perm, true, 4096, 1.toShort, 1L << 20, null).close()
          assert(f.mkdirs(new Path(s"$root/d$mode"), perm))
        }
        root
      }
      for (mode <- Seq("600", "644", "700", "755", "777");
           rel <- Seq(s"f$mode", s".f$mode.crc", s"d$mode")) {
        val Seq(stock, nio) = trees.map(root => perms(s"$root/$rel"))
        assert(nio == stock, s"umask $umask, $rel")
      }
    }
  }

  test("the .crc sidecar it writes is verified by the stock FS") {
    val root = Files.createTempDirectory("graft_nio_crc_")
    val file = new Path(root.resolve("data").toUri)
    val bytes = Array.tabulate[Byte](10000)(i => (i % 251).toByte)
    val nio = open(new NioLocalFileSystem(), "022")
    val out = nio.create(file)
    out.write(bytes)
    out.close()
    assert(Files.exists(root.resolve(".data.crc")))
    val stock = open(new LocalFileSystem(), "022")
    def read(): Array[Byte] = {
      val in = stock.open(file)
      try in.readAllBytes() finally in.close()
    }
    assert(read().sameElements(bytes))
    // the same length, one byte flipped: the stock read checks the sum
    val corrupt = bytes.clone()
    corrupt(5000) = (corrupt(5000) ^ 1).toByte
    Files.write(root.resolve("data"), corrupt)
    intercept[ChecksumException](read())
  }

  test("Pipeline.run's session writes through it; the JVM's cached local FS " +
       "is left as it was") {
    val spark = SparkTestSession.spark
    val file = URI.create("file:///")
    def cached = FileSystem.get(file, spark.sparkContext.hadoopConfiguration).getClass
    val before = cached
    val out = Files.createTempDirectory("graft_nio_etl_").toString
    Pipeline.run(spark, getClass.getResource("/mjlog").getPath, out)
    assert(cached == before)
    assert(!classOf[NioLocalFileSystem].isAssignableFrom(cached))
    val etl = Pipeline.etlSession(spark).sessionState.newHadoopConf()
    assert(FileSystem.get(file, etl).isInstanceOf[NioLocalFileSystem])
  }
}
