package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{Insights, Relational, Scratch, Seeds}

/** `Seeds.once`, the one guard of every on-disk seed: built once under
  * races, rebuilt from an empty dir after a failed build, never rebuilt
  * once marked — and timed, so `Seeds.breakdown` sees every build.
  */
class SeedsSpec extends AnyFunSuite {
  private def freshDir(): Path = {
    val root = Files.createTempDirectory("graft_seeds_")
    root.resolve("seed") // absent, as a seed dir is before its first build
  }

  test("racing callers build a seed once and each returns a complete seed") {
    val dir = freshDir()
    val builds = new AtomicInteger
    val n = 8
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(n)
    try {
      val seen = (1 to n).map { _ =>
        pool.submit(() => {
          start.await()
          Seeds.once("seeds_spec_race", dir.toString) {
            builds.incrementAndGet()
            Thread.sleep(200) // hold the build open while the others arrive
            Files.write(dir.resolve("data"), Array[Byte](1))
          }
          Files.exists(dir.resolve("data"))
        })
      }
      start.countDown()
      val complete = seen.map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get == 1)
      assert(complete.forall(identity), "a caller returned before the build finished")
    } finally pool.shutdownNow()
    Scratch.rmTree(dir.getParent)
  }

  test("a build that throws leaves no marker, and the rebuild starts from an empty dir") {
    val dir = freshDir()
    val err = intercept[IllegalStateException] {
      Seeds.once("seeds_spec_fail", dir.toString) {
        Files.write(dir.resolve("partial"), Array[Byte](1))
        throw new IllegalStateException("crash mid-build")
      }
    }
    assert(err.getMessage == "crash mid-build")
    assert(!Files.exists(dir.resolve("_SEEDED")))
    var rebuilt = false
    Seeds.once("seeds_spec_fail", dir.toString) {
      rebuilt = true
      Files.write(dir.resolve("data"), Array[Byte](1))
    }
    assert(rebuilt)
    assert(Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet ==
      Set("data", "_SEEDED"))
    Scratch.rmTree(dir.getParent)
  }

  test("a marked dir is not rebuilt") {
    val dir = freshDir()
    Files.createDirectories(dir)
    Files.write(dir.resolve("data"), Array[Byte](7))
    Files.write(dir.resolve("_SEEDED"), Array.emptyByteArray)
    var built = false
    Seeds.once("seeds_spec_hit", dir.toString) { built = true }
    assert(!built)
    assert(Files.readAllBytes(dir.resolve("data")).toSeq == Seq[Byte](7))
    Scratch.rmTree(dir.getParent)
  }

  test("seeds that used to build untimed land in Seeds.breakdown") {
    val spark = SparkTestSession.spark
    // a fresh copy of the data dir gets fresh scratch dirs, so every
    // seed below builds in this test
    val src = Paths.get("/root/testdata/sf0.001")
    val sf = Files.createTempDirectory("graft_seeds_sf_")
    Files.walk(src).iterator().asScala.foreach { p =>
      val dst = sf.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    }
    try {
      val seeds = Seq("compact_frag", "dpp_orders", "dpp_dim", "quarantine_lines")
      val before = Seeds.breakdown
      Seq(Relational.entries("q_sink_compact"), Relational.entries("q_join_dpp"),
          Insights.entries("q_scan_quarantine"))
        .foreach(q => assert(q(spark, sf.toString).collect().nonEmpty))
      val after = Seeds.breakdown
      seeds.foreach { k =>
        assert(after.getOrElse(k, 0.0) > before.getOrElse(k, 0.0), s"seed $k was not timed")
      }
    } finally Scratch.rmTree(sf)
  }
}
