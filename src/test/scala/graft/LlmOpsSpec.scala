package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.GraftShim
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Pipeline
import graft.queries.{LlmOps, Seeds}

/** Unit tests for the non-oracled LLM ops: planted near-duplicates for
  * MinHash-LSH and SimHash, ANN recall vs brute force, language-ID and
  * fingerprint determinism (SURVEY.md §2.3 LLM extensions).
  */
class LlmOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  /** Temp sfDir with planted documents: 0 ≈ 1 (one token differs),
    * 2 == 0 exactly, 3 and 4 unrelated.
    */
  private lazy val plantedDir: String = {
    import spark.implicits._
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliett kilo lima mike november oscar papa quebec romeo sierra " +
      "tango uniform victor whiskey xray yankee zulu one two three"
    val docs = Seq(
      (0L, base + " four", "en", "src0", 100L),
      (1L, base + " five", "en", "src0", 100L),   // near-dup of 0
      (2L, base + " four", "en", "src1", 100L),   // exact dup of 0
      (3L, "completely different words about spark catalyst tungsten " +
           "codegen shuffle partitions exchange broadcast join hash sort",
           "en", "src1", 90L),
      (4L, "nothing shared here either mahjong tiles winds dragons " +
           "honors melds kans pons chiis riichi tenpai furiten wait",
           "en", "src2", 80L))
    val dir = Files.createTempDirectory("graft_docs_").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(2)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("exact dedup groups identical content only") {
    val rows = LlmOps.qDedupExact(spark, plantedDir).collect()
    assert(rows.length == 4) // 5 docs, one exact-dup pair
    val dupGroup = rows.filter(_.getAs[Long]("n_copies") == 2)
    assert(dupGroup.length == 1)
    assert(dupGroup.head.getAs[Long]("keep_id") == 0L)
  }

  test("minhash LSH finds planted near-dup and exact-dup clusters") {
    val rows = LlmOps.qDedupNear(spark, plantedDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_rep"))).toMap
    assert(rows.get(1L).contains(0L)) // near-dup joined to rep 0
    assert(rows.get(2L).contains(0L)) // exact dup joined to rep 0
    assert(!rows.contains(3L) && !rows.contains(4L)) // unrelated stay unique
  }

  test("minhash label propagation collapses a 3-hop bucket chain") {
    import spark.implicits._
    // Sliding 24-token windows with stride 6: adjacent docs share 18
    // tokens, docs two apart share 12 — chosen so the LSH bucket graph
    // is EXACTLY the path 0–1–2–3 (asserted below as a precondition).
    // The old single chase step left doc 3 pointing at a non-root rep;
    // fixpoint propagation must map every doc to root 0.
    val texts = (0 until 4).map { i =>
      (i * 6 until i * 6 + 24).map(j => f"tok$j%03d").mkString(" ")
    }
    val bandSets = texts.map(t =>
      LlmOps.minhashBands(t).zipWithIndex.map { case (h, b) => (b, h) }.toSet)
    val edges = (for {
      i <- 0 until 4; j <- i + 1 until 4
      if (bandSets(i) & bandSets(j)).nonEmpty
    } yield (i, j)).toSet
    assert(edges == Set((0, 1), (1, 2), (2, 3)),
           s"fixture no longer forms a chain: $edges")
    val dir = Files.createTempDirectory("graft_chain_").toString
    texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(2)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val reps = LlmOps.qDedupNear(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_rep"))).toMap
    assert(reps == Map(1L -> 0L, 2L -> 0L, 3L -> 0L),
           s"chain did not collapse to the root: $reps")
  }

  test("simhash flags near-identical documents within hamming 3") {
    val pairs = LlmOps.qDedupSimhash(spark, plantedDir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs.contains((0L, 2L))) // identical -> hamming 0
    assert(pairs.contains((0L, 1L)) || pairs.contains((1L, 2L))) // near
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("knn join result is invariant in the block count") {
    // the point of block-partitioned pair generation: every
    // (candidate, probe) pair meets exactly once for ANY block count,
    // so deriving the count from cluster parallelism can't change rows
    val at7 = LlmOps.knnJoinWith(7)(spark, sf).collect().toSeq
    val at32 = LlmOps.knnJoinWith(32)(spark, sf).collect().toSeq
    assert(at7.nonEmpty && at7 == at32)
  }

  test("chained LSH→verify equals full exact jaccard on planted corpus") {
    // brute-force exact jaccard over all pairs (tiny corpus) — what the
    // chained operator must reproduce at threshold 0.5 if LSH candidate
    // generation has full recall on the qualifying pairs
    val docs = spark.read.parquet(s"$plantedDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val gramSets = docs.map { case (id, t) => id -> LlmOps.twoGrams(t).toSet }
    val full = (for {
      i <- gramSets.indices; j <- i + 1 until gramSets.length
      (ia, sa) = gramSets(i); (ib, sb) = gramSets(j)
      jac = (sa & sb).size.toDouble / (sa | sb).size
      if jac >= 0.5
    } yield (ia, ib, math.rint(jac * 1e6) / 1e6)).toSet
    assert(full == Set((0L, 1L, 0.933333), (0L, 2L, 1.0), (1L, 2L, 0.933333)),
           s"fixture drifted: $full")
    val chained = LlmOps.qDedupLshVerify(spark, plantedDir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
                 r.getAs[Double]("jaccard"))).toSet
    assert(chained == full, s"chained=$chained full=$full")
  }

  test("near-dup clustering emits verified components with min-id labels") {
    val rows = LlmOps.qDedupNearClusters(spark, plantedDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"))).toMap
    // docs 0,1,2 form one verified component (jaccard ≥ 0.5 pairwise);
    // 3 and 4 share no verified edge so they are absent entirely
    assert(rows == Map(0L -> 0L, 1L -> 0L, 2L -> 0L), s"got $rows")
  }

  test("near-dup clustering closes a transitive verify chain") {
    import spark.implicits._
    // Same sliding-window construction as the bucket-chain test, but the
    // precondition here is on the VERIFIED pair graph: adjacent docs have
    // 2-gram jaccard ≥ 0.5, docs two apart fall below it — so the exact
    // pair graph is the path 0–1–2–3 and only transitive closure (not
    // pairwise verify alone) can put 3 in cluster 0.
    val texts = (0 until 4).map { i =>
      (i * 6 until i * 6 + 24).map(j => f"tok$j%03d").mkString(" ")
    }
    val gramSets = texts.map(t => LlmOps.twoGrams(t).toSet)
    val verifiedEdges = (for {
      i <- 0 until 4; j <- i + 1 until 4
      jac = (gramSets(i) & gramSets(j)).size.toDouble /
            (gramSets(i) | gramSets(j)).size
      if jac >= 0.5
    } yield (i, j)).toSet
    assert(verifiedEdges == Set((0, 1), (1, 2), (2, 3)),
           s"fixture no longer forms a verified path: $verifiedEdges")
    val dir = Files.createTempDirectory("graft_vchain_").toString
    texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(2)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val clusters = LlmOps.qDedupNearClusters(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"))).toMap
    assert(clusters == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L),
           s"verified chain did not collapse to the root: $clusters")
  }

  test("clustering converges on a path whose ids zig-zag (0–2–3–1)") {
    import spark.implicits._
    // adversarial id order: the min label (0) must cross doc 2 and doc 3
    // to reach doc 1, and on the way there is a round whose propagation
    // changes a label while the pointer jump is a no-op — a convergence
    // check that only watches the jump would stop early and mislabel 1
    val texts = (0 until 4).map { i =>
      (i * 6 until i * 6 + 24).map(j => f"tok$j%03d").mkString(" ")
    }
    val idOf = Seq(0L, 2L, 3L, 1L) // window i belongs to doc idOf(i)
    val gramSets = texts.map(t => LlmOps.twoGrams(t).toSet)
    val verifiedEdges = (for {
      i <- 0 until 4; j <- i + 1 until 4
      jac = (gramSets(i) & gramSets(j)).size.toDouble /
            (gramSets(i) | gramSets(j)).size
      if jac >= 0.5
      a = math.min(idOf(i), idOf(j)); b = math.max(idOf(i), idOf(j))
    } yield (a, b)).toSet
    assert(verifiedEdges == Set((0L, 2L), (2L, 3L), (1L, 3L)),
           s"fixture no longer forms the zig-zag path: $verifiedEdges")
    val dir = Files.createTempDirectory("graft_zigzag_").toString
    texts.zipWithIndex
      .map { case (t, i) => (idOf(i), t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(2)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val clusters = LlmOps.qDedupNearClusters(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"))).toMap
    assert(clusters == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L),
           s"zig-zag path did not collapse to the root: $clusters")
  }

  test("canonical selection keeps one member per verified cluster") {
    val rows = LlmOps.qDedupCanonical(spark, plantedDir).collect()
    assert(rows.length == 1)
    val r = rows.head
    // docs 0,1,2 cluster; equal n_chars → tie broken by min doc_id
    assert(r.getAs[Long]("cluster_id") == 0L)
    assert(r.getAs[Long]("keep_id") == 0L)
    assert(r.getAs[Long]("n_members") == 3L)
  }

  test("corpus rebalance caps every language near the smallest stratum") {
    val dir = "/root/testdata/sf0.01"
    val before = spark.read.parquet(s"$dir/documents.parquet")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val cap = before.values.min
    val kept = LlmOps.qSampleBalance(spark, dir).collect()
    val keptByLang = kept.groupBy(_.getAs[String]("lang"))
      .view.mapValues(_.length.toLong).toMap
    // the hash-rate rule keeps ≈cap per language (±√cap-ish jitter);
    // the overrepresented stratum must actually shrink toward the cap
    val tol = 3 * math.sqrt(cap.toDouble).ceil.toLong
    before.keys.foreach { l =>
      val k = keptByLang.getOrElse(l, 0L)
      assert(math.abs(k - math.min(cap, before(l))) <= tol,
             s"$l kept $k, expected ≈${math.min(cap, before(l))} ± $tol")
    }
    assert(keptByLang("en") < before("en") / 2,
           "overrepresented language was not downsampled")
    // deterministic: same rows on a re-run over a different partitioning
    val again = LlmOps.qSampleBalance(spark, dir).collect()
    assert(kept.map(_.getLong(0)).toSeq == again.map(_.getLong(0)).toSeq)
  }

  test("rebalance on an empty corpus yields an empty sample, not a throw") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_empty_").toString
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = LlmOps.qSampleBalance(spark, dir)
    assert(out.columns.toSeq == Seq("doc_id", "lang", "source"))
    assert(out.count() == 0L)
  }

  test("rebalance hash is exact past the 64-bit wrap bound (decimal product)") {
    // doc_ids beyond 2^63/2654435761 ≈ 3.4e9 used to wrap the hash
    // product (the sf1 gate hit this with ScaleGen's 9e9 key offsets);
    // the decimal-promoted hash must be exact for ANY long doc_id and
    // agree with big-integer arithmetic
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_bigid_").toString
    // 8 "en" docs with post-wrap-bound ids + 1 "xx" doc: cap = 1, so an
    // en doc is kept iff hkey(doc_id) * 8 < 2^31 — the threshold really
    // exercises the hash VALUES, not just survival
    val enIds = (0L until 8L).map(i => 9000000000L + 7L * i) :+
      (Long.MaxValue - 7L)
    val rows = enIds.zipWithIndex.map { case (id, i) =>
      (id, s"text $i", "en", "s", 6L) } :+ ((12L, "solo", "xx", "s", 4L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val kept = LlmOps.qSampleBalance(spark, dir).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    // replicate with BigInt (exact by construction)
    val nEn = BigInt(enIds.length)
    val expect = (enIds.filter { id =>
      (BigInt(id) * BigInt(2654435761L)).mod(BigInt(1L << 31)) * nEn <
        BigInt(1L << 31)
    } :+ 12L).toSet
    assert(kept == expect, s"kept $kept != $expect")
  }

  test("LSH candidate pair count grows ~linearly with the corpus, never n²") {
    // the scaling claim behind the whole near-dup story, measured on
    // WORK (candidate pairs scored by the verify stage), not wall time:
    // a 10× corpus must grow candidates ~10× (dup rate is constant in
    // this corpus), nowhere near the 100× an all-pairs plan would pay
    def candPairs(dir: String): (Long, Long) = {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text").collect()
      val counts = new scala.collection.mutable.HashMap[(Int, Long), Long]()
      docs.foreach { r =>
        LlmOps.minhashBands(r.getString(1)).zipWithIndex.foreach {
          case (h, b) =>
            counts((b, h)) = counts.getOrElse((b, h), 0L) + 1L
        }
      }
      (docs.length.toLong, counts.valuesIterator.map(k => k * (k - 1) / 2).sum)
    }
    val (n1, p1) = candPairs("/root/testdata/sf0.01")
    val (n2, p2) = candPairs("/root/testdata/sf0.1")
    val corpusGrowth = n2.toDouble / n1
    val pairGrowth = p2.toDouble / p1
    assert(p1 > 0 && p2 > 0, "fixture lost its near-dups")
    assert(pairGrowth < math.pow(corpusGrowth, 1.5),
           f"candidate growth $pairGrowth%.1f× vs corpus $corpusGrowth%.1f× " +
           "— bucketing is no longer bounding the pair space")
  }

  test("embedding LSH finds planted near-identical vectors") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val base = Array.fill(64)(rng.nextGaussian().toFloat)
    val near = base.zipWithIndex.map { case (x, i) =>
      x + (if (i == 0) 0.01f else 0f) }
    val other = Array.fill(64)(rng.nextGaussian().toFloat)
    val anti = base.map(-_)
    val dir = java.nio.file.Files.createTempDirectory("graft_emb_").toString
    Seq((0L, base.toSeq, 0), (1L, near.toSeq, 0),
        (2L, other.toSeq, 1), (3L, anti.toSeq, 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val pairs = LlmOps.qDedupEmbed(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // (0, 1) is the planted near-pair this spec is actually about;
    // (-2, -1) is the query's built-in detection-path canary (two
    // sentinel rows sharing one fixed vector, independent of the corpus)
    assert(pairs == Set((-2L, -1L), (0L, 1L)))
  }

  test("ANN(IVF) top-10 overlaps brute-force top-10") {
    val exact = LlmOps.qSimTopk(spark, sf).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val approx = LlmOps.qSimAnnIvf(spark, sf).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    assert(exact.size == 10 && approx.size == 10)
    assert((exact & approx).size >= 3,
           s"recall too low: ${(exact & approx).size}/10")
  }

  test("IVF kNN join recalls most exact top-5 neighbors per probe") {
    def byProbe(rows: Array[org.apache.spark.sql.Row]) =
      rows.groupBy(_.getAs[Long]("qid"))
        .view.mapValues(_.map(_.getAs[Long]("vec_id")).toSet).toMap
    val exact  = byProbe(LlmOps.qSimKnnJoin(spark, sf).collect())
    val approx = byProbe(LlmOps.qSimKnnJoinIvf(spark, sf).collect())
    assert(exact.nonEmpty && exact.keySet == approx.keySet)
    val recall = exact.map { case (q, e) =>
      (e & approx(q)).size.toDouble / e.size }.sum / exact.size
    assert(recall >= 0.3, f"mean recall@5 too low: $recall%.2f")
  }

  test("language id emits a known code per document") {
    val langs = LlmOps.qTextLangid(spark, sf).select("pred_lang")
      .distinct().collect().map(_.getString(0)).toSet
    assert(langs.subsetOf(Set("en", "es", "de", "fr", "zh", "und")))
  }

  test("fingerprint kernel is bit-identical to the HOF expression form") {
    // the reference semantics the kernel replaced (kept here, not in
    // main code, as the executable spec of fingerprintKernel)
    val toks = filter(split(col("text"), " "), t => length(t) > 0)
    val hashes = transform(toks, t => xxhash64(t))
    val n = size(hashes)
    val wins = when(n < 4, array(array_max(hashes)))
      .otherwise(transform(sequence(lit(0), n - 4),
        i => array_max(slice(hashes, i + 1, lit(4)))))
    val want = Tables.documents(spark, sf).select(
        col("doc_id"),
        xxhash64(array_distinct(wins)).as("fingerprint"),
        size(array_distinct(wins)).cast("long").as("n_selected"))
      .orderBy("doc_id").collect().toSeq
    val got = LlmOps.qTextFingerprint(spark, sf).collect().toSeq
    assert(got == want)
    // edge shapes the testdata may not contain: empty, short, ties
    assert(LlmOps.fingerprintKernel("") == (42L, 1L))
    assert(LlmOps.fingerprintKernel("a b")._2 == 1L)
    assert(LlmOps.fingerprintKernel("x x x x x x")._2 == 1L)
  }

  test("fingerprints are deterministic and mostly distinct") {
    val a = LlmOps.qTextFingerprint(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val b = LlmOps.qTextFingerprint(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(a.toSeq == b.toSeq)
    assert(a.map(_._2).distinct.length > a.length / 2)
  }

  test("approx sketch profile stays within tolerance of exact") {
    // the query now carries its own tolerance verdicts (the oracle pins
    // them TRUE); the spec asserts the engine agrees and anchors are sane
    val rows = graft.queries.Headline.qAggApprox(spark, sf).collect()
    assert(rows.nonEmpty)
    val exact = Tables.lineitem(spark, sf)
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_orderkey")).as("x"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getAs[Boolean]("ok_distinct"),
             s"${r.getString(0)}: approx_count_distinct outside bound")
      assert(r.getAs[Boolean]("ok_p50"),
             s"${r.getString(0)}: approx median rank outside bound")
      assert(r.getAs[Long]("exact_orders") == exact(r.getString(0)))
    }
  }

  test("PQ kernel: quantization, tie-break, and training determinism") {
    // floor(x·1e4 + 0.5): exact halves round up, negatives toward +inf
    assert(LlmOps.pqQuantize(Seq(0.12345f, -0.5f, 0f)).toSeq ==
      Seq(1235L, -5000L, 0L))
    // sqdist is plain integer math
    assert(LlmOps.pqSqDist(Array(3L, 0L), Array(0L, 4L)) == 25L)
    // training is deterministic in the sample ORDER (it sorts internally)
    val rng = new scala.util.Random(7)
    val sample = Array.tabulate(40) { i =>
      (i.toLong, Array.fill(64)(rng.nextInt(2000).toLong - 1000L))
    }
    val a = LlmOps.pqTrain(sample)
    val b = LlmOps.pqTrain(sample.reverse)
    assert(a.flatten.flatten.toSeq == b.flatten.flatten.toSeq)
    assert(a.length == LlmOps.PqSubspaces &&
      a.head.length == LlmOps.PqCodes &&
      a.head.head.length == LlmOps.PqSubDim)
  }

  test("PQ ADC + rerank recovers the exact-L2 top-10") {
    val out = LlmOps.qSimPqAdc(spark, sf).collect()
    val got = out.map(_.getAs[Long]("vec_id")).toSet
    // exact L2 on the same integer quantization — ADC approximates L2
    // (NOT cosine: unnormalized vectors order differently under each)
    val vecs = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0),
        LlmOps.pqQuantize(r.getSeq[Float](1))))
    val q = vecs.find(_._1 == 0L).get._2
    val exactTop = vecs.filter(_._1 != 0L)
      .map { case (id, v) => (LlmOps.pqSqDist(v, q), id) }
      .sorted.take(10)
    assert(got == exactTop.map(_._2).toSet,
      s"rerank $got != exact-L2 ${exactTop.map(_._2).toSet}")
    // and the emitted dist column IS the exact integer L2
    val distById = out.map(r =>
      r.getAs[Long]("vec_id") -> r.getAs[Long]("dist")).toMap
    exactTop.foreach { case (dd, id) => assert(distById(id) == dd) }
  }

  test("contamination flags a planted benchmark overlap only") {
    import spark.implicits._
    // doc 0 and 50 share a long run (>=3 distinct 3-grams); 50 is in the
    // benchmark slice (id % 50 == 0); 77 shares nothing
    val shared = "alpha bravo charlie delta echo foxtrot golf hotel"
    val docs = Seq(
      (50L, shared + " india juliett", "en", "src0", 100L),
      (77L, "unrelated tokens entirely disjoint from everything here",
        "en", "src0", 60L),
      (120L, shared + " kilo lima", "en", "src1", 100L))
    val dir = Files.createTempDirectory("graft_contam_").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = LlmOps.qTextContamination(spark, dir).collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Long]("doc_id") == 120L)
    assert(rows.head.getAs[Long]("bench_id") == 50L)
    assert(rows.head.getAs[Long]("overlap") == 6L) // 8-token shared run
  }

  test("PII scrub redacts every planted email and phone") {
    val rows = LlmOps.qTextPiiScrub(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val expectedEmails = if (id % 3 == 0) 2L else 1L
      assert(r.getAs[Long]("n_emails") == expectedEmails, s"doc $id")
      assert(r.getAs[Long]("n_phones") == 1L, s"doc $id")
    }
  }

  test("approx_count_distinct within rsd tolerance of exact") {
    val df = graft.Tables.documents(spark, sf)
    val exact = df.select(countDistinct(col("text"))).first.getLong(0)
    val approx = df.select(approx_count_distinct(col("text"), 0.05))
      .first.getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.15)
  }

  test("percentile_approx within its accuracy bound of the exact percentile") {
    val df = graft.Tables.lineitem(spark, "/root/testdata/sf0.01")
    // accuracy a ⇒ rank error ≤ n/a; with a = 10000 over 60k rows the
    // admitted rank slack is ~6 rows — compare through the value at the
    // slacked ranks rather than assuming value-space closeness
    val Seq(exact, approx) = df
      .select(expr("percentile(l_extendedprice, 0.9)"),
              expr("percentile_approx(l_extendedprice, 0.9, 10000)"))
      .first.toSeq.map(_.toString.toDouble).toSeq
    val n = df.count()
    val slack = (n / 10000 + 1).toInt
    val lo = df.selectExpr(
      s"percentile(l_extendedprice, ${0.9 - slack.toDouble / n})")
      .first.getDouble(0)
    val hi = df.selectExpr(
      s"percentile(l_extendedprice, ${math.min(1.0, 0.9 + slack.toDouble / n)})")
      .first.getDouble(0)
    assert(approx >= lo && approx <= hi,
      s"approx $approx outside rank-slack band [$lo, $hi] around exact $exact")
  }

  /** Docs with exactly known token counts for the chunk/pack specs. */
  private def sizedDocsDir(specs: Seq[(Long, Int, String)]): String = {
    import spark.implicits._
    val docs = specs.map { case (id, n, src) =>
      (id, (1 to n).map(i => s"t$i").mkString(" "), "en", src, n.toLong)
    }
    val dir = Files.createTempDirectory("graft_sized_").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("chunking: stride/size arithmetic and overlap reconstruction") {
    // 150 tokens → chunks at offsets 0,48,96: sizes 64,64,54;
    // 64 tokens → one full chunk; 10 tokens → one short chunk
    val dir = sizedDocsDir(Seq((1L, 150, "a"), (2L, 64, "a"), (3L, 10, "a")))
    val rows = LlmOps.qTextChunk(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx")) ->
        r.getAs[Long]("n_chunk_toks")).toMap
    assert(rows == Map(
      (1L, 0L) -> 64L, (1L, 1L) -> 64L, (1L, 2L) -> 54L,
      (2L, 0L) -> 64L, (3L, 0L) -> 10L))
    // every token position is covered: last chunk ends at n
    assert(2L * LlmOps.ChunkStride + 54 == 150)
  }

  test("chunking skips empty documents instead of emitting a zero chunk") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_sized_").toString
    Seq((1L, "", "en", "a", 0L), (2L, "one two", "en", "a", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = LlmOps.qTextChunk(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("doc_id")).toSeq == Seq(2L))
  }

  test("packing: pack ids, offsets and span counts follow the token stream") {
    // source a stream: starts 0,100,300,356 under budget 256
    val dir = sizedDocsDir(Seq(
      (1L, 100, "a"), (2L, 200, "a"), (3L, 56, "a"), (4L, 300, "a"),
      (5L, 300, "b"))) // second source restarts its own stream at 0
    val rows = LlmOps.qTextPack(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("pack_id"), r.getAs[Long]("pack_off"),
          r.getAs[Long]("n_packs_spanned")))).toMap
    assert(rows(1L) == ((0L, 0L, 1L)))   // [0,99]
    assert(rows(2L) == ((0L, 100L, 2L))) // [100,299] crosses 256
    assert(rows(3L) == ((1L, 44L, 1L)))  // [300,355]
    assert(rows(4L) == ((1L, 100L, 2L))) // [356,655]
    assert(rows(5L) == ((0L, 0L, 2L)))   // new source: [0,299]
  }

  test("chunk/pack arithmetic invariants hold across randomized doc lengths") {
    // deterministic pseudo-random lengths 0..200 over 3 sources
    val rnd = new scala.util.Random(42)
    val specs = (1L to 60L).map(i =>
      (i, rnd.nextInt(201), s"s${i % 3}"))
    val dir = sizedDocsDir(specs)
    val (c, s_) = (LlmOps.ChunkSize, LlmOps.ChunkStride)

    val chunks = LlmOps.qTextChunk(spark, dir).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    specs.foreach { case (id, n, _) =>
      if (n == 0) assert(!chunks.contains(id))
      else {
        val ch = chunks(id).sortBy(_.getAs[Long]("chunk_idx"))
        val expected = (math.max(n - c, 0) + s_ - 1) / s_ + 1
        assert(ch.length == expected, s"doc $id len $n")
        ch.init.foreach(r => assert(r.getAs[Long]("n_chunk_toks") == c))
        assert(ch.last.getAs[Long]("n_chunk_toks") ==
          n - (expected - 1) * s_, s"doc $id len $n last chunk")
      }
    }

    val packs = LlmOps.qTextPack(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
                 r.getAs[Long]("n_toks"), r.getAs[Long]("pack_id"),
                 r.getAs[Long]("pack_off"), r.getAs[Long]("n_packs_spanned")))
    val b = LlmOps.PackBudget
    packs.groupBy(_._2).foreach { case (_, rows) =>
      var start = 0L
      rows.sortBy(_._1).foreach { case (id, _, n, pid, off, spans) =>
        assert(pid == start / b && off == start % b, s"doc $id offset")
        val expSpans = if (n == 0) 0L else (start + n - 1) / b - start / b + 1
        assert(spans == expSpans, s"doc $id spans")
        start += n
      }
    }
  }

  test("temperature sampling up-weights low-resource languages") {
    import org.apache.spark.sql.functions.countDistinct
    val docs = graft.Tables.documents(spark, sf)
    val base = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = LlmOps.qSampleTemperature(spark, sf).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // kept rate per language: smaller strata keep a HIGHER fraction
    val rates = base.map { case (l, n) =>
      l -> (kept.getOrElse(l, 0L).toDouble / n) }
    val bySize = base.toSeq.sortBy(_._2).map(_._1)
    val (smallest, largest) = (bySize.head, bySize.last)
    assert(base(smallest) < base(largest), "fixture needs skewed strata")
    assert(rates(smallest) > rates(largest),
      s"T=2 must favor the small stratum: $rates vs sizes $base")
    // total stays near the N/2 budget (hash-rate jitter is ±√n-ish)
    val total = kept.values.sum.toDouble / base.values.sum
    assert(total > 0.3 && total < 0.7, s"sampled share $total not near 1/2")
  }

  test("hard negatives never share the probe's label and stay block-invariant") {
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = LlmOps.qSimHardNegatives(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (qid, vid) = (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))
      assert(emb(vid) != emb(qid),
        s"negative $vid shares label ${emb(qid)} with probe $qid")
    }
  }

  test("train/val/test split matches the exact hash rule and is stable") {
    val rows = LlmOps.qSplitTrain(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    val expected = rows.keys.map { id =>
      val hkey = ((BigInt(id) * BigInt(2654435761L)) mod BigInt(1L << 31))
        .toLong
      id -> (if (hkey < 1717986918L) "train"
             else if (hkey < 1932735283L) "val" else "test")
    }.toMap
    assert(rows == expected)
    // deterministic: a second evaluation is identical
    val again = LlmOps.qSplitTrain(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    assert(again == rows)
  }

  test("q_embed_gram: one-pass aggregator matches a driver-side outer-product fold") {
    import org.apache.spark.sql.functions._
    val got = LlmOps.qEmbedGram(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val vecs = Tables.embeddings(spark, sf).select(col("embedding"))
      .collect().map(_.getSeq[Float](0).toArray)
    val dim = vecs.head.length
    assert(got.size == dim * (dim + 1) / 2)
    // brute-force the same rounded-micros accumulation on the driver
    val want = scala.collection.mutable.Map.empty[(Long, Long), Long]
    for (v <- vecs; i <- 0 until dim; j <- i until dim) {
      val m = java.math.BigDecimal.valueOf(v(i).toDouble * v(j).toDouble)
        .setScale(6, java.math.RoundingMode.HALF_UP)
        .unscaledValue().longValueExact()
      val k = (i.toLong, j.toLong)
      want(k) = want.getOrElse(k, 0L) + m
    }
    want.foreach { case (k, micros) =>
      assert(got(k) == java.math.BigDecimal.valueOf(micros, 6).doubleValue(),
             s"cell $k")
    }
    // the diagonal of a near-unit-norm space sums to ~n per trace
    val trace = (0 until dim).map(i => got((i.toLong, i.toLong))).sum
    assert(math.abs(trace - vecs.length) < 0.01 * vecs.length)
  }

  test("q_text_vocab_coverage: OOV rates are non-degenerate and token-complete") {
    import org.apache.spark.sql.functions._
    val rows = LlmOps.qTextVocabCoverage(spark, sf).collect()
    assert(rows.nonEmpty)
    val totalToks = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("t"))
      .where(length(col("t")) > 0).count()
    assert(rows.map(_.getAs[Long]("n_tokens")).sum == totalToks)
    rows.foreach { r =>
      val rate = r.getAs[Double]("oov_rate")
      assert(rate > 0.0 && rate < 1.0,
             s"${r.getString(0)}: degenerate OOV rate $rate — the top-k " +
             "vocab must cover some but not all tokens")
    }
  }

  test("q_embed_pca: projection captures at least any single axis's energy") {
    val pc = LlmOps.qEmbedPca(spark, sf).collect()
      .map(_.getAs[Double]("pc1"))
    val gram = LlmOps.qEmbedGram(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val dim = 64
    // sum of squared projections = v'Av; a dominant direction must beat
    // the best coordinate axis (whose energy is the max diagonal cell)
    val energy = pc.map(x => x * x).sum
    val maxDiag = (0 until dim).map(i => gram((i.toLong, i.toLong))).max
    assert(energy >= maxDiag - 0.01,
           s"pc1 energy $energy below best axis $maxDiag")
    // determinism: fixed start + fixed iteration count
    val again = LlmOps.qEmbedPca(spark, sf).collect()
      .map(_.getAs[Double]("pc1"))
    assert(pc.toSeq == again.toSeq)
    // the reported eigenvalue is the projection energy: for unit v,
    // lambda1 = v'Av = Σ (e·v)² up to the 6-dp cell/projection rounding
    val lam = LlmOps.qEmbedPca(spark, sf).select("lambda1")
      .head().getDouble(0)
    assert(math.abs(lam - energy) <= 0.01 * math.max(1.0, energy),
           s"lambda1 $lam disagrees with projection energy $energy")
  }

  test("q_embed_dim_stats: per-dimension rows cover every coordinate") {
    val rows = LlmOps.qEmbedDimStats(spark, sf).collect()
    val n = Tables.embeddings(spark, sf).count()
    assert(rows.length == 64)
    rows.foreach { r =>
      assert(r.getAs[Long]("n") == n)
      assert(r.getAs[Double]("min_x") <= r.getAs[Double]("mean_x") &&
             r.getAs[Double]("mean_x") <= r.getAs[Double]("max_x"))
    }
  }

  test("q_embed_mmr: greedy invariants — top-1 anchor, no dups, scores fall") {
    val mmr = LlmOps.qEmbedMmr(spark, sf).collect()
    assert(mmr.length == 10)
    val ids = mmr.map(_.getAs[Long]("vec_id"))
    assert(ids.distinct.length == ids.length, "a vector picked twice")
    // rank 1 is the plain similarity top-1 (no diversity penalty yet)
    val top1 = LlmOps.qSimTopk(spark, sf).collect().head.getAs[Long]("vec_id")
    assert(ids.head == top1, s"rank-1 must anchor on top-1 ($top1)")
    // the best available MMR score can only fall as the picked set grows
    val scores = mmr.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("mmr"))
    scores.sliding(2).foreach {
      case Array(a, b) => assert(b <= a + 1e-9, s"score rose: $a -> $b")
      case _ =>
    }
    // diversification is real: the MMR set differs from plain top-10
    val plain = LlmOps.qSimTopk(spark, sf).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    assert(ids.toSet != plain,
      "MMR degenerated to plain top-k — penalty had no effect")
  }

  test("q_sim_batch_topk: 5 ranked neighbors per query, corpus never shuffles") {
    val rows = LlmOps.qSimBatchTopk(spark, sf).collect()
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    assert(byQ.keySet == (0L until 10L).toSet)
    byQ.foreach { case (q, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq == (1L to 5L),
        s"query $q: ranks not 1..5")
      val sims = sorted.map(_.getAs[Double]("cos_sim"))
      sims.sliding(2).foreach {
        case Array(a, b) => assert(b <= a + 1e-9)
        case _ =>
      }
      assert(sorted.forall(_.getAs[Long]("vec_id") >= 10L),
        "a query vector leaked into its own result")
    }
    val p = LlmOps.qSimBatchTopk(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("WindowGroupLimit"),
      "rank<=5 must prune per-partition before the qid exchange")
  }

  test("q_embed_ann_recall: overlap count matches the two lists, recall = hits/10") {
    val r = LlmOps.qEmbedAnnRecall(spark, sf).collect()(0)
    val (k, hits, recall) = (r.getAs[Long]("k"), r.getAs[Long]("n_hits"),
      r.getAs[Double]("recall_at_10"))
    assert(k == 10L)
    val exact = LlmOps.qSimTopk(spark, sf).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val approx = LlmOps.qSimAnnIvf(spark, sf).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    assert(hits == (exact & approx).size.toLong,
      s"n_hits $hits != |exact ∩ ivf| ${(exact & approx).size}")
    assert(math.abs(recall - hits / 10.0) < 1e-9)
    // nprobe 4/16 should still find most of the true top-10 here
    assert(hits >= 5L, s"IVF recall collapsed: $hits/10")
  }

  /** Whole-stage codegen stages in `df`'s final plan, after running it. */
  private def codegenStages(df: DataFrame): Int = {
    df.collect()
    new AdaptiveSparkPlanHelper {}.collectWithSubqueries(df.queryExecution.executedPlan) {
      case w: WholeStageCodegenExec => w
    }.size
  }

  /** AQE plans in `df`'s executed plan, subqueries included. */
  private def adaptivePlans(df: DataFrame): Int =
    df.queryExecution.executedPlan.collectWithSubqueries {
      case a: AdaptiveSparkPlanExec => a
    }.size

  /** Key `k`'s body on a clone of `caller` in large mode: every conf small
    * mode sets is removed, so it runs with codegen and AQE.
    */
  private def withCodegen(caller: SparkSession, k: String): DataFrame = {
    val c = GraftShim.cloneSession(caller)
    Pipeline.SmallModeConfs.foreach { case (key, _) => c.conf.unset(key) }
    LlmOps.bodies(k)(c, sf)
  }

  test("every entry returns the same schema and rows, in order, interpreted " +
       "as with codegen, and never writes the caller's conf") {
    assert(LlmOps.tableBytes(spark, sf) < Pipeline.SmallLakeBytes)
    // a caller whose conf no earlier test has touched
    val caller = spark.newSession()
    val before = caller.conf.getAll.toSet
    // conf entries the caller gained, lost or changed since `before`
    def written = { val now = caller.conf.getAll.toSet; (now diff before) ++ (before diff now) }
    var codegen = 0
    var adaptive = 0
    LlmOps.entries.keys.toSeq.sorted.foreach { k =>
      val interpreted = LlmOps.entries(k)(caller, sf)
      assert(written.isEmpty, s"$k wrote the caller's conf")
      assert(interpreted.sparkSession ne caller, k)
      assert(codegenStages(interpreted) == 0, s"$k ran codegen below the cut-off")
      assert(adaptivePlans(interpreted) == 0, s"$k ran AQE below the cut-off")
      val compiled = withCodegen(caller, k)
      codegen += codegenStages(compiled)
      adaptive += adaptivePlans(compiled)
      assert(interpreted.schema == compiled.schema, k)
      // exact and ordered, as the oracle compares
      assert(interpreted.collect().toSeq == compiled.collect().toSeq, k)
    }
    assert(codegen > 0)
    assert(adaptive > 0)
    assert(written.isEmpty)
  }

  test("the execution-mode rule keeps an entry's codegen at the cut-off and " +
       "drops it one byte below") {
    /** Codegen stages, AQE plans and the conf entries the rule wrote, for
      * an entry's body on a clone the rule sized at `bytes`.
      */
    def modeAt(bytes: BigInt): (Int, Int, Map[String, String]) = {
      val c = GraftShim.cloneSession(spark)
      val before = c.conf.getAll
      Pipeline.executionMode(c, bytes, Pipeline.SmallLakeBytes)
      val df = LlmOps.bodies("q_dedup_exact")(c, sf)
      (codegenStages(df), adaptivePlans(df), c.conf.getAll.toSet.diff(before.toSet).toMap)
    }
    val (codegenAt, aqeAt, writtenAt) = modeAt(Pipeline.SmallLakeBytes)
    assert(codegenAt > 0 && aqeAt > 0 && writtenAt.isEmpty)
    val (codegenBelow, aqeBelow, writtenBelow) = modeAt(Pipeline.SmallLakeBytes - 1)
    assert(codegenBelow == 0 && aqeBelow == 0)
    assert(writtenBelow.get("spark.sql.adaptive.enabled") == Some("false"))
  }

  test("the entries' size is the on-disk bytes of both tables; a missing " +
       "table counts 0") {
    def onDisk(p: Path): Long =
      if (!Files.exists(p)) 0L
      else {
        val s = Files.walk(p)
        try s.filter(f => Files.isRegularFile(f) && !f.getFileName.toString.endsWith(".crc"))
          .mapToLong(f => Files.size(f)).sum()
        finally s.close()
      }
    val tables = Seq("documents", "embeddings")
    assert(LlmOps.tableBytes(spark, sf) ==
      tables.map(t => onDisk(Paths.get(sf, s"$t.parquet"))).sum)
    // plantedDir holds documents only, written as a directory of parts
    assert(!Files.exists(Paths.get(plantedDir, "embeddings.parquet")))
    assert(LlmOps.tableBytes(spark, plantedDir) ==
      onDisk(Paths.get(plantedDir, "documents.parquet")))
    assert(LlmOps.tableBytes(spark, plantedDir) > 0)
    assert(LlmOps.tableBytes(spark, Files.createTempDirectory("graft_none_").toString) == 0L)
  }

  test("two entry calls on one caller session build the near-dup chain once") {
    val dir = Files.createTempDirectory("graft_chain_once_").toString
    spark.read.parquet(s"$plantedDir/documents.parquet")
      .write.parquet(s"$dir/documents.parquet")
    val caller = spark.newSession()
    def built = Seq("chain_pairs", "chain_labels").map(Seeds.breakdown.getOrElse(_, -1.0))
    val before = built
    val first = LlmOps.entries("q_dedup_near_clusters")(caller, dir)
    val afterFirst = built
    assert(afterFirst.zip(before).forall { case (a, b) => a > b }, "the first call built no chain")
    val second = LlmOps.entries("q_dedup_near_clusters")(caller, dir)
    assert(built == afterFirst, "the second call rebuilt the chain")
    // each call's result belongs to its own clone, the memo hit included
    assert(Set(first.sparkSession, second.sparkSession, caller).size == 3)
    assert(first.collect().toSeq == second.collect().toSeq)
    assert(first.collect().nonEmpty)
  }
}
