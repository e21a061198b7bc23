package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.operators.{DedupQueries, SimilarityQueries}

/** MinHash/LSH and cosine-similarity behavior on constructed inputs. */
class DedupSimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sigs(docs: Seq[(Long, String)]): Map[Long, Seq[Long]] = {
    val df = docs.toDF("doc_id", "text")
      .select(col("doc_id"), shingles(tokens(col("text")), 3).as("sh"))
      .where(size(col("sh")) > 0)
    DedupQueries.minhashSignatures(df)
      .as[(Long, Seq[Long])].collect().toMap
  }

  test("identical texts produce identical signatures") {
    val s = sigs(Seq(1L -> "the quick brown fox jumps over the lazy dog",
                     2L -> "the quick brown fox jumps over the lazy dog"))
    assert(s(1L) == s(2L))
    assert(s(1L).size == DedupQueries.numHashes)
  }

  test("near-duplicates agree on most signature positions; disjoint texts on none") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = base.replace("w20", "XX") // 3 of 38 shingles changed
    val disjoint = (1 to 40).map(i => s"z$i").mkString(" ")
    val s = sigs(Seq(1L -> base, 2L -> nearDup, 3L -> disjoint))
    val agreeNear = s(1L).zip(s(2L)).count { case (a, b) => a == b }
    val agreeFar  = s(1L).zip(s(3L)).count { case (a, b) => a == b }
    assert(agreeNear > 100, s"near-dup agreement too low: $agreeNear/128")
    assert(agreeFar == 0, s"disjoint docs should share no minima, got $agreeFar")
  }

  test("keep-best dedup: longest copy survives, doc_id breaks ties, singletons pass through") {
    val docs = Seq(
      (1L, "Hello    World"),    // 14 chars: longest in its group => survivor
      (2L, "hello world"),       // 11 chars
      (3L, "HELLO  WORLD "),     // 13 chars; all three normalize to "hello world"
      (10L, "same length A"),    // unrelated
      (20L, "  unique doc  "),   // singleton
      (4L, "tie breaker"), (5L, "tie breaker")) // equal length: min id wins
      .toDF("doc_id", "text")
    val out = DedupQueries.keepBestDedup(docs)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toList
    assert(out == List((1L, 14L, 3L), (4L, 11L, 2L), (10L, 13L, 1L), (20L, 14L, 1L)))
  }

  test("q16h fixture: every planted SHOUTED twin out-survives its original") {
    val out = DedupQueries.q16hKeepBest(spark, "/root/testdata/sf0.001")
    val twoMember = out.where(col("n_members") === 2)
    val n = twoMember.count()
    assert(n > 0, "fixture must plant at least one variant group")
    // keep-best selects the twin (longer) — never the original
    assert(twoMember.where(col("doc_id") < 2000000L).count() == 0,
      "a planted group's survivor must be the doubled-space twin")
  }

  test("exact Jaccard via array ops matches hand computation") {
    val df = Seq((1L, Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("id", "x", "y")
    val jac = df.select((size(array_intersect(col("x"), col("y"))).cast("double") /
        size(array_union(col("x"), col("y")))).as("j")).as[Double].head()
    assert(jac == 0.5) // |{b,c}| / |{a,b,c,d}|
  }

  test("simhash: identical docs → identical fingerprints; near-dups within hamming 6; disjoint far") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = base.replace("w20", "XX")
    val disjoint = (1 to 40).map(i => s"z$i").mkString(" ")
    val df = Seq(1L -> base, 2L -> base, 3L -> nearDup, 4L -> disjoint).toDF("doc_id", "text")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= 3)
      .select(col("doc_id"), shingles(col("toks"), 3).as("sh"))
    val fp = DedupQueries.simhashFingerprints(df).as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(fp(1L) == fp(2L))
    assert(ham(fp(1L), fp(3L)) <= DedupQueries.simhashMaxHamming,
      s"near-dup hamming ${ham(fp(1L), fp(3L))}")
    assert(ham(fp(1L), fp(4L)) > 12, s"disjoint hamming ${ham(fp(1L), fp(4L))}")
  }

  test("embedding near-dup: planted duplicate vectors are found, noise is not") {
    val spark0 = spark
    import spark0.implicits._
    val rnd = new scala.util.Random(3)
    def vec() = Seq.fill(SimilarityQueries.annDim)(rnd.nextGaussian())
    val v0 = vec()
    val v0tweaked = v0.zipWithIndex.map { case (x, i) => if (i == 0) x + 0.01 else x }
    val vectors = Seq((0L, v0), (1L, v0tweaked)) ++ (2L to 40L).map(i => (i, vec()))
    val df = vectors.toDF("id", "v")
    val keys = SimilarityQueries.bucketKeys(df, spark0)
    val l = keys.select(col("id").as("i"), col("table_id"), col("key"))
    val r = keys.select(col("id").as("j"), col("table_id"), col("key"))
    val cand = l.join(r, Seq("table_id", "key")).where(col("i") < col("j"))
      .select("i", "j").distinct().as[(Long, Long)].collect().toSet
    assert(cand.contains((0L, 1L)), "near-identical vectors must share an LSH bucket")
  }

  test("ANN top-k recall vs exact top-k (sf0.001)") {
    val exact = SimilarityQueries.q17CosineTopK(spark, "/root/testdata/sf0.001")
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ann = SimilarityQueries.q17bAnnTopK(spark, "/root/testdata/sf0.001")
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & ann).size.toDouble / exact.size
    // unstructured random embeddings are LSH's worst case; the harness
    // still must find a meaningful fraction through 4×8-bit tables
    assert(recall >= 0.3, s"ANN recall $recall too low (|exact|=${exact.size}, |ann|=${ann.size})")
    assert(ann.size <= 50)
  }

  test("int8-scored top-k agrees with exact f64 top-k (sf0.001)") {
    val exact = SimilarityQueries.q17CosineTopK(spark, "/root/testdata/sf0.001")
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val quant = SimilarityQueries.q17eInt8TopK(spark, "/root/testdata/sf0.001")
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // int8 carries ~7 bits of signal per component: on random vectors the
    // top-5 sets should be near-identical, diverging only where exact
    // scores sit within quantization error of each other
    val agree = (exact & quant).size.toDouble / exact.size
    assert(agree >= 0.8, s"int8 agreement $agree too low (|exact|=${exact.size})")
    assert(quant.size == exact.size)
  }

  test("IVF x int8 top-k recall vs exact top-k (sf0.001)") {
    val exact = SimilarityQueries.q17CosineTopK(spark, "/root/testdata/sf0.001")
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val df = SimilarityQueries.q17fIvfInt8TopK(spark, "/root/testdata/sf0.001")
    val q = df
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // same candidate lists as q17c; int8 scoring loses a rank edge only
    // inside quantization error, so recall tracks the coarse quantizer's
    val recall = (exact & q).size.toDouble / exact.size
    assert(recall >= 0.3, s"IVF-int8 recall $recall too low (|exact|=${exact.size})")
    assert(q.size <= 50)
    // the memory-bandwidth claim, pinned on the executed plan (r13): the
    // corpus side runs on the persisted SQ8 code table — every scan that
    // reads the f64 `embedding` column must be probe-filtered (vec_id),
    // so the only full-precision vectors read are the O(probes) queries
    def nodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val below = p match {
        case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec => nodes(qs.plan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => nodes(a.executedPlan)
        case _ => Seq.empty
      }
      p +: (p.children.flatMap(nodes) ++ below)
    }
    val embScans = nodes(df.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.requiredSchema.fieldNames.contains("embedding") => f
    }
    assert(embScans.nonEmpty, "probe side must read the query vectors")
    embScans.foreach { s =>
      assert(s.dataFilters.mkString(",").contains("vec_id"),
        s"an UNFILTERED scan reads the f64 embedding column — the corpus " +
        s"side must run on codes: ${s.dataFilters}")
    }
  }

  test("IVF top-k recall vs exact top-k (sf0.001)") {
    val exact = SimilarityQueries.q17CosineTopK(spark, "/root/testdata/sf0.001")
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = SimilarityQueries.q17cIvfTopK(spark, "/root/testdata/sf0.001")
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    // nprobe/k = 1/4 of uniformly random vectors scanned per probe —
    // the spherical partitioning must beat that fraction meaningfully
    assert(recall >= 0.3, s"IVF recall $recall too low (|exact|=${exact.size}, |ivf|=${ivf.size})")
    assert(ivf.size <= 50)
    assert(ivf.groupBy(_._1).keySet == exact.groupBy(_._1).keySet, "every probe answered")
  }

  test("ivfTrain: a binding sample cap trains a near-full-quality quantizer, deterministically") {
    import org.apache.spark.sql.functions._
    val emb = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(SimilarityQueries.dot(col("v"), col("v"))))
    val unit = emb.select(col("vec_id").as("id"),
      transform(col("v"), x => x / col("nrm")).as("v"))
    val k = 16
    // mean cosine of each corpus vector to its nearest centroid — the
    // quantization quality the coarse lists serve
    def meanSim(cents: Seq[(Int, Seq[Double])]): Double = {
      val cdf = cents.toDF("cid", "cvec")
      unit.join(broadcast(cdf))
        .select(col("id"), SimilarityQueries.dot(col("v"), col("cvec")).as("s"))
        .groupBy("id").agg(max(col("s")).as("m"))
        .agg(avg("m")).head().getDouble(0)
    }
    // 500 rows ≤ 64k cap → the default path is unsampled (byte-identical
    // to the pre-sampling trainer); force the cap to bind at 128 rows —
    // the 100 TB shape, where training never sees most of the corpus
    val full = SimilarityQueries.ivfTrain(spark, unit, k)
    val sampled = SimilarityQueries.ivfTrain(spark, unit, k, totalRows = 500, sampleCap = 128)
    assert(sampled.size == k, "sampled training must still produce k centroids")
    assert(sampled != full, "a binding cap must actually change the training set")
    val (qFull, qSampled) = (meanSim(full), meanSim(sampled))
    // the hash-ordered sample is corpus-representative: quantization
    // quality tracks the full-corpus trainer. The floor is deliberately
    // stressed — 128/16 = 8 points per centroid, an 8th of the
    // production cap's 64 per centroid, on uniformly random vectors
    // (k-means' worst case) — so the production setting sits well
    // inside it
    assert(qSampled >= 0.8 * qFull,
      s"sample-trained quantizer quality $qSampled too far below full-trained $qFull")
    // selection is a total order → training is fully deterministic
    val again = SimilarityQueries.ivfTrain(spark, unit, k, totalRows = 500, sampleCap = 128)
    assert(again == sampled, "sampled training must be deterministic")
  }

  test("IVF index persists to disk: a fresh session reuses it without retraining") {
    // first use (this or an earlier test) trains and writes the index dir
    SimilarityQueries.q17cIvfTopK(spark, "/root/testdata/sf0.001").collect()
    val trainedBefore = SimilarityQueries.ivfTrainCount.get()
    // simulate a fresh JVM: empty in-memory memo, separate session state
    SimilarityQueries.clearIvfCache()
    val s2 = spark.newSession()
    val rows = SimilarityQueries.q17cIvfTopK(s2, "/root/testdata/sf0.001").collect()
    assert(rows.length == 50)
    assert(SimilarityQueries.ivfTrainCount.get() == trainedBefore,
      "second session must LOAD the persisted centroid index, not retrain")
  }

  test("IVF index revalidates the corpus fingerprint: in-place data change rebuilds") {
    import org.apache.spark.sql.functions._
    // stage a private copy of the sf0.001 embeddings under its own path
    val dataDir = java.nio.file.Files.createTempDirectory("ivf-fp-data")
    val src = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val tgt = dataDir.resolve("embeddings.parquet")
    src.write.mode("overwrite").parquet(tgt.toString)
    SimilarityQueries.q17cIvfTopK(spark, dataDir.toString).collect()
    val trainedAfterBuild = SimilarityQueries.ivfTrainCount.get()
    // same data, same path → memo/disk hit, no retrain
    SimilarityQueries.q17cIvfTopK(spark, dataDir.toString).collect()
    assert(SimilarityQueries.ivfTrainCount.get() == trainedAfterBuild)
    // mutate the corpus IN PLACE (drop half the vectors, same path)
    val tmp = dataDir.resolve("emb2.parquet").toString
    graft.core.Tables.load(spark, dataDir.toString, "embeddings")
      .where(col("vec_id") % 2 === 0).write.mode("overwrite").parquet(tmp)
    tgt.toFile.listFiles().foreach(_.delete()); java.nio.file.Files.deleteIfExists(tgt)
    java.nio.file.Files.move(java.nio.file.Paths.get(tmp), tgt)
    // fingerprint mismatch must force a rebuild, not serve the stale index
    SimilarityQueries.q17cIvfTopK(spark, dataDir.toString).collect()
    assert(SimilarityQueries.ivfTrainCount.get() == trainedAfterBuild + 1,
      "mutated corpus must rebuild the IVF index")
  }

  test("IVF add-vs-train: a delta assigns to existing centroids; standing assignments untouched") {
    import org.apache.spark.sql.functions._
    // private corpus copy so the index dirs are this test's own
    val dataDir = java.nio.file.Files.createTempDirectory("ivf-inc-data")
    graft.core.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .write.mode("overwrite").parquet(dataDir.resolve("embeddings.parquet").toString)
    val emb = graft.core.Tables.load(spark, dataDir.toString, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(SimilarityQueries.dot(col("v"), col("v"))))
    val unit = emb.select(col("vec_id").as("id"),
      transform(col("v"), x => x / col("nrm")).as("v"))
    val ivf = SimilarityQueries.ivfCentroids(spark, dataDir.toString, unit)
    val baseAssign = spark.read.parquet(ivf.assignPath)
      .as[(Long, Int)].collect().toMap
    val trainedBefore = SimilarityQueries.ivfTrainCount.get()
    // a 10% "grown corpus" delta: copies of the first 50 unit vectors
    // under new ids — their argmax centroid must equal their original's.
    // Arrives as an in-memory frame (the real ingest shape: the delta
    // comes from OUTSIDE the indexed corpus), so any FileScan in the
    // assign plan would be a corpus rescan.
    val delta = unit.where(col("id") < 50)
      .as[(Long, Seq[Double])].collect()
      .map { case (id, v) => (id + 10000L, v) }.toSeq.toDF("id", "v")
    // only the delta is scored: the assign plan's inputs are the delta
    // frame and the broadcast centroid matrix — no table scan anywhere
    val planStr = SimilarityQueries.ivfAssignDelta(ivf, delta)
      .queryExecution.executedPlan.toString
    assert(!planStr.contains("FileScan") && !planStr.toLowerCase.contains("parquet"),
      s"delta assignment must not rescan any persisted table:\n$planStr")
    val inc = SimilarityQueries.ivfAssignIncremental(spark, ivf, delta, 0L)
      .as[(Long, Int)].collect().toMap
    // no retrain, standing assignments byte-identical
    assert(SimilarityQueries.ivfTrainCount.get() == trainedBefore,
      "incremental assignment must not retrain the quantizer")
    val afterAssign = spark.read.parquet(ivf.assignPath)
      .as[(Long, Int)].collect().toMap
    assert(afterAssign == baseAssign, "standing assignments must be untouched")
    // the delta landed, one row per vector, co-assigned with its original
    assert(inc.size == 50)
    assert(inc.forall { case (id, cid) => baseAssign(id - 10000L) == cid },
      "an identical delta vector must land in its original's cluster")
    // the read view is base ∪ delta; a retrain clears the appendix
    assert(SimilarityQueries.ivfAssignments(spark, ivf).count() ==
      baseAssign.size + 50)
    // the appendix compaction op applies here too (the read view has no
    // batch-order semantics): a second delta batch, then fold to one dir
    val delta2 = unit.where(col("id") >= 50 && col("id") < 60)
      .as[(Long, Seq[Double])].collect()
      .map { case (id, v) => (id + 20000L, v) }.toSeq.toDF("id", "v")
    SimilarityQueries.ivfAssignIncremental(spark, ivf, delta2, 1L)
    val viewBefore = SimilarityQueries.ivfAssignments(spark, ivf)
      .as[(Long, Int)].collect().toSet
    graft.core.Appendix.compact(
      spark, s"${ivf.assignPath}_inc", Seq("id", "cid"))
    import scala.jdk.CollectionConverters._
    val incDirs = java.nio.file.Files.list(
        java.nio.file.Paths.get(s"${ivf.assignPath}_inc")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("batch_id=")).toSeq
    assert(incDirs == Seq("batch_id=1"))
    assert(SimilarityQueries.ivfAssignments(spark, ivf)
      .as[(Long, Int)].collect().toSet == viewBefore,
      "compacting the _inc appendix must not change the inverted-list view")
    // the accept's CODE-side half (FAISS add() encodes into the list as
    // it assigns — r13): q17f serves the grown corpus from persisted
    // codes alone, so every probe's exact duplicate — accepted
    // incrementally, codes living only in sq8_inc — must rank in its
    // top-5 at cos ≈ 1
    val topk = SimilarityQueries.q17fIvfInt8TopK(spark, dataDir.toString)
      .select("probe_id", "neighbor_id", "cos_sim_q").collect()
      .groupBy(_.getLong(0))
    (0L until 10L).foreach { p =>
      val mine = topk(p).map(r => r.getLong(1) -> r.getDouble(2)).toMap
      assert(mine.contains(p + 10000L),
        s"probe $p: incrementally-accepted duplicate ${p + 10000L} missing from top-5 ($mine)")
      assert(mine(p + 10000L) > 0.999,
        s"probe $p: duplicate's reconstructed cosine ${mine(p + 10000L)} not ≈ 1")
    }
    SimilarityQueries.clearIvfCache()
    val tmp = dataDir.resolve("emb2.parquet").toString
    graft.core.Tables.load(spark, dataDir.toString, "embeddings")
      .where(col("vec_id") % 2 === 0).write.mode("overwrite").parquet(tmp)
    val tgt = dataDir.resolve("embeddings.parquet")
    tgt.toFile.listFiles().foreach(_.delete()); java.nio.file.Files.deleteIfExists(tgt)
    java.nio.file.Files.move(java.nio.file.Paths.get(tmp), tgt)
    val emb2 = graft.core.Tables.load(spark, dataDir.toString, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(SimilarityQueries.dot(col("v"), col("v"))))
    val unit2 = emb2.select(col("vec_id").as("id"),
      transform(col("v"), x => x / col("nrm")).as("v"))
    val ivf2 = SimilarityQueries.ivfCentroids(spark, dataDir.toString, unit2)
    assert(SimilarityQueries.ivfTrainCount.get() == trainedBefore + 1)
    assert(SimilarityQueries.ivfAssignments(spark, ivf2).count() == unit2.count(),
      "a retrain must clear delta assignments scored against the old centroids")
  }

  test("IVF retrain policy: below threshold nothing moves; above it the appendix clears and all rows re-score") {
    import org.apache.spark.sql.functions._
    val dataDir = java.nio.file.Files.createTempDirectory("ivf-retrain-data")
    graft.core.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .write.mode("overwrite").parquet(dataDir.resolve("embeddings.parquet").toString)
    val emb = graft.core.Tables.load(spark, dataDir.toString, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(SimilarityQueries.dot(col("v"), col("v"))))
    val unit = emb.select(col("vec_id").as("id"),
      transform(col("v"), x => x / col("nrm")).as("v"))
    val ivf = SimilarityQueries.ivfCentroids(spark, dataDir.toString, unit)
    val baseN = spark.read.parquet(ivf.assignPath).count()
    val trainedBefore = SimilarityQueries.ivfTrainCount.get()

    def mkDelta(offset: Long, n: Int) = unit.where(col("id") < n)
      .as[(Long, Seq[Double])].collect()
      .map { case (id, v) => (id + offset, v) }.toSeq.toDF("id", "v")

    // one 10% delta: below the 20% threshold → a metadata check only
    val d0 = mkDelta(10000L, (baseN / 10).toInt)
    SimilarityQueries.ivfAssignIncremental(spark, ivf, d0, 0L)
    assert(!SimilarityQueries.maybeRetrain(spark, dataDir.toString, ivf, unit.unionAll(d0)),
      "10% appendix must not trigger a retrain at growthFactor=0.2")
    assert(SimilarityQueries.ivfTrainCount.get() == trainedBefore)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"${ivf.assignPath}_inc")),
      "below-threshold maybeRetrain must leave the appendix alone")
    // the growth check reads parquet footers: no Spark job below threshold
    val (_, growthJobs) = SparkJobs.jobsOf("ivf-growth-check")(
      SimilarityQueries.maybeRetrain(spark, dataDir.toString, ivf, unit.unionAll(d0)))
    assert(growthJobs == 0, s"a below-threshold growth check launched $growthJobs Spark jobs")

    // a second delta pushes the appendix past 20% of base → retrain:
    // fresh centroids over the grown corpus, appendix cleared, every
    // row (base + both deltas) re-scored into the new assignments
    val d1 = mkDelta(20000L, (baseN / 7).toInt)
    SimilarityQueries.ivfAssignIncremental(spark, ivf, d1, 1L)
    val unitAll = unit.unionAll(d0).unionAll(d1)
    assert(SimilarityQueries.maybeRetrain(spark, dataDir.toString, ivf, unitAll),
      "24% appendix must trigger a retrain at growthFactor=0.2")
    assert(SimilarityQueries.ivfTrainCount.get() == trainedBefore + 1,
      "retrain must actually train")
    val ivf2 = SimilarityQueries.ivfCentroids(spark, dataDir.toString, unitAll)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"${ivf2.assignPath}_inc")),
      "retrain must clear the _inc appendix (its rows were scored against superseded centroids)")
    assert(SimilarityQueries.ivfAssignments(spark, ivf2).count() == unitAll.count(),
      "post-retrain assignments must cover base + all accepted deltas")
    // idempotent: calling again trains nothing (fingerprint now current)
    assert(SimilarityQueries.ivfTrainCount.get() == trainedBefore + 1)
  }

  test("IVF k scales ~sqrt(N) with a floor, nprobe keeps the scan fraction constant") {
    assert(SimilarityQueries.ivfKFor(100) == 16)   // floor
    assert(SimilarityQueries.ivfKFor(10000) == 100)
    assert(SimilarityQueries.ivfKFor(1000000) == 1000)
    assert(SimilarityQueries.ivfNProbeFor(16) == 4)
    assert(SimilarityQueries.ivfNProbeFor(100) == 25) // 25% of lists
  }

  test("semantic dedup (cluster-scoped): finds exactly the planted pairs (sf0.001)") {
    val got = SimilarityQueries.q16gSemanticDedup(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Double)].collect().toSeq.sorted
    val n = SimilarityQueries.plantedEmbeddings(spark, "/root/testdata/sf0.001")
      .where(col("vec_id") >= 1000000L).count()
    // every planted copy must co-cluster with its original (bit-identical
    // unit vectors → identical centroid scores → same deterministic
    // argmax), and nothing else clears 0.99 on this corpus
    val want = (0L until n).map(i => (i, i + 1000000L, 1.0))
    assert(got == want, s"got ${got.take(5)}... (${got.size}) want ${want.size} planted pairs")
  }

  test("cosine: identity 1.0, orthogonal 0.0, known angle") {
    val df = Seq(
      (Seq(1.0, 0.0), Seq(1.0, 0.0)),
      (Seq(1.0, 0.0), Seq(0.0, 1.0)),
      (Seq(1.0, 1.0), Seq(1.0, 0.0))).toDF("a", "b")
    val cos = df.select(
      (SimilarityQueries.dot(col("a"), col("b")) /
        (sqrt(SimilarityQueries.dot(col("a"), col("a"))) *
         sqrt(SimilarityQueries.dot(col("b"), col("b"))))).as("c"))
      .as[Double].collect().toSeq
    assert(cos(0) == 1.0 && cos(1) == 0.0)
    assert(math.abs(cos(2) - math.sqrt(0.5)) < 1e-12)
  }

  test("incremental near-dup equals the symmetric pairs restricted to cross-split (sf0.001)") {
    // the asymmetric band join must lose nothing the full self-join
    // finds: q16b's complete pair set, filtered to pairs that straddle
    // the ingestion split and re-oriented (new = batch side), must
    // equal q16i's output exactly. Same signatures → same bands; the
    // one structural difference is the skew guard's sampling population
    // (full corpus vs base slice), which only matters once a band
    // bucket approaches SkewBucketCap=10000 — far above this corpus,
    // so below the cap this is equality, not recall
    val dir = "/root/testdata/sf0.001"
    def isBatch(id: Long) =
      id % DedupQueries.IngestSplitMod == DedupQueries.IngestSplitRem
    val symmetric = DedupQueries.q16bNearDup(spark, dir)
      .as[(Long, Long, Double)].collect()
    val expected = symmetric.collect {
      case (i, j, jac) if isBatch(i) != isBatch(j) =>
        if (isBatch(i)) (i, j, jac) else (j, i, jac)
    }.toSet
    val incremental = DedupQueries.q16iIncrementalNearDup(spark, dir)
      .as[(Long, Long, Double)].collect().toSet
    assert(expected.nonEmpty, "the split must straddle some near-dup pairs")
    assert(incremental == expected)
  }

  test("band index persists to disk: a fresh session reuses it without re-signing") {
    val dir = "/root/testdata/sf0.001"
    DedupQueries.q16iIncrementalNearDup(spark, dir).collect()
    val builtBefore = DedupQueries.bandBuildCount.get()
    // simulate a fresh JVM: empty in-memory memo, separate session state
    DedupQueries.clearBandIndexCache()
    val s2 = spark.newSession()
    val viaIndex = DedupQueries.q16iIncrementalNearDup(s2, dir)
      .as[(Long, Long, Double)].collect().toSet
    assert(DedupQueries.bandBuildCount.get() == builtBefore,
      "second session must LOAD the persisted band index, not re-sign the corpus")
    // and the indexed path must equal signing from scratch
    val fromScratch = DedupQueries.nearDupPairsAcross(
        base = DedupQueries.wordShingleDocs(spark, dir)
          .where(col("doc_id") % DedupQueries.IngestSplitMod =!= DedupQueries.IngestSplitRem),
        batch = DedupQueries.wordShingleDocs(spark, dir)
          .where(col("doc_id") % DedupQueries.IngestSplitMod === DedupQueries.IngestSplitRem),
        sigCol = call_function(graft.functions.MinHash.sigFnName, col("sh")),
        payloadCol = col("sh"),
        jacOf = DedupQueries.arrayJaccard, threshold = 0.8)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaIndex == fromScratch)
  }

  test("band index revalidates the corpus fingerprint: in-place data change rebuilds") {
    // stage a private copy of the sf0.001 documents under its own path
    val dataDir = java.nio.file.Files.createTempDirectory("band-fp-data")
    val src = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val tgt = dataDir.resolve("documents.parquet")
    src.write.mode("overwrite").parquet(tgt.toString)
    DedupQueries.baseBandIndex(spark, dataDir.toString)
    val builtAfter = DedupQueries.bandBuildCount.get()
    // same data, same path → memo/disk hit, no re-sign
    DedupQueries.baseBandIndex(spark, dataDir.toString)
    assert(DedupQueries.bandBuildCount.get() == builtAfter)
    // mutate the corpus IN PLACE (drop half the docs, same path)
    val tmp = dataDir.resolve("docs2.parquet").toString
    graft.core.Tables.load(spark, dataDir.toString, "documents")
      .where(col("doc_id") % 2 === 0).write.mode("overwrite").parquet(tmp)
    tgt.toFile.listFiles().foreach(_.delete()); java.nio.file.Files.deleteIfExists(tgt)
    java.nio.file.Files.move(java.nio.file.Paths.get(tmp), tgt)
    // fingerprint mismatch must force a rebuild, not serve stale bands
    DedupQueries.baseBandIndex(spark, dataDir.toString)
    assert(DedupQueries.bandBuildCount.get() == builtAfter + 1,
      "mutated corpus must rebuild the band index")
  }

  test("strict mode catches the in-place CONTENT edit the cheap fingerprint misses") {
    // stage a private copy of the sf0.001 documents under its own path
    val dataDir = java.nio.file.Files.createTempDirectory("band-strict-data")
    val src = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val tgt = dataDir.resolve("documents.parquet")
    src.write.mode("overwrite").parquet(tgt.toString)
    DedupQueries.baseBandIndex(spark, dataDir.toString)
    val built = DedupQueries.bandBuildCount.get()
    // content-only in-place edit: every base-slice text changes, but row
    // count and doc_id range are exactly preserved
    val tmp = dataDir.resolve("docs2.parquet").toString
    graft.core.Tables.load(spark, dataDir.toString, "documents")
      .withColumn("text",
        when(col("doc_id") % DedupQueries.IngestSplitMod === 0,
             concat(col("text"), lit(" EDITED"))).otherwise(col("text")))
      .write.mode("overwrite").parquet(tmp)
    tgt.toFile.listFiles().foreach(_.delete()); java.nio.file.Files.deleteIfExists(tgt)
    java.nio.file.Files.move(java.nio.file.Paths.get(tmp), tgt)
    // cheap fingerprint (the default): the documented tradeoff — the
    // stale index is served, because revalidation scans no payloads
    DedupQueries.clearBandIndexCache()
    DedupQueries.baseBandIndex(spark, dataDir.toString)
    assert(DedupQueries.bandBuildCount.get() == built,
      "the (count, id-range) fingerprint cannot see a content-only edit — documented")
    // strict mode folds a content hash into the fingerprint → rebuild
    sys.props("graft.index.strict") = "true"
    try {
      DedupQueries.clearBandIndexCache()
      DedupQueries.baseBandIndex(spark, dataDir.toString)
      assert(DedupQueries.bandBuildCount.get() == built + 1,
        "strict mode must rebuild on a content-only in-place edit")
      // unchanged content under strict mode revalidates without rebuilding
      DedupQueries.clearBandIndexCache()
      DedupQueries.baseBandIndex(spark, dataDir.toString)
      assert(DedupQueries.bandBuildCount.get() == built + 1,
        "strict revalidation of unchanged content must reuse the index")
    } finally sys.props.remove("graft.index.strict")
  }

  test("large-star/small-star CC equals min-label propagation on randomized graphs") {
    for (trial <- 0 until 8) {
      val rnd = new scala.util.Random(7000 + trial)
      val n = 30 + rnd.nextInt(50)
      val nEdges = rnd.nextInt(2 * n)
      // random node ids are sparse/unordered (the doc_id reality);
      // self-loops and duplicate edges included on purpose
      val ids = Seq.fill(n)(rnd.nextLong(1000000L))
      val edges = Seq.fill(nEdges)((ids(rnd.nextInt(n)), ids(rnd.nextInt(n))))
      if (edges.nonEmpty) {
        val pairs = edges.toDF("doc_i", "doc_j")
        val viaStar = DedupQueries.connectedComponentsStar(pairs)
          .as[(Long, Long)].collect().toMap
        val viaProp = DedupQueries.connectedComponents(pairs, maxIter = 200)
          .as[(Long, Long)].collect().toMap
        assert(viaStar == viaProp, s"trial $trial diverged (n=$n, e=$nEdges)")
      }
    }
  }

  test("large-star/small-star CC: log-bounded rounds on a deep chain graph") {
    // a 256-node chain has diameter 255 — min-label propagation needs
    // ~255 iterations; the star alternation must land in O(log n)
    val n = 256
    val chain = (0L until (n - 1)).map(i => (i, i + 1)).toDF("doc_i", "doc_j")
    val (labels, rounds) = DedupQueries.connectedComponentsStarWithRounds(chain)
    val logBound = 2 * (64 - java.lang.Long.numberOfLeadingZeros(n - 1L)) + 6
    assert(rounds <= logBound, s"$rounds rounds exceeds the log bound $logBound")
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got == (0L until n).map(_ -> 0L).toMap)
  }

  test("PQ index: codebook shape, codes in range, persisted and reused without retraining") {
    val sf = "/root/testdata/sf0.001"
    val emb = graft.core.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("v"))
    val unit = emb.withColumn("n", sqrt(SimilarityQueries.dot(col("v"), col("v"))))
      .select(col("id"), transform(col("v"), x => x / col("n")).as("v"))
    val pq = SimilarityQueries.pqIndex(spark, sf, unit)
    assert(pq.codebook.size == SimilarityQueries.pqSubspaces * SimilarityQueries.pqCodes)
    assert(pq.codebook.forall(_._3.size == graft.functions.HyperplaneLsh.Dim / SimilarityQueries.pqSubspaces))
    val codes = spark.read.parquet(pq.codesPath)
      .select(col("id"), col("codes")).as[(Long, Seq[Int])].collect()
    assert(codes.length == unit.count())
    assert(codes.forall(_._2.size == SimilarityQueries.pqSubspaces))
    assert(codes.forall(_._2.forall(c => c >= 0 && c < SimilarityQueries.pqCodes)))
    // second resolution serves from the memo/disk — no retrain
    val before = SimilarityQueries.pqBuildCount.get
    SimilarityQueries.pqIndex(spark, sf, unit)
    assert(SimilarityQueries.pqBuildCount.get == before, "PQ index must be reused, not rebuilt")
  }

  test("PQ-ADC top-k recall vs exact top-k (sf0.001)") {
    val exact = SimilarityQueries.q17CosineTopK(spark, "/root/testdata/sf0.001")
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val pq = SimilarityQueries.q17jPqTopK(spark, "/root/testdata/sf0.001")
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // 8×4-bit codes on uniformly random vectors are the distortion
    // worst case; the 10× exact-reranked shortlist must still recover
    // most of the true top-5 (measured 0.78 here, 0.74 at sf0.01 —
    // the bench stamps the live value per round)
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.7, s"PQ recall $recall too low (|exact|=${exact.size}, |pq|=${pq.size})")
    assert(pq.size <= 50)
    assert(pq.groupBy(_._1).keySet == exact.groupBy(_._1).keySet, "every probe answered")
  }

  test("pqEncode: map-only argmin equals the exploded-join struct-min reference (bit-identical distances, smaller-code ties)") {
    // the round-21 encode is one projection (per-subspace distance
    // arrays over centroid literals + first-index argmin); this pins it
    // against the pre-round-21 distributed plan — explode into
    // subvector rows, broadcast-join the codebook, lexicographic
    // struct-min (d, code) — which is the semantics of record
    val sf = "/root/testdata/sf0.001"
    val emb = graft.core.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val fullUnit = emb
      .withColumn("n", sqrt(SimilarityQueries.dot(col("v"), col("v"))))
      .select(col("vec_id").as("id"), transform(col("v"), x => x / col("n")).as("v"))
    val baseUnit = fullUnit.where(col("id") % 5 =!= 4)
    val cb = SimilarityQueries.pqIndex(spark, sf + "#pqspec", baseUnit).codebook
    val m = SimilarityQueries.pqSubspaces
    val subDim = graft.functions.HyperplaneLsh.Dim / m
    def l2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), _ + _)
    val ref = fullUnit
      .select(col("id"), explode(sequence(lit(0), lit(m - 1))).as("sub"), col("v"))
      .select(col("id"), col("sub"),
        slice(col("v"), col("sub") * subDim + 1, lit(subDim)).as("subv"))
      .join(broadcast(cb.toDF("sub", "code", "cvec")), "sub")
      .select(col("id"), col("sub"), col("code"), l2(col("subv"), col("cvec")).as("d"))
      .groupBy("id", "sub")
      .agg(min(struct(col("d"), col("code"))).as("mn"))
      .select(col("id"), col("sub"), col("mn.code").as("code"))
      .groupBy("id")
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("code")))),
        s => s.getField("code")).as("codes"))
      .as[(Long, Seq[Int])].collect().toMap
    val got = SimilarityQueries.pqEncode(fullUnit, cb)
      .as[(Long, Seq[Int])].collect().toMap
    assert(got.size == ref.size)
    assert(got == ref,
      s"map-only encode diverged from the reference on ids: " +
      got.collect { case (k, v) if ref.get(k) != Some(v) => k }.take(5).toSeq.sorted)
  }

  test("pqEncodeIncremental: delta codes equal batch encode against the same codebook") {
    val sf = "/root/testdata/sf0.001"
    val emb = graft.core.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    def unitOf(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("n", sqrt(SimilarityQueries.dot(col("v"), col("v"))))
      .select(col("vec_id").as("id"), transform(col("v"), x => x / col("n")).as("v"))
    val baseUnit = unitOf(emb.where(col("vec_id") % 5 =!= 4))
    val fullUnit = unitOf(emb)
    val idx = SimilarityQueries.pqIndex(spark, sf + "#pqspec", baseUnit)
    SimilarityQueries.pqEncodeIncremental(idx, unitOf(emb.where(col("vec_id") % 5 === 4)), 0L)
    val composed = SimilarityQueries.pqComposedCodes(spark, idx)
      .as[(Long, Seq[Int])].collect().toMap
    val batch = SimilarityQueries.pqEncode(fullUnit, idx.codebook)
      .as[(Long, Seq[Int])].collect().toMap
    assert(composed == batch,
      "incremental delta encode must equal the batch encode against the same codebook")
    graft.core.IndexStore.deleteRecursively(
      java.nio.file.Paths.get(s"${idx.codesPath}_inc"))
  }

  test("pqEncodeIncremental: a failure-replayed epoch re-accepts idempotently") {
    val sf = "/root/testdata/sf0.001"
    val emb = graft.core.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    def unitOf(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("n", sqrt(SimilarityQueries.dot(col("v"), col("v"))))
      .select(col("vec_id").as("id"), transform(col("v"), x => x / col("n")).as("v"))
    val idx = SimilarityQueries.pqIndex(spark, sf + "#pqretry",
      unitOf(emb.where(col("vec_id") % 5 =!= 4)))
    val delta = unitOf(emb.where(col("vec_id") % 5 === 4))
    SimilarityQueries.pqEncodeIncremental(idx, delta, 0L)
    val first = SimilarityQueries.pqComposedCodes(spark, idx)
      .as[(Long, Seq[Int])].collect().sortBy(_._1).toSeq
    // the crash-retry path: the epoch re-executes its accept after its
    // writes survived — overwrite semantics must leave ONE copy
    SimilarityQueries.pqEncodeIncremental(idx, delta, 0L)
    val second = SimilarityQueries.pqComposedCodes(spark, idx)
      .as[(Long, Seq[Int])].collect().sortBy(_._1).toSeq
    assert(second == first, "a retried accept must be invisible to the composed view")
    assert(first.map(_._1).distinct.size == first.size, "no duplicated ids after retry")
    graft.core.IndexStore.deleteRecursively(
      java.nio.file.Paths.get(s"${idx.codesPath}_inc"))
  }

  test("PQ appendix fault injection: an empty accepted batch reads as no appendix, retrain doesn't throw (VERDICT r11 #3)") {
    val sf = "/root/testdata/sf0.001"
    val emb = graft.core.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    def unitOf(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("n", sqrt(SimilarityQueries.dot(col("v"), col("v"))))
      .select(col("vec_id").as("id"), transform(col("v"), x => x / col("n")).as("v"))
    val baseUnit = unitOf(emb)
    val idx = SimilarityQueries.pqIndex(spark, sf + "#pqemptybatch", baseUnit)
    val base = SimilarityQueries.pqComposedCodes(spark, idx)
      .as[(Long, Seq[Int])].collect().sortBy(_._1).toSeq
    // the fault: an accepted micro-batch whose dir holds NO parquet data
    // files (writer died after mkdir / emitted only _SUCCESS) — schema
    // inference over it would throw if read unguarded
    val batchDir = java.nio.file.Paths.get(s"${idx.codesPath}_inc", "batch_id=0")
    java.nio.file.Files.createDirectories(batchDir)
    java.nio.file.Files.write(batchDir.resolve("_SUCCESS"), Array.empty[Byte])
    val composed = SimilarityQueries.pqComposedCodes(spark, idx)
      .as[(Long, Seq[Int])].collect().sortBy(_._1).toSeq
    assert(composed == base,
      "a parquet-less appendix batch dir must read as an absent appendix")
    // the retrain policy must treat it as empty too: no throw, no retrain
    assert(!SimilarityQueries.maybePqRetrain(spark, sf + "#pqemptybatch", idx, baseUnit),
      "an empty appendix must never trigger (or crash) the retrain policy")
    // the second fault: a writer that died before its commit left its
    // only parquet file under `_temporary/`, which spark.read skips
    SimilarityQueries.pqEncode(baseUnit.limit(5), idx.codebook)
      .write.mode("overwrite").parquet(s"${idx.codesPath}_inc/batch_id=1/_temporary/0")
    assert(SimilarityQueries.pqComposedCodes(spark, idx)
      .as[(Long, Seq[Int])].collect().sortBy(_._1).toSeq == base,
      "an appendix whose only parquet file is under _temporary/ must read as absent")
    assert(!SimilarityQueries.maybePqRetrain(spark, sf + "#pqemptybatch", idx, baseUnit),
      "a _temporary/-only appendix must never trigger (or crash) the retrain policy")
    graft.core.IndexStore.deleteRecursively(
      java.nio.file.Paths.get(s"${idx.codesPath}_inc"))
  }

  test("growing probes: an accept dir a dead writer left with only _SUCCESS reads as no appendix") {
    import java.nio.file.Files
    import graft.streaming.StreamingPipelines
    val dir = "/root/testdata/sf0.001"
    // the fault: epoch 0's writer died after mkdir and left only its
    // `_SUCCESS` marker in each accept dir — no file spark.read can read
    val grow = Files.createTempDirectory("grow-success-only")
    def successOnly(table: String): String = {
      val batch0 = grow.resolve(table).resolve("batch_id=0")
      Files.createDirectories(batch0)
      Files.write(batch0.resolve("_SUCCESS"), Array.empty[Byte])
      grow.resolve(table).toString
    }
    val missing = grow.resolve("none").toString
    // q16k's epoch-1 probe must equal its base-only probe
    val baseIdx = DedupQueries.baseBandIndex(spark, dir)
    val payload = DedupQueries.wordShingleDocs(spark, dir)
    val batch1 = payload.where(
      col("doc_id") % DedupQueries.IngestSplitMod === DedupQueries.IngestSplitRem &&
      pmod(col("doc_id"), lit(DedupQueries.IngestChunks)) === 1)
    def textProbe(sigDir: String, bandDir: String) = StreamingPipelines.growingIngestProbe(
        spark, baseIdx, payload, batch1, 1L, sigDir, bandDir)
      .as[(Long, Long, Double)].collect().toSet
    assert(textProbe(successOnly("sigs"), successOnly("bands")) == textProbe(missing, missing),
      "a _SUCCESS-only accept dir must probe as base only")
    // and so must q16m's
    val (bits, baseKeys) = SimilarityQueries.embKeyIndex(spark, dir)
    val base = graft.core.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val chunk1 = SimilarityQueries.plantedEmbeddings(spark, dir)
      .where(col("vec_id") >= 1000000L)
      .unionAll(SimilarityQueries.plantedEmbeddingsGen2(spark, dir))
      .where(pmod(col("vec_id"), lit(DedupQueries.IngestChunks)) === 1)
    def embProbe(keysDir: String, vecsDir: String) = StreamingPipelines.embGrowingProbe(
        spark, bits, baseKeys, base, chunk1, 1L, keysDir, vecsDir)
      .as[(Long, Long, Double)].collect().toSet
    assert(embProbe(successOnly("keys"), successOnly("vecs")) == embProbe(missing, missing),
      "a _SUCCESS-only accept dir must probe as base only")
    graft.core.IndexStore.deleteRecursively(grow)
  }

  test("binary sign-bit top-k recall vs exact top-k (sf0.001)") {
    val exact = SimilarityQueries.q17CosineTopK(spark, "/root/testdata/sf0.001")
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val b = SimilarityQueries.q17mBinaryHammingTopK(spark, "/root/testdata/sf0.001")
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // 128 projected sign bits + the 3× widened shortlist (VERDICT r11
    // #7): still the lossiest rung of the compression ladder, but the
    // exact re-rank must now recover well over half the true top-5
    val recall = (exact & b).size.toDouble / exact.size
    assert(recall >= 0.8, s"binary recall $recall too low (|exact|=${exact.size})")
    assert(b.size <= 50)
  }

  test("IVF x PQ top-k recall vs exact top-k (sf0.001)") {
    val exact = SimilarityQueries.q17CosineTopK(spark, "/root/testdata/sf0.001")
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val q = SimilarityQueries.q17kIvfPqTopK(spark, "/root/testdata/sf0.001")
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // recall compounds the coarse quantizer's list misses (q17c ~0.9)
    // with ADC distortion (q17j ~0.78); the floor matches the other
    // IVF rows — random vectors are the worst case for both stages
    val recall = (exact & q).size.toDouble / exact.size
    assert(recall >= 0.6, s"IVF-PQ recall $recall too low (|exact|=${exact.size}, |q|=${q.size})")
    assert(q.size <= 50)
    assert(q.groupBy(_._1).keySet == exact.groupBy(_._1).keySet, "every probe answered")
  }

  test("lineDedup: global first occurrence survives, later repeats drop, reassembly preserves order") {
    // doc 1: A,B ; doc 2: A,C,B (A and B are repeats) ; doc 3: C,C,D
    // (cross-doc repeat of C plus a WITHIN-doc repeat) ; doc 4: A,B —
    // every line already seen, so the page empties and its fingerprint
    // is NULL (the aggregate-of-empty-set semantics the oracle has)
    val lines = Seq(
      (1L, 0L, "alpha"), (1L, 1L, "bravo"),
      (2L, 0L, "alpha"), (2L, 1L, "charlie"), (2L, 2L, "bravo"),
      (3L, 0L, "charlie"), (3L, 1L, "charlie"), (3L, 2L, "delta"),
      (4L, 0L, "alpha"), (4L, 1L, "bravo"))
      .toDF("doc_id", "pos", "line")
    val out = DedupQueries.lineDedup(lines).orderBy("doc_id")
      .select("doc_id", "n_lines", "kept_lines", "dropped_lines", "kept_chars", "clean_md5")
      .as[(Long, Long, Long, Long, Long, Option[String])].collect().toList
    def m(s: String): Option[String] = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      Some(d.map("%02x".format(_)).mkString)
    }
    assert(out == List(
      (1L, 2L, 2L, 0L, 10L, m("alpha\nbravo")),
      (2L, 3L, 1L, 2L, 7L, m("charlie")),
      (3L, 3L, 1L, 2L, 5L, m("delta")),
      (4L, 2L, 0L, 2L, 0L, None)))
  }

  test("q16n fixture: boilerplate survives only on page 0; plagiarized paragraphs drop at their copy") {
    val sf = "/root/testdata/sf0.001"
    val out = DedupQueries.q16nLineDedup(spark, sf)
    val rows = out.select("doc_id", "n_lines", "kept_lines", "dropped_lines")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val byId = rows.map(r => r._1 -> r).toMap
    // page 0 holds the first occurrence of all three boilerplate lines
    val p0 = byId(0L)
    assert(p0._3 == p0._2 && p0._4 == 0, s"page 0 must keep every line: $p0")
    // every OTHER page drops its boilerplate: header+footer (+banner on
    // even pages, +plagiarized paragraph on %10==3 pages), keeps its body
    rows.filter(_._1 != 0L).foreach { case (id, n, kept, dropped) =>
      val expectedDropped =
        2L + (if (id % 2 == 0) 1L else 0L) + (if (id % 10 == 3) 1L else 0L)
      assert(dropped == expectedDropped && kept == n - dropped,
        s"page $id: n=$n kept=$kept dropped=$dropped expectedDropped=$expectedDropped")
    }
    // the planted plagiarism is present: %10==3 pages carry an extra line
    assert(rows.filter(r => r._1 % 10 == 3 && r._1 >= 10).forall(_._2 == 4L))
  }

  test("clustered recall fixture: deterministic, genuinely clustered, and the PQ rung clears 0.9 on it (VERDICT r12 #6)") {
    import graft.operators.SimilarityQueries
    val cdir = SimilarityQueries.clusteredEmbeddingsDir(spark)
    val emb = graft.core.Tables.load(spark, cdir, "embeddings")
    assert(emb.count() == 8192)
    // DETERMINISTIC across builds: wipe and rebuild, content identical
    // (hash expressions, no RNG state — the stamp is reproducible in
    // any JVM, any round)
    val sum1 = emb.select(sum(crc32(to_json(struct(col("vec_id"), col("embedding"))))))
      .head().getLong(0)
    graft.core.IndexStore.deleteRecursively(
      graft.core.IndexStore.root("graft-ann-clustered", "synthetic"))
    graft.core.IndexStore.clearMemo("graft-ann-clustered")
    val cdir2 = SimilarityQueries.clusteredEmbeddingsDir(spark)
    val emb2 = graft.core.Tables.load(spark, cdir2, "embeddings")
    val sum2 = emb2
      .select(sum(crc32(to_json(struct(col("vec_id"), col("embedding"))))))
      .head().getLong(0)
    assert(sum1 == sum2, "clustered fixture is not deterministic across rebuilds")
    // GENUINELY clustered: same-cluster cosine far above cross-cluster
    // (the structural property that makes it representative of real
    // embeddings, unlike the uniform testdata vectors)
    import spark.implicits._
    val unit = emb2.select(col("vec_id"), (col("vec_id") % 64).as("c"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(aggregate(zip_with(col("v"), col("v"), (a, b) => a * b),
        lit(0.0), (acc, x) => acc + x)))
    val a = unit.select(col("vec_id").as("ia"), col("c").as("ca"),
      col("v").as("va"), col("nrm").as("na")).where(col("ia") < 256)
    val b = unit.select(col("vec_id").as("ib"), col("c").as("cb"),
      col("v").as("vb"), col("nrm").as("nb")).where(col("ib") < 256)
    val cos = a.join(b, col("ia") < col("ib"))
      .select((col("ca") === col("cb")).as("same"),
        (aggregate(zip_with(col("va"), col("vb"), (x, y) => x * y),
          lit(0.0), (acc, x) => acc + x) / (col("na") * col("nb"))).as("cos"))
      .groupBy("same").agg(avg(col("cos")).as("m"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(cos(true) > 0.9 && cos(false) < 0.3,
      s"fixture not clustered: intra=${cos(true)} inter=${cos(false)}")
    // and PQ — the rung whose uniform-vector recall is worst-case —
    // clears 0.9 here, which is the whole point of the second stamp
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("probe_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(SimilarityQueries.q17CosineTopK(spark, cdir2))
    val pq = pairs(SimilarityQueries.q17jPqTopK(spark, cdir2))
    val recall = (pq & exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"PQ recall on the clustered fixture is $recall — expected ≥ 0.9")
    // the int8 rung — whose round-12 whole-vector symmetric codes sat
    // at 0.78 here — must ALSO clear 0.9 with residual encoding +
    // asymmetric scoring (the r13 IVF-SQ8 rework): residuals against
    // the list centroid are a fraction of the vector norm exactly when
    // the data clusters, so the int8 step shrinks proportionally
    val sq8 = pairs(SimilarityQueries.q17fIvfInt8TopK(spark, cdir2))
    val recall8 = (sq8 & exact).size.toDouble / exact.size
    assert(recall8 >= 0.9, s"IVF-int8 recall on the clustered fixture is $recall8 — expected ≥ 0.9")
  }
}
