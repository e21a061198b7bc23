package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.aggregate.GraftAggShim
import org.apache.spark.sql.functions._
import graft.core.{Appendix, Tables}

/** Similarity search over the `embeddings` table (SURVEY.md §2.3 Q17):
  * brute-force cosine top-k as the exact baseline, expressed so the plan
  * scales: probes are broadcast (no shuffle of the big side), scoring is
  * native array arithmetic inside codegen, and top-k per probe is
  * Spark's bounded `CollectTopK` with partial aggregation — only k rows per
  * probe per partition cross the shuffle, never all N scored candidates.
  * (The sublinear path at 100 TB is LSH/IVF bucketing — reusing the
  * banded-bucket join pattern from [[DedupQueries]] — over the same
  * scoring expressions.)
  */
object SimilarityQueries {

  /** dot(a,b) over array<double> columns — the native
    * [[graft.functions.VecDot]] kernel (round 21, guide §4: the former
    * `aggregate(zip_with(…))` pipeline is CodegenFallback, an
    * interpreted lambda per ELEMENT; the kernel runs the same left
    * fold in a while-loop — bit-identical doubles, whole-stage
    * codegen). Registration is lazy on the active session so
    * driver-owned sessions resolve it too. */
  def dot(a: Column, b: Column): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.functions.VecOps.ensureRegistered)
    call_function(graft.functions.VecOps.dotFnName, a, b)
  }

  /** v / nrm per element — `transform(v, x => x / nrm)` as the native
    * [[graft.functions.VecUnit]] kernel (same per-element division,
    * null elements stay null; the lambda transform was interpreted
    * per element on every normalization site). */
  def unitize(v: Column, nrm: Column): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.functions.VecOps.ensureRegistered)
    call_function(graft.functions.VecOps.unitFnName, v, nrm)
  }

  // ---- hyperplane LSH (random-projection sign bits) -------------------

  // 8 tables × 6 bits (+ hamming-1 multiprobe on the probe side in
  // q17b). Tuned for the corpus's worst case — uniformly random
  // embeddings, where true neighbors sit at ~60° — measured recall@5
  // ≈ 0.85 there; clustered real-world embeddings bucket far tighter.
  val annTables = graft.functions.HyperplaneLsh.Tables
  val annBitsPerTable = graft.functions.HyperplaneLsh.BitsPerTable
  val annDim = graft.functions.HyperplaneLsh.Dim

  /** Per-table LSH bucket keys for (id, v: array<double>) vectors:
    * (id, table_id, key) where key packs bitsPerTable sign bits — a pure
    * map via the native [[graft.functions.HyperplaneKeys]] expression
    * (static plane matrix, one pass per vector), posexploded to one row
    * per hash table. Round-robin repartition spreads the CPU-bound
    * projection work off the scan's (often single-file) partitioning. */
  def bucketKeys(vectors: DataFrame, spark: SparkSession): DataFrame = {
    graft.functions.HyperplaneLsh.ensureRegistered(spark)
    vectors
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("id"),
        posexplode(call_function(graft.functions.HyperplaneLsh.fnName, col("v"))).as(Seq("table_id", "key")))
  }

  private def normalized(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))

  /** The library surface for embedding near-dup: pairs with cos ≥
    * `threshold` among ANY (vec_id, v: array<double>) frame —
    * hyperplane-LSH candidates (same bucket in any table) → exact
    * cosine verification.
    *
    * Bucket sizing is the 100 TB lever (VERDICT r5 perf #2): key width
    * adapts to the corpus (~log2(N)+2 bits, [[graft.functions.HyperplaneLsh.bitsFor]])
    * so expected bucket population stays CONSTANT as N grows — a fixed
    * 6-bit key meant N/64 vectors per bucket and O(N²/64) candidate
    * pairs (measured 64M pairs / 15.6 s at N=32k; adaptive width makes
    * it ~N/4 per bucket). Exact and near-exact duplicates (cos → 1)
    * share every sign bit, so dedup recall is width-independent;
    * moderate-similarity search belongs to the multiprobe ANN path
    * (q17b) tuned for recall instead.
    *
    * The input subtree feeds several plan positions (bucket keys ×2
    * join sides, payloads ×2) and Catalyst does not CSE across joins
    * (documented trap, DedupQueries.scala:99-106); with constant-size
    * buckets the recomputed scans are strictly cheaper than cache
    * management here (r5 persisted the frame and the cache residency
    * regressed the whole bench suite under memory pressure). At 100 TB
    * the normalized+keyed frame is materialized once to a table and
    * every consumer reads that — the batch analogue of an index build,
    * same pattern as [[ivfCentroids]]. */
  def embeddingNearDup(spark: SparkSession, embRaw: DataFrame, threshold: Double): DataFrame = {
    graft.functions.HyperplaneLsh.ensureRegistered(spark)
    val bits = graft.functions.HyperplaneLsh.bitsFor(embRaw.count())
    val emb = embRaw.withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val keys = emb
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("vec_id").as("id"),
        posexplode(call_function(graft.functions.HyperplaneLsh.wideFnName,
          col("v"), lit(bits))).as(Seq("table_id", "key")))
    val l = keys.select(col("id").as("vec_i"), col("table_id"), col("key"))
    val r = keys.select(col("id").as("vec_j"), col("table_id"), col("key"))
    val cand = l.join(r, Seq("table_id", "key"))
      .where(col("vec_i") < col("vec_j"))
      .select("vec_i", "vec_j").distinct()
    val ei = emb.select(col("vec_id").as("vec_i"), col("v").as("v_i"), col("nrm").as("n_i"))
    val ej = emb.select(col("vec_id").as("vec_j"), col("v").as("v_j"), col("nrm").as("n_j"))
    cand.join(ei, "vec_i").join(ej, "vec_j")
      .withColumn("cos_sim", round(dot(col("v_i"), col("v_j")) / (col("n_i") * col("n_j")), 6))
      .where(col("cos_sim") >= threshold)
      .select("vec_i", "vec_j", "cos_sim")
      .orderBy("vec_i", "vec_j")
  }

  /** Asymmetric embedding near-dup: which vectors of an INCOMING batch
    * duplicate the EXISTING corpus (the embedding twin of
    * [[graft.operators.DedupQueries.nearDupPairsAcross]]). The standing
    * corpus's LSH sign-bit keys come from the PERSISTED
    * [[embKeyIndex]]; the batch pays O(batch × bucket-collisions) —
    * key width is sized to the BASE corpus (constant bucket
    * population), and exact/near-exact duplicates share every sign
    * bit, so dedup recall is width-independent. Output
    * (new_id, old_id, cos_sim ≥ threshold). */
  def embeddingNearDupAcross(base: DataFrame, batch: DataFrame, threshold: Double,
                             bits: Int, baseKeys: DataFrame): DataFrame = {
    val spark = base.sparkSession
    graft.functions.HyperplaneLsh.ensureRegistered(spark)
    // broadcast hints pin the BATCH-sized sides as the build side at
    // any scale: left to statistics, the local optimizer would happily
    // broadcast the corpus-sized key/payload tables (tiny at test SF,
    // an OOM at 100 TB); the batch and its candidate list are the
    // sides that stay small by construction
    val batchKeys = broadcast(batch
      .select(col("vec_id").as("new_id"),
        posexplode(call_function(graft.functions.HyperplaneLsh.wideFnName,
          col("v"), lit(bits))).as(Seq("table_id", "key"))))
    val cand = batchKeys
      .join(baseKeys.select(col("id").as("old_id"), col("table_id"), col("key")),
            Seq("table_id", "key"))
      .select("new_id", "old_id").distinct()
    val bi = broadcast(batch.withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .select(col("vec_id").as("new_id"), col("v").as("v_i"), col("nrm").as("n_i")))
    val bj = base.withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .select(col("vec_id").as("old_id"), col("v").as("v_j"), col("nrm").as("n_j"))
    // the candidate×batch-payload composite stays batch-sized
    // (O(batch × collisions)) — hint it as the build side of the
    // corpus-payload join too; left to statistics the local planner
    // happily broadcasts the CORPUS payload instead (tiny at test SF,
    // an OOM at 100 TB; pinned batch-sided in PlanShapeSpec)
    broadcast(cand.join(bi, "new_id")).join(bj, "old_id")
      .withColumn("cos_sim", round(dot(col("v_i"), col("v_j")) / (col("n_i") * col("n_j")), 6))
      .where(col("cos_sim") >= threshold)
      .select("new_id", "old_id", "cos_sim")
      .orderBy("new_id", "old_id")
  }

  /** Persisted hyperplane-LSH key index of the RAW embedding corpus —
    * the vector-side mirror of [[graft.operators.DedupQueries.baseBandIndex]]
    * (and the materialization the [[embeddingNearDup]] scaladoc names
    * as the 100 TB path): (id, table_id, key) sign-bit keys build once
    * into a fingerprint-stamped parquet dir and every ingest batch
    * reads them instead of re-keying the corpus. Key width rides the
    * fingerprint (it is a function of corpus size), so a grown corpus
    * rebuilds with the right width. Returns (bits, keys). */
  val embKeyBuildCount = new java.util.concurrent.atomic.AtomicInteger(0)
  private val EmbKeyFamily = "graft-emblsh"
  def clearEmbKeyCache(): Unit = graft.core.IndexStore.clearMemo(EmbKeyFamily)

  def embKeyIndex(spark: SparkSession, dir: String): (Int, DataFrame) = {
    graft.functions.HyperplaneLsh.ensureRegistered(spark)
    val raw = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val n = raw.count()
    // key width rides the fingerprint: it is a function of corpus size,
    // so a grown corpus rebuilds at the right width (the width-refit
    // policy — see ingestEmbGrowingReplay for the streaming variant)
    val bits = graft.functions.HyperplaneLsh.bitsFor(n)
    val fpBase = corpusFingerprint(
      raw.select(col("vec_id").as("id"), col("v")), "id", Seq(col("v")))
    val root = graft.core.IndexStore.buildOrLoad(
        EmbKeyFamily, dir, s"$fpBase:bits=$bits", Seq("keys"), embKeyBuildCount) { root =>
      raw.repartition(spark.sparkContext.defaultParallelism)
        .select(col("vec_id").as("id"),
          posexplode(call_function(graft.functions.HyperplaneLsh.wideFnName,
            col("v"), lit(bits))).as(Seq("table_id", "key")))
        .write.mode("overwrite").parquet(root.resolve("keys").toString)
    }
    (bits, Tables.readParquet(spark, root.resolve("keys").toString))
  }

  /** The planted near-dup fixture (an explicit test VIEW, not the raw
    * corpus): the raw embeddings have no pair above cos ≈ 0.51, which
    * made the r3 oracle row vacuous (both engines agreed on the empty
    * set). Each vec_id < 50 therefore also appears as a ×2-scaled copy
    * at vec_id + 1_000_000 — scaling preserves direction exactly
    * (cos = 1.0, identical LSH sign bits in every table), and ×2 is
    * exact in binary floating point, so the DuckDB oracle reproduces
    * the same doubles bit-for-bit. The raw-corpus semantics is
    * [[embeddingNearDup]] itself, which q16e applies to this fixture so
    * the oracle exercises real work (LSH co-bucketing + verification). */
  def plantedEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val planted = base.where(col("vec_id") < 50)
      .select((col("vec_id") + lit(1000000L)).as("vec_id"),
              transform(col("v"), x => x * lit(2.0)).as("v"))
    base.unionAll(planted)
  }

  /** Second-GENERATION planted copies for the growing embedding-ingest
    * fixture (q16m): ×4-scaled copies of the same vec_id < 50 originals
    * at vec_id + 2000000. ×4 is exact in binary FP like ×2, so a gen-2
    * copy has cos = 1.0 (and identical LSH sign bits) against BOTH the
    * base original and its gen-1 twin — and the two generations
    * interleave across replay chunks (new ids differ by 1000000 ≡ 1
    * mod 3), so cross-generation pairs are reachable ONLY through the
    * ACCUMULATED index: exactly what the growing-ingest contract must
    * prove it probes. */
  def plantedEmbeddingsGen2(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .where(col("vec_id") < 50)
      .select((col("vec_id") + lit(2000000L)).as("vec_id"),
              transform(col("v"), x => x * lit(4.0)).as("v"))

  /** Q16e — [[embeddingNearDup]] at threshold 0.9 over the documented
    * [[plantedEmbeddings]] fixture (oracle non-vacuous by design). */
  def q16eEmbeddingNearDup(spark: SparkSession, dir: String): DataFrame =
    embeddingNearDup(spark, plantedEmbeddings(spark, dir), 0.9)

  /** Q16e_raw — the SAME [[embeddingNearDup]] semantics over the RAW
    * corpus, declared as its own (rows-only) capability so the
    * reference-parity claim is literal (ADVICE r4/r5 carry-over): the
    * raw embeddings are uniformly random with no pair above cos ≈ 0.51,
    * so the correct answer at threshold 0.9 is the empty set — which is
    * exactly what a vacuous hash oracle would prove, hence rows-only by
    * design while the planted fixture (q16e) carries the non-vacuous
    * oracle. */
  def q16eRawEmbeddingNearDup(spark: SparkSession, dir: String): DataFrame =
    embeddingNearDup(spark,
      Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
      0.9)

  /** Q16g — SEMANTIC dedup, cluster-scoped (the SemDeDup recipe, Abbas
    * et al. 2023, re-expressed relationally): instead of LSH buckets
    * (q16e), candidate pairs are scoped to the IVF coarse-quantizer
    * clusters — vectors are assigned to their nearest centroid (a pure
    * map against the broadcast centroid matrix, reusing the PERSISTED
    * index q17c built for this dataset) and only within-cluster pairs
    * are exact-cosine-verified at threshold 0.99. With k ≈ √N centroids,
    * cluster population is ≈ √N, so candidate pairs are O(N^1.5), never
    * O(N²) — the shape SemDeDup runs at web scale.
    *
    * Fully hash-checked, by construction: the planted duplicates
    * ([[plantedEmbeddings]]) are ×2-scaled copies, which L2-normalize to
    * BIT-IDENTICAL unit vectors (×2 and ×4 are exact in binary FP, the
    * sum runs in the same order, sqrt(4s) = 2·sqrt(s) exactly), so a
    * copy's centroid scores equal its original's and the deterministic
    * argmax co-assigns them — every true pair (cos → 1) is inside one
    * cluster. The oracle is the all-pairs ground truth at 0.99; raw
    * corpus pairs top out at cos ≈ 0.51, so the answer is exactly the
    * planted pair set and the cluster scoping provably loses nothing. */
  def q16gSemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val raw = normalized(spark, dir)
    val unitRaw = raw.select(col("vec_id").as("id"),
      graft.operators.SimilarityQueries.unitize(col("v"), col("nrm")).as("v"))
    val ivf = ivfCentroids(spark, dir, unitRaw) // the shared persisted index
    val cdf = ivf.centroids.toDF("cid", "cvec")
    val emb = plantedEmbeddings(spark, dir)
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val unit = emb.select(col("vec_id").as("id"),
      graft.operators.SimilarityQueries.unitize(col("v"), col("nrm")).as("v"))
    val assigned = assignToCentroids(unit, cdf)
    val l = assigned.select(col("id").as("vec_i"), col("cid"))
    val r = assigned.select(col("id").as("vec_j"), col("cid"))
    val cand = l.join(r, Seq("cid"))
      .where(col("vec_i") < col("vec_j"))
      .select("vec_i", "vec_j")
    val ei = emb.select(col("vec_id").as("vec_i"), col("v").as("v_i"), col("nrm").as("n_i"))
    val ej = emb.select(col("vec_id").as("vec_j"), col("v").as("v_j"), col("nrm").as("n_j"))
    cand.join(ei, "vec_i").join(ej, "vec_j")
      .withColumn("cos_sim", round(dot(col("v_i"), col("v_j")) / (col("n_i") * col("n_j")), 6))
      .where(col("cos_sim") >= 0.99)
      .select("vec_i", "vec_j", "cos_sim")
      .orderBy("vec_i", "vec_j")
  }

  /** Q17b — approximate nearest neighbors (rows-only check: recall is
    * probabilistic by construction; measured against exact q17 in
    * DedupSimilaritySpec): probes search only their LSH buckets, exact
    * cosine ranks the candidates. The sublinear scale path: candidate
    * count per probe is corpus_fraction × tables, not N. */
  def q17bAnnTopK(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = normalized(spark, dir)
    val keys = bucketKeys(emb.select(col("vec_id").as("id"), col("v")), spark)
    // multiprobe: each probe also searches the bitsPerTable buckets at
    // hamming distance 1 from its own key (flip each bit) — the standard
    // recall/latency lever, probe-side only so the index stays 1 row per
    // (vector, table)
    val probeVariants: Seq[Column] =
      col("key") +: (0 until annBitsPerTable).map(b => col("key").bitwiseXOR(lit(1L << b)))
    val probeKeys = keys.where(col("id") < 10)
      .select(col("id").as("probe_id"), col("table_id"),
        explode(array(probeVariants: _*)).as("key"))
    val cand = probeKeys.join(keys, Seq("table_id", "key"))
      .where(col("id") =!= col("probe_id"))
      .select(col("probe_id"), col("id").as("neighbor_id")).distinct()
    val ep = emb.select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pn"))
    val ec = emb.select(col("vec_id").as("neighbor_id"), col("v").as("cv"), col("nrm").as("cn"))
    val scored = cand.join(broadcast(ep), "probe_id").join(ec, "neighbor_id")
      .withColumn("cos_sim", dot(col("pv"), col("cv")) / (col("pn") * col("cn")))
    val w = Window.partitionBy("probe_id").orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 5)
      .select(col("probe_id"), col("neighbor_id"), col("rank"), round(col("cos_sim"), 6).as("cos_sim"))
      .orderBy("probe_id", "rank")
  }

  // ---- IVF (inverted-file) ANN ----------------------------------------

  val ivfIters = 5   // Lloyd iterations

  /** Coarse-centroid count scales ~√N with the corpus (the standard
    * IVF sizing: balances list length N/k against probe fan-out k),
    * floored at 16 so tiny fixtures still exercise multi-list probing.
    * At 100 TB this is what keeps per-list scans sublinear. */
  def ivfKFor(n: Long): Int = math.max(16, math.round(math.sqrt(n.toDouble)).toInt)

  /** Lists searched per probe: k/4 keeps the scanned corpus fraction
    * (nprobe/k ≈ 25%) constant as k grows — the recall/latency knob. */
  def ivfNProbeFor(k: Int): Int = math.max(4, k / 4)

  /** Nearest-centroid assignment: broadcast the (tiny) centroid table,
    * score = inner product against L2-normalized vectors (spherical
    * k-means ⟺ cosine buckets), argmax via lexicographic struct max
    * (ties → larger cid, deterministic). Input (id, v), output (id, cid). */
  private def assignToCentroids(vectors: DataFrame, centroids: DataFrame): DataFrame =
    vectors
      .join(broadcast(centroids))
      .select(col("id"), col("cid"), dot(col("v"), col("cvec")).as("score"))
      .groupBy("id")
      .agg(max(struct(col("score"), col("cid"))).as("m"))
      .select(col("id"), col("m.cid").as("cid"))

  /** Training-sample cap for the coarse quantizer: 64 points per
    * centroid — the FAISS `max_points_per_centroid` discipline
    * (VERDICT r10 #2). With k = √N the cap is 64√N rows: at 100 TB a
    * full-corpus Lloyd pass per iteration is the wrong plan no matter
    * how well it distributes; k-means converges on a bounded sample and
    * the full corpus is only touched once, at encode/assign time. */
  def ivfSampleFor(ivfK: Int): Long = 64L * ivfK

  /** Train the coarse quantizer: deterministic spherical k-means over a
    * BOUNDED training set. When the corpus exceeds [[ivfSampleFor]],
    * training runs on a deterministic content-hash-ordered sample
    * (ordering by xxhash64(id) spreads it uniformly over the corpus
    * independent of id layout; the id tie-break makes selection a total
    * order) — below the cap the full corpus IS the sample and the plan
    * is byte-identical to the unsampled trainer, so small-corpus
    * indexes (and everything hash-checked downstream of their clusters,
    * e.g. q16g) are unchanged.
    *
    * Init = the ivfK smallest vec_ids of the training set (fully
    * reproducible, no RNG); each iteration is a distributed
    * broadcast-assign + element-wise mean, with only the ivfK×dim
    * centroid matrix collected to the driver between iterations — the
    * same small-model-state pattern MLlib's KMeans uses, never the
    * data.
    *
    * The per-cluster mean is ONE hash aggregate of dim `avg(v[i])`
    * columns over ivfK groups (map-side combine, one narrow shuffle of
    * ivfK×dim partials) — not a posexplode: exploding N×dim rows per
    * iteration shuffled the whole corpus ×dim and was ~half of q17c's
    * r3 runtime. */
  def ivfTrain(spark: SparkSession, unit: DataFrame, ivfK: Int,
               totalRows: Long = -1L, sampleCap: Long = -1L): Seq[(Int, Seq[Double])] = {
    import spark.implicits._
    val dim = graft.functions.HyperplaneLsh.Dim
    def normalize(a: Seq[Double]): Seq[Double] = {
      val n = math.sqrt(a.map(x => x * x).sum)
      if (n == 0) a else a.map(_ / n)
    }
    val cap = if (sampleCap > 0) sampleCap else ivfSampleFor(ivfK)
    val n = if (totalRows >= 0) totalRows else unit.count()
    val sampled = n > cap
    // the sampled training set feeds 2 consumers per Lloyd iteration —
    // persist for the TRAINING's scope only (the sort+limit would
    // otherwise re-run 2×iters times); the unsampled path keeps the
    // caller's frame untouched, exactly as before
    val train =
      if (!sampled) unit
      else unit.orderBy(xxhash64(col("id")), col("id")).limit(cap.toInt)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var centroids = train.orderBy("id").limit(ivfK)
        .as[(Long, Seq[Double])].collect()
        .zipWithIndex.map { case ((_, v), i) => (i, v) }.toSeq
      for (_ <- 0 until ivfIters) {
        val cdf = centroids.toDF("cid", "cvec")
        val assigned = assignToCentroids(train, cdf)
        val means = train.join(assigned, "id")
          .groupBy("cid")
          .agg(array((0 until dim).map(i => avg(element_at(col("v"), i + 1))): _*).as("m"))
          .as[(Int, Seq[Double])].collect()
          .map { case (cid, m) => (cid, normalize(m)) }
          .toMap
        // empty clusters keep their previous centroid
        centroids = centroids.map { case (cid, old) => (cid, means.getOrElse(cid, old)) }
      }
      centroids
    } finally if (sampled) train.unpersist(false)
  }

  /** A trained IVF index: k, the derived probe fan-out, the k×dim
    * centroid matrix (the only driver-resident state), and the path of
    * the persisted inverted-list assignment table (id → cid). */
  final case class IvfIndex(k: Int, nprobe: Int,
                            centroids: Seq[(Int, Seq[Double])], assignPath: String,
                            sq8Path: String)

  /** An ANN coarse quantizer is an INDEX — built once, PERSISTED, and
    * reused by every query and every session (FAISS trains offline; at
    * 100 TB the centroid matrix lives in a small metadata table next to
    * the corpus). First use per dataset: train (√N centroids), write
    * the centroid table to a parquet index dir keyed by the dataset,
    * mark `_DONE`. Later uses — including a fresh JVM — load the
    * parquet instead of retraining; an in-JVM memo skips even the load.
    * Re-training inside each query execution was r3's single biggest
    * ANN cost; the r4 fix was memo-only and died with the JVM
    * (VERDICT r4 next-round #5). */
  private val centroidCache =
    scala.collection.concurrent.TrieMap.empty[String, (String, IvfIndex)]
  /** Trainings actually executed in this JVM (observable by tests to
    * prove the disk index is reused rather than rebuilt). */
  val ivfTrainCount = new java.util.concurrent.atomic.AtomicInteger(0)
  /** Trainings of the INGEST-LOOP-scoped IVF copy (q16m's maintenance
    * lifecycle) — counted separately so the bench's `index_builds`
    * audit distinguishes the query-serving index from the loop's. */
  val ivfIngestTrainCount = new java.util.concurrent.atomic.AtomicInteger(0)
  private val IvfFamily = "graft-ivf"

  /** Corpus fingerprint (row count + id range) stamped into the index
    * at build and REVALIDATED on every load — in-place data changes
    * rebuild the index instead of silently serving stale lists. It is
    * one column-pruned agg over the corpus (a scan: two Spark jobs
    * under AQE), memoized per [[graft.core.Tables.fileBackedKey]] when
    * every leaf of `df` is a `file:` relation — the plan's hash plus
    * each input file's path, file key, size and ns mtime, so a repeat
    * validation of unchanged files costs file metadata only and any
    * rewrite, added or removed file scans again. Frames over other
    * leaves scan every time. An in-place CONTENT edit that preserves
    * count and id range evades the fingerprint by design (no payload
    * scan on the revalidation path); under
    * [[graft.core.IndexStore.strict]] (never memoized) it additionally
    * folds in an order-independent hash of `contentCols` — sum of
    * per-row xxhash64 over (id, content), summed as decimal(38,0)
    * because an ANSI bigint sum of 2^63-range hashes overflows — so
    * such edits rebuild too, at one full scan of those columns per
    * validation. */
  def corpusFingerprint(df: DataFrame, idCol: String,
                        contentCols: Seq[Column] = Nil): String = {
    def scan(): String = {
      val r = df.agg(count(lit(1)), min(col(idCol)), max(col(idCol))).head()
      val fp = s"${r.getLong(0)}:${r.get(1)}:${r.get(2)}"
      if (graft.core.IndexStore.strict && contentCols.nonEmpty) {
        val h = df.agg(sum(xxhash64((col(idCol) +: contentCols): _*)
          .cast("decimal(38,0)"))).head().get(0)
        s"$fp:c=$h"
      } else fp
    }
    if (graft.core.IndexStore.strict) scan()
    else graft.core.Tables.fileBackedKey(df).map(k => s"$idCol\u0000$k") match {
      case None => scan()
      case Some(key) => Option(fingerprintMemo.get(key)).getOrElse {
        val fp = scan()
        fingerprintMemo.put(key, fp)
        fp
      }
    }
  }
  private val fingerprintMemo = graft.core.SnapshotStore.lruCache[String](256)

  def ivfCentroids(spark: SparkSession, dir: String, unit: DataFrame,
                   counter: java.util.concurrent.atomic.AtomicInteger = ivfTrainCount): IvfIndex = {
    import spark.implicits._
    val fp = corpusFingerprint(unit, "id", Seq(col("v")))
    // the loaded-value memo (centroid matrix stays driver-resident
    // between calls); the disk lifecycle below is IndexStore's
    centroidCache.get(dir) match {
      case Some((cachedFp, idx)) if cachedFp == fp => return idx
      case _ => ()
    }
    val root = graft.core.IndexStore.buildOrLoad(
        IvfFamily, dir, fp, Seq("centroids", "assignments", "sq8"), counter) { root =>
      val cnt = fp.split(":")(0).toLong // count is the fp's first field
      val k = ivfKFor(cnt)
      val cents = ivfTrain(spark, unit, k, totalRows = cnt)
      cents.toDF("cid", "cvec").coalesce(1).write.mode("overwrite")
        .parquet(root.resolve("centroids").toString)
      // the inverted lists ARE the index: persist id→cid so queries
      // read a 2-column table instead of recomputing N×k inner
      // products per execution (FAISS add() happens at build time)
      assignToCentroids(unit, cents.toDF("cid", "cvec"))
        .write.mode("overwrite").parquet(root.resolve("assignments").toString)
      // the SQ8 residual codes are part of the index too (the FAISS
      // IVF-SQ8 list layout): encoded once here, so the int8 rung's
      // query-time corpus scan reads codes + scale — never the f64
      // vectors (q17f's whole memory-bandwidth story)
      sq8Encode(unit, spark.read.parquet(root.resolve("assignments").toString),
          broadcast(cents.toDF("cid", "cvec")))
        .write.mode("overwrite").parquet(root.resolve("sq8").toString)
      // a retrain supersedes the centroids any incremental batches were
      // scored against — their appended assignments and codes go with it
      Appendix(root.resolve("assignments_inc").toString).clear()
      Appendix(root.resolve("sq8_inc").toString).clear()
    }
    val cents = spark.read.parquet(root.resolve("centroids").toString)
      .as[(Int, Seq[Double])].collect().sortBy(_._1).toSeq
    val built = IvfIndex(cents.size, ivfNProbeFor(cents.size), cents,
      root.resolve("assignments").toString, root.resolve("sq8").toString)
    centroidCache.put(dir, (fp, built))
    built
  }

  /** The SQ8 RESIDUAL ENCODER (q17f's quantizer, the FAISS
    * `ScalarQuantizer(QT_8bit, by_residual)` shape): int8 of
    * (unit vector − its list centroid), per-vector scale =
    * 127/max|residual|. ONE definition, used at index build (base
    * codes) and for on-the-fly encoding of incrementally-accepted
    * vectors, so the two can never diverge. The 1e-12 floor keeps a
    * vector sitting exactly on its centroid finite (its residual codes
    * are all zeros either way). Output (id, cid, qv: array<tinyint>,
    * scale). */
  private def sq8Encode(unit: DataFrame, assigned: DataFrame,
                        cents: DataFrame): DataFrame =
    unit.join(assigned.select("id", "cid"), "id").join(cents, "cid")
      .withColumn("r", zip_with(col("v"), col("cvec"), _ - _))
      .withColumn("scale", lit(127.0) /
        greatest(aggregate(col("r"), lit(0.0), (a, x) => greatest(a, abs(x))), lit(1e-12)))
      .withColumn("qv", transform(col("r"), x => floor(x * col("scale")).cast("byte")))
      .select("id", "cid", "qv", "scale")
  def clearIvfCache(): Unit = {
    centroidCache.clear()
    graft.core.IndexStore.clearMemo(IvfFamily)
  }

  /** Assign a DELTA of (id, v) UNIT vectors to the EXISTING coarse
    * centroids — the FAISS add()-vs-train() split (VERDICT r7 #6): a
    * growing corpus does not retrain the quantizer per batch; new
    * vectors are scored against the broadcast k×dim centroid matrix
    * only. Cost O(|delta| × k) — the standing corpus is never rescored,
    * and the plan scans no persisted table (pinned in
    * DedupSimilaritySpec). Retraining is the periodic offline
    * maintenance op: [[ivfCentroids]] rebuilds when the re-registered
    * corpus's fingerprint changes. */
  def ivfAssignDelta(ivf: IvfIndex, delta: DataFrame): DataFrame = {
    val spark = delta.sparkSession
    import spark.implicits._
    assignToCentroids(delta, ivf.centroids.toDF("cid", "cvec"))
  }

  /** Accept a delta batch into the persisted inverted lists:
    * assignments land under `<assignPath>_inc/batch_id=N` and the
    * batch's SQ8 residual codes under `<sq8Path>_inc/batch_id=N`
    * (FAISS `add()` encodes into the list as it assigns — the code is
    * part of the list entry, and the accept is the only moment the
    * delta's VECTORS are in hand). Overwrite = retry-idempotent, the
    * ingest-loop accept pattern; standing assignments and codes are
    * never touched. Returns the accepted (id, cid) rows. A retrain
    * clears both `_inc` appendixes (those rows were scored against the
    * superseded centroids); between retrains, [[Appendix.compact]]
    * folds the accumulated batch dirs into one (the view has no
    * batch-order semantics, so compaction is trivially exact here). */
  def ivfAssignIncremental(spark: SparkSession, ivf: IvfIndex,
                           delta: DataFrame, batchId: Long): DataFrame = {
    import spark.implicits._
    Appendix(s"${ivf.assignPath}_inc").accept(ivfAssignDelta(ivf, delta), batchId)
    val landed = spark.read
      .parquet(s"${ivf.assignPath}_inc/batch_id=$batchId").select("id", "cid")
    Appendix(s"${ivf.sq8Path}_inc").accept(
      sq8Encode(delta, landed, broadcast(ivf.centroids.toDF("cid", "cvec"))), batchId)
    landed
  }

  /** The full inverted-list view: the persisted base assignments ∪ any
    * incrementally-accepted delta batches — what queries read (with no
    * deltas it is exactly the base table). */
  def ivfAssignments(spark: SparkSession, ivf: IvfIndex): DataFrame = {
    val base = Tables.readParquet(spark, ivf.assignPath)
    Appendix(s"${ivf.assignPath}_inc").read(spark, Seq("id", "cid"))
      .fold(base)(base.unionAll)
  }

  /** Retrain once an index's accepted appendix holds more than this
    * fraction of its trained base rows (FAISS-style re-add threshold). */
  val RetrainGrowth = 0.2

  /** The growth test of [[maybeRetrain]] and [[maybePqRetrain]]: the
    * `<base>_inc` appendix's rows against the base table's, both from
    * parquet footers (exact, no Spark job). The base dir is read with
    * the appendix's visible-file rule; with no appendix rows it is not
    * read at all. */
  private def outgrown(spark: SparkSession, base: String): Boolean = {
    val incRows = Appendix(s"${base}_inc").rows(spark)
    incRows > 0 && incRows > RetrainGrowth * Appendix(base).rows(spark)
  }

  /** The documented retrain TRIGGER (VERDICT r8 next #6) —
    * [[ivfAssignIncremental]] accepts deltas forever, but every
    * accepted batch is scored against centroids trained WITHOUT it, so
    * recall decays as the appendix grows relative to the trained base.
    * This maintenance op makes the policy explicit: when the `_inc`
    * appendix exceeds [[RetrainGrowth]] × base rows (FAISS-style re-add
    * threshold; the width-refit analog of the embedding-ingest LSH
    * rebuild), retrain over the GROWN corpus. The retrain routes
    * through [[ivfCentroids]] unchanged: the grown corpus's fingerprint
    * differs from the stamped one, so the standard build-or-load path
    * rebuilds centroids + assignments and clears the `_inc` appendix
    * (every delta row is re-scored against the fresh centroids as part
    * of the full assignment). Below threshold: a footer-count metadata
    * check, no Spark job, nothing touched.
    *
    * `unitAll` is the standing corpus INCLUDING accepted deltas — at
    * 100 TB this runs as the periodic offline compaction job next to
    * [[Appendix.compact]], never inline with a query. Returns whether a
    * retrain ran. */
  def maybeRetrain(spark: SparkSession, dir: String, ivf: IvfIndex,
                   unitAll: DataFrame): Boolean =
    outgrown(spark, ivf.assignPath) && { ivfCentroids(spark, dir, unitAll); true }

  /** Q17b's IVF sibling (Q17c) — approximate top-5 cosine neighbors via
    * inverted lists: vectors are bucketed by nearest coarse centroid;
    * probes score ONLY the vectors in their ivfNProbe nearest lists.
    * Candidate fraction ≈ nprobe/k of the corpus per probe — the
    * standard sublinear ANN layout (FAISS-style IVF-Flat re-expressed
    * relationally: the inverted index is a cid-keyed table, list lookup
    * is a broadcast-join, scan-within-list is the exact scorer). Probe
    * scope: vec_id < 10 like q17/q17b; rows-only check (recall is
    * measured against exact q17 in DedupSimilaritySpec). */
  def q17cIvfTopK(spark: SparkSession, dir: String): DataFrame =
    ivfRank(spark, dir, 5)

  /** Probe-side IVF candidate generation — THE sublinear step every
    * IVF row shares (q17c/ivfRank, q17f, q17k): rank the broadcast
    * centroid table per probe, keep the `nprobe` closest lists, join
    * the PERSISTED inverted lists (built once in [[ivfCentroids]],
    * ∪ incrementally-accepted deltas — never recomputed per query),
    * exclude self. One definition so the nprobe semantics and the
    * self-exclusion rule cannot silently diverge across the family.
    * Output (probe_id, id). */
  private def ivfCandidates(spark: SparkSession, unit: DataFrame, ivf: IvfIndex): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val probeRank = Window.partitionBy("probe_id").orderBy(col("score").desc, col("cid"))
    val probeLists = unit.where(col("id") < 10)
      .join(broadcast(ivf.centroids.toDF("cid", "cvec")))
      .select(col("id").as("probe_id"), col("cid"), dot(col("v"), col("cvec")).as("score"))
      .withColumn("rn", row_number().over(probeRank))
      .where(col("rn") <= ivf.nprobe)
      .select("probe_id", "cid")
    probeLists.join(ivfAssignments(spark, ivf), "cid")
      .where(col("id") =!= col("probe_id"))
      .select(col("probe_id"), col("id"))
  }

  /** The IVF ranker at any depth k — q17c's body, reused at fusion
    * depth by the indexed hybrid retrieval (q17i). Output
    * (probe_id, neighbor_id, rank, cos_sim).
    *
    * `nprobeFrac` widens (or narrows) the probe fan-out for THIS
    * ranking only — nprobe = ceil(k × frac), so it scales with the
    * √N-sized centroid count like the default k/4 does — without
    * touching the persisted index or the standing q17c default: fusion
    * consumers (q17i) probe deeper than the standalone ANN row because
    * fused-rank quality is bounded by the weaker list — the standard
    * per-query nprobe knob every IVF serving stack exposes. Clamped to
    * k (frac = 1 degenerates to exact). */
  def ivfRank(spark: SparkSession, dir: String, k: Int,
              nprobeFrac: Option[Double] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = normalized(spark, dir)
    val unit = emb.select(col("vec_id").as("id"),
      graft.operators.SimilarityQueries.unitize(col("v"), col("nrm")).as("v"))
    val ivf0 = ivfCentroids(spark, dir, unit)
    val ivf = nprobeFrac
      .map(f => ivf0.copy(nprobe =
        math.min(math.max(1, math.ceil(ivf0.k * f).toInt), ivf0.k)))
      .getOrElse(ivf0)
    val cand = ivfCandidates(spark, unit, ivf)
      .select(col("probe_id"), col("id").as("neighbor_id"))

    // exact cosine on the candidate lists only
    val ep = emb.select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pn"))
    val ec = emb.select(col("vec_id").as("neighbor_id"), col("v").as("cv"), col("nrm").as("cn"))
    val scored = cand.join(broadcast(ep), "probe_id").join(ec, "neighbor_id")
      .withColumn("cos_sim", dot(col("pv"), col("cv")) / (col("pn") * col("cn")))
    val w = Window.partitionBy("probe_id").orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("rank"), round(col("cos_sim"), 6).as("cos_sim"))
      .orderBy("probe_id", "rank")
  }

  /** Q17d — symmetric int8 quantization of the embedding column (the
    * standard ANN compression at scale: 8× smaller than f64, inner
    * products computed in int8/int32 SIMD). Per-vector scale =
    * 127/max|v|; FLOOR rounding, deliberately: round-half-even
    * tie-breaking can differ across engines, floor is bit-exact on the
    * identical IEEE product both sides compute. Output exploded as
    * (vec_id, pos, qval, scale) so the DuckDB oracle verifies every
    * code. Pure map over the corpus — one scan, zero shuffles. */
  def q17dInt8Quant(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("scale",
        lit(127.0) / aggregate(col("v"), lit(0.0), (a, x) => greatest(a, abs(x))))
    emb.select(col("vec_id"), col("scale"), posexplode(col("v")).as(Seq("pos", "x")))
      .select(
        col("vec_id"),
        col("pos").cast("long").as("pos"),
        floor(col("x") * col("scale")).cast("long").as("qval"),
        round(col("scale"), 6).as("scale"))
      .orderBy("vec_id", "pos")
  }

  /** Q17f — IVF × int8 (the FAISS IVF-SQ8 layout re-expressed
    * relationally): candidate lists come from the persisted IVF coarse
    * quantizer (sublinear — ~nprobe/k of the corpus per probe, q17c's
    * machinery) and scoring runs on int8 codes (8× less memory
    * bandwidth). Two design choices follow FAISS's IVF-SQ defaults,
    * both adopted in round 13 after the clustered-corpus recall stamp
    * exposed the naive variant (whole-vector symmetric codes) at 0.78:
    *
    *   1. RESIDUAL encoding (`by_residual`): each vector is coded as
    *      int8 of (v − centroid-of-its-list), per-vector scale =
    *      127/max|residual|. On clustered data residual norms are a
    *      fraction of vector norms, so the quantization step shrinks
    *      proportionally — exactly where whole-vector codes drown the
    *      tiny cosine gaps between near-identical candidates. On
    *      uniform data it degrades to roughly the whole-vector step
    *      (centroids shrink residuals only mildly) — never worse.
    *   2. ASYMMETRIC scoring (ADC): the probe side stays full
    *      precision — only the O(probes) query vectors are read as
    *      f64; the corpus scan is still codes + scale + cid. Database-
    *      side reconstruction c̃ = centroid + code/scale, scored as
    *      cos(p, c̃) with c̃ normalized in-expression. Halves the
    *      quantization noise vs symmetric code×code products.
    *
    * This is the configuration a 100 TB deployment ships: the corpus's
    * full-precision vectors are never read at query time (probe
    * vectors are O(10) rows). Rows-only like the other ANN rows
    * (candidate sets depend on k-means training); recall vs exact f64
    * q17 is pinned in DedupSimilaritySpec on BOTH corpora. */
  def q17fIvfInt8TopK(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val emb = normalized(spark, dir)
    val unit = emb.select(col("vec_id").as("id"),
      graft.operators.SimilarityQueries.unitize(col("v"), col("nrm")).as("v"))
    val ivf = ivfCentroids(spark, dir, unit)
    val cand = ivfCandidates(spark, unit, ivf)
      .select(col("probe_id"), col("id").as("neighbor_id"))
    val cents = broadcast(ivf.centroids.toDF("cid", "cvec"))

    // the PERSISTED residual code table (built with the index, plus any
    // incrementally-accepted batches' codes — [[ivfAssignIncremental]]
    // encodes as it assigns, FAISS add()-style): the corpus-side scan
    // reads codes + scale, 8× fewer bytes than the f64 vectors, which
    // this query never touches corpus-wide.
    val baseCodes = Tables.readParquet(spark, ivf.sq8Path)
    val codes = Appendix(s"${ivf.sq8Path}_inc").read(spark, Seq("id", "cid", "qv", "scale"))
      .fold(baseCodes)(baseCodes.unionByName)

    // asymmetric scoring: reconstruct c̃ = centroid + qv/scale, rank by
    // cos(p_unit, c̃) = dot(p, c̃)/|c̃| (probe is unit-norm exact). The
    // probe-side scan is FILTERED to the probe set — the only f64
    // vectors this query reads are the O(probes) query vectors
    // (spec-pinned on the executed plan).
    val ep = unit.where(col("id") < 10)
      .select(col("id").as("probe_id"), col("v").as("pv"))
    val scored = cand
      .join(codes.withColumnRenamed("id", "neighbor_id"), "neighbor_id")
      .join(cents, "cid")
      .join(broadcast(ep), "probe_id")
      .withColumn("rv",
        zip_with(col("cvec"), transform(col("qv"), q => q.cast("double") / col("scale")), _ + _))
      .withColumn("cos_q", dot(col("pv"), col("rv")) / sqrt(dot(col("rv"), col("rv"))))
    val w = Window.partitionBy("probe_id").orderBy(col("cos_q").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 5)
      .select(col("probe_id"), col("neighbor_id"), col("rank"),
              round(col("cos_q"), 6).as("cos_sim_q"))
      .orderBy("probe_id", "rank")
  }

  /** Q17e — similarity search OVER the int8 codes (q17d's quantization
    * put to work): score candidates with INTEGER dot products on the
    * quantized vectors, de-scale, rank. This is the memory-bandwidth
    * scale path — at 100 TB the scorer streams 8× fewer bytes than f64
    * and the inner loop is int MAC, while rank quality stays within
    * quantization error of exact (agreement vs q17 measured in
    * DedupSimilaritySpec). Integer dots are EXACT cross-engine (max
    * |q·q| ≈ 127²×dim ≪ 2^53), so unlike the ANN rows (q17b/c) this
    * row is fully hash-checked: candidate order, de-scale arithmetic,
    * and rounding all verified against DuckDB. Same broadcast-probe +
    * bounded-top-k plan as q17 — only k rows per probe per partition
    * cross the shuffle. */
  def q17eInt8TopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .withColumn("scale",
        lit(127.0) / aggregate(col("v"), lit(0.0), (a, x) => greatest(a, abs(x))))
      .withColumn("qv", transform(col("v"), x => floor(x * col("scale")).cast("long")))
      .select("vec_id", "qv", "scale", "nrm")

    val probes = emb.select(col("vec_id").as("probe_id"), col("qv").as("pqv"),
        col("scale").as("pscale"), col("nrm").as("pnrm"))
      .where(col("probe_id") < 10)

    // integer MAC over the codes, then de-scale:
    // cos_q = (qp . qc) / (s_c * s_p) / (|c| * |p|)
    val scored = emb.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .select(
        col("probe_id").as("probe"),
        col("vec_id").as("id"),
        (aggregate(zip_with(col("qv"), col("pqv"), _ * _), lit(0L), _ + _).cast("double")
          / (col("scale") * col("pscale")) / (col("nrm") * col("pnrm"))).as("score"))

    rankedTopK(scored, 5, "cos_sim_q")
  }

  /** Q17h — HYBRID retrieval: reciprocal-rank fusion (RRF, the rank
    * combiner lexical+vector search engines ship) of two independent
    * rankers over the id-aligned corpus (doc_id ≡ vec_id):
    *
    *  - VECTOR ranks: exact cosine top-20 per probe over `embeddings`
    *    (the q17 scorer at fusion depth);
    *  - LEXICAL ranks: token-set Jaccard top-20 per probe over
    *    `documents` (|A∩B| / |A∪B| on distinct-token sets — integer
    *    set sizes and ONE division, so every lexical score is
    *    bit-identical cross-engine by construction).
    *
    * Fused score = Σ_lists 1/(60 + rank) (the standard RRF k = 60) over
    * the lists a candidate appears in. Ranks are small integers, each
    * addend is a single exact division, and a candidate contributes at
    * most TWO addends — FP addition is commutative, so the sum is
    * deterministic under any aggregation order and q17h is FULLY
    * hash-checked (unlike the ANN rows, nothing here is probabilistic).
    *
    * Scale posture: both rankers end in the bounded [[rankedTopK]] tail
    * (k rows per probe per partition cross the shuffle — never N scored
    * candidates), fusion touches only 2 × k × probes rank rows (a
    * union + one tiny keyed aggregate), and the two rankers share
    * nothing upstream so they parallelize as independent stage trees.
    * At 100 TB each ranker swaps in its sublinear index (IVF for the
    * vector side, the term-partitioned posting layout for BM25) without
    * the fusion layer changing — RRF consumes ranks, not scores. */
  def q17hHybridRrf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TextFunctions.tokens
    val fusionK = 20

    val emb = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val vprobes = emb.select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pnrm"))
      .where(col("probe_id") < 10)
    val vecScored = emb.join(broadcast(vprobes), col("vec_id") =!= col("probe_id"))
      .select(col("probe_id").as("probe"), col("vec_id").as("id"),
        (dot(col("v"), col("pv")) / (col("nrm") * col("pnrm"))).as("score"))

    val toked = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), array_distinct(tokens(col("text"))).as("ts"))
    val lprobes = toked.select(col("doc_id").as("probe_id"), col("ts").as("pts"))
      .where(col("probe_id") < 10)
    val lexScored = toked.join(broadcast(lprobes), col("doc_id") =!= col("probe_id"))
      .select(col("probe_id").as("probe"), col("doc_id").as("id"),
        (size(array_intersect(col("ts"), col("pts"))).cast("double") /
          size(array_union(col("ts"), col("pts")))).as("score"))

    val vecR = rankedTopK(vecScored, fusionK, "s")
      .select(col("probe_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("r"), lit("vec").as("ranker"))
    val lexR = rankedTopK(lexScored, fusionK, "s")
      .select(col("probe_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("r"), lit("lex").as("ranker"))

    val w = Window.partitionBy("probe_id").orderBy(col("raw").desc, col("doc_id"))
    vecR.unionByName(lexR)
      .groupBy("probe_id", "doc_id")
      .agg(
        sum(lit(1.0) / (lit(60L) + col("r"))).as("raw"),
        coalesce(max(when(col("ranker") === "vec", col("r"))), lit(0L)).as("vec_rank"),
        coalesce(max(when(col("ranker") === "lex", col("r"))), lit(0L)).as("lex_rank"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= 10)
      .select(col("probe_id"), col("rk"), col("doc_id"),
        col("vec_rank"), col("lex_rank"), round(col("raw"), 6).as("rrf"))
      .orderBy("probe_id", "rk")
  }

  /** Shared ranked-top-k tail: bounded per-probe aggregation (only k
    * rows per probe per partition cross the shuffle) → posexplode into
    * (probe_id, neighbor_id, rank, <scoreName>) rows rounded to 6dp. */
  // ---- product quantization (PQ-ADC) ----------------------------------

  /** PQ geometry: 64-dim vectors split into 8 subspaces × 8 dims, each
    * quantized to 16 codes (4 bits) — an 8-byte code per vector, 64×
    * smaller than the f64 original. The compression/recall trade is the
    * FAISS `PQ8x4` point; recall is recovered by exact re-ranking of a
    * bounded shortlist. */
  val pqSubspaces = 8
  val pqCodes = 16
  val pqIters = 5
  /** ADC shortlist depth re-ranked exactly (60× the returned k — the
    * re-rank touches ≤ probes×shortlist full vectors, so depth is
    * nearly free next to the code scan; on uniformly random vectors,
    * ADC distortion needs the deeper list to cover the true top-5.
    * Round 12: 50 → 150 lifted stamped PQ-family recall at sf0.1 with
    * no measurable bench cost; round 13: 150 → 300 for the same
    * reason (uniform-vector q17j sat at 0.78 — ADC on structure-less
    * vectors is the documented worst case, and the bounded re-rank is
    * the honest lever: cost stays probes×shortlist exact dots,
    * independent of corpus size — the same lever as q17m's
    * [[binaryShortlist]]). */
  val pqShortlist = 300
  private val pqSubDim = graft.functions.HyperplaneLsh.Dim / pqSubspaces

  val pqBuildCount = new java.util.concurrent.atomic.AtomicInteger(0)
  private val PqFamily = "graft-pq"

  /** A trained PQ index: the m×ks×(d/m) codebook (driver-resident —
    * 1024 doubles) and the persisted code table's path. */
  final case class PqIndex(codebook: Seq[(Int, Int, Seq[Double])], codesPath: String)
  private val pqCache =
    scala.collection.concurrent.TrieMap.empty[String, (String, PqIndex)]
  def clearPqCache(): Unit = {
    pqCache.clear()
    graft.core.IndexStore.clearMemo(PqFamily)
  }

  /** Training-sample bound for the codebooks: 256 vectors per code —
    * the FAISS `max_points_per_centroid` discipline. 4096 rows
    * REGARDLESS of corpus size: at 100 TB the codebook trains on the
    * same bounded sample it trains on here. */
  val pqTrainSampleRows: Int = 256 * pqCodes

  /** Train the m per-subspace codebooks — on a BOUNDED, deterministic,
    * content-hash-ordered SAMPLE of the corpus (VERDICT r10 #2: a
    * full-corpus Lloyd pass per iteration is the wrong plan at scale no
    * matter how well it distributes; FAISS trains PQ on a capped
    * sample and only ever touches the full corpus at encode time,
    * which [[pqEncode]] still does distributed).
    *
    * Ordering by xxhash64(id) spreads the sample uniformly over the
    * corpus independent of id layout; the id tie-break makes selection
    * a total order. Only [[pqTrainSampleRows]] × dim doubles reach the
    * driver — ONE bounded job — and the k-means loop then runs
    * in-memory with zero Spark jobs per iteration (previously two: the
    * r10 bench's 15 s q17l was ~30 tiny-data shuffle jobs of pure
    * scheduling overhead per staged replay). Fully deterministic:
    * init = the pqCodes smallest-id sample rows (id order, so the init
    * is stable under sample-cap changes), rows fold in id order,
    * distance ties keep the smaller code — the same tie-break
    * [[pqEncode]]'s first-index argmin applies at encode time. Subspace
    * centroids are plain means, NOT re-normalized — PQ quantizes in L2
    * subspace geometry even when the full vectors are unit. */
  def pqTrain(spark: SparkSession, unit: DataFrame): Seq[(Int, Int, Seq[Double])] = {
    import spark.implicits._
    val sample = unit
      // TakeOrdered collects each partition's top-|sample| WITH the full
      // f64 vectors — 32 scan partitions meant 32 × 4096 × dim doubles
      // to the driver merge; 8 bounds that fan-in at identical output
      // (the (hash, id) order is total, so the global top-|sample| set
      // is partitioning-independent) — guide §5, driver data work
      .coalesce(8)
      .orderBy(xxhash64(col("id")), col("id"))
      .limit(pqTrainSampleRows)
      .as[(Long, Seq[Double])].collect()
      .sortBy(_._1)
    // [row][sub][dim] subvector slices of the sample
    val subv: Array[Array[Array[Double]]] = sample.map { case (_, v) =>
      Array.tabulate(pqSubspaces)(s =>
        v.slice(s * pqSubDim, (s + 1) * pqSubDim).toArray)
    }
    val ks = math.min(pqCodes, sample.length)
    // codebook[sub][code][dim]
    var codebook: Array[Array[Array[Double]]] =
      Array.tabulate(pqSubspaces)(s => Array.tabulate(ks)(c => subv(c)(s).clone()))
    for (_ <- 0 until pqIters) {
      val sums = Array.tabulate(pqSubspaces, ks)((_, _) => new Array[Double](pqSubDim))
      val counts = Array.ofDim[Long](pqSubspaces, ks)
      var i = 0
      while (i < subv.length) {
        var s = 0
        while (s < pqSubspaces) {
          val x = subv(i)(s)
          var best = 0
          var bestD = Double.MaxValue
          var c = 0
          while (c < ks) {
            val cv = codebook(s)(c)
            var d = 0.0
            var j = 0
            while (j < pqSubDim) { val t = x(j) - cv(j); d += t * t; j += 1 }
            if (d < bestD) { bestD = d; best = c } // strict <: ties keep the smaller code
            c += 1
          }
          val acc = sums(s)(best)
          var j = 0
          while (j < pqSubDim) { acc(j) += x(j); j += 1 }
          counts(s)(best) += 1
          s += 1
        }
        i += 1
      }
      codebook = Array.tabulate(pqSubspaces)(s => Array.tabulate(ks) { c =>
        // empty codes keep their previous centroid
        if (counts(s)(c) == 0) codebook(s)(c)
        else sums(s)(c).map(_ / counts(s)(c))
      })
    }
    for { s <- 0 until pqSubspaces; c <- 0 until ks }
      yield (s, c, codebook(s)(c).toSeq)
  }

  /** Build-or-load the PQ index under the standard lifecycle (persisted
    * next to the corpus, fingerprint-revalidated, build counter in the
    * bench audit): codebook parquet + the encoded (id, codes) table —
    * at 100 TB the code table IS the searchable corpus (8 bytes/vector
    * in memory-bandwidth terms), the f64 vectors are cold storage the
    * re-ranker touches for shortlist rows only. */
  /** Encode (id → packed m-code array) against a codebook — the step
    * shared by the index build and the incremental delta accept, so
    * batch-built and delta-encoded codes are identical by
    * construction.
    *
    * MAP-ONLY (round 21, guide §1.2/§2.4): the previous plan exploded
    * every vector into m subvector rows, broadcast-joined the codebook
    * (m × ks scored rows per vector), and paid TWO exchanges —
    * groupBy(id, sub) argmin plus groupBy(id) collect_list — to
    * reassemble the code array; q17l pays this encode for the full
    * corpus twice per staged replay (base build + growth retrain) plus
    * once per accepted epoch. The codebook is driver-resident and tiny
    * (m × ks × (d/m) ≤ 1024 doubles), so the whole assignment is ONE
    * projection: per subspace, the ks-length distance array over
    * centroid literals — the SAME L2² left fold, so every double is
    * bit-identical — and argmin as `array_position(d, array_min(d))`,
    * whose first-index tie-break equals the old struct-min (d, code)
    * smaller-code rule. Zero joins, zero shuffles, whole-stage codegen
    * end to end; at 100 TB the encode is exactly one pass over the
    * vectors, the plan FAISS runs. */
  def pqEncode(unit: DataFrame, codebook: Seq[(Int, Int, Seq[Double])]): DataFrame = {
    val bySub: Map[Int, Seq[Seq[Double]]] =
      codebook.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    require((0 until pqSubspaces).forall(bySub.contains),
      s"pqEncode: codebook missing subspaces (have ${bySub.keySet.toSeq.sorted})")
    // TIGHT JVM LOOP per partition (guide §1.2 per-task work / §4.2 —
    // the relational forms both lose: the old explode + broadcast-join
    // + double-shuffle plan evaluated L2² through zip_with/aggregate,
    // which are CodegenFallback and run INTERPRETED per (row, sub,
    // code); an unrolled whole-stage-codegen expression tree inlines
    // the codebook doubles into the generated source, so every fresh
    // codebook (each staged q17l replay trains two) forces a Janino
    // recompile of a 1000-node method — measured slower than the
    // interpretation it replaced). A mapPartitions while-loop holds
    // the m × ks × (d/m) codebook as plain arrays and encodes each
    // vector in registers: the SAME left fold 0.0 + (x₀-c₀)² + … per
    // distance (bit-identical doubles) and strict-< ascending scan
    // (ties keep the smaller code — the old struct-min rule). Encode
    // is one pass over the vectors, zero joins, zero shuffles, no
    // per-codebook compilation.
    val spark = unit.sparkSession
    import spark.implicits._
    val cb: Array[Array[Array[Double]]] =
      Array.tabulate(pqSubspaces)(s => bySub(s).map(_.toArray).toArray)
    val (m, sd) = (pqSubspaces, pqSubDim)
    unit.select(col("id"), col("v")).as[(Long, Seq[Double])]
      .mapPartitions { it =>
        it.map { case (id, v) =>
          val codes = new Array[Int](m)
          var s = 0
          while (s < m) {
            val cbs = cb(s)
            var best = 0
            var bestD = Double.MaxValue
            var c = 0
            while (c < cbs.length) {
              val cv = cbs(c)
              var d = 0.0
              var j = 0
              while (j < sd) { val t = v(s * sd + j) - cv(j); d += t * t; j += 1 }
              if (d < bestD) { bestD = d; best = c } // strict <: ties keep the smaller code
              c += 1
            }
            codes(s) = best
            s += 1
          }
          (id, codes.toSeq)
        }
      }.toDF("id", "codes")
  }

  def pqIndex(spark: SparkSession, dir: String, unit: DataFrame,
              counter: java.util.concurrent.atomic.AtomicInteger = pqBuildCount): PqIndex = {
    import spark.implicits._
    val fp = corpusFingerprint(unit, "id", Seq(col("v")))
    pqCache.get(dir) match {
      case Some((cachedFp, idx)) if cachedFp == fp => return idx
      case _ => ()
    }
    val root = graft.core.IndexStore.buildOrLoad(
        PqFamily, dir, fp, Seq("codebook", "codes"), counter) { root =>
      val cb = pqTrain(spark, unit)
      cb.toDF("sub", "code", "cvec").coalesce(1).write.mode("overwrite")
        .parquet(root.resolve("codebook").toString)
      pqEncode(unit, cb)
        .write.mode("overwrite").parquet(root.resolve("codes").toString)
      // a retrain supersedes the codebook any incremental batches were
      // encoded against — their appended codes go with it
      Appendix(root.resolve("codes_inc").toString).clear()
    }
    val built = PqIndex(loadCodebook(spark, root), root.resolve("codes").toString)
    pqCache.put(dir, (fp, built))
    built
  }

  /** Deserialize a persisted codebook in (sub, code) order — the one
    * place that defines the driver-resident layout [[pqProbeLuts]]
    * indexes positionally. */
  private def loadCodebook(spark: SparkSession,
                           root: java.nio.file.Path): Seq[(Int, Int, Seq[Double])] = {
    import spark.implicits._
    spark.read.parquet(root.resolve("codebook").toString)
      .as[(Int, Int, Seq[Double])].collect().sortBy(t => (t._1, t._2)).toSeq
  }

  /** Q17j — PQ-ADC search with exact re-rank (the FAISS
    * `IVF?,PQ8x4 + refine` recall recipe, relationally): each probe
    * precomputes its m×ks lookup table (probe subvector · code
    * centroid — computed driver-side from the driver-resident codebook
    * and 10 collected probe vectors, all bounded by probe count, never
    * the corpus), then every corpus vector scores as m array lookups
    * over its 8-byte code — `aggregate(sequence(...))` over
    * `element_at`, no f64 vector is read in the scan. The ADC top-[[pqShortlist]]
    * shortlist per probe (bounded [[rankedTopK]] — never a full sort) is re-ranked with exact cosine,
    * touching full vectors for ≤ probes×shortlist rows. Rows-only by design
    * (codebooks are k-means artifacts); recall vs exact q17 is pinned
    * in RetrievalSpec and stamped into the bench artifact.
    *
    * At 100 TB: the scan side reads 8-byte codes (64× less bandwidth
    * than f64), the LUT is a plan literal like the q15g bloom mask, and
    * the re-rank is a broadcast semi-join on shortlist ids — the only
    * touch of full-precision data. */
  def q17jPqTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = normalized(spark, dir)
    val unit = emb.select(col("vec_id").as("id"),
      graft.operators.SimilarityQueries.unitize(col("v"), col("nrm")).as("v"))
    val pq = pqIndex(spark, dir, unit)
    pqSearch(spark, emb, unit, pq, Tables.readParquet(spark, pq.codesPath))
  }

  /** Exhaustive PQ-ADC search over a code table (ADC shortlist via the
    * bounded top-k aggregator → exact re-rank) — shared by q17j (the
    * query-serving index) and q17l (the ingest loop's composed view). */
  def pqSearch(spark: SparkSession, emb: DataFrame, unit: DataFrame,
               pq: PqIndex, codes: DataFrame,
               shortlistDepth: Int = pqShortlist): DataFrame = {
    val luts = pqProbeLuts(spark, unit, pq)
    // exhaustive ADC: every code row × every probe LUT
    val scored = codes.join(broadcast(luts), col("id") =!= col("probe"))
      .select(col("probe"), col("id"), pqAdcScore.as("score"))
    val shortlist = rankedTopK(scored, shortlistDepth, "adc")
      .select(col("probe_id"), col("neighbor_id"))
    pqExactRerank(emb, shortlist)
  }

  /** q17j at an explicit ADC shortlist depth — the bench's
    * recall/latency KNOB CURVE entry point (VERDICT r13 #7): serving
    * decisions need the depth→recall curve, not one operating point;
    * the persisted index is untouched (depth is a query-time knob). */
  def q17jPqTopKAt(spark: SparkSession, dir: String, shortlistDepth: Int): DataFrame = {
    val emb = normalized(spark, dir)
    val unit = emb.select(col("vec_id").as("id"),
      graft.operators.SimilarityQueries.unitize(col("v"), col("nrm")).as("v"))
    val pq = pqIndex(spark, dir, unit)
    pqSearch(spark, emb, unit, pq, Tables.readParquet(spark, pq.codesPath), shortlistDepth)
  }

  // ---- PQ ingest lifecycle (train-on-base / encode-delta / retrain) ---

  /** Builds of the INGEST-LOOP-scoped PQ copy (q17l) — separate counter
    * so the bench's `index_builds` audit distinguishes the loop's
    * lifecycle (one base train + one growth retrain per staged replay)
    * from the query-serving q17j index. */
  val pqIngestBuildCount = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Encode a DELTA of (id, v) unit vectors against the EXISTING
    * codebook — the FAISS add()-vs-train() split for PQ: a growing
    * corpus does not retrain codebooks per batch; new vectors quantize
    * against the frozen subspace centroids at O(|delta| × m × ks), the
    * standing codes are never touched. Codes land under
    * `<codesPath>_inc/batch_id=N` (overwrite = retry-idempotent, the
    * standard accept pattern); a retrain clears the appendix (those
    * codes index a codebook that no longer exists). */
  def pqEncodeIncremental(pq: PqIndex,
                          delta: DataFrame, batchId: Long): Unit =
    Appendix(s"${pq.codesPath}_inc").accept(pqEncode(delta, pq.codebook), batchId)

  /** The composed code view: persisted base codes ∪ incrementally
    * encoded batches (with no readable appendix it is exactly the base
    * table). */
  def pqComposedCodes(spark: SparkSession, pq: PqIndex): DataFrame = {
    val base = Tables.readParquet(spark, pq.codesPath).select("id", "codes")
    Appendix(s"${pq.codesPath}_inc").read(spark, Seq("id", "codes"))
      .fold(base)(base.unionAll)
  }

  /** The PQ retrain policy — [[maybeRetrain]]'s twin for codebooks:
    * when the encoded appendix exceeds [[RetrainGrowth]] × base rows, the
    * quantization error of appendix vectors (scored against centroids
    * trained without them) matters enough to refit — retrain over the
    * GROWN corpus through the standard build-or-load path (fingerprint
    * differs → rebuild; the build clears `codes_inc`, re-encoding every
    * vector against the fresh codebook). Below threshold: a footer-count
    * metadata check, nothing touched. Offline-slot contract as all
    * maintenance ops. */
  def maybePqRetrain(spark: SparkSession, key: String, pq: PqIndex,
                     unitAll: DataFrame): Boolean =
    outgrown(spark, pq.codesPath) && { pqIndex(spark, key, unitAll, pqIngestBuildCount); true }

  /** Q17l's query step: the q17j search answered from the LOOP-
    * maintained PQ index under its own store key — the composed
    * base ∪ appendix code view. After the post-drain growth retrain
    * the appendix is empty and the codebook is trained over the grown
    * (= full) corpus; deterministic training then makes the drained
    * result byte-identical to q17j's batch-built index, which the spec
    * pins as the loop's correctness contract. */
  def q17lAfterIngest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = normalized(spark, dir)
    val unit = emb.select(col("vec_id").as("id"),
      graft.operators.SimilarityQueries.unitize(col("v"), col("nrm")).as("v"))
    // load the loop index's CURRENT on-disk state as-is (base ∪
    // appendix mid-stream; retrained-full after the policy fires) —
    // deliberately NOT the fingerprint-keyed builder, which would
    // rebuild over whatever unit the caller passed and destroy the
    // ingest state it is supposed to be reading
    val root = graft.core.IndexStore.root(PqFamily, dir + "#pqingest")
    val idx = PqIndex(loadCodebook(spark, root), root.resolve("codes").toString)
    pqSearch(spark, emb, unit, idx, pqComposedCodes(spark, idx))
  }

  /** The per-probe ADC lookup tables as a local (probe, lut) frame:
    * lut[sub][code] = probe_sub · cvec, computed DRIVER-side from the
    * driver-resident codebook and the collected probe vectors — both
    * bounded by probe count / codebook size, never the corpus. */
  private def pqProbeLuts(spark: SparkSession, unit: DataFrame, pq: PqIndex): DataFrame = {
    import spark.implicits._
    val probeVecs = unit.where(col("id") < 10).collect()
      .map(r => (r.getAs[Number](0).longValue, r.getSeq[Double](1))).sortBy(_._1)
    val cbBySub = pq.codebook.groupBy(_._1)
    probeVecs.map { case (pid, pv) =>
      val lut: Seq[Seq[Double]] = (0 until pqSubspaces).map { s =>
        val psub = pv.slice(s * pqSubDim, (s + 1) * pqSubDim)
        cbBySub(s).sortBy(_._2).map { case (_, _, cvec) =>
          psub.zip(cvec).map { case (a, b) => a * b }.sum
        }
      }
      (pid, lut)
    }.toSeq.toDF("probe", "lut")
  }

  /** ADC score = Σ_s lut[s][code_s] — m `element_at` lookups per row
    * over the joined (lut, codes) columns; no f64 vector touched.
    * UNROLLED (guide §4): the former `aggregate(sequence(…))` wrapper
    * is CodegenFallback (interpreted per row over the whole code
    * scan); the explicit m-term chain is the same left fold
    * 0.0 + lut[1][…] + … — bit-identical doubles, whole-stage
    * codegen. */
  private def pqAdcScore: Column =
    (1 to pqSubspaces).map(s =>
        element_at(element_at(col("lut"), s), element_at(col("codes"), s) + 1))
      .foldLeft(lit(0.0))(_ + _)

  /** Exact cosine re-rank of a (probe_id, neighbor_id) shortlist: the
    * shortlist (with its probe vectors attached — ≤ probes×shortlist
    * rows) broadcasts against the corpus scan, so full-precision
    * vectors stream past exactly once and only matches surface. */
  private def pqExactRerank(emb: DataFrame, shortlist: DataFrame): DataFrame = {
    val ep = emb.select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pn"))
    val withPv = shortlist.join(ep, "probe_id")
    val exact = emb
      .select(col("vec_id").as("neighbor_id"), col("v").as("cv"), col("nrm").as("cn"))
      .join(broadcast(withPv), "neighbor_id")
      .select(col("probe_id").as("probe"), col("neighbor_id").as("id"),
        (dot(col("pv"), col("cv")) / (col("pn") * col("cn"))).as("score"))
    rankedTopK(exact, 5, "cos_sim")
  }

  /** Q17k — IVF×PQ (the full FAISS `IVF√N,PQ8x4 + refine` composition):
    * candidate lists from the persisted IVF coarse quantizer (sublinear
    * — ~nprobe/k of the corpus per probe), scored by ADC over the
    * persisted 8-byte PQ codes (64× less bandwidth than f64), exact
    * re-rank of the bounded shortlist. This is the configuration that
    * actually serves billion-vector search: BOTH the candidate
    * generator and the scorer are sublinear/compressed, and the only
    * full-precision touch is the ≤ probes×shortlist re-rank. Rows-only
    * like the other ANN rows; recall vs exact q17 pinned in spec and
    * stamped into the bench artifact. */
  def q17kIvfPqTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = normalized(spark, dir)
    val unit = emb.select(col("vec_id").as("id"),
      graft.operators.SimilarityQueries.unitize(col("v"), col("nrm")).as("v"))
    val ivf = ivfCentroids(spark, dir, unit)
    val pq = pqIndex(spark, dir, unit)
    val codes = Tables.readParquet(spark, pq.codesPath)
    val luts = pqProbeLuts(spark, unit, pq)

    // ADC over candidates only: the code table joins the (bounded)
    // candidate set, each row scores as m array lookups
    val scored = ivfCandidates(spark, unit, ivf)
      .join(codes, "id")
      .join(broadcast(luts), col("probe_id") === col("probe"))
      .select(col("probe"), col("id"), pqAdcScore.as("score"))
    val shortlist = rankedTopK(scored, pqShortlist, "adc")
      .select(col("probe_id"), col("neighbor_id"))
    pqExactRerank(emb, shortlist)
  }

  /** Shortlist depth for the binary rung: the XOR+POPCNT first pass is
    * so cheap that a 3× deeper shortlist than PQ's costs nothing
    * measurable, while the exact re-rank stays bounded at
    * probes × [[binaryShortlist]] rows — the lever (with the 128-bit
    * codes) that lifted recall off r11's 0.48 (VERDICT r11 #7). */
  val binaryShortlist = 3 * pqShortlist

  /** Q17m — BINARY (sign-bit) quantization search, completing the
    * compression ladder f64 → int8 (q17e) → PQ8x4 (q17j) → 1-bit
    * projections: each unit vector packs to
    * [[graft.functions.HyperplaneLsh.BinaryWords]] 64-bit words of
    * Gaussian-hyperplane sign bits (the `sign_words` codegen
    * expression), candidate scoring is Σ `bit_count(xor)` over the
    * words — one XOR+POPCNT per word per pair, the cheapest similarity
    * primitive there is and the reason binary embeddings serve
    * billion-scale first-pass retrieval at 32× less bandwidth than
    * f64. 128 projected bits (not 64 raw coordinate signs) halve the
    * Hamming angle-estimate variance, and the widened
    * [[binaryShortlist]] feeds the standard bounded exact re-rank (the
    * q17j recipe) — both levers from VERDICT r11 #7. At 100 TB the
    * 16-byte codes persist exactly like the PQ code table; the
    * derivation is shown inline because it costs one projection.
    * Rows-only (sign quantization is lossy); recall vs exact q17
    * stamped in the bench artifact and floored in spec. */
  def q17mBinaryHammingTopK(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.HyperplaneLsh.ensureRegistered(spark)
    val emb = normalized(spark, dir)
    // MATERIALIZE the normalized array before the packing projection
    // (the tokens() performance-contract trap: ProjectCollapse would
    // inline the normalize-transform into the code derivation)
    val unit = emb.select(col("vec_id").as("id"),
      graft.operators.SimilarityQueries.unitize(col("v"), col("nrm")).as("v"))
      .repartition(spark.sparkContext.defaultParallelism)
    // second barrier: the code table the pair join reads is computed
    // once per corpus row, not once per (candidate, probe) pair — the
    // exchange stands in for the persisted code table the PQ family
    // keeps on disk
    val codes = unit.select(col("id"),
        call_function(graft.functions.HyperplaneLsh.signWordsFnName,
          col("v")).as("words"))
      .repartition(spark.sparkContext.defaultParallelism)
    val probes = codes.where(col("id") < 10)
      .select(col("id").as("probe"), col("words").as("pwords"))
    val scored = codes.join(broadcast(probes), col("id") =!= col("probe"))
      .select(col("probe"), col("id"),
        (-aggregate(
          zip_with(col("words"), col("pwords"),
            (a, b) => call_function("bit_count", a.bitwiseXOR(b))),
          lit(0L), (acc, x) => acc + x).cast("double")).as("score"))
    val shortlist = rankedTopK(scored, binaryShortlist, "negham")
      .select(col("probe_id"), col("neighbor_id"))
    pqExactRerank(emb, shortlist)
  }

  /** Top-`k` `(probe, id, score)` rows per probe as `(probe_id,
    * neighbor_id, rank, <scoreName>)`, ranked by score desc then id asc,
    * score rounded to 6dp. Spark's bounded `CollectTopK` keeps the `k`
    * smallest `(-score, id)` keys per probe per partition, so only `k`
    * rows per probe cross the shuffle. `NaN` ranks last. Spark orders
    * `-0.0` equal to `0.0`, so the two tie and id breaks the tie; no
    * ranker gives one probe zeros of both signs (a zero sum that starts
    * from `0.0` is `+0.0`, divided by positive norms it stays so, and
    * `negham` negates every distance). A null score has no rank and is
    * dropped. */
  private[graft] def rankedTopK(scored: DataFrame, k: Int, scoreName: String): DataFrame = {
    val score = col("score").cast("double")
    val key = struct((-score).as("neg"), col("id").cast("long").as("id"))
    scored.where(score.isNotNull)
      .groupBy(col("probe").cast("long").as("probe_id"))
      .agg(GraftAggShim.collectBottomK(key, k).as("topk"))
      .select(col("probe_id"), posexplode(col("topk")))
      .select(
        col("probe_id"),
        col("col.id").as("neighbor_id"),
        (col("pos") + 1).cast("long").as("rank"),
        round(-col("col.neg"), 6).as(scoreName))
      .orderBy("probe_id", "rank")
  }

  /** Shared exact-cosine search head behind q17/q17g: probes = vec_id
    * < 10 (never candidate-filtered), candidates optionally restricted
    * by a metadata predicate BEFORE scoring so it reaches the parquet
    * scan. Broadcast probes × bounded top-k — the q17 plan. */
  private def cosineTopK(spark: SparkSession, dir: String,
                         candidateFilter: Option[Column]): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
              col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))

    val probes = emb.select(
      col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pnrm"))
      .where(col("probe_id") < 10)

    val cands = candidateFilter.fold(emb)(emb.where)
    val scored = cands.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .select(
        col("probe_id").as("probe"),
        col("vec_id").as("id"),
        (dot(col("v"), col("pv")) / (col("nrm") * col("pnrm"))).as("score"))

    rankedTopK(scored, 5, "cos_sim")
  }

  /** Q17 — for probe vectors vec_id < 10: top-5 cosine neighbors,
    * tie-break by neighbor id, scores rounded to 6dp for cross-engine
    * hash stability. */
  def q17CosineTopK(spark: SparkSession, dir: String): DataFrame =
    cosineTopK(spark, dir, candidateFilter = None)

  /** Q17g — FILTERED similarity search: top-5 cosine neighbors among
    * candidates satisfying a metadata predicate (`label = 3`), the
    * vector-database feature every RAG/retrieval stack needs next to
    * plain top-k. The predicate applies BEFORE scoring — it reaches the
    * candidate parquet scan (pinned in PlanShapeSpec), so selective
    * filters shrink the scoring set instead of under-filling k the way
    * post-filtering a plain top-k result would. Same broadcast-probe +
    * bounded-top-k plan as q17; at 100 TB the same predicate prunes
    * label-partitioned files before a byte of vector data is read. */
  def q17gFilteredTopK(spark: SparkSession, dir: String): DataFrame =
    cosineTopK(spark, dir, candidateFilter = Some(col("label") === 3))

  // ---- clustered synthetic corpus (the second recall fixture) --------

  val clusteredBuildCount = new java.util.concurrent.atomic.AtomicInteger(0)
  private val ClusteredFamily = "graft-ann-clustered"
  private val ClusteredN = 8192
  private val ClusteredDims = 64
  private val ClusteredK = 64

  /** A CLUSTERED synthetic embedding corpus (VERDICT r12 #6): every
    * per-round recall stamp so far was measured on the testdata
    * embeddings, which behave like uniform random vectors — PQ's and
    * binary-sign's WORST case (no subspace structure to quantize) and
    * unrepresentative of real model embeddings, which cluster. This
    * fixture is a hash-seeded mixture: 64 centers uniform in
    * [-1,1]^64, each point = its center + small per-dim noise (sum of
    * two hash-uniforms ≈ triangular, CLT-ish), all via codegen'd
    * `xxhash64` expressions — fully deterministic across JVMs and
    * rounds (no RNG state), generated distributed (spark.range), and
    * written ONCE under the index store as a standard `embeddings
    * .parquet` table, so every ANN rung runs against it UNCHANGED via
    * its `dir` parameter (indexes build per-dir like any corpus). The
    * bench stamps a second recall row per rung on it; the structured
    * case is where IVF/PQ should shine (expect ≥0.9), making the
    * ladder's recall story representative instead of worst-case-only. */
  def clusteredEmbeddingsDir(spark: SparkSession): String = {
    val fp = s"v1:$ClusteredN:$ClusteredDims:$ClusteredK"
    val root = graft.core.IndexStore.buildOrLoad(
        ClusteredFamily, "synthetic", fp,
        Seq("embeddings.parquet"), clusteredBuildCount) { r =>
      val d = ClusteredDims
      spark.range(ClusteredN.toLong)
        .select(col("id").as("vec_id"), (col("id") % ClusteredK).as("c"))
        .select(
          col("vec_id"),
          expr(
            s"""transform(sequence(0, ${d - 1}), dd -> cast(
               |  (cast(pmod(xxhash64(c * $d + dd), 2000) as double) / 1000.0 - 1.0)
               |  + (cast(pmod(xxhash64(vec_id * $d + dd + 999983), 2000) as double) / 1000.0 - 1.0) * 0.09
               |  + (cast(pmod(xxhash64(vec_id * $d + dd + 777797), 2000) as double) / 1000.0 - 1.0) * 0.09
               | as float))""".stripMargin).as("embedding"),
          (col("c") % 10).cast("int").as("label"))
        .coalesce(4)
        .write.mode("overwrite").parquet(r.resolve("embeddings.parquet").toString)
      // a REBUILD of the same path must invalidate the session's shared
      // file-status cache, or later scans chase the superseded part
      // files (FAILED_READ_FILE.FILE_NOT_EXIST)
      spark.catalog.refreshByPath(r.resolve("embeddings.parquet").toString)
    }
    root.toString
  }
}
