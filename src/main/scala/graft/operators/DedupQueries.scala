package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.TextFunctions._

/** Deduplication operators for the LLM-data pipeline (SURVEY.md §2.3 Q16).
  *
  * Exact dedup = hash-groupBy on content (one shuffle keyed by the text —
  * at 100 TB group on a content digest to keep shuffle rows narrow).
  *
  * Near-dup = MinHash + banded LSH, the scale path: signatures are
  * computed per-row (no shuffle), candidate pairs come ONLY from
  * band-bucket joins (never all-pairs — all-pairs Jaccard is O(n²) and
  * dead at 100 TB), and the exact Jaccard filter runs on candidates only.
  * All hash seeds are fixed → deterministic output.
  */
object DedupQueries {

  /** Q16 — exact dedup: deterministic representative (min doc_id) +
    * multiplicity per distinct content.
    *
    * The shuffle key is a (xxhash64, md5) content digest — ~24 bytes —
    * not the text itself: at 100 TB a `groupBy(text)` shuffle carries
    * every byte of the corpus across the network, a digest key carries
    * only fingerprints. Two documents agree on both digests (192
    * independent bits) only by a ~2^-96 accident, far below any
    * practical corpus's birthday bound. */
  def q16ExactDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .groupBy(xxhash64(col("text")).as("h64"), md5(col("text")).as("h128"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "n_copies")
      .orderBy("doc_id")

  /** Library surface: normalized dedup with a KEEP-BEST policy over any
    * (doc_id, text) frame. Documents that agree after canonicalization
    * (trim, lowercase, collapse internal whitespace) form one group,
    * and the survivor is chosen by QUALITY — longest original text
    * wins, doc_id breaks ties — not q16's arbitrary min-id. This is the
    * production "canonical document selection" step: near-identical
    * crawls differ in case/spacing, and the pipeline keeps the richest
    * copy, deterministically.
    *
    * Same scale shape as q16: the shuffle key is a digest OF THE
    * NORMALIZED text (never the text itself), and the keep-best argmax
    * rides the same single shuffle as a `max(struct(quality, -id))`
    * partial aggregate — no window function, no second pass, map-side
    * combine intact. (The normalization regex sticks to `\s`'s common
    * Java∩RE2 subset — the q18k cross-engine contract.) */
  def keepBestDedup(docs: DataFrame): DataFrame = {
    val norm = lower(trim(regexp_replace(col("text"), "\\s+", " ")))
    docs
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
              xxhash64(norm).as("h64"), md5(norm).as("h128"))
      .groupBy("h64", "h128")
      .agg(max(struct(col("n_chars").as("q"), (-col("doc_id")).as("negid"))).as("best"),
           count(lit(1)).as("n_members"))
      .select((-col("best.negid")).as("doc_id"), col("best.q").as("n_chars"),
              col("n_members"))
  }

  /** Planted fixture for q16h (the q16e `plantedEmbeddings` pattern —
    * the raw corpus has zero case/whitespace variants at any SF, so the
    * raw-corpus row would be vacuous): every 10th document gains a
    * SHOUTED twin at doc_id+2000000 — uppercased, every space doubled.
    * The twin canonicalizes to the same normalized text but is LONGER,
    * so keep-best must select the twin over the original — the policy
    * provably differs from min-id dedup on every planted group, and the
    * oracle hash-checks that. Both engines build the same fixture. */
  def casedVariants(docs: DataFrame): DataFrame = {
    val base = docs.select("doc_id", "text")
    val twins = base.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
              regexp_replace(upper(col("text")), " ", "  ").as("text"))
    base.unionByName(twins)
  }

  /** Q16h — keep-best normalized dedup over the planted-variant corpus. */
  def q16hKeepBest(spark: SparkSession, dir: String): DataFrame =
    keepBestDedup(casedVariants(Tables.load(spark, dir, "documents")))
      .orderBy("doc_id")

  // ---- MinHash-LSH machinery ------------------------------------------

  val numHashes = graft.functions.MinHash.NumHashes
  val bandRows  = 4
  val numBands  = numHashes / bandRows // 32 bands → P(candidate | J=0.8) ≈ 1 - 5e-8

  /** MinHash signatures of a (doc_id, sh: array<string>) frame via the
    * native single-pass expression [[graft.functions.MinHashSig]] — a
    * pure map stage: no explode, no 128-column aggregate, no shuffle.
    * (History: r2 used explode + 128 min() aggregates — correct but the
    * per-aggregate update overhead over millions of exploded shingle
    * rows dominated the whole bench suite; a typed Aggregator was 5×
    * worse again. The expression computes all minima in one tight loop
    * per document.) Callers pre-filter zero-shingle docs. */
  def minhashSignatures(docShingles: DataFrame): DataFrame = {
    graft.functions.MinHash.ensureRegistered(docShingles.sparkSession)
    docShingles.select(col("doc_id"), call_function(graft.functions.MinHash.sigFnName, col("sh")).as("sig"))
  }

  /** Band keys: signature sliced into numBands rows-of-bandRows, each
    * band hashed to one long key (band index disambiguates; a band-key
    * hash collision can only add a false candidate, which exact
    * verification removes — so 8-byte keys are safe and shuffle far
    * less than the r2 string keys). `sig` must be a materialized
    * attribute (tree-duplication contract, see TextFunctions.tokens). */
  def bandKeys(sig: Column): Column =
    array((0 until numBands).map { b =>
      xxhash64(lit(b) +: (0 until bandRows).map(r => element_at(sig, b * bandRows + r + 1)): _*)
    }: _*)

  /** Skew guard (the 100 TB caveat this file carried since r4): a band
    * bucket of n docs yields O(n²) candidate pairs inside one join
    * task — one pathological bucket (boilerplate headers, empty docs,
    * template spam) can dominate the whole join. Buckets whose
    * ESTIMATED size exceeds [[SkewBucketCap]] are dropped pre-join.
    *
    * The estimate comes from a deterministic 1/[[SkewSampleMod]]
    * doc-hash sample (pure plan — the guard also runs inside the
    * optimizer-spliced [[graft.plans.SimilarityJoin]] lowering, so it
    * cannot execute jobs): sampling costs ~1% of one signature pass,
    * and a bucket at the cap contributes ~cap/mod = 100 sampled rows —
    * far above Poisson noise. Semantics: members of a dropped bucket
    * can still pair through their other numBands-1 bands; a cluster
    * big enough to trip the cap is EXACT-duplicate-grade mass that the
    * digest dedup (q16) removes upstream — run exact dedup first, as
    * any production pipeline does. Drop visibility: [[hotBuckets]] is
    * the monitoring surface (count it to alert). */
  val SkewBucketCap = 10000
  val SkewSampleMod = 100

  /** Buckets of `withBands` (doc_id, band) whose estimated population
    * exceeds `cap` — the guard's observable monitoring surface. */
  def hotBuckets(withBands: DataFrame, cap: Int, sampleMod: Int): DataFrame =
    withBands
      .where(pmod(xxhash64(col("doc_id")), lit(sampleMod)) === 0)
      .groupBy("band").agg(count(lit(1)).as("n_sampled"))
      .where(col("n_sampled") * sampleMod > cap)
      .select(col("band").as("hot_band"))

  /** Signature-agreement slack for the candidate screen: MinHash position
    * agreement is an unbiased Jaccard estimator with sd ≤
    * sqrt(0.25/numHashes) ≈ 0.044, so screening at threshold−0.2 is a
    * ≥4.5σ margin — a true pair at exactly the threshold fails the
    * screen with p ≈ 1e-8 (and the fixed seeds make any given corpus
    * deterministic anyway). */
  val screenSlack = 0.2

  /** Generic MinHash-LSH near-dup pipeline. `raw` carries doc_id plus
    * whatever source columns `sigCol` (signature expression) and
    * `payloadCol` need; `jacOf` computes the exact Jaccard of two
    * payloads (array formula for shingle arrays, or a pairwise native
    * expression such as [[graft.functions.CharNgramJaccard]]).
    *
    * Plan shape, built for 100 TB:
    *  1. signatures: pure map over a round-robin repartition (explicit
    *     count — AQE would coalesce a column-only repartition and starve
    *     the CPU-bound stage);
    *  2. candidates: explode 32 band keys/doc, self-join keyed by band —
    *     the one shuffle that replaces the O(n²) cross product (skew
    *     guard at scale: cap pathological bucket sizes pre-join);
    *  3. screen: banding alone is a high-recall/low-precision net — on
    *     char-shingled prose most of the corpus shares enough common
    *     shingles to co-bucket somewhere (measured: 261k candidates for
    *     256 true pairs at sf0.1). Before touching any shingle array,
    *     estimate Jaccard from the signatures already in hand (128 long
    *     comparisons per pair; sigs arrive via doc-id-keyed shuffled
    *     hash joins — never broadcast, the sig table is corpus-sized)
    *     and keep pairs with agreement ≥ threshold−slack;
    *  4. exact verification: Jaccard over the shingle sets, joined from
    *     per-doc shingle frames, only for the screened survivors.
    *
    * Each stage is referenced exactly once downstream — a DataFrame
    * subtree referenced from N join sides is recomputed N times (no
    * auto-CSE across joins; measured 45 s vs 6 s on q16d when the
    * candidate subtree leaked into both verification sides via a
    * semi-join). At 100 TB you would materialize the screened pairs and
    * semi-join the corpus instead of joining full per-doc shingle
    * frames; in-plan, full frames + tiny screened side is the shape
    * that avoids the duplication. Output = (doc_i, doc_j, jac). */
  def nearDupPairs(raw: DataFrame, sigCol: Column, payloadCol: Column,
                   jacOf: (Column, Column) => Column, threshold: Double,
                   bucketCap: Int = SkewBucketCap,
                   skewSampleMod: Int = SkewSampleMod): DataFrame =
    lshPairs(probe = raw, build = raw, probeName = "doc_i", buildName = "doc_j",
      sigCol = sigCol, payloadCol = payloadCol, jacOf = jacOf,
      threshold = threshold, orderedPairs = true,
      bucketCap = bucketCap, skewSampleMod = skewSampleMod)

  /** The shared LSH core behind [[nearDupPairs]] (symmetric: probe =
    * build = the corpus, pairs ordered `probe < build`) and
    * [[nearDupPairsAcross]] (asymmetric: an incoming batch probes the
    * standing corpus, all cross pairs kept).
    *
    * Stage notes, built for 100 TB:
    *  - skew guard: anti-join away pathological buckets before the band
    *    join. The hot list is tiny by construction — broadcast it; the
    *    sampled counting branch's doc-hash filter pushes below the
    *    signature projection, so it prices at ~1/sampleMod of a
    *    signature pass. Both sides are guarded: a band with no build
    *    rows already produces no pairs, but leaving the probe-side copy
    *    in place would still shuffle its exploded rows into the join —
    *    the anti-join removes that cost, not any output.
    *  - screen BEFORE the pair-dedup: the aggregate then compacts a few
    *    hundred survivors instead of shuffling every co-bucket pair.
    *    The sig lookups are shuffled hash joins BY HINT, not
    *    broadcasts: the signature table is corpus-sized (~1 KB/doc) —
    *    broadcasting it ships the whole corpus's signatures to every
    *    executor and OOMs at billions of docs, while a shuffle join
    *    moves each side exactly once, partitioned by doc id. Hash beats
    *    sort-merge here (no sort of either side; measured ~20% on
    *    q16b/q16d), and the per-task build side is sigs/numPartitions —
    *    bounded by sizing the shuffle.
    *  - pair-dedup as an explicit aggregate (not .distinct(): this
    *    subtree is also assembled inside the optimizer by
    *    ExpandSimilarityJoin, after ReplaceDeduplicateWithAggregate has
    *    already run — a Deduplicate node introduced there would reach
    *    the planner unreplaced; the unused count is pruned). */
  private def lshPairs(probe: DataFrame, build: DataFrame,
                       probeName: String, buildName: String,
                       sigCol: Column, payloadCol: Column,
                       jacOf: (Column, Column) => Column, threshold: Double,
                       orderedPairs: Boolean,
                       bucketCap: Int, skewSampleMod: Int,
                       buildIndex: Option[BandIndex] = None): DataFrame = {
    val spark = probe.sparkSession
    // register on BOTH input sessions: inside a foreachBatch the probe
    // rides the micro-batch CLONE session while the standing corpus /
    // index frames ride the outer one — the assembled plan analyzes
    // against whichever session the final Dataset inherits (the LEFT
    // side's), so a single-session registration can miss (caught by
    // StreamingParitySpec when the asym join order flipped in r21)
    Seq(spark, build.sparkSession).distinct.foreach { s =>
      graft.functions.MinHash.ensureRegistered(s)
      graft.functions.VecOps.ensureRegistered(s)
    }
    val par = spark.sparkContext.defaultParallelism
    val sigP = probe.repartition(par).select(col("doc_id"), sigCol.as("sig"))
    // the build side's signatures/bands come from the PERSISTED index
    // when the caller has one (incremental ingestion: the standing
    // corpus is signed once, not once per batch)
    val sigB = buildIndex.map(_.sigs)
      .getOrElse(build.repartition(par).select(col("doc_id"), sigCol.as("sig")))
    val bandsB = buildIndex.map(_.bands)
      .getOrElse(sigB.select(col("doc_id"), explode(bandKeys(col("sig"))).as("band")))
    // guard BOTH sides: a hot band dropped from the build side already
    // matches nothing, but its probe-side copy would still explode and
    // shuffle into the band join — anti-join it away there too
    // (ADVICE r6 #2). The two references to `hot` recompute the sampled
    // counting branch twice (the no-cross-join-CSE rule) — deliberate:
    // each costs ~1/sampleMod of a signature pass, far cheaper than
    // shuffling a pathological band's exploded rows.
    val hot = broadcast(hotBuckets(bandsB, bucketCap, skewSampleMod))
    val guarded = bandsB.join(hot, col("band") === col("hot_band"), "left_anti")
    val bandsP = sigP.select(col("doc_id").as(probeName), explode(bandKeys(col("sig"))).as("band"))
      .join(hot, col("band") === col("hot_band"), "left_anti")
    // ASYMMETRIC (ingest) probes broadcast the BATCH side at every join
    // (round 21, guide §3.1 — the embeddingNearDupAcross discipline,
    // batch-sided broadcasts pinned in PlanShapeSpec): the batch and
    // everything derived from it (bands, candidates, screened pairs,
    // batch sigs/payloads) are bounded by admission control, while the
    // corpus-sized index/payload tables then STREAM from their scans
    // with ZERO exchanges — previously every micro-batch epoch paid
    // band/sig/payload shuffles of corpus-sized tables. The symmetric
    // corpus×corpus path (q16b/q16d) keeps its shuffle shape: there is
    // no bounded side to broadcast.
    val asym = buildIndex.isDefined
    val joined =
      if (asym)
        guarded.select(col("doc_id").as(buildName), col("band"))
          .join(broadcast(bandsP), "band")
      else bandsP.join(guarded.select(col("doc_id").as(buildName), col("band")), "band")
    val candidates =
      (if (orderedPairs) joined.where(col(probeName) < col(buildName)) else joined)
        .select(probeName, buildName)

    val minAgree = math.ceil((threshold - screenSlack) * numHashes).toInt
    val sigPi = sigP.select(col("doc_id").as(probeName), col("sig").as("sig_i"))
    val sigBj = sigB.select(col("doc_id").as(buildName), col("sig").as("sig_j"))
    val screened = {
      val withSigs =
        if (asym)
          broadcast(candidates.join(broadcast(sigPi), probeName)).join(sigBj, buildName)
        else candidates
          .join(sigPi.hint("shuffle_hash"), probeName)
          .join(sigBj.hint("shuffle_hash"), buildName)
      withSigs
        // native sig_agree kernel (round 21, guide §4): the former
        // aggregate(zip_with(…)) screen is CodegenFallback — an
        // interpreted lambda per SIGNATURE POSITION per candidate pair
        // (numHashes × |candidates| interpreted evaluations); the kernel
        // counts agreements in one while-loop with identical padding/null
        // semantics
        .withColumn("agree", call_function(
          graft.functions.VecOps.agreeFnName, col("sig_i"), col("sig_j")))
        .where(col("agree") >= minAgree)
        .groupBy(probeName, buildName).agg(count(lit(1)).as("_c"))
        .select(probeName, buildName)
    }

    val si = probe.select(col("doc_id").as(probeName), payloadCol.as("p_i"))
    val sj = build.select(col("doc_id").as(buildName), payloadCol.as("p_j"))
    val verified =
      if (asym) broadcast(screened.join(broadcast(si), probeName)).join(sj, buildName)
      else screened.join(si, probeName).join(sj, buildName)
    verified
      .withColumn("jac", jacOf(col("p_i"), col("p_j")))
      .where(col("jac") >= threshold)
      .select(probeName, buildName, "jac")
      .orderBy(probeName, buildName)
  }

  /** Incremental-ingestion near-dup: which documents of an INCOMING
    * batch near-duplicate the EXISTING corpus. The production shape for
    * continuous ingestion — the standing corpus's signatures/bands are
    * computed once and persisted (pass `baseIndex`; q16i reads
    * [[baseBandIndex]]'s fingerprint-validated parquet tables), and
    * each arriving batch pays O(batch × bucket-collisions), never the
    * O(corpus²) of re-deduping the world per batch. Same four stages as
    * [[nearDupPairs]], asymmetric: batch bands probe base bands in ONE
    * band-keyed shuffle (skew guard on the base side — the side big
    * enough to grow pathological buckets), signature screen, exact
    * verify. Output = (new_id, old_id, jac ≥ threshold): the incoming
    * doc and the existing content it duplicates (the drop/link list an
    * ingestion pipeline acts on). Both inputs carry (doc_id, columns
    * that `sigCol`/`payloadCol` evaluate over). */
  def nearDupPairsAcross(base: DataFrame, batch: DataFrame,
                         sigCol: Column, payloadCol: Column,
                         jacOf: (Column, Column) => Column, threshold: Double,
                         bucketCap: Int = SkewBucketCap,
                         skewSampleMod: Int = SkewSampleMod,
                         baseIndex: Option[BandIndex] = None): DataFrame =
    lshPairs(probe = batch, build = base, probeName = "new_id", buildName = "old_id",
      sigCol = sigCol, payloadCol = payloadCol, jacOf = jacOf,
      threshold = threshold, orderedPairs = false,
      bucketCap = bucketCap, skewSampleMod = skewSampleMod, buildIndex = baseIndex)

  // ---- persisted band index (the LSH side of the index story) ---------

  /** The standing corpus's MinHash signature + band tables, persisted
    * (VERDICT r6 #6 — the [[SimilarityQueries.ivfCentroids]] pattern's
    * LSH mirror). An ingestion pipeline signs the standing corpus ONCE;
    * every arriving batch (q16i, and q16j's streaming loop) reads
    * `sigs` (doc_id, sig) and `bands` (doc_id, band) from the index
    * instead of re-signing the corpus per batch. At 100 TB both tables
    * live next to the corpus and are appended as batches are accepted;
    * the base slice here is immutable, so build-once is the lifecycle. */
  final case class BandIndex(sigs: DataFrame, bands: DataFrame)

  /** Index builds actually executed in this JVM (observable by tests to
    * prove the disk index is reused rather than rebuilt). */
  val bandBuildCount = new java.util.concurrent.atomic.AtomicInteger(0)
  private val BandFamily = "graft-lsh"
  def clearBandIndexCache(): Unit = graft.core.IndexStore.clearMemo(BandFamily)

  /** Build-or-load the persisted band index of q16i's standing corpus
    * (the base ingestion slice), through the shared
    * [[graft.core.IndexStore]] lifecycle. Fingerprint = row count + id
    * range of the raw base slice (no tokenization on the revalidation
    * path; see IndexStore's scaladoc for the content-edit tradeoff —
    * `graft.index.strict` folds a text content hash into the
    * fingerprint when a deployment mutates corpora in place). */
  def baseBandIndex(spark: SparkSession, dir: String): BandIndex = {
    graft.functions.MinHash.ensureRegistered(spark)
    val fp = SimilarityQueries.corpusFingerprint(
      Tables.load(spark, dir, "documents")
        .where(col("doc_id") % IngestSplitMod =!= IngestSplitRem),
      "doc_id", Seq(col("text")))
    val root = graft.core.IndexStore.buildOrLoad(
        BandFamily, dir, fp, Seq("sigs", "bands"), bandBuildCount) { root =>
      val sigPath = root.resolve("sigs").toString
      val base = wordShingleDocs(spark, dir)
        .where(col("doc_id") % IngestSplitMod =!= IngestSplitRem)
      base.repartition(spark.sparkContext.defaultParallelism)
        .select(col("doc_id"),
                call_function(graft.functions.MinHash.sigFnName, col("sh")).as("sig"))
        .write.mode("overwrite").parquet(sigPath)
      // bands derive from the WRITTEN signatures — one signature pass
      // total, and the band table shuffles nothing (pure map + explode)
      spark.read.parquet(sigPath)
        .select(col("doc_id"), explode(bandKeys(col("sig"))).as("band"))
        .write.mode("overwrite").parquet(root.resolve("bands").toString)
    }
    BandIndex(spark.read.parquet(root.resolve("sigs").toString),
              spark.read.parquet(root.resolve("bands").toString))
  }

  /** q16i's deterministic ingestion slice: `doc_id % IngestSplitMod ==
    * IngestSplitRem` plays the incoming batch (the corpus has no
    * arrival timestamps; the mod split is scale-proportional and
    * identical on both engines). The q16i ORACLE SQL in SparkEntry
    * hard-codes the same 5/4 — change both together. */
  val IngestSplitMod = 5
  val IngestSplitRem = 4

  /** Micro-batch count for the STREAMED ingest replays (q16j/q16k):
    * chunk = doc_id mod IngestChunks, replayed in chunk order. The
    * q16k ORACLE SQL hard-codes the same modulus (its "strictly
    * earlier chunk" condition is `a.doc_id % 3 < b.doc_id % 3`) —
    * change both together. */
  val IngestChunks = 3

  /** Q16i — incremental near-dup against the standing corpus, word-3-
    * shingles at Jaccard ≥ 0.8 (q16b's contract, asymmetric). */
  def q16iIncrementalNearDup(spark: SparkSession, dir: String): DataFrame = {
    // one shared shingling contract with q16b (the doc_id slice filter
    // pushes below the shingle projection; it references no arrays, so
    // the tokens-materialization rule is not at risk)
    def side(keep: Column => Column): DataFrame =
      wordShingleDocs(spark, dir).where(keep(col("doc_id")))
    nearDupPairsAcross(
      base  = side(id => id % IngestSplitMod =!= IngestSplitRem),
      batch = side(id => id % IngestSplitMod === IngestSplitRem),
      sigCol = call_function(graft.functions.MinHash.sigFnName, col("sh")),
      payloadCol = col("sh"),
      jacOf = arrayJaccard, threshold = 0.8,
      // the standing corpus's signatures/bands come from the persisted
      // index (base stays as the exact-verify payload source)
      baseIndex = Some(baseBandIndex(spark, dir)))
  }

  /** Exact Jaccard over two shingle-array payload columns. */
  def arrayJaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Word-3-gram shingle sets of `documents`. Filter on token count
    * BEFORE the shingle projection: ≥3 tokens ⟺ ≥1 shingle, and a
    * `where(size(sh) > 0)` after would be pushed down with the whole
    * shingle tree re-inlined into the Filter (split re-evaluated per
    * element_at — measured 8× slower, interpreted). */
  def wordShingleDocs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("toks")) // materialize: see tokens() scaladoc
      .where(size(col("toks")) >= 3)
      .select(col("doc_id"), shingles(col("toks"), 3).as("sh"))

  /** Q16b — near-dup pairs on word-3-shingles, Jaccard ≥ 0.8.
    *
    * Oracle note: DuckDB computes ground truth all-pairs (feasible at
    * sf0.01's 500 docs); the engine never does — a hash-match therefore
    * also proves the LSH candidate recall was 100% on this corpus. */
  def q16bNearDup(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= 3)
    // declared through the SimilarityJoin logical operator; the
    // optimizer rule lowers it to nearDupPairs' band-join assembly
    graft.plans.SimilarityJoin.wordNearDup(raw, 0.8)
  }

  /** Q16d — near-dup pairs on character-5-gram shingles (robust to
    * token-boundary edits), same LSH machinery, Jaccard ≥ 0.8. The
    * signature never materializes the ~len-per-doc shingle array:
    * [[graft.functions.MinHashCharNgrams]] hashes the char windows in
    * place (zero-allocation for ASCII); only candidate docs get the
    * exact shingle-set treatment. */
  def q16dCharNgramNearDup(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.TextSim.ensureRegistered(spark)
    val raw = Tables.load(spark, dir, "documents")
      .where(length(col("text")) >= 5)
      .select(col("doc_id"), col("text"))
    graft.plans.SimilarityJoin.charNearDup(raw, 0.8)
  }

  // ---- near-dup clusters (connected components) -----------------------

  /** Connected components over an undirected (doc_i, doc_j) pair graph
    * by iterative min-label propagation: rep(x) converges to the
    * smallest doc_id reachable from x. The canonical FINAL step of
    * near-dup dedup at scale — pairs alone over-delete (a~b, b~c must
    * collapse to ONE representative, not two independent drops).
    *
    * Scale posture: the edge list and each iteration's label table are
    * MATERIALIZED to storage (bounded lineage — an unmaterialized loop
    * would re-run the whole LSH pipeline per iteration AND per plan
    * position), exactly how production CC checkpoints iterations; each
    * iteration is two shuffles keyed by node id, state O(nodes in
    * pairs) — never the corpus. Iterations needed = component diameter
    * (near-dup clusters are shallow; `maxIter` is a guard). At
    * billions of edges [[connectedComponentsStar]] (the alternating
    * large-star/small-star variant, same per-round materialized
    * two-shuffle shape) cuts convergence to O(log n) rounds — it is
    * what q16f runs; this diameter-bounded variant stays as the
    * differential-test twin. Returns (node, rep). */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val spark = pairs.sparkSession
    val tmp = graft.core.IndexStore.tempDir("graft-cc").toString
    pairs.write.mode("overwrite").parquet(s"$tmp/edges")
    val e = spark.read.parquet(s"$tmp/edges")
    val edges = e.select(col("doc_i").as("a"), col("doc_j").as("b"))
      .unionAll(e.select(col("doc_j").as("a"), col("doc_i").as("b")))
    var labels = edges.groupBy("a").agg(min("b").as("m"))
      .select(col("a").as("node"), least(col("a"), col("m")).as("rep"))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbr = edges
        .join(labels.select(col("node").as("b"), col("rep").as("nrep")), "b")
        .groupBy("a").agg(min("nrep").as("nrep"))
      // the changed flag rides the same materialized write (one job per
      // iteration, not a separate join+count pass)
      val next = labels.join(nbr, labels("node") === nbr("a"), "left")
        .select(col("node"),
          least(col("rep"), coalesce(col("nrep"), col("rep"))).as("new_rep"),
          (least(col("rep"), coalesce(col("nrep"), col("rep"))) =!= col("rep"))
            .cast("long").as("chg"))
      next.write.mode("overwrite").parquet(s"$tmp/labels_$iter")
      val cur = spark.read.parquet(s"$tmp/labels_$iter")
      converged = cur.agg(sum("chg")).head().getLong(0) == 0L
      labels = cur.select(col("node"), col("new_rep").as("rep"))
      iter += 1
    }
    labels
  }

  /** Alternating large-star/small-star connected components (the
    * published MapReduce CC algorithm family: Kiveris/Lattanzi/Mirrokni/
    * Rastogi/Vassilvitskii, "Connected Components in MapReduce and
    * Beyond", SoCC'14) — the billions-of-edges path [[connectedComponents]]'s
    * scaladoc names. Convergence is O(log n) ROUNDS regardless of
    * component diameter, vs diameter-bounded min-label propagation: a
    * chain of 2^k nodes converges in ~k alternations, not 2^k
    * (measured in DedupSimilaritySpec).
    *
    * Per round, on a canonical (u > v) directed edge set:
    *  - large-star: every strictly-larger neighbor of a node re-points
    *    at the minimum of the node's closed neighborhood;
    *  - small-star: every ≤-neighbor (and the node itself) re-points at
    *    the neighborhood minimum.
    * Each star is a single pass — the per-node minimum rides a
    * node-partitioned window function instead of an aggregate-plus-
    * self-join (which would reference the edge set twice per star: the
    * cross-join CSE trap), so one round = two keyed shuffles + the
    * pair-dedup aggregate, MATERIALIZED to storage once per round
    * exactly like the propagation variant (bounded lineage). A
    * component's fixed point is a star
    * centered at its minimum node, so labels fall out of the final
    * edge list directly. Convergence = edge-set fingerprint (count +
    * xxhash64 sum) stable across a full round; fixed points are
    * provably stable under both stars, so the fingerprint cannot
    * false-converge on a still-moving set (and the randomized
    * differential spec pins it). Returns (node, rep = min reachable),
    * the same contract as [[connectedComponents]]. */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 40): DataFrame =
    connectedComponentsStarWithRounds(pairs, maxIter)._1

  /** [[connectedComponentsStar]] exposing the round count (the spec
    * asserts the log bound on a deep chain graph). */
  def connectedComponentsStarWithRounds(pairs: DataFrame, maxIter: Int = 40): (DataFrame, Int) = {
    import org.apache.spark.sql.expressions.Window
    val spark = pairs.sparkSession
    val tmp = graft.core.IndexStore.tempDir("graft-ccs").toString
    // materialize the input once: the round-1 edge set and the node
    // universe both derive from it (two references to an unmaterialized
    // `pairs` would recompute the upstream LSH pipeline twice)
    pairs.write.mode("overwrite").parquet(s"$tmp/pairs")
    val p = spark.read.parquet(s"$tmp/pairs")
    // round-1 input: self-loops dropped; duplicates are fine (window
    // minima ignore them, the per-round dedup aggregate removes them)
    var edges = p.select(col("doc_i").as("u"), col("doc_j").as("v"))
      .where(col("u") =!= col("v"))
    def fingerprint(e: DataFrame): (Long, String) = {
      // hash sum in decimal(38,0): a long sum would overflow under ANSI
      // arithmetic on a handful of ±2^63-scale hashes
      val r = e.agg(count(lit(1)),
                    coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
                             lit(0).cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getDecimal(1).toBigInteger.toString)
    }
    // sentinel: round 1 always runs; convergence is fingerprint-stable
    // across consecutive rounds
    var fp = (-1L, "")
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxIter) {
      // Both stars as single-pass window forms — no per-node min
      // self-join, no intermediate materialization, ONE write per round
      // (at this stage the tables are cluster-sized but each round is
      // dominated by fixed job cost locally; one job per round is the
      // honest shape at both scales).
      // large-star: every strictly-larger neighbor of a re-points at
      // min(Γ⁺(a)); output rows (b, m) with b > a ≥ m stay canonical.
      val sym = edges.select(col("u").as("a"), col("v").as("b"))
        .unionAll(edges.select(col("v").as("a"), col("u").as("b")))
      val large = sym
        .withColumn("m", least(min(col("b")).over(Window.partitionBy("a")), col("a")))
        .where(col("b") > col("a"))
        .select(col("b").as("u"), col("m").as("v"))
      // small-star: edges already point large → small, so the closed-
      // neighborhood min is min(v) per u; one generator emits both the
      // re-pointed neighbor (v, m) and the node's own (u, m) — the
      // duplicate (u, m) copies and the minimum's self-loop die in the
      // dedup aggregate
      large
        .withColumn("m", min(col("v")).over(Window.partitionBy("u")))
        .select(explode(array(col("v"), col("u"))).as("n"), col("m"))
        .where(col("n") =!= col("m"))
        .select(col("n").as("u"), col("m").as("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("_c")).select("u", "v")
        .write.mode("overwrite").parquet(s"$tmp/round_$rounds")
      edges = spark.read.parquet(s"$tmp/round_$rounds")
      val nfp = fingerprint(edges)
      converged = nfp == fp
      fp = nfp
      rounds += 1
    }
    // the final edge set is a star per component; self-labels cover
    // singleton/self-loop-only nodes (dropped at canonicalization) —
    // min(rep) keeps the star center where one exists, since rep ≤ node
    val labels = edges.select(col("u").as("node"), col("v").as("rep"))
      .unionAll(edges.select(col("v").as("node"), col("v").as("rep")))
      .unionAll(p.select(col("doc_i").as("node"), col("doc_i").as("rep")))
      .unionAll(p.select(col("doc_j").as("node"), col("doc_j").as("rep")))
      .groupBy("node").agg(min("rep").as("rep"))
    (labels, rounds)
  }

  /** Q16f — near-dup CLUSTERS over the full corpus: connected
    * components of the q16b near-dup graph; every document gets
    * (cluster_rep = min doc_id in its component, keep = is it the
    * representative). Oracle: DuckDB recursive-CTE reachability over
    * the all-pairs ground-truth graph — an independent CC
    * implementation. */
  def q16fDedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = q16bNearDup(spark, dir).select("doc_i", "doc_j")
    val labels = connectedComponentsStar(pairs)
    Tables.load(spark, dir, "documents").select("doc_id")
      .join(labels.select(col("node").as("doc_id"), col("rep")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("rep"), col("doc_id")).as("cluster_rep"),
        (coalesce(col("rep"), col("doc_id")) === col("doc_id")).cast("long").as("keep"))
      .orderBy("doc_id")
  }

  // ---- SimHash --------------------------------------------------------

  /** SimHash parameters. The base hash is a polynomial over characters
    * mod a < 2^53 prime — NOT xxhash64 — deliberately: it is exactly
    * reproducible in the DuckDB oracle (list_reduce), so the whole
    * fingerprint and the hamming criterion are cross-engine verifiable.
    * 48 fingerprint bits, 8 bands of 6 bits: any pair at hamming ≤ 6
    * shares ≥ 2 clean bands (pigeonhole, 6 errors over 8 bands) —
    * candidate recall is deterministic, not probabilistic. */
  val simhashBits   = 48
  val simhashBands  = 8
  val simhashBandBits = simhashBits / simhashBands
  val simhashMaxHamming = 6
  val CharPolyP = 9007199254740881L // largest prime < 2^53: 131*P + 255 < 2^63

  /** Polynomial char hash of a string column (both engines compute this
    * identically; see q18d for the token-level sibling). */
  def charPolyHash(s: Column): Column =
    aggregate(
      // drop empty fragments: Java-style split("") can emit a trailing
      // "" that DuckDB's string_split does not — hashes must agree
      transform(filter(split(s, ""), c => c =!= ""), c => ascii(c).cast("long")),
      lit(1L),
      (acc, v) => pmod(acc * lit(131L) + v, lit(CharPolyP)))

  /** 48-bit SimHash fingerprints of (doc_id, sh) shingle-set docs via
    * the native single-pass expression [[graft.functions.SimHashFp]]
    * (bit-identical to the r2 explode + 48-sum-aggregate plan and to the
    * DuckDB oracle's recomputation — pinned in MinHashSpec): a pure map
    * over a round-robin repartition, no explode/aggregate/shuffle. */
  def simhashFingerprints(docShingles: DataFrame): DataFrame = {
    graft.functions.SimHash.ensureRegistered(docShingles.sparkSession)
    docShingles
      .repartition(docShingles.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"), call_function(graft.functions.SimHash.fnName, col("sh")).as("fp"))
  }

  /** Q16c — SimHash near-dup pairs: fingerprints → 8×6-bit band buckets
    * → candidates within buckets → exact hamming ≤ 6 verification.
    * Output = (doc_i, doc_j, hamming). Oracle recomputes the identical
    * fingerprints all-pairs in DuckDB. */
  def q16cSimhashNearDup(spark: SparkSession, dir: String): DataFrame = {
    val fps = simhashFingerprints(wordShingleDocs(spark, dir))
    val bands = fps.select(col("doc_id"), col("fp"),
      explode(array((0 until simhashBands).map { b =>
        concat_ws(":", lit(b.toString),
          shiftright(col("fp"), b * simhashBandBits)
            .bitwiseAND(lit((1L << simhashBandBits) - 1)).cast("string"))
      }: _*)).as("band"))
    val l = bands.select(col("doc_id").as("doc_i"), col("fp").as("fp_i"), col("band"))
    val r = bands.select(col("doc_id").as("doc_j"), col("fp").as("fp_j"), col("band"))
    l.join(r, "band")
      .where(col("doc_i") < col("doc_j"))
      // hamming test BEFORE the pair-dedup (fps ride the band join), so
      // the distinct aggregates survivors, not every co-bucket pair
      .withColumn("hamming", bit_count(col("fp_i").bitwiseXOR(col("fp_j"))).cast("long"))
      .where(col("hamming") <= simhashMaxHamming)
      .select("doc_i", "doc_j", "hamming").distinct()
      .orderBy("doc_i", "doc_j")
  }

  // ---- cross-document LINE-level dedup (boilerplate removal) ----------

  /** Planted fixture for q16n (the q16h `casedVariants` pattern — the
    * raw corpus is single-line with zero cross-document line repeats at
    * any SF, so the operator would be vacuous on it): each document
    * becomes a 3-5 line PAGE with web-crawl boilerplate — a nav header
    * on every page, a newsletter banner on even pages, a copyright
    * footer on every page — plus a plagiarized paragraph: every
    * `doc_id % 10 == 3` page repeats the body text of `doc_id - 3`.
    * Line positions are FIXED constants per line kind (no row_number),
    * so both engines build the identical (doc_id, pos, line) frame with
    * no window function. The boilerplate lines are the hot-key worst
    * case on purpose: the header digest occurs once per document
    * corpus-wide, which is exactly the skew profile a real crawl's
    * cookie banner has. */
  def linedPages(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    val header = base.select(col("doc_id"), lit(0L).as("pos"),
      lit("nav home about contact").as("line"))
    val body = base.select(col("doc_id"), lit(1L).as("pos"), col("text").as("line"))
    val plag = base.as("a")
      .join(base.as("b"), col("a.doc_id") === col("b.doc_id") + 3)
      .where(col("a.doc_id") % 10 === 3)
      .select(col("a.doc_id").as("doc_id"), lit(2L).as("pos"),
        col("b.text").as("line"))
    val news = base.where(col("doc_id") % 2 === 0)
      .select(col("doc_id"), lit(3L).as("pos"),
        lit("subscribe to our newsletter").as("line"))
    val footer = base.select(col("doc_id"), lit(4L).as("pos"),
      lit("copyright acme corp all rights reserved").as("line"))
    header.unionAll(body).unionAll(plag).unionAll(news).unionAll(footer)
  }

  /** Library surface: C4/CCNet-style cross-document line dedup over any
    * (doc_id, pos, line) frame — a line occurrence survives iff it is
    * the GLOBAL first occurrence of that exact line, ordered by
    * (doc_id, pos); every later repeat (boilerplate on other pages,
    * plagiarized paragraphs, within-document repeats) is dropped. The
    * per-document result reassembles the cleaned page (kept lines in
    * original order) and reports kept/dropped counts.
    *
    * Scale shape (the q16 digest discipline, applied twice):
    *  - the shuffle key is a (xxhash64, md5) digest of the line — ~24
    *    bytes — never the line text; at 100 TB a `groupBy(line)` would
    *    move the whole corpus, the digest moves fingerprints;
    *  - the winner per line is a `min(struct(doc_id, pos))` PARTIAL
    *    aggregate (map-side combine), then occurrences join the winner
    *    table on the digest to learn their fate. GroupBy+join is chosen
    *    over a window-min deliberately: the boilerplate hot key (a
    *    cookie banner appearing on EVERY page) collapses to one row per
    *    map task on the aggregate side, and the skewed probe side of
    *    the join is exactly the shape AQE's skew-join split handles —
    *    a window over the digest has neither escape hatch;
    *  - reassembly shuffles (pos, line) once per KEPT occurrence,
    *    grouped by doc_id — bounded by the cleaned corpus size. At
    *    100 TB the exploded digest frame feeding both sides is
    *    materialized once (the [[SimilarityQueries]] index-build
    *    pattern) instead of re-derived per consumer. */
  def lineDedup(lines: DataFrame): DataFrame = {
    val occ = lines.select(col("doc_id"), col("pos"), col("line"),
      length(col("line")).cast("long").as("n_chars"),
      xxhash64(col("line")).as("h64"), md5(col("line")).as("h128"))
    val winners = occ.groupBy("h64", "h128")
      .agg(min(struct(col("doc_id"), col("pos"))).as("w"))
    occ.join(winners, Seq("h64", "h128"))
      .select(col("doc_id"), col("pos"), col("line"), col("n_chars"),
        (col("w.doc_id") === col("doc_id") && col("w.pos") === col("pos")).as("keep"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("kept_lines"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("dropped_lines"),
        sum(when(col("keep"), col("n_chars")).otherwise(0L)).as("kept_chars"),
        collect_list(when(col("keep"), struct(col("pos"), col("line")))).as("kept"))
      .select(col("doc_id"), col("n_lines"), col("kept_lines"),
        col("dropped_lines"), col("kept_chars"),
        // a fully-emptied page (every line was someone else's first —
        // real at sf0.1, where exact-duplicate bodies exist) has no
        // content to fingerprint: NULL, matching the oracle's
        // aggregate-of-empty-set semantics
        when(col("kept_lines") > 0,
          md5(array_join(transform(array_sort(col("kept")), _.getField("line")),
            "\n"))).as("clean_md5"))
  }

  /** Q16n — cross-document line-level exact dedup (the C4/CCNet/
    * RefinedWeb boilerplate pass) over the planted page fixture: nav
    * headers, newsletter banners, copyright footers and plagiarized
    * paragraphs survive only at their first (doc_id, pos) occurrence;
    * every page's cleaned reassembly is hash-checked against the
    * oracle's window-function recomputation over raw lines. */
  def q16nLineDedup(spark: SparkSession, dir: String): DataFrame =
    lineDedup(linedPages(Tables.load(spark, dir, "documents")))
      .orderBy("doc_id")

  /** Shingle width of the exact-substring pass — ≥k-token repeated
    * spans dedup; 10 is scaled to this corpus's ~50-110-token docs
    * (the public pass uses 50 on web-scale documents). */
  val SubstrK = 10

  /** Q16p — EXACT SUBSTRING dedup (VERDICT r14 next #2 — the Lee et
    * al. "Deduplicating Training Data Makes Language Models Better"
    * ExactSubstr pass, re-expressed relationally): cross-document
    * repeated runs of ≥ [[SubstrK]] TOKENS are removed from every
    * occurrence except the globally FIRST one — the one public dedup
    * modality the ladder lacked (whole-doc q16, near q16b-d, line
    * q16n, semantic q16g all exist). The paper's suffix-array machinery
    * is a single-node construction; the same semantics decompose into
    * the engine's digest discipline:
    *
    *  1. every k-token window hashes to ONE 8-byte xxhash64 digest
    *     computed inside the scan projection (`transform`/`slice` over
    *     the token array — the text itself never leaves its partition);
    *  2. the global first occurrence per digest is a partial-aggregable
    *     `min(struct(doc_id, pos))` — the q16n winner rule, so the
    *     result is deterministic and arrival-order-free;
    *  3. non-first occurrences explode into their covered positions
    *     (span reassembly: overlapping duplicate windows UNION via
    *     `distinct`), and each doc's kept text filters those positions
    *     out.
    *
    * Scale shape: the occurrence pipeline shuffles (doc_id, pos,
    * digest) rows only — ~24 B regardless of document size, the q16n
    * argument; hot digests (stop-phrases) collapse map-side in the
    * min-aggregate and AQE handles the residual join skew. The one
    * corpus-bearing shuffle is the final doc_id-keyed reassembly —
    * inherent to span removal, same class as q16n's page reassembly.
    * Per-doc work in the kept-text filter is O(tokens × removed) with
    * both factors bounded by document length. The oracle recomputes
    * the whole pass from raw text in DuckDB (grouping by the shingle
    * STRING — so the digest shortcut is itself under test, modulo
    * 64-bit collisions); hash-green at both SFs. */
  def q16pSubstringDedup(spark: SparkSession, dir: String): DataFrame = {
    val k = SubstrK
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), expr("filter(split(text, ' '), t -> t != '')").as("ts"))
    val occ = docs
      .where(size(col("ts")) >= k)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(ts) - $k), i -> " +
        s"named_struct('pos', i, 'g', xxhash64(concat_ws(' ', slice(ts, i + 1, $k)))))"))
        .as("o"))
      .select(col("doc_id"), col("o.pos").as("pos"), col("o.g").as("g"))
    val firsts = occ.groupBy(col("g"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
    val removed = occ.join(firsts, "g")
      .where(!(col("doc_id") === col("f.doc_id") && col("pos") === col("f.pos")))
      .select(col("doc_id"), explode(expr(s"sequence(pos, pos + ${k - 1})")).as("rpos"))
      .distinct()
      .groupBy("doc_id").agg(collect_set(col("rpos")).as("rm"))
    docs.join(removed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("ts")).cast("long").as("n_tokens"),
        coalesce(size(col("rm")), lit(0)).cast("long").as("n_removed"),
        expr("array_join(transform(filter(" +
          "transform(ts, (t, i) -> named_struct('t', t, 'i', i)), " +
          "s -> NOT array_contains(coalesce(rm, array(-1)), s.i)), s -> s.t), ' ')")
          .as("kept_text"))
      .orderBy("doc_id")
  }

  // ---- line-digest index for the STREAMED line-dedup (q16o) -----------

  val lineBaseBuildCount = new java.util.concurrent.atomic.AtomicInteger(0)
  private val LineBaseFamily = "graft-linebase"

  /** Build-or-load the STANDING corpus's line-digest set (the q16i
    * split: `doc_id % 5 != 4` pages are the base; the rest arrives as
    * batches): distinct (h64, h128) of every line the base pages
    * contain — ~24 B per distinct line, the whole "what have we seen"
    * state a crawl-ingest line-dedup needs. The fixture decomposes
    * cleanly under the split: [[linedPages]]' plagiarism plant pairs
    * `%10==3` pages with `%10==0` sources, both always in the base
    * split, so base pages computed from base docs equal the global
    * fixture restricted to base ids (and incoming pages carry no plant
    * at all). Same lifecycle as every index here: fingerprint-stamped,
    * revalidated, rebuild clears nothing extra (the accept appendix
    * lives with the LOOP's sink, not this family). */
  /** q16o's INCOMING side with planted REPOSTS (the fixture needs
    * them: the raw corpus has no incoming-to-incoming duplicate lines
    * at any SF, so without reposts neither the within-batch-first rule
    * nor the accepted-appendix membership would ever fire and the
    * oracle could not catch a bug in either):
    *  - `doc_id % 20 == 4` pages repost at `doc_id + 3000000` — ≡0
    *    (mod 3), so the copy lands in the SAME chunk and the
    *    within-batch (doc_id, pos) first wins;
    *  - `doc_id % 20 == 14` pages repost at `doc_id + 6000010` — ≡1
    *    (mod 3), so the copy lands in a DIFFERENT chunk and whichever
    *    arrives earlier blocks the other THROUGH THE ACCEPT APPENDIX.
    * Both deltas keep `% 5 == 4` (still incoming) and land on even,
    * non-%10==3 ids (newsletter yes, plagiarism plant never); the id
    * ranges are disjoint. Both engines build the identical frame. */
  def incomingWithReposts(docs: DataFrame): DataFrame = {
    val incoming = docs.where(col("doc_id") % IngestSplitMod === IngestSplitRem)
    incoming
      .unionByName(incoming.where(col("doc_id") % 20 === 4)
        .withColumn("doc_id", col("doc_id") + 3000000L))
      .unionByName(incoming.where(col("doc_id") % 20 === 14)
        .withColumn("doc_id", col("doc_id") + 6000010L))
  }

  def lineBaseRoot(spark: SparkSession, dir: String): java.nio.file.Path = {
    val base = Tables.load(spark, dir, "documents")
      .where(col("doc_id") % IngestSplitMod =!= IngestSplitRem)
    val fp = "l1:" + SimilarityQueries.corpusFingerprint(base, "doc_id", Seq(col("text")))
    graft.core.IndexStore.buildOrLoad(
        LineBaseFamily, dir, fp, Seq("digests"), lineBaseBuildCount) { r =>
      linedPages(base)
        .select(xxhash64(col("line")).as("h64"), md5(col("line")).as("h128"))
        .distinct()
        .write.mode("overwrite").parquet(r.resolve("digests").toString)
    }
  }
}
