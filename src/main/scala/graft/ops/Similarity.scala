package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/** Similarity search over an embedding column (SURVEY.md §2D):
  * brute-force cosine top-k as the exact baseline/oracle, and a
  * random-hyperplane LSH bucketed variant as the 100 TB path.
  *
  * All vector math happens in codegen'd higher-order array functions in
  * DOUBLE precision with sequential accumulation — deterministic and
  * engine-portable (the DuckDB oracle casts to DOUBLE[] likewise).
  */
object Similarity {

  /** Base seed for every KMeans fit (coarse quantizer + the per-subspace
    * PQ codebooks, which use baseSeed + subIndex). Fixed at 42 by
    * default so all determinism specs and cross-JVM bit-identity gates
    * hold; `GRAFT_KMEANS_SEED` overrides it for the seed-stability
    * study ([[graft.SeedCheck]] — one JVM per seed, since layouts cache
    * under an env-scoped serve root too).
    */
  private[graft] val baseSeed: Int =
    sys.env.get("GRAFT_KMEANS_SEED") match {
      case None => 42
      case Some(s) => scala.util.Try(s.trim.toInt).getOrElse(
        // fail fast with a clear message — a malformed override would
        // otherwise crash deep inside a KMeans fit, and parse once (val)
        // rather than re-reading the env per build
        throw new IllegalArgumentException(
          s"GRAFT_KMEANS_SEED must be an integer, got '$s'"))
    }

  /** Sequential-order dot product of two array<double> columns —
    * codegen'd custom expression (graft.functions.DotProduct).
    */
  private def dot(a: Column, b: Column): Column = VectorOps.vecDot(a, b)

  /** Corpus projection: id, double vector, squared norm (computed once,
    * not per candidate pair).
    */
  def prepared(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm2", VectorOps.vecNorm2(col("v")))

  private def cosRaw(va: Column, vb: Column, na2: Column, nb2: Column): Column =
    dot(va, vb) / (sqrt(na2) * sqrt(nb2))

  /** Exact top-k cosine neighbors for the query set (vec_id < nQueries).
    * The query side is tiny → broadcast; the corpus streams past it once
    * (no shuffle of the corpus). Ranking uses the ROUNDED cosine with an
    * id tie-break so the ordering is engine-deterministic.
    */
  def knnBruteForce(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val base = prepared(embeddings)
    val q = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm2").as("qn2"))
    knnBruteForceQueries(base, q, k, excludeSelf = true)
  }

  /** Query-batch form: `queries` columns (query_id, qv array<double>,
    * qn2) against a [[prepared]] corpus — the user-facing API when the
    * queries are not corpus rows. The query side broadcasts; the corpus
    * streams past it once (no corpus shuffle).
    *
    * `excludeSelf` (default FALSE here) removes corpus rows whose
    * vec_id equals the query_id — only meaningful when the queries ARE
    * corpus rows (the [[knnBruteForce]] wrapper sets it). External
    * queries must leave it off: a numeric id collision would otherwise
    * silently drop a legitimate neighbor.
    */
  def knnBruteForceQueries(preparedCorpus: DataFrame, queries: DataFrame,
                           k: Int = 5, excludeSelf: Boolean = false): DataFrame = {
    val base = preparedCorpus
    val q = broadcast(queries)
    val cond = if (excludeSelf) col("query_id") =!= col("vec_id") else lit(true)
    q.join(base, cond)
      .withColumn("cos_sim", round(cosRaw(col("qv"), col("v"), col("qn2"), col("norm2")), 4))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("vec_id"))).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos_sim"), col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Embedding-cosine near-dup pairs (threshold chosen in a measured gap
    * of the pair distribution — no pair sits near the boundary at any
    * SF). The all-pairs form is the oracle; at scale candidates come
    * from [[knnLsh]]-style bucketing instead.
    */
  def embeddingNearDups(embeddings: DataFrame, threshold: Double = 0.45): DataFrame = {
    // lazily materialized: the streamed side and the broadcast build
    // side both consume the prepared vectors — without it the
    // cast+norm prep runs twice per call
    val base = prepared(embeddings).staged
    // The n²/2 scan parallelizes over the STREAMED side's partitions;
    // a single-parquet-file corpus would run the whole cartesian in
    // one task (measured: ~15 min single-core at sf1 × 256 dims).
    // Repartition the streamed side to core parallelism and broadcast
    // the other (this op is the DECLARED small-scale exact baseline —
    // the broadcast is its size contract; the scale path is the LSH
    // twin).
    base.select(col("vec_id").as("a_id"), col("v").as("va"), col("norm2").as("na2"))
      .repartition(embeddings.sparkSession.sparkContext.defaultParallelism)
      .join(broadcast(
        base.select(col("vec_id").as("b_id"), col("v").as("vb"), col("norm2").as("nb2"))),
        col("a_id") < col("b_id"))
      .withColumn("cos_raw", cosRaw(col("va"), col("vb"), col("na2"), col("nb2")))
      .filter(col("cos_raw") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("cos_raw"), 4).as("cos_sim"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Embedding near-dup pairs via hyperplane-LSH bucketing — the 100 TB
    * form of [[embeddingNearDups]]: the corpus is never self-joined;
    * candidates are id pairs sharing any band bucket
    * (collision-proportional), exactly re-verified against the
    * threshold. Candidate generation carries ONLY (id, bucket); vectors
    * re-join once per surviving pair.
    *
    * Band geometry must match the similarity regime of the threshold:
    * for a pair at cosine c, one band of b bits collides with
    * probability (1 - acos(c)/π)^b, any-of-n bands ≈ 1-(1-p_band)^n.
    * This corpus's near-dups sit barely above 0.45 (≈62°, p_bit≈0.65),
    * so the default is many NARROW bands (32×4 → ≈99.9% per-pair
    * recall; the spec asserts set equality with the exact form). A
    * high-threshold regime (0.9+, the usual near-dup setting at scale)
    * wants fewer, wider bands — candidates shrink by orders of
    * magnitude. Tune (bands, bitsPerBand) to the measured pair
    * distribution, exactly like minhash banding.
    */
  def embeddingNearDupsLsh(embeddings: DataFrame, threshold: Double = 0.45,
                           bands: Int = 32, bitsPerBand: Int = 4,
                           slicePairsOverride: Long = 0L,
                           knownCount: Long = -1L): DataFrame = {
    val spark = embeddings.sparkSession
    val (base, buckets, pairs) = lshCandidateFrames(embeddings, bands, bitsPerBand)
    // Sliced exact verify (r12 verdict): the verify join's in-flight
    // intermediate is candidates × two vector payloads — at sf100
    // (176.8 M pairs × 64 dims) ≈ 0.7 TB of joined/spilled bytes in ONE
    // plan, which out-sizes any single host and is pure waste even on a
    // cluster (all of it in flight at once). One cheap occupancy
    // aggregation over the keyed rows (Σ C(occ,2) — the same measure
    // LshStats occupancy mode records) bounds the candidate mass
    // WITHOUT running the pair join; below the slice budget the
    // single-pass plan runs bit-for-bit as before (every driver-gate
    // corpus and sf1/sf10 land here), above it candidates are written
    // once (ids only), verified slice-by-slice, and the in-flight
    // intermediate is bounded at slicePairs × payload on any host.
    val slicePairs =
      if (slicePairsOverride > 0) slicePairsOverride
      else sys.env.get("GRAFT_LSH_VERIFY_SLICE_PAIRS") match {
        case None =>
          // Default budget: 16 M pairs ≈ 45 GB of in-flight joined/
          // shuffle spill per slice (measured ~2.8 KB/pair at sf100,
          // 64-dim payloads × 2 sides + sort overhead) — right for a
          // cluster, where each executor absorbs its share on its own
          // disk. When scratch IS one host's volume (local master or a
          // local-path GRAFT_SCRATCH), a fleet-sized slice can out-size
          // that single disk (r14: one 16 M slice drove 51 GB free to
          // 7.8 GB — watchdog kill); self-size to a third of the
          // volume's free bytes at 3 KB/pair, floored at 1 M pairs so
          // per-slice job overhead stays amortized.
          defaultSlicePairs(graft.sources.ScratchDirs.localUsableBytes(spark))
        case Some(s) =>
          // validated like GRAFT_KMEANS_SEED: a malformed or
          // non-positive override would otherwise surface as a
          // NumberFormatException / division-by-zero deep in the verify
          val v = scala.util.Try(s.trim.toLong).getOrElse(
            throw new IllegalArgumentException(
              s"GRAFT_LSH_VERIFY_SLICE_PAIRS must be an integer, got '$s'"))
          require(v > 0, s"GRAFT_LSH_VERIFY_SLICE_PAIRS must be positive, got $v")
          v
      }
    // The signature kernel (planes×dims per vector) dominates this
    // operator and feeds BOTH the mass pre-measure and the pair join —
    // persist the keyed rows so it runs once per call, not once per
    // consumer (r13 advisor). SCALE-GATED (measured at sf100): the
    // cache holds n×bands keyed rows, and past the band cap that is
    // ~512 M rows whose spill (tens of GB) lands on exactly the disk
    // the sliced verify exists to protect — the first sf100 run of
    // this path died ENOSPC in the cache+occupancy job before slicing
    // ever engaged. Above the bound the kernel simply runs once more
    // (minutes at 2 M vectors), trading bounded CPU for the scarce
    // resource.
    // ONE corpus count per call: the Auto path already counted for the
    // geometry derivation and threads it through `knownCount` (r14
    // verdict: construction ran the count twice).
    val n = if (knownCount >= 0) knownCount else graft.Tables.cachedCount(embeddings)
    val cacheBuckets = n * bands <= 64000000L
    if (cacheBuckets)
      buckets.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // The pre-measure is SKIPPED when even the all-pairs worst case fits
    // the slice budget: candMass ≤ n(n-1)/2 always, so the single-pass
    // plan is provably within budget without running the signature
    // kernel at construction time. Every driver-gate corpus lands here
    // — r14 measured the always-paid pre-measure as a 1.9× gate-SF
    // regression on this operator (and 2.8× on plan_audit_report, which
    // constructs it). The n-bound before squaring is an overflow guard
    // only: budgets cap at 16 M pairs, so any n past ~5.7 k measures.
    val allPairsFit = n <= 1 || (n <= 1000000000L && n * (n - 1) / 2 <= slicePairs)
    // Per-band pair mass Σ C(occ,2) counts a pair once PER SHARED BAND,
    // so cross-band duplicates make this an UPPER bound on the distinct
    // candidate set — it can only err toward slicing early, by design
    // (a pre-measure that undercounted would admit an unbounded
    // single-pass join).
    val candMass =
      if (allPairsFit) 0L
      else buckets.groupBy(col("bucket")).agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(expr("c * (c - 1) DIV 2")), lit(0L)).as("m"))
        .head().getLong(0)
    if (candMass <= slicePairs) {
      // base is NOT re-materialized here: both verify sides sit above
      // the identical repartition exchange, which AQE's stage reuse
      // computes once at runtime — an r16 A/B measured a checkpoint
      // here as pure overhead (block writes with no second computation
      // to save). The sliced path persists base because its consumers
      // are separate JOBS, outside one query's stage-reuse scope.
      val out = verifyCandidates(base, pairs, threshold)
        .orderBy(col("a_id"), col("b_id"))
      // the lazy result serves from the cache (kernel ran once, above);
      // the one-slot retire bounds live caches at one per JVM — the
      // PREVIOUS call's cache is dropped, this call's is dropped by the
      // next call or at JVM exit
      if (cacheBuckets) retireBucketsCache(buckets)
      out
    } else {
      val out = slicedVerify(spark, base, pairs, threshold,
        ((candMass + slicePairs - 1) / slicePairs).toInt)
      // sliced path materializes everything internally — cache is dead
      if (cacheBuckets) buckets.unpersist(blocking = false)
      out
    }
  }

  /** The lazy frame triple every LSH form is built from — (prepared
    * vectors, keyed band rows, distinct candidate id pairs). Pure plan
    * construction: no job runs here.
    */
  private def lshCandidateFrames(embeddings: DataFrame, bands: Int,
                                 bitsPerBand: Int): (DataFrame, DataFrame, DataFrame) = {
    val spark = embeddings.sparkSession
    // Repartition BEFORE the per-row signature kernel: its cost is
    // planes×dims per vector, and scan parallelism is otherwise file
    // parallelism — a corpus that arrives as one modest parquet file
    // (20k vectors ≈ 20 MB at sf1) would run the whole kernel in ONE
    // task (measured: ~2 min single-core at the sf1 geometry). The
    // shuffle moves id+vector once — trivia next to the kernel — and
    // on a real many-file corpus it is a cheap no-op-shaped rebalance.
    val base = prepared(embeddings)
      .repartition(spark.sparkContext.defaultParallelism)
    val buckets = base.select(col("vec_id"),
      explode(VectorOps.hyperplaneBands(col("v"), bands, bitsPerBand)).as("bucket"))
    val pairs = buckets.as("a")
      .join(buckets.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      .dropDuplicates("a_id", "b_id")
    (base, buckets, pairs)
  }

  /** Plan-governance form of [[embeddingNearDupsLsh]]: the single-pass
    * verify plan at the given geometry, constructed WITHOUT running any
    * job — no corpus count, no disk probe, no occupancy pre-measure, no
    * caching. plan_audit_report audits this form because the production
    * entry cannot honor a plan-compilation-only contract: it decides
    * single-pass vs sliced by executing real pre-measures, and the
    * sliced path executes its writes during construction by design (r14
    * verdict). The single-pass shape — signature kernel, bucket
    * self-join, shuffle-hash verify — is the plan whose scale
    * properties the audit checks, at the same geometry for any corpus.
    */
  def embeddingNearDupsLshPlanOnly(embeddings: DataFrame,
                                   threshold: Double = 0.45,
                                   bands: Int = 32,
                                   bitsPerBand: Int = 4): DataFrame = {
    val (base, _, pairs) = lshCandidateFrames(embeddings, bands, bitsPerBand)
    verifyCandidates(base, pairs, threshold).orderBy(col("a_id"), col("b_id"))
  }

  /** The self-sized slice budget, extracted so specs can exercise the
    * boundary behavior directly (r14 advisor: the spec re-implemented
    * the formula inline, asserting a tautology). Fleet default 16 M
    * pairs ≈ 45 GB in-flight per slice (measured ~2.8 KB/pair at sf100)
    * — right for a cluster; on a single-host volume, a third of the
    * free bytes at 3 KB/pair, floored at 1 M pairs so per-slice job
    * overhead stays amortized.
    */
  def defaultSlicePairs(usableBytes: Option[Long]): Long = {
    val fleet = 16000000L
    usableBytes match {
      case Some(b) => math.max(1000000L, math.min(fleet, b / 3 / 3000L))
      case None => fleet
    }
  }

  /** One-slot registry for the single-pass verify's persisted keyed
    * rows: the returned frame is lazy, so the cache must outlive the
    * call — retiring the previous occupant bounds executor storage at
    * one live cache regardless of how many calls a session makes.
    */
  private val lastBucketsCache =
    new java.util.concurrent.atomic.AtomicReference[DataFrame](null)

  /** The registry's current occupant — spec observable only (the
    * retire-one-slot contract is subtle enough to deserve a direct
    * assertion; r15 verdict item 7).
    */
  private[graft] def liveBucketsCache: Option[DataFrame] =
    Option(lastBucketsCache.get())
  private def retireBucketsCache(next: DataFrame): Unit = {
    val prev = lastBucketsCache.getAndSet(next)
    // PLAN-EQUAL predecessor: CacheManager keys entries by plan, so
    // unpersisting it would evict the entry the new occupant just
    // registered — the repeat-caller shape (same corpus re-verified in
    // one session) would silently lose its cache every second call
    // (found by the r16 retire-one-slot spec: suite-order flake).
    if (prev != null && (prev ne next) &&
        !prev.queryExecution.analyzed.sameResult(next.queryExecution.analyzed))
      scala.util.Try(prev.unpersist(blocking = false))
  }

  /** Exact cosine verification of candidate id pairs — the shared tail
    * of both verify paths. The join strategy is picked DELIBERATELY by
    * the vector table's size statistic (guide §3.1), because the two
    * regimes want opposite shapes and Spark's own estimate mis-picks in
    * both:
    *
    *   - Vector table fits executors (default ≤ 128 MB estimated):
    *     BROADCAST it. The candidate-pair stream — the collision-
    *     proportional heavy side (1.7 M pairs at the sf0.1 geometry vs
    *     a 1 MB vector table) — is then never exchanged at all: both
    *     lookups are map-side probes in one codegen stage. Left to its
    *     estimate Spark would shuffle the pair stream twice (the
    *     candidate stream has no stats — it derives from a self-join).
    *   - Bigger: HINT shuffle-hash. Spark's own choice degrades to
    *     sort-merge once the vector side outgrows the broadcast
    *     threshold (~20k × 256-dim was enough), and an SMJ must SORT
    *     the candidate stream WITH its 2 KB vector payloads — measured
    *     as ~100 GB of sort spill at sf1, 12+ minutes for this one
    *     query. Shuffle-hash moves each candidate id once and each
    *     vector once, never sorts payloads; that is the shape that
    *     survives 100 TB (where the vector side is partitioned, not
    *     broadcastable).
    *
    * The size signal is the logical plan's sizeInBytes — pure metadata
    * (same statistic the broadcast threshold reads), no job; the
    * threshold is `spark.graft.lsh.broadcastVerifyMaxBytes`. Strategy
    * choice never changes the row set — the oracle pins both shapes.
    */
  private def verifyCandidates(base: DataFrame, pairs: DataFrame,
                               threshold: Double): DataFrame = {
    val maxBytes = base.sparkSession.conf
      .get("spark.graft.lsh.broadcastVerifyMaxBytes", (128L << 20).toString).toLong
    val small = org.apache.spark.sql.graft.Shims.logicalPlan(base)
      .stats.sizeInBytes <= maxBytes
    def side(df: DataFrame) = if (small) broadcast(df) else df.hint("shuffle_hash")
    pairs
      .join(side(base.select(col("vec_id").as("a_id"), col("v").as("va"),
        col("norm2").as("na2"))), Seq("a_id"))
      .join(side(base.select(col("vec_id").as("b_id"), col("v").as("vb"),
        col("norm2").as("nb2"))), Seq("b_id"))
      .withColumn("cos_raw", cosRaw(col("va"), col("vb"), col("na2"), col("nb2")))
      .filter(col("cos_raw") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("cos_raw"), 4).as("cos_sim"))
  }

  /** Bounded-in-flight exact verify: write the candidate ids ONCE
    * (partitioned by a hash slice — candidate generation, the big
    * bucket self-join, runs exactly once), then verify one slice per
    * job so no plan ever holds more than `nSlices`-th of the joined
    * pair×vector intermediate, appending survivors to a spill dir that
    * the returned frame reads. Output is the same (a_id, b_id, cos_sim)
    * row set as the single-pass plan — slicing is a partition of the
    * distinct candidate set, and verification is per-pair — in the same
    * global order. The per-slice System.gc() nudges ContextCleaner to
    * reclaim the finished slice's shuffle files; without it a 10-slice
    * run accumulates every slice's spill until the next collection,
    * which is exactly the disk blowup the slicing exists to avoid.
    *
    * Scratch lives under [[graft.sources.ScratchDirs]] — cluster-visible
    * via GRAFT_SCRATCH, driver-local temp only under local masters (r13
    * verdict: executors must write where the read-back looks). The
    * candidate ids are reclaimed EAGERLY once the slice loop finishes
    * (they are dead weight — at sf100 ~3 GB of ids); the `verified` dir
    * is what the returned frame reads, so it stays pinned until JVM
    * exit (the ScratchDirs hook) — callers that outlive the frame can
    * release the root themselves.
    */
  private def slicedVerify(spark: org.apache.spark.sql.SparkSession,
                           base: DataFrame, pairs: DataFrame,
                           threshold: Double, nSlices: Int): DataFrame = {
    val root = graft.sources.ScratchDirs.acquire(spark, "graft-lsh-verify")
    val pairsPath = s"$root/pairs"
    val outPath = s"$root/verified"
    Console.err.println(
      s"[graft] sliced exact-verify engaged: $nSlices slices, scratch=$root")
    pairs
      .withColumn("_slice", pmod(xxhash64(col("a_id"), col("b_id")), lit(nSlices)))
      .write.partitionBy("_slice").parquet(pairsPath)
    // each slice joins the vector table twice — persist it so the scan
    // and norm prep run once per run, not twice per slice (r13 advisor)
    base.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (0 until nSlices).foreach { s =>
      val slice = spark.read.parquet(pairsPath)
        .filter(col("_slice") === s) // partition-pruned: reads one slice dir
        .select(col("a_id"), col("b_id"))
      verifyCandidates(base, slice, threshold)
        .write.mode("append").parquet(outPath)
      System.gc()
      // liveness refresh: a multi-hour verify only writes INSIDE the
      // root's subtrees, so the root/marker mtimes the scratch sweep
      // age-gates on would otherwise stay frozen at acquire time
      graft.sources.ScratchDirs.touch(spark, root)
      Console.err.println(s"[graft] sliced exact-verify: slice ${s + 1}/$nSlices done")
    }
    base.unpersist(blocking = false)
    graft.sources.ScratchDirs.release(spark, pairsPath)
    spark.read.parquet(outPath).orderBy(col("a_id"), col("b_id"))
  }

  /** [[embeddingNearDupsLsh]] with (bands, bitsPerBand) DERIVED from
    * the corpus size ([[LshGeometry.hyperplane]]): up to 4k vectors
    * the legacy (32, 4) — driver-gate corpora (which hold genuinely
    * threshold-adjacent pairs) keep their strict-equality behavior
    * bit-for-bit; above it, bits grow ~log₂ n to bound background
    * candidates (∝ n, not n²) and bands are re-derived for the
    * dup-level (0.85 cosine) recall floor — (102, 14) at sf1,
    * (225, 18) at sf10. The 0.45-threshold floor honestly degrades at
    * scale (ρ ≈ 0.63 makes it cost ~n^1.63 — the measured
    * threshold-targeted geometry produced 26% of ALL pairs as
    * candidates); the scale contract is the dup-level floor, asserted
    * against the exact oracle by tools/check_lsh_recall.py.
    */
  def embeddingNearDupsLshAuto(embeddings: DataFrame,
                               threshold: Double = 0.45): DataFrame = {
    val n = graft.Tables.cachedCount(embeddings)
    val (bands, bits) = hyperplaneGeometryFor(n)
    embeddingNearDupsLsh(embeddings, threshold, bands, bits, knownCount = n)
  }

  /** The ONE derivation path for the auto hyperplane geometry — shared
    * by [[embeddingNearDupsLshAuto]] and the LshStats diagnostic so the
    * measured candidate load can never diverge from the operator's
    * actual shuffle load (r10 advisor: the operator passed its 0.45
    * verification threshold positionally into `dupSim`, silently
    * deriving a ~2.7× more expensive geometry than the one LSHSTATS /
    * LshGeometrySpec recorded). `dupSim` stays at its 0.85 default: the
    * scale contract is the dup-level recall floor, not the
    * threshold-level one (see [[LshGeometry.hyperplane]]).
    */
  def hyperplaneGeometryFor(n: Long): (Int, Int) = LshGeometry.hyperplane(n)

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication"): semantic dedup by
    * k-means clustering + WITHIN-CLUSTER cosine pruning — the published
    * alternative to hyperplane LSH for embedding-space dedup. The
    * coarse quantizer is the SAME seeded KMeans as the IVF family
    * ([[buildIvf]] — one clustering infrastructure, two consumers);
    * each cell self-joins internally, pairs at or above `threshold`
    * mark the LARGER id as a duplicate (greedy min-id representative,
    * matching the exact-dedup family's keep-lowest rule), and every
    * vector reports (vec_id, cell, is_kept).
    *
    * Contract (stated, like the LSH twin): pairs SPLIT ACROSS CELLS are
    * not compared — that recall loss vs the exact all-pairs form is the
    * method's trade, bounded by the quantizer's quality. The spec
    * asserts exactness WITHIN cells against the brute-force pair set.
    *
    * Scale: the only shuffle keys vectors by cell; per-cell cost is
    * quadratic in CELL size (the paper's bet: cells are thousands-fold
    * smaller than the corpus — size nCells so cells fit the quadratic
    * budget, the same knob as IVF cell balance; ivf_cell_stats measures
    * exactly this). KMeans is seeded → the report is deterministic
    * across runs (spec-locked), though not ANSI-expressible → rows-only
    * + spec gate, like the rest of the clustering family.
    */
  def semDedup(embeddings: DataFrame, nCells: Int = 16,
               threshold: Double = 0.45): DataFrame = {
    // the KMeans FIT in buildIvf is eager and runs once; the assignment
    // transform is lazily materialized (r16) because THREE branches of
    // the final plan consume it (both self-join sides + the report
    // spine) — without it the scan+assign kernel runs once per branch
    val assigned = buildIvf(embeddings, nCells).assigned.staged
    val left = assigned.select(col("cell"), col("vec_id").as("a_id"),
      col("v").as("va"), col("norm2").as("na2"))
    val right = assigned.select(col("cell"), col("vec_id").as("b_id"),
      col("v").as("vb"), col("norm2").as("nb2"))
    val dropped = left.join(right, Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .filter(cosRaw(col("va"), col("vb"), col("na2"), col("nb2")) >= threshold)
      .select(col("b_id").as("vec_id")).distinct()
    assigned.select(col("vec_id"), col("cell").cast("long").as("cell"))
      .join(dropped.withColumn("__dup", lit(true)), Seq("vec_id"), "left")
      .withColumn("is_kept", col("__dup").isNull)
      .select(col("vec_id"), col("cell"), col("is_kept"))
      .orderBy(col("vec_id"))
  }

  /** Symmetric int8 quantization of the embedding column — the storage
    * and serving format of billion-vector ANN (4× smaller than float32,
    * 8× smaller than the double compute form): per-vector scale =
    * absmax/127, codes = round(x·127/absmax). Per-row and codegen'd —
    * no shuffle; at scale the codes column is what gets written
    * cell-partitioned next to the [[IvfIndex]].
    */
  def quantizeInt8(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("absmax", array_max(expr("transform(v, x -> abs(x))")))
      .withColumn("codes", expr(
        "transform(v, x -> cast(round(CASE WHEN absmax = 0D THEN 0D ELSE x * 127.0D / absmax END) as bigint))"))
      .select(col("vec_id"), (col("absmax") / 127.0).as("scale"), col("codes"))

  /** Per-vector summary of [[quantizeInt8]] for the oracle gate (array
    * columns stay out of the hash boundary; the codes themselves are
    * pinned by min/max/mean since the mapping is deterministic).
    */
  def quantizeInt8Stats(embeddings: DataFrame): DataFrame =
    quantizeInt8(embeddings)
      .select(col("vec_id"),
        round(col("scale"), 6).as("scale"),
        array_min(col("codes")).as("code_min"),
        array_max(col("codes")).as("code_max"),
        round(expr("aggregate(codes, 0L, (a, x) -> a + x)").cast("double")
          / size(col("codes")), 4).as("code_mean"))
      .orderBy(col("vec_id"))

  /** IVF (inverted-file) ANN: a KMeans coarse quantizer partitions the
    * corpus into cells; each query probes its nProbe nearest cells and
    * exactly reranks only those candidates. The standard
    * billion-vector layout: the corpus is scanned once to assign
    * cells, queries touch nProbe/nCells of the data. Centroids are
    * model metadata (nCells × dim — broadcast-sized by construction).
    */
  /** A built IVF index: broadcast-sized coarse-quantizer centroids and
    * the cell-assigned corpus. Built ONCE (the expensive KMeans fit +
    * corpus assignment pass), queried many times — at billion-vector
    * scale `assigned` is written out partitioned by cell so a probe
    * reads only its cells' files.
    */
  case class IvfIndex(centroids: DataFrame, assigned: DataFrame) {
    /** The SERVED geometry — read from the (broadcast-sized) centroid
      * frame itself, so a loaded layout is always queried at the
      * geometry it was built with, never at whatever today's derivation
      * would pick (derive-once: geometry is baked at build time).
      * Counted once per instance; serving caches hold the instance.
      */
    lazy val nCells: Int = centroids.count().toInt
  }

  /** Index-build phase: KMeans coarse quantizer over the corpus, one
    * assignment pass. Centroids are nCells × dim — always
    * broadcastable by construction.
    */
  def buildIvf(embeddings: DataFrame, nCells: Int = 16): IvfIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = embeddings.sparkSession
    val base = prepared(embeddings)
    val withVec = base.withColumn("fv", array_to_vector(col("v")))
    val model = new KMeans().setK(nCells).setSeed(Similarity.baseSeed).setMaxIter(10)
      .setFeaturesCol("fv").setPredictionCol("cell")
      .fit(trainSample(withVec, "vec_id"))
    val assigned = model.transform(withVec).drop("fv")
    import spark.implicits._
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }.toSeq
      .toDF("cell", "centroid")
    IvfIndex(centroids, assigned)
  }

  /** Deterministic training sample for quantizer fits (both the coarse
    * IVF KMeans and the per-subspace PQ codebooks): KMeans quality
    * saturates at a few hundred training points per centroid — FAISS's
    * guidance is 39–256·k points, not the corpus — while fit cost is
    * iterations × input, so at sf100 (2M vectors, 1024 cells) the
    * full-corpus coarse fit alone was ~15 min of wall-clock build and
    * at a billion vectors it is simply not runnable. Above `maxTrain`
    * vectors the fit trains on a hash-sampled ~maxTrain subset
    * (xxhash64 of the id mod step: deterministic, partition-local, no
    * extra shuffle); at or below the cap the frame passes through
    * UNTOUCHED, so every committed gate corpus (sf0.001…sf10, all
    * ≤ 200k vectors) keeps its builds bit-for-bit. Cell ASSIGNMENT
    * always covers the full corpus — only the model fit samples.
    * 262144 = 256·k at the 1024-cell sf100 tier, and ≥ 1000 points
    * per 256-wide PQ codebook.
    */
  private val maxTrainVectors = 262144L
  private def trainSample(df: DataFrame, idCol: String): DataFrame = {
    val n = graft.Tables.cachedCount(df)
    if (n <= maxTrainVectors) df
    else df.filter(pmod(xxhash64(col(idCol)), lit(n / maxTrainVectors + 1)) === 0)
  }

  /** Nearest-centroid cell assignment with FIXED centroids — the same
    * L2 argmin KMeans.transform computes (ties to the lowest cell id,
    * matching KMeans's first-minimum rule; spec-proven identical over
    * the corpus). Centroids are broadcast-sized model metadata BY
    * CONSTRUCTION (nCells ≤ 4096 × dim doubles), so the argmin runs
    * INSIDE each row via the codegen'd [[graft.functions.NearestCell]]
    * kernel: zero shuffle, zero per-centroid row explosion. The
    * previous shape crossJoined nCells rows per vector and picked the
    * winner with a row_number window — at an sf100 ingest batch that
    * was 102 M exploded rows shuffled and sorted PER 100 k-vector
    * append (the dominant term of the measured 67 s/batch). Distances
    * and the lowest-cell tie-break are bit-identical to the old
    * `norm2(zip_with(v, c, _-_))` + window(d2, cell) form.
    */
  private[ops] def assignCells(centroids: DataFrame, base: DataFrame,
                          spreadKernel: Boolean = false): DataFrame = {
    val rows = centroids.select(col("cell"), col("centroid")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    // empty centroids would make every row unassignable — fail at plan
    // construction with the store named, not row-by-row in the kernel
    require(rows.nonEmpty,
      "assignCells: empty centroid frame — the quantizer store is missing or torn")
    // gate the spread on the QUANTIZER's per-row argmin cost (nCells ×
    // dim flops): at sf100 geometry (1024 × 256) the exchange bought
    // back ~28 s of single-threaded kernel per 100 k batch, but at sf1
    // (128 × 256, a 0.1 s kernel) the same exchange ADDED ~1 s of fixed
    // stage cost per micro-batch — measured both ways in the r16 stream
    // campaign. 131072 = 512 cells × 256 dims, the decade boundary
    // where single-file batches stop being cheap to assign in place.
    val input = if (spreadKernel &&
        rows.length.toLong * rows.head._2.length >= 131072L)
      spreadForKernel(base) else base
    input.select(col("vec_id"), col("v"), col("norm2"),
      VectorOps.nearestCell(col("v"), rows.map(_._1), rows.map(_._2)).as("cell"))
  }

  /** CPU-spread for the row-local kernels on NARROW batch sources. A
    * streamed micro-batch usually arrives as ONE parquet file — one row
    * group, so the scan cannot split it — and a plain-filter guard (the
    * monotone hwm form) keeps that single partition all the way into
    * the assign/encode kernel: at sf100 that put a 26-GFLOP argmin
    * (100 k × 1024 centroids × 256 dims) on ONE thread, measured 40-56 s
    * per append vs ~10 s for everything else in the batch. (The r15
    * anti-join guard was accidentally immune: its shuffle spread the
    * batch before the kernel.) One batch-sized round-robin exchange
    * (~200 MB at sf100) buys the kernel full parallelism; skipped when
    * the batch already arrives at least as wide as the session's cores,
    * so multi-file batches and the anti-join form pay nothing.
    */
  private def spreadForKernel(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Incremental index growth — the continuous-ingest shape for ANN,
    * symmetric to dedup_incremental: a new embedding batch is assigned
    * to the EXISTING coarse quantizer (centroids are fixed model
    * metadata — no refit, no touch of the stored corpus) and appended.
    * At 100 TB this is an append of new files into the affected `cell=`
    * partitions of the persisted layout ([[IvfStore.append]]); periodic refit
    * is an offline rebuild, exactly like re-training any index. Cost
    * scales with the batch, never the corpus.
    */
  def appendToIvf(index: IvfIndex, newEmbeddings: DataFrame): IvfIndex =
    IvfIndex(index.centroids,
      index.assigned.unionByName(
        assignCells(index.centroids, prepared(newEmbeddings))))

  /** Float-codec shorthand: publish `index` as the next version of the
    * [[IvfStore]] at `path` and return its loader, whose `assigned` is
    * the cell-partition-pruned reader — compose it with [[queryIvf]] and
    * only probed cells are scanned.
    */
  def writeIvfPartitioned(index: IvfIndex, path: String): IvfIndex = {
    IvfStore.publish(index, path)
    loadIvfFlat(index.assigned.sparkSession, path)
  }

  /** Float-codec shorthand for [[IvfStore.load]] of the latest version. */
  def loadIvfFlat(spark: SparkSession, path: String): IvfIndex =
    IvfStore.load[IvfIndex](spark, path)

  /** Query phase against a built index: each query probes its nProbe
    * nearest cells (L2, the training metric) and exactly reranks only
    * those candidates. `queries` columns: query_id, qv array<double>,
    * qn2 (squared norm).
    */
  def queryIvf(index: IvfIndex, queries: DataFrame, k: Int = 5,
               nProbe: Int = 4, excludeSelf: Boolean = false): DataFrame =
    ivfRankTail(ivfProbes(index, queries, nProbe), index.assigned, k, excludeSelf)

  /** Per-query probed cells: nProbe nearest centroids, ties broken on
    * cell id — the shared head of both IVF query forms, so the served
    * form can never select different cells than the batch form.
    */
  private def ivfProbes(index: IvfIndex, queries: DataFrame, nProbe: Int): DataFrame =
    queries.crossJoin(broadcast(index.centroids))
      .withColumn("d2", VectorOps.vecNorm2(zip_with(col("qv"), col("centroid"),
        (a: Column, b: Column) => a - b)))
      .withColumn("pr", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("d2"), col("cell"))))
      .filter(col("pr") <= nProbe)
      .select(col("query_id"), col("qv"), col("qn2"), col("cell"))

  private def ivfRankTail(probes: DataFrame, assigned: DataFrame, k: Int,
                          excludeSelf: Boolean): DataFrame =
    probes.join(assigned, Seq("cell"))
      // self-exclusion only when queries are corpus rows (see
      // knnBruteForceQueries scaladoc) — external ids must not collide
      .filter(if (excludeSelf) col("query_id") =!= col("vec_id") else lit(true))
      .withColumn("cos_sim", round(cosRaw(col("qv"), col("v"), col("qn2"), col("norm2")), 4))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("vec_id"))).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos_sim"), col("rnk"))
      .orderBy(col("query_id"), col("rnk"))

  /** Serving form of [[queryIvf]] — identical output, bounded index
    * I/O: the probed cell set is computed FIRST (one broadcast-sized
    * job whose collect returns only the DISTINCT probed cells —
    * ≤ nCells values regardless of batch size) and applied to the
    * stored layout as a STATIC `cell IN (…)` predicate, so partition
    * pruning is decided at plan time. [[queryIvf]]'s cell equi-join
    * leaves pruning to runtime DPP, which does NOT engage on this plan
    * shape — measured (r15): every serving micro-batch scanned ALL
    * cells and every row of the index, which is what made the r14
    * sf1→sf10 serving latency grow 16× for 10× vectors. With the
    * static predicate, per-batch index I/O is the probed-cell union:
    * ≤ |batch|×nProbe of nCells partitions. The per-query cell join
    * still restricts each query to ITS probed cells, so the row set is
    * [[queryIvf]]'s exactly (spec-locked). Large OFFLINE query sets
    * should keep using [[queryIvf]]: their probed union covers ~every
    * cell (pruning cannot help a scan that needs all of them) and this
    * form evaluates the probe kernel twice — once for the cell
    * collect, once in the scoring join.
    */
  def queryIvfServed(index: IvfIndex, queries: DataFrame, k: Int = 5,
                     nProbe: Int = 4, excludeSelf: Boolean = false): DataFrame = {
    val probes = ivfProbes(index, queries, nProbe)
    val cells = probes.select(col("cell")).distinct().collect().map(_.get(0))
    // an empty micro-batch probes nothing: prune everything (isin with
    // zero values is not a plannable predicate on every Spark version)
    val pruned =
      if (cells.isEmpty) index.assigned.filter(lit(false))
      else index.assigned.filter(col("cell").isin(cells: _*))
    ivfRankTail(probes, pruned, k, excludeSelf)
  }

  /** Driver-facing composition: build the index and query it with the
    * first nQueries corpus vectors (self-query form of the benchmark).
    */
  def knnIvf(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
             nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val index = buildIvf(embeddings, nCells)
    val queries = index.assigned.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm2").as("qn2"))
    queryIvf(index, queries, k, nProbe, excludeSelf = true)
  }

  /** IVF-SQ8: the IVF cell layout SERVED FROM int8 codes — the
    * billion-vector configuration where the stored corpus is the
    * quantized form ([[quantizeInt8]]: 4× smaller than float32) and
    * only the query batch carries floats. Each probe therefore reads
    * 1/4 the bytes of float IVF on top of the nProbe/nCells partition
    * pruning; scoring runs on the dequantized codes (codes × scale),
    * whose recall the embed_quantize spec already bounds (and the
    * IvfSq8 spec re-asserts end-to-end ≥ 0.8 @5 vs brute force).
    * Build once / query many, same as [[buildIvf]]/[[queryIvf]].
    */
  def knnIvfSq8(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
                nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val deq = quantizeInt8(embeddings)
      .select(col("vec_id"),
        expr("transform(codes, c -> c * scale)").as("embedding"))
    val index = buildIvf(deq, nCells)
    // queries keep full float precision — only the CORPUS is quantized
    val queries = prepared(embeddings).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm2").as("qn2"))
    queryIvf(index, queries, k, nProbe, excludeSelf = true)
  }

  /** A trained product quantizer: per-subspace KMeans codebooks
    * (m_subs × k_centroids rows, each carrying its sub-vector centroid —
    * broadcast-sized model metadata, like [[IvfIndex]] centroids), plus
    * the geometry needed to slice queries the same way.
    */
  case class PqModel(codebooks: DataFrame, mSubs: Int, subDim: Int)

  /** An IVF-PQ index: coarse centroids, the product quantizer, and the
    * cell-tagged code table (vec_id, codes, cell). Like [[IvfIndex]],
    * the served geometry is read back from the centroid frame once per
    * instance.
    */
  case class IvfPqIndex(centroids: DataFrame, pq: PqModel, codes: DataFrame) {
    lazy val nCells: Int = centroids.count().toInt
  }

  /** Explode vectors into (id, sub, subv) sub-vector rows — the shared
    * slicing for PQ train/encode/query. Narrow (one explode, no
    * shuffle); `idCol`/`vecCol` name the input columns.
    */
  private def subVectors(df: DataFrame, idCol: String, vecCol: String,
                         mSubs: Int, subDim: Int): DataFrame =
    df.select(col(idCol), posexplode(expr(
        s"transform(sequence(0, ${mSubs - 1}), s -> slice($vecCol, s * $subDim + 1, $subDim))"))
      .as(Seq("sub", "subv")))

  /** Train a product quantizer (Jégou et al., TPAMI 2011): an
    * independent KMeans codebook per sub-vector block. m fits over
    * (corpus/m)-sized frames — training is a bounded model-fit pass,
    * exactly like the IVF coarse quantizer; the resulting codebooks are
    * m × k rows of metadata.
    */
  def trainPq(embeddings: DataFrame, mSubs: Int = 8, kCentroids: Int = 32): PqModel = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = embeddings.sparkSession
    import spark.implicits._
    val base = prepared(embeddings)
    val dim = base.select(size(col("v"))).head().getInt(0)
    require(dim % mSubs == 0, s"dim $dim not divisible by mSubs $mSubs")
    val subDim = dim / mSubs
    // codebooks fit on the (hash-sampled past 256k) training subset —
    // see [[trainSample]]; encodePq later covers the FULL corpus
    val subs = subVectors(trainSample(base, "vec_id"), "vec_id", "v", mSubs, subDim)
      .withColumn("fv", array_to_vector(col("subv")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    subs.count() // m fits share one materialization of the slices
    // the m fits are independent models over disjoint slices — run them
    // as concurrent Spark jobs (driver-side thread fan-out, the
    // supported multi-job pattern) so training costs ~one fit of
    // wall-clock, not m; seeds keep each model deterministic regardless
    // of completion order
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val books =
      try Await.result(Future.sequence((0 until mSubs).map { s =>
        Future {
          // 5 iterations: recall is iteration-insensitive here (offline
          // prototype: 0.8 at 3/5/10 iters) and each saved iteration is
          // two fewer scheduler round-trips per subspace
          val model = new KMeans().setK(kCentroids).setSeed(Similarity.baseSeed + s).setMaxIter(5)
            .setFeaturesCol("fv").setPredictionCol("cid")
            .fit(subs.filter(col("sub") === s))
          model.clusterCenters.zipWithIndex.map { case (c, i) => (s, i, c.toArray) }
        }
      }), Duration.Inf)
      finally subs.unpersist(false) // release the slice materialization
    PqModel(books.flatten.toDF("sub", "cid", "centroid"), mSubs, subDim)
  }

  /** Encode the corpus: per vector, the m nearest-centroid ids — m
    * bytes replacing dim floats (here 8 B vs 256 B float32, 32×). Same
    * broadcast-argmin shape as [[assignCells]], keyed by (vec_id, sub);
    * codes reassemble into one array row per vector so the stored
    * layout stays narrow.
    */
  def encodePq(model: PqModel, base: DataFrame): DataFrame = {
    // All m codes in ONE row-local codegen'd pass ([[graft.functions
    // .PqEncode]]): the codebooks are model metadata (m × k × subDim
    // doubles — a few MB), captured at plan construction like the
    // NearestCell centroid matrix. Two prior shapes of this encoder are
    // instructive at scale: the original cross-product window sorted
    // n·m·k rows (8.2e9 at sf100 — ~50 GB of sort spill, killed the
    // build); the r12 replacement cut that to n·m exploded sub-vector
    // rows with an array_min over higher-order functions — but HOFs are
    // CodegenFallback (interpreted per element: ~1.3e11 interpreted ops
    // for a full sf100 encode) and the per-vector reassembly was still
    // a shuffle of n·m rows. The kernel form is n rows end-to-end,
    // zero shuffle, tight generated loops. Distances accumulate
    // left-to-right and per-sub cids are iterated ascending with
    // strict improvement — codes bit-for-bit ≡ both prior forms
    // (array_min's (d2, cid) struct ordering), spec-locked.
    val books = model.codebooks.select(col("sub"), col("cid"), col("centroid"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val bySub = (0 until model.mSubs).map { s =>
      val rows = books.filter(_._1 == s).sortBy(_._2)
      (rows.map(_._2), rows.map(_._3))
    }
    base.select(col("vec_id"),
      VectorOps.pqEncode(col("v"), bySub.map(_._1).toArray,
        bySub.map(_._2).toArray, model.subDim).as("codes"))
  }

  /** IVF-PQ ANN — the billion-vector serving configuration (FAISS's
    * IVFx,PQy): coarse IVF cells prune I/O to nProbe/nCells, PQ codes
    * shrink what a probe READS to m bytes/vector, and scoring is
    * asymmetric-distance (ADC): the query precomputes, per subspace,
    * its dot/norm against all k centroids (an m×k lookup table —
    * broadcast), so a candidate scores with m table lookups instead of
    * a dim-length dot product. The ADC top `rerank` then re-score
    * exactly against the float vectors — the standard two-stage serve.
    *
    * Scale shape: candidate scoring shuffles only (query_id, vec_id,
    * partial sums); vectors re-join once for the rerank-sized survivor
    * set. Every model artifact (centroids, codebooks, ADC tables) is
    * broadcast-sized by construction.
    */
  def knnIvfPq(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
               nCells: Int = 16, nProbe: Int = 4, mSubs: Int = 8,
               kCentroids: Int = 32, rerank: Int = 50): DataFrame = {
    val index = ivfPq(buildIvf(embeddings, nCells), trainPq(embeddings, mSubs, kCentroids))
    val queries = prepared(embeddings).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm2").as("qn2"))
    queryIvfPq(index.centroids, index.pq, index.codes, queries, prepared(embeddings),
      k, nProbe, rerank, excludeSelf = true)
  }

  /** Query phase of IVF-PQ, shared by the in-memory composition
    * ([[knnIvfPq]]) and the persisted [[IvfStore]]: coarse
    * probe on `centroids`, ADC scoring of `codes` (vec_id, cell,
    * codes), exact rerank of the shortlist against `rerankCorpus` (a
    * [[prepared]] frame — at scale, a point-lookup of the rerank-sized
    * survivor id set, the only touch of float vectors on the whole
    * path).
    */
  def queryIvfPq(centroids: DataFrame, pq: PqModel, codes: DataFrame,
                 queries: DataFrame, rerankCorpus: DataFrame, k: Int = 5,
                 nProbe: Int = 4, rerank: Int = 50,
                 excludeSelf: Boolean = false): DataFrame = {
    // coarse probe: each query's nProbe nearest cells (same as queryIvf)
    val probes = queries.crossJoin(broadcast(centroids))
      .withColumn("d2", VectorOps.vecNorm2(zip_with(col("qv"), col("centroid"),
        (a: Column, b: Column) => a - b)))
      .withColumn("pr", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("d2"), col("cell"))))
      .filter(col("pr") <= nProbe)
      .select(col("query_id"), col("cell"))
    // ADC lookup tables, ONE broadcast row per query: the per-(sub, cid)
    // partial dot/norm² pairs flattened (sub, cid)-ordered into two
    // m×k arrays, so a candidate scores with m indexed lookups inside
    // the codegen'd [[graft.functions.PqAdcScore]] kernel. The previous
    // shape posexploded every candidate into m (sub, code) rows, joined
    // the exploded stream against a (query, sub, cid) table and
    // re-aggregated the partials — at an sf100 probe that was ~80 M
    // exploded rows through a join + hash-agg shuffle per 10-query
    // batch, and it was the whole serving wall (measured r16: 31.5 s
    // total, vs 3.9 s for float IVF over the SAME candidate mass; the
    // kernel form scores candidate rows 1:1 with zero re-aggregation).
    val kWidth = (pq.codebooks.count() / math.max(1, pq.mSubs)).toInt
    val adcTab = subVectors(queries, "query_id", "qv", pq.mSubs, pq.subDim)
      .join(broadcast(pq.codebooks), Seq("sub"))
      .select(col("query_id"), col("sub"), col("cid"),
        VectorOps.vecDot(col("subv"), col("centroid")).as("pdot"),
        VectorOps.vecNorm2(col("centroid")).as("pnorm2"))
      // lexicographic struct sort = (sub, cid) order = flat index s·k+cid
      .groupBy(col("query_id"))
      .agg(sort_array(collect_list(struct(col("sub"), col("cid"),
        col("pdot"), col("pnorm2")))).as("t"))
      .select(col("query_id"),
        expr("transform(t, x -> x.pdot)").as("tdot"),
        expr("transform(t, x -> x.pnorm2)").as("tnorm"))
    val scored = broadcast(probes).join(codes, Seq("cell"))
      .filter(if (excludeSelf) col("query_id") =!= col("vec_id") else lit(true))
      .join(broadcast(adcTab), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        VectorOps.pqAdcScore(col("codes"), col("tdot"), col("tnorm"), kWidth)
          .as("adc_score"))
      .withColumn("approx_rnk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("adc_score").desc, col("vec_id"))))
      .filter(col("approx_rnk") <= rerank)
      .select(col("query_id"), col("vec_id"))
    scored
      .join(rerankCorpus, Seq("vec_id"))
      .join(broadcast(queries), Seq("query_id"))
      .withColumn("cos_sim", round(cosRaw(col("qv"), col("v"), col("qn2"), col("norm2")), 4))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("vec_id"))).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos_sim"), col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** The PQ codec form of a built IVF index: every vector encoded
    * against the codebooks and tagged with its coarse cell — what an
    * [[IvfStore]] of the PQ codec holds, where a probe reads m BYTES per
    * candidate from only its probed cells' files and the float corpus is
    * cold storage touched only by the rerank point-lookup.
    */
  def ivfPq(ivf: IvfIndex, pq: PqModel): IvfPqIndex =
    IvfPqIndex(ivf.centroids, pq, encodePq(pq, ivf.assigned)
      .join(ivf.assigned.select(col("vec_id"), col("cell")), Seq("vec_id")))

  /** Random-hyperplane LSH ANN — the scale path. bands×bitsPerBand
    * pseudo-random hyperplanes (deterministic ±1 entries from xxhash64
    * parity of (dimension, plane)); per band, the sign pattern forms a
    * bucket key; docs sharing ANY band bucket become candidates and are
    * exactly reranked. Candidate volume is collision-proportional — the
    * corpus is never self-joined. Band geometry trades recall vs cost:
    * more/narrower bands → higher recall, more candidates (tune to the
    * corpus's similarity distribution at scale).
    */
  def knnLsh(embeddings: DataFrame, nQueries: Int = 10, k: Int = 5,
             bands: Int = 4, bitsPerBand: Int = 4): DataFrame = {
    val base = prepared(embeddings)
    val q = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm2").as("qn2"))
    knnLshQueries(base, q, k, bands, bitsPerBand, excludeSelf = true)
  }

  /** Query-batch form of [[knnLsh]]: `queries` columns (query_id, qv
    * array<double>, qn2) against a [[prepared]] corpus. `excludeSelf`
    * only when the queries are corpus rows (see [[knnBruteForceQueries]]).
    */
  def knnLshQueries(preparedCorpus: DataFrame, queries: DataFrame, k: Int = 5,
                    bands: Int = 4, bitsPerBand: Int = 4,
                    excludeSelf: Boolean = false): DataFrame = {
    val base = preparedCorpus
    // Candidate generation carries ONLY (id, bucket) — the vectors stay
    // out of the bucket join and the candidate dedup shuffle. At 100 TB
    // the exploded index is ids+longs (~16 bytes/row), not the
    // embeddings themselves; payloads re-join once per SURVIVING pair.
    val buckets = base.select(col("vec_id"),
      explode(VectorOps.hyperplaneBands(col("v"), bands, bitsPerBand)).as("bucket"))
    val qBuckets = broadcast(queries.select(col("query_id"),
      explode(VectorOps.hyperplaneBands(col("qv"), bands, bitsPerBand)).as("bucket")))
    val pairs = qBuckets.join(buckets, Seq("bucket"))
      .filter(if (excludeSelf) col("query_id") =!= col("vec_id") else lit(true))
      .select(col("query_id"), col("vec_id"))
      .dropDuplicates("query_id", "vec_id")
    val qVecs = broadcast(queries)
    pairs
      .join(base, Seq("vec_id"))
      .join(qVecs, Seq("query_id"))
      .withColumn("cos_sim", round(cosRaw(col("qv"), col("v"), col("qn2"), col("norm2")), 4))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("vec_id"))).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos_sim"), col("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }
}

/** Session-scoped ANN SERVING layer — the build-once/serve-many split the
  * FAISS deployment pattern means (train/encode offline, serve online):
  * the FIRST call per sf-dir builds the index family, publishes each as
  * version 1 of an [[IvfStore]] (float IVF and SQ8 under the float codec,
  * IVF-PQ under the PQ codec — the layout the equivalence specs prove
  * ≡ in-memory), and caches the loaders; every subsequent call
  * (bench rep, query endpoint hit) runs ONLY the query phase against the
  * stored layout. What gets timed repeatedly is therefore the serving
  * latency — the thing the whole IVF/PQ design argument is about — not a
  * per-execution KMeans retrain. At 100 TB the "cache" is simply the
  * index's published path; rebuilds are periodic offline jobs like any
  * index retrain.
  */
object AnnServing {
  import Similarity.{IvfIndex, IvfPqIndex}
  import graft.sources.{ServingLayouts, SessionCache}
  import scala.util.control.NonFatal

  // In-memory caches hold DataFrames bound to the session that built
  // them, so they are session-scoped: SessionCache keys entries by a
  // collision-free session id and keeps AT MOST ONE entry per corpus
  // (newest session wins, superseded entries evicted — the r9-advisor
  // unbounded-churn fix). The layouts themselves live at
  // ServingLayouts-stable paths, so a second PROCESS also reuses them.
  private val ivfCache = new SessionCache[(String, IvfIndex)]()
  private val sq8Cache = new SessionCache[(String, IvfIndex)]()

  private val pqCache  = new SessionCache[(String, IvfPqIndex)]()
  private val exactCache = new SessionCache[DataFrame](df =>
    df.unpersist(blocking = false)) // drop pinned blocks when an entry is superseded

  /** Serve-with-liveness: get-or-build the cached (dir, value), then
    * revalidate the layout marker ON EVERY SERVE — if a vacuum raced a
    * long-lived server and reclaimed the files, the entry is evicted
    * and rebuilt instead of failing every later call — and touch the
    * marker so a live layout can never age out under the server.
    */
  private def servedValidated[V](cache: SessionCache[(String, V)],
                                 spark: SparkSession, sfDir: String)
                                (make: () => (String, V)): V = {
    val (dir, v) = cache.getOrBuild(spark, sfDir)(make())
    if (ServingLayouts.isComplete(dir)) { ServingLayouts.touch(dir); v }
    else {
      cache.invalidate(sfDir)
      val (d2, v2) = cache.getOrBuild(spark, sfDir)(make())
      ServingLayouts.touch(d2); v2
    }
  }

  // Every serving family is an IvfStore, so the offline rebuild and
  // compact ops compose with live serving: publish v+1, flip the cache,
  // and pinned readers keep their version directory. Float IVF and SQ8
  // use the float codec (SQ8 stores the int8-dequantized vectors), PQ
  // the PQ codec.
  private def ivfStore(sfDir: String): String =
    ServingLayouts.dirFor("ivf", sfDir) + "/ivf"

  /** Cold-start a store: publish v1 via `build` if no version exists.
    * Tolerates losing a concurrent cold-start's publish race: if
    * versions exist after the failure, serve those.
    */
  private def ensurePublished(spark: SparkSession, store: String)(build: => Long): Unit =
    if (IvfStore.versions(spark, store).isEmpty)
      try build
      catch {
        case NonFatal(e) if IvfStore.versions(spark, store).isEmpty => throw e
        case NonFatal(_) => ()
      }

  /** BUILD-time geometry: explicit nCells wins; the ≤0 sentinel derives
    * from the corpus size ([[graft.ops.LshGeometry.ivf]] — the one
    * `count()` on the whole serving path, paid only when a layout is
    * actually built; serving always reads geometry back from the stored
    * layout itself, [[Similarity.IvfIndex.nCells]]).
    */
  private def cellsForBuild(spark: SparkSession, sfDir: String, nCells: Int): Int =
    if (nCells > 0) nCells
    else graft.ops.LshGeometry.ivf(graft.Tables.cachedCount(graft.Tables.embeddings(spark, sfDir)))._1

  /** QUERY-time probe width: explicit nProbe wins; the ≤0 sentinel
    * derives from the SERVED index's cell count, so a loaded layout is
    * probed at the geometry it was built for regardless of what a
    * fresh derivation would pick today.
    */
  private def probeFor(nProbe: Int, servedCells: Int): Int =
    if (nProbe > 0) nProbe else graft.ops.LshGeometry.ivfProbe(servedCells)

  private def servedIvf(spark: SparkSession, sfDir: String, nCells: Int): IvfIndex =
    servedValidated(ivfCache, spark, sfDir) { () =>
      val home = ServingLayouts.dirFor("ivf", sfDir)
      val store = home + "/ivf"
      // intent is staged inside the version dir → atomic with the publish
      ensurePublished(spark, store)(IvfStore.publish(
        Similarity.buildIvf(graft.Tables.embeddings(spark, sfDir),
          cellsForBuild(spark, sfDir, nCells)), store, geometryIntent = Some(nCells > 0)))
      ServingLayouts.markComplete(home)
      (home, IvfStore.load[IvfIndex](spark, store))
    }

  /** Act on the [[ivfCellStats]] drift signal for the SERVED index:
    * retrain offline (a refit published as version n+1 of the store,
    * atomically), then flip the serving cache to the new version.
    * In-flight readers of the old version keep their directory; every
    * call after the flip serves the rebuilt quantizer. Returns the
    * published version.
    */
  def rebuildServedIvf(spark: SparkSession, sfDir: String, nCells: Int = -1): Long = {
    // Refit from the CORPUS, not from the stored assigned frame, and
    // publish into the store at the CURRENT corpus stamp (ivfStore
    // resolves it — after corpus growth that is a fresh rotated home,
    // the drift-flag case; the prior-stamp home stays for in-flight
    // readers until vacuum). Corpus-refit for two reasons: (1) the
    // rebuild must INCORPORATE corpus changes — that is what the drift
    // flag asked for; (2) determinism — seeded KMeans is reproducible
    // only over the same frame in the same order, and a refit from the
    // cell-partitioned assigned frame produces a different (valid but
    // non-reproducible) quantizer, which the cross-process hammer
    // caught as a fingerprint flip between two correct drivers.
    val store = ivfStore(sfDir)
    val v = IvfStore.publish(
      Similarity.buildIvf(graft.Tables.embeddings(spark, sfDir),
        cellsForBuild(spark, sfDir, nCells)), store,
      geometryIntent = Some(nCells > 0))
    ivfCache.invalidate(sfDir) // next serve loads the freshly published version
    servedIvf(spark, sfDir, nCells)
    v
  }

  private def queriesOf(base: DataFrame, nQueries: Int): DataFrame =
    base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm2").as("qn2"))

  /** IVF served from the persisted cell-partitioned index. Output ≡
    * [[Similarity.knnIvf]] (same geometry, same seed — the persistence
    * spec proves the layout round-trips exactly).
    */
  def knnIvf(spark: SparkSession, sfDir: String, nQueries: Int = 10, k: Int = 5,
             nCells: Int = -1, nProbe: Int = -1): DataFrame = {
    val index = servedIvf(spark, sfDir, nCells)
    val queries = queriesOf(Similarity.prepared(graft.Tables.embeddings(spark, sfDir)), nQueries)
    // equi-join form, NOT queryIvfServed: at the recall-floor probe
    // fractions (≥1/4 past 128 cells) a 10-query batch's probed-cell
    // union covers ≈ 1-(1-p)^10 ≈ 94% of the index — static pruning
    // cannot pay, and its extra probe-collect job is a pure per-call
    // loss (measured 1.4× at gate SF). The served form is for SMALL
    // per-batch query sets (the streaming drain).
    Similarity.queryIvf(index, queries, k, probeFor(nProbe, index.nCells),
      excludeSelf = true)
  }

  /** IVF-SQ8 served from the persisted index over the int8-dequantized
    * corpus; queries keep full float precision (see [[Similarity.knnIvfSq8]]).
    * Serves the latest version of the float-codec store at `<home>/ivf`.
    */
  def knnIvfSq8(spark: SparkSession, sfDir: String, nQueries: Int = 10, k: Int = 5,
                nCells: Int = -1, nProbe: Int = -1): DataFrame = {
    val index = servedValidated(sq8Cache, spark, sfDir) { () =>
      val home = ServingLayouts.dirFor("sq8", sfDir)
      val store = home + "/ivf"
      ensurePublished(spark, store) {
        val deq = Similarity.quantizeInt8(graft.Tables.embeddings(spark, sfDir))
          .select(col("vec_id"), expr("transform(codes, c -> c * scale)").as("embedding"))
        IvfStore.publish(Similarity.buildIvf(deq, cellsForBuild(spark, sfDir, nCells)), store)
      }
      ServingLayouts.markComplete(home)
      (home, IvfStore.load[IvfIndex](spark, store))
    }
    val queries = queriesOf(Similarity.prepared(graft.Tables.embeddings(spark, sfDir)), nQueries)
    // equi-join form for the same reason as knnIvf: a 10-query batch's
    // probed union defeats static pruning at recall-floor fractions
    Similarity.queryIvf(index, queries, k, probeFor(nProbe, index.nCells),
      excludeSelf = true)
  }

  /** IVF-PQ served from the persisted code layout: the hot path scans m
    * bytes/candidate from probed cells' files; the float corpus is
    * touched only by the rerank point-lookup. Output ≡
    * [[Similarity.knnIvfPq]] (the persisted-≡-in-memory spec).
    */
  def knnIvfPq(spark: SparkSession, sfDir: String, nQueries: Int = 10, k: Int = 5,
               nCells: Int = -1, nProbe: Int = -1, mSubs: Int = -1,
               kCentroids: Int = -1, rerank: Int = -1): DataFrame = {
    val layout = servedValidated(pqCache, spark, sfDir) { () =>
      val home = ServingLayouts.dirFor("ivfpq", sfDir)
      val store = home + "/pq"
      ensurePublished(spark, store) {
        val emb = graft.Tables.embeddings(spark, sfDir)
        // one count() pays for all build-time derivations (cells +
        // codebook width + sub-quantizer count); serving reads geometry
        // back from the layout
        val n = emb.count()
        val cells = if (nCells > 0) nCells else graft.ops.LshGeometry.ivf(n)._1
        val kc = if (kCentroids > 0) kCentroids else graft.ops.LshGeometry.pq(n)
        val dim = Similarity.prepared(emb).select(size(col("v"))).head().getInt(0)
        val m = if (mSubs > 0) mSubs else graft.ops.LshGeometry.pqSubs(dim, n)
        IvfStore.publish(Similarity.ivfPq(Similarity.buildIvf(emb, cells),
          Similarity.trainPq(emb, m, kc)), store)
      }
      ServingLayouts.markComplete(home)
      (home, IvfStore.load[IvfPqIndex](spark, store))
    }
    val base = Similarity.prepared(graft.Tables.embeddings(spark, sfDir))
    Similarity.queryIvfPq(layout.centroids, layout.pq, layout.codes,
      queriesOf(base, nQueries), base, k,
      probeFor(nProbe, layout.nCells),
      if (rerank > 0) rerank else graft.ops.LshGeometry.pqRerank(layout.nCells),
      excludeSelf = true)
  }

  /** Serving scoreboard: per-query recall@k of every ANN family against
    * the exact brute-force top-k — the quality metric a vector-search
    * deployment monitors continuously (recall regressions from index
    * drift/staleness show up here before users notice). The exact set
    * is computed once and each family's result semi-joins it on
    * (query_id, neighbor_id); all frames are query-batch-sized, so the
    * report costs one brute-force pass + the families' serving queries
    * regardless of corpus size. Rows-only in the gate (rankings depend
    * on the KMeans coarse quantizers); the per-family recall FLOORS are
    * spec-gated.
    */
  def recallReport(spark: SparkSession, sfDir: String,
                   nQueries: Int = 10, k: Int = 5): DataFrame = {
    // cached per sf-dir (like the index caches), NOT per call: a
    // per-call cache() would pin one more nQueries×k frame on every
    // invocation of a long-lived serving/bench loop
    val exact = exactCache.getOrBuild(spark, sfDir)(
      Similarity.knnBruteForce(graft.Tables.embeddings(spark, sfDir), nQueries, k)
        .select(col("query_id"), col("neighbor_id"))
        .cache())
    val exactCounts = exact.groupBy(col("query_id")).agg(count(lit(1)).as("n_exact"))
    def scored(kind: String, ann: DataFrame): DataFrame = {
      val hits = ann.select(col("query_id"), col("neighbor_id"))
        .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
      exactCounts
        .join(hits, Seq("query_id"), "left")
        .select(lit(kind).as("index_kind"), col("query_id"), col("n_exact"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .withColumn("recall_at_k",
          round(col("n_hits").cast("double") / col("n_exact"), 4))
    }
    val emb = graft.Tables.embeddings(spark, sfDir)
    val perQuery = scored("lsh", Similarity.knnLsh(emb, nQueries, k))
      .unionByName(scored("ivf", knnIvf(spark, sfDir, nQueries, k)))
      .unionByName(scored("ivf_sq8", knnIvfSq8(spark, sfDir, nQueries, k)))
      .unionByName(scored("ivf_pq", knnIvfPq(spark, sfDir, nQueries, k)))
    // Family-mean floors, GATED IN THE OUTPUT (not only in CI): the
    // driver's rows-only check sees recall_ok=false rows the moment a
    // serving index regresses below its family's floor — the r8
    // verdict's "promote the monitoring report to a gate" ask. Floors
    // are the spec-locked levels at the report's serving config — the
    // SIZE-DERIVED geometry (LshGeometry.ivf/pq: the legacy 4-of-16
    // probes at gate sizes; √n cells with the stepped probe schedule
    // (cells/8 through 128 cells, cells/4 beyond) + 8-bit PQ codebooks
    // and the tiered 50/500/2000 rerank of LshGeometry.pqRerank at
    // scale; r11 measured the fixed
    // gate geometry collapsing ivf_pq to 0.22 family recall at sf1,
    // and the derived geometry restoring every family above its floor
    // at sf1 — the scale gate asserts recall_ok there). LSH's low
    // floor is the geometry's honest low-similarity-neighbor behavior
    // (SimilaritySpec:174).
    val floors = typedLit(Map(
      "lsh" -> 0.2, "ivf" -> 0.5, "ivf_sq8" -> 0.5, "ivf_pq" -> 0.45))
    val byFamily = Window.partitionBy(col("index_kind"))
    perQuery
      .withColumn("family_recall", round(avg(col("recall_at_k")).over(byFamily), 4))
      .withColumn("recall_ok",
        col("family_recall") >= element_at(floors, col("index_kind")))
      .orderBy(col("index_kind"), col("query_id"))
  }

  /** IVF index-health report: per-cell vector counts and share of the
    * corpus — the balance dashboard for a cell-partitioned ANN layout
    * (a skewed quantizer concentrates probes on hot cells and defeats
    * the nProbe/nCells pruning argument; this is the view that says
    * "retrain the coarse quantizer" — and [[rebuildServedIvf]] is the
    * op that acts on it: offline refit, atomic version publish).
    * One count-aggregation on the served index's assignment frame;
    * output is nCells rows. Driver-gated rows-only BY NECESSITY, not
    * choice: the DuckDB oracle cannot execute a KMeans fit, and the
    * assignment frame lives outside the oracle's table views — the
    * histogram's determinism claim (two independent seeded builds agree
    * cell-for-cell) is carried by the SimilaritySpec gate instead.
    */
  def ivfCellStats(spark: SparkSession, sfDir: String, nCells: Int = -1): DataFrame = {
    val index = servedIvf(spark, sfDir, nCells)
    // Geometry-drift columns (r11 verdict item 3): a layout correctly
    // serves at its STORED geometry forever, so nothing used to report
    // when the corpus had grown past it — the exact failure ANNRECALL
    // caught twice in r11, found only because a human re-ran the gate
    // at a new SF. stored_cells is the served quantizer's geometry;
    // derived_cells is what LshGeometry.ivf would pick for TODAY's
    // corpus; a mismatch flips rebuild_recommended, and
    // [[rebuildServedIvf]] is the versioned-publish op that acts on it
    // (grow→flag→rebuild→flag-clears is spec-driven). One extra corpus
    // count() per report — maintenance-cadence cost.
    val stored = index.nCells
    val derived = graft.ops.LshGeometry.ivf(
      graft.Tables.cachedCount(graft.Tables.embeddings(spark, sfDir)))._1
    // An EXPLICIT-geometry build (rebuildServedIvf(nCells = …)) is a
    // deliberate operator decision: still report stored/derived so the
    // drift magnitude stays visible, but don't nag rebuild_recommended
    // forever over a chosen override (r12 advisor).
    val explicitIntent = IvfStore.geometryIntentExplicit(spark, ivfStore(sfDir))
    val total = index.assigned.agg(count(lit(1)).as("__n"))
    index.assigned
      .groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"))
      .join(broadcast(total))
      .select(col("cell").cast("long").as("cell"), col("n_vecs"),
        round(col("n_vecs").cast("double") / col("__n"), 4).as("share"),
        lit(stored.toLong).as("stored_cells"),
        lit(derived.toLong).as("derived_cells"),
        lit(stored != derived && !explicitIntent).as("rebuild_recommended"))
      .orderBy(col("cell"))
  }

  /** Stored-vs-derived geometry for `corpusDir`'s served IVF store,
    * WITHOUT building or serving anything: None when no store has ever
    * been published. The passive twin of [[ivfCellStats]]'s drift
    * columns — what [[graft.Maintain]] reports on its cron cadence, so
    * a corpus that quietly outgrew its quantizer geometry surfaces on
    * the operational loop instead of waiting for someone to re-run the
    * recall gate. Returns (storedCells, derivedCells, rebuildRecommended).
    */
  def ivfGeometryDrift(spark: SparkSession, corpusDir: String): Option[(Int, Int, Boolean)] =
    // homesFor, not existingDirFor: home names hash the corpus CONTENT
    // stamp, so after the corpus changes, the home a long-lived server
    // is still pinned to is a PRIOR-stamp one — exactly the layout the
    // drift report must judge. Newest-first; the first home holding a
    // published store is the one being served.
    ServingLayouts.homesFor("ivf", corpusDir).iterator
      .map(_ + "/ivf")
      .find(store => IvfStore.versions(spark, store).nonEmpty)
      .map { store =>
        val stored = IvfStore.load[IvfIndex](spark, store).nCells
        val derived = graft.ops.LshGeometry.ivf(
          graft.Tables.cachedCount(graft.Tables.embeddings(spark, corpusDir)))._1
        // same intent rule as [[ivfCellStats]]: an explicit-geometry
        // store reports its drift numbers but never recommends rebuild
        (stored, derived,
          stored != derived && !IvfStore.geometryIntentExplicit(spark, store))
      }
}
