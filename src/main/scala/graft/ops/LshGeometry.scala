package graft.ops

/** Corpus-size-derived LSH band geometry — the round-9 verdict's ask:
  * stop hard-coding (bands, rows) and derive them from n with the
  * recall floor re-derived per geometry, so the same entry point is
  * correctly tuned at sf0.01 and at 100 TB.
  *
  * Two families, two knobs each:
  *
  * '''MinHash (Jaccard) banding''' — b bands of r minhashes; a pair at
  * Jaccard j collides in one band with probability j^r, in any band
  * with 1−(1−j^r)^b (Leskovec/Rajaraman/Ullman, MMDS ch. 3). The band
  * KEY space is an unbounded hash, so bucket occupancy never
  * saturates; what grows with n is the number of low-similarity pairs
  * that sneak past r minhash agreements. Rows therefore grow
  * logarithmically with the corpus (each extra row multiplies a
  * background pair's collision odds by j_bg < 1), and bands are then
  * re-derived so the recall floor at the corpus's minimum true-dup
  * Jaccard stays put. With j_bg ≈ 0.3, r(n) = log4(n/50) suppresses
  * background collisions by ~n⁻¹·⁰ relative to fixed geometry —
  * candidates stay ∝ true dups instead of ∝ n²/|shingle space|.
  *
  * '''Random-hyperplane (cosine) banding''' — b bands of k sign bits;
  * p_bit(c) = 1 − acos(c)/π, band collision p_bit^k. Here the band key
  * space IS 2^k, so k must grow ~log₂ n to keep the n²·b/2^k
  * background candidate mass bounded, and b is re-derived for the
  * recall target at the corpus's TRUE-DUP similarity (0.85) — not at
  * the 0.45 verification threshold, where the LSH exponent ρ ≈ 0.63
  * makes near-1 recall cost ~n^1.63 (see [[hyperplane]] for the
  * measured failure and the two-regime rule).
  *
  * The constants are anchored so the DRIVER-gate corpora reproduce the
  * r1–r9 hand-tuned geometries exactly — (16, 4) minhash below ~6k
  * docs, (32, 4) hyperplane up to 4k vectors — so every strict
  * oracle gate keeps its measured behavior, and the formula only
  * changes what was never gate-locked: the geometry at scale.
  */
object LshGeometry {

  /** Per-bit collision probability of a hyperplane for a pair at
    * cosine c (Goemans–Williamson / Charikar 2002). */
  def pBit(cos: Double): Double = 1.0 - math.acos(cos) / math.Pi

  /** Any-of-b-bands collision probability for a pair at cosine `cos`
    * under (bands, bitsPerBand) — the per-pair recall floor. */
  def hyperplaneRecall(cos: Double, bands: Int, bitsPerBand: Int): Double =
    1.0 - math.pow(1.0 - math.pow(pBit(cos), bitsPerBand), bands)

  /** Any-of-b-bands collision probability for a pair at Jaccard `j`
    * under (bands, rows) — the per-pair recall floor. */
  def minhashRecall(j: Double, bands: Int, rows: Int): Double =
    1.0 - math.pow(1.0 - math.pow(j, rows), bands)

  /** (bands, rows) for an n-document corpus.
    *
    * rows = max(4, ⌈log₄(n/50)⌉): every extra row costs a background
    * pair (j_bg ≲ 0.3 in any non-degenerate corpus) ≥ 4× collision
    * odds, so growing rows with log₄ n keeps expected false candidates
    * per doc ~flat as n grows. bands is then the smallest b with
    * 1−(1−j₀^r)^b ≥ 1−targetMiss at j₀ = the minimum Jaccard of a pair
    * the op must find (the " dup"-suffix injection floor (w−2)/(w−1) ≥
    * 0.889 at w = 10 — and any REAL near-dup definition sits at 0.8+).
    * Floored at the r1–r9 geometry (16, 4) so driver-gate corpora are
    * bit-for-bit unchanged.
    */
  def minhash(n: Long, minDupJaccard: Double = 0.889,
              targetMiss: Double = 1e-6): (Int, Int) = {
    val rows = math.max(4, math.ceil(math.log(n / 50.0) / math.log(4.0)).toInt)
    val pBand = math.pow(minDupJaccard, rows)
    val bands = math.max(16,
      math.ceil(math.log(1.0 / targetMiss) / -math.log1p(-pBand)).toInt)
    (bands, rows)
  }

  /** Number of simhash blocks B for an n-document corpus under the
    * blocked-pigeonhole scheme (Manku/Jain/Das Sarma, WWW'07 §3): split
    * the 64-bit fingerprint into B blocks; a pair within hamming k
    * differs in ≤ k blocks, so it agrees on SOME (B−k)-block subset,
    * and C(B, k) tables keyed on each such subset catch every pair
    * exactly. The knob is the key width 64·(B−k)/B: B = 4 (the r1–r9
    * geometry — 4 tables on single 16-bit blocks) keys only 16 bits,
    * and on Zipfian text, where head-word mass correlates fingerprint
    * bits across UNRELATED documents, 16-bit buckets go hot and the
    * within-bucket self-join is the one super-linear curve left in the
    * r10 scale sweep (14.5× for ×10 data). Growing B widens the key
    * (B = 6 → 3-block ≈ 32-bit keys, 20 tables) so bucket occupancy
    * shrinks exponentially while table count grows only C(B, k) —
    * candidate mass ∝ n, the table factor a constant.
    *
    * Rule: smallest B with key bits ⌊64(B−k)/B⌋ ≥ log₂ n + `marginBits`
    * (margin absorbs the sub-1-bit entropy of correlated fingerprint
    * bits), floored at the legacy B = 4 below ~4k docs so driver-gate
    * corpora keep their r1–r9 candidate sets bit-for-bit, capped at 10
    * (120 tables, 44-bit keys — past any realistic single-table n).
    */
  def simhashBlocks(n: Long, maxHamming: Int = 3,
                    marginBits: Int = 13, smallN: Long = 4096): Int = {
    if (n <= smallN) return 4
    val need = math.log(n.toDouble) / math.log(2.0) + marginBits
    var b = maxHamming + 2 // B must exceed k for a nonempty key
    while (b < 10 && 64 * (b - maxHamming) / b < need) b += 1
    b
  }

  /** (bands, bitsPerBand) for an n-vector corpus. Two regimes, because
    * hyperplane LSH at a 0.45 cosine threshold has exponent
    * ρ = ln(1/p₁)/ln(1/p₂) ≈ 0.63 — maintaining near-1 recall AT the
    * threshold while suppressing background collisions costs ~n^1.63,
    * worse than the broadcast all-pairs scan it is meant to replace
    * (measured: a threshold-targeted 128×9 geometry produced ~50 M
    * background candidates on 20 k vectors — 26% of ALL pairs):
    *
    *  - '''n ≤ smallN (4 000)''': the legacy (32, 4). Near-all-pairs
    *    candidate mass is cheap at this size, and the strict-equality
    *    oracle gates (which include genuinely threshold-adjacent pairs
    *    in the isotropic driver corpora) keep their measured ~0.998
    *    per-pair floor. Driver-gate behavior is bit-for-bit r1–r9.
    *  - '''n > smallN''': geometry solves the coupled system
    *    bits = ⌈log₂(bands·n / candPerVec)⌉ (expected BACKGROUND
    *    candidates per vector ≈ bands·n/2^bits stays ≤ candPerVec,
    *    since a random pair's per-bit collision odds are ~1/2) and
    *    bands = ⌈ln(1/miss)/−ln(1−p_bit(dupSim)^bits)⌉ (recall ≥
    *    1−targetMiss at the corpus's true-dup similarity level), to a
    *    fixed point, bands capped at `maxBands`. The 0.45-threshold
    *    floor honestly degrades (report it with [[hyperplaneRecall]]);
    *    the scale contract — what check_lsh_recall.py asserts against
    *    the exact oracle — is the dup-level floor, which this keeps ≥
    *    1−targetMiss while candidates stay ∝ n, not n². At sf1/sf10
    *    this lands (102, 14)/(225, 18).
    */
  /** (nCells, nProbe) for an n-vector IVF corpus — the coarse-quantizer
    * twin of the banding rules above, same anchoring discipline:
    * `(16, 4)` up to `smallN` (the r1–r10 hand geometry — every strict
    * driver-gate corpus is below it, so gate behavior is bit-for-bit
    * unchanged), and above it nCells grows ~√n (power of two, capped)
    * with nProbe from [[ivfProbe]]'s measured stepped schedule —
    * max(8, cells/8) through 128 cells, max(32, cells/4) beyond (so
    * small derived cell counts probe a fraction ABOVE 1/8, and fine
    * partitions double it). Why these shapes:
    *
    *  - cells ∝ √n keeps per-cell occupancy ∝ √n — the knob
    *    [[Similarity.semDedup]]'s quadratic-budget argument and
    *    ivf_cell_stats' balance dashboard both ride on (FAISS's nlist
    *    rule of thumb for flat-scanned cells);
    *  - a size-derived probe SCHEDULE holds measured recall ~stable
    *    across decades — the r11 sf1 measurement showed the fixed
    *    (16, 4) geometry collapsing ivf_pq family recall to 0.22 at
    *    10× the anchor corpus, and the r11 sf10 measurement showed a
    *    flat 1/8 fraction falling through the floors at 256 cells
    *    (see [[ivfProbe]]) — both the fixed-geometry-at-scale failure
    *    the minhash/hyperplane derivations exist to prevent.
    *    Candidates per query are a probe-fraction slice of ids but
    *    only code-bytes of I/O on the PQ/SQ8 paths — the probe
    *    fraction is the deployment's latency/recall dial, and the
    *    serving floors are defined AT this derived config.
    */
  def ivf(n: Long, smallN: Long = 4000, maxCells: Int = 4096): (Int, Int) = {
    if (n <= smallN) return (16, 4)
    val cells = math.min(maxCells,
      math.max(32, Integer.highestOneBit(math.sqrt(n.toDouble).toInt)))
    (cells, ivfProbe(cells))
  }

  /** nProbe for a served index with `nCells` cells (derived from the
    * STORED layout's centroid count, so a loaded index is always
    * queried at the geometry it was built for): the legacy 4 at the
    * legacy 16 cells; the 1/8 probe fraction through 128 cells; 1/4
    * beyond. The step is MEASURED, not assumed (graft.AnnTune at sf10,
    * 256 cells over 200k vectors, 250 hit samples): at 1/8 recall@5
    * fell through the 0.50 floor (ivf 0.45, sq8 0.52) because finer
    * partitions slice weak-margin neighborhoods across more cells,
    * while 1/4 restores 0.73/0.73 — recall lost to the fraction, not
    * to n. The schedule is corpus-measured; a deployment watches
    * ann_recall_report (the floors ride in its output) and turns the
    * exposed nProbe knob, exactly as it would with any IVF serving
    * stack.
    */
  def ivfProbe(nCells: Int): Int =
    if (nCells <= 16) 4
    else if (nCells <= 128) math.max(8, nCells / 8)
    else math.max(32, nCells / 4)

  /** PQ sub-quantizer count for a `dim`-dimensional corpus: the legacy
    * 8 at gate sizes; at scale one sub-quantizer per 8 dimensions (the
    * standard PQ operating point). Measured at sf10 (graft.AnnTune):
    * with m=8 over 128 dims, per-subspace distortion dominates the
    * weak cos-margins of threshold-adjacent neighbors and ADC ranking
    * caps recall ~0.57 even at rerank 5000; m=16 (8 dims/sub, 16 B/vec
    * — 16x not 32x compression) restores the ADC ordering. Stored
    * stores carry their own m (the PQ codec reads it back from the
    * codebooks), so this only shapes NEW builds.
    */
  def pqSubs(dim: Int, n: Long, smallN: Long = 4000): Int =
    if (n <= smallN) 8
    // largest m in [2, dim/8] that divides dim (trainPq slices evenly).
    // The search must NOT bottom out at m=1 — one codebook over the
    // whole vector collapses ADC ranking; a divisor-free dim (prime)
    // degenerates to m=dim instead: per-dimension scalar codebooks,
    // sq8-fidelity ADC at dim bytes/vector.
    else (math.max(8, dim / 8) to 2 by -1).find(dim % _ == 0).getOrElse(dim)

  /** kCentroids for an n-vector PQ codebook: the legacy 32 at gate
    * sizes; at scale the full 8-bit codebooks (256 — the standard PQ
    * code width: finer codebooks are what keep ADC ranking faithful as
    * cells grow). The query-side rerank depth is NOT derived here —
    * it keys off the served layout's cell count ([[pqRerank]]), like
    * every other query-time knob.
    */
  def pq(n: Long, smallN: Long = 4000): Int =
    if (n <= smallN) 32 else 256

  /** Query-side exact-rerank depth for a served PQ layout, keyed off
    * the layout's own cell count (like [[ivfProbe]] — the stored
    * geometry, not a fresh derivation, decides how it is queried).
    * Measured anchors (graft.AnnTune): at 128 cells/sf1, rerank 200
    * recovered only 0.40 of the probe set's 0.60 ceiling, 500 holds
    * the floor; at 256 cells/sf10 the probed pool is ~50k codes/query
    * and 500 keeps only 0.47 even at m=16 — 2000 (4% of the pool)
    * reaches 0.62. Rerank stays CONSTANT per tier, not ∝ pool: at a
    * billion vectors the ADC ordering must carry the shortlist, which
    * is why [[pqSubs]] widens m rather than letting rerank grow.
    */
  def pqRerank(nCells: Int): Int =
    if (nCells <= 16) 50 else if (nCells <= 128) 500 else 2000

  def hyperplane(n: Long, dupSim: Double = 0.85,
                 targetMiss: Double = 0.001, candPerVec: Int = 200,
                 smallN: Long = 4000, maxBands: Int = 256,
                 minDupRecall: Double = 0.95): (Int, Int) = {
    if (n <= smallN) return (32, 4)
    var bands = 32
    var bits = 4
    var i = 0
    while (i < 8) { // fixed point in ≤4 iterations at any realistic n
      val newBits = math.max(4,
        math.ceil(math.log(bands.toDouble * n / candPerVec) / math.log(2.0)).toInt)
      val pBand = math.pow(pBit(dupSim), newBits)
      val newBands = math.min(maxBands,
        math.max(1, math.ceil(math.log(1.0 / targetMiss) / -math.log1p(-pBand)).toInt))
      if (newBits == bits && newBands == bands) i = 8
      else { bits = newBits; bands = newBands; i += 1 }
    }
    // Past-the-cap regime (r12 verdict): once `bands` saturates at
    // maxBands, the coupled system has no free knob left — the loop
    // above would keep growing bits ∝ log₂ n to hold candidates/vec at
    // the budget, and with bands pinned each extra bit multiplies the
    // dup-level miss odds (measured erosion: recall(0.85) would be
    // 0.97 at 2 M vectors, 0.86 at 20 M, 0.67 at 200 M — the silent
    // fixed-geometry-at-scale failure this object exists to prevent).
    // Derivation past the cap: HOLD the declared dup floor
    // (`minDupRecall`, default 0.95) by clamping bits at the largest
    // width whose any-of-maxBands recall still clears it, and let
    // candidates/vec — not recall — absorb further growth. That is the
    // honest LSH trade at ρ ≈ 0.63 with a bounded band explode factor:
    // a recall floor costs super-linear candidate mass, and the verify
    // stage is built to pay it boundedly (embeddingNearDupsLsh's
    // sliced exact-verify). At every committed decade (sf1 (102,14),
    // sf10 (225,18), sf100 (256,22)) the clamp is inactive —
    // bit-for-bit the r10–r12 geometries; it first binds at ~20 M
    // vectors, where (256,25)/recall-0.86 becomes (256,22)/recall-0.97.
    if (bands == maxBands) {
      val pNeeded = 1.0 - math.pow(1.0 - minDupRecall, 1.0 / maxBands)
      val bitsFloor = math.max(4,
        (math.log(pNeeded) / math.log(pBit(dupSim))).toInt) // floor: widest bits holding the floor
      bits = math.min(bits, bitsFloor)
      // The 4-bit lower bound is a band-width floor, not a recall
      // proof: for parameter combinations where even 4-bit bands can't
      // clear the declared floor (a small maxBands, an aggressive
      // minDupRecall), fail loudly instead of silently publishing a
      // geometry that violates the contract the clamp exists to hold
      // (r13 advisor).
      val got = hyperplaneRecall(dupSim, bands, bits)
      require(got >= minDupRecall,
        f"hyperplane geometry ($bands,$bits) holds recall $got%.4f at dupSim=$dupSim — " +
          f"below the declared floor $minDupRecall%.2f; the floor is unsatisfiable at " +
          f"maxBands=$maxBands (every band already at the 4-bit minimum width)")
    }
    (bands, bits)
  }
}
