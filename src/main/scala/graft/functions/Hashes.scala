package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Hash kernels used by the dedup operators. Self-contained (no
  * dependence on Spark-internal hash objects) so the semantics are
  * stable across Spark versions.
  */
object HashKernels {

  /** splitmix64 finalizer — strong 64-bit avalanche. */
  @inline def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private val md5Digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Low 8 bytes (big-endian) of MD5 over raw bytes — the PORTABLE
    * 64-bit hash basis: MD5 exists verbatim in every engine, so a
    * DuckDB oracle recomputes this exact signed value from
    * `substr(md5(tok), 17, 16)` hex. Used where cross-engine
    * bit-identity matters (simhash); the FNV basis stays for
    * join-key-only hashes (shingles, minhash) where speed wins.
    */
  def md5Low64(b: Array[Byte]): Long = {
    val md = md5Digest.get()
    md.reset()
    val d = md.digest(b)
    var h = 0L
    var i = 8
    while (i < 16) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }

  /** One-pass SimHash over a token array: per token take a 64-bit hash
    * ([[md5Low64]] — portable, so the whole simhash is ANSI-SQL
    * expressible and oracle-checkable cross-engine), vote ±1 per bit
    * position, sign of the vote becomes the output bit. Duplicate
    * tokens vote multiple times (term-frequency weighting).
    */
  def simhash(arr: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = arr.numElements()
    var t = 0
    while (t < n) {
      if (!arr.isNullAt(t)) {
        val h = md5Low64(arr.getUTF8String(t).getBytes)
        var i = 0
        while (i < 64) {
          if (((h >>> i) & 1L) == 1L) counts(i) += 1 else counts(i) -= 1
          i += 1
        }
      }
      t += 1
    }
    var out = 0L
    var i = 0
    while (i < 64) {
      if (counts(i) > 0) out |= (1L << i)
      i += 1
    }
    out
  }

  import org.apache.spark.sql.catalyst.util.GenericArrayData

  /** Distinct hashed word n-gram shingles: one pass over the word array,
    * each n-gram's words' bytes (with separators) folded through FNV-1a
    * + splitmix64, then sort+unique. Hashed shingles are what a
    * 100 TB dedup keeps: 8 bytes each to shuffle/join/intersect instead
    * of a string, at a ~1e-9 collision risk for corpus-scale sets.
    */
  def shingleHashes(ws: ArrayData, n: Int): ArrayData = {
    val nw = ws.numElements()
    if (nw < n) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](nw - n + 1)
    var i = 0
    while (i <= nw - n) {
      var h = 0xcbf29ce484222325L
      var w = 0
      while (w < n) {
        val b = ws.getUTF8String(i + w).getBytes
        var j = 0
        while (j < b.length) {
          h = (h ^ (b(j) & 0xffL)) * 0x100000001b3L
          j += 1
        }
        h = (h ^ 0x20L) * 0x100000001b3L // separator byte
        w += 1
      }
      out(i) = mix64(h)
      i += 1
    }
    java.util.Arrays.sort(out)
    var uniq = 1
    var p = 1
    while (p < out.length) {
      if (out(p) != out(p - 1)) { out(uniq) = out(p); uniq += 1 }
      p += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, uniq))
  }

  /** One-pass k-wide MinHash signature over hashed shingles (see
    * [[MinHashSig]]).
    */
  def minhashSig(arr: ArrayData, k: Int): ArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    val n = arr.numElements()
    var t = 0
    while (t < n) {
      val h = mix64(arr.getLong(t))
      var i = 0
      while (i < k) {
        val v = mix64(h ^ mix64(i + 1L))
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      t += 1
    }
    new GenericArrayData(mins)
  }

  /** Precomputed per-table bit plumbing for [[simhashKeys]]: which sim
    * bit-fields a table keeps (bkey, in subset order), which it
    * excludes (exVal, ascending block order), and how the excluded
    * width pigeonholes into maxHamming+1 sub-fields. Built once per
    * (maxHamming, blocks) per JVM — the subset enumeration uses the
    * SAME `combinations` call as the original column construction, so
    * table ids (packed into bkey high bits) are bit-identical.
    */
  private final class SimhashKeyTable(
      val id: Long,
      val keptOffsets: Array[Int], val keptWidths: Array[Int],
      val exOffsets: Array[Int], val exWidths: Array[Int],
      val subOffsets: Array[Int], val subWidths: Array[Int])

  private val simhashKeyTables =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[SimhashKeyTable]]()

  private def simhashTablesFor(maxHamming: Int, blocks: Int): Array[SimhashKeyTable] =
    simhashKeyTables.computeIfAbsent((maxHamming, blocks), { case (k, b) =>
      val widths = Array.tabulate(b)(i => 64 / b + (if (i < 64 % b) 1 else 0))
      val offsets = widths.scanLeft(0)(_ + _)
      val nSub = k + 1
      (0 until b).combinations(b - k).toArray.zipWithIndex.map { case (subset, t) =>
        val excluded = (0 until b).filterNot(subset.contains)
        val exWidth = excluded.map(widths).sum
        val subWidths = Array.tabulate(nSub)(i => exWidth / nSub + (if (i < exWidth % nSub) 1 else 0))
        new SimhashKeyTable(t.toLong,
          subset.map(offsets).toArray, subset.map(widths).toArray,
          excluded.map(offsets).toArray, excluded.map(widths).toArray,
          subWidths.scanLeft(0)(_ + _), subWidths)
      }
    })

  /** All C(blocks, blocks−maxHamming) pigeonhole key structs of a
    * 64-bit simhash fingerprint in ONE kernel call — see
    * [[graft.ops.TextDedup.simhashKeysFor]]. The original formulation
    * built the same values as a per-table expression forest in one
    * projection; at the size-derived B = 7 (sf100, 35 tables) the
    * generated doConsume exceeded Janino's 64 KB method limit and the
    * whole keying stage silently fell back to INTERPRETED execution.
    * This kernel is a fixed-size call at any geometry. (Trade-off vs
    * the expression forest: Catalyst can no longer prune unused skeys —
    * they are ~4 shift/mask longs per exploded row, noise next to the
    * explode itself.) Bit layout per table t, identical to the old
    * columns by construction and spec-locked in HashesSpec:
    * bkey = fold of kept fields over subset order seeded with t;
    * exVal = fold of excluded fields ascending; skey(s) = (s << 56) |
    * sub-field s of exVal.
    */
  def simhashKeys(sim: Long, maxHamming: Int, blocks: Int): ArrayData = {
    val tables = simhashTablesFor(maxHamming, blocks)
    val out = new Array[Any](tables.length)
    var ti = 0
    while (ti < tables.length) {
      val tb = tables(ti)
      var bkey = tb.id
      var i = 0
      while (i < tb.keptOffsets.length) {
        bkey = (bkey << tb.keptWidths(i)) |
          ((sim >>> tb.keptOffsets(i)) & ((1L << tb.keptWidths(i)) - 1))
        i += 1
      }
      var exVal = 0L
      i = 0
      while (i < tb.exOffsets.length) {
        exVal = (exVal << tb.exWidths(i)) |
          ((sim >>> tb.exOffsets(i)) & ((1L << tb.exWidths(i)) - 1))
        i += 1
      }
      val nSub = tb.subWidths.length
      val skeys = new Array[Long](nSub)
      var s = 0
      while (s < nSub) {
        val mask = if (tb.subWidths(s) >= 63) -1L else (1L << tb.subWidths(s)) - 1
        skeys(s) = (s.toLong << 56) | ((exVal >>> tb.subOffsets(s)) & mask)
        s += 1
      }
      out(ti) = org.apache.spark.sql.catalyst.InternalRow(bkey, new GenericArrayData(skeys))
      ti += 1
    }
    new GenericArrayData(out)
  }

  /** Fold signature groups into per-band 64-bit bucket keys. */
  def bandKeys(sig: ArrayData, bands: Int, rows: Int): ArrayData = {
    val keys = new Array[Long](bands)
    var g = 0
    while (g < bands) {
      var h = mix64(g + 1L)
      var r = 0
      while (r < rows) {
        h = mix64(h ^ sig.getLong(g * rows + r))
        r += 1
      }
      keys(g) = h
      g += 1
    }
    new GenericArrayData(keys)
  }
}

/** Custom Catalyst expression: 64-bit SimHash of an ARRAY<STRING> of
  * tokens, computed in ONE pass per row with proper whole-stage codegen
  * (the composed-builtins alternative is 64 separate aggregates).
  *
  * Used by the near-dup operator graft.ops.TextDedup.simhashNearDups
  * (SURVEY.md §2D, dedup_simhash).
  */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes() = child.dataType match {
    case ArrayType(StringType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case _ => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires array<string>, got ${child.dataType.catalogString}")
  }
  override def nullSafeEval(v: Any): Any =
    HashKernels.simhash(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.simhash($c)")
  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
  override def prettyName: String = "simhash64"
}

/** Distinct hashed word n-gram shingles of an ARRAY<STRING> word array —
  * see [[HashKernels.shingleHashes]].
  */
case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() = child.dataType match {
    case ArrayType(StringType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes requires array<string>, got ${t.catalogString}")
  }
  override def nullSafeEval(v: Any): Any =
    HashKernels.shingleHashes(v.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.shingleHashes($c, $n)")
  override protected def withNewChildInternal(c: Expression): ShingleHashes = copy(child = c)
  override def prettyName: String = "shingle_hashes"
}

/** One-pass MinHash signature of an ARRAY<LONG> hashed-shingle set: k
  * universal-hash variants derived by seed-mixing; output element i is
  * the minimum of variant i over the set. Replaces k separate
  * interpreted `transform` passes.
  */
case class MinHashSig(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() = child.dataType match {
    case ArrayType(LongType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires array<long>, got ${t.catalogString}")
  }
  override def nullSafeEval(v: Any): Any =
    HashKernels.minhashSig(v.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.minhashSig($c, $k)")
  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
  override def prettyName: String = "minhash_sig"
}

/** LSH band keys from a MinHash signature: fold each consecutive group
  * of `rows` signature elements (plus the band index) into one 64-bit
  * key. Output: ARRAY<LONG> of length `bands`.
  */
case class BandKeys(child: Expression, bands: Int, rows: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() = child.dataType match {
    case ArrayType(LongType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"band_keys requires array<long>, got ${t.catalogString}")
  }
  override def nullSafeEval(v: Any): Any =
    HashKernels.bandKeys(v.asInstanceOf[ArrayData], bands, rows)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.bandKeys($c, $bands, $rows)")
  override protected def withNewChildInternal(c: Expression): BandKeys = copy(child = c)
  override def prettyName: String = "band_keys"
}

/** All blocked-pigeonhole key structs (bkey + sub-refinement skeys) of
  * a 64-bit simhash — one bounded-size kernel call per row regardless
  * of the derived table count; see [[HashKernels.simhashKeys]].
  * Output: ARRAY<STRUCT<bkey: LONG, skeys: ARRAY<LONG>>>.
  */
case class SimhashKeys(child: Expression, maxHamming: Int, blocks: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("bkey", LongType, nullable = false),
      StructField("skeys", ArrayType(LongType, containsNull = false), nullable = false))),
    containsNull = false)
  override def checkInputDataTypes() = child.dataType match {
    case LongType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"simhash_keys requires bigint, got ${t.catalogString}")
  }
  override def nullSafeEval(v: Any): Any =
    HashKernels.simhashKeys(v.asInstanceOf[Long], maxHamming, blocks)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashKernels.simhashKeys($c, $maxHamming, $blocks)")
  override protected def withNewChildInternal(c: Expression): SimhashKeys = copy(child = c)
  override def prettyName: String = "simhash_keys"
}

object Hashes {
  /** Column API for [[SimHash64]]. */
  def simhash64(tokens: Column): Column = Shims.column(SimHash64(Shims.expression(tokens)))
  def simhashKeys(sim: Column, maxHamming: Int, blocks: Int): Column =
    Shims.column(SimhashKeys(Shims.expression(sim), maxHamming, blocks))
  def shingleHashes(words: Column, n: Int): Column =
    Shims.column(ShingleHashes(Shims.expression(words), n))
  def minhashSig(shingles: Column, k: Int): Column =
    Shims.column(MinHashSig(Shims.expression(shingles), k))
  def bandKeys(sig: Column, bands: Int, rows: Int): Column =
    Shims.column(BandKeys(Shims.expression(sig), bands, rows))
}
