package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** HyperLogLog distinct-cardinality sketch (Flajolet et al. '07) over
  * the corpus 3-shingle space — the register-based sibling of the KMV
  * sketch ([[KmvAgg]], n40): where KMV keeps the K smallest hashes,
  * HLL keeps, per hash bucket, only the MAXIMUM number of leading
  * zeros seen — 64 tiny integers per group, merged by pointwise max.
  *
  * Spark's own `approx_count_distinct` is HLL++ behind an opaque
  * binary buffer, which no SQL oracle can re-derive. This module
  * instead builds the registers from the SAME engine-identical 60-bit
  * md5-prefix hash as every other sketch in the repo, so the DuckDB
  * twin reproduces the register table — and therefore the estimate —
  * bit for bit: the oracle verifies the SKETCH, not a tolerance band.
  * (KmvAgg's scaladoc notes no BLACK-BOX register sketch admits an
  * exact cross-engine contract; a deterministic-hash register build
  * does, because register[b] = max(ρ) is plain GROUP BY arithmetic.)
  *
  * Register contract (m = 64 = 2^6 registers):
  *   h      = first 60 bits of md5(shingle)   (the n27/n40 idiom)
  *   bucket = h >> 54                          (top 6 bits, 0..63)
  *   w      = h & (2^54 − 1)                   (remaining 54 bits)
  *   ρ(w)   = 55 − bitlen(w), ρ(0) = 55        (leading-zero count + 1)
  *   reg[b] = max ρ over the group's hashes landing in b
  * bitlen is computed as the length of the minimal binary string
  * (`conv(w,10,2)` / DuckDB `bin(w)`) — exact integer arithmetic on
  * both engines, no log2 round-off at power-of-two boundaries.
  *
  * The estimate is the raw HLL harmonic mean, kept cross-engine exact
  * by integer-izing the harmonic sum: Σ 2^(−ρ) is scaled by 2^55 so
  * every term `1 << (55 − ρ)` is a BIGINT (empty registers contribute
  * 2^55); the only floating-point steps are two multiplies and one
  * divide in the same association order on both engines:
  *   E = (α₆₄ · m²) · 2^55 / harmonic_int,  α₆₄ = 0.709.
  * The small-range (linear-counting) correction needs ln(), whose
  * last-ulp behavior differs across libm builds — it belongs to the
  * serving layer, not the cross-engine contract; the exact-distinct
  * rider column makes the raw estimate's error visible instead.
  *
  * Scale shape: the register build is one explode + groupBy(group,
  * bucket) max — map-side partial aggregation ships AT MOST
  * groups·64 tiny (b, ρ) rows per input partition to the exchange,
  * regardless of corpus size (the same O(groups·K) bound as KMV, with
  * K=64 registers instead of 64 hashes). Registers merge across
  * shards/langs/micro-batches by pointwise max — max is monotone and
  * commutative, so the merged ALL row below and the streaming state
  * in s32 are arrival-order independent by construction.
  */
object Hll {
  /** 2^P registers. */
  val P = 6
  val M = 1 << P
  /** Hash bits left after the P-bit bucket index. */
  val SuffixBits = 60 - P
  /** ρ of a zero suffix (and the max attainable ρ). */
  val MaxRho = SuffixBits + 1
  /** α₆₄ — Flajolet '07 Fig. 3 bias constant for m = 64. */
  val Alpha = 0.709
  /** m² as a double — the only other estimate factor besides α. */
  val M2 = (M.toLong * M).toDouble
  /** 2^MaxRho — the integer-izing scale of the harmonic sum: an empty
    * register's 2^(−0) term contributes exactly this. */
  val HarmonicScale = 1L << MaxRho
  private val SuffixMask = (1L << SuffixBits) - 1

  /** The shared 60-bit md5-prefix element hash (KmvAgg's idiom). */
  def hash60(s: Column): Column =
    conv(substring(md5(s.cast("binary")), 1, 15), 16, 10).cast("long")

  /** Top-P-bit register index of a 60-bit hash. */
  def bucket(h: Column): Column = shiftright(h, SuffixBits).cast("int")

  /** ρ = leading-zero count of the [[SuffixBits]]-bit suffix, plus one. */
  def rho(h: Column): Column = {
    val w = h.bitwiseAND(lit(SuffixMask))
    when(w === lit(0L), lit(MaxRho))
      .otherwise(lit(MaxRho) - length(conv(w, 10, 2)))
      .cast("int")
  }

  /** Per-(lang, bucket) register table of the documents' 3-shingle
    * space — the ONE plan shared by batch n77 and streaming s32 (the
    * KmvAgg.aggPlan idiom: identical plan both modes, state = the ≤64
    * registers per lang). */
  def registersPlan(docs: DataFrame): DataFrame =
    docs
      .select(col("lang"), explode(Shingles.shingleSet(col("text"), 3)).as("s"))
      .select(col("lang"), hash60(col("s")).as("h"))
      .groupBy(col("lang"), bucket(col("h")).as("b"))
      .agg(max(rho(col("h"))).as("r"))

  /** Finished-register assembly: per-lang rows PLUS the 'ALL' row
    * produced by MERGING the per-lang registers (pointwise max — the
    * sketch-union property that lets registers be maintained per
    * shard and combined at read time, n40's rollup story). Emits
    * exact integer witnesses of the register table (set count, ρ sum,
    * scaled harmonic sum) and the raw HLL estimate. */
  def assemble(regs: DataFrame): DataFrame = {
    // null-safe sentinel guard + per-bucket re-merge: the rollup input
    // excludes a (hypothetical) real lang literally named 'ALL' (a
    // genuine NULL-lang group still contributes — <=> not =!=), and the
    // groupBy(lang, b) max after the union re-merges any colliding real
    // 'ALL' registers INTO the rollup pointwise — so the 'ALL' row is
    // the exact sketch-union over every lang even under the collision,
    // never a bucket double-count. For normal langs the extra agg is a
    // no-op on already-unique (lang, b) keys, ≤ (groups+1)·M rows. The
    // DuckDB twin carries the same IS DISTINCT FROM filter + re-merge.
    val all = regs.where(!(col("lang") <=> lit("ALL")))
      .groupBy(col("b")).agg(max(col("r")).as("r"))
      .select(lit("ALL").as("lang"), col("b"), col("r"))
    val est = ((lit(Alpha) * lit(M2)) * lit(HarmonicScale.toDouble)) /
      col("harmonic_int").cast("double")
    regs.select(col("lang"), col("b"), col("r")).unionByName(all)
      .groupBy(col("lang"), col("b")).agg(max(col("r")).as("r"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_regs_set"),
        sum(col("r").cast("long")).as("reg_sum"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), $MaxRho - r)")).as("hs"))
      .select(col("lang"), col("n_regs_set"), col("reg_sum"),
        (col("hs") + (lit(M.toLong) - col("n_regs_set")) * lit(HarmonicScale))
          .as("harmonic_int"))
      .withColumn("est_hll", est)
  }

  /** Driver-side estimate twin (used by HllSpec): same two multiplies
    * and one divide, same order. */
  def estimate(harmonicInt: Long): Double =
    ((Alpha * M2) * HarmonicScale.toDouble) / harmonicInt.toDouble

  /** Driver-side register twin for a set of shingle hashes. */
  def registersOf(hashes: Iterable[Long]): Map[Int, Int] =
    hashes.foldLeft(Map.empty[Int, Int]) { (m, h) =>
      // parameter-driven like the plan side (ADVICE r13: a hardcoded 54
      // would silently desynchronize the twin on a future P change)
      val b = (h >>> SuffixBits).toInt
      val w = h & SuffixMask
      val r =
        if (w == 0L) MaxRho
        else MaxRho - (64 - java.lang.Long.numberOfLeadingZeros(w))
      if (r > m.getOrElse(b, 0)) m.updated(b, r) else m
    }
}
