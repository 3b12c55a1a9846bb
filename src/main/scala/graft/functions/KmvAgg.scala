package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Typed UDAF: KMV (k-minimum-values) distinct-cardinality sketch —
  * the group sketch is the K smallest DISTINCT hash values of the
  * group's element set (Bar-Yossef et al. '02; the bottom-k variant
  * Beyer et al. SIGMOD '07 analyze).
  *
  * Unlike HLL this sketch is exactly reproducible in plain SQL (sort
  * the distinct hashes, keep K), so the DuckDB oracle can verify the
  * Spark aggregate bit-for-bit — an exact cross-engine contract no
  * register-based sketch admits (n40/s15). The estimator:
  *
  *   distinct ≈ (K-1) / U(K)   where U(K) = kth_min / 2^60
  *
  * (60-bit hash space because the shared cross-engine hash is the
  * first 15 hex chars of md5 — the same md5-prefix idiom as n27's
  * split and the pair-sample bucket, both proven engine-identical).
  * When the group holds fewer than K distinct hashes the sketch IS the
  * set and the count is exact.
  *
  * Scale shape (why a sketch and not count_distinct): the input
  * column is each row's PARTIAL sketch — its ≤K smallest distinct
  * element hashes, sorted ascending — and reduce/merge is a bounded
  * sorted-merge. Every global bottom-K value is inside its own row's
  * bottom-K, so merging partials is lossless. Map-side partial
  * aggregation therefore ships ONE ≤K-long vector per (group ×
  * partition) to the shuffle — at 100 TB the exchange is O(groups·K)
  * regardless of row count, where exact count_distinct would shuffle
  * every distinct element. Sketches are also unionable across
  * corpora/time windows by the same merge (the rollup in n40 and the
  * micro-batch state in s15 both exercise exactly that).
  */
object KmvAgg extends Aggregator[Seq[Long], Array[Long], Seq[Long]] {
  val K = 64

  override def zero: Array[Long] = Array.emptyLongArray

  // inputs are sorted-ascending distinct by construction
  // (slice(array_sort(array_distinct(...)), 1, K) in the caller); the
  // merge below is correct only under that precondition
  override def reduce(acc: Array[Long], in: Seq[Long]): Array[Long] =
    mergeSorted(acc, in.toArray)

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
    mergeSorted(a, b)

  override def finish(acc: Array[Long]): Seq[Long] = acc.toSeq

  /** Two-pointer merge of two sorted-distinct arrays, dropping
    * cross-array duplicates, truncated to the K smallest. */
  private def mergeSorted(a: Array[Long], b: Array[Long]): Array[Long] = {
    if (b.isEmpty) return a
    if (a.isEmpty) return if (b.length <= K) b else b.take(K)
    val out = new Array[Long](math.min(a.length + b.length, K))
    var i = 0; var j = 0; var n = 0
    while (n < K && (i < a.length || j < b.length)) {
      val takeA = j >= b.length || (i < a.length && a(i) <= b(j))
      val v = if (takeA) a(i) else b(j)
      if (takeA) i += 1 else j += 1
      if (n == 0 || out(n - 1) != v) { out(n) = v; n += 1 }
    }
    if (n == out.length) out else out.take(n)
  }

  override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder[Seq[Long]]()

  /** Untyped-DataFrame form: `df.groupBy(g).agg(KmvAgg.union(col("psk")))`
    * where `psk` is the row's sorted-distinct partial sketch. */
  def union(partial: Column): Column =
    udaf(this, ExpressionEncoder[Seq[Long]]()).apply(partial)

  /** The row-level partial sketch of a text column: the ≤K smallest
    * distinct 60-bit md5-prefix hashes of its w-shingle set, sorted
    * ascending — THE single definition shared by n40/n42/s15, so the
    * cross-engine hash contract (the DuckDB twin
    * `('0x' || substr(md5(s),1,15))::BIGINT`) has exactly one Spark
    * counterpart to drift from. */
  def partialSketch(text: Column, w: Int = 3): Column =
    slice(array_sort(array_distinct(transform(
      Shingles.shingleSet(text, w),
      x => conv(substring(md5(x.cast("binary")), 1, 15), 16, 10).cast("long")))),
      1, K)

  /** Finished-sketch metrics (shared by every KMV query's projection).
    * Callers must drop empty sketches first (`size(sk) > 0` — a group
    * whose rows all had empty shingle sets); the SQL twins never emit
    * such groups (their `unnest` produces no rows), and `kthMin` on an
    * empty array would throw (array indices start at 1). */
  def sketchSize(sk: Column): Column = size(sk).cast("long")
  def kthMin(sk: Column): Column = element_at(sk, size(sk))
  def estDistinct(sk: Column): Column =
    when(size(sk) < K, size(sk).cast("double"))
      .otherwise(lit(K - 1).cast("double") * lit(1152921504606846976L).cast("double")
        / element_at(sk, size(sk)).cast("double"))

  /** The KMV estimate for a finished sketch (driver-side twin of the
    * in-plan expression; used by specs). */
  def estimate(sketch: Seq[Long]): Double =
    if (sketch.length < K) sketch.length.toDouble
    else (K - 1).toDouble * HashSpace / sketch.last.toDouble

  /** 2^60 — the hash space of the 15-hex-char md5 prefix. */
  val HashSpace: Double = 1152921504606846976L.toDouble
}
