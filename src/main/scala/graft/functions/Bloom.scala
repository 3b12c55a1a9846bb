package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bloom-filter membership (Bloom, CACM 1970 — /root/repo/PAPERS.md):
  * an m-bit filter with k md5-derived hash functions, materialized as
  * the DISTINCT SET of set bit positions (≤ m rows) rather than a
  * packed bitset. Same mathematics — the position set IS the filter;
  * the packed representation is a storage detail the relational form
  * trades for a broadcastable join side and an engine-portable,
  * bit-reproducible build (the DuckDB oracle reconstructs the filter
  * exactly, false positives included).
  *
  * Scale contract: the filter is ≤ m rows however large the insert
  * stream is (build = one distinct over positions, collapsed map-side);
  * probes explode ×k but join the BROADCAST position set and never
  * shuffle the probe data on a new key. The reference has no membership
  * structure at all — its dedup is an exact per-key DB probe
  * (kafka_s.py:614-630); this is the bounded-memory form a 100 TB
  * decontamination pass needs when the benchmark shingle set itself is
  * too hot to equi-join (n31 is the exact twin; n44 trades its shingle
  * shuffle for a constant-size broadcast plus a deterministic FP rate).
  */
object Bloom {

  /** Hash-`j` bit position of `s` in an m-bit filter: top-8 md5 hex
    * chars of "j:s" mod m — the engine-portable hash idiom shared with
    * CountMin / the n27 split. */
  def bitPos(j: Column, s: Column, m: Int): Column =
    conv(substring(md5(concat(j.cast("string"), lit(":"), s)), 1, 8), 16, 10)
      .cast("long") % m

  /** Build: distinct set positions of `items` (column `item`). */
  def build(items: DataFrame, k: Int, m: Int, item: String = "item"): DataFrame =
    items.select(explode(sequence(lit(0), lit(k - 1))).as("j"), col(item))
      .select(bitPos(col("j"), col(item), m).as("p"))
      .distinct()

  /** Probe (relational form): rows of `probe` whose `item` has ALL k
    * bit positions set (the Bloom may-contain test — no false
    * negatives; false positives at the documented rate). Keeps
    * `probe`'s columns AND its row multiplicity: the k exploded hash
    * rows regroup on a per-row id attached before the explode, so
    * duplicate probe rows each pass or fail independently (grouping on
    * the value columns alone would pool duplicates into one group of
    * n·k hits and silently drop them — ADVICE r8). Kept as the
    * join-shaped reference semantics; the hot path is
    * [[mayContainExpr]]. */
  def mayContain(probe: DataFrame, filterPos: DataFrame, k: Int, m: Int,
                 item: String = "item"): DataFrame = {
    val keep = probe.columns.map(col).toSeq
    probe
      .withColumn("__rid", monotonically_increasing_id())
      .withColumn("j", explode(sequence(lit(0), lit(k - 1))))
      .withColumn("p", bitPos(col("j"), col(item), m))
      .join(broadcast(filterPos), "p")
      .groupBy(col("__rid") +: keep: _*)
      .agg(count(lit(1)).as("bloom_hits"))
      .where(col("bloom_hits") === k)
      .select(keep: _*)
  }

  /** Probe (packed-bitset form — the production shape): collect the
    * ≤m set positions into an m-bit literal of m/64 longs and return a
    * PREDICATE COLUMN — true iff all k hash bits are set. The collect
    * is bounded by the filter width m (a design constant, like the s10
    * sink's ≤16-bucket prune list — never data-sized), and the probe
    * side then pays pure codegen'd bit arithmetic: NO join, NO
    * explode×k row inflation, NO pre-group shuffle. `shiftright` goes
    * through call_function because the Scala wrapper only accepts a
    * literal shift, while the underlying expression takes a column.
    * BloomSpec pins expr ≡ join-form row-for-row. */
  def mayContainExpr(filterPos: DataFrame, k: Int, m: Int, item: Column): Column = {
    val words = packed(filterPos, m)
    val w = typedlit(words.toSeq)
    (0 until k).map { j =>
      val p = bitPos(lit(j), item, m)
      call_function("shiftright",
        element_at(w, (p / 64).cast("int") + 1),
        (p % 64).cast("int"))
        .bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)
  }

  private def packed(filterPos: DataFrame, m: Int): Array[Long] = {
    val words = Array.ofDim[Long]((m + 63) / 64)
    filterPos.collect().foreach { r =>
      val p = r.getLong(0).toInt
      words(p >> 6) |= 1L << (p & 63)
    }
    words
  }

  /** Decontamination (n44 over the batch reader, s26 over the stream):
    * the benchmark — the distinct shingles of `bench`'s docs 1..20 —
    * builds a k=3, m=1024 filter once, and every doc of `docs` past
    * id 20 with ≥1 distinct shingle the filter may contain keeps its
    * hit count. One per-row expression ([[hitCountExpr]]): no explode,
    * no join, no shuffle, no state store. */
  def decontaminate(bench: DataFrame, docs: DataFrame): DataFrame = {
    val pos = build(bench.where(col("doc_id") <= 20)
      .select(explode(Text.shingleSet(col("text"))).as("item")).distinct(), 3, 1024)
    docs.where(col("doc_id") > 20)
      .select(col("doc_id"),
        hitCountExpr(pos, 3, 1024, Text.shingleSet(col("text"))).as("n_hits"))
      .where(col("n_hits") > 0)
  }

  /** Per-document hit COUNT over a whole shingle-set array in one
    * native pass ([[BloomHits]]): the n44/s26 hot path. The
    * HOF form (`size(filter(sset, mayContainExpr))`) runs the k-hash
    * predicate through interpreted lambda eval per element; this
    * kernel walks the array once inside whole-stage codegen with a
    * thread-local digest. Bit-identical to the HOF form (BloomSpec). */
  def hitCountExpr(filterPos: DataFrame, k: Int, m: Int, sset: Column): Column = {
    require(k <= 9, s"BloomHits writes j as one ASCII digit; k=$k > 9")
    org.apache.spark.sql.graftx.Bridge.column(
      BloomHits(org.apache.spark.sql.graftx.Bridge.expression(sset),
        packed(filterPos, m).toSeq, k, m))
  }
}

/** Native one-pass Bloom hit counter: for each element of a string
  * array, test all `k` md5-derived bit positions against the packed
  * `words` bitset (the [[Bloom.bitPos]] arithmetic bit for bit: first
  * 4 md5 bytes of "j:element" as an unsigned 32-bit value mod `m`);
  * count elements with every bit set. One scan, no lambda
  * interpretation, no per-element row machinery. */
case class BloomHits(child: org.apache.spark.sql.catalyst.expressions.Expression,
    words: Seq[Long], k: Int, m: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

  override def dataType: DataType = LongType
  override def inputTypes: Seq[org.apache.spark.sql.graftx.Bridge.AbstractType] =
    Seq(ArrayType(StringType))
  override def prettyName: String = "graft_bloom_hits"

  @transient private lazy val wordArr = words.toArray

  override def nullSafeEval(input: Any): Any =
    BloomHits.kernel(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      wordArr, k, m)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wref = ctx.addReferenceObj("bloomWords", wordArr, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BloomHits.kernel($c, $wref, $k, $m);")
  }

  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression): BloomHits =
    copy(child = newChild)
}

object BloomHits {
  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def kernel(arr: org.apache.spark.sql.catalyst.util.ArrayData,
      words: Array[Long], k: Int, m: Int): Long = {
    val md = mdLocal.get()
    var hits = 0L
    var i = 0
    while (i < arr.numElements()) {
      val sBytes = arr.getUTF8String(i).getBytes
      var j = 0
      var all = true
      while (j < k && all) {
        md.reset()
        // "j:" prefix — j is a single digit for any practical k (<10),
        // matching bitPos's j.cast("string") || ':' byte-exactly
        md.update(('0' + j).toByte)
        md.update(':'.toByte)
        md.update(sBytes)
        val d = md.digest()
        val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        val p = (v % m).toInt
        all = (words(p >> 6) & (1L << (p & 63))) != 0
        j += 1
      }
      if (all) hits += 1
      i += 1
    }
    hits
  }
}
