package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Deduplication operators for LLM training-data pipelines.
  *
  * Scale design (100 TB): exact dedup is a hash-groupBy (one shuffle on
  * the digest — the minimum possible); near-dup avoids the O(n²) cross
  * join by blocking (here) or MinHash-LSH banding (MinHashLsh.scala),
  * both of which turn "all pairs" into "pairs sharing a bucket key",
  * i.e. an equi-join Spark can shuffle-partition.
  */
object Dedup {

  /** Exact duplicate groups: digest → group size + representative
    * (deterministic min-id member). */
  def exactGroups(docs: DataFrame, text: Column, id: Column): DataFrame =
    docs.groupBy(md5(text).as("content_hash"))
      .agg(count(lit(1)).as("n_docs"), min(id).as("keep_id"))

  /** Normalized duplicate groups: fingerprint = md5(sorted distinct
    * tokens) — catches reorder/repetition duplicates. */
  def fingerprintGroups(docs: DataFrame, text: Column, id: Column): DataFrame =
    docs.groupBy(Text.fingerprint(text).as("fingerprint"))
      .agg(count(lit(1)).as("n_docs"), min(id).as("keep_id"))

  /** The n83 sample denominator: a deterministic 1-in-this-many hash
    * sample. Single shared constant — [[dupRateEstimate]]'s default
    * AND SparkEntry's dupRateOracleSql interpolate THIS value. */
  val DupSampleMod: Int = 4

  /** Snapshot-delta dedup classification — the incremental-crawl
    * question: of the docs in the NEW snapshot `b`, how many are
    * byte-identical to the PREVIOUS snapshot `a`, how many are
    * normalized (fingerprint) duplicates only, how many are genuinely
    * new — reported per source. Successive web crawls overlap heavily,
    * and whether to dedup ACROSS snapshots is a real, measured
    * decision (FineWeb found cross-dump global dedup HURT downstream
    * quality vs deduping each dump independently) — this operator
    * produces the overlap numbers that decision needs, without
    * committing to either policy.
    *
    * Plan: A collapses to its DISTINCT digest sets (two map-side-
    * combined aggregates — the "index" is one row per distinct
    * content, not per doc); B probes each with a digest-keyed LEFT
    * equi-join (hash-partitioned on the digest — no broadcast
    * assumption, the previous snapshot is corpus-sized at 100 TB);
    * one groupBy(source) rollup. Nothing pairwise, nothing windowed. */
  def snapshotDelta(a: DataFrame, b: DataFrame, text: Column,
      src: Column): DataFrame = {
    val (aMd5, aFp) = snapshotIndexes(a, text)
    applySnapshotDelta(b, aMd5, aFp, text, src)
  }

  /** The previous snapshot collapsed to its distinct-digest indexes
    * (exact md5 + fingerprint) — two map-side-combined aggregates, one
    * row per distinct CONTENT, not per doc. */
  def snapshotIndexes(a: DataFrame, text: Column): (DataFrame, DataFrame) = (
    a.select(md5(text).as("h")).distinct().withColumn("in_a", lit(1L)),
    a.select(Text.fingerprint(text).as("fp")).distinct()
      .withColumn("fp_in_a", lit(1L)))

  /** Probe the new snapshot against the indexes and roll up per
    * source. The per-row classification is stateless (two digest-keyed
    * LEFT joins) and the rollup a plain sum — order-independent, so
    * the SAME shape runs as s36's stream-static classification with a
    * complete-mode aggregate. */
  def applySnapshotDelta(b: DataFrame, aMd5: DataFrame, aFp: DataFrame,
      text: Column, src: Column): DataFrame =
    b.select(src.as("source"), md5(text).as("h"),
        Text.fingerprint(text).as("fp"))
      .join(aMd5, Seq("h"), "left")
      .join(aFp, Seq("fp"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("in_a").isNotNull, 1L).otherwise(0L)).as("n_exact_dup"),
        sum(when(col("in_a").isNull && col("fp_in_a").isNotNull, 1L)
          .otherwise(0L)).as("n_fp_dup"),
        sum(when(col("in_a").isNull && col("fp_in_a").isNull, 1L)
          .otherwise(0L)).as("n_new"))

  /** Cross-snapshot dedup POLICY applied (n86) — n84 reports the
    * overlap; this emits the KEPT CORPUS under a named rule:
    *
    *   drop a new-snapshot doc iff its exact digest OR its normalized
    *   fingerprint appears anywhere in the previous snapshot; NEAR-dups
    *   are deliberately kept (FineWeb measured cross-dump fuzzy dedup
    *   HURTING downstream quality vs per-dump independence — the
    *   near-dup numbers stay a report, n85, not a filter).
    *
    * Plan: two digest-keyed LEFT ANTI equi-joins against the
    * distinct-digest indexes, both SHUFFLE_HASH-hinted: the previous
    * snapshot is corpus-sized at 100 TB, so the indexes must
    * hash-partition, never broadcast — the hint pins that even at
    * fixture sizes where the optimizer would happily broadcast
    * (PlanSpec asserts no broadcast in this subtree). Output is `b`'s
    * own columns — the kept corpus flows on to curation unchanged. */
  def applySnapshotPolicy(b: DataFrame, aMd5: DataFrame, aFp: DataFrame,
      text: Column): DataFrame =
    b.withColumn("h", md5(text))
      .withColumn("fp", Text.fingerprint(text))
      .join(aMd5.hint("shuffle_hash"), Seq("h"), "left_anti")
      .join(aFp.hint("shuffle_hash"), Seq("fp"), "left_anti")
      .drop("h", "fp")

  /** URL-level cross-snapshot delta (n88) — the dedup crawls run FIRST,
    * before any content pass: successive snapshots mostly re-crawl the
    * same URLs, and key-equality on the canonical URL costs no text
    * processing at all. Classifies each new-snapshot doc per source:
    *
    *   n_unchanged — URL seen in the previous snapshot with
    *                 byte-identical content (the re-crawl to drop);
    *   n_changed   — URL seen but content differs (the page updated —
    *                 the revision policy decision);
    *   n_url_new   — URL absent from the previous snapshot.
    *
    * Plan: the old snapshot collapses to its distinct (url, digest)
    * index and distinct url set (two map-side-combined aggregates);
    * the new snapshot probes each with a LEFT equi-join — URL-keyed,
    * SHUFFLE_HASH-hinted for the same corpus-sized-index reason as
    * [[applySnapshotPolicy]] — then one groupBy(source) rollup.
    * Stateless per row + a sum rollup, so the same shape serves
    * stream-side if needed. `url` is the caller's canonicalization
    * (the fixtures derive one from source + a stable page id). */
  def snapshotUrlDelta(a: DataFrame, b: DataFrame, url: Column,
      text: Column, src: Column): DataFrame = {
    val aUrlH = a.select(url.as("url"), md5(text).as("h")).distinct()
      .withColumn("same_content", lit(1L))
    val aUrl = aUrlH.select(col("url")).distinct()
      .withColumn("url_seen", lit(1L))
    b.select(src.as("source"), url.as("url"), md5(text).as("h"))
      .join(aUrlH.hint("shuffle_hash"), Seq("url", "h"), "left")
      .join(aUrl.hint("shuffle_hash"), Seq("url"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("same_content").isNotNull, 1L).otherwise(0L))
          .as("n_unchanged"),
        sum(when(col("same_content").isNull && col("url_seen").isNotNull, 1L)
          .otherwise(0L)).as("n_changed"),
        sum(when(col("url_seen").isNull, 1L).otherwise(0L)).as("n_url_new"))
  }

  /** Sampled duplication-rate estimate — the measure-before-you-dedup
    * pre-pass: before committing a full-corpus dedup at 100 TB,
    * estimate how much there is to remove from a deterministic 1/mod
    * sample. The sample is drawn BY CONTENT HASH, not by document:
    * every member of a duplicate group shares the hash, so a group is
    * in or out of the sample ATOMICALLY and the within-sample dup rate
    * is an unbiased estimator of the corpus rate. (A uniform DOCUMENT
    * sample breaks groups apart — both members of a pair survive with
    * probability 1/mod², so a naive doc sample reads the rate ~mod×
    * low.) Estimated for two dup bases from ONE corpus scan (a per-row
    * 2-way explode, no second pass): 'exact' (byte-identical text) and
    * 'fingerprint' (n10's sorted-distinct-token normalization —
    * catches reorder/repetition duplicates).
    *
    * Plan: scan → generate(2 rows) → hash filter (drops ~(mod−1)/mod
    * of rows before any exchange) → map-side-combined
    * groupBy(basis, h) count → 2-group rollup. The only shuffle
    * carries sampled DISTINCT hashes — 1/mod of the dedup pass's own
    * exchange, with none of its join or reassembly work. Deterministic
    * end to end (md5, never rand()): re-runs and engines agree
    * bit-for-bit. */
  def dupRateEstimate(docs: DataFrame, text: Column,
      mod: Int = DupSampleMod): DataFrame = {
    val sampled = docs.select(explode(array(
        struct(lit("exact").as("basis"), md5(text).as("h")),
        struct(lit("fingerprint").as("basis"),
          Text.fingerprint(text).as("h")))).as("e"))
      .select(col("e.basis").as("basis"), col("e.h").as("h"))
      .where(pmod(conv(substring(col("h"), 1, 15), 16, 10).cast("long"),
        lit(mod)) === 0)
    sampled.groupBy(col("basis"), col("h")).agg(count(lit(1)).as("c"))
      .groupBy(col("basis"))
      .agg(sum(col("c")).as("n_sampled"),
        count(lit(1)).as("n_groups"),
        (sum(col("c")) - count(lit(1))).as("n_dupes"))
      .select(col("basis"), col("n_sampled"), col("n_groups"),
        col("n_dupes"),
        expr("n_dupes * 1000000L div n_sampled").as("dup_rate_ppm"))
  }

  /** `spread` floors the shingle kernel's parallelism ([[Par.spread]])
    * — opt-in per caller: the single-reference exact-join paths win
    * (the kernel is their dominant cost and runs once); the PREFIX
    * variant references the sized/inverted frames from several
    * subtrees, where the added exchange re-evaluates per subtree and
    * measured net-negative at fixture scale (kept unspread). */
  private def sizedSets(docs: DataFrame, id: String, text: String, w: Int,
      spread: Boolean = false): DataFrame =
    (if (spread) Par.spread(docs) else docs)
      .select(col(id).as("did"), Text.shingleSet(col(text), w).as("sset"))
      .select(col("did"), col("sset"), size(col("sset")).as("n"))
      .where(col("n") > 0)

  private def invertedIndex(sized: DataFrame): DataFrame =
    sized.select(col("did"), col("n"), explode(col("sset")).as("sh"))

  /** Exact n-gram Jaccard near-dup pairs via an inverted-index
    * similarity join (the MapReduce set-similarity-join of Vernica et
    * al., SIGMOD'10) — NO pairwise set comparison anywhere:
    *
    *  1. explode each doc's distinct shingle set → (shingle, doc, |S|);
    *  2. self-equi-join on the shingle (the only wide shuffle, hash-
    *     partitioned by shingle) with the length filter pushed into the
    *     join: J(A,B) ≥ t ⇒ t·|A| ≤ |B| ≤ |A|/t, so mismatched sizes
    *     never materialize a joined row;
    *  3. groupBy (a,b): the co-occurrence count IS |A∩B| (sets are
    *     distinct), and |A∪B| = |A|+|B|−|A∩B| — jaccard from counts,
    *     one exact int/int division (bit-identical to the oracle's
    *     list_intersect/list_union form).
    *
    * Scale: cost is Σ_shingle df² joined rows — bounded here (fixture
    * max df = 25). A PPJoin prefix-filtered variant (index only each
    * doc's first |S|−⌈t·|S|⌉+1 shingles in global frequency order) was
    * MEASURED at sf0.1: candidates 505k → ~350k, but steady-state time
    * 2.4 s → 3.4 s — the extra df aggregation and per-doc window sort
    * do not amortize on a benign df distribution, so n02 runs this
    * exact join and AQE skew-join splits residual hot shingles (the
    * skewed-corpus numbers are in SKEW.md). The old blocked all-pairs
    * self-join (block × block cross product) was 221 s at sf0.1; this
    * is the shape that survives a 1000-executor scale-up. */
  def jaccardPairs(docs: DataFrame, id: String, text: String,
      w: Int = 3, threshold: Double = 0.55): DataFrame = {
    val inv = invertedIndex(sizedSets(docs, id, text, w, spread = true))
    val a = inv.as("a")
    val b = inv.as("b")
    // the one wide shuffle: self-equi-join on the shingle with the
    // length filter pushed into the join condition. eps guards float
    // rounding at the exact boundary (e.g. 20*0.55>11): a looser
    // candidate set is harmless — the exact filter below decides.
    val eps = 1e-9
    val counted = a
      .join(b,
        col("a.sh") === col("b.sh") && col("a.did") < col("b.did") &&
          col("a.n") >= col("b.n") * threshold - eps &&
          col("b.n") >= col("a.n") * threshold - eps)
      .groupBy(col("a.did").as("a_id"), col("b.did").as("b_id"),
        col("a.n").as("a_n"), col("b.n").as("b_n"))
      .agg(count(lit(1)).as("inter"))
    counted
      .select(col("a_id"), col("b_id"),
        (col("inter").cast("double") / (col("a_n") + col("b_n") - col("inter")))
          .as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Asymmetric CONTAINMENT pairs: C(A→B) = |A∩B| / |A| ≥ threshold —
    * the quote/subset detector jaccard misses by construction: a
    * 50-token eval question embedded verbatim in a 10k-token document
    * has jaccard ≈ 0.005 but containment 1.0. Same inverted-index
    * equi-join as [[jaccardPairs]] (ONE wide shuffle on the shingle;
    * never all-pairs), but DIRECTED: both (a→b) and (b→a) are tested,
    * the LENGTH filter cannot prune (containment is unbounded by size
    * ratio), and the denominator is the SOURCE set alone, so the
    * threshold is an exact integer cross-multiplication
    * (inter·10 ≥ n_src·9 for 0.9) — no float at all. `minSet` drops
    * sub-w·minSet-token fragments whose containment is trivially 1.
    *
    * Skew: size-ratio pruning being unavailable leaves the hot-gram
    * df² term unbounded here; the exact-result alternative under skew
    * is [[containmentPairsPrefix]] (SKEW.md measures both). */
  def containmentPairs(docs: DataFrame, id: String, text: String,
      w: Int = 3, num: Int = 9, den: Int = 10,
      minSet: Int = 5): DataFrame = {
    val inv = invertedIndex(sizedSets(docs, id, text, w, spread = true))
    val a = inv.as("a")
    val b = inv.as("b")
    // join each unordered pair ONCE (did <) — |A∩B| is direction-free,
    // so both directed tests read off the same counted row; this
    // halves the join fan-out and the pair-aggregation volume vs the
    // naive did != did join (measured: the join is this operator's
    // entire cost). Directions materialize only at output.
    val counted = a
      .join(b, col("a.sh") === col("b.sh") && col("a.did") < col("b.did"))
      .groupBy(col("a.did").as("x_id"), col("b.did").as("y_id"),
        col("a.n").as("x_n"), col("b.n").as("y_n"))
      .agg(count(lit(1)).as("inter"))
    // both directions via ONE explode (a union of two filters over
    // `counted` would re-evaluate the whole join+agg subtree per
    // branch — Catalyst shares no common subplan without a persist)
    counted
      .select(explode(array(
        struct(col("x_id").as("a_id"), col("y_id").as("b_id"),
          col("inter"), col("x_n").as("a_n")),
        struct(col("y_id").as("a_id"), col("x_id").as("b_id"),
          col("inter"), col("y_n").as("a_n")))).as("p"))
      .select(col("p.a_id"), col("p.b_id"), col("p.inter"), col("p.a_n"))
      .where(col("a_n") >= minSet && col("inter") * den >= col("a_n") * num)
  }

  /** Prefix-filtered variant of [[containmentPairs]] — same EXACT
    * result, skew-proof candidates.
    *
    * Containment prefix theorem (the directed analogue of the PPJoin
    * bound): order shingles by a global total order (document
    * frequency ascending, then lexicographic — rarest first). If
    * C(A→B) = |A∩B|/|A| ≥ t then at most |A| − ⌈t·|A|⌉ shingles of A
    * miss B, so among the FIRST |A| − ⌈t·|A|⌉ + 1 shingles of A (its
    * rarest), at least one must be in B. Hence it suffices to index
    * only that source-side prefix and join it against the FULL target
    * index: every qualifying directed pair is found, and full-set
    * verification (`array_intersect`) restores the exact intersection
    * count — bit-identical output to [[containmentPairs]].
    *
    * Why this kills the skew term: boilerplate shingles have MAXIMAL
    * df, so rarest-first ordering puts them at the end of every
    * document's ordering — at t=0.9 the prefix is ~10% of each set,
    * and a hot shingle enters a source prefix only for documents that
    * are almost entirely boilerplate. The join fan-out on a shingle
    * with frequency df drops from df² (full×full) to
    * df·(source-prefix occurrences) ≈ 0 for the hot tail. Extra cost:
    * one global df aggregation and one per-doc window sort, both
    * bounded by index size — the PPJoin trade, measured on the skewed
    * boilerplate fixture in SKEW.md.
    *
    * Prefix length is computed in exact integer math:
    * ⌈num·n/den⌉ = (num·n + den − 1) div den — no float anywhere. */
  def containmentPairsPrefix(docs: DataFrame, id: String, text: String,
      w: Int = 3, num: Int = 9, den: Int = 10,
      minSet: Int = 5): DataFrame = {
    // sized is referenced from THREE subtrees (the inverted index and
    // both verification joins) — without a cut the shingle kernel
    // re-evaluates per subtree. Materializing it once (the n76
    // candidate-set idiom) stops the re-evaluation; the checkpoint is
    // the sized-sets frame, the same working set [[nearDupPairs]]
    // persists, with the same 100 TB caveat (swap for disk-backed
    // persistence or recompute when it outgrows executor storage).
    // Deliberately NO spread on top: both spread placements were
    // re-A/B'd in r22 (input-side: wall 2.87/task 22.7 s; the cut
    // alone: 2.10/3.6 s; r21 shape: 2.68/5.0 s, same box same hour) —
    // the repartition's exchange + 32-way micro-tasks cost more than
    // the single-task kernel it parallelizes at this operator's scale.
    val sized = sizedSets(docs, id, text, w).localCheckpoint()
    val inv = invertedIndex(sized)
    val freq = inv.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    // n − ⌈t·n⌉ + 1 rarest shingles, integer-exact
    val prefixLen =
      col("n") - floor((col("n") * num + den - 1) / den).cast("int") + 1
    val rn = row_number().over(
      Window.partitionBy(col("did")).orderBy(col("df").asc, col("sh").asc))
    val prefix = inv.join(freq, "sh")
      .withColumn("rn", rn)
      .where(col("rn") <= prefixLen)
      .select(col("did"), col("sh"))
    // directed candidates: source prefix × full target index
    val candidates = prefix.as("a")
      .join(inv.as("b"),
        col("a.sh") === col("b.sh") && col("a.did") =!= col("b.did"))
      .select(col("a.did").as("a_id"), col("b.did").as("b_id"))
      .distinct()
    candidates
      .join(sized.select(col("did").as("a_id"), col("sset").as("a_sset"),
        col("n").as("a_n")), "a_id")
      .join(sized.select(col("did").as("b_id"), col("sset").as("b_sset")), "b_id")
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("a_sset"), col("b_sset"))).cast("long")
          .as("inter"),
        col("a_n"))
      .where(col("a_n") >= minSet && col("inter") * den >= col("a_n") * num)
  }

  /** Benchmark decontamination: corpus documents sharing at least
    * `minOverlap` distinct w-gram shingles with ANY benchmark document
    * — the contamination check a training pipeline runs against held-
    * out eval sets before training. Same inverted-index shape as
    * [[jaccardPairs]] (the only wide shuffle is the equi-join on the
    * shingle), but the threshold is ABSOLUTE overlap, not jaccard: a
    * 50-token eval question buried in a 10k-token document has
    * negligible jaccard yet is exactly what must be caught.
    *
    * Returns one row per contaminated corpus doc: its id, the worst-
    * overlap benchmark doc, and that overlap count.
    */
  def contaminated(corpus: DataFrame, benchmark: DataFrame,
      id: String, text: String, w: Int = 3, minOverlap: Int = 3): DataFrame = {
    def index(df: DataFrame, as: String) = df
      .select(col(id).as(as), Text.shingleSet(col(text), w).as("sset"))
      .select(col(as), explode(col("sset")).as("sh"))
    val c = index(corpus, "doc")
    val b = index(benchmark, "bench")
    c.join(b, "sh")
      .groupBy(col("doc"), col("bench"))
      .agg(count(lit(1)).as("overlap"))
      .where(col("overlap") >= minOverlap)
      .groupBy(col("doc"))
      .agg(max(struct(col("overlap"), col("bench"))).as("worst"))
      .select(col("doc").as("doc_id"),
        col("worst.bench").as("bench_id"), col("worst.overlap").as("overlap"))
  }

  /** SimHash near-dup pairs with an EXACT banding guarantee: all pairs
    * whose 64-bit SimHashes differ in at most `maxHamming` bits, found
    * via a band equi-join — and unlike MinHash-LSH banding this is
    * deterministically complete, not probabilistic: by pigeonhole,
    * Hamming distance ≤ 3 over 4 disjoint 16-bit bands forces at least
    * one band to match exactly. So candidates = pairs sharing ≥ 1 band
    * (an equi-join on (band index, band bits), the 100 TB shape), and
    * the exact Hamming filter inside yields EXACTLY the brute-force
    * result — the oracle is the all-pairs query, no operating-point
    * argument needed. Requires maxHamming < number of bands.
    *
    * Hamming is computed chunk-wise from the hex digest (4 × 16-bit
    * xor popcounts) with integer ops both engines share bit-exactly.
    */
  def simhashPairs(docs: DataFrame, id: String, text: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming < 4, "pigeonhole over 4 bands needs maxHamming <= 3")
    val sh = docs.select(col(id).as("did"),
      graft.functions.SimHash.simhash64(Text.tokens(col(text))).as("sim"))
    val banded = sh.select(col("did"), col("sim"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("b"), substring(col("sim"), 1 + 4 * b, 4).as("bits"))): _*))
        .as("band"))
      .select(col("did"), col("sim"), col("band.b"), col("band.bits"))
    def chunk(c: Column, b: Int): Column =
      conv(substring(c, 1 + 4 * b, 4), 16, 10).cast("int")
    val hamming = (0 until 4).map(b =>
      bit_count(chunk(col("a.sim"), b).bitwiseXOR(chunk(col("b.sim"), b))))
      .reduce(_ + _)
    banded.as("a").join(banded.as("b"),
        col("a.b") === col("b.b") && col("a.bits") === col("b.bits") &&
          col("a.did") < col("b.did"))
      .select(col("a.did").as("a_id"), col("b.did").as("b_id"),
        hamming.as("hamming"))
      // a pair can share several bands → distinct AFTER the exact filter
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Connected components over a near-dup pair list: `(id, comp)` where
    * `comp` is the component's minimum member id — the canonical
    * union-find semantics for "keep one doc per duplicate cluster"
    * (transitive chains A~B~C collapse to ONE survivor, unlike a greedy
    * min-id-per-pair pass, which keeps A but drops both B and C even
    * when A≁C).
    *
    * Pregel-style min-label propagation run to a fixpoint: each round,
    * every vertex takes the min of its own label and its neighbors'.
    * Rounds needed = graph diameter; duplicate clusters are short
    * chains in practice, and the iteration space is only the PAIRED
    * vertex set (≪ corpus — singletons never enter the loop, the caller
    * anti-joins losers against the full table). Each round is one
    * equi-join + partial-agg shuffle on the edge key;
    * `localCheckpoint` truncates the growing self-join lineage (a real
    * cluster would use a reliable checkpoint dir). A convergence probe
    * (`limit(1)` over changed labels) stops the loop as soon as a round
    * is a no-op.
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "a_id",
      bCol: String = "b_id", maxIters: Int = 50): DataFrame = {
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .localCheckpoint(true) // pair-detection lineage must not re-run per round
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint(true)
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      val nbrMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src")).agg(min(col("comp")).as("nbr"))
      // prev label rides along INTO the materialization and the
      // convergence probe is counted in the SAME job (cutChanged): a
      // fixpoint's wall is made of driver rounds, so the former
      // separate probe action — one extra job per round — was the
      // family's measured overhead (BASELINE.md). cutChanged also
      // severs carried statistics like Iterate.cut: a plain
      // localCheckpoint's sizeInBytes estimate compounds through the
      // per-round self-join and stalls the driver in stats estimation
      // after ~18 rounds (measured on the BPE loop — Iterate.scaladoc)
      val (next, changed) = Iterate.cutChanged(
        labels.join(nbrMin, labels("id") === nbrMin("src"), "left")
          .select(labels("id"),
            least(labels("comp"), coalesce(col("nbr"), labels("comp"))).as("comp"),
            labels("comp").as("prev")))
      labels = next
      converged = changed == 0
      it += 1
    }
    // silently returning partial labels would make the caller keep
    // several "survivors" inside one duplicate cluster — fail loudly
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds " +
          "(component diameter exceeds maxIters); raise maxIters")
    labels
  }

  /** Exact duplicated-SPAN detection (Lee et al. '21, "Deduplicating
    * Training Data Makes Language Models Better"): the span-level
    * complement of doc-level dedup — find maximal token runs that occur
    * more than once in the corpus, without comparing any document pair.
    *
    * Plan: (1) position-indexed g-token grams per doc (pure per-row
    * generator — one explode, no shuffle); (2) corpus-duplicated grams
    * = gram count ≥ 2, ONE hash-aggregate shuffle bounded by distinct
    * grams, joined back as an equi-join on the gram (never any
    * pairwise doc join — the gram is the blocking key, like the
    * suffix-array bucket in the paper's implementation); (3)
    * gaps-and-islands per doc: a run of CONSECUTIVE duplicated
    * positions is one span of `run + g - 1` tokens (adjacent grams
    * overlap g-1 tokens), merged by the classic `pos - row_number()`
    * group key — a per-doc window over duplicated positions only.
    * Spans shorter than `minSpan` tokens are noise and dropped.
    *
    * At 100 TB: stage 2's shuffle carries (gram, count) pairs — the
    * aggregate is map-side combined so the exchange is bounded by
    * distinct grams, and the join back is hash-partitioned on the
    * gram. The window in stage 3 partitions by doc_id over the
    * duplicated subset only (typically ≪ corpus). Nothing is ever
    * quadratic in documents. */
  /** APPLY [[duplicatedSpans]]: strip every detected span from its doc
    * and report exact before/after token counts. The span table
    * explodes to its covered positions (bounded by total span tokens,
    * ≪ corpus) and the strip is one left-anti equi-join on (doc, pos) —
    * no per-row text surgery, no UDF; the surviving tokens re-join by
    * position order. Keeps EVERY doc (left join), spanless docs pass
    * through unchanged. */
  def stripSpans(docs: DataFrame, g: Int = 8, minSpan: Int = 12): DataFrame = {
    val toks = docs
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= 1) // sequence(0,-1) is illegal
      .select(col("doc_id"),
        explode(sequence(lit(0), size(col("toks")) - 1)).as("pos"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"))
    val cover = duplicatedSpans(docs, g, minSpan)
      .select(col("doc_id"),
        explode(sequence(col("span_start"),
          col("span_start") + col("span_tokens") - 1)).as("pos"))
    val kept = toks.join(cover, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_after"))
    docs.select(col("doc_id"),
        Text.tokenCountWs(col("text")).cast("long").as("n_before"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"))
  }

  /** Corpus-wide FIRST-OCCURRENCE segment dedup — the "line-level
    * dedup" pass of web-corpus pipelines (RefinedWeb §3.3 / FineWeb's
    * line dedup: a boilerplate line is kept where it first appears and
    * stripped from every later page). The fixture corpus has no
    * newlines, so the "line" unit is a non-overlapping K-token segment
    * (the last segment of a doc may be shorter); "first" is the
    * corpus-global (doc_id, seg_idx) minimum for that exact segment
    * text — deterministic, re-run-stable, never rand().
    *
    * Differs from [[duplicatedSpans]] (Lee '21): that DETECTS maximal
    * duplicated runs at every offset (overlapping grams, count ≥ 2
    * anywhere); this one partitions each doc into disjoint segments and
    * APPLIES a keep-first policy, returning per-doc retention stats and
    * an md5 signature of the surviving text.
    *
    * Plan (nothing pairwise, nothing windowed over a hot key):
    *  1. segment generation is a pure per-row explode (no shuffle);
    *  2. the global first occurrence per segment is ONE hash-aggregate
    *     `min(struct(doc_id, seg_idx))` — map-side combined, so a
    *     boilerplate segment duplicated a billion times contributes one
    *     partial row per input partition, never a billion-row sort
    *     (the window-function phrasing of "first" would);
    *  3. kept = equi-join occurrences back to firsts on the segment
    *     (AQE splits the residual hot-probe skew);
    *  4. per-doc reassembly is one groupBy(doc_id) with an
    *     array_sort(collect_list(struct(seg_idx, seg))) — bounded by
    *     the doc's own segment count, ordered by construction.
    *
    * At 100 TB the shuffles are: segments by segment text (agg + join)
    * and kept rows by doc_id — both key-partitioned equi-shuffles; the
    * output is one row per non-empty doc. */
  def segmentDedup(docs: DataFrame, k: Int = 8): DataFrame = {
    val segs = segmentsOf(docs, k)
    applySegmentDedup(segs, firstOccurrences(segs))
  }

  /** Disjoint K-token segments of every non-empty doc:
    * `(doc_id, seg_idx, seg)` — a pure per-row generator, no shuffle. */
  def segmentsOf(docs: DataFrame, k: Int): DataFrame = docs
    .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
    .where(size(col("toks")) >= 1) // empty docs have no segments
    .select(col("doc_id"),
      explode(sequence(lit(0), expr(s"(size(toks) - 1) div $k"))).as("seg_idx"),
      col("toks"))
    .select(col("doc_id"), col("seg_idx").cast("long").as("seg_idx"),
      concat_ws(" ", slice(col("toks"), col("seg_idx") * k + 1, lit(k)))
        .as("seg"))

  /** Global first occurrence per exact segment — ONE map-side-combined
    * `min(struct)` aggregate (order-independent, so the SAME plan runs
    * as a streaming complete-mode aggregation: min is monotone under
    * any micro-batch arrival order). */
  def firstOccurrences(segs: DataFrame): DataFrame = segs
    .groupBy(col("seg"))
    .agg(min(struct(col("doc_id"), col("seg_idx"))).as("first"))
    .select(col("seg"), col("first.doc_id").as("f_doc"),
      col("first.seg_idx").as("f_idx"))

  /** Apply keep-first against a first-occurrence index: per-doc
    * retention stats + md5 signature of the surviving text. */
  def applySegmentDedup(segs: DataFrame, firsts: DataFrame): DataFrame =
    reassemble(segs.join(firsts, Seq("seg"))
      .withColumn("kept",
        (col("doc_id") === col("f_doc") && col("seg_idx") === col("f_idx"))
          .cast("long")))

  /** Per-doc reassembly of a kept/dropped segment table: retention
    * stats + md5 of the surviving text in segment order. One
    * groupBy(doc_id), bounded by each doc's own segment count. */
  private def reassemble(segs: DataFrame): DataFrame = segs
    .groupBy(col("doc_id"))
    .agg(count(lit(1)).as("n_segs"),
      sum(col("kept")).as("n_kept"),
      md5(concat_ws(" ",
        transform(
          array_sort(collect_list(
            when(col("kept") === 1, struct(col("seg_idx"), col("seg"))))),
          x => x.getField("seg")))).as("kept_sig"))
    .select(col("doc_id"), col("n_segs"), col("n_kept"),
      (col("n_segs") - col("n_kept")).as("n_removed"), col("kept_sig"))

  /** The n82 boilerplate threshold: a segment present in at least this
    * many DISTINCT documents is template chrome, not content. Single
    * shared constant — [[boilerplateStrip]]'s default AND SparkEntry's
    * boilerplateOracleSql interpolate THIS value, so the query/oracle
    * twins cannot drift by editing one side. */
  val BoilerMinDf: Int = 2

  /** Corpus-frequency BOILERPLATE removal — the C4 idiom (Raffel '20
    * §2.2) as pipelines like RefinedWeb run it at line granularity:
    * any segment that appears in ≥ `minDf` DISTINCT documents is site
    * chrome / license header / template text and is stripped from
    * EVERY document, including the first. Deliberately different
    * policy from [[segmentDedup]] (keep-first: content that happens to
    * repeat keeps one canonical copy) — a nav bar is noise in all its
    * copies. A segment repeated only WITHIN one doc (df = 1) is kept:
    * that is self-repetition, n32/n64's business, not boilerplate.
    *
    * Plan (nothing pairwise, no window over the hot key):
    *  1. per-doc DISTINCT segments are computed per-row
    *     (array_distinct before the explode — no dropDuplicates
    *     shuffle), so
    *  2. the document frequency is ONE map-side-combined
    *     `groupBy(seg).count` — a boilerplate segment on a billion
    *     pages contributes one partial per input partition, and the
    *     count is EXACTLY "distinct docs" because step 1 emits each
    *     (doc, seg) once. count is monotone under arrival order, so
    *     the SAME aggregate runs as the streaming complete-mode index
    *     build (s35).
    *  3. apply = equi-join occurrences against the df-filtered index
    *     (at 100 TB the boiler set is tiny next to the corpus — AQE
    *     broadcasts it when it fits; left join keeps every segment row
    *     for exact retention stats);
    *  4. per-doc reassembly identical to [[segmentDedup]]'s.
    */
  def boilerplateStrip(docs: DataFrame, k: Int = 8,
      minDf: Int = BoilerMinDf): DataFrame =
    applyBoilerplateStrip(segmentsOf(docs, k),
      segmentDocFreq(distinctSegmentsOf(docs, k)), minDf)

  /** Each doc's DISTINCT K-token segments — `(doc_id, seg)` with
    * within-doc duplicates collapsed BEFORE the explode, a pure
    * per-row generator (no shuffle). Feeding [[segmentDocFreq]] this
    * makes a plain count an exact distinct-document frequency. */
  def distinctSegmentsOf(docs: DataFrame, k: Int): DataFrame = docs
    .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
    .where(size(col("toks")) >= 1)
    .select(col("doc_id"),
      explode(array_distinct(transform(
        sequence(lit(0), expr(s"(size(toks) - 1) div $k")),
        i => concat_ws(" ", slice(col("toks"), i * k + lit(1), lit(k))))))
        .as("seg"))

  /** Document frequency per segment over a per-doc-distinct segment
    * stream: one map-side-combined count — order-independent, so the
    * same plan is the s35 streaming complete-mode index build. */
  def segmentDocFreq(distSegs: DataFrame): DataFrame =
    distSegs.groupBy(col("seg")).agg(count(lit(1)).as("df"))

  /** Apply a document-frequency index: strip every copy of segments
    * with df ≥ minDf, reassemble per doc. */
  def applyBoilerplateStrip(segs: DataFrame, dfIdx: DataFrame,
      minDf: Int = BoilerMinDf): DataFrame =
    reassemble(segs
      .join(dfIdx.where(col("df") >= minDf)
        .select(col("seg"), lit(1L).as("boiler")), Seq("seg"), "left")
      .withColumn("kept", col("boiler").isNull.cast("long")))

  def duplicatedSpans(docs: DataFrame, g: Int = 8, minSpan: Int = 12): DataFrame = {
    val grams = docs
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= g)
      .select(col("doc_id"),
        explode(sequence(lit(0), size(col("toks")) - g)).as("pos"),
        col("toks"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        concat_ws(" ", slice(col("toks"), col("pos") + 1, lit(g))).as("gram"))
    val dup = grams.groupBy(col("gram")).agg(count(lit(1)).as("c"))
      .where(col("c") >= 2).select(col("gram"))
    val dp = grams.join(dup, Seq("gram"), "left_semi")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    dp.withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) - min(col("pos")) + g).as("span_tokens"))
      .where(col("span_tokens") >= minSpan)
      .select(col("doc_id"), col("span_start"), col("span_tokens"))
  }
}
