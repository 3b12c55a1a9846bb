package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Text, TextStats}

/** The composed corpus-curation pipeline (n80) and its serving split
  * (s34) — the FineWeb/Gopher-style end-to-end corpus build that
  * chains the individually-verified stages into one declared query,
  * proving the operators compose without column or semantic collisions
  * (every stage below is the exact arithmetic of its standalone
  * query):
  *
  *   stage 1  quality gate      — n66's Gopher rule list (integer-exact
  *                                TextStats kernel, pure per-row);
  *   stage 2  exact dedup       — the n01/n10 hash-groupBy keep-min
  *                                policy over stage-1 survivors, keyed
  *                                on n10's reorder-robust fingerprint
  *                                (md5 of the sorted distinct token
  *                                set): the fixtures' exact-duplicate
  *                                family is reorder/repetition dupes —
  *                                n01's byte hash matches zero pairs
  *                                there, which would make this stage
  *                                vacuously composable; the plan shape
  *                                (hash agg min-id + equi-join back)
  *                                is identical either way;
  *   stage 3  near-dup survivor — n03/n16's MinHash-LSH pairs at t=0.8
  *                                over stage-2 survivors, greedy
  *                                keep-a/drop-b (doc-level fuzzy dedup
  *                                runs BEFORE segment-level, the
  *                                FineWeb order — the reverse would
  *                                let the segment gate consume every
  *                                whole-doc near-dup first and reduce
  *                                this stage to a proven no-op on
  *                                these fixtures);
  *   stage 4  segment gate      — n73's first-occurrence index over
  *                                stage-3 survivors as a doc-level
  *                                boilerplate gate: drop docs
  *                                retaining < 90 % of their 8-token
  *                                segments (10·n_kept ≥ 9·n_segs
  *                                keeps) — the partial-duplication
  *                                tail LSH's 0.8 whole-doc threshold
  *                                cannot see;
  *   stage 5  mixture reweight  — n38's per-language token-budget
  *                                rates over stage-4 survivors,
  *                                deterministic md5-bucket thinning
  *                                (budgets are pipeline parameters,
  *                                sized so the stage is live at the
  *                                declared fixtures).
  *
  * TRAIN/SERVE SPLIT: the stages decompose into corpus-derived GATE
  * TABLES ([[trainGates]]: fingerprint firsts, LSH loser set, segment
  * retention, language rates — each written to parquet as it is
  * derived, the pretrained-curation-model artifact a deployment ships)
  * and a pure flag-assignment pass over docs joined against those
  * tables ([[flags]]). Every curation query is those two calls: the
  * batch queries (n80, n81, n87, n91) and their streaming twins (s34,
  * s40, s42) differ only in the drain — a stream flags arriving docs
  * with stream-static equi-joins and drains to a sink first. Same
  * expressions, same joins, so the drained flag table equals the
  * batch one row for row and each twin shares its batch oracle
  * verbatim.
  *
  * Output ([[report]]): ONE row per stage (stage, n_docs, n_tokens,
  * corpus_xor), where corpus_xor is an order-independent corpus
  * signature — the bit_xor of each surviving doc's 60-bit md5-prefix
  * hash (the n27/n40 hash idiom; XOR instead of sum so the digest can
  * never overflow at any corpus size, and doc ids are unique so
  * pair-cancellation cannot occur). The retention counts are the
  * numbers a curation run reports; the signature pins the exact
  * surviving doc SET per stage.
  *
  * Plan, built for the 100 TB case:
  *  - survivorship is a FLAG COLUMN per stage on one flagged frame,
  *    not five materialized intermediate corpora: the final report is
  *    a single map-side-combined aggregate over that frame (6 × 3
  *    conditional aggregates → one exchange row per partition), then a
  *    6-row explode — no per-stage rescan of the corpus at the report;
  *  - each gate table is the same bounded shape as its standalone
  *    query: the fingerprint firsts are a map-side-combined min
  *    aggregate equi-joined back (never a window over a hot key), the
  *    LSH stage is the banded equi-join (never all pairs), the segment
  *    index is min(struct) + equi-join, and the mixture rates ride a
  *    |langs|-row broadcast;
  *  - later stages' gates build over earlier stages' survivors only,
  *    so each index processes only its stage's input — exactly how a
  *    production pipeline narrows corpus volume stage by stage.
  *
  * Determinism: every gate is integer arithmetic on md5-derived values
  * (no rand(), no floats except LSH's exact-Jaccard verify, itself one
  * int/int division) — the oracle is the stages' own CTE chain.
  */
object Curation {

  /** The n81 pack budget (tokens per training sequence). Single shared
    * constant: [[packPipeline]]'s default AND SparkEntry's
    * curationPackSql oracle interpolate THIS value, so the query/oracle
    * twins cannot drift by editing one side. */
  val PackTokens: Int = 512

  /** Stage labels in pipeline order (shared with the oracle). */
  val Stages: Seq[(String, String)] = Seq(
    "0_input" -> "pass0", "1_quality" -> "pass1",
    "2_exact_dedup" -> "pass2", "3_near_dedup" -> "pass3",
    "4_segment_gate" -> "pass4", "5_mixture" -> "pass5")

  /** The corpus-derived gate tables (the "curation model"). */
  final case class Gates(firsts: DataFrame, losers: DataFrame,
      retention: DataFrame, rates: DataFrame)

  /** 60-bit md5-prefix hash of a doc id (the corpus-signature term). */
  private def hash60(id: org.apache.spark.sql.Column) =
    conv(substring(md5(id.cast("string")), 1, 15), 16, 10).cast("long")

  /** One TextStats kernel pass feeds the quality gate AND the token
    * accounting (n66's single-pass contract); tok is the same
    * whitespace count the mixture stage budgets against. Pure per-row
    * — identical under batch and micro-batch execution. */
  private def statsBase(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), col("lang"), col("text"),
      TextStats.textStats(col("text")).as("st"))
    .select(col("doc_id"), col("lang"), col("text"),
      col("st.n_tokens").cast("long").as("tok"),
      (col("st.n_tokens").between(20, 1000) &&
        col("st.len_sum") >= col("st.n_tokens") * 3 &&
        col("st.len_sum") <= col("st.n_tokens") * 10 &&
        col("st.max_len") <= 20 && col("st.stop_hits") >= 2).as("pass1"))

  // -- shared flag-extension steps: the SAME join + expression applies
  //    the gate whether the input is the training corpus or a stream --

  /** stage 2: keep-min-id per reorder-robust fingerprint; docs whose
    * fingerprint is absent from the gate (non-survivor content) join
    * to a null keep_id, and pass1 guards the conjunction so the flag
    * stays two-valued. */
  private def withPass2(df: DataFrame, firsts: DataFrame): DataFrame =
    df.withColumn("fp", Text.fingerprint(col("text")))
      .join(firsts, Seq("fp"), "left")
      .withColumn("pass2", col("pass1") && col("doc_id") === col("keep_id"))
      .drop("fp", "keep_id")

  /** stage 3: greedy drop-b against the loser set. */
  private def withPass3(df: DataFrame, losers: DataFrame): DataFrame =
    df.join(losers, df("doc_id") === losers("loser_id"), "left")
      .withColumn("pass3", col("pass2") && col("loser_id").isNull)
      .drop("loser_id")

  /** stage 4: ≥90 %-segment-retention gate (coalesce: docs with no
    * retention row were not stage-3 survivors). */
  private def withPass4(df: DataFrame, retention: DataFrame): DataFrame =
    df.join(retention, Seq("doc_id"), "left")
      .withColumn("pass4", coalesce(
        col("pass3") && col("n_kept") * 10 >= col("n_segs") * 9, lit(false)))
      .drop("n_segs", "n_kept")

  /** stage 5: md5-bucket thinning at the lang's budget rate — a
    * |langs|-row broadcast; a lang with no stage-4 survivor has no
    * rate row and the coalesce keeps the flag two-valued. */
  private def withPass5(df: DataFrame, rates: DataFrame): DataFrame = {
    val bucket = (conv(substring(md5(col("doc_id").cast("string")), 1, 8),
      16, 10).cast("long") % 1000000L)
    df.join(broadcast(rates), Seq("lang"), "left")
      .withColumn("pass5",
        coalesce(col("pass4") && bucket < col("rate_ppm"), lit(false)))
      .drop("rate_ppm")
  }

  /** Build the four gate tables from the training corpus — each over
    * the PREVIOUS stages' survivors only, exactly the standalone
    * queries' bounded shapes. With `seen` (the previous snapshot's
    * digest indexes, as in [[flags]]), the corpus is first narrowed to
    * the docs that survive the cross-snapshot gate
    * ([[Dedup.applySnapshotPolicy]] — the kept frame, lineage-cut
    * because all four gate builds read it): training on docs the
    * snapshot gate already killed would skew the mixture rates and
    * waste the LSH pass on content that never reaches stage 1.
    *
    * Each gate is written to parquet under one temp dir AS IT IS
    * DERIVED and read back, cutting the lineage between stages: stage
    * N+1's plan then scans stage N's written gate instead of embedding
    * its whole derivation subtree. Without the cut the gate subtrees
    * nest (`b3` contains the loser derivation, `b4` contains both, …),
    * so the most expensive op — the banded-LSH pair derivation —
    * re-executes once per downstream gate job (3–4× at the
    * rates/retention writes; measured A/B, fresh JVM min-of-3 at
    * sf0.1: n80 task-time 11.97 → 2.49 s (wall 3.73 → 2.85), s34 wall
    * 7.94 → 3.83 s). With it, every index derivation runs exactly once
    * and each training job re-reads only the pruned corpus scan plus
    * the prior gates — the shape a 100 TB build needs, where the LSH
    * pass dominates and must not be multiplied by the stage count.
    *
    * Parquet rather than `localCheckpoint` for the cut: a file scan
    * carries its real size, so the flag joins against the small gates
    * broadcast instead of adding adaptive shuffle-stage jobs — the
    * fixed per-job cost that sets these queries' floor. `graft.Profile`
    * at sf0.001, three cold runs each, per-gate `localCheckpoint` →
    * parquet as the only change: n80 40 → 32 jobs, n81 40–41 → 32.
    * The LSH pass's shingle sets are written the same way, as a fifth
    * file beside the gates, not cached: n80 runs 28 jobs, not 32, and
    * no cached relation stays pinned for the session. */
  def trainGates(docs: DataFrame, budgetEn: Long, budgetOther: Long,
      seen: Option[(DataFrame, DataFrame)] = None): Gates = {
    val dir = graft.TempDirs.create("graft-curation-gates")
    def written(df: DataFrame, name: String): DataFrame = {
      val p = s"$dir/$name"
      df.write.mode("overwrite").parquet(p)
      // explicit schema (known from the frame just written): the
      // read-back launches no parquet schema-inference job — one such
      // job per gate × 4 gates per training was pure scheduling floor
      df.sparkSession.read.schema(df.schema).parquet(p)
    }
    val kept = seen.fold(docs) { case (aMd5, aFp) =>
      Dedup.applySnapshotPolicy(docs, aMd5, aFp, col("text")).localCheckpoint()
    }
    val base = statsBase(kept)
    val firsts = written(base.where(col("pass1"))
      .groupBy(Text.fingerprint(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keep_id")), "firsts")
    val b2 = withPass2(base, firsts)
    // n03's banded LSH pairs (S-curve ≈ 1 at t=0.8, so the pair set
    // equals brute force), n16's greedy drop-b policy. The pair pass
    // reads the stage-2 survivors' shingle sets three times, so they
    // are written too
    val sets = written(MinHashLsh.setsOf(
      b2.where(col("pass2")).select(col("doc_id"), col("text"))), "sets")
    val losers = written(MinHashLsh.setPairs(sets)
      .select(col("b_id").as("loser_id")).distinct(), "losers")
    val b3 = withPass3(b2, losers)
    val segs = Dedup.segmentsOf(b3.where(col("pass3")), k = 8)
    val retention = written(Dedup.applySegmentDedup(segs, Dedup.firstOccurrences(segs))
      .select(col("doc_id"), col("n_segs"), col("n_kept")), "retention")
    val b4 = withPass4(b3, retention)
    val rates = written(b4.where(col("pass4")).groupBy(col("lang"))
      .agg(sum(col("tok")).as("actual"))
      .select(col("lang"), least(lit(1000000L), expr(
        s"(CASE WHEN lang = 'en' THEN ${budgetEn}L ELSE ${budgetOther}L END)" +
          " * 1000000L div actual")).as("rate_ppm")), "rates")
    Gates(firsts, losers, retention, rates)
  }

  /** Assign every stage flag to `docs` by joining the gate tables —
    * per-row expressions plus four equi-joins (stream-static joins
    * when `docs` is a stream). Output: (doc_id, lang, text, tok,
    * pass1..5), plus `passS` when `seen` is given.
    *
    * `seen` is the previous snapshot's distinct-digest indexes: exact
    * md5 in column `h`, fingerprint in column `fp`
    * ([[Dedup.snapshotIndexes]], or a store's digests/fps components).
    * `passS` comes from two stateless LEFT equi-joins against them —
    * membership-equivalent to [[Dedup.applySnapshotPolicy]]'s
    * anti-joins, shuffle-hash like them because the old snapshot is
    * corpus-sized — and GUARDS the cascade by conjoining into pass1,
    * so a snapshot-gated doc counts only in `0_input` and `pass5`
    * implies the doc survived the snapshot gate. */
  def flags(docs: DataFrame, g: Gates,
      seen: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val base = seen.fold(statsBase(docs)) { case (aMd5, aFp) =>
      statsBase(docs)
        .withColumn("h", md5(col("text")))
        .withColumn("fp", Text.fingerprint(col("text")))
        .join(aMd5.select(col("h"), lit(true).as("seen_h"))
          .hint("shuffle_hash"), Seq("h"), "left")
        .join(aFp.select(col("fp"), lit(true).as("seen_fp"))
          .hint("shuffle_hash"), Seq("fp"), "left")
        .withColumn("passS", col("seen_h").isNull && col("seen_fp").isNull)
        .withColumn("pass1", col("passS") && col("pass1"))
        .drop("h", "fp", "seen_h", "seen_fp")
    }
    withPass5(withPass4(withPass3(withPass2(
        base, g.firsts), g.losers), g.retention), g.rates)
  }

  /** The stage-5 survivors of [[flags]] as (doc_id, lang, text) — the
    * curated increment n91's batch cycle and s42's micro-batches append
    * to the snapshot store. */
  def survivors(docs: DataFrame, g: Gates,
      seen: Option[(DataFrame, DataFrame)]): DataFrame =
    flags(docs, g, seen).where(col("pass5"))
      .select(col("doc_id"), col("lang"), col("text"))

  /** The columns [[reportStages]] reads from a [[flags]] frame: doc_id,
    * tok and the flags of `stages` after the raw-input row (the report
    * derives that row's flag and the doc hash itself). A streaming twin
    * drains only these, so its sink holds no text. */
  def reportInput(flagged: DataFrame, stages: Seq[(String, String)]): DataFrame =
    flagged.select(col("doc_id") +: col("tok") +:
      stages.tail.map { case (_, f) => col(f) }: _*)

  /** The report: ONE aggregate over the flagged frame (3 conditional
    * aggregates per stage, map-side combined), explode to 6 rows. */
  def report(flagged: DataFrame): DataFrame = reportStages(flagged, Stages)

  /** [[report]] over a caller-supplied stage axis — n80's 6 stages or
    * n87/s40's 7 (with the snapshot-gate flag); still one aggregate +
    * one explode, never a per-stage rescan. `pass0` (every doc) and
    * the corpus-signature hash `hv` derive here from doc_id. */
  def reportStages(flagged: DataFrame,
      stages: Seq[(String, String)]): DataFrame = {
    val aggs = stages.flatMap { case (nm, f) => Seq(
      sum(when(col(f), 1L).otherwise(0L)).as(s"nd_$nm"),
      coalesce(sum(when(col(f), col("tok"))), lit(0L)).as(s"nt_$nm"),
      coalesce(expr(s"bit_xor(CASE WHEN $f THEN hv END)"), lit(0L))
        .as(s"bx_$nm"))
    }
    flagged
      .withColumn("hv", hash60(col("doc_id")))
      .withColumn("pass0", lit(true))
      .agg(aggs.head, aggs.tail: _*)
      .select(explode(array(stages.map { case (nm, _) =>
        struct(lit(nm).as("stage"), col(s"nd_$nm").as("n_docs"),
          col(s"nt_$nm").as("n_tokens"), col(s"bx_$nm").as("corpus_xor"))
      }: _*)).as("s"))
      .select(col("s.stage"), col("s.n_docs"), col("s.n_tokens"),
        col("s.corpus_xor"))
  }

  /** docs(doc_id, lang, text) → (stage, n_docs, n_tokens, corpus_xor),
    * one row per [[Stages]] entry: train + flag + report in one
    * declared query (n80) — s34 runs the same two calls with a stream
    * drain between flag and report. `budgetEn`/`budgetOther`: stage-5
    * per-language token budgets. */
  def pipeline(docs: DataFrame, budgetEn: Long, budgetOther: Long): DataFrame =
    report(flags(docs, trainGates(docs, budgetEn, budgetOther)))

  /** n87 stage labels: [[Stages]] shifted one slot to make room for
    * the cross-snapshot gate between raw input and the quality gate.
    * Single shared constant — [[SnapshotStages]] AND SparkEntry's
    * oracle stage rows interpolate THIS sequence. */
  val SnapshotStageRelabel: Seq[(String, String)] = Seq(
    "0_input" -> "1_snapshot",
    "1_quality" -> "2_quality",
    "2_exact_dedup" -> "3_exact_dedup",
    "3_near_dedup" -> "4_near_dedup",
    "4_segment_gate" -> "5_segment_gate",
    "5_mixture" -> "6_mixture")

  /** n87/s40's 7-slot stage axis for [[reportStages]]: raw input, the
    * snapshot gate, then [[Stages]]' cascade under its shifted labels
    * (flags keep their pass1..5 names — only labels shift). */
  val SnapshotStages: Seq[(String, String)] =
    Seq("0_input" -> "pass0", "1_snapshot" -> "passS") ++
      Stages.tail.map { case (nm, f) =>
        SnapshotStageRelabel.toMap.apply(nm) -> f }

  /** The SNAPSHOT-GATED curation pipeline (n87) — what an incremental
    * corpus build actually runs on a new crawl: FIRST drop docs whose
    * exact digest or fingerprint already exists in the accumulated
    * previous snapshot ([[Dedup.applySnapshotPolicy]] — near-dups
    * deliberately survive, the FineWeb cross-dump rule), THEN run the
    * full five-stage curation over the survivors, with every gate
    * table trained on the post-snapshot corpus ([[trainGates]] with
    * `seen`).
    *
    * Output: [[report]]'s (stage, n_docs, n_tokens, corpus_xor) rows
    * over [[SnapshotStages]] — `0_input` aggregates the RAW new
    * snapshot, `1_snapshot` the gate's survivors, `2_quality` ..
    * `6_mixture` the curation cascade. Same column contract as n80,
    * and the same calls as its streaming twin s40 up to the drain.
    *
    * Scale shape: the snapshot gate is shuffle-hash joins against the
    * previous snapshot's distinct-digest indexes (never broadcast —
    * the old snapshot is corpus-sized), the curation part is
    * [[pipeline]]'s (bounded gate tables over narrowing survivor
    * sets, lineage-cut), and the report one map-side-combined
    * aggregate over the flagged new snapshot. */
  def snapshotPipeline(oldDocs: DataFrame, newDocs: DataFrame,
      budgetEn: Long, budgetOther: Long): DataFrame = {
    val seen = Some(Dedup.snapshotIndexes(oldDocs, col("text")))
    reportStages(flags(newDocs,
      trainGates(newDocs, budgetEn, budgetOther, seen), seen), SnapshotStages)
  }

  /** ONE production crawl increment, end to end (n91) — the state
    * transition a real incremental pipeline commits every dump, and
    * the corpus-scale generalization of the reference's sink-side
    * dedup loop (kafka_s.py:614-630 — every processed event
    * immediately becomes dedup state for the next):
    *
    *   1. PROBE + POLICY: the gates train on the arriving docs whose
    *      exact digest and fingerprint are absent from the ACCUMULATED
    *      store ([[trainGates]] with the store's digest components as
    *      `seen` — the n86 FineWeb rule; a first crawl against an
    *      empty store keeps everything);
    *   2. CURATE: the arriving docs flag through the snapshot-gated
    *      cascade ([[survivors]] — the n87 shape; passS guards pass1,
    *      so the stage-5 survivors all passed the store gate);
    *   3. APPEND the CURATED survivors back into the store — their
    *      sets/bands/digests indexes AND the curated (doc_id, lang,
    *      text) rows themselves as the `docs` component
    *      ([[SnapshotStore.append]] with `persistDocs` — staged,
    *      audited, manifest-committed), so the NEXT crawl probes the
    *      accumulated, curated corpus and a training run reads it.
    *
    * Steps 1–2 are s42's per-increment training and per-micro-batch
    * survivor definition; the batch cycle differs only in the drain.
    * Returns the curated frame (what was appended). Cycle applied
    * twice == rebuild from the curated union — CrawlCycleSpec proves
    * every store component row-equal, and the declared n91 query
    * hash-checks a post-cycle probe against the composed oracle.
    *
    * GATE-TRAINING POLICY (deliberate, not incidental): all five
    * curation gates RE-TRAIN from scratch on each increment's
    * survivors — per-dump independence, the rule FineWeb settled on
    * after measuring cross-dump fuzzy dedup (gates carrying state
    * across dumps) HURTING downstream quality versus processing each
    * dump independently (Penedo et al. 2024, "The FineWeb Datasets" —
    * the same evidence behind [[Dedup.applySnapshotPolicy]] keeping
    * cross-snapshot near-dups). Concretely: the fingerprint
    * firsts, LSH losers, and segment retention are relations over
    * THIS increment's doc ids (accumulated-corpus training would only
    * add cross-increment pairs — exactly the fuzzy matches the policy
    * says to keep), and the mixture rates budget each increment on
    * its own token volume, so every dump contributes at the same
    * per-language rate instead of early dumps exhausting the budget.
    * Only the EXACT-digest gate (step 1) consults accumulated state —
    * the store — because exact cross-dump re-crawls are the one class
    * FineWeb removes globally. The alternative (gates trained on the
    * accumulated corpus) would also re-scan O(corpus) per increment
    * instead of O(delta), so the measured-quality rule and the scale
    * rule agree here.
    *
    * Scale shape: the store gate is shuffle-hash joins against the
    * store's file scans (never broadcast — the accumulated store is
    * corpus-sized), step 2 is [[pipeline]]'s bounded gate cascade, step
    * 3 one scan of the curated frame plus the O(delta) append
    * anti-joins/audit. The curated frame is lineage-cut
    * (localCheckpoint) because each component write reads it — and it
    * IS the corpus increment a production run ships, so the append
    * persists it as the store's `docs` component (`persistDocs` — the
    * same staged/audited commit as the indexes): the store holds the
    * shipped training corpus itself, not just its dedup indexes, and
    * [[SnapshotStore.docs]] serves the accumulated curated corpus to
    * downstream consumers (n94). */
  def cycleAppend(spark: SparkSession, storeDir: String, newDocs: DataFrame,
      budgetEn: Long, budgetOther: Long): DataFrame = {
    // both policy baselines from ONE pinned store version (reader
    // snapshot isolation — SnapshotStore.Snapshot scaladoc)
    val store = SnapshotStore.snapshot(spark, storeDir)
    val seen =
      if (store.ids.nonEmpty) Some((store.digests(spark), store.fps(spark)))
      else None
    val gates = trainGates(newDocs, budgetEn, budgetOther, seen)
    val curated = survivors(newDocs, gates, seen).localCheckpoint()
    SnapshotStore.append(spark, storeDir, curated, persistDocs = true)
    curated
  }

  /** Curate THEN tokenize-and-pack (n81) — the step after n80 in a real
    * corpus build: the stage-5 survivors are laid end-to-end per
    * language in deterministic doc_id order and chopped into
    * `packTokens`-token training sequences (n28's concat-then-chop
    * arithmetic verbatim: a doc's pack = its starting offset div the
    * budget). Output: (lang, pack_id, n_docs, pack_tokens) — the pack
    * manifest a tokenizer/loader consumes.
    *
    * This is the composition the standalone queries can't prove: the
    * packer consumes the CURATED corpus (so pack offsets depend on
    * every upstream gate's survivor set), and its oracle is the n80
    * CTE chain extended by n28's pack CTEs.
    *
    * Scale shape: the curation part is [[pipeline]]'s (gates built once
    * over narrowing survivor sets, lineage-cut); the pack is one
    * per-language window sum + partial agg — n28's declared
    * deterministic-global-concat semantics, where per-language
    * parallelism is the contract (a 100 TB build shards to
    * (lang, shard) with shard offsets composed from per-shard totals —
    * one |shards|-row driver pass — when a single language outgrows
    * one task's sort; the arithmetic is unchanged). */
  def packPipeline(docs: DataFrame, budgetEn: Long, budgetOther: Long,
      packTokens: Int = PackTokens): DataFrame =
    packCorpus(flags(docs, trainGates(docs, budgetEn, budgetOther))
      .where(col("pass5"))
      .select(col("lang"), col("doc_id"), col("tok")), packTokens)

  /** The pack arithmetic alone, over an ALREADY-CURATED corpus frame
    * (lang, doc_id, tok) — n28's concat-then-chop in deterministic
    * per-language doc_id order: a doc's pack = its starting offset div
    * the budget. [[packPipeline]] feeds it the stage-5 survivors; n96
    * feeds it the snapshot store's persisted docs component, so
    * training sequences come straight from the accumulated store
    * without re-deriving any curation lineage. Same per-language
    * window + partial agg shape (and the same (lang, shard) sharding
    * story at 100 TB) as [[packPipeline]]. */
  def packCorpus(corpus: DataFrame,
      packTokens: Int = PackTokens): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    corpus
      .withColumn("cum", sum(col("tok")).over(w))
      .select(col("lang"), col("tok"),
        expr(s"(cum - tok) div $packTokens").as("pack_id"))
      .groupBy(col("lang"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("pack_tokens"))
  }
}
