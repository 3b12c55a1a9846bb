package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan contracts: the physical shapes the 100 TB design point depends
  * on, asserted so a refactor can't silently regress them (e.g. a lost
  * broadcast hint turning a dim join into a shuffle, or a similarity
  * join degrading to a cartesian product). */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString

  /** The query executions that complete while `body` runs. */
  private def executedBy(body: => Unit): Seq[org.apache.spark.sql.execution.QueryExecution] = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val executed = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = executed.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    executed.asScala.toSeq
  }

  test("dim lookup join broadcasts (no shuffle of the stream side)") {
    assert(plan("p03_lookup_join").contains("BroadcastHashJoin"))
  }

  test("rule-match is a broadcast nested-loop (theta join, rules dim broadcast)") {
    assert(plan("p05_rule_match").contains("BroadcastNestedLoopJoin"))
  }

  test("reference pipeline: dims are in-plan lookups, the rules its one broadcast, no shuffle") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val p = SparkEntry.queries("p09_pipeline_e2e")(spark, sf).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(p.collect { case b: BroadcastExchangeExec => b }.size == 1, p)
    assert(p.collect { case s: ShuffleExchangeExec => s }.isEmpty, p)
    val dimKeys = p.collect { case j: BaseJoinExec => j.references.map(_.name) }.flatten
      .filter(Set("short_name", "compName"))
    assert(dimKeys.isEmpty, p)
  }

  test("similarity join is an equi-join on the shingle, never cartesian") {
    val p = plan("n02_dedup_jaccard")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("HashAggregate")) // co-occurrence counting, partial+final
  }

  test("LSH banding join is an equi-join, never cartesian") {
    assert(!plan("n03_dedup_minhash_lsh").contains("CartesianProduct"))
  }

  test("snapshot near-dup delta joins old↔new bands, never cartesian") {
    val p = plan("n85_snapshot_neardup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("snapshot policy apply never broadcasts or pairs the old snapshot") {
    val p = plan("n86_snapshot_policy_apply")
    // the previous snapshot's digest indexes are corpus-sized at
    // 100 TB: the anti-joins must hash-partition (shuffle_hash pinned)
    // even at fixture sizes where the optimizer would broadcast
    assert(!p.contains("Broadcast"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("ShuffledHashJoin"), p)
  }

  test("strict snapshot policy: digest anti-joins + banded LSH, never cartesian") {
    // the digest gate's shuffle-hash anti-join shape is pinned by the
    // n86 contract above; here the gate runs inside the lineage-cut
    // kept frame (it feeds the LSH pass AND the final anti-join —
    // ADVICE r16), so the declared plan shows the checkpoint scan, the
    // banded LSH subtree and the greedy near-dup drop
    val p = plan("n89_snapshot_policy_strict")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the near-dup losers drop is an anti EQUI-join, never a filter
    // over a materialized pair list
    assert(p.contains("LeftAnti"), p)
    // the digest gate runs INSIDE the lineage-cut kept frame, so the
    // declared plan above can't see it — pin its shape directly on the
    // PRE-checkpoint frame n89 builds (ADVICE r17): the corpus-sized
    // digest indexes must hash-partition, never broadcast
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables.documents(spark, sf)
    val (aMd5, aFp) = graft.operators.Dedup.snapshotIndexes(
      docs.where(col("doc_id") % 2 === 0), col("text"))
    val gate = graft.operators.Dedup.applySnapshotPolicy(
        docs.where(col("doc_id") % 2 === 1), aMd5, aFp, col("text"))
      .queryExecution.executedPlan.toString
    assert(!gate.contains("Broadcast"), gate)
    assert(gate.contains("ShuffledHashJoin"), gate)
  }

  test("URL-level snapshot delta is key equi-joins, no broadcast of old") {
    val p = plan("n88_snapshot_url_delta")
    assert(!p.contains("Broadcast"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("ShuffledHashJoin"), p)
  }

  test("boilerplate strip: df is one agg over a per-row distinct explode") {
    val p = plan("n82_boilerplate_strip")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the distinct-doc frequency must come from the map-side-combined
    // count (partial+final HashAggregate), NOT a dropDuplicates
    // shuffle before the agg — array_distinct runs inside the generate
    assert(p.contains("HashAggregate"), p)
    // never a window over the hot seg key — case-insensitive so the
    // guard catches both the `Window` operator and expression-tree
    // forms like `windowspecdefinition`
    assert(!p.toLowerCase.contains("window"), p)
  }

  test("snapshot-gated curation: no stage introduces a corpus×corpus join") {
    // the snapshot gate's own anti-join shape (shuffle-hash, no
    // broadcast of the old snapshot) is pinned by the n86 contract
    // above; here the report plan flags the new snapshot against the
    // digest indexes and the written gates' parquet scans
    val p = plan("n87_snapshot_curation")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the |langs|-row mixture rates still ride a broadcast
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("composed curation pipeline: no stage introduces a corpus×corpus join") {
    val p = plan("n80_curation_pipeline")
    // five chained stages (fingerprint index, LSH bands, segment index,
    // rates) — every join is an equi-join or an explicit dim broadcast
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the |langs|-row mixture rates ride a broadcast, never a shuffle
    // of the corpus side
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("curation gate subtrees keep their standalone join contracts") {
    // trainGates writes each gate to parquet as it is derived, so the
    // n80/n81 plans above see only the gates' file scans. The contracts
    // are asserted on the four gate-write plans trainGates executes:
    // no cartesian anywhere, and the LSH loser derivation is the
    // banded equi-join (hash-agg'd band buckets), never an NLJ fan-out.
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("text"))
    val plans = executedBy(
      graft.operators.Curation.trainGates(docs, 100000L, 100000L))
      .map(_.executedPlan.toString)
    // a gate's write plan names the gate's dir as its output path
    val gates = Seq("firsts", "losers", "retention", "rates")
    val byGate = gates.map { nm =>
      nm -> plans.filter(_.matches(
        s"(?s).*InsertIntoHadoopFsRelationCommand \\S*graft-curation-gates[^/]*/$nm,.*"))
    }.toMap
    assert(gates.forall(byGate(_).size == 1), plans.mkString("\n"))
    for ((nm, Seq(p)) <- byGate) {
      assert(!p.contains("CartesianProduct"), s"$nm: $p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$nm: $p")
    }
    assert(byGate("losers").head.contains("HashAggregate"), byGate("losers").head)
  }

  test("curate-then-pack keeps n80's join contract and packs via one window") {
    val p = plan("n81_curation_pack")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the chop is one per-language running-sum window + partial agg,
    // never a corpus self-join on offsets
    assert(p.contains("Window"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("store-served corpus queries aggregate file scans — no pairing, no corpus broadcast") {
    // n94/n96 consume the store's docs component: the corpus side is a
    // plain multi-path parquet scan feeding per-row expressions and a
    // map-side-combined aggregate (n94) or the one-window pack (n96) —
    // at 100 TB the docs component is the full curated corpus, so
    // nothing may broadcast or pair it
    val p94 = plan("n94_store_docs_corpus")
    assert(!p94.contains("CartesianProduct") && !p94.contains("Broadcast"), p94)
    assert(p94.contains("HashAggregate"), p94)
    val p96 = plan("n96_store_pack")
    assert(!p96.contains("CartesianProduct") && !p96.contains("Broadcast"), p96)
    // n81's chop contract over the served corpus: one per-language
    // running-sum window + partial agg, never an offsets self-join
    assert(p96.contains("Window"), p96)
    assert(p96.contains("HashAggregate"), p96)
  }

  test("column pruning reaches the scan (unused lineitem columns never read)") {
    val p = plan("a01_tpch_q1")
    assert(!p.contains("l_comment") && !p.contains("l_partkey"))
  }

  test("filter pushdown reaches the parquet scan") {
    assert(plan("a01_tpch_q1").contains("PushedFilters: [IsNotNull(l_shipdate)"))
  }

  test("top-n is a TakeOrdered, not a global sort") {
    assert(plan("p11_topn").contains("TakeOrderedAndProject"))
  }

  test("partitioned write read-back prunes partitions at the scan") {
    val p = plan("p23_partitioned_write")
    // the lang predicate must be a PartitionFilter (directory pruning),
    // not a post-scan Filter over all partitions' bytes
    assert(p.contains("PartitionFilters: ["), p)
    assert(p.contains("isnotnull(lang") || p.contains("lang#"), p)
    val pf = p.split("PartitionFilters: ")(1).split("]")(0)
    assert(pf.contains("= en") || pf.contains("equal") || pf.toLowerCase.contains("en"), pf)
  }

  test("tfidf keeps the df join off the cartesian path and bounds the window") {
    val p = plan("n41_tfidf_keywords")
    assert(!p.contains("CartesianProduct"), p)
    // the N-docs scalar rides a broadcast, never a shuffled join side
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    // per-doc top-k via window: rank filter present, no global sort+limit
    assert(p.contains("RunningWindowFunction") || p.contains("Window"), p)
  }

  test("scaled rule match broadcasts the rules, streams the fact side") {
    val p = plan("p14_rule_match_scale")
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("Exchange hashpartitioning")) // no fact-side shuffle
  }

  test("embedding pair join precomputes norms outside the O(n^2) loop") {
    // norm appears in a Project below the join, not inside the join filter
    val p = plan("n13_embed_neardup")
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("grid pair join is an EQUI-join on the block key — no NLJ, no cartesian") {
    val p = plan("n23_embed_neardup_grid")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"))
  }

  test("sequence packing is ONE shuffle end-to-end (window partitioning reused by the agg)") {
    // Exchange on lang feeds the window AND satisfies the (lang,
    // pack_id) grouping — a second exchange would mean the packing
    // pipeline re-shuffles the corpus for no reason
    val p = plan("n28_sequence_pack")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("resample/gap-fill never degenerates to a cartesian") {
    val p = plan("a22_resample_gapfill")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("decontamination join shuffles only on the shingle, never cartesian") {
    val p = plan("n31_decontaminate")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("containment prefix variant stays equi-join shaped, never cartesian") {
    val p = plan("n63_containment_prefix")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("temperature mixture's total rides a broadcast, never a shuffled join") {
    val p = plan("n67_temperature_mixture")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"))
  }

  test("length buckets: pure aggregate, no join or window anywhere") {
    val p = plan("n68_length_buckets")
    assert(!p.contains("Join") && !p.contains("Window"), p)
  }

  test("gopher gate is a shuffle-free scan: TextStats kernel, no explode, " +
      "no Exchange") {
    val p = plan("n66_gopher_quality")
    assert(!p.contains("Exchange"), p) // the explode+groupBy form shuffled corpus×tokens rows
    assert(!p.contains("Generate"), p) // no explode anywhere
    assert(p.contains("graft_text_stats"), p)
  }

  test("score deciles: histogram windows only, no join, no cartesian") {
    val p = plan("n69_score_deciles")
    assert(!p.contains("Join"), p)
    assert(p.contains("Window"), p)
  }

  test("simhash banding is an equi-join on (band, bits), never cartesian") {
    val p = plan("n26_simhash_neardup")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("bucketed join is shuffle-free below the join (only the agg exchanges)") {
    val p = plan("p17_bucketed_join")
    assert(p.contains("SortMergeJoin"))
    // exactly ONE Exchange in the whole plan: the post-join groupBy's.
    // Both scan sides are bucket-partitioned, so the join itself
    // introduces none — the write-once/join-many contract.
    assert("Exchange".r.findAllIn(p).size == 1, p)
  }

  test("salted join shuffles on (key, salt) — no broadcast, no single hot partition") {
    val p = plan("p16_salted_join")
    assert(p.contains("ShuffledHashJoin"))
    assert(p.contains("_salt"))
    assert(!p.contains("BroadcastHashJoin"))
  }

  test("SRP-bucketed pair join is an EQUI-join on the probe key — no NLJ") {
    val p = plan("n24_embed_neardup_lsh")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"))
  }

  test("repetition gate stays native: no HOF in the plan, no gram array, no join") {
    // the r3 regression put an interpreted higher-order-function kernel
    // in this hot path (15x); the fixed plan is pure arithmetic + the
    // codegen'd shingleSet kernel, a single scan-project-filter
    val p = plan("n32_repetition")
    assert(!p.toLowerCase.contains("lambdafunction"), p) // no HOF survived
    assert(!p.contains("transform("), p)
    assert(!p.contains("Join"), p)
    assert(p.contains("*(1)"), p) // whole-stage codegen'd, single stage
  }

  test("k-means assignment is shuffle-free: the only hash shuffle is the k-row centroid update") {
    // centroids ride in on a 1-row broadcast (BNLJ cross with a 1-row
    // build side is the broadcast, not a data explosion); the native
    // dotproduct kernel does the per-row scoring inside codegen
    val p = plan("n34_kmeans")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.toLowerCase.contains("dotproduct"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("pagerank iterations join on node keys — no cartesian, no NLJ blowup") {
    // the rank x edges and edges x deg joins must stay equi-joins; the
    // only BNLJ allowed is the 1-row node-count broadcast
    val p = plan("n39_pagerank")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Join"), p)
  }

  test("rollup is a single Expand + partial/final aggregate — one shuffle") {
    // a07's bench outlier was environment variance, not the plan; pin the
    // plan shape so a real regression (extra Exchange, lost partial agg)
    // is distinguishable from noise
    val p = plan("a07_rollup")
    assert(p.contains("Expand"), p)
    assert(!p.contains("Join"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p) // partial + final
  }

  test("bm25 never shuffles row data: 1-row stats broadcast, zero explode, top-k is TakeOrdered") {
    // tf comes from len - len(array_remove) arithmetic, NOT an explode
    // (a Generate here would multiply the 100 TB scan by tokens/doc);
    // corpus stats ride in as a 1-row IdentityBroadcast, and the only
    // Exchange is the SinglePartition one that builds that 1-row side
    val p = plan("n33_bm25")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Generate"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("unigram scoring's vocab join is a broadcast hash join, never cartesian") {
    // no hint forces the broadcast: when the vocab outgrows the
    // threshold on a real corpus, AQE swaps in a token-keyed shuffle
    // join with this same logical plan — the contract here is only that
    // the fixture-scale physical plan is the broadcast form and that no
    // join ever degenerates to a cartesian product
    val p = plan("n37_unigram_score")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("mixture reweighting is exactly two data shuffles at any scale") {
    // one Exchange aggregates per-stratum token counts, one feeds the
    // final per-stratum report; the ppm keep-rates ride back on a
    // broadcast — row data is never repartitioned a third time
    val p = plan("n38_mixture_weight")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("lateral top-k decorrelates to a ranked join — no per-row re-scan") {
    // Catalyst rewrites the LIMIT-bearing correlated lateral into a
    // window/ranked join: no nested-loop over the outer side, no
    // cartesian — the shape that survives a data-sized outer table
    val p = plan("a27_lateral_topk")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("count-min build aggregates on (row,bucket) — sketch-bounded shuffle") {
    val p = plan("n43_cms_heavy_hitters")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the sketch lookup side rides a broadcast, never a row-data shuffle
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("bloom probe is a pure predicate: no join, no explode before the count") {
    // packed-bitset hit counter (Bloom.decontaminate): each doc's hit
    // count is one codegen'd per-row expression over its shingle set,
    // so the plan is a scan, a projection and a filter
    val p = plan("n44_bloom_decontaminate")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Generate"), p)
    assert(!p.contains("Exchange"), p)
  }

  test("containment join is an equi-join on the shingle, never cartesian") {
    val p = plan("n46_containment")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("chunking is a pure generator: no shuffle at all") {
    val p = plan("n47_chunk_overlap")
    assert(p.contains("Generate"), p)
    assert(!p.contains("Exchange"), p)
  }

  test("BPE training never goes cartesian: the learned rule applies as a literal") {
    val p = plan("n57_bpe_train")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("range-frame window is one shuffle on the partition key") {
    val p = plan("a30_range_frame")
    assert(p.contains("Window"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("snapshot diff is a key equi-join (full outer), never cartesian") {
    val p = plan("p30_snapshot_diff")
    assert(p.contains("FullOuter"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("span dedup joins only on the gram — no pairwise doc join, no cartesian") {
    val p = plan("n54_span_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Window"), p) // gaps-and-islands per doc
  }

  test("SemDeDup pair stage is an equi-join on the cluster id, never cartesian") {
    val p = plan("n52_semantic_dedup")
    // the only NLJ allowed is the kmeans 1-row centroid broadcast; the
    // quadratic pair stage must ride the cluster-key hash join
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("priority sample is one scan + per-group window, no join anywhere") {
    val p = plan("n53_priority_sample")
    assert(!p.contains("Join"), p)
    assert(p.contains("Window"), p)
  }

  test("exact quantiles shuffle the HISTOGRAM, not the rows") {
    val p = plan("a29_exact_quantiles")
    // partial count per (lang, value) BEFORE the exchange = the
    // map-side combine that bounds the shuffle by distinct values
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("Join"), p)
  }

  test("events ts filter pushes down to the parquet scan (probe query prunes, not scans)") {
    // the change-detection probe (`count(*) WHERE ts >= last-check`)
    // must prune via row-group stats at 100 TB; requires ts to stay a
    // SCAN ATTRIBUTE — the schema-adaptive reader requests micros
    // encodings as TimestampType instead of casting after the scan,
    // because a cast-derived ts would make the filter unpushable
    val p = plan("p10_refresh_probe")
    assert(p.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts"), p)
  }

  test("ANN recall harness: rank filters become WindowGroupLimit (per-task " +
      "partial top-k before the exchange), probes broadcast, no cartesian") {
    // recall@k's two top-k windows must NOT sort the full probe-fanned
    // corpus per probe partition: Catalyst's rank-limit rewrite keeps
    // only k rows per (task, probe) BEFORE the shuffle, so the
    // exchange carries O(tasks·probes·k) rows at any corpus size. The
    // probe fan-out itself must ride a broadcast, never a cartesian.
    val p = plan("n72_ann_recall")
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("IVFADC serving path: one broadcast scoring fan-out, all five top-k " +
      "windows collapse to WindowGroupLimit, no cartesian") {
    // the composed IVF-prune + ADC-re-rank query must keep the n72
    // contract under the extra ADC ranking: per-task partial top-k
    // before every exchange, probe LUT broadcast, never a cartesian.
    // Since r21 the final plan's branches start from the CHECKPOINTED
    // nprobe=2 candidate set, so the scoring fan-out runs while the
    // query is constructed: the fan-out contract is asserted on the
    // plans that construction executes — every join pairing corpus
    // vectors with probes (its output carries vec_id and probe_id).
    // Auto-broadcast is off, so only the query's own broadcast hint can
    // make the fan-out a BroadcastNestedLoopJoin.
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    var p = ""
    val executed = try executedBy { p = plan("n76_ivfpq_ann") }
      finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct"), p)
    val fanOut = executed
      .flatMap(qe => QueryProfile.planNodes(qe.executedPlan))
      .filter(n => Set("vec_id", "probe_id").subsetOf(n.output.map(_.name).toSet))
    val shown = executed.map(_.executedPlan.toString).mkString("\n")
    assert(fanOut.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]), shown)
    assert(!fanOut.exists(_.isInstanceOf[CartesianProductExec]), shown)
  }

  test("segment dedup computes 'first' as an aggregate — no window sort " +
      "over the hot segment key, no cartesian") {
    // a window-function phrasing of first-occurrence would sort every
    // occurrence of a boilerplate segment in one partition; the
    // min(struct) aggregate is map-side combined instead
    val p = plan("n73_segment_dedup")
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("score calibration windows the (source, value) HISTOGRAM, not raw rows") {
    // the percent-rank must come from the cumulative histogram (window
    // input = post-aggregate), mirroring the a29/n69 idiom: the Window
    // operator sits above a HashAggregate in its subtree, and the
    // join back to scored rows is an equi-join
    val p = plan("n74_score_calibration")
    assert(!p.contains("CartesianProduct"), p)
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0, p)
    assert(p.indexOf("HashAggregate", winIdx) >= 0, p)
  }
}
