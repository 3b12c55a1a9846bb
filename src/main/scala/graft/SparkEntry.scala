package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Ids, Rules, SimHash, Text}
import graft.operators.{Clustering, Dedup, MinHashLsh, Multimodal, Pipeline, RuleClassifier, Sharding, Similarity}
import graft.sources.{Kafka, Tables}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] is one operator from SURVEY §2 (reference
  * parity, `p*`), a Catalyst-surface analytic (`a*`), an LLM-pipeline
  * extension (`n*`), or a Structured-Streaming query (`s*`). Every entry
  * has a DuckDB-oracle twin in [[oracleSql]] unless marked rows-only.
  *
  * Determinism rules used throughout (Spark vs DuckDB hash compare):
  *  - float aggregations go through `CAST(expr AS DECIMAL(28,6))` so the
  *    sum is exact and identical in both engines (no float summation-order
  *    drift), and the FINAL sum is cast to STRING on both sides: readers
  *    canonicalize DECIMAL columns differently (pyarrow → Decimal
  *    '3.750000', DuckDB fetchdf → float64 '3.75' — measured, and DuckDB's
  *    decimal→double cast is not correctly rounded either), while the
  *    decimal→string rendering is exact and identical ('3.750000') in
  *    both engines. Raw double columns pass through untouched
  *    (bit-identical).
  *  - nanosecond timestamps (events.ts) are emitted as second-formatted
  *    strings (Spark truncates parquet ns → µs; DuckDB keeps ns).
  *  - result sets are fully keyed (no arbitrary-row picks, ties broken).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The full reference pipeline end-to-end: normalize →
    * broadcast dim joins → industry pivot → rule classify → labels/ids
    * → 34-col announcement record. */
  def entry(spark: SparkSession): DataFrame =
    q("p09_pipeline_e2e")(spark, "/root/testdata/sf0.001")

  private def q(name: String): (SparkSession, String) => DataFrame =
    registry(name)._1

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (k, (f, _)) => k -> f }

  def oracleSql: Map[String, String] =
    registry.collect { case (k, (_, Some(sql))) => k -> sql }

  private type Q = (SparkSession, String) => DataFrame

  // (fixture-rule SQL predicates are generated mechanically by
  // rulePredSqlGen below — one source of truth with the Catalyst parse,
  // so editing RuleClassifier.fixtureRules cannot drift the oracles)

  /** DuckDB twin of the uuid-v3 bit layout over a 32-char md5 hex column. */
  private def uuidBitsSql(h: String): String =
    s"substr($h,1,12) || '3' || substr($h,14,3) || " +
      s"substr('89ab89ab89ab89ab', instr('0123456789abcdef', substr($h,17,1)), 1) || " +
      s"substr($h,18,15)"

  private def ruleJoinCondSql(t: String): String =
    RuleClassifier.fixtureRules
      .map(r => s"(r.id=${r.id} AND (${rulePredSqlGen(t, r)}))")
      .mkString("\n OR ")

  private val emoLabelSql =
    "CASE r.emoScore WHEN 1 THEN '正向' WHEN -1 THEN '负向' WHEN 0 THEN '中性' END"
  private val impLabelSql =
    "CASE WHEN r.impScore IN (1,2,3) THEN '相对不重要' WHEN r.impScore=4 THEN '重要' " +
      "WHEN r.impScore=5 THEN '非常重要' END"

  /** Closed-form oracle for the real WAV kernel (n71 batch + s28
    * streaming twin — the decode is stateless, so both drain to the
    * identical table): every decoded-PCM stat re-derived from the
    * wavMedia generation contract — md5 digest bytes × residue-class
    * counts; n ≥ 16 makes min/max digest-wide extrema. */
  private val audioStatsSql = """
      WITH d AS (SELECT doc_id, md5(text) AS hx,
                        octet_length(encode(text)) AS len FROM documents),
      n AS (SELECT doc_id, hx, 16 + len % 241 AS n FROM d),
      dig AS (SELECT doc_id, n,
                (('0x' || substr(hx, CAST(2*k+1 AS INT), 2))::INT - 128) * 256 AS val,
                n // 16 + CASE WHEN k < n % 16 THEN 1 ELSE 0 END AS cnt
              FROM n CROSS JOIN range(0, 16) t(k))
      SELECT doc_id,
        CAST(8000 AS INT) AS sample_rate,
        CAST(1 AS INT) AS channels,
        CAST(16 AS INT) AS bits,
        CAST(max(n) AS BIGINT) AS n_samples,
        CAST(max(n) * 1000 // 8000 AS BIGINT) AS duration_ms,
        CAST(sum(val * cnt) AS BIGINT) AS sum_pcm,
        CAST(sum(val * val * cnt) AS BIGINT) AS sum_sq,
        CAST(min(val) AS INT) AS min_pcm,
        CAST(max(val) AS INT) AS max_pcm
      FROM dig GROUP BY doc_id"""

  /** Left-fold sum as nested SQL — mirrors Spark's `aggregate(..., acc+x)`
    * evaluation order exactly, so double results are bit-identical. */
  private def foldSql(terms: Seq[String]): String =
    terms.foldLeft("0.0")((acc, t) => s"($acc + $t)")

  /** Deterministic fast sum for INTERMEDIATE statistics (a19): decimal
    * aggregation is ~8× slower than primitive sums (measured: 2.1 s vs
    * 0.26 s over sf0.1 lineitem), so where the decimal RENDER contract
    * doesn't apply (output is a double statistic, not a decimal
    * string), sum in micro-units split into two overflow-safe long
    * sums instead:
    *   v  = floor(x·10⁶ + 0.5)  (integral double; = HALF_UP for the
    *                             positive inputs — floor, NOT round:
    *                             Spark's round allocates a BigDecimal
    *                             per call, floor is a codegen intrinsic
    *                             — measured 1.47 s vs 0.93 s for a19)
    *   vl = pmod(v, 10⁹)        (= C fmod for v ≥ 0 — integral < 10⁹)
    *   vh = floor((v−vl)/10⁹ + 0.5)  (integral ≤ ~10⁷ per row)
    *   Σ  = (Σvh·10⁹ + Σvl)/10⁶ (reassembled in double)
    * Longs sum in whole-stage codegen at primitive speed; the hi part
    * keeps Σvl ≤ rows·10⁹ and Σvh ≤ rows·10⁷ — no overflow until
    * ~10⁹ rows PER GROUP PER ENGINE, and at that scale the same split
    * inserts another level. Every step is a single IEEE operation
    * (product, fmod, subtract, divide) that DuckDB evaluates on the
    * same doubles — [[xsumSql]] is the mechanical twin, so results are
    * bit-identical even where v exceeds 2⁵³ and the scaled value
    * itself is rounded. Integral-valued doubles also make the final
    * long casts agree (Spark truncates, DuckDB rounds — equal only
    * because the fractional part is exactly zero). */
  private def xsum(x: Column): Column = {
    val v = floor(x * 1000000.0 + 0.5)
    val vl = pmod(v, lit(1.0e9))
    val vh = floor((v - vl) / 1.0e9 + 0.5)
    (sum(vh.cast("long")).cast("double") * 1.0e9 +
      sum(vl.cast("long")).cast("double")) / 1.0e6
  }

  /** DuckDB twin of [[xsum]] — same expression shape, same IEEE ops. */
  private def xsumSql(e: String): String = {
    val v = s"floor(($e) * 1000000.0 + 0.5)"
    val vl = s"fmod($v, 1.0e9)"
    val vh = s"floor(($v - $vl) / 1.0e9 + 0.5)"
    s"((CAST(sum(CAST($vh AS BIGINT)) AS DOUBLE) * 1.0e9 + " +
      s"CAST(sum(CAST($vl AS BIGINT)) AS DOUBLE)) / 1.0e6)"
  }

  /** Unrolled cosine(embedding, queryVec) for the DuckDB oracle. */
  private def annCosSql: String = {
    val dot = foldSql((1 to 64).map(i =>
      s"(CAST(embedding[$i] AS DOUBLE) * ${Similarity.queryVec(i - 1)})"))
    val ee = foldSql((1 to 64).map(i =>
      s"(CAST(embedding[$i] AS DOUBLE) * CAST(embedding[$i] AS DOUBLE))"))
    val qq = BigDecimal(Similarity.queryVec.map(x => x * x).sum)
      .underlying.toPlainString
    s"($dot / (sqrt($ee) * sqrt($qq)))"
  }

  /** Unrolled cosine(embedding, probeVec(p)) for the recall oracle —
    * same fold shape as [[annCosSql]], parameterized by probe. */
  private def probeCosSql(p: Int): String = {
    val pv = Similarity.probeVec(p)
    val dot = foldSql((1 to 64).map(i =>
      s"(CAST(embedding[$i] AS DOUBLE) * ${pv(i - 1)})"))
    val pp = BigDecimal(pv.map(x => x * x).sum).underlying.toPlainString
    s"($dot / (sqrt($embEeSql) * sqrt($pp)))"
  }

  /** n72 oracle: per-probe recall@k of the IVF cell-pruned path vs the
    * exact top-k — every ingredient (cell argmin, cosine folds, LIMIT
    * tiebreaks) re-derived mechanically from the same constants the
    * Spark side uses, so recall is verified to the ppm. */
  /** `cellc` CTE body — vec_id → IVF cell (argmin over the fixed
    * coarse centroids, ties to the lowest cell), shared by the n72
    * and n76 oracles. */
  private def ivfCellcSql: String = {
    val sScores = (0 until Similarity.Cells).map { m =>
      val fold = foldSql(Similarity.centroid(m).zipWithIndex.map {
        case (c, j) => s"(CAST(embedding[${j + 1}] AS DOUBLE) * $c)"
      })
      s"(${Similarity.centroidNorm2(m)} - 2.0 * ($fold)) AS s$m"
    }.mkString(",\n")
    val argmin = "CASE WHEN s0<=s1 AND s0<=s2 AND s0<=s3 THEN 0 " +
      "WHEN s1<=s2 AND s1<=s3 THEN 1 WHEN s2<=s3 THEN 2 ELSE 3 END"
    s"""cellc AS (SELECT vec_id, $argmin AS cell
        FROM (SELECT vec_id, $sScores FROM embeddings))"""
  }

  private def annRecallSql(k: Int): String = {
    val perProbe = (0 until Similarity.Probes).map { p =>
      val cells = Similarity.probeCells(p)
      s"""e$p AS (SELECT vec_id FROM
           (SELECT vec_id, ${probeCosSql(p)} AS cos FROM embeddings)
         ORDER BY cos DESC, vec_id LIMIT $k),
      i$p AS (SELECT s.vec_id FROM
           (SELECT vec_id, ${probeCosSql(p)} AS cos FROM embeddings) s
         JOIN cellc c ON s.vec_id = c.vec_id
         WHERE c.cell = ${cells(0)}
         ORDER BY s.cos DESC, s.vec_id LIMIT $k),
      j$p AS (SELECT s.vec_id FROM
           (SELECT vec_id, ${probeCosSql(p)} AS cos FROM embeddings) s
         JOIN cellc c ON s.vec_id = c.vec_id
         WHERE c.cell IN (${cells(0)}, ${cells(1)})
         ORDER BY s.cos DESC, s.vec_id LIMIT $k)"""
    }.mkString(",\n")
    val rows = (0 until Similarity.Probes).map { p =>
      val m = s"(SELECT count(*) FROM e$p WHERE vec_id IN (SELECT vec_id FROM i$p))"
      val m2 = s"(SELECT count(*) FROM e$p WHERE vec_id IN (SELECT vec_id FROM j$p))"
      s"""SELECT CAST($p AS INT) AS probe_id,
        CAST(${Similarity.probeCell(p)} AS INT) AS cell,
        CAST($m AS BIGINT) AS n_matched,
        CAST($m2 AS BIGINT) AS n_matched_mp2,
        CAST($m * 1000000 // $k AS BIGINT) AS recall_ppm,
        CAST($m2 * 1000000 // $k AS BIGINT) AS recall_ppm_mp2"""
    }.mkString("\nUNION ALL\n")
    s"""WITH $ivfCellcSql,
      $perProbe
      $rows"""
  }

  /** n76 oracle — the IVFADC composition re-derived mechanically: PQ
    * codes from [[pqCodesCtesSql]], IVF cells from [[ivfCellcSql]],
    * the probe ADC lookup tables from the probes' floor-quantized
    * subvector LITERALS (dyadic × 10⁶ — integral doubles, so the
    * literals are exact) against the trained cf_m codebooks, exact
    * cosines from [[probeCosSql]], and every top-k as the same
    * (score DESC, vec_id) row_number window the Spark plan runs. */
  /** UNION-ALL arms of the dyadic-probe ADC lookup table — one
    * (probe_id, m, cluster, cosv) arm per probe × subspace, each
    * probe's floor-quantized subvector inlined as exact literals
    * against the trained cf_m codebooks. Shared by the n76 and n78
    * oracles. */
  private def ivfProbeLutArmsSql: String = {
    import graft.operators.Pq.{M, SubDims}
    def dlit(v: Double): String = BigDecimal(v).underlying.toPlainString
    (for (p <- 0 until Similarity.Probes; m <- 0 until M) yield {
      val qe = (0 until SubDims).map(i =>
        math.floor(Similarity.probeVec(p)(m * SubDims + i) * 1000000.0))
      val dotQC = foldSql((0 until SubDims).map(i => s"(${dlit(qe(i))} * c.c[${i + 1}])"))
      val qn = "sqrt(" + foldSql((0 until SubDims).map(i =>
        s"(${dlit(qe(i))} * ${dlit(qe(i))})")) + ")"
      val dotCC = foldSql((1 to SubDims).map(i => s"(c.c[$i] * c.c[$i])"))
      s"""SELECT $p AS probe_id, $m AS m, c.cluster,
            ($dotQC) / ($qn * sqrt($dotCC)) AS cosv FROM cf_$m c"""
    }).mkString("\n          UNION ALL ")
  }

  /** (probe_id, pcell, pcell2) literal rows — the dyadic probes' two
    * nearest coarse cells, driver-computed. Shared by n76/n78. */
  private def ivfProbeRowsSql: String =
    (0 until Similarity.Probes).map { p =>
      val cells = Similarity.probeCells(p)
      s"SELECT CAST($p AS INT) AS probe_id, CAST(${cells(0)} AS INT) AS pcell, " +
        s"CAST(${cells(1)} AS INT) AS pcell2"
    }.mkString("\nUNION ALL\n")

  private def ivfPqRecallSql(k: Int): String = {
    val lutArms = ivfProbeLutArmsSql
    val cosArms = (0 until Similarity.Probes).map(p =>
      s"SELECT $p AS probe_id, vec_id, ${probeCosSql(p)} AS cos FROM embeddings")
      .mkString("\n          UNION ALL ")
    val prRows = ivfProbeRowsSql
    def topCte(name: String, pred: String, ord: String) =
      s"""$name AS (SELECT probe_id, vec_id FROM
           (SELECT probe_id, vec_id, row_number() OVER
              (PARTITION BY probe_id ORDER BY $ord DESC, vec_id) AS rk
            FROM sc WHERE $pred)
         WHERE rk <= $k)"""
    def cntCte(name: String, set: String) =
      s"""$name AS (SELECT probe_id, count(*) AS n
           FROM ex JOIN $set USING (probe_id, vec_id) GROUP BY probe_id)"""
    val outs = Seq("ivf" -> "c_iv1", "ivfadc" -> "c_ia1",
      "ivf_mp2" -> "c_iv2", "ivfadc_mp2" -> "c_ia2")
    s"""$pqCodesCtesSql,
      $ivfCellcSql,
      plut AS (SELECT probe_id, $pqLutColsSql
               FROM ($lutArms) GROUP BY probe_id),
      adc76 AS (SELECT l.probe_id, cd.vec_id, (${pqAdcExprSql("l", "cd")}) AS adc
                FROM codes cd CROSS JOIN plut l),
      cosf AS ($cosArms),
      pr76 AS ($prRows),
      sc AS (SELECT c.probe_id, c.vec_id, c.cos, a.adc, ce.cell,
                    pr.pcell, pr.pcell2
             FROM cosf c
             JOIN adc76 a ON c.probe_id = a.probe_id AND c.vec_id = a.vec_id
             JOIN cellc ce ON c.vec_id = ce.vec_id
             JOIN pr76 pr ON c.probe_id = pr.probe_id),
      ${topCte("ex", "TRUE", "cos")},
      ${topCte("iv1", "cell = pcell", "cos")},
      ${topCte("ia1", "cell = pcell", "adc")},
      ${topCte("iv2", "cell IN (pcell, pcell2)", "cos")},
      ${topCte("ia2", "cell IN (pcell, pcell2)", "adc")},
      ${cntCte("c_iv1", "iv1")}, ${cntCte("c_ia1", "ia1")},
      ${cntCte("c_iv2", "iv2")}, ${cntCte("c_ia2", "ia2")}
      SELECT pr.probe_id, pr.pcell AS cell,
        ${outs.map { case (s, c) =>
          s"CAST(coalesce($c.n, 0) AS BIGINT) AS n_$s"
        }.mkString(",\n        ")},
        ${outs.map { case (s, c) =>
          s"CAST(coalesce($c.n, 0) * 1000000 // $k AS BIGINT) AS recall_${s}_ppm"
        }.mkString(",\n        ")}
      FROM pr76 pr
      ${outs.map { case (_, c) =>
        s"LEFT JOIN $c ON pr.probe_id = $c.probe_id"
      }.mkString("\n      ")}"""
  }

  /** n78 oracle — the serving-shaped IVFADC result re-derived from the
    * same CTE chain as n76 (codes, cells, probe LUT), but emitting the
    * actual nprobe=2 ADC top-k ROWS: candidates restricted to each
    * probe's two cells, ranked by the pinned ADC fold with the
    * (adc DESC, vec_id) tiebreak. The oracle deliberately scores the
    * cross product then filters — answer-equality with the Spark
    * side's cell-equi-join plan IS the plan-changes-answer-doesn't
    * statement. */
  private def ivfPqServeSql(k: Int): String = {
    s"""$pqCodesCtesSql,
      $ivfCellcSql,
      plut AS (SELECT probe_id, $pqLutColsSql
               FROM ($ivfProbeLutArmsSql) GROUP BY probe_id),
      pr78 AS ($ivfProbeRowsSql),
      adc78 AS (SELECT l.probe_id, cd.vec_id, (${pqAdcExprSql("l", "cd")}) AS adc
                FROM codes cd CROSS JOIN plut l),
      sc AS (SELECT a.probe_id, a.vec_id, a.adc, ce.cell
             FROM adc78 a
             JOIN cellc ce ON a.vec_id = ce.vec_id
             JOIN pr78 pr ON a.probe_id = pr.probe_id
             WHERE ce.cell IN (pr.pcell, pr.pcell2))
      SELECT probe_id, rk, vec_id, CAST(cell AS INT) AS cell,
        CAST(floor(adc * 1000000.0) AS BIGINT) AS adc_ppm
      FROM (SELECT *, row_number() OVER
              (PARTITION BY probe_id ORDER BY adc DESC, vec_id) AS rk
            FROM sc)
      WHERE rk <= $k"""
  }

  private val toksSql = "list_filter(string_split(text, ' '), t -> t <> '')"

  /** Unrolled a·b over two embedding table aliases (left fold). */
  private def embDotSql(a: String, b: String): String =
    foldSql((1 to 64).map(i =>
      s"(CAST($a.embedding[$i] AS DOUBLE) * CAST($b.embedding[$i] AS DOUBLE))"))

  /** Unrolled ‖v‖² of the current row's embedding (left fold). */
  private def embEeSql: String =
    foldSql((1 to 64).map(i =>
      s"(CAST(embedding[$i] AS DOUBLE) * CAST(embedding[$i] AS DOUBLE))"))

  /** DuckDB twin of Similarity.srpBucket: same ±1 planes, same fold. */
  private def srpBucketSql: String =
    (0 until Similarity.Planes).map { i =>
      val fold = foldSql(Similarity.hyperplane(i).zipWithIndex.map {
        case (h, j) => s"(CAST(embedding[${j + 1}] AS DOUBLE) * $h)"
      })
      s"(CASE WHEN ($fold) > 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString(" + ")

  /** Distinct 3-shingle set over `toks` (DuckDB list comprehension). */
  private val ssetSql =
    """list_distinct(CASE WHEN len(toks) >= 3
      THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]
      ELSE CAST([] AS VARCHAR[]) END)"""

  /** Shared oracle for n77 (batch) and s32 (streaming drain) — the HLL
    * register table re-derived in plain SQL from the same 60-bit
    * md5-prefix hash (functions/Hll.scala register contract). Every
    * constant is interpolated from Hll's P-derived values, so a
    * register-count change cannot drift the twin. ρ via `bin()` (the
    * minimal binary string — exact integer bitlen, no log2 round-off);
    * the estimate's factors are CAST to DOUBLE first so both engines
    * run the identical two IEEE multiplies and one divide (DuckDB
    * would otherwise fold 0.709·4096.0 in exact DECIMAL, up to 1 ulp
    * off Spark's double product). The ALL merge branch carries the
    * same null-safe sentinel guard and per-(lang, b) re-merge as
    * Hll.assemble. */
  private lazy val hllOracleSql: String = {
    import graft.functions.Hll
    val mask = (1L << Hll.SuffixBits) - 1
    s"""
      WITH d AS (SELECT lang, $toksSql AS toks FROM documents),
      sh AS (SELECT lang, unnest($ssetSql) AS s FROM d),
      hv AS (SELECT lang, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
             FROM sh),
      rg AS (SELECT lang, h >> ${Hll.SuffixBits} AS b,
               max(CASE WHEN (h & $mask) = 0 THEN ${Hll.MaxRho}
                        ELSE ${Hll.MaxRho} - length(bin(h & $mask)) END) AS r
             FROM hv GROUP BY 1, 2),
      mg AS (SELECT lang, b, r FROM rg
             UNION ALL
             SELECT 'ALL' AS lang, b, max(r) AS r FROM rg
             WHERE lang IS DISTINCT FROM 'ALL' GROUP BY 2),
      mg2 AS (SELECT lang, b, max(r) AS r FROM mg GROUP BY 1, 2),
      ag AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_regs_set,
               CAST(sum(r) AS BIGINT) AS reg_sum,
               CAST(sum(1::BIGINT << (${Hll.MaxRho} - r)) AS BIGINT)
                 + (${Hll.M} - count(*)) * (1::BIGINT << ${Hll.MaxRho})
                 AS harmonic_int
             FROM mg2 GROUP BY 1)
      SELECT lang, n_regs_set, reg_sum,
        CAST(harmonic_int AS BIGINT) AS harmonic_int,
        CAST(${Hll.Alpha} AS DOUBLE) * CAST(${Hll.M2} AS DOUBLE)
          * CAST(1::BIGINT << ${Hll.MaxRho} AS DOUBLE)
          / CAST(harmonic_int AS DOUBLE) AS est_hll
      FROM ag"""
  }

  /** Shared oracle for the two containment pair-finders (n46 exact /
    * n63 prefix-filtered): the prefix variant is EXACT by the
    * containment prefix theorem, so both queries verify against the
    * byte-identical SQL — the strongest possible statement that the
    * skew mitigation changes the plan, not the answer. */
  private val containmentOracleSql = s"""
      WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
      sh AS (SELECT doc_id, unnest($ssetSql) AS s FROM d),
      sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      ov AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
             FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
             GROUP BY 1, 2)
      SELECT a_id, b_id, CAST(inter AS BIGINT) AS inter,
             CAST(sz.n AS INT) AS a_n
      FROM ov JOIN sz ON sz.doc_id = ov.a_id
      WHERE sz.n >= 5 AND inter * 10 >= sz.n * 9"""

  /** Shared oracle for DSIR importance weighting: n60 (batch bucket
    * join) and s27 (the trained model served over the stream as a
    * literal map — pure per-row HOF scoring) emit identical per-doc
    * mean importance ratios. */
  private lazy val dsirOracleSql = s"""
      WITH t AS (SELECT doc_id, lang, unnest($toksSql) AS tok FROM documents),
      tb AS (SELECT doc_id, lang, tok,
               (('0x' || substr(md5(tok), 1, 4))::INT % 64) AS b FROM t),
      raw AS (SELECT b, count(*) AS cr FROM tb GROUP BY 1),
      tgt AS (SELECT b, count(*) AS ct FROM tb WHERE lang = 'en' GROUP BY 1),
      tot AS (SELECT count(*) AS crt,
                sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ctt FROM tb),
      st AS (SELECT raw.b,
               ((coalesce(ct, 0) + 1) * 1000000000) // (ctt + 64) AS pt_ppb,
               ((cr + 1) * 1000000000) // (crt + 64) AS pr_ppb
             FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tot),
      r AS (SELECT b, (pt_ppb * 1000000) // greatest(pr_ppb, 1) AS ratio_ppm
            FROM st)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
             CAST(CAST(sum(ratio_ppm) AS BIGINT) // count(*) AS BIGINT)
               AS mean_ratio_ppm
      FROM tb JOIN r USING (b) GROUP BY 1"""

  /** Shared oracle for Bloom decontamination: n44 (batch packed-bitset
    * probe + per-doc groupBy) and s26 (stateless streaming HOF probe)
    * emit the identical contaminated-doc table, false positives
    * included — the filter is bit-reproducible by construction. */
  private lazy val bloomOracleSql = s"""
      WITH sh AS (
        SELECT doc_id, unnest($ssetSql) AS s
        FROM (SELECT doc_id, $toksSql AS toks FROM documents)),
      bench AS (SELECT DISTINCT s FROM sh WHERE doc_id <= 20),
      pos AS (SELECT DISTINCT
                (('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || s), 1, 8))::BIGINT % 1024) AS p
              FROM bench CROSS JOIN range(0, 3) t(j)),
      hits AS (SELECT doc_id, s, count(*) AS h
               FROM (SELECT doc_id, s FROM sh WHERE doc_id > 20) probe
               CROSS JOIN range(0, 3) t(j)
               JOIN pos ON pos.p =
                 (('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || s), 1, 8))::BIGINT % 1024)
               GROUP BY 1, 2)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
      FROM hits WHERE h = 3 GROUP BY 1"""

  /** Shared oracle for the length-bucket padding accounting: n68
    * (batch) and s25 (complete-mode streaming aggregation with state
    * bounded by the bucket count) drain identical tables. */
  private lazy val lengthBucketsOracleSql = s"""
      WITH d AS (SELECT len($toksSql) AS n_toks FROM documents
                 WHERE len($toksSql) > 0),
      b AS (SELECT n_toks, ((n_toks + 31) // 32) * 32 AS bucket FROM d)
      SELECT CAST(bucket AS BIGINT) AS bucket,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n_toks) AS BIGINT) AS sum_tokens,
        CAST(sum(bucket - n_toks) AS BIGINT) AS padding_tokens,
        CAST(sum(bucket - n_toks) * 1000000
          // (count(*) * bucket) AS BIGINT) AS waste_ppm
      FROM b GROUP BY bucket"""

  /** Shared oracle for corpus-wide first-occurrence segment dedup: n73
    * (batch) and s29 (streaming complete-mode index build + batch
    * apply) produce the identical per-doc retention table — the
    * first-occurrence index is a `min(struct)` aggregate, monotone
    * under any arrival order, so micro-batching cannot change it. */
  private lazy val segmentDedupOracleSql = s"""
      WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
      occ AS (SELECT doc_id, toks,
                unnest(range(0, (len(toks) - 1) // 8 + 1)) AS i
              FROM d WHERE len(toks) >= 1),
      seg AS (SELECT doc_id, CAST(i AS BIGINT) AS seg_idx,
                array_to_string(toks[i*8+1 : i*8+8], ' ') AS seg FROM occ),
      f AS (SELECT doc_id, seg_idx, seg,
              row_number() OVER (PARTITION BY seg
                ORDER BY doc_id, seg_idx) AS rn
            FROM seg)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs,
        CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        CAST(count(*) - sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_removed,
        md5(coalesce(
          string_agg(CASE WHEN rn = 1 THEN seg END, ' ' ORDER BY seg_idx),
          '')) AS kept_sig
      FROM f GROUP BY doc_id"""

  /** Shared oracle for corpus-frequency boilerplate removal: n82
    * (batch) and s35 (streaming complete-mode df-index build + batch
    * apply) produce the identical per-doc retention table — the df
    * index is a count over per-doc-distinct segments, monotone under
    * any arrival order. A segment in ≥ BoilerMinDf DISTINCT docs is
    * stripped from ALL of them (vs n73's keep-first). */
  private lazy val boilerplateOracleSql = s"""
      WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
      occ AS (SELECT doc_id, toks,
                unnest(range(0, (len(toks) - 1) // 8 + 1)) AS i
              FROM d WHERE len(toks) >= 1),
      seg AS (SELECT doc_id, CAST(i AS BIGINT) AS seg_idx,
                array_to_string(toks[i*8+1 : i*8+8], ' ') AS seg FROM occ),
      df AS (SELECT seg, count(DISTINCT doc_id) AS df FROM seg GROUP BY 1),
      f AS (SELECT s.doc_id, s.seg_idx, s.seg,
              (df.df < ${graft.operators.Dedup.BoilerMinDf}) AS keep
            FROM seg s JOIN df USING (seg))
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs,
        CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        CAST(count(*) - sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
          AS n_removed,
        md5(coalesce(
          string_agg(CASE WHEN keep THEN seg END, ' ' ORDER BY seg_idx),
          '')) AS kept_sig
      FROM f GROUP BY doc_id"""

  /** Shared oracle for snapshot-delta dedup classification: n84
    * (batch) and s36 (streaming stream-static classification +
    * complete-mode rollup) produce the identical per-source table —
    * the per-row classification is stateless and the rollup a sum,
    * order-independent under any micro-batch arrival. */
  private lazy val snapshotDeltaOracleSql = s"""
      WITH a AS (SELECT DISTINCT md5(text) AS h FROM documents
                 WHERE doc_id % 2 = 0),
      afp AS (SELECT DISTINCT
                md5(array_to_string(list_sort(list_distinct($toksSql)), ' '))
                  AS fp
              FROM documents WHERE doc_id % 2 = 0),
      b AS (SELECT source, md5(text) AS h,
              md5(array_to_string(list_sort(list_distinct($toksSql)), ' '))
                AS fp
            FROM documents WHERE doc_id % 2 = 1),
      j AS (SELECT b.source, (a.h IS NOT NULL) AS ex,
              (afp.fp IS NOT NULL) AS fpin
            FROM b LEFT JOIN a ON b.h = a.h
                   LEFT JOIN afp ON b.fp = afp.fp)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN ex THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
        CAST(sum(CASE WHEN NOT ex AND fpin THEN 1 ELSE 0 END) AS BIGINT)
          AS n_fp_dup,
        CAST(sum(CASE WHEN NOT ex AND NOT fpin THEN 1 ELSE 0 END) AS BIGINT)
          AS n_new
      FROM j GROUP BY source"""

  /** Shared oracle for the cross-snapshot near-dup delta: n85 (batch
    * separate-banding join) and s37 (streaming: arriving docs probe
    * the old snapshot's precomputed banding index by stream-static
    * joins) emit the identical verified pair table — the bands are
    * the same shared kernel, so the candidate sets match, and both
    * paths exact-verify. O(|A|·|B|) pair subquery → rides the
    * md5-bucket pair sample at sf0.1 like n03. */
  private lazy val snapshotNearDupOracleSql = s"""
      WITH s AS (
        SELECT doc_id, $ssetSql AS sset
        FROM (SELECT doc_id, $toksSql AS toks FROM $docsT)),
      pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE)
            / len(list_distinct(list_concat(a.sset, b.sset))) AS jaccard
        FROM s a JOIN s b ON a.doc_id % 2 = 0 AND b.doc_id % 2 = 1)
      SELECT * FROM pairs WHERE jaccard >= ${MinHashLsh.Threshold}"""

  /** Shared oracle for the Gopher composite quality gate: n66 (batch
    * explode+agg form) and s24 (stateless streaming HOF form) emit the
    * identical survivor table. */
  private lazy val gopherOracleSql = s"""
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(len_sum AS BIGINT) AS len_sum,
             CAST(stop_hits AS BIGINT) AS stop_hits
      FROM (SELECT doc_id, len(toks) AS n_tokens,
              list_sum(list_transform(toks, t -> length(t))) AS len_sum,
              list_max(list_transform(toks, t -> length(t))) AS max_len,
              len(list_filter(toks, t -> t IN $stopListSql)) AS stop_hits
            FROM (SELECT doc_id, $toksSql AS toks FROM documents))
      WHERE n_tokens BETWEEN 20 AND 1000
        AND len_sum >= n_tokens * 3 AND len_sum <= n_tokens * 10
        AND max_len <= 20 AND stop_hits >= 2"""

  /** The n80 CTE chain with a caller-supplied `d` definition (plus any
    * CTEs it needs before it) and stage-5 budgets — n80/n81 run it
    * over the (sampled) documents table with the shared budgets, n87
    * over the snapshot-kept parity subset with halved ones. */
  private def curationCtesFrom(lead: String, budgetEn: Long,
      budgetOther: Long): String =
    "\n      WITH " + curationCtesBody(lead, budgetEn, budgetOther)

  /** [[curationCtesFrom]]'s body without the WITH keyword and with
    * every CTE name suffixed by `x` (the lead must define `d$x`) — so
    * TWO curation chains can live in one oracle (n91 runs the cascade
    * once per crawl cycle). `x = ""` emits the historical n80 bytes. */
  private def curationCtesBody(lead: String, budgetEn: Long,
      budgetOther: Long, x: String = ""): String = {
    val fpSql = // n10's fingerprint over an aliased toks column
      "md5(array_to_string(list_sort(list_distinct(toks)), ' '))"
    s"""$lead,
      st80$x AS (SELECT doc_id, lang, text, toks, len(toks) AS n_tokens,
            list_sum(list_transform(toks, t -> length(t))) AS len_sum,
            list_max(list_transform(toks, t -> length(t))) AS max_len,
            len(list_filter(toks, t -> t IN $stopListSql)) AS stop_hits
          FROM d$x),
      f1$x AS (SELECT doc_id, lang, text, toks,
            CAST(n_tokens AS BIGINT) AS tok,
            coalesce(n_tokens BETWEEN 20 AND 1000
              AND len_sum >= n_tokens * 3 AND len_sum <= n_tokens * 10
              AND max_len <= 20 AND stop_hits >= 2, FALSE) AS pass1
          FROM st80$x),
      k2$x AS (SELECT $fpSql AS fp, min(doc_id) AS keep_id
             FROM f1$x WHERE pass1 GROUP BY 1),
      f2$x AS (SELECT f1$x.*, coalesce(pass1 AND f1$x.doc_id = k2$x.keep_id, FALSE)
               AS pass2
             FROM f1$x LEFT JOIN k2$x
               ON ${fpSql.replace("toks", s"f1$x.toks")} = k2$x.fp),
      s3$x AS (SELECT doc_id, $ssetSql AS sset FROM f2$x WHERE pass2),
      losers$x AS (SELECT DISTINCT b.doc_id AS loser
                 FROM s3$x a JOIN s3$x b ON a.doc_id < b.doc_id
                 WHERE CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE)
                     / len(list_distinct(list_concat(a.sset, b.sset))) >= ${MinHashLsh.Threshold}),
      f3$x AS (SELECT f2$x.*,
               (pass2 AND doc_id NOT IN (SELECT loser FROM losers$x)) AS pass3
             FROM f2$x),
      seg$x AS (SELECT doc_id, CAST(i AS BIGINT) AS seg_idx,
                array_to_string(toks[i*8+1 : i*8+8], ' ') AS seg
              FROM (SELECT doc_id, toks,
                      unnest(range(0, (len(toks) - 1) // 8 + 1)) AS i
                    FROM f3$x WHERE pass3 AND len(toks) >= 1)),
      ret$x AS (SELECT doc_id, count(*) AS n_segs,
                sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS n_kept
              FROM (SELECT doc_id, row_number() OVER (PARTITION BY seg
                      ORDER BY doc_id, seg_idx) AS rn FROM seg$x)
              GROUP BY 1),
      f4$x AS (SELECT f3$x.*, coalesce(pass3 AND 10 * ret$x.n_kept >= 9 * ret$x.n_segs,
               FALSE) AS pass4
             FROM f3$x LEFT JOIN ret$x USING (doc_id)),
      rates$x AS (SELECT lang, least(1000000::BIGINT,
                  (CASE WHEN lang = 'en' THEN ${budgetEn}::BIGINT
                        ELSE ${budgetOther}::BIGINT END) * 1000000
                  // CAST(sum(tok) AS BIGINT)) AS rate_ppm
                FROM f4$x WHERE pass4 GROUP BY lang),
      f5$x AS (SELECT f4$x.*, coalesce(pass4 AND
               (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                 % 1000000) < r.rate_ppm, FALSE) AS pass5
             FROM f4$x LEFT JOIN rates$x r USING (lang)),
      h$x AS (SELECT doc_id, tok,
              ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                AS hv,
              TRUE AS pass0, pass1, pass2, pass3, pass4, pass5
            FROM f5$x)"""
  }

  /** The curation CTE chain through the flagged frames f1..f5 and the
    * report input h — shared prefix of the n80 report oracle and n81's
    * pack oracle (the pack consumes f5's pass5 survivors). */
  private lazy val curationCtesSql: String = curationCtesFrom(
    s"d AS (SELECT doc_id, lang, text, $toksSql AS toks FROM $docsT)",
    CurBudgetEn, CurBudgetOther)

  /** n87: the n80 chain over the SNAPSHOT-KEPT new-snapshot docs (the
    * n86 keep rule as a leading CTE), stage labels shifted by the
    * shared Curation.SnapshotStageRelabel, plus a raw-input row over
    * the whole new snapshot. Budgets halve with the parity-halved
    * corpus so the mixture stage stays live. */
  private lazy val snapshotCurationSql: String = {
    val fpSql =
      s"md5(array_to_string(list_sort(list_distinct($toksSql)), ' '))"
    val lead = s"""aH87 AS (SELECT DISTINCT md5(text) AS h FROM $docsT
                 WHERE doc_id % 2 = 0),
      aFp87 AS (SELECT DISTINCT $fpSql AS fp
                FROM $docsT WHERE doc_id % 2 = 0),
      bNew87 AS (SELECT doc_id, lang, text, $toksSql AS toks,
                   md5(text) AS h, $fpSql AS fp
                 FROM $docsT WHERE doc_id % 2 = 1),
      d AS (SELECT doc_id, lang, text, toks FROM bNew87
            WHERE h NOT IN (SELECT h FROM aH87)
              AND fp NOT IN (SELECT fp FROM aFp87))"""
    val relabel = graft.operators.Curation.SnapshotStageRelabel.toMap
    val stageRows = graft.operators.Curation.Stages.map { case (nm, f) =>
      s"""SELECT '${relabel(nm)}' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(coalesce(sum(tok), 0) AS BIGINT) AS n_tokens,
        CAST(coalesce(bit_xor(hv), 0) AS BIGINT) AS corpus_xor
      FROM h WHERE $f"""
    }.mkString("\n      UNION ALL\n      ")
    val inputRow = s"""SELECT '0_input' AS stage,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(coalesce(sum(len($toksSql)), 0) AS BIGINT) AS n_tokens,
        CAST(coalesce(bit_xor(
          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT),
          0) AS BIGINT) AS corpus_xor
      FROM $docsT WHERE doc_id % 2 = 1"""
    curationCtesFrom(lead, CurBudgetEn / 2, CurBudgetOther / 2) +
      s"\n      $inputRow\n      UNION ALL\n      $stageRows"
  }

  /** n10's fingerprint over the raw text column (oracle side). */
  private lazy val fpToksSql: String =
    s"md5(array_to_string(list_sort(list_distinct($toksSql)), ' '))"

  /** The shared TWO-CYCLE CTE prefix: cycle 1's cascade (c1 suffix),
    * the curated-store digest CTEs sh1/sfp1, and cycle 2's
    * snapshot-gated cascade (c2) over the policy survivors — n91/s42
    * extend it with the probe rollup, n94 with the curated-union
    * per-lang aggregate over f5c1/f5c2's pass5 survivors (the docs
    * component the store now persists). */
  private lazy val twoCycleCtes: String = {
    val fpT = fpToksSql
    val b1 = curationCtesBody(
      s"dc1 AS (SELECT doc_id, lang, text, $toksSql AS toks FROM $docsT WHERE doc_id % 3 = 0)",
      CurBudgetEn / 3, CurBudgetOther / 3, "c1")
    val b2 = curationCtesBody(
      s"""dc2 AS (SELECT doc_id, lang, text, toks FROM
              (SELECT doc_id, lang, text, $toksSql AS toks, md5(text) AS h,
                 $fpT AS fp FROM $docsT WHERE doc_id % 3 = 1)
            WHERE h NOT IN (SELECT h FROM sh1)
              AND fp NOT IN (SELECT fp FROM sfp1))""",
      CurBudgetEn / 3, CurBudgetOther / 3, "c2")
    s"""$b1,
      sh1 AS (SELECT DISTINCT md5(text) AS h FROM f5c1 WHERE pass5),
      sfp1 AS (SELECT DISTINCT
                 md5(array_to_string(list_sort(list_distinct(toks)), ' '))
                   AS fp
               FROM f5c1 WHERE pass5),
      $b2"""
  }

  /** n91: TWO crawl cycles composed end to end, then a probe. Cycle 1
    * curates snapshot 0 (the store is empty, so the policy keeps
    * everything); its stage-5 survivors' digests become the store.
    * Cycle 2 drops snapshot-1 docs whose digest/fingerprint is already
    * stored (the n86 rule against the CURATED corpus), curates the
    * survivors, and unions their digests in. Snapshot 2 then
    * classifies against the accumulated curated store — n84's rollup
    * shape over n91's store state. The curation cascade appears twice
    * via [[curationCtesBody]]'s c1/c2 suffixes ([[twoCycleCtes]]);
    * budgets third with the mod-3 chunks so the mixture stage stays
    * live. */
  private lazy val crawlCycleSql: String = {
    val fpT = fpToksSql
    s"""
      WITH $twoCycleCtes,
      sh AS (SELECT h FROM sh1 UNION
             SELECT DISTINCT md5(text) AS h FROM f5c2 WHERE pass5),
      sfp AS (SELECT fp FROM sfp1 UNION
              SELECT DISTINCT
                md5(array_to_string(list_sort(list_distinct(toks)), ' '))
                  AS fp
              FROM f5c2 WHERE pass5),
      bprobe AS (SELECT source, md5(text) AS h, $fpT AS fp
                 FROM $docsT WHERE doc_id % 3 = 2),
      jprobe AS (SELECT bprobe.source, (sh.h IS NOT NULL) AS ex,
                   (sfp.fp IS NOT NULL) AS fpin
                 FROM bprobe LEFT JOIN sh ON bprobe.h = sh.h
                        LEFT JOIN sfp ON bprobe.fp = sfp.fp)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN ex THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
        CAST(sum(CASE WHEN NOT ex AND fpin THEN 1 ELSE 0 END) AS BIGINT)
          AS n_fp_dup,
        CAST(sum(CASE WHEN NOT ex AND NOT fpin THEN 1 ELSE 0 END) AS BIGINT)
          AS n_new
      FROM jprobe GROUP BY source"""
  }

  /** n94: the accumulated CURATED CORPUS served from the store's docs
    * component after two crawl cycles — per-language doc/token counts
    * plus the order-independent corpus signature (n80's hv/bit_xor
    * idiom). Oracle = the shared two-cycle chain's pass5 survivors
    * (f5c1 ∪ f5c2): exactly the rows cycleAppend persisted, so a
    * dropped or duplicated docs row shifts a count or the xor and
    * fails the hash. */
  private lazy val storeDocsSql: String = s"""
      WITH $twoCycleCtes,
      u AS (SELECT doc_id, lang, tok FROM f5c1 WHERE pass5
            UNION ALL SELECT doc_id, lang, tok FROM f5c2 WHERE pass5)
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(coalesce(sum(tok), 0) AS BIGINT) AS n_tokens,
        CAST(coalesce(bit_xor(
          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT),
          0) AS BIGINT) AS corpus_xor
      FROM u GROUP BY lang"""

  /** n96: n81's pack arithmetic over the STORE-SERVED curated corpus —
    * the two-cycle chain's pass5 survivors laid end-to-end per
    * language and chopped into PackTokens-token training sequences
    * (n28's CTEs over the union, hugeint casts as in n81's oracle). */
  private lazy val storePackSql: String = s"""
      WITH $twoCycleCtes,
      u AS (SELECT doc_id, lang, tok FROM f5c1 WHERE pass5
            UNION ALL SELECT doc_id, lang, tok FROM f5c2 WHERE pass5),
      cum AS (SELECT lang, tok, sum(tok) OVER (
                PARTITION BY lang ORDER BY doc_id
                ROWS UNBOUNDED PRECEDING) AS cum
              FROM u)
      SELECT lang, CAST((cum - tok) // ${graft.operators.Curation.PackTokens} AS BIGINT) AS pack_id,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(tok) AS BIGINT) AS pack_tokens
      FROM cum GROUP BY 1, 2"""

  /** The exact-Jaccard pair oracle n92/n93/n95 share: every stored
    * snapshot (mod-3 chunks 0,1) against the probe chunk (2) — the
    * store-served LSH probe must equal it at the verified t=0.8
    * operating point regardless of how many appends/compactions/
    * replays produced the store. */
  private lazy val storeChainNearDupSql: String = s"""
      WITH s AS (
        SELECT doc_id, $ssetSql AS sset
        FROM (SELECT doc_id, $toksSql AS toks FROM $docsT)),
      pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE)
            / len(list_distinct(list_concat(a.sset, b.sset))) AS jaccard
        FROM s a JOIN s b ON a.doc_id % 3 < 2 AND b.doc_id % 3 = 2)
      SELECT * FROM pairs WHERE jaccard >= ${MinHashLsh.Threshold}"""

  /** n80's oracle: the five stages' own CTE chain (gopher gate →
    * fingerprint keep-min → brute-force Jaccard loser drop →
    * segment-retention gate → per-lang budget thinning), each flag
    * built with the SAME arithmetic as the standalone oracle it reuses
    * (n66, n10, n03/n16, n73, n38), then one UNION ALL of per-stage
    * aggregates. The corpus signature is bit_xor over the 60-bit
    * md5-prefix doc-id hash — exact-integer and order-independent on
    * both engines. The LSH stage's pair subquery is O(n²) over
    * STAGE-2 survivors, so the query rides the pair-sample input like
    * n03/n16. */
  private lazy val curationPipelineSql: String = {
    val stageRows = graft.operators.Curation.Stages.map { case (nm, f) =>
      s"""SELECT '$nm' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(coalesce(sum(tok), 0) AS BIGINT) AS n_tokens,
        CAST(coalesce(bit_xor(hv), 0) AS BIGINT) AS corpus_xor
      FROM h WHERE $f"""
    }.mkString("\n      UNION ALL\n      ")
    s"$curationCtesSql\n      $stageRows"
  }

  /** n81: the n80 chain extended by n28's pack CTEs over the stage-5
    * survivors (hugeint-to-bigint casts as in n28's oracle). */
  private lazy val curationPackSql: String = s"""$curationCtesSql,
      surv AS (SELECT lang, doc_id, tok FROM f5 WHERE pass5),
      cum AS (SELECT lang, tok, sum(tok) OVER (
                PARTITION BY lang ORDER BY doc_id
                ROWS UNBOUNDED PRECEDING) AS cum
              FROM surv)
      SELECT lang, CAST((cum - tok) // ${graft.operators.Curation.PackTokens} AS BIGINT) AS pack_id,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(tok) AS BIGINT) AS pack_tokens
      FROM cum GROUP BY 1, 2"""

  // ------------------------------------------------------------------
  // Bounded-oracle input sampling for the O(n²) PAIR queries
  // (n02/n03/n13/n16/n23/n24/n25/n26/n80/n81, and s19 which shares n03's
  // oracle). Their DuckDB twins are brute-
  // force all-pairs / recursive-CTE closures — quadratic in the input,
  // infeasible at sf0.1 (5k docs → 25M list_intersect pairs), which
  // previously forced a rows-only downgrade there (VERIFY_SKIP_ORACLE).
  // GRAFT_PAIR_SAMPLE=<keep> (1..100) restricts the pair queries' INPUT
  // table to rows whose deterministic md5 bucket (the n27 split idiom,
  // proven bit-exact across both engines) falls below <keep> of 100 —
  // applied IDENTICALLY in the Spark query and the generated oracle
  // SQL, so both engines see the same sub-corpus and the full
  // schema/row/hash compare still runs, on a near-linear oracle.
  // Unset (the driver's sf0.01 gate, every spec, the bench): full
  // input; the emitted oracle SQL is byte-identical to the unsampled
  // form. The sample bounds the ORACLE, never the operator: the Spark
  // plans are the same bucketed-join shapes at every setting.
  // Read once at object init (registry is a lazy val): the setting is
  // frozen per JVM, so queries and their emitted oracles can never
  // disagree mid-run. NOTE: a reused sbt daemon (`sbt -client`) keeps
  // its launch-time environment — run env-gated verifies with a fresh
  // `sbt` (scripts/verify_all.sh does).
  private[graft] val pairSampleKeep: Option[Int] =
    sys.env.get("GRAFT_PAIR_SAMPLE").orElse(sys.props.get("GRAFT_PAIR_SAMPLE"))
      .map { v =>
        // toIntOption: a non-numeric value must fail with THIS message,
        // not an opaque ExceptionInInitializerError from toInt
        val k = v.toIntOption.getOrElse(
          throw new IllegalArgumentException(
            s"GRAFT_PAIR_SAMPLE must be an int 1..100, got '$v'"))
        require(k >= 1 && k <= 100, s"GRAFT_PAIR_SAMPLE must be 1..100, got $v")
        k
      }

  /** md5-bucket-of-100 over a (string-cast) id — Spark twin of the
    * DuckDB predicate in [[sampledSqlFrom]]; same arithmetic as n27. */
  private[graft] def md5Bucket100(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 4), 16, 10).cast("int") % 100

  private def sampled(df: DataFrame, idCol: String): DataFrame =
    pairSampleKeep.fold(df)(k => df.where(md5Bucket100(col(idCol)) < k))

  /** Pair-query input tables (full unless GRAFT_PAIR_SAMPLE is set). */
  private def pairDocs(s: SparkSession, d: String): DataFrame =
    sampled(Tables.documents(s, d), "doc_id")
  private def pairEmb(s: SparkSession, d: String): DataFrame =
    sampled(Tables.embeddings(s, d), "vec_id")

  // `keep` defaults to the JVM-frozen setting; the parameter exists so
  // PairSampleSpec can pin the emitted bytes of BOTH paths regardless of
  // the environment this JVM happened to launch with.
  private[graft] def sampledSqlFrom(table: String, idCol: String,
                                    keep: Option[Int] = pairSampleKeep): String =
    keep.fold(table) { k =>
      s"(SELECT * FROM $table WHERE (('0x' || substr(md5(CAST($idCol AS VARCHAR)), 1, 4))::INT % 100) < $k) AS $table"
    }
  /** Oracle-side FROM targets for the pair queries. */
  private def docsT: String = sampledSqlFrom("documents", "doc_id")
  private def embT: String = sampledSqlFrom("embeddings", "vec_id")

  /** Bare sample predicate (same bytes as the [[sampledSqlFrom]] WHERE
    * clause) for oracles that sample a CTE instead of a base table —
    * TRUE when the sample is unset. */
  private def pairPredSql(idCol: String): String =
    pairSampleKeep.fold("TRUE") { k =>
      s"(('0x' || substr(md5(CAST($idCol AS VARCHAR)), 1, 4))::INT % 100) < $k"
    }

  /** DuckDB twin of the SimHash64 expression: per hex position j, output
    * bit k is the majority over tokens of bit k of md5-hex nibble j.
    * `from`: the documents table expression ("documents", or the sampled
    * form for the n26 pair oracle). */
  private def simhashSqlOver(from: String): String = {
    val charExprs = (0 until 16).map { j =>
      val bits = (0 until 4).map { k =>
        val div = 1 << k
        s"(CASE WHEN 2*list_sum(list_transform(hs, h -> ((instr('0123456789abcdef', h[${j + 1}]) - 1) // $div) % 2)) > n THEN ${1 << k} ELSE 0 END)"
      }.mkString(" + ")
      s"substr('0123456789abcdef', 1 + ($bits), 1)"
    }.mkString("\n || ")
    s"""SELECT doc_id, $charExprs AS simhash
        FROM (SELECT doc_id, len(toks) AS n, list_transform(toks, t -> md5(t)) AS hs
              FROM (SELECT doc_id, $toksSql AS toks FROM $from))"""
  }
  private def simhashSql: String = simhashSqlOver("documents")
  private val stopListSql = Text.Stopwords.map(s => s"'$s'").mkString("(", ",", ")")

  /** BM25 fixture query (n33): one rare-ish, one mid, one stopword-class
    * term, so idf spread is exercised. k1=1.25/b=0.75 (standard range)
    * are chosen BINARY-EXACT: a 1.2-style literal is not a binary
    * double, and DuckDB parses decimal literals as DECIMAL whose
    * →DOUBLE conversion is not correctly rounded — exact literals make
    * both engines see identical constants. */
  private val Bm25Terms = Seq("spark", "vector", "the")
  private val Bm25K1 = 1.25
  private val Bm25B = 0.75

  /** n38 per-stratum token budgets: en is down-sampled at every SF
    * (actual en tokens exceed 10k from sf0.01 up), the rest keep
    * rate 1 — both branches of the min(1, budget/actual) cap stay
    * exercised. */
  private val MixBudgetEn = 10000L
  private val MixBudgetOther = 100000L

  /** n80 stage-5 budgets — tighter than n38's because the pipeline's
    * stages 1–4 shrink each language's token mass before the rates are
    * computed: these values keep BOTH branches of the min(1,
    * budget/actual) cap live on the gated corpus at sf0.01 and at the
    * sampled sf0.1 (en ≈ 9k → rate < 1, small langs bracket the 2.5k
    * budget), so the composed stage is verified non-vacuously. */
  private val CurBudgetEn = 5000L
  private val CurBudgetOther = 2500L

  /** n39 source-node id offset (doc_ids stay far below this). */
  private val SrcNodeBase = 2000000000L

  /** A fresh crawl store holding TWO curated cycles, the store n91,
    * n94 and n96 each build during their own construction: the two
    * [[graft.operators.Curation.cycleAppend]] calls curate the doc_id
    * mod-3 chunks 0 and 1 under a third of n80's budgets. The store's
    * content is a deterministic function of the fixture, so each query
    * rebuilds it rather than sharing one across queries or runs. */
  private def twoCycles(s: SparkSession, d: String): String = {
    val docs = pairDocs(s, d)
    val dir = graft.TempDirs.create("graft-two-cycle-store")
    Seq(0, 1).foreach { chunk =>
      graft.operators.Curation.cycleAppend(s, dir,
        docs.where(col("doc_id") % 3 === chunk),
        CurBudgetEn / 3, CurBudgetOther / 3)
    }
    dir
  }

  /** s37's (and s41's) plan: the even doc ids are the old snapshot,
    * the sampled odd ids arrive as a stream. */
  private def streamSnapshotNearDup(s: SparkSession, d: String): DataFrame =
    graft.streaming.StreamQueries.streamSnapshotNearDup(s,
      pairDocs(s, d).where(col("doc_id") % 2 === 0),
      sampled(graft.streaming.StreamQueries.documentsStream(s, d), "doc_id")
        .where(col("doc_id") % 2 === 1))

  /** DuckDB twin of the n34/s14 k-means plans. Long-format centroid
    * sums (exact BIGINT), unrolled 64-term dot-product folds in the
    * same ascending order as the native kernel, the same argmax
    * when-chain (first j whose cosine >= every later one =
    * lowest-index argmax). [[kmeansA1Sql]] is the shared WITH prefix up
    * to the first assignment (also the s14 streaming-twin oracle);
    * [[kmeansOracleSql]] extends it with the centroid update + second
    * assignment. */
  private def kmeansAssignSql(cents: String): String = {
    val dotQC = foldSql((1 to 64).map(i => s"(q.qe[$i] * c.c[$i])"))
    val dotCC = foldSql((1 to 64).map(i => s"(c.c[$i] * c.c[$i])"))
    val argmax = "CASE " + (0 until 3).map { j =>
      val ge = (j + 1 until 4).map(m => s"cos$j >= cos$m").mkString(" AND ")
      s"WHEN $ge THEN $j"
    }.mkString(" ") + " ELSE 3 END"
    s"""SELECT vec_id, $argmax AS cluster
        FROM (SELECT p.vec_id,
                ${(0 until 4).map(j =>
                  // empty cluster -> NULL pivot; coalesce to -inf exactly
                  // as Clustering.assign does, so both engines degrade to
                  // lowest-index argmax over populated clusters
                  s"coalesce(max(CASE WHEN p.cluster = $j THEN p.cos END), CAST('-infinity' AS DOUBLE)) AS cos$j")
                  .mkString(", ")}
              FROM (SELECT q.vec_id, c.cluster,
                      ($dotQC) / (q.qn * sqrt($dotCC)) AS cos
                    FROM q CROSS JOIN $cents c) p
              GROUP BY p.vec_id)"""
  }

  private def kmeansA1Sql: String = {
    val qeList = "[CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS DOUBLE) " +
      "for i in range(1, 65)]"
    s"""
      WITH q0 AS (SELECT vec_id, $qeList AS qe FROM embeddings),
      q AS (SELECT vec_id, qe,
              sqrt(${foldSql((1 to 64).map(i => s"(qe[$i] * qe[$i])"))}) AS qn
            FROM q0),
      c0 AS (SELECT CAST(vec_id AS INT) AS cluster, qe AS c FROM q WHERE vec_id < 4),
      a1 AS (${kmeansAssignSql("c0")})"""
  }

  /** Shared WITH chain through the second assignment (a2) — the n34
    * oracle's whole body, and the clustering prefix of the n52
    * SemDeDup oracle. */
  private def kmeansCtesSql: String = s"""
      $kmeansA1Sql,
      sums AS (SELECT a1.cluster, gi.i,
                 CAST(sum(CAST(q.qe[gi.i] AS BIGINT)) AS DOUBLE) AS s
               FROM a1 JOIN q USING (vec_id) CROSS JOIN range(1, 65) gi(i)
               GROUP BY a1.cluster, gi.i),
      c1 AS (SELECT cluster, list(s ORDER BY i) AS c FROM sums GROUP BY cluster),
      a2 AS (${kmeansAssignSql("c1")})"""

  private def kmeansOracleSql: String = s"""$kmeansCtesSql
      SELECT vec_id, cluster FROM a2"""

  /** DuckDB twin of the n75/s31/n76 product-quantization plans — the
    * kmeans oracle idiom applied per [[Pq.SubDims]]-dim subspace (same
    * quantized grid, integer-exact centroid sums, coalesce(-∞)
    * max-CASE pivot, lowest-index argmax chain), then the ADC score as
    * the SAME pinned left-fold of lookup CASEs the Spark plan
    * evaluates — never an unordered SUM, so the doubles are
    * bit-identical. Every K/M/SubDims/Iters loop unrolls from the SAME
    * graft.operators.Pq constants the Spark plans read, so a
    * codebook-scale change is a one-constant edit on both engines. */
  private def pqAssignSql(m: Int, cents: String): String = {
    import graft.operators.Pq.{K, SubDims}
    val dotQC = foldSql((1 to SubDims).map(i => s"(q.qe[${m * SubDims + i}] * c.c[$i])"))
    val dotCC = foldSql((1 to SubDims).map(i => s"(c.c[$i] * c.c[$i])"))
    val argmax = "CASE " + (0 until K - 1).map { j =>
      val ge = (j + 1 until K).map(l => s"cos$j >= cos$l").mkString(" AND ")
      s"WHEN $ge THEN $j"
    }.mkString(" ") + s" ELSE ${K - 1} END"
    s"""SELECT vec_id, $argmax AS cluster
        FROM (SELECT p.vec_id,
                ${(0 until K).map(j =>
                  s"coalesce(max(CASE WHEN p.cluster = $j THEN p.cos END), " +
                    s"CAST('-infinity' AS DOUBLE)) AS cos$j").mkString(", ")}
              FROM (SELECT q.vec_id, c.cluster,
                      ($dotQC) / (q.qn$m * sqrt($dotCC)) AS cos
                    FROM q CROSS JOIN $cents c) p
              GROUP BY p.vec_id)"""
  }

  /** Shared WITH chain through the per-subspace refined codebooks
    * (c{Iters}_m, aliased cf_m) and final codes — the whole
    * train+encode twin, reused by the n75 batch oracle, the s31
    * streaming-encode oracle and the n76 IVFADC oracle. One
    * (assign, sums, centroids) CTE triple per subspace per Lloyd
    * pass, exactly the [[graft.operators.Pq.trainPrepared]] loop. */
  private def pqCodesCtesSql: String = {
    import graft.operators.Pq.{Dims, Iters, K, M, SubDims}
    val qeList = "[CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS DOUBLE) " +
      s"for i in range(1, ${Dims + 1})]"
    val qns = (0 until M).map { m =>
      "sqrt(" + foldSql((1 to SubDims).map(i =>
        s"(qe[${m * SubDims + i}] * qe[${m * SubDims + i}])")) + s") AS qn$m"
    }.mkString(", ")
    val sb = new StringBuilder
    sb.append(s"""
      WITH q0 AS (SELECT vec_id, $qeList AS qe FROM embeddings),
      q AS (SELECT vec_id, qe, $qns FROM q0)""")
    for (m <- 0 until M) {
      sb.append(s""",
      c0_$m AS (SELECT CAST(vec_id AS INT) AS cluster,
                  [qe[j] for j in range(${m * SubDims + 1}, ${m * SubDims + SubDims + 1})] AS c
                FROM q WHERE vec_id < $K)""")
      for (it <- 1 to Iters) {
        sb.append(s""",
      a${it}_$m AS (${pqAssignSql(m, s"c${it - 1}_$m")}),
      s${it}_$m AS (SELECT a${it}_$m.cluster, gi.i,
                 CAST(sum(CAST(q.qe[${m * SubDims} + gi.i] AS BIGINT)) AS DOUBLE) AS s
               FROM a${it}_$m JOIN q USING (vec_id) CROSS JOIN range(1, ${SubDims + 1}) gi(i)
               GROUP BY a${it}_$m.cluster, gi.i),
      c${it}_$m AS (SELECT cluster, list(s ORDER BY i) AS c FROM s${it}_$m GROUP BY cluster)""")
      }
      sb.append(s""",
      cf_$m AS (SELECT * FROM c${Iters}_$m),
      af_$m AS (${pqAssignSql(m, s"cf_$m")})""")
    }
    sb.append(s""",
      codes AS (SELECT af_0.vec_id, ${(0 until M).map(m =>
        s"af_$m.cluster AS code$m").mkString(", ")}
                FROM af_0 ${(1 until M).map(m =>
                  s"JOIN af_$m USING (vec_id)").mkString(" ")})""")
    sb.toString
  }

  /** DuckDB twin of the pinned ADC left-fold (graft.operators.Pq
    * .adcScore): the per-subspace lookup CASE with the ELSE arm on
    * code K-1, folded left in ascending subspace order. */
  private def pqAdcExprSql(lutAlias: String, codesAlias: String): String = {
    import graft.operators.Pq.{K, M}
    val caseTerms = (0 until M).map(m =>
      s"CASE $codesAlias.code$m " + (0 until K - 1).map(j =>
        s"WHEN $j THEN $lutAlias.p${m}_$j").mkString(" ") +
        s" ELSE $lutAlias.p${m}_${K - 1} END")
    caseTerms.foldLeft("0.0")((acc, t) => s"($acc + $t)")
  }

  /** LUT pivot column list (p{m}_{j}) over a (probe_id, m, cluster,
    * cosv) long frame — shared by the n75 and n76 oracles. */
  private def pqLutColsSql: String = {
    import graft.operators.Pq.{K, M}
    (for (m <- 0 until M; j <- 0 until K) yield
      s"coalesce(max(CASE WHEN m = $m AND cluster = $j THEN cosv END), " +
        s"CAST('-infinity' AS DOUBLE)) AS p${m}_$j").mkString(",\n            ")
  }

  private def pqOracleSql: String = {
    import graft.operators.Pq.{M, Probes, SubDims, TopK}
    val pcArms = (0 until M).map { m =>
      val dotQC = foldSql((1 to SubDims).map(i => s"(pr.qe[${m * SubDims + i}] * c.c[$i])"))
      val dotCC = foldSql((1 to SubDims).map(i => s"(c.c[$i] * c.c[$i])"))
      s"""SELECT pr.probe_id, $m AS m, c.cluster,
            ($dotQC) / (pr.qn$m * sqrt($dotCC)) AS cosv
          FROM pr CROSS JOIN cf_$m c"""
    }.mkString("\n          UNION ALL ")
    val codeCols = (0 until M).map(m => s"code$m").mkString(", ")
    s"""$pqCodesCtesSql,
      pr AS (SELECT vec_id AS probe_id, qe, ${(0 until M).map(m =>
        s"qn$m").mkString(", ")} FROM q
             WHERE vec_id < $Probes),
      pc AS ($pcArms),
      lut AS (SELECT probe_id, $pqLutColsSql FROM pc GROUP BY probe_id),
      adc AS (SELECT l.probe_id, cd.vec_id,
                ${(0 until M).map(m => s"cd.code$m").mkString(", ")},
                (${pqAdcExprSql("l", "cd")}) AS adc
              FROM codes cd CROSS JOIN lut l)
      SELECT probe_id, rk, vec_id, $codeCols,
        CAST(floor(adc * 1000000.0) AS BIGINT) AS adc_ppm
      FROM (SELECT *, row_number() OVER
              (PARTITION BY probe_id ORDER BY adc DESC, vec_id) AS rk
            FROM adc)
      WHERE rk <= $TopK"""
  }

  /** n52 similarity threshold — 7/16, binary-exact in both engines'
    * literal parse (a 0.45-style literal is a DECIMAL in DuckDB whose
    * →DOUBLE conversion is not correctly rounded). */
  private val SemDedupTau = 0.4375

  /** DuckDB twin of the n57 BPE trainer — the SAME long-format
    * symbol-table pipeline as operators/Bpe, unrolled CTE-for-CTE per
    * iteration (the kmeans-oracle unrolling idiom): lead() pairs,
    * freq-weighted counts, deterministic (n DESC, a, b) argmax,
    * gaps-and-islands greedy application, row_number renumbering. */
  private def bpeOracleSql(iters: Int): String = {
    val sb = new StringBuilder
    sb.append(s"""
      WITH v AS (SELECT word, count(*) AS freq
                 FROM (SELECT unnest($toksSql) AS word FROM documents)
                 GROUP BY word),
      s1 AS (SELECT word, CAST(pos AS INTEGER) AS pos, substr(word, pos, 1) AS sym
             FROM (SELECT word, unnest(range(1, length(word) + 1)) AS pos FROM v))""")
    for (i <- 1 to iters) {
      sb.append(s""",
      p$i AS (SELECT word, pos, sym AS a,
                lead(sym) OVER (PARTITION BY word ORDER BY pos) AS b
              FROM s$i),
      c$i AS (SELECT a, b, sum(freq) AS n
              FROM p$i JOIN v USING (word) WHERE b IS NOT NULL GROUP BY a, b),
      b$i AS (SELECT a, b, n FROM c$i ORDER BY n DESC, a, b LIMIT 1),
      m$i AS (SELECT p.word, p.pos
              FROM p$i p JOIN b$i bb ON p.a = bb.a AND p.b = bb.b),
      ap$i AS (SELECT word, pos FROM
                 (SELECT word, pos,
                    pos - min(pos) OVER (PARTITION BY word, grp) AS off
                  FROM (SELECT word, pos,
                          pos - row_number() OVER (PARTITION BY word ORDER BY pos) AS grp
                        FROM m$i))
               WHERE off % 2 = 0),
      s${i + 1} AS (SELECT s.word,
                    CAST(row_number() OVER (PARTITION BY s.word ORDER BY s.pos) AS INTEGER) AS pos,
                    CASE WHEN a2.pos IS NOT NULL THEN (SELECT a || b FROM b$i)
                         ELSE s.sym END AS sym
                  FROM s$i s
                  LEFT JOIN ap$i a2 ON s.word = a2.word AND s.pos = a2.pos
                  LEFT JOIN ap$i cns ON s.word = cns.word AND s.pos = cns.pos + 1
                  WHERE cns.pos IS NULL)""")
    }
    sb.append((1 to iters).map(i =>
      s"SELECT $i AS it, a, b, CAST(n AS BIGINT) AS n FROM b$i")
      .mkString("\n      ", "\n      UNION ALL\n      ", ""))
    sb.toString
  }

  /** The n57 training CTE chain, finished with the encoded vocabulary
    * (word → final symbol count) for the n58 encode twin. The prefix is
    * REBUILT from [[bpeOracleSql]]'s text so the two oracles can never
    * train on diverging pipelines. */
  private def bpeEncodeCtesSql(iters: Int): String = {
    val full = bpeOracleSql(iters)
    val prefix = full.substring(0, full.lastIndexOf(s"\n      SELECT 1 AS it"))
    s"""$prefix,
      ns AS (SELECT word, count(*) AS n_sym FROM s${iters + 1} GROUP BY word)"""
  }

  /** DuckDB twin of the a29/s23 histogram quantiles — same integer
    * ceiling-division rank thresholds, same cumulative-histogram pick. */
  private def exactQuantilesSql: String = s"""
      WITH docs AS (SELECT lang, len($toksSql) AS v FROM documents),
      hist AS (SELECT lang, v, count(*) AS c FROM docs GROUP BY lang, v),
      cum AS (SELECT lang, v,
                sum(c) OVER (PARTITION BY lang ORDER BY v) AS cum,
                sum(c) OVER (PARTITION BY lang) AS n
              FROM hist)
      SELECT lang,
        CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN v END) AS BIGINT) AS p50,
        CAST(min(CASE WHEN cum >= (n * 9 + 9) // 10 THEN v END) AS BIGINT) AS p90,
        CAST(min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN v END) AS BIGINT) AS p99,
        CAST(max(n) AS BIGINT) AS n_rows
      FROM cum GROUP BY lang"""

  /** DuckDB twin of the n53/s22 priority sample — same 52-bit-hash /
    * weight arithmetic as PriorityAgg.priority, same (pri, doc_id)
    * order, same K. */
  private def prioritySampleSql: String = s"""
      WITH docs AS (SELECT lang, doc_id, len($toksSql) AS w
                    FROM documents),
      pri AS (SELECT lang, doc_id, w,
                CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT AS DOUBLE)
                  / CAST(w AS DOUBLE) AS pri
              FROM docs WHERE w > 0)
      SELECT lang, doc_id, CAST(w AS BIGINT) AS w, CAST(rk AS BIGINT) AS rk FROM
        (SELECT lang, doc_id, w,
           row_number() OVER (PARTITION BY lang ORDER BY pri, doc_id) AS rk
         FROM pri)
      WHERE rk <= ${graft.functions.PriorityAgg.K}"""

  /** DuckDB twin of the n52 SemDeDup plan: full-table k-means (the n34
    * CTEs verbatim), then the pair stage over the (possibly sampled)
    * subset — same quantized vectors, same fold order, same
    * keep-lowest-id convention as Similarity.semanticDedup. */
  private def semanticDedupSql: String = {
    val dotAB = foldSql((1 to 64).map(i => s"(a.qe[$i] * b.qe[$i])"))
    s"""$kmeansCtesSql,
      w AS (SELECT q.vec_id, q.qe, q.qn, a2.cluster
            FROM q JOIN a2 USING (vec_id)
            WHERE ${pairPredSql("q.vec_id")}),
      drops AS (SELECT DISTINCT b.vec_id
                FROM w a JOIN w b
                  ON a.cluster = b.cluster AND a.vec_id < b.vec_id
                WHERE ($dotAB) / (a.qn * b.qn) >= $SemDedupTau)
      SELECT w.vec_id, w.cluster,
        CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS dropped
      FROM w LEFT JOIN drops d ON w.vec_id = d.vec_id"""
  }

  /** DuckDB twin of the n33 score — the same left fold over terms, each
    * term the same rational-idf × saturation form, so every double op
    * happens in the same order as the Spark column expression. */
  private def bm25ScoreSql: String =
    Bm25Terms.foldLeft("0.0") { (acc, t) =>
      val tf = s"CAST(len(toks) - len(list_filter(toks, x -> x <> '$t')) AS DOUBLE)"
      val idf = s"((CAST(n_docs AS DOUBLE) - CAST(df_$t AS DOUBLE) + 0.5) / (CAST(df_$t AS DOUBLE) + 0.5))"
      val denom = s"($tf + $Bm25K1 * ((1.0 - $Bm25B) + $Bm25B * (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))"
      s"($acc + (($idf * ($tf * ${Bm25K1 + 1.0})) / $denom))"
    }

  /** Mechanical SQL expansion of one rule's predicate — same parse
    * semantics as the Catalyst expressions (Rules.parsedInRules /
    * parsedFilterRules), so it works for ANY generated rule, not just
    * the hand-expanded fixture five. */
  private def rulePredSqlGen(t: String, r: RuleClassifier.Rule): String = {
    val ins = Rules.parsedInRules(r.inRules)
    val filts = Rules.parsedFilterRules(r.filterRules)
    if (ins.isEmpty) "FALSE"
    else {
      val conj = ins.map(c => c.map(w => s"contains($t,'$w')")
        .mkString("(", " AND ", ")")).mkString("(", " OR ", ")")
      val veto =
        if (filts.isEmpty) ""
        else " AND NOT " + filts.map(f => s"contains($t,'$f')")
          .mkString("(", " OR ", ")")
      conj + veto
    }
  }

  /** VALUES literal of the fixture rules for the oracle (id + output cols). */
  private def rulesValuesSql: String =
    RuleClassifier.fixtureRules.map { r =>
      s"(CAST(${r.id} AS BIGINT),'${r.firstLevelCode}','${r.firstLevelName}'," +
        s"'${r.secondLevelCode}','${r.secondLevelName}','${r.threeLevelCode}'," +
        s"'${r.threeLevelName}','${r.fourLevelCode}','${r.fourLevelName}'," +
        s"'${r.cfEventCode}','${r.eventCode}','${r.eventName}'," +
        s"CAST(${r.emoScore} AS INT),CAST(${r.impScore} AS INT))"
    }.mkString(
      "(VALUES ", ",\n", ") AS r(id, firstLevelCode, firstLevelName, secondLevelCode, " +
        "secondLevelName, threeLevelCode, threeLevelName, fourLevelCode, fourLevelName, " +
        "cfEventCode, eventCode, eventName, emoScore, impScore)")

  /** Full-pipeline oracle SQL, parameterized by the per-topic
    * srcType constant (quirk Q7) — shared by p09 and p15. */
  private def pipelineSql(srcType: String): String = s"""
      WITH ev AS (
        SELECT doc_id, source AS cmpShortName, CAST(doc_id AS VARCHAR) AS cmpCode,
          text AS title,
          strftime(TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (doc_id) SECOND,
                   '%Y-%m-%d %H:%M:%S') AS pubTime,
          'http://doc/' || CAST(doc_id AS VARCHAR) AS srcUrl
        FROM documents),
      ind_p AS (
        SELECT compName,
          max(CASE WHEN constCode=3 THEN constValueDesc END) AS firstIndustry,
          max(CASE WHEN constCode=3 THEN categoryCode || '##' || CAST(constCode AS VARCHAR) END) AS firstIndustryCode,
          max(CASE WHEN constCode=4 THEN constValueDesc END) AS secondIndustry,
          max(CASE WHEN constCode=4 THEN categoryCode || '##' || CAST(constCode AS VARCHAR) END) AS secondIndustryCode,
          max(CASE WHEN constCode=5 THEN constValueDesc END) AS threeIndustry,
          max(CASE WHEN constCode=5 THEN categoryCode || '##' || CAST(constCode AS VARCHAR) END) AS threeIndustryCode
        FROM ${Pipeline.industryDimSql} GROUP BY compName),
      enr AS (
        SELECT ev.*, name_dim.all_name AS companyName,
          ind_p.firstIndustry, ind_p.firstIndustryCode,
          ind_p.secondIndustry, ind_p.secondIndustryCode,
          ind_p.threeIndustry, ind_p.threeIndustryCode
        FROM ev
        LEFT JOIN ${Pipeline.nameDimSql} ON ev.cmpShortName = name_dim.short_name
        LEFT JOIN ind_p ON name_dim.all_name = ind_p.compName),
      m AS (
        SELECT e.*, r.*
        FROM enr e JOIN $rulesValuesSql
        ON ${ruleJoinCondSql("e.title")}),
      withyq AS (
        SELECT m.*, ${uuidBitsSql("md5(title || srcUrl || pubTime)")} AS yqid FROM m),
      withonly AS (
        SELECT w.*,
          ${uuidBitsSql("md5(yqid || coalesce(companyName,'') || eventCode)")} AS onlyId
        FROM withyq w)
      SELECT yqid, onlyId, cmpShortName, coalesce(companyName,'') AS companyName,
        cmpCode,
        '' AS bondShortName, '' AS bondCode, '' AS bondFullName,
        coalesce(firstIndustry,'') AS firstIndustry,
        coalesce(firstIndustryCode,'') AS firstIndustryCode,
        coalesce(secondIndustry,'') AS secondIndustry,
        coalesce(secondIndustryCode,'') AS secondIndustryCode,
        coalesce(threeIndustry,'') AS threeIndustry,
        coalesce(threeIndustryCode,'') AS threeIndustryCode,
        firstLevelCode, firstLevelName, secondLevelCode, secondLevelName,
        threeLevelCode, threeLevelName, fourLevelCode,
        coalesce(fourLevelName,'') AS fourLevelName,
        eventCode, eventName,
        emoScore, $emoLabelSql AS emoLabel,
        impScore, $impLabelSql AS impLabel,
        '巨潮资讯网' AS webname, '$srcType' AS srcType,
        srcUrl, pubTime, title
      FROM withonly r"""

  /** name -> (spark impl, optional DuckDB oracle). */
  private lazy val registry: Map[String, (Q, Option[String])] = Map(

    // ---------------------------------------------------------------- a*
    // Catalyst analytic surface over the star schema.

    "a01_tpch_q1" -> (((s: SparkSession, d: String) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(28,6)")).cast("string").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(28,6)")).cast("string").as("sum_base_price"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(28,6)")).cast("string").as("sum_disc_price"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")) *
            (lit(1) + col("l_tax"))).cast("decimal(28,6)")).cast("string").as("sum_charge"),
          count(lit(1)).as("count_order"))
    }, Some("""
      SELECT l_returnflag, l_linestatus,
        CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS VARCHAR) AS sum_qty,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS VARCHAR) AS sum_base_price,
        CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,6))) AS VARCHAR) AS sum_disc_price,
        CAST(sum(CAST(l_extendedprice*(1-l_discount)*(1+l_tax) AS DECIMAL(28,6))) AS VARCHAR) AS sum_charge,
        count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus"""))),

    "a02_join_agg" -> (((s: SparkSession, d: String) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      val l = Tables.lineitem(s, d)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(28,6)")).cast("string").as("revenue"),
          count(lit(1)).as("n_lines"))
    }, Some("""
      SELECT c_mktsegment,
        CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,6))) AS VARCHAR) AS revenue,
        count(*) AS n_lines
      FROM customer, orders, lineitem
      WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      GROUP BY c_mktsegment"""))),

    "a03_multi_join" -> (((s: SparkSession, d: String) => {
      val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
      val n = Tables.nation(s, d)
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      val l = Tables.lineitem(s, d)
      val sup = Tables.supplier(s, d)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(sup), l("l_suppkey") === sup("s_suppkey") &&
          sup("s_nationkey") === c("c_nationkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(n("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(28,6)")).cast("string").as("revenue"))
    }, Some("""
      SELECT n_name,
        CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,6))) AS VARCHAR) AS revenue
      FROM lineitem, orders, customer, supplier, nation, region
      WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        AND l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey
        AND r_name = 'ASIA'
      GROUP BY n_name"""))),

    "a04_window_rank" -> (((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
    }, Some("""
      SELECT o_custkey, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
          row_number() OVER (PARTITION BY o_custkey
            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders) WHERE rn = 1"""))),

    "a05_window_running" -> (((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d).select(
        col("o_custkey"), col("o_orderkey"),
        sum(col("o_totalprice").cast("decimal(28,6)")).over(w)
          .cast("string").as("running_spend"))
    }, Some("""
      SELECT o_custkey, o_orderkey,
        CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) OVER (
          PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS running_spend
      FROM orders"""))),

    "a06_setops" -> (((s: SparkSession, d: String) => {
      val cn = Tables.customer(s, d).select(col("c_nationkey").as("nationkey")).distinct()
      val sn = Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")).distinct()
      cn.intersect(sn).withColumn("op", lit("both"))
        .union(cn.except(sn).withColumn("op", lit("cust_only")))
    }, Some("""
      SELECT nationkey, 'both' AS op FROM
        (SELECT c_nationkey AS nationkey FROM customer
         INTERSECT SELECT s_nationkey FROM supplier)
      UNION ALL
      SELECT nationkey, 'cust_only' AS op FROM
        (SELECT c_nationkey AS nationkey FROM customer
         EXCEPT SELECT s_nationkey FROM supplier)"""))),

    // Bench note: an r3 full-surface run recorded 3.71s here with code
    // unchanged since the 0.73s r2 run. Isolated re-bench (3 fresh JVMs,
    // iters=3, sf0.1) measures a stable 0.78-0.83s, matching the
    // same-shaped a23 grouping-sets query — the outlier was
    // bench-environment variance (JIT/GC/machine heat), not the plan.
    "a07_rollup" -> (((s: SparkSession, d: String) => {
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(28,6)")).cast("string").as("sum_qty"))
    }, Some("""
      SELECT l_returnflag, l_linestatus, count(*) AS n,
        CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS VARCHAR) AS sum_qty
      FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"""))),

    // Explicit GROUPING SETS with grouping_id — the general form rollup
    // and cube specialize; the id column disambiguates "NULL because
    // grouped out" from a NULL group value.
    "a23_grouping_sets" -> (((s: SparkSession, d: String) => {
      Tables.lineitem(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(28,6)")).cast("string").as("sum_qty"))
    }, Some("""
      SELECT l_returnflag, l_linestatus,
        grouping(l_returnflag, l_linestatus) AS gid, count(*) AS n,
        CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS VARCHAR) AS sum_qty
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                              (l_returnflag), (l_linestatus))"""))),

    "a08_anti_join" -> (((s: SparkSession, d: String) => {
      val c = Tables.customer(s, d)
      val p = Tables.orders(s, d).filter(col("o_orderstatus") === "P")
      c.join(p, c("c_custkey") === p("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }, Some("""
      SELECT c_custkey, c_name FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')"""))),

    "a09_semi_join" -> (((s: SparkSession, d: String) => {
      val c = Tables.customer(s, d)
      val p = Tables.orders(s, d).filter(col("o_orderstatus") === "P")
      c.join(p, c("c_custkey") === p("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    }, Some("""
      SELECT c_custkey, c_name FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')"""))),

    // Scalar subqueries in a predicate (Catalyst plans each as a
    // one-row subquery broadcast): customers above the global average
    // balance, written as bal·n > Σbal so every term is exact decimal/
    // integer arithmetic — an avg would be DOUBLE in DuckDB and its
    // partial-sum order could flip boundary rows.
    "a24_scalar_subquery" -> (((s: SparkSession, d: String) => {
      Tables.customer(s, d).createOrReplaceTempView("customer_a24")
      s.sql("""
        SELECT c_custkey, c_mktsegment FROM customer_a24
        WHERE CAST(c_acctbal AS DECIMAL(28,6)) * (SELECT count(*) FROM customer_a24) >
          (SELECT sum(CAST(c_acctbal AS DECIMAL(28,6))) FROM customer_a24)""")
    }, Some("""
      SELECT c_custkey, c_mktsegment FROM customer
      WHERE CAST(c_acctbal AS DECIMAL(28,6)) * (SELECT count(*) FROM customer) >
        (SELECT sum(CAST(c_acctbal AS DECIMAL(28,6))) FROM customer)"""))),

    // UNPIVOT (wide → long): measures melted to (metric, value) rows —
    // the inverse of p04's pivot. Spark's unpivot lowers to Expand;
    // per-metric decimal sums keep the compare exact.
    "a25_unpivot" -> (((s: SparkSession, d: String) => {
      Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          col("l_quantity").cast("decimal(28,6)").as("qty"),
          col("l_extendedprice").cast("decimal(28,6)").as("price"),
          col("l_discount").cast("decimal(28,6)").as("disc"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("qty"), col("price"), col("disc")), "metric", "val")
        .groupBy(col("l_returnflag"), col("metric"))
        .agg(sum(col("val")).cast("string").as("sum_val"))
    }, Some("""
      SELECT l_returnflag, metric, CAST(sum(val) AS VARCHAR) AS sum_val
      FROM (
        SELECT l_returnflag, 'qty' AS metric,
               CAST(l_quantity AS DECIMAL(28,6)) AS val FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'price', CAST(l_extendedprice AS DECIMAL(28,6))
        FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'disc', CAST(l_discount AS DECIMAL(28,6))
        FROM lineitem)
      GROUP BY l_returnflag, metric"""))),

    // Generator/UDTF surface: posexplode — one row per array element
    // WITH its ordinal, the lateral-view shape ETL uses to keep element
    // order (token position, frame index) through the fan-out. Spark
    // plans a Generate node (narrow, pipelined — no shuffle at any
    // scale); the position filter bounds the fan-out per row. The
    // DuckDB twin builds the ordinal with a lateral range join.
    "a26_posexplode" -> (((s: SparkSession, d: String) => {
      Tables.documents(s, d)
        .select(col("doc_id"), posexplode(Text.tokens(col("text"))))
        .toDF("doc_id", "pos", "token")
        .where(col("pos") < 5)
    }, Some(s"""
      SELECT doc_id, CAST(i - 1 AS INT) AS pos, toks[CAST(i AS INT)] AS token
      FROM (SELECT doc_id, $toksSql AS toks FROM documents), range(1, 6) t(i)
      WHERE i <= len(toks)"""))),

    // Correlated LATERAL subquery (top-k-per-key without a window-
    // function rewrite in user code): each customer's 2 most recent
    // orders. Catalyst decorrelates the LIMIT-bearing lateral into a
    // ranked join — one shuffle on the correlation key at any scale,
    // never a per-outer-row re-scan of orders. Ties broken by the
    // unique o_orderkey so the row set is deterministic.
    "a27_lateral_topk" -> (((s: SparkSession, d: String) => {
      Tables.customer(s, d).where(col("c_custkey") < 500)
        .createOrReplaceTempView("cust_a27")
      Tables.orders(s, d).createOrReplaceTempView("ord_a27")
      s.sql("""
        SELECT c.c_custkey, t.o_orderkey,
               CAST(CAST(t.o_totalprice AS DECIMAL(28,6)) AS STRING) AS price
        FROM cust_a27 c,
        LATERAL (SELECT o_orderkey, o_totalprice
                 FROM ord_a27 o WHERE o.o_custkey = c.c_custkey
                 ORDER BY o.o_orderdate DESC, o.o_orderkey DESC
                 LIMIT 2) t""")
    }, Some("""
      SELECT c.c_custkey, t.o_orderkey,
             CAST(CAST(t.o_totalprice AS DECIMAL(28,6)) AS VARCHAR) AS price
      FROM (SELECT * FROM customer WHERE c_custkey < 500) c,
      LATERAL (SELECT o_orderkey, o_totalprice
               FROM orders o WHERE o.o_custkey = c.c_custkey
               ORDER BY o.o_orderdate DESC, o.o_orderkey DESC
               LIMIT 2) t"""))),

    // Recursive CTE (Spark 4 WITH RECURSIVE): a generated month spine
    // over a fixed calendar window, LEFT-joined to per-month order
    // counts — the calendar-dimension + gap-fill idiom without any
    // physical date table. Orders are aggregated FIRST (one shuffle to
    // ≤ one row per month), then the ~90-row spine joins that tiny
    // aggregate — at 100 TB the recursion cost is constant and the
    // only data-sized cost is the single month groupBy. Months after
    // the fixture's last order surface with n_orders = 0.
    "a28_recursive_cte" -> (((s: SparkSession, d: String) => {
      Tables.orders(s, d).createOrReplaceTempView("ord_a28")
      s.sql("""
        WITH RECURSIVE months(m) AS (
          SELECT DATE '1995-01-01'
          UNION ALL
          SELECT add_months(m, 1) FROM months WHERE m < DATE '2002-06-01'
        ),
        mc AS (
          SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
                 count(*) AS n
          FROM ord_a28 GROUP BY 1
        )
        SELECT date_format(months.m, 'yyyy-MM') AS ym,
               coalesce(n, CAST(0 AS BIGINT)) AS n_orders
        FROM months LEFT JOIN mc ON mc.m = months.m""")
    }, Some("""
      WITH RECURSIVE months(m) AS (
        SELECT DATE '1995-01-01'
        UNION ALL
        SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months
        WHERE m < DATE '2002-06-01'
      ),
      mc AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
               count(*) AS n
        FROM orders GROUP BY 1
      )
      SELECT strftime(months.m, '%Y-%m') AS ym,
             coalesce(n, CAST(0 AS BIGINT)) AS n_orders
      FROM months LEFT JOIN mc ON mc.m = months.m"""))),

    // Ordered funnel analysis (view → click → purchase, strictly
    // earlier at each stage): "seen prior stage" is a ROWS-frame
    // running max per user — TWO chained window passes over the SAME
    // (partition, order), so Catalyst plans ONE shuffle and one sort
    // for both; no self-join per stage (the naive 3-way join re-scans
    // events per stage). Ties at equal timestamps break on event_id
    // identically in both engines.
    "a31_funnel" -> (((s: SparkSession, d: String) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val e2 = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("v_seen", coalesce(
          max(when(col("event_type") === "view", 1).otherwise(0)).over(w), lit(0)))
        .withColumn("c_qual",
          when(col("event_type") === "click" && col("v_seen") === 1, 1).otherwise(0))
      e2.withColumn("c_seen", coalesce(max(col("c_qual")).over(w), lit(0)))
        .agg(
          countDistinct(when(col("event_type") === "view", col("user_id")))
            .as("n_view"),
          countDistinct(when(col("c_qual") === 1, col("user_id")))
            .as("n_click_after"),
          countDistinct(when(col("event_type") === "purchase" && col("c_seen") === 1,
            col("user_id"))).as("n_purchase_after"))
    }, Some("""
      WITH e AS (SELECT user_id, event_type,
                   make_timestamp(epoch_ns(ts) // 1000) AS t, event_id
                 FROM events),
      e2 AS (SELECT *, coalesce(max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY t, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS v_seen
             FROM e),
      e3 AS (SELECT *, CASE WHEN event_type = 'click' AND v_seen = 1
                            THEN 1 ELSE 0 END AS c_qual FROM e2),
      e4 AS (SELECT *, coalesce(max(c_qual)
               OVER (PARTITION BY user_id ORDER BY t, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c_seen
             FROM e3)
      SELECT
        CAST(count(DISTINCT CASE WHEN event_type = 'view' THEN user_id END) AS BIGINT) AS n_view,
        CAST(count(DISTINCT CASE WHEN c_qual = 1 THEN user_id END) AS BIGINT) AS n_click_after,
        CAST(count(DISTINCT CASE WHEN event_type = 'purchase' AND c_seen = 1
                   THEN user_id END) AS BIGINT) AS n_purchase_after
      FROM e4"""))),

    // Cohort retention: cohort = the user's FIRST active epoch day
    // (integer days since epoch — no calendar/timezone semantics to
    // drift cross-engine), retained = active again at day+1 / day+7.
    // Activity is de-duped to (user, day) FIRST so the heavy event
    // input collapses before any join; the cohort join is an equi-join
    // on user_id over the collapsed set — at 100 TB the dedup is the
    // only row-volume shuffle, everything after is user-cardinality.
    "a32_retention" -> (((s: SparkSession, d: String) => {
      val day = expr("datediff(cast(ts as date), date '1970-01-01')").as("day")
      val ud = Tables.events(s, d).select(col("user_id"), day).distinct()
      val cohort = ud.groupBy(col("user_id")).agg(min(col("day")).as("cohort"))
      ud.join(cohort, Seq("user_id"))
        .groupBy(col("cohort"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          countDistinct(when(col("day") === col("cohort") + 1, col("user_id")))
            .as("n_d1"),
          countDistinct(when(col("day") === col("cohort") + 7, col("user_id")))
            .as("n_d7"))
    }, Some("""
      WITH ud AS (SELECT DISTINCT user_id,
                    CAST(make_timestamp(epoch_ns(ts) // 1000) AS DATE)
                     - DATE '1970-01-01' AS day
                  FROM events),
      cohort AS (SELECT user_id, min(day) AS cohort FROM ud GROUP BY user_id)
      SELECT CAST(cohort AS BIGINT) AS cohort,
        CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        CAST(count(DISTINCT CASE WHEN day = cohort + 1 THEN user_id END) AS BIGINT) AS n_d1,
        CAST(count(DISTINCT CASE WHEN day = cohort + 7 THEN user_id END) AS BIGINT) AS n_d7
      FROM ud JOIN cohort USING (user_id)
      GROUP BY cohort"""))),

    // Robust outlier gate: median + MAD (median absolute deviation)
    // per language over token counts, outlier = |v − median| > 2·MAD
    // (2, not the textbook 3: fixture deviations are tight enough that 3
    // never fires — 2 exercises both branches across languages).
    // Two passes of the a29 cumulative-histogram median — both bounded
    // by DISTINCT values, both integer-exact (deviations of integers
    // are integers; the 3·MAD compare is integer×integer) — so the
    // whole robust-stats gate has no float anywhere, unlike the
    // mean/stddev z-score it replaces (which a single 10⁹-token doc
    // would drag arbitrarily far).
    "a33_mad_outliers" -> (((s: SparkSession, d: String) => {
      def median(df: DataFrame, valCol: String): DataFrame = {
        val hist = df.groupBy(col("lang"), col(valCol).as("v"))
          .agg(count(lit(1)).as("c"))
        hist
          .withColumn("cum", sum(col("c"))
            .over(Window.partitionBy(col("lang")).orderBy(col("v"))))
          .withColumn("n", sum(col("c")).over(Window.partitionBy(col("lang"))))
          .groupBy(col("lang"))
          .agg(min(when(col("cum") >= expr("(n + 1) div 2"), col("v"))).as("med"))
      }
      val docs = Tables.documents(s, d).select(col("lang"),
        Text.tokenCountWs(col("text")).cast("long").as("v"))
      val med = median(docs, "v")
      val dev = docs.join(med, "lang")
        .select(col("lang"), col("v"), col("med"),
          abs(col("v") - col("med")).as("d"))
      val mad = median(dev.select(col("lang"), col("d")), "d")
        .withColumnRenamed("med", "mad")
      dev.join(mad, "lang")
        .groupBy(col("lang"))
        .agg(max(col("med")).as("median"), max(col("mad")).as("mad"),
          sum(when(col("d") > col("mad") * 2, 1L).otherwise(0L)).as("n_outliers"),
          count(lit(1)).as("n_docs"))
    }, Some(s"""
      WITH docs AS (SELECT lang, len($toksSql) AS v FROM documents),
      h1 AS (SELECT lang, v, count(*) AS c FROM docs GROUP BY lang, v),
      c1 AS (SELECT lang, v,
               sum(c) OVER (PARTITION BY lang ORDER BY v) AS cum,
               sum(c) OVER (PARTITION BY lang) AS n FROM h1),
      med AS (SELECT lang,
                min(CASE WHEN cum >= (n + 1) // 2 THEN v END) AS med
              FROM c1 GROUP BY lang),
      dev AS (SELECT d.lang, d.v, m.med, abs(d.v - m.med) AS dd
              FROM docs d JOIN med m USING (lang)),
      h2 AS (SELECT lang, dd, count(*) AS c FROM dev GROUP BY lang, dd),
      c2 AS (SELECT lang, dd,
               sum(c) OVER (PARTITION BY lang ORDER BY dd) AS cum,
               sum(c) OVER (PARTITION BY lang) AS n FROM h2),
      mad AS (SELECT lang,
                min(CASE WHEN cum >= (n + 1) // 2 THEN dd END) AS mad
              FROM c2 GROUP BY lang)
      SELECT dev.lang, CAST(max(dev.med) AS BIGINT) AS median,
             CAST(max(mad.mad) AS BIGINT) AS mad,
             CAST(sum(CASE WHEN dev.dd > mad.mad * 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
             CAST(count(*) AS BIGINT) AS n_docs
      FROM dev JOIN mad USING (lang)
      GROUP BY dev.lang"""))),

    // Batch sessionization (gaps-and-islands over event time): a new
    // session starts when a user's inter-event gap exceeds 30 min.
    // Session ids come from a running sum of session-start flags over a
    // RANGE window — tie rows (equal ts) are peers on BOTH engines, so
    // they always land in the same session regardless of their physical
    // order, making the result deterministic without a tiebreaker
    // column. One shuffle on user_id; the window scan is linear per
    // user. Time is integer epoch-seconds end-to-end (both engines
    // floor sub-second timestamps identically) — no calendar/timezone
    // arithmetic anywhere.
    "a34_sessionize" -> (((s: SparkSession, d: String) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("t"))
      Tables.events(s, d)
        .select(col("user_id"), unix_timestamp(col("ts")).as("t"))
        .withColumn("prev", lag(col("t"), 1).over(byUser))
        .withColumn("new_s",
          when(col("prev").isNull || col("t") - col("prev") > 1800, 1L)
            .otherwise(0L))
        .withColumn("sess", sum(col("new_s")).over(byUser))
        .groupBy(col("user_id"), col("sess"))
        .agg(count(lit(1)).as("n_events"),
          min(col("t")).as("start_s"),
          (max(col("t")) - min(col("t"))).as("dur_s"))
    }, Some("""
      WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS t FROM events),
      l AS (SELECT user_id, t,
              lag(t) OVER (PARTITION BY user_id ORDER BY t) AS prev FROM e),
      n AS (SELECT user_id, t,
              CASE WHEN prev IS NULL OR t - prev > 1800 THEN 1 ELSE 0 END AS new_s
            FROM l),
      s AS (SELECT user_id, t,
              sum(new_s) OVER (PARTITION BY user_id ORDER BY t) AS sess FROM n)
      SELECT user_id, CAST(sess AS BIGINT) AS sess,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(min(t) AS BIGINT) AS start_s,
             CAST(max(t) - min(t) AS BIGINT) AS dur_s
      FROM s GROUP BY 1, 2"""))),

    // RANGE-frame window: per-customer trailing-30-day order count and
    // spend — the time-decayed-feature shape (sliding aggregates keyed
    // by event time, not row position). The frame bound is integer
    // epoch-days on BOTH engines so peer-row semantics are identical;
    // the money sum rides the DECIMAL(28,6)→VARCHAR determinism
    // contract. One shuffle on the partition key; the frame scan is
    // linear per partition (running two-pointer, not per-row rescan).
    "a30_range_frame" -> (((s: SparkSession, d: String) => {
      val day = datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date"))
      val w = Window.partitionBy(col("o_custkey")).orderBy(day)
        .rangeBetween(-30, Window.currentRow)
      Tables.orders(s, d)
        .withColumn("n_30d", count(lit(1)).over(w))
        .withColumn("sum_30d",
          sum(col("o_totalprice").cast("decimal(28,6)")).over(w).cast("string"))
        .select(col("o_orderkey"), col("n_30d"), col("sum_30d"))
    }, Some("""
      SELECT o_orderkey,
        CAST(count(*) OVER w AS BIGINT) AS n_30d,
        CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) OVER w AS VARCHAR) AS sum_30d
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey
                   ORDER BY (CAST(o_orderdate AS DATE) - DATE '1970-01-01')
                   RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)"""))),

    // Exact distributed quantiles WITHOUT a global sort (contrast a10's
    // percentile over raw values): per-(lang, value) counts first — a
    // shuffle bounded by DISTINCT values, not rows — then a cumulative
    // count over each language's value histogram picks the smallest
    // value whose cumulative count reaches ceil(q·n). quantile_disc
    // semantics, integer-exact end to end: the rank thresholds are
    // integer ceiling divisions ((n·9+9) div 10), never a float q·n
    // (0.9 is not a binary double; DECIMAL-vs-DOUBLE q·n can ceil to
    // DIFFERENT ranks across engines). At 100 TB the histogram is
    // map-side combined (token counts have ~10³ distinct values at any
    // corpus size), so the per-group sort is over the histogram.
    "a29_exact_quantiles" -> (((s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d).select(col("lang"),
        Text.tokenCountWs(col("text")).cast("long").as("v"))
      val hist = docs.groupBy(col("lang"), col("v")).agg(count(lit(1)).as("c"))
      val cum = hist
        .withColumn("cum",
          sum(col("c")).over(Window.partitionBy(col("lang")).orderBy(col("v"))))
        .withColumn("n", sum(col("c")).over(Window.partitionBy(col("lang"))))
      cum.groupBy(col("lang")).agg(
        min(when(col("cum") >= expr("(n + 1) div 2"), col("v"))).as("p50"),
        min(when(col("cum") >= expr("(n * 9 + 9) div 10"), col("v"))).as("p90"),
        min(when(col("cum") >= expr("(n * 99 + 99) div 100"), col("v"))).as("p99"),
        max(col("n")).as("n_rows"))
    }, Some(exactQuantilesSql))),

    "a10_percentile" -> (((s: SparkSession, d: String) => {
      Tables.lineitem(s, d).groupBy(col("l_returnflag")).agg(
        round(percentile(col("l_quantity"), lit(0.5)), 4).as("median_qty"),
        round(percentile(col("l_quantity"), lit(0.9)), 4).as("p90_qty"))
    }, Some("""
      SELECT l_returnflag,
        round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
        round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty
      FROM lineitem GROUP BY l_returnflag"""))),

    // Grouping-sets surface beyond rollup (a07): full cube.
    "a11_cube" -> (((s: SparkSession, d: String) => {
      Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(28,6)")).cast("string").as("sum_qty"))
    }, Some("""
      SELECT l_returnflag, l_linestatus, count(*) AS n,
        CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS VARCHAR) AS sum_qty
      FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"""))),

    // Full outer join (completes the join surface next to inner /
    // left / semi / anti / cross): customers under 1000 vs pending-
    // order counts — unmatched rows survive on BOTH sides.
    "a12_full_outer" -> (((s: SparkSession, d: String) => {
      val c = Tables.customer(s, d).filter(col("c_custkey") < 1000)
      val p = Tables.orders(s, d).filter(col("o_orderstatus") === "P")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_pending"))
      c.join(p, c("c_custkey") === p("o_custkey"), "full_outer")
        .select(coalesce(c("c_custkey"), p("o_custkey")).as("custkey"),
          col("c_name"), col("n_pending"))
    }, Some("""
      SELECT coalesce(c_custkey, o_custkey) AS custkey, c_name, n_pending
      FROM (SELECT * FROM customer WHERE c_custkey < 1000) c
      FULL OUTER JOIN (SELECT o_custkey, count(*) AS n_pending FROM orders
                       WHERE o_orderstatus = 'P' GROUP BY o_custkey) o
      ON c_custkey = o_custkey"""))),

    // The SQL frontend: the same engine surface through spark.sql with
    // the library's functions registered via SparkSessionExtensions
    // (GraftExtensions) — a user never has to touch the Column API.
    "a13_sql_frontend" -> (((s: SparkSession, d: String) => {
      Tables.documents(s, d).createOrReplaceTempView("graft_documents")
      s.sql("""
        SELECT doc_id, graft_det_id(text || '|' || lang) AS det_id,
               size(graft_shingle_set(text)) AS n_shingles
        FROM graft_documents""")
    }, Some(s"""
      SELECT doc_id,
        ${uuidBitsSql("md5(text || '|' || lang)")} AS det_id,
        len($ssetSql) AS n_shingles
      FROM (SELECT doc_id, lang, text, $toksSql AS toks FROM documents)"""))),

    // lead/lag window surface: per-customer order sequence with
    // day-gaps to the previous/next order (null at the edges).
    "a17_lead_lag" -> (((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d).select(
        col("o_custkey"), col("o_orderkey"),
        datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w))
          .as("days_since_prev"),
        datediff(lead(col("o_orderdate"), 1).over(w), col("o_orderdate"))
          .as("days_to_next"))
    }, Some("""
      SELECT o_custkey, o_orderkey,
        date_diff('day', lag(o_orderdate) OVER w, o_orderdate) AS days_since_prev,
        date_diff('day', o_orderdate, lead(o_orderdate) OVER w) AS days_to_next
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)"""))),

    // RANGE-frame window (value-based, not row-based): trailing 30-day
    // order count per customer. Spark's rangeBetween needs a numeric
    // order key, so the date becomes epoch-days on BOTH sides — count
    // output keeps it float-free and order-insensitive.
    "a20_range_frame" -> (((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("d"))
        .rangeBetween(-30, Window.currentRow)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          datediff(col("o_orderdate"), lit("1970-01-01").cast("date")).as("d"))
        .select(col("o_custkey"), col("o_orderkey"),
          count(lit(1)).over(w).as("n_last_30d"))
    }, Some("""
      SELECT o_custkey, o_orderkey,
        count(*) OVER (PARTITION BY o_custkey ORDER BY d
                       RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS n_last_30d
      FROM (SELECT o_custkey, o_orderkey,
              date_diff('day', DATE '1970-01-01', o_orderdate) AS d
            FROM orders)"""))),

    // Distribution window functions: ntile/percent_rank/cume_dist over a
    // total order (tie-broken by the unique key so bucket assignment is
    // engine-independent).
    "a21_distribution_rank" -> (((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      Tables.customer(s, d).select(
        col("c_custkey"), col("c_mktsegment"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
    }, Some("""
      SELECT c_custkey, c_mktsegment,
        ntile(4) OVER w AS quartile,
        percent_rank() OVER w AS pct_rank,
        cume_dist() OVER w AS cume
      FROM customer
      WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)"""))),

    // Time-series resample + gap-fill: hourly bins per user over each
    // user's own span (dense spine via sequence+explode), event counts
    // per bin, and the last observed value carried forward through
    // empty bins. Determinism: the in-bin "last" is picked by
    // row_number over (µs, event_id) — total order, same on both
    // engines; the carried value is a bit-exact copy (no arithmetic).
    "a22_resample_gapfill" -> (((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("value"),
          date_trunc("hour", col("ts")).as("bin"),
          unix_micros(col("ts")).as("us"))
      val wLast = Window.partitionBy(col("user_id"), col("bin"))
        .orderBy(col("us").desc, col("event_id").desc)
      val lastPerBin = ev.withColumn("rn", row_number().over(wLast))
        .where(col("rn") === 1)
        .select(col("user_id"), col("bin"), col("value").as("lastv"))
      val counts = ev.groupBy(col("user_id"), col("bin"))
        .agg(count(lit(1)).as("n_events"))
      val spine = ev.groupBy(col("user_id"))
        .agg(min(col("bin")).as("lo"), max(col("bin")).as("hi"))
        .select(col("user_id"),
          explode(sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("bin"))
      val wFf = Window.partitionBy(col("user_id")).orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine
        .join(counts, Seq("user_id", "bin"), "left")
        .join(lastPerBin, Seq("user_id", "bin"), "left")
        .select(col("user_id"),
          date_format(col("bin"), "yyyy-MM-dd HH:00").as("bin_ts"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          last(col("lastv"), ignoreNulls = true).over(wFf).as("value_ff"))
    }, Some("""
      WITH e AS (
        SELECT user_id, event_id, value, date_trunc('hour', ts) AS bin,
               epoch_ns(ts) // 1000 AS us FROM events),
      counts AS (
        SELECT user_id, bin, count(*) AS n_events FROM e GROUP BY 1, 2),
      lastv AS (
        SELECT user_id, bin, value AS lastv FROM (
          SELECT user_id, bin, value, row_number() OVER (
            PARTITION BY user_id, bin ORDER BY us DESC, event_id DESC) AS rn
          FROM e) WHERE rn = 1),
      spine AS (
        SELECT user_id,
          unnest(generate_series(min(bin), max(bin), INTERVAL 1 HOUR)) AS bin
        FROM e GROUP BY user_id)
      SELECT s.user_id, strftime(s.bin, '%Y-%m-%d %H:00') AS bin_ts,
        coalesce(c.n_events, 0) AS n_events,
        last_value(l.lastv IGNORE NULLS) OVER (
          PARTITION BY s.user_id ORDER BY s.bin
          ROWS UNBOUNDED PRECEDING) AS value_ff
      FROM spine s
      LEFT JOIN counts c ON s.user_id = c.user_id AND s.bin = c.bin
      LEFT JOIN lastv l ON s.user_id = l.user_id AND s.bin = l.bin"""))),

    // Distinct aggregates: exact count(DISTINCT) + plain count per group
    // (Catalyst plans the expand+two-phase agg automatically).
    "a18_distinct_agg" -> (((s: SparkSession, d: String) => {
      Tables.orders(s, d).groupBy(col("o_orderstatus")).agg(
        countDistinct(col("o_custkey")).as("n_customers"),
        countDistinct(col("o_orderpriority")).as("n_priorities"),
        count(lit(1)).as("n_orders"))
    }, Some("""
      SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_customers,
        count(DISTINCT o_orderpriority) AS n_priorities, count(*) AS n_orders
      FROM orders GROUP BY o_orderstatus"""))),

    // Statistical aggregates (mean/variance/correlation) with exact
    // cross-engine determinism: moments accumulate as EXACT decimal
    // sums; the finishing arithmetic runs on doubles obtained via
    // decimal→string→double (string parse is correctly rounded in both
    // engines, unlike DuckDB's direct decimal→double cast) with the
    // formula written identically on both sides. Built-in stddev/corr
    // would float-accumulate in engine-specific order — hash-unstable.
    // Moment sums use xsum (split scaled-long), NOT decimal: decimal
    // aggregation is ~8x slower than long/double sums (measured 2.1 s
    // vs 0.26 s over sf0.1 lineitem — r8 perf note in BASELINE.md), and
    // a19's decimal sums were only INTERMEDIATE (outputs are doubles),
    // so the decimal render contract never applied. xsum keeps the
    // cross-engine determinism a different way: micro-unit scaling,
    // hi/lo 64-bit split, and a fixed IEEE expression shape that DuckDB
    // evaluates bit-identically (xsumSql is the mechanical twin).
    "a19_stats_moments" -> (((s: SparkSession, d: String) => {
      val n = count(lit(1))
      val q = col("l_quantity")
      val p = col("l_extendedprice")
      def S(c: Column) = xsum(c)
      Tables.lineitem(s, d).groupBy(col("l_returnflag")).agg(
        n.as("n"),
        (S(q) / n).as("mean_qty"),
        ((S(q * q) - S(q) * S(q) / n) / (n - lit(1))).as("var_qty"),
        ((S(q * p) - S(q) * S(p) / n) /
          (sqrt(S(q * q) - S(q) * S(q) / n) *
           sqrt(S(p * p) - S(p) * S(p) / n))).as("corr_qty_price"))
    }, Some {
      val q = "l_quantity"
      val qq = xsumSql(s"$q*$q"); val q1 = xsumSql(q)
      val pp = xsumSql("l_extendedprice*l_extendedprice")
      val p1 = xsumSql("l_extendedprice")
      val qp = xsumSql(s"$q*l_extendedprice")
      s"""
      SELECT l_returnflag, count(*) AS n,
        $q1 / count(*) AS mean_qty,
        ($qq - $q1 * $q1 / count(*)) / (count(*) - 1) AS var_qty,
        ($qp - $q1 * $p1 / count(*)) /
          (sqrt($qq - $q1 * $q1 / count(*)) * sqrt($pp - $p1 * $p1 / count(*)))
          AS corr_qty_price
      FROM lineitem GROUP BY l_returnflag"""
    })),

    // TPC-H Q14-flavored: part dim joined to lineitem with a
    // conditional aggregate (promo revenue share) — completes star-
    // schema coverage (part was the one unexercised table).
    "a16_part_promo" -> (((s: SparkSession, d: String) => {
      val l = Tables.lineitem(s, d)
      val p = Tables.part(s, d)
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .groupBy(col("p_type"))
        .agg(
          count(lit(1)).as("n_lines"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(28,6)")).cast("string").as("revenue"),
          sum(when(col("p_brand") === "Brand#2",
            (col("l_extendedprice") * (lit(1) - col("l_discount")))
              .cast("decimal(28,6)")).otherwise(lit(0).cast("decimal(28,6)")))
            .cast("string").as("brand2_revenue"))
    }, Some("""
      SELECT p_type, count(*) AS n_lines,
        CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,6))) AS VARCHAR) AS revenue,
        CAST(sum(CASE WHEN p_brand = 'Brand#2'
              THEN CAST(l_extendedprice*(1-l_discount) AS DECIMAL(28,6))
              ELSE CAST(0 AS DECIMAL(28,6)) END) AS VARCHAR) AS brand2_revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_type"""))),

    // As-of join — the temporal operator Spark lacks natively: for
    // every event, the user's most recent purchase at-or-before it.
    // Union+window lowering (one key shuffle, no range explosion);
    // oracle = DuckDB's native ASOF JOIN over the same µs-floored
    // times (ns-precision on one side only could flip <= at µs ties).
    "a14_asof_join" -> (((s: SparkSession, d: String) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
      val purchases = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
      operators.AsOfJoin.asofBackward(ev, purchases,
        key = "user_id", time = "us", tiebreak = "event_id", payloadCol = "event_id")
        .select(col("event_id"), col("user_id"), col("asof_event_id"))
    }, Some("""
      WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us FROM events),
      -- one row per (user, us): max event_id, matching the Spark window's
      -- (time, side, event_id) tie order — ASOF's pick among equal times
      -- is otherwise unspecified
      p AS (SELECT max(event_id) AS event_id, user_id, us
            FROM (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us FROM events
                  WHERE event_type = 'purchase')
            GROUP BY user_id, us)
      SELECT e.event_id, e.user_id, p.event_id AS asof_event_id
      FROM e ASOF LEFT JOIN p
      ON e.user_id = p.user_id AND p.us <= e.us"""))),

    // Range join: events matched to a tier-interval dimension on
    // lo <= value < hi (no equi key). With a small interval dim the
    // right plan is broadcast nested-loop — the fact side never
    // shuffles; a large interval dim would first bucket both sides to
    // make it an equi-join (same pattern as the similarity joins).
    "a15_range_join" -> (((s: SparkSession, d: String) => {
      import s.implicits._
      val tiers = (0 until 25).map(i => (i, i * 20.0, (i + 1) * 20.0))
        .toDF("tier", "lo", "hi")
      Tables.events(s, d)
        .join(broadcast(tiers), col("value") >= col("lo") && col("value") < col("hi"))
        .groupBy(col("tier"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(28,6)")).cast("string").as("sum_value"))
    }, Some {
      val tiers = (0 until 25).map(i => s"($i, ${i * 20.0}, ${(i + 1) * 20.0})")
        .mkString("(VALUES ", ",", ") AS t(tier, lo, hi)")
      s"""
      SELECT tier, count(*) AS n,
        CAST(sum(CAST(value AS DECIMAL(28,6))) AS VARCHAR) AS sum_value
      FROM events JOIN $tiers ON value >= lo AND value < hi
      GROUP BY tier"""
    })),

    // ---------------------------------------------------------------- p*
    // Reference-parity operators (SURVEY §2, kafka CDC pipeline).

    // O3: CDC insert filter — keep non-update, well-formed events
    // (kafka_s.py:170-174: drop docs with `$set`, i.e. partial updates).
    "p01_cdc_filter" -> (((s: SparkSession, d: String) => {
      Tables.events(s, d)
        .filter(!contains(col("props"), lit("$set")) && col("event_type") =!= "error")
        .select(col("event_id"), col("event_type"), col("user_id"), col("props"))
    }, Some("""
      SELECT event_id, event_type, user_id, props
      FROM events
      WHERE NOT contains(props, '$set') AND event_type <> 'error'"""))),

    // O4: projection + timestamp formatting (kafka_s.py:177-187, strftime :181).
    "p02_project_format" -> (((s: SparkSession, d: String) => {
      Tables.events(s, d)
        .select(
          col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("pub_time"),
          regexp_extract(col("props"), "\"k\": ([0-9]+)", 1).as("k_str"))
    }, Some("""
      SELECT event_id,
        strftime(ts, '%Y-%m-%d %H:%M:%S') AS pub_time,
        regexp_extract(props, '"k": ([0-9]+)', 1) AS k_str
      FROM events"""))),

    // O5/O6: broadcast lookup join, null on miss (kafka_s.py:120-148;
    // left-join semantics, NOT the reference's stale-state quirk Q1).
    "p03_lookup_join" -> (((s: SparkSession, d: String) => {
      val c = Tables.customer(s, d)
      val sup = Tables.supplier(s, d)
      c.join(broadcast(sup), c("c_nationkey") === sup("s_nationkey"), "left")
        .select(col("c_custkey"), col("c_name"), col("s_name"))
    }, Some("""
      SELECT c_custkey, c_name, s_name
      FROM customer LEFT JOIN supplier ON c_nationkey = s_nationkey"""))),

    // O7/O8: dim join + IN-filter + pivot rows→columns via first/max-per-key
    // (kafka_s.py:105-118,298-310; code value = concat(key,'##',code) :304).
    "p04_pivot" -> (((s: SparkSession, d: String) => {
      Tables.orders(s, d)
        .filter(col("o_orderstatus").isin("O", "F", "P"))
        .groupBy(col("o_custkey"))
        .agg(
          max(when(col("o_orderstatus") === "O", col("o_totalprice"))).as("open_max"),
          max(when(col("o_orderstatus") === "F", col("o_totalprice"))).as("fin_max"),
          max(when(col("o_orderstatus") === "P", concat(col("o_orderkey").cast("string"),
            lit("##"), col("o_orderstatus")))).as("pend_code"),
          count(lit(1)).as("n_orders"))
    }, Some("""
      SELECT o_custkey,
        max(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END) AS open_max,
        max(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END) AS fin_max,
        max(CASE WHEN o_orderstatus = 'P' THEN CAST(o_orderkey AS VARCHAR) || '##' || o_orderstatus END) AS pend_code,
        count(*) AS n_orders
      FROM orders
      WHERE o_orderstatus IN ('O','F','P')
      GROUP BY o_custkey"""))),

    // O11/O12/O13: the centerpiece — rule parse + broadcast nested-loop
    // cross join + OR-of-AND contains predicate with veto, plus the
    // O16/O17 label maps. Oracle = hand-expanded booleans per fixture rule.
    "p05_rule_match" -> (((s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val rules = RuleClassifier.rulesDim(s)
      RuleClassifier.classify(docs, rules, col("text"))
        .select(
          col("doc_id"), col("id").as("rule_id"),
          col("eventCode"), col("eventName"),
          col("emoScore"), col("impScore"),
          Rules.emoLabel(col("emoScore")).as("emoLabel"),
          Rules.impLabel(col("impScore")).as("impLabel"))
    }, Some(s"""
      SELECT d.doc_id, r.id AS rule_id, r.eventCode, r.eventName,
        r.emoScore, r.impScore, $emoLabelSql AS emoLabel, $impLabelSql AS impLabel
      FROM documents d JOIN $rulesValuesSql
      ON ${ruleJoinCondSql("d.text")}"""))),

    // O26: CSV sink + source (the reference's offline variant appends
    // matched rows to data.csv, mysql_rules.py:65-90). Write a
    // projection to CSV, read it back with an explicit schema, and
    // aggregate — the oracle aggregates the parquet directly, so the
    // roundtrip must be lossless.
    "p06_csv_roundtrip" -> (((s: SparkSession, d: String) => {
      // fresh dir per invocation: a fixed shared path would let two
      // concurrent harness JVMs (e.g. Verify + Bench) clobber each
      // other's roundtrip data; shutdown-hook cleanup — the returned
      // frame reads the dir lazily, so it can't be deleted here
      val dir = TempDirs.create("graft_csv_roundtrip")
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite").option("header", "true").csv(dir)
      s.read
        .schema("doc_id LONG, lang STRING, n_chars INT")
        .option("header", "true").csv(dir)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    }, Some("""
      SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM documents GROUP BY lang"""))),

    // O26 variant on a columnar format: ORC sink + source roundtrip
    // (Spark bundles native ORC support — the second columnar format a
    // lakehouse deployment actually meets). Same lossless-roundtrip
    // contract as p06: write a projection to ORC, read it back, and
    // aggregate; the oracle aggregates the parquet directly, so any
    // codec/schema drift in the roundtrip breaks the hash. ORC arrives
    // with predicate pushdown + column pruning like parquet, so the
    // scan-side scale story is unchanged.
    "p21_orc_roundtrip" -> (((s: SparkSession, d: String) => {
      val dir = TempDirs.create("graft_orc_roundtrip")
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .write.mode("overwrite").orc(dir)
      s.read.orc(dir)
        .where(col("n_chars") > 100)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    }, Some("""
      SELECT lang, source, count(*) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM documents WHERE n_chars > 100 GROUP BY lang, source"""))),

    // O26 variant on newline-delimited JSON (the log-ingest interchange
    // format): write a projection as JSONL, read it back with an
    // explicit schema (never inferSchema in production — one schema
    // drift away from silent column loss), aggregate. Oracle reads the
    // parquet, so the roundtrip must preserve every value including
    // long/string boundaries.
    "p22_jsonl_roundtrip" -> (((s: SparkSession, d: String) => {
      val dir = TempDirs.create("graft_jsonl_roundtrip")
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .write.mode("overwrite").json(dir)
      s.read.schema("doc_id LONG, lang STRING, source STRING, n_chars LONG")
        .json(dir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
    }, Some("""
      SELECT source, count(*) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        min(doc_id) AS min_id, max(doc_id) AS max_id
      FROM documents GROUP BY source"""))),

    // O26 variant on XML (the B2B/feed-interchange format — Spark 4
    // bundles the former spark-xml connector as a NATIVE source, so no
    // new dependency): write a projection as XML rows, read it back
    // with an explicit schema (same never-inferSchema stance as p22),
    // and verify CONTENT through the roundtrip with an md5-derived
    // integer checksum over the text column — entity escaping, CJK,
    // and whitespace preservation (ignoreSurroundingSpaces=false; the
    // reader default TRIMS values) all sit on the hash-verified path.
    "p31_xml_roundtrip" -> (((s: SparkSession, d: String) => {
      val dir = TempDirs.create("graft_xml_roundtrip")
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("text"), col("n_chars"))
        .write.mode("overwrite")
        .option("rowTag", "doc").option("rootTag", "docs")
        .format("xml").save(dir)
      s.read
        .schema("doc_id LONG, lang STRING, text STRING, n_chars LONG")
        .option("rowTag", "doc")
        .option("ignoreSurroundingSpaces", "false")
        .format("xml").load(dir)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
            .as("text_checksum"))
    }, Some("""
      SELECT lang, count(*) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS text_checksum
      FROM documents GROUP BY lang"""))),

    // O26 variant on the plain-TEXT line source (the rawest ingest
    // format — one record per line, no schema at all): a text file
    // carries ONE string column and no row identity, so the writer
    // embeds the key in the line (doc_id TAB text — the fixture corpus
    // is space-tokenized, tab-free) and the reader re-parses it. The
    // md5-derived checksum rides the roundtrip, so newline handling,
    // UTF-8 and the parse itself are all hash-verified; mod-8 buckets
    // keep the result keyed without relying on row order (a text read
    // has none).
    "p32_text_roundtrip" -> (((s: SparkSession, d: String) => {
      val dir = TempDirs.create("graft_text_roundtrip")
      Tables.documents(s, d)
        .select(concat_ws("\t", col("doc_id"), col("text")).as("value"))
        .write.mode("overwrite").text(dir)
      s.read.text(dir)
        .select(
          substring_index(col("value"), "\t", 1).cast("long").as("doc_id"),
          expr("substring(value, instr(value, '\t') + 1)").as("text"))
        .groupBy((col("doc_id") % 8).as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"),
          sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
            .as("text_checksum"))
    }, Some("""
      SELECT doc_id % 8 AS bucket, count(*) AS n_docs,
        min(doc_id) AS min_id, max(doc_id) AS max_id,
        CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT)
          AS text_checksum
      FROM documents GROUP BY doc_id % 8"""))),

    // Hive-style partitioned parquet sink + partition-pruned read-back:
    // write documents partitioned by lang (dynamic partitioning — the
    // layout every 100 TB corpus lands in), then read ONE partition
    // back through a lang filter. The filter must prune at PLANNING
    // time via the directory layout — the scan lists and reads only
    // lang=en files, never touching the other partitions' bytes
    // (PlanSpec pins PartitionFilters on the scan). The oracle
    // aggregates the unpartitioned parquet under the same predicate,
    // so partition-column round-tripping (value→dir-name→value) is
    // also verified.
    "p23_partitioned_write" -> (((s: SparkSession, d: String) => {
      val dir = TempDirs.create("graft_part_write")
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .write.mode("overwrite").partitionBy("lang").parquet(dir)
      s.read.parquet(dir)
        .where(col("lang") === "en")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    }, Some("""
      SELECT source, count(*) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM documents WHERE lang = 'en' GROUP BY source"""))),

    // Range-clustered sorted write — the data-layout step that makes a
    // 100 TB table scannable: repartitionByRange on the cluster key +
    // sortWithinPartitions gives files whose min/max key ranges are
    // DISJOINT, so parquet footer stats (and any catalog's file-level
    // stats) prune a key-range scan to the few files that can contain
    // it. ClusteredWriteSpec proves the property the layout exists
    // for: per-file [min,max] ranges don't overlap. The oracle
    // aggregates the read-back, so the roundtrip is lossless; the
    // range exchange samples the key to build balanced bounds —
    // skew-robust where hash bucketing on a hot key is not.
    "p24_clustered_write" -> (((s: SparkSession, d: String) => {
      val dir = TempDirs.create("graft_clustered_write")
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_shipdate"), col("l_quantity"),
          col("l_extendedprice"))
        .repartitionByRange(8, col("l_shipdate"))
        .sortWithinPartitions(col("l_shipdate"))
        .write.mode("overwrite").parquet(dir)
      s.read.parquet(dir)
        .where(col("l_shipdate").between("1995-01-01", "1995-12-31"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(28,6)")).cast("string").as("sum_qty"),
          min(col("l_shipdate")).cast("string").as("min_ship"),
          max(col("l_shipdate")).cast("string").as("max_ship"))
    }, Some("""
      SELECT count(*) AS n_rows,
        CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS VARCHAR) AS sum_qty,
        CAST(min(l_shipdate) AS VARCHAR) AS min_ship,
        CAST(max(l_shipdate) AS VARCHAR) AS max_ship
      FROM lineitem
      WHERE l_shipdate BETWEEN '1995-01-01' AND '1995-12-31'"""))),

    // Small-file compaction (Compaction.scala scaladoc): 64 tiny files
    // → measured-bytes-sized output via a zero-shuffle coalesce
    // rewrite; the oracle checks full row fidelity through both
    // round trips. CompactionSpec pins the file-count mechanics.
    "p26_compact_small_files" -> (((s: SparkSession, d: String) => {
      import graft.operators.Compaction
      val root = TempDirs.create("graft_compact")
      Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text"))
        .repartition(64).write.mode("overwrite").parquet(s"$root/small")
      Compaction.compact(s, s"$root/small", s"$root/compacted",
        targetBytes = 4L << 20)
      s.read.parquet(s"$root/compacted")
        .select(col("doc_id"), col("lang"), col("text"))
    }, Some("SELECT doc_id, lang, text FROM documents"))),

    // Z-order clustered write (operators/ZOrder scaladoc): Morton-
    // interleaved (custkey, day) layout → per-file footer stats tight
    // on BOTH dimensions, the 2-predicate pruning layout single-column
    // sorts can't produce. Oracle checks full fidelity through the
    // 2-D predicate; ZOrderSpec measures the locality property.
    "p28_zorder_write" -> (((s: SparkSession, d: String) => {
      import graft.operators.ZOrder
      val dir = TempDirs.create("graft_zorder")
      ZOrder.writeClustered(Tables.orders(s, d),
        col("o_custkey") % 256,
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date")) % 256,
        dir, files = 16)
      s.read.parquet(dir)
        .where(col("o_custkey").between(100, 400) &&
          col("o_orderdate").between("1995-03-01", "1995-09-30"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(28,6)")).cast("string").as("sum_price"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
    }, Some("""
      SELECT count(*) AS n,
        CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS VARCHAR) AS sum_price,
        CAST(min(o_orderkey) AS BIGINT) AS min_key,
        CAST(max(o_orderkey) AS BIGINT) AS max_key
      FROM orders
      WHERE o_custkey BETWEEN 100 AND 400
        AND o_orderdate BETWEEN '1995-03-01' AND '1995-09-30'"""))),

    // Snapshot diff — the dataset-versioning audit (what changed
    // between two table generations): one FULL OUTER equi-join on the
    // key, per-row content compare, counts per status. At 100 TB both
    // generations hash-partition on the key (no broadcast, no
    // re-sort if both are bucketed on it) and the compare ships a
    // narrow content column — for wide rows, a per-row md5 computed at
    // write time, the same row-hash idiom as p19's SCD2 change
    // detection. Generations are derived deterministically from the
    // md5 bucket so every status bin is non-empty and reproducible:
    // old = buckets [5,100), new = [0,95) with payload rewritten on
    // [5,10) — added=[0,5) removed=[95,100) changed=[5,10).
    "p30_snapshot_diff" -> (((s: SparkSession, d: String) => {
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_orderpriority"), md5Bucket100(col("o_orderkey")).as("bkt"))
      val old = o.where(col("bkt") >= 5)
        .select(col("o_orderkey"), col("o_orderpriority").as("old_p"))
      val nw = o.where(col("bkt") < 95)
        .select(col("o_orderkey"),
          when(col("bkt").between(5, 9),
            concat(col("o_orderpriority"), lit("-r2")))
            .otherwise(col("o_orderpriority")).as("new_p"))
      old.join(nw, Seq("o_orderkey"), "full_outer")
        .select(
          when(col("old_p").isNull, "added")
            .when(col("new_p").isNull, "removed")
            .when(col("old_p") =!= col("new_p"), "changed")
            .otherwise("unchanged").as("status"))
        .groupBy(col("status")).agg(count(lit(1)).as("n"))
    }, Some("""
      WITH b AS (SELECT o_orderkey, o_orderpriority,
                   (('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4))::INT % 100) AS bkt
                 FROM orders),
      old AS (SELECT o_orderkey, o_orderpriority AS old_p FROM b WHERE bkt >= 5),
      nw AS (SELECT o_orderkey,
               CASE WHEN bkt BETWEEN 5 AND 9 THEN o_orderpriority || '-r2'
                    ELSE o_orderpriority END AS new_p
             FROM b WHERE bkt < 95)
      SELECT CASE WHEN old_p IS NULL THEN 'added'
                  WHEN new_p IS NULL THEN 'removed'
                  WHEN old_p <> new_p THEN 'changed'
                  ELSE 'unchanged' END AS status,
             count(*) AS n
      FROM old FULL JOIN nw USING (o_orderkey)
      GROUP BY 1"""))),

    // Write-audit-publish (operators/Publish scaladoc): a good
    // snapshot publishes; a subsequent BAD snapshot (nulled keys)
    // fails its audit and never becomes visible — the query returns
    // what a consumer reads through the latest manifest version after
    // both attempts, which the oracle checks equals the good snapshot
    // exactly. PublishSpec pins the crash-before-claim, swap, racing
    // publisher and GC cases.
    "p29_write_audit_publish" -> (((s: SparkSession, d: String) => {
      import graft.operators.Publish
      val root = TempDirs.create("graft_wap")
      val good = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      val audit = (df: DataFrame) =>
        if (df.where(col("c_custkey").isNull).limit(1).count() > 0)
          Some("null keys") else if (df.isEmpty) Some("empty") else None
      require(Publish.writeAuditPublish(s, good, root, audit).isRight)
      val bad = good.withColumn("c_custkey",
        when(col("c_custkey") % 10 === 0, lit(null)).otherwise(col("c_custkey")))
      require(Publish.writeAuditPublish(s, bad, root, audit).isLeft)
      Publish.readCurrent(s, root).get
    }, Some("SELECT c_custkey, c_name, c_mktsegment FROM customer"))),

    // Spark 4 VARIANT ingestion — the schema-LESS twin of p13's
    // schema'd from_json: parse_json keeps the payload's full
    // structure as a binary variant (no StructType declared anywhere),
    // variant_get extracts typed paths at query time. The 100 TB
    // relevance: semi-structured columns whose schema drifts faster
    // than the table's (the reference's oplog `o` envelope is exactly
    // that shape) stay queryable without coordinated schema migration.
    "p27_variant_extract" -> (((s: SparkSession, d: String) => {
      Tables.events(s, d).createOrReplaceTempView("ev_p27")
      s.sql("""
        SELECT event_type, count(*) AS n,
               sum(variant_get(parse_json(props), '$.k', 'long')) AS sum_k,
               min(variant_get(parse_json(props), '$.k', 'long')) AS min_k,
               max(variant_get(parse_json(props), '$.k', 'long')) AS max_k
        FROM ev_p27 GROUP BY event_type""")
    }, Some("""
      SELECT event_type, count(*) AS n,
        CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
        CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
      FROM events GROUP BY event_type"""))),

    // Schema evolution across parquet generations — the drift every
    // long-lived 100 TB table accumulates: an early generation written
    // without a column, a later one with it. mergeSchema unions the
    // footer schemas at planning time and null-fills the missing
    // column in old files; the aggregate observes exactly which rows
    // carried it. The oracle recomputes the same null-filling rule
    // from the generation predicate, so a regression in the merged
    // read (dropped column, wrong fill, lost rows) breaks the hash.
    // At scale, schema merging is a planning-time footer operation —
    // per-file, parallel, no data read — so the pattern costs nothing
    // at query time beyond the null-check the data demands anyway.
    "p25_schema_evolution" -> (((s: SparkSession, d: String) => {
      val dir = TempDirs.create("graft_schema_evo")
      val docs = Tables.documents(s, d)
      docs.where(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$dir/gen1")
      docs.where(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("source"))
        .write.mode("overwrite").parquet(s"$dir/gen2")
      s.read.option("mergeSchema", "true")
        .parquet(s"$dir/gen1", s"$dir/gen2")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          count(col("source")).as("n_with_source"),
          sum(col("n_chars")).as("sum_chars"))
    }, Some("""
      SELECT lang, count(*) AS n_docs,
        count(CASE WHEN doc_id % 2 = 1 THEN source END) AS n_with_source,
        CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM documents GROUP BY lang"""))),

    // O14/O15: deterministic id — md5-based uuid-v3 bit layout (namespace-
    // free variant of kafka_s.py:460-468; RFC namespace form is golden-
    // tested in Uuid3Spec against CPython uuid.uuid3).
    "p07_deterministic_id" -> (((s: SparkSession, d: String) => {
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          Ids.deterministicId(concat(col("text"), lit("|"), col("source"))).as("det_id"))
    }, Some("""
      SELECT doc_id,
        substr(h,1,12) || '3' || substr(h,14,3)
          || substr('89ab89ab89ab89ab', instr('0123456789abcdef', substr(h,17,1)), 1)
          || substr(h,18,15) AS det_id
      FROM (SELECT doc_id, md5(text || '|' || source) AS h FROM documents)"""))),

    // O25: key-based dedup, deterministic first-per-key form
    // (kafka_s.py:614-630 dedups on onlyId at the Mongo sink).
    "p08_dedup_first" -> (((s: SparkSession, d: String) => {
      Tables.events(s, d)
        .groupBy(col("user_id"), col("event_type"))
        .agg(min(col("event_id")).as("first_event_id"), count(lit(1)).as("n_dups"))
    }, Some("""
      SELECT user_id, event_type, min(event_id) AS first_event_id, count(*) AS n_dups
      FROM events GROUP BY user_id, event_type"""))),

    // O4-O22 chained: the full announcement pipeline — normalize, broadcast
    // name-dim left join (null on miss), industry join + pivot with ''
    // defaults, rule classify, labels, uuid ids, constants, 34-col output.
    "p09_pipeline_e2e" -> (((s: SparkSession, d: String) => {
      Pipeline.announcements(s, Tables.documents(s, d), RuleClassifier.rulesDim(s))
    }, Some(pipelineSql(srcType = "新三板公告")))),

    // Quirk Q7 as DATA, not code: the same parameterized pipeline run
    // for both reference topics (NEEQ + A-share configs) and unioned —
    // the reference maintains two near-identical 640-line files for
    // this.
    "p15_pipeline_two_topics" -> (((s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val rules = RuleClassifier.rulesDim(s)
      Pipeline.announcements(s, docs, rules, Kafka.Neeq)
        .unionAll(Pipeline.announcements(s, docs, rules, Kafka.AShare))
    }, Some(s"""SELECT * FROM (${pipelineSql("新三板公告")})
      UNION ALL SELECT * FROM (${pipelineSql("A股公告")})"""))),

    // The centerpiece at REALISTIC rule cardinality: 120 generated
    // rules (the production table holds hundreds) broadcast against
    // every document — the oracle's join predicate is expanded
    // mechanically from the same parse the Catalyst predicate uses, so
    // this isn't limited to hand-written fixtures.
    "p14_rule_match_scale" -> (((s: SparkSession, d: String) => {
      val rules = RuleClassifier.rulesDim(s, RuleClassifier.generatedRules(120))
      RuleClassifier.classify(Tables.documents(s, d), rules, col("text"))
        .select(col("doc_id"), col("id").as("rule_id"),
          col("eventCode"), col("emoScore"), col("impScore"))
    }, Some {
      val rules = RuleClassifier.generatedRules(120)
      val values = rules.map(r =>
        s"(CAST(${r.id} AS BIGINT),'${r.eventCode}',CAST(${r.emoScore} AS INT)," +
          s"CAST(${r.impScore} AS INT))")
        .mkString("(VALUES ", ",\n", ") AS r(id, eventCode, emoScore, impScore)")
      val on = rules.map(r => s"(r.id=${r.id} AND (${rulePredSqlGen("d.text", r)}))")
        .mkString("\n OR ")
      s"""
      SELECT d.doc_id, r.id AS rule_id, r.eventCode, r.emoScore, r.impScore
      FROM documents d JOIN $values ON $on"""
    })),

    // O2: payload deserialization — from_json over the message value
    // (the BSON.decode(each.value) boundary, kafka_s.py:157; fixtures
    // ship JSON). The full envelope normalization incl. per-topic field
    // mapping is sources.Kafka.normalize (unit-tested); this is the
    // oracle-checkable slice over the events fixture.
    "p13_json_decode" -> (((s: SparkSession, d: String) => {
      Tables.events(s, d).select(
        col("event_id"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").as("k"))
    }, Some("""
      SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
      FROM events"""))),

    // Corrupt-input tolerance (the reference's try/except around every
    // decode): 1/3 of payloads deterministically corrupted, PERMISSIVE
    // from_json degrades them to null instead of failing the job, and
    // the per-type parse rate is the observable the oracle checks
    // (DuckDB twin: json_valid on the same corrupted column).
    "p18_corrupt_tolerant" -> (((s: SparkSession, d: String) => {
      // corruption PREPENDS '{' — an appended token is ambiguous (the
      // Jackson stream parser accepts trailing garbage after the root)
      val ev = Tables.events(s, d).select(col("event_id"), col("event_type"),
        when(pmod(col("event_id"), lit(3)) === 0,
          concat(lit("{"), col("props"))).otherwise(col("props")).as("raw"))
      // PERMISSIVE from_json yields a non-null all-null struct for bad
      // input, so malformed-ness is observed the canonical way: route
      // the raw text into a corrupt-record column and count its nulls.
      // Each bad row costs a Jackson exception (+ Spark's bad-record
      // bookkeeping) inside from_json — ~100x a clean parse — so a
      // CONSERVATIVE structural pre-screen short-circuits rows that are
      // provably malformed for an object schema: '{' followed (after
      // whitespace) by a character that can start neither a key ('"',
      // and '\'' since Spark's JSON options allow single quotes) nor
      // close the object ('}'). Only such provably-bad rows skip the
      // parser; every other row still takes the full tolerant parse, so
      // the corrupt-column observable is identical on ANY input, not
      // just this fixture's.
      val provablyBad = col("raw").rlike("""^\{\s*[^\s"'}]""")
      ev.select(col("event_type"),
          when(provablyBad,
            struct(lit(null).cast("int").as("k"), col("raw").as("_corrupt")))
          .otherwise(from_json(col("raw"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT, _corrupt STRING"),
            Map("columnNameOfCorruptRecord" -> "_corrupt"))).as("p"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_total"),
          count(when(col("p._corrupt").isNull, lit(1))).as("n_parsed"))
    }, Some("""
      SELECT event_type, count(*) AS n_total,
        count(*) FILTER (WHERE json_valid(
          CASE WHEN event_id % 3 = 0 THEN '{' || props ELSE props END))
          AS n_parsed
      FROM events GROUP BY event_type"""))),

    // Fuzzy entity matching — the production form of the reference's
    // exact full-name lookup (O5/O32): each probe string (a mutated
    // fixture name) finds its minimum-levenshtein customer. Both
    // engines implement the same DP edit distance, so values are
    // integer-identical; the tiny probe side broadcasts against the
    // full scan (the right topology when the entity table is the big
    // side), and struct-min (dist, key) makes the winner deterministic
    // under ties.
    "p20_fuzzy_match" -> (((s: SparkSession, d: String) => {
      val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
      val probes = cust.where(col("c_custkey") <= 5)
        .select(col("c_custkey").as("pid"),
          concat(col("c_name"), lit("x")).as("probe"))
      cust.join(broadcast(probes))
        .select(col("pid"), col("probe"), col("c_custkey"),
          levenshtein(col("probe"), col("c_name")).as("dist"))
        .groupBy(col("pid"), col("probe"))
        .agg(min(struct(col("dist"), col("c_custkey"))).as("best"))
        .select(col("pid"), col("probe"),
          col("best.c_custkey").as("match_id"), col("best.dist").as("dist"))
    }, Some("""
      WITH probes AS (
        SELECT c_custkey AS pid, c_name || 'x' AS probe
        FROM customer WHERE c_custkey <= 5)
      SELECT pid, probe,
        (min({'d': dist, 'k': c_custkey})).k AS match_id,
        (min({'d': dist, 'k': c_custkey})).d AS dist
      FROM (SELECT p.pid, p.probe, c.c_custkey,
              levenshtein(p.probe, c.c_name) AS dist
            FROM probes p CROSS JOIN customer c)
      GROUP BY pid, probe"""))),

    // SCD2 dimension history from the CDC event stream: each change
    // event becomes a versioned row whose validity interval runs to the
    // user's next event (open-ended for the current version) — the
    // standard slowly-changing-dimension build, one window pass, no
    // self-join. Total order (µs, event_id) fixes tie handling across
    // engines.
    "p19_scd2_history" -> (((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("ts"), unix_micros(col("ts")).as("us"))
        .select(col("user_id"), col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
          date_format(lead(col("ts"), 1).over(w), "yyyy-MM-dd HH:mm:ss")
            .as("valid_to"),
          when(lead(col("ts"), 1).over(w).isNull, 1).otherwise(0)
            .as("is_current"))
    }, Some("""
      WITH e AS (SELECT user_id, event_id, event_type,
                   make_timestamp(epoch_ns(ts) // 1000) AS t FROM events)
      SELECT user_id, event_type,
        strftime(t, '%Y-%m-%d %H:%M:%S') AS valid_from,
        strftime(lead(t) OVER w, '%Y-%m-%d %H:%M:%S') AS valid_to,
        CASE WHEN lead(t) OVER w IS NULL THEN 1 ELSE 0 END AS is_current
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)"""))),

    // O10: dim change-detection probe — count(*) WHERE ts >= last-check
    // (kafka_s.py:198-219).
    "p10_refresh_probe" -> (((s: SparkSession, d: String) => {
      Tables.events(s, d)
        .filter(col("ts") >= lit("2024-01-15 00:00:00").cast("timestamp"))
        .agg(count(lit(1)).as("n_changed"))
    }, Some("""
      SELECT count(*) AS n_changed FROM events
      WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'"""))),

    // O28: top-k with full deterministic ordering.
    "p11_topn" -> (((s: SparkSession, d: String) => {
      Tables.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    }, Some("""
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"""))),

    // O27: running event counter → per-type counts.
    "p12_event_counts" -> (((s: SparkSession, d: String) => {
      Tables.events(s, d).groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    }, Some("SELECT event_type, count(*) AS n FROM events GROUP BY event_type"))),

    // ---------------------------------------------------------------- n*
    // LLM training-data pipeline operators (north-star extensions).

    // Exact dedup: content-hash groupBy — ONE shuffle on the digest.
    "n01_dedup_exact" -> (((s: SparkSession, d: String) => {
      Dedup.exactGroups(Tables.documents(s, d), col("text"), col("doc_id"))
    }, Some("""
      SELECT md5(text) AS content_hash, count(*) AS n_docs, min(doc_id) AS keep_id
      FROM documents GROUP BY md5(text)"""))),

    // Exact n-gram Jaccard near-dup pairs (distinct 3-shingle sets) via
    // an inverted-index similarity join — see Dedup.jaccardPairs. The
    // oracle is the brute-force all-pairs answer; both compute
    // |A∩B| / (|A|+|B|−|A∩B|) as one exact int/int division.
    "n02_dedup_jaccard" -> (((s: SparkSession, d: String) => {
      Dedup.jaccardPairs(pairDocs(s, d), "doc_id", "text")
    }, Some(s"""
      WITH s AS (
        SELECT doc_id, $ssetSql AS sset
        FROM (SELECT doc_id, $toksSql AS toks FROM $docsT)),
      pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE)
            / len(list_distinct(list_concat(a.sset, b.sset))) AS jaccard
        FROM s a JOIN s b ON a.doc_id < b.doc_id)
      SELECT * FROM pairs WHERE jaccard >= 0.55"""))),

    // MinHash + LSH near-dup pairs, exact-Jaccard-verified at t=0.8,
    // where the r=2,b=16 S-curve is ≈1 (per-pair miss ≤ 8e-8), so the
    // LSH output EQUALS the oracle's brute-force all-pairs answer —
    // robust to fixture change, not just true on today's fixtures
    // (ADVICE r01). Lower-threshold exact detection = n02.
    "n03_dedup_minhash_lsh" -> (((s: SparkSession, d: String) => {
      MinHashLsh.nearDupPairs(pairDocs(s, d))
    }, Some(s"""
      WITH s AS (
        SELECT doc_id, $ssetSql AS sset
        FROM (SELECT doc_id, $toksSql AS toks FROM $docsT)),
      pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE)
            / len(list_distinct(list_concat(a.sset, b.sset))) AS jaccard
        FROM s a JOIN s b ON a.doc_id < b.doc_id)
      SELECT * FROM pairs WHERE jaccard >= ${MinHashLsh.Threshold}"""))),

    // Cross-snapshot NEAR-dup delta — n84's near-duplicate completion
    // and n03's incremental-crawl shape: which NEW-snapshot docs
    // near-duplicate a PREVIOUS-snapshot doc. The snapshots band
    // separately and the candidate join is old↔new only, so the
    // |A|²+|B|² within-snapshot collisions never materialize (on
    // successive crawls |A| is the accumulated corpus — the dominant
    // term); old's banding index is the precomputable artifact (s19's
    // bucket table). Rides the md5-bucket pair sample at sf0.1 like
    // n03 (the exact-verify oracle is O(|A|·|B|)).
    "n85_snapshot_neardup" -> (((s: SparkSession, d: String) => {
      val docs = pairDocs(s, d)
      MinHashLsh.snapshotNearDupPairs(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1))
    }, Some(snapshotNearDupOracleSql))),

    // n85's streaming twin and the production ingest shape: the old
    // snapshot's banding index + shingle sets build once batch-side
    // (the precomputed artifact), arriving docs band per-row with the
    // SAME shared kernel and probe/verify via two stateless
    // stream-static equi-joins; each pair is kept at its lowest
    // colliding band, so the probe holds no state and drains in
    // append mode. Same oracle as n85
    // (StreamQueries.streamSnapshotNearDup).
    "s37_stream_snapshot_neardup" -> ((streamSnapshotNearDup _,
      Some(snapshotNearDupOracleSql))),

    // s37 served from the MATERIALIZED SnapshotStore: the old
    // snapshot's banding index + shingle sets WRITE as parquet once
    // (the per-snapshot artifact a production pipeline amortizes over
    // every later ingest) and arriving docs probe the store's file
    // scans with the same probeIndex kernel — four paths (batch n85,
    // inline s37, store s38, and the store's append path), one
    // answer, one oracle. Append == rebuild is SnapshotStoreSpec's
    // proof.
    "s38_store_snapshot_neardup" -> (((s: SparkSession, d: String) => {
      val dir = graft.TempDirs.create("graft-snapshot-store")
      graft.operators.SnapshotStore.append(s, dir,
        pairDocs(s, d).where(col("doc_id") % 2 === 0))
      graft.streaming.StreamQueries.streamSnapshotNearDupFromStore(s, dir,
        sampled(graft.streaming.StreamQueries.documentsStream(s, d), "doc_id")
          .where(col("doc_id") % 2 === 1))
    }, Some(snapshotNearDupOracleSql))),

    // s37's plan under its own declared name: the
    // stateless append probe emits each pair once, in the micro-batch
    // that carries its new doc, so the drained rows ARE the pair table
    // — a double emission would duplicate a key and fail n85/s37's
    // oracle.
    "s41_stream_snapshot_neardup_update" -> ((streamSnapshotNearDup _,
      Some(snapshotNearDupOracleSql))),

    // n91's cycle as a STREAMING serving path (the r17 top composition
    // ask): cycle 1 bootstraps the store batch-side, then increment 2
    // ARRIVES as a stream — the store's digests gate each doc
    // (stateless stream-static joins), the gates train once on the
    // increment's kept survivors (per-increment FineWeb policy, see
    // Curation.cycleAppend), and foreachBatch appends each
    // micro-batch's pass5 survivors back through the crash-atomic
    // versioned-manifest commit. Snapshot 3 then probes the
    // accumulated store AS A STREAM (s39's shape) — same oracle as
    // n91 VERBATIM: the drained classification equals the two-cascade
    // CTE chain, so a wrong per-batch append (dropped survivor,
    // duplicated digest) would shift the rollup and fail the hash.
    // StreamCrawlIncrementSpec proves drained store == batch
    // cycleAppend store per component under maxFilesPerTrigger=1.
    // Rides the pair sample at sf0.1 (two LSH train stages).
    "s42_stream_crawl_increment" -> (((s: SparkSession, d: String) => {
      val docs = pairDocs(s, d)
      val dir = graft.TempDirs.create("graft-stream-crawl-inc")
      graft.operators.Curation.cycleAppend(s, dir,
        docs.where(col("doc_id") % 3 === 0),
        CurBudgetEn / 3, CurBudgetOther / 3)
      graft.streaming.StreamQueries.streamCrawlIncrement(s, dir,
        "dump-2", // the stable per-increment replay key (dump label)
        sampled(graft.streaming.StreamQueries.documentsStream(s, d), "doc_id")
          .where(col("doc_id") % 3 === 1),
        docs.where(col("doc_id") % 3 === 1),
        CurBudgetEn / 3, CurBudgetOther / 3)
      graft.streaming.StreamQueries.streamSnapshotDeltaFromStore(s, dir,
        sampled(graft.streaming.StreamQueries.documentsStream(s, d), "doc_id")
          .where(col("doc_id") % 3 === 2))
    }, Some(crawlCycleSql))),

    // 64-bit SimHash digest per document (native Catalyst expression).
    "n04_simhash" -> (((s: SparkSession, d: String) => {
      Tables.documents(s, d).select(col("doc_id"),
        SimHash.simhash64(Text.tokens(col("text"))).as("simhash"))
    }, Some(simhashSql))),

    // Reproducible corpus splitting: train/val/test assignment by a
    // CONTENT-DERIVED hash bucket (md5 of the doc id, first 16 bits,
    // mod 100 → 80/10/10), so the split is stable across runs, racks,
    // and engines — never rand(). The same md5-prefix arithmetic is
    // ANSI-expressible, so the oracle reproduces the assignment
    // bit-exactly (the n20/uuid3 trick applied to sampling).
    "n27_hash_split" -> (((s: SparkSession, d: String) => {
      val bucket = (conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int") % 100)
      Tables.documents(s, d)
        .select(col("lang"),
          Text.tokenCountWs(col("text")).cast("long").as("tok"),
          when(bucket < 80, "train").when(bucket < 90, "val")
            .otherwise("test").as("split"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tokens"))
    }, Some(s"""
      SELECT lang, split, count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS n_tokens
      FROM (SELECT lang, len($toksSql) AS tok,
              CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
                   ELSE 'test' END AS split
            FROM (SELECT lang, text,
                    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 100 AS b
                  FROM documents))
      GROUP BY lang, split"""))),

    // Sequence packing (concat-then-chop): documents in deterministic
    // order are laid end-to-end per language and chopped into
    // budget-token packs; a doc's pack = its starting offset div the
    // budget. Pure integer window arithmetic — exact on both engines —
    // and the plan is one partitioned window sum + partial agg, the
    // shape that packs a 100 TB corpus without any driver-side loop.
    "n28_sequence_pack" -> (((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .select(col("lang"), col("doc_id"),
          Text.tokenCountWs(col("text")).cast("long").as("tok"))
        .withColumn("cum", sum(col("tok")).over(w))
        .select(col("lang"), col("tok"),
          expr("(cum - tok) div 512").as("pack_id"))
        .groupBy(col("lang"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("pack_tokens"))
    }, Some(s"""
      SELECT lang, pack_id, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(tok) AS BIGINT) AS pack_tokens
      FROM (SELECT lang, tok, CAST((cum - tok) // 512 AS BIGINT) AS pack_id
            FROM (SELECT lang, tok, sum(tok) OVER (
                    PARTITION BY lang ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) AS cum
                  FROM (SELECT lang, doc_id, len($toksSql) AS tok
                        FROM documents)))
      GROUP BY lang, pack_id"""))),

    // Intra-document repetition (the duplicate-n-gram quality signal in
    // Gopher-style corpus filtering): fraction of positional 3-grams
    // that are repeats of an earlier one. dup_frac = 1 − distinct/total
    // — one int division, exact on both engines; the keep flag applies
    // the filter at a 0.2 ceiling.
    "n32_repetition" -> (((s: SparkSession, d: String) => {
      // Positional 3-gram COUNT is pure arithmetic (len(toks)-2, floored
      // at 0) and the DISTINCT count is the native single-pass shingle
      // kernel — no gram array is ever materialized, and nothing here
      // falls out of whole-stage codegen (the HOF form this replaced was
      // interpreted per row and 15x slower; ShingleKernelSpec pins
      // native==HOF equivalence and PlanSpec pins no-codegen-fallback).
      Tables.documents(s, d)
        .select(col("doc_id"),
          greatest(size(Text.tokens(col("text"))) - 2, lit(0)).as("n_grams"),
          size(Text.shingleSet(col("text"), 3)).as("n_distinct"))
        .select(col("doc_id"), col("n_grams"), col("n_distinct"),
          when(col("n_grams") === 0, 0.0)
            .otherwise(lit(1.0) -
              col("n_distinct").cast("double") / col("n_grams").cast("double"))
            .as("dup_frac"))
        .withColumn("keep",
          when(col("dup_frac") <= 0.2, 1).otherwise(0))
    }, Some(s"""
      SELECT doc_id, n_grams, n_distinct,
        CASE WHEN n_grams = 0 THEN 0.0
             ELSE 1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_grams AS DOUBLE)
        END AS dup_frac,
        CASE WHEN (CASE WHEN n_grams = 0 THEN 0.0
                        ELSE 1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_grams AS DOUBLE)
                   END) <= 0.2 THEN 1 ELSE 0 END AS keep
      FROM (SELECT doc_id,
              CAST(len(grams) AS INT) AS n_grams,
              CAST(len(list_distinct(grams)) AS INT) AS n_distinct
            FROM (SELECT doc_id,
                    CASE WHEN len(toks) >= 3
                      THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]
                      ELSE CAST([] AS VARCHAR[]) END AS grams
                  FROM (SELECT doc_id, $toksSql AS toks FROM documents)))"""))),

    // BM25 top-k retrieval over the corpus for a fixed query-term set —
    // the classic lexical retrieval scorer a training-data pipeline uses
    // for quality-by-query filtering and eval-set mining. Zero explode,
    // zero per-term join: tf(t) = len(toks) - len(array_remove(toks, t))
    // is pure codegen'd array arithmetic per row, and the corpus stats
    // (N, avgdl, df per term) are ONE scalar aggregate broadcast to
    // every row — at 100 TB that is a map-side-combined 1-row shuffle
    // plus a broadcast, then a single codegen'd scan + TakeOrdered.
    // Rational idf (N - df + .5)/(df + .5) instead of the usual log():
    // a deliberate BM25 VARIANT, not an equivalent reformulation — the
    // per-term transform is monotone but a sum over terms can still
    // reorder docs vs log-idf. Chosen because ln() is a libm call whose
    // last ulp differs across engines while +,*,/ are IEEE-identical,
    // so this scorer is bit-exact on both sides.
    "n33_bm25" -> (((s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("toks"), size(col("toks")).as("dl"))
      val stats = docs.agg(count(lit(1)).as("n_docs"),
        (sum(col("dl").cast("long")).as("sum_dl") +: Bm25Terms.map(t =>
          count(when(array_contains(col("toks"), t), lit(1))).as(s"df_$t"))): _*)
      val scored = docs.crossJoin(broadcast(stats))
        .withColumn("avgdl",
          col("sum_dl").cast("double") / col("n_docs").cast("double"))
      val score = Bm25Terms.foldLeft(lit(0.0)) { (acc, t) =>
        val tf = (size(col("toks")) - size(array_remove(col("toks"), t)))
          .cast("double")
        val idf = (col("n_docs").cast("double") - col(s"df_$t").cast("double")
          + 0.5) / (col(s"df_$t").cast("double") + 0.5)
        val denom = tf + lit(Bm25K1) * (lit(1.0 - Bm25B) +
          lit(Bm25B) * (col("dl").cast("double") / col("avgdl")))
        acc + (idf * (tf * lit(Bm25K1 + 1.0))) / denom
      }
      scored.select(col("doc_id"), score.as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(10)
    }, Some(s"""
      WITH docs AS (SELECT doc_id, toks, len(toks) AS dl
                    FROM (SELECT doc_id, $toksSql AS toks FROM documents)),
      stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl,
                  ${Bm25Terms.map(t =>
                    s"count(CASE WHEN list_contains(toks, '$t') THEN 1 END) AS df_$t")
                    .mkString(", ")}
                FROM docs)
      SELECT doc_id, ${bm25ScoreSql} AS score
      FROM docs CROSS JOIN stats
      ORDER BY score DESC, doc_id LIMIT 10"""))),

    // Stratified sampling: per-language deterministic hash sampling at
    // per-stratum rates (down-sample the dominant language, keep the
    // rest) — the domain/language rebalancing step of corpus curation.
    // The sample membership is a pure function of doc_id (md5 bucket),
    // so it is reproducible run-to-run, cluster-to-cluster, and
    // incremental (new docs don't reshuffle old members) — the property
    // that matters when re-materializing a 100 TB mixture. Map-only
    // until the final per-lang count.
    "n35_stratified_sample" -> (((s: SparkSession, d: String) => {
      val bucket = (conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int") % 100)
      val rate = when(col("lang") === "en", 10).otherwise(50)
      Tables.documents(s, d)
        .select(col("lang"),
          Text.tokenCountWs(col("text")).cast("long").as("tok"),
          when(bucket < rate, 1).otherwise(0).as("keep"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_total"),
          sum(col("keep")).as("n_sampled"),
          sum(when(col("keep") === 1, col("tok"))).as("sampled_tokens"))
    }, Some(s"""
      SELECT lang, count(*) AS n_total,
        CAST(sum(keep) AS BIGINT) AS n_sampled,
        CAST(sum(CASE WHEN keep = 1 THEN tok END) AS BIGINT) AS sampled_tokens
      FROM (SELECT lang, len($toksSql) AS tok,
              CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 100
                        < (CASE WHEN lang = 'en' THEN 10 ELSE 50 END)
                   THEN 1 ELSE 0 END AS keep
            FROM documents)
      GROUP BY lang"""))),

    // Text normalization / boilerplate stripping: drop function-word
    // tokens (the fixture's boilerplate class), re-join, and emit a
    // content signature over the cleaned text — the cleanup pass that
    // runs before dedup so signatures reflect content, not connectives.
    // array_remove chain instead of a filter() HOF: HOFs are
    // CodegenFallback (interpreted per element); the chain stays inside
    // whole-stage codegen. Map-only — no shuffle at any scale.
    "n36_text_normalize" -> (((s: SparkSession, d: String) => {
      val cleaned = Text.Stopwords.foldLeft(Text.tokens(col("text")))(
        (acc, sw) => array_remove(acc, sw))
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(Text.tokens(col("text"))).as("n_tokens"),
          cleaned.as("ctoks"))
        .select(col("doc_id"), col("n_tokens"),
          size(col("ctoks")).as("n_clean"),
          (col("n_tokens") - size(col("ctoks"))).as("n_removed"),
          md5(concat_ws(" ", col("ctoks"))).as("clean_sig"))
    }, Some(s"""
      SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
        CAST(len(ctoks) AS INT) AS n_clean,
        CAST(len(toks) - len(ctoks) AS INT) AS n_removed,
        md5(array_to_string(ctoks, ' ')) AS clean_sig
      FROM (SELECT doc_id, toks,
              list_filter(toks, t -> t NOT IN $stopListSql) AS ctoks
            FROM (SELECT doc_id, $toksSql AS toks FROM documents))"""))),

    // Unigram language-model scoring (the CCNet/perplexity-filter shape
    // with a unigram model): corpus token frequencies -> per-token
    // parts-per-billion probability (integer-quantized so both engines
    // are exact) -> per-doc mean token log-prob proxy. The vocab
    // aggregate is one shuffle on token; the scoring join broadcasts the
    // vocab (a natural-language vocab is ~1e5-1e8 rows — when it
    // outgrows broadcast, the same plan shuffle-joins on token and AQE
    // picks that automatically since no hint forces broadcast here).
    "n37_unigram_score" -> (((s: SparkSession, d: String) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("token"))
      val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("n_t"))
      val total = vocab.agg(sum(col("n_t")).as("total"))
      val freq = vocab.crossJoin(broadcast(total))
        .select(col("token"),
          // widen through DECIMAL before the *1e9: a long product wraps
          // for any token above ~9.2e9 occurrences (real at corpus
          // scale) while the DuckDB oracle computes in HUGEINT; the
          // integral div lands back in [0, 1e9] so the result is a
          // plain BIGINT again
          expr("CAST(n_t AS DECIMAL(20,0)) * 1000000000 div total")
            .as("freq_ppb"))
      toks.join(freq, "token")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"), sum(col("freq_ppb")).as("freq_sum"))
        .select(col("doc_id"), col("n_tok"), col("freq_sum"),
          expr("freq_sum div n_tok").as("mean_freq_ppb"))
    }, Some(s"""
      WITH toks AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
      vocab AS (SELECT token, count(*) AS n_t FROM toks GROUP BY token),
      freq AS (SELECT token, n_t * 1000000000 // (SELECT sum(n_t) FROM vocab) AS freq_ppb
               FROM vocab)
      SELECT doc_id, count(*) AS n_tok,
        CAST(sum(freq_ppb) AS BIGINT) AS freq_sum,
        CAST(sum(freq_ppb) // count(*) AS BIGINT) AS mean_freq_ppb
      FROM toks JOIN freq USING (token)
      GROUP BY doc_id"""))),

    // K-means corpus clustering (2 Lloyd iterations, k=4, deterministic
    // init from the first k vectors): broadcast-centroid assignment is a
    // zero-shuffle codegen'd scan; the update is one k-row aggregate.
    // See Clustering's scaladoc for the integer-quantization contract
    // that makes the whole iteration bit-exact across engines.
    "n34_kmeans" -> (((s: SparkSession, d: String) => {
      Clustering.kmeans(Tables.embeddings(s, d), k = 4, iters = 2)
    }, Some(kmeansOracleSql))),

    // Domain-mixture reweighting: down-sample each language to a target
    // token budget (the "mixture weights" step that balances a corpus
    // before training). Pass 1 aggregates actual token counts per
    // stratum (map-side-combined, tiny); the per-stratum keep-rate
    // min(1, budget/actual) is integer-quantized to ppm and applied as
    // a deterministic md5-bucket threshold, so membership is
    // reproducible and incremental like n35. Two small shuffles total
    // at any scale; the rates ride back on a broadcast.
    "n38_mixture_weight" -> (((s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
        .select(col("lang"), col("doc_id"),
          Text.tokenCountWs(col("text")).cast("long").as("tok"))
      val rates = docs.groupBy(col("lang"))
        .agg(sum(col("tok")).as("actual"))
        .select(col("lang"),
          least(lit(1000000L), expr(
            s"(CASE WHEN lang = 'en' THEN ${MixBudgetEn}L ELSE ${MixBudgetOther}L END)" +
              " * 1000000L div actual")).as("rate_ppm"))
      val bucket = (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 1000000L)
      docs.join(broadcast(rates), "lang")
        .select(col("lang"), col("tok"), col("rate_ppm"),
          when(bucket < col("rate_ppm"), 1).otherwise(0).as("keep"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("keep")).as("n_kept"),
          sum(when(col("keep") === 1, col("tok"))).as("kept_tokens"),
          first(col("rate_ppm")).as("rate_ppm"))
    }, Some(s"""
      WITH docs AS (SELECT lang, doc_id, len($toksSql) AS tok FROM documents),
      rates AS (SELECT lang,
                  least(1000000::BIGINT,
                        (CASE WHEN lang = 'en' THEN ${MixBudgetEn}::BIGINT
                              ELSE ${MixBudgetOther}::BIGINT END) * 1000000
                        // CAST(sum(tok) AS BIGINT)) AS rate_ppm
                FROM docs GROUP BY lang)
      SELECT lang, count(*) AS n_docs, CAST(sum(keep) AS BIGINT) AS n_kept,
        CAST(sum(CASE WHEN keep = 1 THEN tok END) AS BIGINT) AS kept_tokens,
        CAST(min(rate_ppm) AS BIGINT) AS rate_ppm
      FROM (SELECT d.lang, d.tok, r.rate_ppm,
              CASE WHEN ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
                        % 1000000 < r.rate_ppm THEN 1 ELSE 0 END AS keep
            FROM docs d JOIN rates r USING (lang))
      GROUP BY lang"""))),

    // PageRank over the bipartite doc <-> source containment graph (the
    // host-graph quality-propagation shape of web-corpus curation:
    // CommonCrawl-style pipelines rank hosts by link mass and propagate
    // that to documents). Damping d=3/4 (binary-exact) and ranks held
    // in integer ppb with floor divisions, so 3 unrolled power
    // iterations are exact on both engines. Each iteration is one
    // equi-join (rank x edges) + one aggregate — the canonical
    // distributed PageRank plan, linear in edges at any scale; the
    // node-count scalar rides on a broadcast. Dangling mass is dropped
    // (non-stochastic simple variant), documented and mirrored exactly.
    "n39_pagerank" -> (((s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          // UNBOUNDED substring, matching the oracle's substr(source, 4)
          // — a 3-arg length cap would silently truncate source ids
          // beyond that many digits on this side only
          (lit(SrcNodeBase) + expr("substring(source, 4)").cast("long"))
            .as("src_node"))
      // materialize the graph ONCE: every unrolled iteration (and deg/
      // nodes) reuses these partitions instead of re-deriving the edge
      // list from the corpus scan 3x — same localCheckpoint pattern as
      // n25's propagation loop
      val edges = docs.select(col("doc_id").as("src"), col("src_node").as("dst"))
        .unionAll(docs.select(col("src_node").as("src"), col("doc_id").as("dst")))
        .localCheckpoint(true)
      // alias the grouping keys: groupBy passes the child's expression id
      // through, and joining a frame back against its own lineage on the
      // same id is the classic silent self-join ambiguity
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .select(col("src").as("deg_node"), col("deg"))
      val nodes = edges.select(col("src").as("node")).distinct()
      val n = nodes.agg(count(lit(1)).as("n_nodes"))
      val r0 = nodes.crossJoin(broadcast(n))
        .select(col("node"), expr("1000000000L div n_nodes").as("rank_ppb"),
          expr("(1000000000L div n_nodes) div 4").as("base_ppb"))
      val r3 = (1 to 3).foldLeft(r0) { (r, _) =>
        val contrib = r.join(edges, col("node") === col("src"))
          .join(deg, col("src") === col("deg_node"))
          .select(col("dst").as("mass_node"), expr("rank_ppb div deg").as("contrib"))
          .groupBy(col("mass_node")).agg(sum(col("contrib")).as("mass"))
        r.select(col("node"), col("base_ppb"))
          .join(contrib, col("node") === col("mass_node"), "left")
          .select(col("node"), col("base_ppb"),
            (col("base_ppb") +
              expr("3 * coalesce(mass, 0L) div 4")).as("rank_ppb"))
          .select(col("node"), col("rank_ppb"), col("base_ppb"))
      }
      r3.select(col("node"), col("rank_ppb"))
    }, Some(s"""
      WITH docs AS (SELECT doc_id,
                      $SrcNodeBase + CAST(substr(source, 4) AS BIGINT) AS src_node
                    FROM documents),
      edges AS (SELECT doc_id AS src, src_node AS dst FROM docs
                UNION ALL SELECT src_node AS src, doc_id AS dst FROM docs),
      deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
      nodes AS (SELECT DISTINCT src AS node FROM edges),
      consts AS (SELECT 1000000000 // count(*) AS r_init,
                   (1000000000 // count(*)) // 4 AS base FROM nodes),
      r0 AS (SELECT node, r_init AS rank_ppb FROM nodes CROSS JOIN consts),
      ${(1 to 3).map(i => s"""
      r$i AS (SELECT n.node,
                CAST(c.base + 3 * coalesce(m.mass, 0) // 4 AS BIGINT) AS rank_ppb
              FROM nodes n CROSS JOIN consts c
              LEFT JOIN (SELECT e.dst, sum(r.rank_ppb // d.deg) AS mass
                         FROM r${i - 1} r
                         JOIN edges e ON r.node = e.src
                         JOIN deg d ON e.src = d.src
                         GROUP BY e.dst) m ON n.node = m.dst)""").mkString(",")}
      SELECT node, rank_ppb FROM r3"""))),

    // KMV (k-minimum-values) distinct sketch of the 3-shingle space,
    // per lang plus the 'ALL' rollup row. The element hash is the
    // first 60 bits of md5 (the engine-identical prefix idiom), so
    // DuckDB can rebuild the exact sketch — the K smallest distinct
    // hashes — and the full hash compare verifies a sketch, not just
    // an estimate. Each row contributes its own ≤K-long partial
    // sketch; KmvAgg's sorted-merge makes map-side partial aggregation
    // ship one K-vector per (group × partition) — O(groups·K) shuffle
    // at any corpus size, vs count_distinct's shuffle of every
    // distinct shingle. The rollup's ALL row is produced by MERGING
    // the lang sketches (sketch unionability, the property that lets
    // sketches be maintained per-shard and combined at read time).
    // est_distinct = (K-1)/U(K): one exact double multiply + divide,
    // identical IEEE ops on both engines.
    "n40_kmv_distinct" -> (((s: SparkSession, d: String) => {
      import graft.functions.KmvAgg
      Tables.documents(s, d)
        .select(col("lang"), KmvAgg.partialSketch(col("text")).as("psk"))
        .rollup(col("lang"))
        // grouping(), not nullness: a genuine NULL-lang group must stay
        // NULL (as the oracle's GROUP BY emits it), only the rollup
        // total row becomes 'ALL'. Empty sketches (a group whose docs
        // all have < w tokens) are dropped on both sides — the SQL
        // twin's unnest never produces such groups.
        .agg(KmvAgg.union(col("psk")).as("sk"),
          grouping(col("lang")).as("g"))
        .where(size(col("sk")) > 0)
        .select(
          when(col("g") === 1, lit("ALL")).otherwise(col("lang")).as("lang"),
          KmvAgg.sketchSize(col("sk")).as("sketch_size"),
          KmvAgg.kthMin(col("sk")).as("kth_min"),
          KmvAgg.estDistinct(col("sk")).as("est_distinct"))
    }, Some(s"""
      WITH d AS (SELECT lang, $toksSql AS toks FROM documents),
      sh AS (SELECT lang, unnest($ssetSql) AS s FROM d),
      hv AS (SELECT lang, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM sh),
      g AS (SELECT lang, h FROM hv GROUP BY 1, 2
            UNION ALL
            SELECT 'ALL' AS lang, h FROM hv GROUP BY 2),
      rk AS (SELECT lang, h,
               row_number() OVER (PARTITION BY lang ORDER BY h) AS rk FROM g),
      sk AS (SELECT lang, CAST(count(*) AS BIGINT) AS sketch_size,
               max(h) AS kth_min
             FROM rk WHERE rk <= 64 GROUP BY 1)
      SELECT lang, sketch_size, kth_min,
        CASE WHEN sketch_size < 64 THEN CAST(sketch_size AS DOUBLE)
             ELSE CAST(63 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
                  / CAST(kth_min AS DOUBLE) END AS est_distinct
      FROM sk"""))),

    // Cross-corpus resemblance from KMV sketches ALONE (the set-ops
    // payoff of n40's sketch family): pairwise Jaccard between the
    // langs' shingle sets estimated as
    //   J(A,B) ≈ |bottomK(sk(A) ∪ sk(B)) ∩ sk(A) ∩ sk(B)| / K
    // (Beyer et al. SIGMOD '07). At 100 TB each sub-corpus reduces to
    // ONE 64-long sorted vector (n40's one-pass aggregate); this query
    // then runs entirely on the G-row sketch table — the pairwise
    // comparison never rescans the corpus, which is the whole point of
    // keeping sketches. The pair join is a tiny self-join; the HOF
    // arithmetic (sorted-merge, membership count) is exact integer
    // work, and est = count/K is one exact double division, so the
    // oracle reproduces it bit-for-bit from the same bottom-K sets.
    "n42_kmv_resemblance" -> (((s: SparkSession, d: String) => {
      // sketch build and pair arithmetic live in StreamQueries
      // (kmvAggPlan / kmvResemblance) — ONE definition shared with s15
      // and KmvSpec, so the engine-identical-hash contract with the
      // SQL below has a single Spark counterpart to drift from
      graft.streaming.StreamQueries.kmvResemblance(
        graft.streaming.StreamQueries
          .kmvAggPlan(Tables.documents(s, d))
          .where(size(col("sk")) > 0))
    }, Some(s"""
      WITH d AS (SELECT lang, $toksSql AS toks FROM documents),
      sh AS (SELECT lang, unnest($ssetSql) AS s FROM d),
      hv AS (SELECT lang, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
             FROM sh GROUP BY 1, 2),
      rk AS (SELECT lang, h,
               row_number() OVER (PARTITION BY lang ORDER BY h) AS rk FROM hv),
      sk AS (SELECT lang, list(h ORDER BY h) AS sk
             FROM rk WHERE rk <= 64 GROUP BY 1),
      pr AS (SELECT a.lang AS lang_a, b.lang AS lang_b,
               a.sk AS ska, b.sk AS skb,
               list_sort(list_distinct(a.sk || b.sk))[1:64] AS mk
             FROM sk a JOIN sk b ON a.lang < b.lang)
      SELECT lang_a, lang_b,
        CAST(len(list_filter(mk, x -> list_contains(ska, x)
                                  AND list_contains(skb, x))) AS BIGINT) AS n_shared,
        CAST(len(list_filter(mk, x -> list_contains(ska, x)
                                  AND list_contains(skb, x))) AS DOUBLE)
          / CAST(len(mk) AS DOUBLE) AS est_jaccard
      FROM pr"""))),

    // Count-min heavy hitters: frequency estimates from a depth×width
    // counter sketch (CountMin.scala scaladoc for the scale contract —
    // the build shuffle is bounded at depth×width rows per map task at
    // ANY input size). est ≥ exact always; width 32 vs the 31-token
    // fixture vocab forces real collisions so the bias is exercised.
    // Exact counts ride along to make the overestimate visible — at
    // 100 TB you'd keep only the sketch and drop the exact branch.
    "n43_cms_heavy_hitters" -> (((s: SparkSession, d: String) => {
      import graft.functions.CountMin
      val occ = Tables.documents(s, d)
        .select(explode(Text.tokens(col("text"))).as("tok"))
      val sk = CountMin.sketch(occ, depth = 3, width = 32)
      val exact = occ.groupBy(col("tok")).agg(count(lit(1)).as("exact"))
      CountMin.estimate(exact.select(col("tok")), sk, depth = 3, width = 32)
        .join(exact, "tok")
        .where(col("est") >= 500)
    }, Some(s"""
      WITH occ AS (SELECT unnest($toksSql) AS tok FROM documents),
      sk AS (
        SELECT i, (('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || tok), 1, 8))::BIGINT % 32) AS b,
               count(*) AS c
        FROM occ CROSS JOIN range(0, 3) t(i)
        GROUP BY 1, 2),
      exact AS (SELECT tok, count(*) AS exact FROM occ GROUP BY 1),
      est AS (
        SELECT e.tok, min(sk.c) AS est
        FROM exact e CROSS JOIN range(0, 3) t(i)
        JOIN sk ON sk.i = t.i
          AND sk.b = (('0x' || substr(md5(CAST(t.i AS VARCHAR) || ':' || e.tok), 1, 8))::BIGINT % 32)
        GROUP BY 1)
      SELECT est.tok AS tok, CAST(est AS BIGINT) AS est,
             CAST(exact AS BIGINT) AS exact
      FROM est JOIN exact ON est.tok = exact.tok
      WHERE est >= 500"""))),

    // PMI collocation extraction (Church & Hanks, CL 1990): adjacent
    // bigrams whose observed count exceeds the independence expectation
    // — PMI > 0 ⟺ c_xy·N > c_x·c_y, kept as EXACT integer cross-
    // multiplication (a log would hand the compare to libm rounding;
    // same trick as n41's log-free idf). Support floor c_xy ≥ 5.
    // Three bounded shuffles at any scale: bigram counts (vocab² keys
    // max), unigram counts (vocab keys), and the vocab-sized joins that
    // AQE broadcasts while small; the 1-row N is an explicit broadcast.
    "n45_pmi_collocations" -> (((s: SparkSession, d: String) => {
      import graft.functions.BigramArray
      val docs = Tables.documents(s, d)
      val toks = Text.tokens(col("text"))
      // native bigram kernel, not the HOF transform: the HOF was 2.3 s
      // of this query's 2.8 s at sf0.1 (BigramArray scaladoc)
      val bg = docs.select(explode(BigramArray.bigrams(col("text"))).as("b"))
        .select(element_at(split(col("b"), " "), 1).as("w1"),
          element_at(split(col("b"), " "), 2).as("w2"))
      val cxy = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_xy"))
      val occ = docs.select(explode(toks).as("tok"))
      val cx = occ.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val n = occ.agg(count(lit(1)).as("n_tok"))
      cxy
        .join(cx.select(col("tok").as("w1"), col("c").as("c_x")), "w1")
        .join(cx.select(col("tok").as("w2"), col("c").as("c_y")), "w2")
        .crossJoin(broadcast(n))
        .where(col("c_xy") >= 5 && col("c_xy") * col("n_tok") > col("c_x") * col("c_y"))
        .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"))
    }, Some(s"""
      WITH d AS (SELECT $toksSql AS toks FROM documents),
      bg0 AS (SELECT unnest(CASE WHEN len(toks) >= 2
                THEN [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
                ELSE CAST([] AS VARCHAR[]) END) AS b FROM d),
      bg AS (SELECT string_split(b, ' ')[1] AS w1,
                    string_split(b, ' ')[2] AS w2 FROM bg0),
      cxy AS (SELECT w1, w2, count(*) AS c_xy FROM bg GROUP BY 1, 2),
      occ AS (SELECT unnest(toks) AS tok FROM d),
      cx AS (SELECT tok, count(*) AS c FROM occ GROUP BY 1),
      n AS (SELECT count(*) AS n_tok FROM occ)
      SELECT w1, w2, CAST(c_xy AS BIGINT) AS c_xy,
             CAST(x.c AS BIGINT) AS c_x, CAST(y.c AS BIGINT) AS c_y
      FROM cxy JOIN cx x ON cxy.w1 = x.tok
               JOIN cx y ON cxy.w2 = y.tok CROSS JOIN n
      WHERE c_xy >= 5 AND c_xy * n_tok > x.c * y.c"""))),

    // Vocabulary pruning / OOV mapping — the tokenizer-prep step:
    // tokens below a support floor map to <unk>; per doc, the OOV rate
    // in exact ppm (integer div). The kept-vocab table is bounded by
    // the true vocabulary; the per-doc join is broadcast while it fits
    // and AQE shuffle-joins when it doesn't (no hint pins it).
    "n51_oov_rate" -> (((s: SparkSession, d: String) => {
      val occ = Tables.documents(s, d)
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      val vocab = occ.groupBy(col("tok")).agg(count(lit(1)).as("c"))
        .where(col("c") >= 500).select(col("tok"), lit(1).as("kept"))
      occ.join(vocab, Seq("tok"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("kept").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          expr("n_oov * 1000000 div n_tokens").as("oov_ppm"))
    }, Some(s"""
      WITH occ AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
      vocab AS (SELECT tok FROM occ GROUP BY tok HAVING count(*) >= 500),
      agg AS (SELECT o.doc_id, count(*) AS n_tokens,
                count(*) FILTER (v.tok IS NULL) AS n_oov
              FROM occ o LEFT JOIN vocab v ON o.tok = v.tok
              GROUP BY 1)
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(n_oov AS BIGINT) AS n_oov,
             CAST(n_oov * 1000000 // n_tokens AS BIGINT) AS oov_ppm
      FROM agg"""))),

    // SemDeDup (Abbas et al. 2023): semantic dedup = k-means clusters
    // the embedding space (n34's exact integer-grid run, full table),
    // then near-dup marking runs ONLY inside a cluster — the cluster id
    // is a blocking key that turns the all-pairs cosine into a hash
    // equi-join. k is fixture-small (4, matching the verified n34
    // assignment); at 100 TB k scales ≈ √n so per-cluster pair work
    // stays bounded while the join stays an equi-join. The quadratic
    // pair stage runs over the (env-sampled) subset like every pair
    // query; the linear clustering pass is always full — exactly the
    // paper's cheap-global/quadratic-local split.
    "n52_semantic_dedup" -> (((s: SparkSession, d: String) => {
      val assign = Clustering.kmeans(Tables.embeddings(s, d), k = 4, iters = 2)
      Similarity.semanticDedup(pairEmb(s, d), assign, SemDedupTau)
    }, Some(semanticDedupSql))),

    // Priority sampling (Duffield, Lund & Thorup, JACM'07): weighted
    // doc sample per language, weight = token count. priority = h/w
    // with h a 52-bit md5-derived uniform — kept u64-free so the
    // DOUBLE cast is exact in both engines, and the ONLY float op is
    // one IEEE division (the textbook exponential-race keys need
    // pow/ln, which are NOT cross-engine bit-deterministic). Bottom-k
    // of priorities is a mergeable sketch (union, re-take bottom-k),
    // so at scale this is a map-side partial top-k per partition and
    // one tiny merge — the window here is the per-group idiom AQE
    // handles at fixture scale.
    // BPE merge-rule TRAINING (Sennrich '16) — real tokenizer
    // training as distributed aggregation (operators/Bpe scaladoc):
    // corpus-sized work is ONE explode+count (the vocab build); each
    // of the 3 unrolled iterations then runs on the vocabulary-bounded
    // long-format symbol table — lead() pair window, freq-weighted
    // count, deterministic argmax (a 1-row collect: the learned rule,
    // O(iters) scalars), gaps-and-islands greedy merge. No UDF, no
    // driver tokenization loop; the oracle unrolls the same pipeline
    // CTE-for-CTE.
    "n57_bpe_train" -> (((s: SparkSession, d: String) => {
      graft.operators.Bpe.learnMerges(Tables.documents(s, d), iters = 3)
    }, Some(bpeOracleSql(3)))),

    // BPE ENCODING with the n57-learned merges: the trained symbol
    // table collapses to a (word, n_sym) vocabulary, and encoding the
    // corpus is ONE exploded equi-join against it — per-doc BPE token
    // count, char count, exact ppm compression. The corpus is never
    // re-walked per merge; the vocab absorbs all rewrites.
    "n58_bpe_encode" -> (((s: SparkSession, d: String) => {
      graft.operators.Bpe.encodeStats(Tables.documents(s, d), iters = 3)
    }, Some(s"""${bpeEncodeCtesSql(3)}
      SELECT doc_id, CAST(sum(n_sym) AS BIGINT) AS n_bpe,
             CAST(sum(length(word)) AS BIGINT) AS n_chars,
             CAST(sum(n_sym) * 1000000 // sum(length(word)) AS BIGINT) AS ratio_ppm
      FROM (SELECT doc_id, unnest($toksSql) AS word FROM documents) o
      JOIN ns USING (word)
      GROUP BY doc_id"""))),

    // Per-doc n-gram NOVELTY score — the scoring complement of n54's
    // span view (and the inter-doc dual of n32's intra-doc
    // repetition): the ppm fraction of a doc's DISTINCT 3-grams that
    // occur in no other document. One distinct-gram explode, one
    // count-per-gram aggregate (shuffle bounded by distinct grams),
    // one join back on the gram; exact integer ppm. Low novelty =
    // boilerplate/near-dup; the score feeds mixture weighting where a
    // hard dedup would be too blunt.
    "n56_novelty" -> (((s: SparkSession, d: String) => {
      val dg = Tables.documents(s, d)
        .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
        .where(size(col("toks")) >= 3)
        .select(col("doc_id"),
          explode(sequence(lit(0), size(col("toks")) - 3)).as("pos"),
          col("toks"))
        .select(col("doc_id"),
          concat_ws(" ", slice(col("toks"), col("pos") + 1, lit(3))).as("gram"))
        .distinct()
      val docCount = dg.groupBy(col("gram"))
        .agg(count(lit(1)).as("n_docs_with"))
      dg.join(docCount, Seq("gram"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("n_docs_with") === 1, 1L).otherwise(0L)).as("n_novel"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          expr("n_novel * 1000000 div n_grams").as("novelty_ppm"))
    }, Some(s"""
      WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
      occ AS (SELECT doc_id, toks,
                unnest(range(0, len(toks) - 3 + 1)) AS pos
              FROM d WHERE len(toks) >= 3),
      dg AS (SELECT DISTINCT doc_id,
               array_to_string(toks[pos+1:pos+3], ' ') AS gram FROM occ),
      cnt AS (SELECT gram, count(*) AS n_docs_with FROM dg GROUP BY gram)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             CAST(sum(CASE WHEN n_docs_with = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
             CAST(sum(CASE WHEN n_docs_with = 1 THEN 1 ELSE 0 END) * 1000000
                  // count(*) AS BIGINT) AS novelty_ppm
      FROM dg JOIN cnt USING (gram)
      GROUP BY doc_id"""))),

    // Exact duplicated-SPAN detection (Lee et al. '21): maximal token
    // runs occurring ≥2× in the corpus, via position-indexed grams +
    // one duplicated-gram equi-join + gaps-and-islands span merge —
    // span-level dedup with no pairwise doc comparison anywhere (see
    // Dedup.duplicatedSpans for the 100 TB shuffle accounting). Runs
    // unsampled at every SF: the inverted index is linear, like n46.
    "n54_span_dedup" -> (((s: SparkSession, d: String) => {
      Dedup.duplicatedSpans(Tables.documents(s, d), g = 8, minSpan = 12)
    }, Some(s"""
      WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
      occ AS (SELECT doc_id, toks,
                unnest(range(0, len(toks) - 8 + 1)) AS pos
              FROM d WHERE len(toks) >= 8),
      g AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
              array_to_string(toks[pos+1:pos+8], ' ') AS gram FROM occ),
      dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
      dp AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)),
      isl AS (SELECT doc_id, pos,
                pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
              FROM dp)
      SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
             CAST(max(pos) - min(pos) + 8 AS BIGINT) AS span_tokens
      FROM isl GROUP BY doc_id, grp
      HAVING max(pos) - min(pos) + 8 >= 12"""))),

    // Corpus-wide first-occurrence segment dedup (RefinedWeb/FineWeb
    // "line-level dedup" — keep a repeated line where it FIRST appears,
    // strip it everywhere later). Segment = disjoint 8-token chunk
    // (fixture text has no newlines); first = global min (doc_id,
    // seg_idx) per exact segment. The "first" is a map-side-combined
    // min(struct) aggregate, never a window sort over the hot
    // boilerplate key — see Dedup.segmentDedup scaladoc for the 100 TB
    // shuffle story. Output: per-doc retention stats + md5 of the
    // surviving text.
    "n73_segment_dedup" -> (((s: SparkSession, d: String) => {
      Dedup.segmentDedup(Tables.documents(s, d), k = 8)
    }, Some(segmentDedupOracleSql))),

    // Corpus-frequency boilerplate removal — the C4/RefinedWeb "this
    // line is on ≥N distinct pages, it's site chrome" pass: strip ALL
    // copies (n73 keeps the first — different policy for different
    // noise). df = one map-side-combined count over per-doc-DISTINCT
    // segments (distinctness per-row before the explode, so no extra
    // shuffle and the count is exactly "distinct docs"); intra-doc
    // repeats (df=1) are kept — that's n32/n64's self-repetition
    // signal, not boilerplate.
    "n82_boilerplate_strip" -> (((s: SparkSession, d: String) => {
      Dedup.boilerplateStrip(Tables.documents(s, d), k = 8)
    }, Some(boilerplateOracleSql))),

    // Per-source document cap — the source-dominance control that stops
    // one domain from flooding a training mix (the "max N pages per
    // domain" step every web-corpus pipeline runs). Kept subset is
    // ordered by md5(doc_id) — deterministic, reproducible, incremental
    // (a re-run after appends keeps a superset-stable prefix), never
    // rand(). At scale this is the same per-group top-k shape as n53:
    // partial bottom-k per partition, AQE handles the hot-domain skew.
    "n55_domain_cap" -> (((s: SparkSession, d: String) => {
      val win = Window.partitionBy(col("source"))
        .orderBy(md5(col("doc_id").cast("string")).asc, col("doc_id").asc)
      Tables.documents(s, d).select(col("source"), col("doc_id"))
        .withColumn("rk", row_number().over(win).cast("long"))
        .where(col("rk") <= 10)
    }, Some("""
      SELECT source, doc_id, CAST(rk AS BIGINT) AS rk FROM
        (SELECT source, doc_id,
           row_number() OVER (PARTITION BY source
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
         FROM documents)
      WHERE rk <= 10"""))),

    // DSIR-style importance weights (Xie et al. 2023, "Data Selection
    // for Language Models via Importance Resampling"): score every doc
    // by how target-like its hashed token-feature distribution is,
    // target = the English slice of the corpus. Features are md5-hashed
    // token buckets (64 bins — the same cross-engine md5 arithmetic as
    // n27/the pair sampler); both the target and raw bucket
    // distributions are Laplace-smoothed. Where the paper sums
    // log-likelihood ratios, this quantizes each smoothed probability
    // to exact integer ppb FIRST and scores with the mean per-token
    // probability RATIO (ppm) — monotone-equivalent for ranking and
    // integer-exact end-to-end, so no float log ever crosses the
    // engine boundary. Scale shape: the bucket table is 64 rows
    // (broadcast); the only row-volume shuffle is the per-doc groupBy —
    // the token explode joins against a broadcast literal table.
    "n60_dsir_weight" -> (((s: SparkSession, d: String) => {
      import graft.operators.Dsir
      val docs = Tables.documents(s, d)
      val tok = docs
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
        .withColumn("b", Dsir.bucket(col("tok")))
      tok.join(broadcast(Dsir.ratioModel(docs)), "b")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_toks"), sum(col("ratio_ppm")).as("sum_ppm"))
        .select(col("doc_id"), col("n_toks"),
          expr("cast(sum_ppm as bigint) div n_toks").as("mean_ratio_ppm"))
    }, Some(dsirOracleSql))),

    // Keep-BEST dedup policy: n25 keeps each component's min id; real
    // curation keeps its best member (longest doc here — token count is
    // integer-deterministic; ties break to min id). Same LSH pairs and
    // min-label components as n25; the policy is ONE ranked window over
    // the component-labeled corpus, so upgrading keep-min to keep-best
    // costs one extra shuffle on comp. Docs in no pair are their own
    // singleton component (left join + coalesce) and always survive.
    // Oracle: n25's recursive-CTE reachability closure + the same
    // ranked pick — O(n²) pair stage, so it rides the md5-bucket pair
    // sample at sf0.1 like the rest of the family.
    "n61_dedup_keep_best" -> (((s: SparkSession, d: String) => {
      val docs = pairDocs(s, d)
        .select(col("doc_id"), Text.tokenCountWs(col("text")).cast("long").as("n_toks"))
      val pairs = MinHashLsh.nearDupPairs(pairDocs(s, d))
      val labels = Dedup.connectedComponents(pairs)
      val win = Window.partitionBy(col("comp"))
        .orderBy(col("n_toks").desc, col("doc_id").asc)
      docs.join(labels, docs("doc_id") === labels("id"), "left")
        .select(col("doc_id"),
          coalesce(col("comp"), col("doc_id")).as("comp"), col("n_toks"))
        .withColumn("rk", row_number().over(win))
        .where(col("rk") === 1)
        .select(col("doc_id"), col("comp"), col("n_toks"))
    }, Some(s"""
      WITH RECURSIVE
      s AS (
        SELECT doc_id, $ssetSql AS sset
        FROM (SELECT doc_id, $toksSql AS toks FROM $docsT)),
      pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE)
            / len(list_distinct(list_concat(a.sset, b.sset))) >= ${MinHashLsh.Threshold}),
      edges AS (
        SELECT a_id AS src, b_id AS dst FROM pairs
        UNION ALL SELECT b_id, a_id FROM pairs),
      reach AS (
        SELECT src AS id, src AS r FROM edges
        UNION
        SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
      comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
      base AS (SELECT doc_id, len($toksSql) AS n_toks FROM $docsT),
      wc AS (SELECT b.doc_id, coalesce(c.comp, b.doc_id) AS comp, b.n_toks
             FROM base b LEFT JOIN comp c ON c.id = b.doc_id)
      SELECT doc_id, CAST(comp AS BIGINT) AS comp,
             CAST(n_toks AS BIGINT) AS n_toks
      FROM (SELECT *, row_number() OVER (PARTITION BY comp
              ORDER BY n_toks DESC, doc_id) AS rk FROM wc)
      WHERE rk = 1"""))),

    // Deterministic global shuffle into training shards — the
    // "shuffle then shard" step between curation and tokenization.
    // Shard = md5 bucket of the doc id (co-sized shards, no rand());
    // within-shard order = md5 of (doc_id, epoch tag). Two-phase
    // position assignment (Sharding.scaladoc, VERDICT r8 #2): range-
    // partition on (shard, ek, id), bounded per-partition counts →
    // broadcast offsets, pos = offset + partition-local rank — max
    // per-task sort is corpus/numPartitions, never corpus/nShards.
    "n62_shard_shuffle" -> (((s: SparkSession, d: String) => {
      Sharding.shardPositions(Tables.documents(s, d), "doc_id",
        nShards = 8, epochTag = "ep1")
    }, Some("""
      SELECT doc_id, shard, CAST(pos AS BIGINT) AS pos FROM (
        SELECT doc_id,
          (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 8)
            AS shard,
          row_number() OVER (PARTITION BY
              (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 8)
            ORDER BY md5(CAST(doc_id AS VARCHAR) || ':ep1'), doc_id) AS pos
        FROM documents)"""))),

    // Within-doc repetition (the Gopher repetition filter family,
    // Rae et al. '21): per doc, the fraction of 3-gram OCCURRENCES
    // belonging to a gram that repeats inside the same doc — the
    // self-repetition signal that catches boilerplate loops and
    // degenerate generations doc-locally, where n54's corpus-level
    // span dedup would not fire. Integer-exact ppm (no float). Pure
    // per-doc work: one explode + two hash aggregates keyed by doc —
    // map-side combined, nothing corpus-quadratic, trivially
    // partition-parallel at any scale.
    "n64_selfrep" -> (((s: SparkSession, d: String) => {
      val toks = Text.tokens(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"), toks.as("toks"))
        .where(size(col("toks")) >= 3)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(toks) - 2)," +
            " i -> concat_ws(' ', slice(toks, i, 3)))")).as("gram"))
        .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_grams"),
          sum(when(col("c") >= 2, col("c")).otherwise(lit(0L))).as("n_dup"))
        .select(col("doc_id"), col("n_grams"), col("n_dup"),
          expr("n_dup * 1000000 div n_grams").as("dup_ppm"))
    }, Some(s"""
      WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
      g AS (SELECT doc_id,
              unnest([array_to_string(toks[i:i+2], ' ')
                      for i in range(1, len(toks)-1)]) AS gram
            FROM d WHERE len(toks) >= 3),
      c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2)
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
        CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS n_dup,
        CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) * 1000000
          // sum(c) AS BIGINT) AS dup_ppm
      FROM c GROUP BY 1"""))),

    // Lexical diversity: per-doc Simpson repeat concentration —
    // P(two tokens drawn without replacement are equal) in ppb,
    // Σc·(c−1)·10⁹ div n·(n−1). Integer-exact twin of the type/token
    // diversity measures (an entropy score would need ln(), which is
    // not correctly-rounded IEEE and breaks bit-exact oracles — the
    // Simpson index carries the same signal in pure integers). The
    // DECIMAL widening bounds the numerator at web-document scale
    // (10⁶ tokens → c·(c−1)·10⁹ ≈ 10²¹ > long range).
    "n65_simpson_diversity" -> (((s: SparkSession, d: String) => {
      Tables.documents(s, d)
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("t"))
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tokens"),
          sum(expr("c * (c - 1)")).as("rep"))
        .where(col("n_tokens") >= 2)
        .select(col("doc_id"), col("n_tokens"),
          expr("CAST(rep AS DECIMAL(30,0)) * 1000000000" +
            " div (n_tokens * (n_tokens - 1))").as("simpson_ppb"))
    }, Some(s"""
      WITH c AS (SELECT doc_id, tok, count(*) AS c
                 FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents)
                 GROUP BY 1, 2)
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        CAST(sum(c * (c - 1)) * 1000000000
          // (sum(c) * (sum(c) - 1)) AS BIGINT) AS simpson_ppb
      FROM c GROUP BY 1
      HAVING sum(c) >= 2"""))),

    // Gopher-style composite quality gate (Rae et al. '21 §A1.1) in
    // pure integer arithmetic: token count bounds, mean word length
    // 3..10 via cross-multiplication (never a float division), a
    // max-token-length cap, and ≥2 stopword hits. n18 is the float
    // quality SCORE; this is the rule-list FILTER form real pipelines
    // compose, exact to the last row on both engines. All four stats
    // come from ONE pass over the text bytes (native TextStats kernel
    // — no token array, no explode, no row inflation; TextStatsSpec
    // pins equality with the explode+agg form this replaced).
    "n66_gopher_quality" -> (((s: SparkSession, d: String) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          graft.functions.TextStats.textStats(col("text")).as("st"))
        .select(col("doc_id"), col("st.n_tokens").as("n_tokens"),
          col("st.len_sum").as("len_sum"), col("st.max_len").as("max_len"),
          col("st.stop_hits").as("stop_hits"))
        .where(col("n_tokens").between(20, 1000) &&
          col("len_sum") >= col("n_tokens") * 3 &&
          col("len_sum") <= col("n_tokens") * 10 &&
          col("max_len") <= 20 && col("stop_hits") >= 2)
        .select(col("doc_id"), col("n_tokens"), col("len_sum"),
          col("stop_hits"))
    }, Some(gopherOracleSql))),

    // Temperature-scaled mixture weights (the multilingual/domain
    // rebalancing step: sample ∝ n^α with α = 1/2 so small domains are
    // upweighted). sqrt IS usable in a bit-exact oracle — IEEE 754
    // requires correctly-rounded sqrt and both JVM and DuckDB delegate
    // to it (unlike ln/exp, which are why n33/n49 are log-free) — on
    // an exactly-representable double input: n·10⁶ stays integer-exact
    // below 2⁵³ for any real domain count, giving weight = √n·10³
    // with three sub-integer digits. Share in ppm by integral
    // division; the total rides a 1-row broadcast (never a shuffle of
    // the dimension). |domains| rows at any corpus size.
    "n67_temperature_mixture" -> (((s: SparkSession, d: String) => {
      val counts = Tables.documents(s, d)
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .withColumn("weight",
          floor(sqrt(col("n_docs").cast("double") * 1e6)).cast("long"))
      val tot = counts.agg(sum(col("weight")).as("tot"))
      counts.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("weight"),
          expr("weight * 1000000 div tot").as("share_ppm"))
    }, Some("""
      WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
      w AS (SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
              CAST(floor(sqrt(CAST(n_docs AS DOUBLE) * 1000000)) AS BIGINT)
                AS weight FROM c),
      t AS (SELECT sum(weight) AS tot FROM w)
      SELECT source, n_docs, weight,
        CAST(weight * 1000000 // t.tot AS BIGINT) AS share_ppm
      FROM w CROSS JOIN t"""))),

    // Length-bucketed batching prep: round each doc's token count up
    // to the next 32-token bucket (the padded sequence length a
    // training batch would allocate) and report exact padding waste
    // per bucket in ppm — the measurement that decides bucket
    // granularity for a packing/batching stage (complement of n28,
    // which packs greedily instead of padding). One explode-free
    // per-row map + one |buckets|-group aggregate; integer-exact.
    "n68_length_buckets" -> (((s: SparkSession, d: String) => {
      Tables.documents(s, d)
        .select(Text.tokenCountWs(col("text")).cast("long").as("n_toks"))
        .where(col("n_toks") > 0)
        .withColumn("bucket", expr("((n_toks + 31) div 32) * 32"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("sum_tokens"),
          sum(col("bucket") - col("n_toks")).as("padding_tokens"))
        .select(col("bucket"), col("n_docs"), col("sum_tokens"),
          col("padding_tokens"),
          expr("padding_tokens * 1000000 div (n_docs * bucket)")
            .as("waste_ppm"))
    }, Some(lengthBucketsOracleSql))),

    // Score stratification: exact per-lang DECILES of the n65 Simpson
    // diversity score via the a29 cumulative-histogram idiom — the
    // threshold-selection step behind every "keep the top X% by
    // quality score" filter. Shuffles bounded by DISTINCT score
    // values; rank thresholds are integer ceiling divisions, never a
    // float q·n.
    "n69_score_deciles" -> (((s: SparkSession, d: String) => {
      val scored = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          explode(Text.tokens(col("text"))).as("t"))
        .groupBy(col("doc_id"), col("lang"), col("t"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(sum(col("c")).as("n"), sum(expr("c * (c - 1)")).as("rep"))
        .where(col("n") >= 2)
        .select(col("lang"),
          expr("CAST(rep AS DECIMAL(30,0)) * 1000000000 div (n * (n - 1))")
            .as("v"))
      val hist = scored.groupBy(col("lang"), col("v")).agg(count(lit(1)).as("c"))
      val cum = hist
        .withColumn("cum",
          sum(col("c")).over(Window.partitionBy(col("lang")).orderBy(col("v"))))
        .withColumn("n", sum(col("c")).over(Window.partitionBy(col("lang"))))
      val decs = (1 to 9).map(q =>
        min(when(col("cum") >= expr(s"(n * $q + 9) div 10"), col("v")))
          .as(s"d$q"))
      cum.groupBy(col("lang"))
        .agg(decs.head, decs.tail :+ max(col("n")).as("n_docs"): _*)
    }, Some {
      val decs = (1 to 9).map(q =>
        s"CAST(min(CASE WHEN cum >= (n * $q + 9) // 10 THEN v END) AS BIGINT) AS d$q")
        .mkString(",\n        ")
      s"""
      WITH c0 AS (SELECT doc_id, lang, tok, count(*) AS c
                  FROM (SELECT doc_id, lang, unnest($toksSql) AS tok
                        FROM documents)
                  GROUP BY 1, 2, 3),
      sc AS (SELECT lang,
               sum(c * (c - 1)) * 1000000000
                 // (sum(c) * (sum(c) - 1)) AS v
             FROM c0 GROUP BY doc_id, lang HAVING sum(c) >= 2),
      hist AS (SELECT lang, v, count(*) AS c FROM sc GROUP BY 1, 2),
      cum AS (SELECT lang, v,
                sum(c) OVER (PARTITION BY lang ORDER BY v) AS cum,
                sum(c) OVER (PARTITION BY lang) AS n
              FROM hist)
      SELECT lang, $decs,
        CAST(max(n) AS BIGINT) AS n_docs
      FROM cum GROUP BY lang"""
    })),

    // Cross-source score CALIBRATION: raw quality scores from different
    // sources are not comparable (each domain has its own score
    // distribution), so pipelines normalize to a within-source
    // percent-rank BEFORE applying one global threshold. Score = the
    // n69 repetition statistic (integer-exact ppb); calibrated rank =
    // count-below * 1e6 div (n-1) — computed via the cumulative-
    // histogram idiom (hist per (source, v), one window over DISTINCT
    // values, join back), NEVER a per-row sort window: at 100 TB a hot
    // domain would otherwise sort billions of rows in one partition,
    // while distinct score values stay bounded. Gate keeps the
    // less-repetitive half of every source (pr_ppm ≤ 500000).
    "n74_score_calibration" -> (((s: SparkSession, d: String) => {
      val scored = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          explode(Text.tokens(col("text"))).as("t"))
        .groupBy(col("doc_id"), col("source"), col("t"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"), col("source"))
        .agg(sum(col("c")).as("n"), sum(expr("c * (c - 1)")).as("rep"))
        .where(col("n") >= 2)
        .select(col("doc_id"), col("source"),
          expr("CAST(rep AS DECIMAL(30,0)) * 1000000000 div (n * (n - 1))")
            .cast("long").as("v"))
      val hist = scored.groupBy(col("source"), col("v"))
        .agg(count(lit(1)).as("c"))
      val cum = hist
        .withColumn("below",
          sum(col("c")).over(
            Window.partitionBy(col("source")).orderBy(col("v"))) - col("c"))
        .withColumn("n_src",
          sum(col("c")).over(Window.partitionBy(col("source"))))
        .where(col("n_src") > 1)
        .select(col("source"), col("v"),
          expr("below * 1000000 div (n_src - 1)").as("pr_ppm"))
      scored.join(cum, Seq("source", "v"))
        .where(col("pr_ppm") <= 500000)
        .select(col("doc_id"), col("source"), col("v"), col("pr_ppm"))
    }, Some(s"""
      WITH c0 AS (SELECT doc_id, source, tok, count(*) AS c
                  FROM (SELECT doc_id, source, unnest($toksSql) AS tok
                        FROM documents)
                  GROUP BY 1, 2, 3),
      sc AS (SELECT doc_id, source,
               sum(c * (c - 1)) * 1000000000
                 // (sum(c) * (sum(c) - 1)) AS v
             FROM c0 GROUP BY doc_id, source HAVING sum(c) >= 2),
      hist AS (SELECT source, v, count(*) AS c FROM sc GROUP BY 1, 2),
      cum AS (SELECT source, v,
                sum(c) OVER (PARTITION BY source ORDER BY v) - c AS below,
                sum(c) OVER (PARTITION BY source) AS n_src
              FROM hist)
      SELECT doc_id, source, CAST(v AS BIGINT) AS v,
        CAST(below * 1000000 // (n_src - 1) AS BIGINT) AS pr_ppm
      FROM sc JOIN cum USING (source, v)
      WHERE n_src > 1 AND below * 1000000 // (n_src - 1) <= 500000"""))),

    // Product-quantization ANN (Jégou '11): per-subspace codebooks
    // trained with the house k-means contract, every vector compressed
    // to 4 codes, then asymmetric-distance top-k for the probe set via
    // per-probe lookup tables. TRAIN is one zero-shuffle scan + one
    // M·K-row aggregate per Lloyd pass; ENCODE is one scan against the
    // broadcast codebook row; SEARCH scores probes × N through a
    // broadcast LUT and the rank filter collapses to per-task partial
    // top-k (WindowGroupLimit) — nothing here is O(N²) and nothing
    // sorts the corpus globally (operators/Pq.scala).
    "n75_pq_ann" -> (((s: SparkSession, d: String) => {
      graft.operators.Pq.pqAnn(Tables.embeddings(s, d))
    }, Some(pqOracleSql))),

    // n75's model-serving twin: codebooks train once batch-side, every
    // arriving vector compresses to its 4 codes at ingest via the same
    // broadcast-codebook zero-shuffle scan — append mode, no state
    // (StreamQueries.streamPqEncode; oracle = the n75 codes chain).
    "s31_stream_pq_encode" -> (((s: SparkSession, d: String) => {
      graft.streaming.StreamQueries.streamPqEncode(s, d)
    }, Some(s"""$pqCodesCtesSql
      SELECT vec_id, code0, code1, code2, code3 FROM codes"""))),

    // n77's streaming twin: the per-(lang, bucket) register table IS
    // the streaming state (≤ groups·64 rows, bounded with no
    // watermark); max merges across micro-batches pointwise, so any
    // micro-batching drains to the batch register table (HllSpec's
    // merge property) and the post-drain assemble reuses n77's oracle
    // verbatim (StreamQueries.streamHllSketch).
    "s32_stream_hll" -> (((s: SparkSession, d: String) => {
      graft.streaming.StreamQueries.streamHllSketch(s, d)
    }, Some(hllOracleSql))),

    // n79's streaming maintenance twin: arriving vectors encode to
    // (cell, codes) against the batch-trained broadcast codebooks (the
    // identical per-row expression as the batch index build) and
    // APPEND into the cell-partitioned parquet store via the file
    // sink's partitionBy — no state store, exactly-once by the sink's
    // commit log. The drained store is then served exactly like n79
    // (partition-pruning IN + broadcast LUT equi-join), so
    // serve-after-append equals a from-scratch batch rebuild row for
    // row and s33 shares n78/n79's oracle VERBATIM — four plans
    // (harness fan-out / in-query prune / batch-written store /
    // stream-appended store), one answer, one byte-identical twin
    // (StreamQueries.streamIvfIndexAppend; IvfPqSpec pins the
    // equality and the store layout).
    "s33_stream_ivf_index" -> (((s: SparkSession, d: String) => {
      graft.streaming.StreamQueries.streamIvfIndexAppend(s, d)
    }, Some(ivfPqServeSql(10)))),

    // n80's train/serve split: the four gate tables (fingerprint
    // firsts, LSH losers, segment retention, lang rates) train once
    // batch-side as parquet (the pretrained curation model —
    // Curation.trainGates, the same call n80 makes), and arriving
    // documents flag-assign via the SAME Curation.flags as the batch
    // pipeline (four stream-static equi-joins); append mode, no state
    // store. The drained
    // flag table aggregates to the identical 6-row report — s34 shares
    // n80's oracle VERBATIM (train in batch, serve at ingest: the
    // s14/s27/s30/s31 model-serving idiom applied to the whole
    // curation pipeline). Rides the pair-sample input like n80.
    "s34_stream_curation" -> (((s: SparkSession, d: String) => {
      // gates train on the sampled corpus and the stream replays the
      // SAME sampled corpus — both sides of the train/serve equality
      // see the identical input (the s19 idiom)
      val stream = sampled(
        graft.streaming.StreamQueries.documentsStream(s, d), "doc_id")
      graft.streaming.StreamQueries.streamCurationServe(
        s, stream, pairDocs(s, d), CurBudgetEn, CurBudgetOther)
    }, Some(curationPipelineSql))),

    // IVFADC (Jégou '11 §V) — the composed billion-scale serving path
    // n15/n75/n72 each exercise one stage of: IVF cell-prune at
    // nprobe=1/2, THEN rank the surviving candidates by PQ asymmetric
    // distance, with recall@10 of both IVFADC and plain IVF (exact
    // scoring, same candidate set) against the exact full-corpus
    // top-10 — so the ADC column's delta vs the IVF column is pure
    // quantization loss at equal probe budget. One corpus scan builds
    // (cell, codes) against broadcast models; every top-k collapses
    // to WindowGroupLimit (operators/IvfPq.scala).
    "n76_ivfpq_ann" -> (((s: SparkSession, d: String) => {
      graft.operators.IvfPq.ivfPqRecall(Tables.embeddings(s, d), 10)
    }, Some(ivfPqRecallSql(10)))),

    // HLL register sketch of the 3-shingle space (Flajolet '07) — the
    // register-based sibling of n40's KMV: per-(lang, bucket) state is
    // max(ρ) over the engine-identical 60-bit md5-prefix hash, so the
    // DuckDB twin rebuilds the register table — and the raw harmonic
    // estimate — bit for bit (functions/Hll.scala scaladoc: the
    // harmonic sum is integer-ized by 2^MaxRho so the only float steps
    // are two multiplies and a divide in the same order). The ALL row
    // merges the per-lang registers by pointwise max (sketch-union
    // property). Shuffle bound: ≤ groups·64 tiny (b, ρ) rows per input
    // partition after map-side partial max, at any corpus size.
    "n77_hll_distinct" -> (((s: SparkSession, d: String) => {
      import graft.functions.Hll
      Hll.assemble(Hll.registersPlan(Tables.documents(s, d)))
    }, Some(hllOracleSql))),

    // IVFADC in its SERVING shape (IvfPq.ivfPqServe): candidates
    // cell-pruned FIRST by a literal IN over the driver-known probed
    // cells (partition pruning on a cell-bucketed index layout — the
    // 1/Cells scan reduction that is the reason IVF exists), then an
    // equi-join on cell against the per-(probe, cell) LUT rows emits
    // only ≈ nprobe/Cells of n76's probes×N fan-out, ranked by the
    // identical ADC fold. Same model, same candidates per probe, same
    // tiebreak as n76's nprobe=2 branch — IvfPqSpec pins row-level
    // equality between the two plans; the oracle scores the cross
    // product then filters, so answer-equality across the three
    // shapes is the plan-changes-answer-doesn't statement.
    "n78_ivfadc_serve" -> (((s: SparkSession, d: String) => {
      graft.operators.IvfPq.ivfPqServe(Tables.embeddings(s, d), 10)
    }, Some(ivfPqServeSql(10)))),

    // n78 on the MATERIALIZED index layout: the encoded corpus is
    // actually written partitionBy(cell) (the one-time index build a
    // deployment amortizes over every query batch), read back, and
    // served from the pruned read — cell is now a PARTITION column, so
    // the literal IN is partition pruning proper: unprobed cells'
    // directories never enter the scan (IvfPqSpec reads
    // PartitionFilters + file counts off the executed plan). Oracle =
    // n78's VERBATIM: three plans (harness fan-out / in-query prune /
    // partitioned-store prune), one answer, one byte-identical twin.
    "n79_ivfadc_index" -> (((s: SparkSession, d: String) => {
      graft.operators.IvfPq.ivfPqServeIndexed(Tables.embeddings(s, d), 10)
    }, Some(ivfPqServeSql(10)))),

    // The COMPOSED corpus-curation pipeline — the FineWeb/Gopher-style
    // end-to-end corpus build chaining five individually-verified
    // stages in one declared query: n66 quality gate → n10 fingerprint
    // dedup → n03/n16 LSH near-dup survivor pick → n73 segment index
    // (as a ≥90%-retained doc gate) → n38-style mixture reweighting,
    // emitting one row per stage with retention counts and an
    // order-independent bit_xor corpus signature. EVERY stage is live
    // at the verified fixtures (500→379→326→311→302→246 docs at
    // sf0.01) — the stage order and policies are chosen so no gate is
    // vacuously subsumed by a neighbor (rationale per stage in
    // operators/Curation.scala). Survivorship is a flag column per
    // stage on ONE flagged frame (the report is a single conditional
    // aggregate, not five corpus rescans); each stage's index build
    // runs over the previous stage's survivors only, in the same
    // bounded shapes as the standalone queries. The oracle is the
    // stages' own CTE chain — the composition proof the standalone
    // oracles can't give. Rides the md5-bucket pair sample at sf0.1
    // like the rest of the pair family (the LSH stage's oracle is
    // brute-force all-pairs).
    "n80_curation_pipeline" -> (((s: SparkSession, d: String) => {
      graft.operators.Curation.pipeline(pairDocs(s, d),
        CurBudgetEn, CurBudgetOther)
    }, Some(curationPipelineSql))),

    // Curate THEN pack (n81) — the step a real corpus build runs after
    // n80: the stage-5 survivors laid end-to-end per language in
    // deterministic doc_id order and chopped into 512-token training
    // sequences (n28's concat-then-chop arithmetic verbatim), emitting
    // the (lang, pack_id, n_docs, pack_tokens) manifest a loader
    // consumes. This is the composition the standalone queries can't
    // prove: every pack offset depends on every upstream gate's
    // survivor set, so a single column/semantic collision anywhere in
    // the chain shifts the manifest. Oracle = the n80 CTE chain
    // extended by n28's pack CTEs. Rides the pair sample at sf0.1
    // (contains the LSH stage).
    "n81_curation_pack" -> (((s: SparkSession, d: String) => {
      graft.operators.Curation.packPipeline(pairDocs(s, d),
        CurBudgetEn, CurBudgetOther,
        packTokens = graft.operators.Curation.PackTokens)
    }, Some(curationPackSql))),

    // The SNAPSHOT-GATED curation pipeline — what an incremental
    // corpus build runs on a new crawl: n86's cross-snapshot keep rule
    // FIRST (exact+fingerprint dups vs the previous snapshot dropped,
    // near-dups kept), then the full five-stage curation trained on
    // the survivors; 7-row report (raw input + snapshot gate + the n80
    // cascade under shifted labels) over ONE flagged frame — s40's
    // calls with a batch drain. Budgets halve with the parity-halved
    // corpus so the mixture stage stays live. Rides the pair sample
    // at sf0.1 (contains the LSH stage).
    "n87_snapshot_curation" -> (((s: SparkSession, d: String) => {
      val docs = pairDocs(s, d)
      graft.operators.Curation.snapshotPipeline(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1),
        CurBudgetEn / 2, CurBudgetOther / 2)
    }, Some(snapshotCurationSql))),

    // n87's train/serve split (the s34 idiom + the cross-snapshot
    // gate): digest indexes + gate tables build once batch-side (the
    // same trainGates n87 calls), arriving docs get passS from two
    // stateless stream-static LEFT joins and flag through the same
    // Curation.flags, append mode, no state store; drained flags
    // aggregate to n87's 7-row report. SAME oracle.
    "s40_stream_snapshot_curation" -> (((s: SparkSession, d: String) => {
      val docs = pairDocs(s, d)
      val stream = sampled(
        graft.streaming.StreamQueries.documentsStream(s, d), "doc_id")
        .where(col("doc_id") % 2 === 1)
      graft.streaming.StreamQueries.streamSnapshotCurationServe(s, stream,
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1),
        CurBudgetEn / 2, CurBudgetOther / 2)
    }, Some(snapshotCurationSql))),

    // Greedy token-budget curation: rank domains by stopword density
    // (the cheap English-ness/quality proxy, exact integer ppm), then
    // fill a 60%-of-corpus token budget in rank order — the "keep the
    // best sources until the budget is spent" mixture-curation step.
    // kept = the running total BEFORE this source is under budget, so
    // exactly the greedy prefix (first overshooter included, matching
    // classic budget fill). Every window/join here runs on the
    // |domains|-row dimension table, never the corpus; the only
    // corpus-sized work is one explode-free HOF aggregate.
    "n70_budget_fill" -> (((s: SparkSession, d: String) => {
      val src = Tables.documents(s, d)
        .select(col("source"),
          graft.functions.TextStats.textStats(col("text")).as("st"))
        .groupBy(col("source"))
        .agg(sum(col("st.n_tokens")).as("src_tokens"),
          sum(col("st.stop_hits")).as("stop_hits"))
        .withColumn("density_ppm",
          expr("stop_hits * 1000000 div src_tokens"))
      val ranked = src.withColumn("rk", row_number().over(
        Window.orderBy(col("density_ppm").desc, col("source").asc))
        .cast("long"))
      val tot = ranked.agg(sum(col("src_tokens")).as("total"))
      ranked.crossJoin(broadcast(tot))
        .withColumn("cum_tokens",
          sum(col("src_tokens")).over(Window.orderBy(col("rk"))))
        .withColumn("budget", expr("total * 6 div 10"))
        .select(col("source"), col("rk"), col("src_tokens"),
          col("density_ppm"), col("cum_tokens"),
          (col("cum_tokens") - col("src_tokens") < col("budget"))
            .cast("int").as("kept"))
    }, Some(s"""
      WITH d AS (SELECT source, $toksSql AS toks FROM documents),
      src AS (SELECT source,
                CAST(sum(len(toks)) AS BIGINT) AS src_tokens,
                CAST(sum(len(list_filter(toks, t -> t IN $stopListSql)))
                  AS BIGINT) AS stop_hits
              FROM d GROUP BY 1),
      ranked AS (SELECT source, src_tokens,
                   stop_hits * 1000000 // src_tokens AS density_ppm,
                   row_number() OVER (ORDER BY
                     stop_hits * 1000000 // src_tokens DESC, source) AS rk
                 FROM src),
      tot AS (SELECT sum(src_tokens) AS total FROM ranked),
      cum AS (SELECT r.*, sum(src_tokens) OVER (ORDER BY rk) AS cum_tokens,
                     t.total * 6 // 10 AS budget
              FROM ranked r CROSS JOIN tot t)
      SELECT source, CAST(rk AS BIGINT) AS rk, src_tokens,
             CAST(density_ppm AS BIGINT) AS density_ppm,
             CAST(cum_tokens AS BIGINT) AS cum_tokens,
             CAST(cum_tokens - src_tokens < budget AS INT) AS kept
      FROM cum"""))),

    // APPLY the n54 spans: strip every duplicated span, exact
    // before/after token counts per doc. The cover set explodes to its
    // positions (bounded by total span tokens ≪ corpus) and the strip
    // is one left-anti equi-join on (doc, pos) — no text surgery, no
    // UDF; spanless docs pass through via the left join.
    "n59_span_strip" -> (((s: SparkSession, d: String) => {
      Dedup.stripSpans(Tables.documents(s, d), g = 8, minSpan = 12)
    }, Some(s"""
      WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
      occ AS (SELECT doc_id, toks,
                unnest(range(0, len(toks) - 8 + 1)) AS pos
              FROM d WHERE len(toks) >= 8),
      g AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
              array_to_string(toks[pos+1:pos+8], ' ') AS gram FROM occ),
      dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
      dp AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)),
      isl AS (SELECT doc_id, pos,
                pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
              FROM dp),
      spans AS (SELECT doc_id, min(pos) AS s, max(pos) - min(pos) + 8 AS l
                FROM isl GROUP BY doc_id, grp
                HAVING max(pos) - min(pos) + 8 >= 12),
      cover AS (SELECT DISTINCT doc_id, s + unnest(range(0, l)) AS pos FROM spans),
      tok AS (SELECT doc_id, unnest(range(0, len(toks))) AS pos FROM d),
      kept AS (SELECT t.doc_id, count(*) AS n_after
               FROM tok t LEFT JOIN cover c
                 ON t.doc_id = c.doc_id AND t.pos = c.pos
               WHERE c.pos IS NULL GROUP BY t.doc_id)
      SELECT d.doc_id, CAST(len(toks) AS BIGINT) AS n_before,
             CAST(coalesce(k.n_after, 0) AS BIGINT) AS n_after
      FROM d LEFT JOIN kept k USING (doc_id)"""))),

    "n53_priority_sample" -> (((s: SparkSession, d: String) => {
      import graft.functions.PriorityAgg
      val docs = Tables.documents(s, d)
        .select(col("lang"), col("doc_id"),
          Text.tokenCountWs(col("text")).cast("long").as("w"))
        .where(col("w") > 0)
      val pri = PriorityAgg.priority(col("doc_id"), col("w"))
      val win = Window.partitionBy(col("lang")).orderBy(pri.asc, col("doc_id").asc)
      docs.withColumn("rk", row_number().over(win).cast("long"))
        .where(col("rk") <= PriorityAgg.K)
        .select(col("lang"), col("doc_id"), col("w"), col("rk"))
    }, Some(prioritySampleSql))),

    // Bigram LM scoring with add-one smoothing — n37's unigram filter
    // upgraded one order: per doc, mean P(w_i | w_{i-1}) with
    // P = (c2+1)/(c1+V), ppb-quantized per POSITION before the sum
    // (floor of an exact integer division), so the per-doc aggregate
    // is pure integer arithmetic — no float summation order anywhere.
    // Corpus model = two bounded count tables (vocab and vocab²
    // keys); the per-doc score joins them on the exploded bigrams —
    // AQE broadcasts both while small, shuffle-joins at real vocab.
    "n49_bigram_lm" -> (((s: SparkSession, d: String) => {
      import graft.functions.BigramArray
      val docs = Tables.documents(s, d)
      val toks = Text.tokens(col("text"))
      // native bigram kernel — see n45 / BigramArray scaladoc
      val bg = docs
        .select(col("doc_id"), explode(BigramArray.bigrams(col("text"))).as("b"))
        .select(col("doc_id"),
          element_at(split(col("b"), " "), 1).as("w1"),
          element_at(split(col("b"), " "), 2).as("w2"))
      val occ = docs.select(explode(toks).as("tok"))
      val c1 = occ.groupBy(col("tok")).agg(count(lit(1)).as("c1"))
      val c2 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
      val v = occ.agg(count_distinct(col("tok")).as("v"))
      bg
        .join(c2, Seq("w1", "w2"))
        .join(c1.select(col("tok").as("w1"), col("c1")), "w1")
        .crossJoin(broadcast(v))
        // `div`, not `/`: SQL div is exact integer division — a double
        // `/` could round up across an integer boundary and disagree
        // with DuckDB's `//` by 1 at the floor
        .withColumn("num", ((col("c2") + 1) * lit(1000000000L)).cast("long"))
        .withColumn("den", (col("c1") + col("v")).cast("long"))
        .select(col("doc_id"), expr("num div den").as("ppb"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("ppb")).as("sum_ppb"))
        .select(col("doc_id"), col("n_pairs"),
          expr("cast(sum_ppb as bigint) div n_pairs").as("mean_ppb"))
    }, Some(s"""
      WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
      bg0 AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
                THEN [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
                ELSE CAST([] AS VARCHAR[]) END) AS b FROM d),
      bg AS (SELECT doc_id, string_split(b, ' ')[1] AS w1,
                    string_split(b, ' ')[2] AS w2 FROM bg0),
      occ AS (SELECT unnest(toks) AS tok FROM d),
      c1 AS (SELECT tok, count(*) AS c1 FROM occ GROUP BY 1),
      c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
      v AS (SELECT count(DISTINCT tok) AS v FROM occ),
      scored AS (
        SELECT doc_id, ((c2.c2 + 1) * 1000000000) // (c1.c1 + v.v) AS ppb
        FROM bg JOIN c2 ON bg.w1 = c2.w1 AND bg.w2 = c2.w2
                JOIN c1 ON bg.w1 = c1.tok CROSS JOIN v)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(CAST(sum(ppb) AS BIGINT) // count(*) AS BIGINT) AS mean_ppb
      FROM scored GROUP BY 1"""))),

    // Directed containment pairs (Dedup.containmentPairs scaladoc):
    // the quote/subset detector — C(A→B) = |A∩B|/|A| ≥ 0.9 as exact
    // integer cross-multiplication. Unlike the jaccard family's
    // all-pairs oracles, containment's DuckDB twin is the SAME linear
    // inverted-index join, so it runs unsampled at every SF.
    "n46_containment" -> (((s: SparkSession, d: String) => {
      Dedup.containmentPairs(Tables.documents(s, d), "doc_id", "text")
    }, Some(containmentOracleSql))),

    // The skew-proof twin of n46 under the SAME oracle: the directed
    // prefix bound (Dedup.containmentPairsPrefix scaladoc) indexes only
    // each source's rarest |A|−⌈t·|A|⌉+1 shingles against the full
    // target index, then verifies candidates on full sets — exact by
    // the containment prefix theorem, and the 100 TB default for
    // boilerplate-skewed corpora (SKEW.md: the exact join's fan-out is
    // quadratic in df, the prefix never indexes the hot tail).
    "n63_containment_prefix" -> (((s: SparkSession, d: String) => {
      Dedup.containmentPairsPrefix(Tables.documents(s, d), "doc_id", "text")
    }, Some(containmentOracleSql))),

    // Sliding-window document chunking (32-token chunks, stride 24 —
    // 8-token overlap): the context-window prep step between cleaning
    // and packing (n28 packs whole docs; real pipelines chunk long docs
    // first so no sample straddles the model's context). Pure
    // per-row generator — transform+sequence then ONE explode, no
    // shuffle at any scale; chunk count per doc is
    // max(⌈(n−C)/S⌉+1, 1), so the tail chunk is short rather than
    // dropped (no token is lost). chunk_id keys the output fully.
    "n47_chunk_overlap" -> (((s: SparkSession, d: String) => {
      val C = 32
      val S = 24
      val toks = Text.tokens(col("text"))
      val n = size(toks)
      val nch = when(n > 0,
        greatest(ceil((n - lit(C)).cast("double") / S).cast("int") + 1, lit(1)))
        .otherwise(lit(0))
      Tables.documents(s, d)
        .select(col("doc_id"), toks.as("toks"), nch.as("nch"))
        .select(col("doc_id"), explode(
          // guard: sequence(0, -1) would DESCEND ([0,-1]), emitting two
          // phantom chunks for an empty doc — empty array instead
          when(col("nch") > 0,
            transform(sequence(lit(0), col("nch") - 1),
              i => struct(i.as("chunk_id"),
                concat_ws(" ", slice(col("toks"), i * S + 1, lit(C))).as("chunk"))))
            .otherwise(array().cast("array<struct<chunk_id:int,chunk:string>>")))
          .as("c"))
        .select(col("doc_id"), col("c.chunk_id"), col("c.chunk"))
    }, Some(s"""
      WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
      c AS (SELECT doc_id, toks,
              CASE WHEN len(toks) > 0
                THEN GREATEST(CAST(ceil((len(toks) - 32) / 24.0) AS INT) + 1, 1)
                ELSE 0 END AS nch
            FROM d)
      SELECT doc_id, CAST(i AS INT) AS chunk_id,
             array_to_string(toks[CAST(i*24+1 AS INT) : CAST(i*24+32 AS INT)], ' ') AS chunk
      FROM (SELECT doc_id, toks, unnest(range(0, nch)) AS i FROM c)"""))),

    // Per-doc keyword extraction: top-3 terms by tf·idf with a LOG-FREE
    // idf (score = tf·N/df — monotone in tf/df, so the same ranking as
    // raw-idf tf-idf) because ln() is not correctly-rounded IEEE and a
    // last-ulp disagreement between libm and java.lang.Math would break
    // the bit-exact oracle; tf·N is an exact integer, the single
    // division is the only rounding and both engines perform it
    // identically. Ties break on term ascending, so top-3 is fully
    // deterministic. Three shuffles at any scale: (doc,term) tf, term
    // df (join side that AQE broadcasts while the vocab is small and
    // shuffle-joins once it isn't — no hint pins it), and the per-doc
    // top-k window; the window's TakeOrdered-per-group keeps state at
    // O(k) per doc.
    "n41_tfidf_keywords" -> (((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val toks = docs.select(col("doc_id"), explode(Text.tokens(col("text"))).as("token"))
      val tf = toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      val dfT = toks.select(col("doc_id"), col("token")).distinct()
        .groupBy(col("token")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dfT, "token").crossJoin(broadcast(n))
        .select(col("doc_id"), col("token"),
          ((col("tf") * col("n_docs")).cast("double") / col("df")).as("score"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("token").asc)
      scored.withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("token"), col("score"))
    }, Some(s"""
      WITH toks AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
      tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
      df AS (SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
      n AS (SELECT count(*) AS n_docs FROM documents),
      sc AS (SELECT t.doc_id, t.token,
               CAST(t.tf * n.n_docs AS DOUBLE) / d.df AS score
             FROM tf t JOIN df d ON t.token = d.token CROSS JOIN n),
      rk AS (SELECT doc_id, token, score,
               row_number() OVER (PARTITION BY doc_id
                 ORDER BY score DESC, token) AS rk FROM sc)
      SELECT doc_id, CAST(rk AS INT) AS rk, token, score
      FROM rk WHERE rk <= 3"""))),

    // Benchmark decontamination: corpus docs (id > 20) sharing >= 3
    // distinct shingles with any "benchmark" doc (id <= 20, a
    // deterministic fixture split). Absolute-overlap threshold, not
    // jaccard — a short eval question inside a long document is the
    // case that matters. Worst offender per doc via struct-max
    // (overlap, bench_id): ties on overlap break to the HIGHEST bench
    // id on both engines.
    "n31_decontaminate" -> (((s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      Dedup.contaminated(
        docs.where(col("doc_id") > 20), docs.where(col("doc_id") <= 20),
        "doc_id", "text", w = 3, minOverlap = 3)
    }, Some(s"""
      WITH sh AS (
        SELECT doc_id, unnest($ssetSql) AS sh
        FROM (SELECT doc_id, $toksSql AS toks FROM documents)),
      hits AS (
        SELECT c.doc_id AS doc, b.doc_id AS bench, count(*) AS overlap
        FROM sh c JOIN sh b ON c.sh = b.sh
        WHERE c.doc_id > 20 AND b.doc_id <= 20
        GROUP BY c.doc_id, b.doc_id
        HAVING count(*) >= 3)
      SELECT doc AS doc_id,
        (max({'o': overlap, 'b': bench})).b AS bench_id,
        CAST(max(overlap) AS BIGINT) AS overlap
      FROM hits GROUP BY doc"""))),

    // Bloom-filter decontamination — n31's bounded-memory twin: the
    // benchmark shingle set becomes a ≤1024-row broadcast position set
    // (Bloom.scala scaladoc for the scale contract) instead of a
    // shingle equi-join side. One row per corpus doc with ≥1 distinct
    // shingle the filter may-contain; no false negatives, and the
    // deterministic md5 hash rows make the false positives themselves
    // bit-reproducible in the DuckDB oracle.
    "n44_bloom_decontaminate" -> (((s: SparkSession, d: String) => {
      import graft.functions.Bloom
      val sh = Tables.documents(s, d)
        .select(col("doc_id"), explode(Text.shingleSet(col("text"))).as("item"))
      val bench = sh.where(col("doc_id") <= 20).select(col("item")).distinct()
      val pos = Bloom.build(bench, k = 3, m = 1024)
      // packed-bitset probe (mayContainExpr scaladoc): the corpus side
      // pays one codegen'd predicate per shingle — no ×k explode, no
      // join; the only shuffle left is the per-doc count
      Tables.documents(s, d).where(col("doc_id") > 20)
        .select(col("doc_id"), explode(Text.shingleSet(col("text"))).as("item"))
        .where(Bloom.mayContainExpr(pos, k = 3, m = 1024, col("item")))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
    }, Some(bloomOracleSql))),

    // Text cleaning / PII-style redaction — the scrub step every
    // training corpus passes through: mask email-shaped tokens and long
    // digit runs, normalize whitespace, report counts. Patterns use
    // only character classes + bounded quantifiers so Java regex and
    // RE2 agree; Spark replaces all matches by default, DuckDB needs
    // the 'g' flag.
    "n30_redact_clean" -> (((s: SparkSession, d: String) => {
      val email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+"
      val longNum = "[0-9]{7,}"
      val masked = regexp_replace(
        regexp_replace(col("text"), email, "<EMAIL>"), longNum, "<NUM>")
      Tables.documents(s, d).select(
        col("doc_id"),
        regexp_count(col("text"), lit(email)).as("n_emails"),
        regexp_count(col("text"), lit(longNum)).as("n_longnums"),
        regexp_replace(trim(masked), "  +", " ").as("clean"))
    }, Some("""
      SELECT doc_id,
        len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+')) AS n_emails,
        len(regexp_extract_all(text, '[0-9]{7,}')) AS n_longnums,
        regexp_replace(trim(regexp_replace(regexp_replace(text,
          '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+', '<EMAIL>', 'g'),
          '[0-9]{7,}', '<NUM>', 'g')), '  +', ' ', 'g') AS clean
      FROM documents"""))),

    // Symmetric int8 quantization of the embedding column — the
    // storage-efficiency step before shipping vectors at corpus scale
    // (4 B → 1 B per component). floor(x·127/max|x|) everywhere:
    // identical doubles → identical floor on both engines (round would
    // hang the parity on half-even vs half-away semantics). The scale
    // factor (max|x|) rides along for dequantization.
    "n29_embed_quantize" -> (((s: SparkSession, d: String) => {
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        // null/empty vectors are filtered on BOTH sides: the engines
        // disagree on the degenerate forms (Spark's aggregate seed
        // gives mx=0.0 where DuckDB's list_max of [] gives NULL)
        .where(col("v").isNotNull && size(col("v")) > 0)
        .withColumn("mx", aggregate(col("v"), lit(0.0),
          (acc, x) => greatest(acc, abs(x))))
        .select(col("vec_id"), col("mx"),
          concat_ws(",", transform(col("v"), x =>
            when(col("mx") === 0.0, lit(0L))
              .otherwise(floor(x * lit(127.0) / col("mx"))).cast("string")))
            .as("qcsv"))
    }, Some("""
      SELECT vec_id, mx,
        array_to_string(list_transform(emb, x ->
          CAST(CAST(CASE WHEN mx = 0 THEN 0
                         ELSE floor(x * 127.0 / mx) END AS BIGINT) AS VARCHAR)), ',')
          AS qcsv
      FROM (SELECT vec_id, emb,
              list_max(list_transform(emb, x -> abs(x))) AS mx
            FROM (SELECT vec_id,
                    list_transform(embedding, e -> CAST(e AS DOUBLE)) AS emb
                  FROM embeddings
                  WHERE embedding IS NOT NULL AND len(embedding) > 0))"""))),

    // SimHash near-dup pairs via EXACT banding (pigeonhole: Hamming<=3
    // over 4 disjoint 16-bit bands forces a shared band) — candidates
    // from a band equi-join, exact chunk-wise Hamming verify, oracle =
    // the brute-force all-pairs query.
    "n26_simhash_neardup" -> (((s: SparkSession, d: String) => {
      Dedup.simhashPairs(pairDocs(s, d), "doc_id", "text", maxHamming = 3)
    }, Some {
      val ham = (0 until 4).map { b =>
        val ax = s"('0x' || substr(a.simhash, ${1 + 4 * b}, 4))::INT"
        val bx = s"('0x' || substr(b.simhash, ${1 + 4 * b}, 4))::INT"
        s"bit_count(xor($ax, $bx))"
      }.mkString(" + ")
      s"""
      WITH s AS (${simhashSqlOver(docsT)})
      SELECT a_id, b_id, hamming FROM (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, $ham AS hamming
        FROM s a JOIN s b ON a.doc_id < b.doc_id)
      WHERE hamming <= 3"""
    })),

    // Brute-force cosine similarity above threshold (bit-exact fold).
    "n05_ann_threshold" -> (((s: SparkSession, d: String) => {
      Similarity.aboveThreshold(Tables.embeddings(s, d), 0.2)
    }, Some(s"""
      SELECT vec_id, cos FROM
        (SELECT vec_id, $annCosSql AS cos FROM embeddings)
      WHERE cos > 0.2"""))),

    // Exact cosine top-k, deterministic tiebreak.
    "n06_ann_topk" -> (((s: SparkSession, d: String) => {
      Similarity.topK(Tables.embeddings(s, d), 20)
    }, Some(s"""
      SELECT vec_id, cos FROM
        (SELECT vec_id, $annCosSql AS cos FROM embeddings)
      ORDER BY cos DESC, vec_id LIMIT 20"""))),

    // SRP-LSH bucketed ANN — the scale path for n05/n06: score only the
    // probe's bucket (at 100 TB: a partition-pruned read on a bucket
    // column) then exact cosine top-k inside it. The oracle mirrors the
    // bucketing bit-for-bit, so the pruned semantics are verified
    // exactly rather than approximately.
    "n12_ann_lsh_bucket" -> (((s: SparkSession, d: String) => {
      Similarity.lshBucketTopK(Tables.embeddings(s, d), 10)
    }, Some(s"""
      SELECT vec_id, cos FROM
        (SELECT vec_id, $annCosSql AS cos FROM embeddings
         WHERE ($srpBucketSql) = ${Similarity.queryBucket})
      ORDER BY cos DESC, vec_id LIMIT 10"""))),

    // IVF-style ANN — the second pruning strategy next to SRP-LSH
    // (n12): nearest-of-4 fixed centroids as the cell id, exact cosine
    // top-k inside the probe's cell. argmin computed as
    // (‖c‖² − 2·v·c) on both sides (the ‖v‖² term cancels), ties to
    // the lowest cell id.
    "n15_ann_ivf" -> (((s: SparkSession, d: String) => {
      Similarity.ivfTopK(Tables.embeddings(s, d), 10)
    }, Some {
      val sScores = (0 until Similarity.Cells).map { m =>
        val fold = foldSql(Similarity.centroid(m).zipWithIndex.map {
          case (c, j) => s"(CAST(embedding[${j + 1}] AS DOUBLE) * $c)"
        })
        s"(${Similarity.centroidNorm2(m)} - 2.0 * ($fold)) AS s$m"
      }.mkString(",\n")
      val argmin = "CASE WHEN s0<=s1 AND s0<=s2 AND s0<=s3 THEN 0 " +
        "WHEN s1<=s2 AND s1<=s3 THEN 1 WHEN s2<=s3 THEN 2 ELSE 3 END"
      s"""
      SELECT vec_id, cos FROM
        (SELECT vec_id, $annCosSql AS cos, $argmin AS cell
         FROM (SELECT vec_id, embedding, $sScores FROM embeddings))
      WHERE cell = ${Similarity.queryCell}
      ORDER BY cos DESC, vec_id LIMIT 10"""
    })),

    // ANN recall harness (Similarity.recallAtK scaladoc): recall@10 of
    // the IVF cell-pruned path against the exact top-10 ground truth,
    // one row per probe — the measurement a pruned-index deployment is
    // judged by, and EXACT here (fixed centroids, exact fold
    // arithmetic, vec_id tiebreaks) so the oracle verifies it to the
    // ppm instead of sampling it. WindowGroupLimit keeps each top-k's
    // shuffle at O(tasks·probes·k) rows at any corpus size.
    "n72_ann_recall" -> (((s: SparkSession, d: String) => {
      Similarity.recallAtK(Tables.embeddings(s, d), 10)
    }, Some(annRecallSql(10)))),

    // Embedding-cosine near-dup pairs (the fourth dedup modality next
    // to exact/jaccard/minhash): all pairs with cos >= 0.45, native dot
    // kernel inside the pair join, norms precomputed per side.
    "n13_embed_neardup" -> (((s: SparkSession, d: String) => {
      Similarity.cosinePairs(pairEmb(s, d), 0.45)
    }, Some(s"""
      WITH v AS (SELECT vec_id, embedding, sqrt($embEeSql) AS nrm FROM $embT)
      SELECT a_id, b_id, cos FROM
        (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           (${embDotSql("a", "b")}) / (a.nrm * b.nrm) AS cos
         FROM v a JOIN v b ON a.vec_id < b.vec_id)
      WHERE cos >= 0.45"""))),

    // Same pairs, scale-safe plan: grid-distributed equi-join (1-bucket-
    // theta) instead of n13's broadcast NLJ — identical result set, so
    // the oracle is n13's brute-force SQL verbatim. The exact mid-
    // threshold regime admits no candidate filter (fixture pairs at
    // cos>=0.45 span all SRP Hamming distances), so the fix at 100 TB is
    // the join TOPOLOGY: bounded per-task size, uniform shuffle, no
    // fact-table broadcast. PlanSpec pins equi-join, no NLJ.
    "n23_embed_neardup_grid" -> (((s: SparkSession, d: String) => {
      Similarity.cosinePairsGrid(pairEmb(s, d), 0.45)
    }, Some(s"""
      WITH v AS (SELECT vec_id, embedding, sqrt($embEeSql) AS nrm FROM $embT)
      SELECT a_id, b_id, cos FROM
        (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           (${embDotSql("a", "b")}) / (a.nrm * b.nrm) AS cos
         FROM v a JOIN v b ON a.vec_id < b.vec_id)
      WHERE cos >= 0.45"""))),

    // SRP-bucketed near-dup pairs for the high-similarity regime:
    // candidates restricted to bucket Hamming distance <= 1 (part of the
    // semantics — the oracle mirrors the bucket predicate bit-exactly,
    // like n12/n15 do for query-ANN), exact cosine verify inside.
    "n24_embed_neardup_lsh" -> (((s: SparkSession, d: String) => {
      Similarity.cosinePairsBucketed(pairEmb(s, d), 0.45, probeHamming = 1)
    }, Some(s"""
      WITH v AS (SELECT vec_id, embedding, sqrt($embEeSql) AS nrm,
                        ($srpBucketSql) AS bkt FROM $embT)
      SELECT a_id, b_id, cos FROM
        (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           (${embDotSql("a", "b")}) / (a.nrm * b.nrm) AS cos
         FROM v a JOIN v b
           ON a.vec_id < b.vec_id AND bit_count(xor(a.bkt, b.bkt)) <= 1)
      WHERE cos >= 0.45"""))),

    // Language-ID heuristic (stopword scoring).
    "n07_lang_id" -> (((s: SparkSession, d: String) => {
      Tables.documents(s, d)
        .select(col("doc_id"), Text.langId(col("text")).as("lang_guess"))
    }, Some(s"""
      SELECT doc_id,
        CASE WHEN len(list_filter(toks, t -> t IN $stopListSql)) >= 2 THEN 'en'
             WHEN len(toks) = 0 THEN 'empty'
             ELSE 'und' END AS lang_guess
      FROM (SELECT doc_id, $toksSql AS toks FROM documents)"""))),

    // Quality scoring: token count, stopword ratio, avg token length,
    // composite score — single divisions, fixed fold order.
    "n08_quality" -> (((s: SparkSession, d: String) => {
      Tables.documents(s, d).select(
        col("doc_id"),
        Text.tokenCountWs(col("text")).cast("long").as("n_tokens"),
        Text.stopwordRatio(col("text")).as("stop_ratio"),
        Text.avgTokenLen(col("text")).as("avg_tok_len"),
        Text.qualityScore(col("text")).as("quality"))
    }, Some(s"""
      SELECT doc_id, n_tokens,
        CAST(stop_hits AS DOUBLE) / n_tokens AS stop_ratio,
        CAST(len_sum AS DOUBLE) / n_tokens AS avg_tok_len,
        ((CAST(least(n_tokens, 50) AS DOUBLE) / 50.0) * 0.5
          + (1.0 - CAST(stop_hits AS DOUBLE) / n_tokens) * 0.3)
          + least((CAST(len_sum AS DOUBLE) / n_tokens) / 10.0, 1.0) * 0.2 AS quality
      FROM (SELECT doc_id, len(toks) AS n_tokens,
              len(list_filter(toks, t -> t IN $stopListSql)) AS stop_hits,
              list_sum(list_transform(toks, t -> length(t))) AS len_sum
            FROM (SELECT doc_id, $toksSql AS toks FROM documents))"""))),

    // Token counting: whitespace + BPE-ish pre-tokenizer regex.
    "n09_token_count" -> (((s: SparkSession, d: String) => {
      Tables.documents(s, d).select(
        col("doc_id"),
        Text.tokenCountWs(col("text")).cast("long").as("n_ws"),
        Text.tokenCountBpe(col("text")).cast("long").as("n_bpe"))
    }, Some(s"""
      SELECT doc_id,
        CAST(len($toksSql) AS BIGINT) AS n_ws,
        CAST(len(regexp_extract_all(text, '${Text.BpePattern}')) AS BIGINT) AS n_bpe
      FROM documents"""))),

    // Document fingerprint groups (order/repetition-insensitive dedup).
    "n10_fingerprint" -> (((s: SparkSession, d: String) => {
      Dedup.fingerprintGroups(Tables.documents(s, d), col("text"), col("doc_id"))
    }, Some(s"""
      SELECT md5(array_to_string(list_sort(list_distinct($toksSql)), ' ')) AS fingerprint,
        count(*) AS n_docs, min(doc_id) AS keep_id
      FROM documents
      GROUP BY 1"""))),

    // Measure-before-you-dedup: estimate the corpus duplication rate
    // from a deterministic 1-in-4 CONTENT-HASH sample — every member
    // of a dup group shares the hash, so groups enter the sample
    // atomically and the in-sample rate is unbiased (a uniform doc
    // sample keeps a pair only 1/16 of the time and reads ~4× low).
    // Both dup bases from one scan: exact md5 + n10's fingerprint.
    "n83_dup_rate_estimate" -> (((s: SparkSession, d: String) => {
      Dedup.dupRateEstimate(Tables.documents(s, d), col("text"))
    }, Some(s"""
      WITH b AS (
        SELECT 'exact' AS basis, md5(text) AS h FROM documents
        UNION ALL
        SELECT 'fingerprint' AS basis,
          md5(array_to_string(list_sort(list_distinct($toksSql)), ' ')) AS h
        FROM documents),
      smp AS (SELECT basis, h FROM b
              WHERE ('0x' || substr(h, 1, 15))::BIGINT
                % ${graft.operators.Dedup.DupSampleMod} = 0),
      g AS (SELECT basis, h, count(*) AS c FROM smp GROUP BY 1, 2)
      SELECT basis, CAST(sum(c) AS BIGINT) AS n_sampled,
        CAST(count(*) AS BIGINT) AS n_groups,
        CAST(sum(c) - count(*) AS BIGINT) AS n_dupes,
        CAST((sum(c) - count(*)) * 1000000 // sum(c) AS BIGINT)
          AS dup_rate_ppm
      FROM g GROUP BY basis"""))),

    // Snapshot-delta dedup classification — the incremental-crawl
    // overlap report (FineWeb measured that deduping ACROSS dumps
    // hurt quality vs per-dump; this emits the overlap numbers that
    // decision needs). Snapshots = the deterministic doc_id parity
    // split; the previous snapshot collapses to distinct-digest
    // indexes probed by digest-keyed left joins — no broadcast
    // assumption, the old snapshot is corpus-sized at 100 TB.
    "n84_snapshot_delta" -> (((s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      Dedup.snapshotDelta(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1),
        col("text"), col("source"))
    }, Some(snapshotDeltaOracleSql))),

    // Snapshot POLICY applied — n84 reports the overlap, this emits
    // the KEPT corpus under the named rule: drop cross-snapshot exact
    // and fingerprint dups, KEEP near-dups (FineWeb's per-dump
    // independence). Two shuffle-hash-hinted left-anti joins against
    // the distinct-digest indexes — the old snapshot must never
    // broadcast (PlanSpec pins it).
    "n86_snapshot_policy_apply" -> (((s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val (aMd5, aFp) = Dedup.snapshotIndexes(
        docs.where(col("doc_id") % 2 === 0), col("text"))
      Dedup.applySnapshotPolicy(
        docs.where(col("doc_id") % 2 === 1), aMd5, aFp, col("text"))
        .select(col("doc_id"), col("source"), col("lang"))
    }, Some(s"""
      WITH a AS (SELECT DISTINCT md5(text) AS h FROM documents
                 WHERE doc_id % 2 = 0),
      afp AS (SELECT DISTINCT
                md5(array_to_string(list_sort(list_distinct($toksSql)), ' '))
                  AS fp
              FROM documents WHERE doc_id % 2 = 0),
      b AS (SELECT doc_id, source, lang, md5(text) AS h,
              md5(array_to_string(list_sort(list_distinct($toksSql)), ' '))
                AS fp
            FROM documents WHERE doc_id % 2 = 1)
      SELECT doc_id, source, lang FROM b
      WHERE h NOT IN (SELECT h FROM a)
        AND fp NOT IN (SELECT fp FROM afp)"""))),

    // The STRICT cross-snapshot policy — the comparison point n86's
    // FineWeb rule argues against: drop exact+fingerprint dups AND
    // near-dups of the previous snapshot. Order matters for cost: the
    // cheap digest anti-joins run first, the LSH pass bands only their
    // survivors (old↔new banding only, per n85 — within-snapshot
    // collisions never materialize). Rides the pair sample at sf0.1
    // (the near-dup oracle is the O(|A|·|B|) pair subquery).
    "n89_snapshot_policy_strict" -> (((s: SparkSession, d: String) => {
      val docs = pairDocs(s, d)
      val oldSnap = docs.where(col("doc_id") % 2 === 0)
      val (aMd5, aFp) = Dedup.snapshotIndexes(oldSnap, col("text"))
      // lineage-cut like snapshotPipeline's kept frame: kept feeds the
      // LSH pass AND the final anti-join — without the cut the digest
      // anti-joins (and the old snapshot's index aggregates under
      // them) re-derive once per consumer (ADVICE r16)
      val kept = Dedup.applySnapshotPolicy(
        docs.where(col("doc_id") % 2 === 1), aMd5, aFp, col("text"))
        .localCheckpoint()
      val losers = MinHashLsh.snapshotNearDupPairs(oldSnap, kept)
        .select(col("b_id"))
      kept.join(losers, kept("doc_id") === losers("b_id"), "left_anti")
        .select(col("doc_id"), col("source"), col("lang"))
    }, Some(s"""
      WITH a89 AS (SELECT DISTINCT md5(text) AS h FROM $docsT
                   WHERE doc_id % 2 = 0),
      afp89 AS (SELECT DISTINCT
                  md5(array_to_string(list_sort(list_distinct($toksSql)), ' '))
                    AS fp
                FROM $docsT WHERE doc_id % 2 = 0),
      bk AS (SELECT doc_id, source, lang, text FROM $docsT
             WHERE doc_id % 2 = 1
               AND md5(text) NOT IN (SELECT h FROM a89)
               AND md5(array_to_string(list_sort(list_distinct($toksSql)), ' '))
                 NOT IN (SELECT fp FROM afp89)),
      sa AS (SELECT doc_id, $ssetSql AS sset
             FROM (SELECT doc_id, $toksSql AS toks FROM $docsT
                   WHERE doc_id % 2 = 0)),
      sb AS (SELECT doc_id, $ssetSql AS sset
             FROM (SELECT doc_id, $toksSql AS toks FROM bk)),
      nd AS (SELECT b.doc_id AS b_id FROM sa a JOIN sb b
             ON CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE)
                / len(list_distinct(list_concat(a.sset, b.sset))) >= ${MinHashLsh.Threshold})
      SELECT doc_id, source, lang FROM bk
      WHERE doc_id NOT IN (SELECT b_id FROM nd)"""))),

    // URL-level cross-snapshot delta — the dedup crawls run FIRST:
    // key equality on the canonical URL costs no text processing, and
    // most re-crawls drop right there. Canonical URL synthesized from
    // source + the stable page id (doc_id div 2 — successive parities
    // model successive crawls of the same page set). Unchanged /
    // changed / new-URL counts per source.
    "n88_snapshot_url_delta" -> (((s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val url = concat(col("source"), lit("/"),
        expr("doc_id div 2").cast("string"))
      Dedup.snapshotUrlDelta(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1),
        url, col("text"), col("source"))
    }, Some("""
      WITH a AS (SELECT DISTINCT
                   source || '/' || CAST(doc_id // 2 AS VARCHAR) AS url,
                   md5(text) AS h
                 FROM documents WHERE doc_id % 2 = 0),
      au AS (SELECT DISTINCT url FROM a),
      b AS (SELECT source,
              source || '/' || CAST(doc_id // 2 AS VARCHAR) AS url,
              md5(text) AS h
            FROM documents WHERE doc_id % 2 = 1),
      j AS (SELECT b.source, (a.h IS NOT NULL) AS same_content,
              (au.url IS NOT NULL) AS url_seen
            FROM b LEFT JOIN a ON b.url = a.url AND b.h = a.h
                   LEFT JOIN au ON b.url = au.url)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN same_content THEN 1 ELSE 0 END) AS BIGINT)
          AS n_unchanged,
        CAST(sum(CASE WHEN NOT same_content AND url_seen THEN 1 ELSE 0 END)
          AS BIGINT) AS n_changed,
        CAST(sum(CASE WHEN NOT url_seen THEN 1 ELSE 0 END) AS BIGINT)
          AS n_url_new
      FROM j GROUP BY source"""))),

    // Delta classification against the ACCUMULATED store — the shape
    // successive crawls actually run: snapshots 1 and 2 APPEND into
    // the SnapshotStore (the anti-join keeps the digest components
    // one-row-per-distinct-value across appends — SnapshotStoreSpec's
    // append==rebuild invariant, exercised here in a declared,
    // hash-checked query), snapshot 3 classifies against the
    // accumulated indexes. Crawls = the doc_id mod-3 split.
    "n90_snapshot_chain_delta" -> (((s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val dir = graft.TempDirs.create("graft-snapshot-chain")
      graft.operators.SnapshotStore.append(s, dir,
        docs.where(col("doc_id") % 3 === 0))
      graft.operators.SnapshotStore.append(s, dir,
        docs.where(col("doc_id") % 3 === 1))
      graft.operators.SnapshotStore.serveDelta(s, dir,
        docs.where(col("doc_id") % 3 === 2), col("text"), col("source"))
    }, Some(s"""
      WITH a AS (SELECT DISTINCT md5(text) AS h FROM documents
                 WHERE doc_id % 3 < 2),
      afp AS (SELECT DISTINCT
                md5(array_to_string(list_sort(list_distinct($toksSql)), ' '))
                  AS fp
              FROM documents WHERE doc_id % 3 < 2),
      b AS (SELECT source, md5(text) AS h,
              md5(array_to_string(list_sort(list_distinct($toksSql)), ' '))
                AS fp
            FROM documents WHERE doc_id % 3 = 2),
      j AS (SELECT b.source, (a.h IS NOT NULL) AS ex,
              (afp.fp IS NOT NULL) AS fpin
            FROM b LEFT JOIN a ON b.h = a.h
                   LEFT JOIN afp ON b.fp = afp.fp)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN ex THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
        CAST(sum(CASE WHEN NOT ex AND fpin THEN 1 ELSE 0 END) AS BIGINT)
          AS n_fp_dup,
        CAST(sum(CASE WHEN NOT ex AND NOT fpin THEN 1 ELSE 0 END) AS BIGINT)
          AS n_new
      FROM j GROUP BY source"""))),

    // The crawl cycle CLOSED (the round-16 top ask): two production
    // increments run end to end — each cycle probes the accumulated
    // store, applies the n86 keep rule, curates the survivors with the
    // full five-stage cascade, and APPENDS the curated survivors'
    // indexes back into the store (staged, audited,
    // manifest-committed) — then snapshot 3 classifies against the
    // accumulated, CURATED corpus, proving the next probe sees what
    // the cycles committed. Oracle = the curation CTE chain twice
    // (c1/c2 suffixes) + the store-union CTEs + n84's rollup; the
    // corpus-scale generalization of the reference's sink-side dedup
    // loop (kafka_s.py:614-630). Rides the pair sample at sf0.1 (two
    // LSH stages). Budgets third with the mod-3 chunks; the two
    // increments build in [[twoCycles]].
    "n91_crawl_cycle" -> (((s: SparkSession, d: String) => {
      val docs = pairDocs(s, d)
      val dir = twoCycles(s, d)
      graft.operators.SnapshotStore.serveDelta(s, dir,
        docs.where(col("doc_id") % 3 === 2), col("text"), col("source"))
    }, Some(crawlCycleSql))),

    // n90's twin for the bands/sets components: snapshots 1 and 2
    // APPEND into the SnapshotStore and snapshot 3 probes the
    // ACCUMULATED banding index with the same probeIndex kernel as
    // s37/s38 — the near-dup path of successive crawls against a
    // multi-append store, declared and hash-checked (SnapshotStoreSpec
    // proves append==rebuild; this proves the accumulated serve
    // answers the production question). Rides the pair sample at
    // sf0.1 (the exact-verify oracle is O(|A|·|B|)).
    "n92_store_chain_neardup" -> (((s: SparkSession, d: String) => {
      val docs = pairDocs(s, d)
      val dir = graft.TempDirs.create("graft-snapshot-chain-nd")
      graft.operators.SnapshotStore.append(s, dir,
        docs.where(col("doc_id") % 3 === 0))
      graft.operators.SnapshotStore.append(s, dir,
        docs.where(col("doc_id") % 3 === 1))
      graft.operators.SnapshotStore.serveNearDup(s, dir,
        docs.where(col("doc_id") % 3 === 2))
    }, Some(storeChainNearDupSql))),

    // n92 served from a COMPACTED store (the r17 metadata-cost ask,
    // declared): the two appends rewrite into ONE through the same
    // stage→audit→publish protocol (audit = per-component count +
    // EXCEPT ALL row-multiset equality) and gcOrphans DELETES the
    // superseded append dirs before the probe — so the near-dup serve
    // provably answers from the compacted append alone, not a
    // leftover path, and reads pay one manifest + one listing per
    // component instead of O(appends). Same probeIndex kernel, same
    // exact-Jaccard oracle as n92: a compaction that dropped or
    // duplicated an index row would change the pair table and fail
    // the hash. Rides the pair sample at sf0.1 like n92.
    "n93_compacted_store_serve" -> (((s: SparkSession, d: String) => {
      val docs = pairDocs(s, d)
      val dir = graft.TempDirs.create("graft-snapshot-compact-nd")
      graft.operators.SnapshotStore.append(s, dir,
        docs.where(col("doc_id") % 3 === 0))
      graft.operators.SnapshotStore.append(s, dir,
        docs.where(col("doc_id") % 3 === 1))
      graft.operators.SnapshotStore.compact(s, dir)
      graft.operators.SnapshotStore.gcOrphans(s, dir)
      graft.operators.SnapshotStore.serveNearDup(s, dir,
        docs.where(col("doc_id") % 3 === 2))
    }, Some(storeChainNearDupSql))),

    // n93's lifecycle extended by the REPLAY hazard the tombstone
    // protocol guards (the r18 top ask, DECLARED): both appends commit
    // under KEYED ids (s42's (dump, batch) replay key), compact
    // rewrites them into one, gcOrphans reclaims the superseded dirs
    // AND trims the manifest history to a single version — then one
    // keyed append REPLAYS (the crash-recovery path arriving after a
    // compaction) and must NO-OP via its tombstone line: without it
    // the replay would re-stage and double-append every sets/bands
    // row, fanning out the pair table and failing the hash. Same
    // probeIndex kernel and exact-Jaccard oracle as n92/n93; rides
    // the pair sample at sf0.1.
    "n95_compacted_replay_serve" -> (((s: SparkSession, d: String) => {
      val docs = pairDocs(s, d)
      val dir = graft.TempDirs.create("graft-compact-replay-nd")
      graft.operators.SnapshotStore.appendAs(s, dir, "append-dump-1-b0",
        docs.where(col("doc_id") % 3 === 0))
      graft.operators.SnapshotStore.appendAs(s, dir, "append-dump-2-b0",
        docs.where(col("doc_id") % 3 === 1))
      graft.operators.SnapshotStore.compact(s, dir)
      graft.operators.SnapshotStore.gcOrphans(s, dir, keepManifests = 1)
      graft.operators.SnapshotStore.appendAs(s, dir, "append-dump-2-b0",
        docs.where(col("doc_id") % 3 === 1)) // replay -> tombstone no-op
      graft.operators.SnapshotStore.serveNearDup(s, dir,
        docs.where(col("doc_id") % 3 === 2))
    }, Some(storeChainNearDupSql))),

    // The accumulated curated corpus SERVED from the store's new docs
    // component (VERDICT r18 #3, declared): two crawl cycles commit
    // their curated increments — indexes AND the (did, lang, text)
    // rows themselves — and a training run then reads the corpus from
    // the store alone, never re-deriving the curation lineage:
    // per-language doc/token counts + the order-independent bit_xor
    // corpus signature over the served rows, hash-checked against the
    // two-cycle curation CTE chain's pass5 survivors. tok recomputes
    // through the same TextStats kernel the cascade used, so a
    // text-mangling docs write would also shift n_tokens. Rides the
    // pair sample at sf0.1 (two LSH train stages, like n91).
    "n94_store_docs_corpus" -> (((s: SparkSession, d: String) => {
      val dir = twoCycles(s, d)
      graft.operators.SnapshotStore.docs(s, dir)
        .select(col("lang"),
          graft.functions.TextStats.textStats(col("text"))
            .getField("n_tokens").cast("long").as("tok"),
          conv(substring(md5(col("did").cast("string")), 1, 15), 16, 10)
            .cast("long").as("hv"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("tok")), lit(0L)).as("n_tokens"),
          coalesce(expr("bit_xor(hv)"), lit(0L)).as("corpus_xor"))
    }, Some(storeDocsSql))),

    // ...and the store-served corpus consumed by the PACKER (n81's
    // arithmetic over SnapshotStore.docs): training sequences come
    // straight from the accumulated store — per-language
    // concat-then-chop over the persisted (did, lang, text) rows,
    // no curation lineage re-derived. A docs row lost or duplicated
    // by the two commits would shift every downstream pack offset in
    // its language and fail the hash. Oracle = the two-cycle chain +
    // n28's pack CTEs over the survivor union; rides the pair sample
    // at sf0.1.
    "n96_store_pack" -> (((s: SparkSession, d: String) => {
      val dir = twoCycles(s, d)
      graft.operators.Curation.packCorpus(
        graft.operators.SnapshotStore.docs(s, dir)
          .select(col("lang"), col("did").as("doc_id"),
            graft.functions.TextStats.textStats(col("text"))
              .getField("n_tokens").cast("long").as("tok")))
    }, Some(storePackSql))),

    // Multimodal plumbing: binary payload + typed metadata, decoded
    // per-partition via mapPartitions (decode itself is a deterministic
    // stub — no codecs in the container; see Multimodal.decodeStub).
    "n11_multimodal_meta" -> (((s: SparkSession, d: String) => {
      Multimodal.decodedMeta(Tables.documents(s, d))
    }, Some("""
      SELECT doc_id, 'image/fake' AS mime,
        CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        CAST(octet_length(encode(text)) % 640 AS INT) AS width,
        CAST(octet_length(encode(text)) % 480 AS INT) AS height,
        substr(md5(text), 1, 16) AS sig
      FROM documents"""))),

    // Dedup APPLIED: the corpus that survives near-dup removal (keep
    // the min-id member of each qualifying pair — greedy, single pass;
    // a production pipeline would union-find connected components in a
    // few iterations of the same pair join). Pairs come from the LSH
    // detector (n03's verified operating point: S-curve ≈ 1 at t=0.8,
    // so its output equals the exact answer the oracle computes) —
    // composing the sketch path into curation, at the sketch's cost.
    "n16_dedup_apply" -> (((s: SparkSession, d: String) => {
      val docs = pairDocs(s, d)
      val losers = MinHashLsh.nearDupPairs(docs)
        .select(col("b_id"))
      docs.join(losers, docs("doc_id") === losers("b_id"), "left_anti")
        .select(col("doc_id"), col("lang"))
    }, Some(s"""
      WITH s AS (
        SELECT doc_id, $ssetSql AS sset
        FROM (SELECT doc_id, $toksSql AS toks FROM $docsT)),
      pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE)
            / len(list_distinct(list_concat(a.sset, b.sset))) AS jaccard
        FROM s a JOIN s b ON a.doc_id < b.doc_id)
      SELECT doc_id, lang FROM $docsT
      WHERE doc_id NOT IN (SELECT b_id FROM pairs WHERE jaccard >= ${MinHashLsh.Threshold})"""))),

    // Union-find dedup apply — the production semantics n16's greedy
    // pass approximates: connected components over the near-dup pairs
    // (min-label propagation to a fixpoint), keep exactly ONE doc (the
    // min id) per component. Transitive chains A~B~C with A≁C keep A
    // only — greedy would also drop C's pair-partner B twice but keep
    // docs greedily per-pair. Oracle: recursive-CTE reachability
    // closure (min reachable id == component min, edges symmetric).
    "n25_dedup_components" -> (((s: SparkSession, d: String) => {
      val docs = pairDocs(s, d)
      val pairs = MinHashLsh.nearDupPairs(docs)
      val labels = Dedup.connectedComponents(pairs)
      val losers = labels.where(col("comp") =!= col("id"))
        .select(col("id").as("loser"))
      docs.join(losers, docs("doc_id") === col("loser"), "left_anti")
        .select(col("doc_id"), col("lang"))
    }, Some(s"""
      WITH RECURSIVE
      s AS (
        SELECT doc_id, $ssetSql AS sset
        FROM (SELECT doc_id, $toksSql AS toks FROM $docsT)),
      pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE)
            / len(list_distinct(list_concat(a.sset, b.sset))) >= ${MinHashLsh.Threshold}),
      edges AS (
        SELECT a_id AS src, b_id AS dst FROM pairs
        UNION ALL SELECT b_id, a_id FROM pairs),
      reach AS (
        SELECT src AS id, src AS r FROM edges
        UNION
        SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
      comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)
      SELECT doc_id, lang FROM $docsT
      WHERE doc_id NOT IN (SELECT id FROM comp WHERE comp < id)"""))),

    // The curation step a training-data pipeline actually ships:
    // language + quality + length gates composed into the surviving
    // corpus (n07/n08/n09 as a filter, not a report).
    "n18_quality_filter" -> (((s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      docs.select(
          col("doc_id"), col("lang"),
          Text.langId(col("text")).as("lang_guess"),
          Text.tokenCountWs(col("text")).cast("long").as("n_tokens"),
          Text.qualityScore(col("text")).as("quality"))
        .where(col("lang_guess") === "en" &&
          col("n_tokens").between(8, 1000) && col("quality") > 0.5)
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("quality"))
    }, Some(s"""
      SELECT doc_id, lang, n_tokens, quality FROM (
        SELECT doc_id, lang, n_tokens,
          CASE WHEN stop_hits >= 2 THEN 'en'
               WHEN n_tokens = 0 THEN 'empty' ELSE 'und' END AS lang_guess,
          ((CAST(least(n_tokens, 50) AS DOUBLE) / 50.0) * 0.5
            + (1.0 - CAST(stop_hits AS DOUBLE) / n_tokens) * 0.3)
            + least((CAST(len_sum AS DOUBLE) / n_tokens) / 10.0, 1.0) * 0.2 AS quality
        FROM (SELECT doc_id, lang, len(toks) AS n_tokens,
                len(list_filter(toks, t -> t IN $stopListSql)) AS stop_hits,
                list_sum(list_transform(toks, t -> length(t))) AS len_sum
              FROM (SELECT doc_id, lang, $toksSql AS toks FROM documents)))
      WHERE lang_guess = 'en' AND n_tokens BETWEEN 8 AND 1000 AND quality > 0.5"""))),

    // Multimodal feature extraction: 8 evenly-spaced payload bytes
    // normalized to [0,1] per document (stub for a batch-amortized
    // model; output feeds the similarity operators unchanged).
    "n17_features" -> (((s: SparkSession, d: String) => {
      Multimodal.extractedFeatures(Tables.documents(s, d))
    }, Some {
      // byte-indexed like the Spark side (UTF-8 payload bytes via
      // hex-pair extraction), not char-indexed — a char-based oracle
      // only agrees while the fixture text is pure ASCII (ADVICE r02)
      val fs = (0 until 8).map(i =>
        s"CASE WHEN n = 0 THEN 0.0 ELSE " +
          s"('0x' || substr(hx, 2 * (($i * (n - 1)) // 7) + 1, 2))::INT / 255.0 END AS f$i")
        .mkString(",\n        ")
      s"""SELECT doc_id, $fs
        FROM (SELECT doc_id, octet_length(encode(text)) AS n,
                hex(encode(text)) AS hx FROM documents)"""
    })),

    // Multimodal frame-sampling plumbing: per-document 0..n frame
    // fan-out via mapPartitions+flatMap (decode stubbed; see
    // Multimodal.frameSample).
    "n14_frame_sample" -> (((s: SparkSession, d: String) => {
      Multimodal.sampledFrames(Tables.documents(s, d))
    }, Some("""
      SELECT doc_id, frame_idx, frame_idx * 333 AS ts_ms,
        substr(md5(text || ':' || CAST(frame_idx AS VARCHAR)), 1, 16) AS sig
      FROM (SELECT doc_id, text,
              unnest(range(octet_length(encode(text)) % 8)) AS frame_idx
            FROM documents)"""))),

    // Corpus token histogram: explode → count → deterministic top-k
    // (vocabulary statistics — the explode+agg shape every corpus-stats
    // job uses; map-side partial agg bounds the shuffle at |vocab|).
    "n19_token_histogram" -> (((s: SparkSession, d: String) => {
      Tables.documents(s, d)
        .select(explode(Text.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(20)
    }, Some(s"""
      SELECT token, count(*) AS n
      FROM (SELECT unnest($toksSql) AS token FROM documents)
      GROUP BY token ORDER BY n DESC, token LIMIT 20"""))),

    // Corpus-level MinHash sketches via the typed union Aggregator
    // (MinHashAgg): one k-long sketch per language sub-corpus in a
    // single aggregation pass. Hash-gated: uses the md5-based signature
    // mode (first 60 bits of md5(shingle || '#' || seed)), which DuckDB
    // expresses exactly; the XXH64 kernel stays the production path
    // (n03) and its union property is verified in ShinglesSpec. The
    // oracle exploits min-distributivity: the union sketch's component
    // i is the min over ALL (doc, shingle) pairs in the group — doc
    // boundaries and shingle distinctness are irrelevant under min.
    "n20_minhash_corpus" -> (((s: SparkSession, d: String) => {
      // empty shingle sets are dropped BEFORE signing: an all-MaxValue
      // signature is a no-op under min-union, but a language whose docs
      // are ALL too short would emit a MaxValue sketch row here while
      // the oracle's unnest produces no row for it — filter so both
      // sides agree the group is absent
      val sigs = Tables.documents(s, d)
        .select(col("lang"), Text.shingleSet(col("text")).as("sset"))
        .where(size(col("sset")) > 0)
        .select(col("lang"),
          graft.functions.Shingles.minhashSigMd5(col("sset"),
            graft.functions.MinHashAgg.K).as("sig"))
      sigs.groupBy(col("lang"))
        .agg(graft.functions.MinHashAgg.union(col("sig")).as("sketch"))
        .select(col("lang"),
          concat_ws(",", transform(col("sketch"), _.cast("string"))).as("sketch_csv"))
    }, Some(s"""
      WITH sh AS (
        SELECT lang, unnest($ssetSql) AS s
        FROM (SELECT lang, $toksSql AS toks FROM documents)
      ),
      comp AS (
        SELECT lang, r.i AS i,
               min(('0x' || substr(md5(s || '#' || CAST(r.i AS VARCHAR)), 1, 15))::UBIGINT) AS m
        FROM sh CROSS JOIN range(${graft.functions.MinHashAgg.K}) r(i)
        GROUP BY lang, r.i
      )
      SELECT lang, string_agg(CAST(m AS VARCHAR), ',' ORDER BY i) AS sketch_csv
      FROM comp GROUP BY lang"""))),

    // Multimodal resize through the REAL kernel (javax.imageio PNG
    // decode → nearest-neighbor resample → re-encode): the oracle
    // derives the decoded dims from pngMedia's generation contract
    // (1 + utf8len % 64 × 1 + utf8len % 48) and mirrors the aspect-fit
    // integer math — so a hash match proves the codec roundtrip
    // reproduced exactly the dimensions that were encoded. Pixel
    // content is pinned by MultimodalSpec's independent resample.
    "n21_resize" -> (((s: SparkSession, d: String) => {
      Multimodal.resizedMeta(Tables.documents(s, d))
    }, Some("""
      SELECT doc_id, width, height,
        CASE WHEN greatest(width, height) <= 32 THEN width
             ELSE greatest(1, width * 32 // greatest(width, height)) END AS new_w,
        CASE WHEN greatest(width, height) <= 32 THEN height
             ELSE greatest(1, height * 32 // greatest(width, height)) END AS new_h
      FROM (SELECT doc_id,
              CAST(1 + octet_length(encode(text)) % 64 AS INT) AS width,
              CAST(1 + octet_length(encode(text)) % 48 AS INT) AS height
            FROM documents)"""))),

    // Decoded-pixel channel sums through the REAL image kernel
    // (Multimodal.channelStats scaladoc): the oracle reproduces the
    // sums in closed form from the generation contract — md5 bytes ×
    // residue-class counts — so actual decoded pixels are verified
    // against pure SQL arithmetic, encoder and decoder included.
    "n48_image_channel_stats" -> (((s: SparkSession, d: String) => {
      Multimodal.imageChannelStats(Tables.documents(s, d))
    }, Some("""
      WITH d AS (SELECT doc_id, md5(text) AS hx,
                        octet_length(encode(text)) AS len FROM documents),
      dims AS (SELECT doc_id, hx, CAST(1 + len % 64 AS INT) AS w,
                      CAST(1 + len % 48 AS INT) AS h FROM d),
      dig AS (SELECT doc_id, k,
                (('0x' || substr(hx, CAST(2*k+1 AS INT), 2))::INT) AS byte
              FROM dims CROSS JOIN range(0, 16) t(k)),
      cnt AS (
        SELECT doc_id, k,
          SUM(CASE WHEN ((k - y) % 16 + 16) % 16 < w
               THEN (w - 1 - (((k - y) % 16 + 16) % 16)) // 16 + 1 ELSE 0 END) AS c_r,
          SUM(CASE WHEN ((11*(k - y)) % 16 + 16) % 16 < w
               THEN (w - 1 - (((11*(k - y)) % 16 + 16) % 16)) // 16 + 1 ELSE 0 END) AS c_g,
          SUM(CASE WHEN ((k - 5*y) % 16 + 16) % 16 < w
               THEN (w - 1 - (((k - 5*y) % 16 + 16) % 16)) // 16 + 1 ELSE 0 END) AS c_b
        FROM dims CROSS JOIN range(0, 48) t2(y) CROSS JOIN range(0, 16) t(k)
        WHERE y < h GROUP BY 1, 2)
      SELECT dims.doc_id AS doc_id, w AS width, h AS height,
        CAST(sum(byte * c_r) AS BIGINT) AS sum_r,
        CAST(sum(byte * c_g) AS BIGINT) AS sum_g,
        CAST(sum(byte * c_b) AS BIGINT) AS sum_b
      FROM cnt JOIN dig ON cnt.doc_id = dig.doc_id AND cnt.k = dig.k
      JOIN dims ON dims.doc_id = cnt.doc_id
      GROUP BY 1, 2, 3"""))),

    // Real multi-frame container decode (Multimodal.frameSampleGif
    // scaladoc): animated GIFs generated per doc, frames enumerated
    // and decoded by the imageio reader; the oracle predicts the
    // decoded structure (count + dims per frame) from the generation
    // contract — n14's stub probe upgraded to a real container walk.
    "n50_gif_frames" -> (((s: SparkSession, d: String) => {
      Multimodal.gifFrames(Tables.documents(s, d))
    }, Some("""
      WITH d AS (SELECT doc_id, octet_length(encode(text)) AS len
                 FROM documents)
      SELECT doc_id, CAST(i AS INT) AS frame_idx,
             CAST(1 + len % 64 AS INT) AS width,
             CAST(1 + len % 48 AS INT) AS height
      FROM d CROSS JOIN range(0, 5) t(i)
      WHERE i < 1 + len % 5"""))),

    // Decoded-PCM stats through the REAL audio kernel
    // (Multimodal.audioStats scaladoc): real RIFF/WAVE containers
    // written by the JDK's WAVE encoder, parsed back by its actual
    // RIFF reader, every 16-bit sample decoded; the oracle reproduces
    // frame count, duration, Σsample, Σsample², min/max in closed form
    // from the generation contract (md5 bytes × residue-class counts)
    // — the audio tier's n48: decoded samples verified against pure
    // SQL arithmetic, encoder and parser included. n ≥ 16 guarantees
    // every digest byte occurs, so min/max are digest-wide extrema.
    "n71_audio_pcm_stats" -> (((s: SparkSession, d: String) => {
      Multimodal.audioPcmStats(Tables.documents(s, d))
    }, Some(audioStatsSql))),

    // Winnowing fingerprint (Schleimer et al. '03, the MOSS rolling-
    // hash scheme): positional 3-gram md5s, lexicographic min per
    // sliding window of 4, distinct+sorted selection — guarantees any
    // sufficiently long shared substring contributes a shared
    // fingerprint hash. The selection set (csv) IS the signature.
    "n22_winnow_fingerprint" -> (((s: SparkSession, d: String) => {
      // native single-pass kernel (functions/Winnow) — the former HOF
      // pipeline was five interpreted passes and carried a md5-per-
      // window CSE trap (101 s regression caught in r2); the HOF form
      // survives as the WinnowSpec property-test reference
      Tables.documents(s, d)
        .select(col("doc_id"),
          concat_ws(",", graft.functions.Winnow.winnowSet(col("text"), 3, 4))
            .as("winnow_csv"))
    }, Some(s"""
      SELECT doc_id, array_to_string(list_sort(list_distinct(
        CASE WHEN len(hs) >= 4
               THEN [list_min(hs[i:i+3]) for i in range(1, len(hs) - 2)]
             WHEN len(hs) > 0 THEN [list_min(hs)]
             ELSE CAST([] AS VARCHAR[]) END)), ',') AS winnow_csv
      FROM (SELECT doc_id, list_transform(
              CASE WHEN len(toks) >= 3
                THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]
                ELSE CAST([] AS VARCHAR[]) END, g -> md5(g)) AS hs
            FROM (SELECT doc_id, $toksSql AS toks FROM documents))"""))),

    // ---------------------------------------------------------------- s*
    // Structured Streaming: real readStream → micro-batches → memory sink
    // (Trigger.AvailableNow), oracle-checked like any batch query.

    "s01_stream_counts" -> (((s: SparkSession, d: String) => {
      graft.streaming.StreamQueries.eventCounts(s, d)
    }, Some("SELECT event_type, count(*) AS n FROM events GROUP BY event_type"))),

    "s02_stream_window" -> (((s: SparkSession, d: String) => {
      graft.streaming.StreamQueries.windowedCounts(s, d)
    }, Some("""
      SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
        count(*) AS n, CAST(sum(CAST(value AS DECIMAL(28,6))) AS VARCHAR) AS sum_value
      FROM events GROUP BY 1, 2"""))),

    "s03_stream_dedup" -> (((s: SparkSession, d: String) => {
      graft.streaming.StreamQueries.streamDedup(s, d)
    }, Some("SELECT DISTINCT user_id, event_type FROM events"))),

    // The reference's E1 chain as a TRUE stream: full announcement
    // pipeline under Structured Streaming (stream-static broadcast
    // joins + broadcast rule match), same oracle as batch p09 —
    // batch/stream duality made checkable.
    "s08_stream_pipeline" -> (((s: SparkSession, d: String) => {
      graft.streaming.StreamQueries.streamPipeline(s, d)
    }, Some(pipelineSql(srcType = "新三板公告")))),

    // The reference's 3-sink fan-out (2 MySQL tables + Mongo with key
    // dedup) under one foreachBatch: oracle checks each sink received
    // every row (onlyId is unique per (doc,rule) on this rule set, so
    // the deduped doc-store count equals distinct onlyIds).
    "s09_stream_fanout" -> (((s: SparkSession, d: String) => {
      graft.streaming.StreamQueries.streamFanout(s, d)
    }, Some {
      val base = pipelineSql(srcType = "新三板公告")
      s"""
      SELECT 'gao' AS sink, count(*) AS n_rows FROM ($base)
      UNION ALL SELECT 'yuqing', count(*) FROM ($base)
      UNION ALL SELECT 'mongo', count(DISTINCT onlyId) FROM ($base)"""
    })),

    // Arbitrary stateful processing: flatMapGroupsWithState carrying
    // per-user running aggregates across micro-batches.
    "s04_stream_stateful" -> (((s: SparkSession, d: String) => {
      graft.streaming.StreamQueries.statefulUserStats(s, d)
    }, Some("""
      SELECT user_id, count(*) AS n_events,
        strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_s,
        strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_s
      FROM events GROUP BY user_id"""))),

    // Session windows (1h inactivity gap): merging window state, the
    // windowing mode beyond tumbling (s02). Oracle replays the gap
    // split with lag/cumsum over µs-floored times (Spark reads the ns
    // fixture floored to µs; a naive ns-precision oracle could split
    // differently on gaps within 1ms of exactly one hour).
    "s07_stream_session" -> (((s: SparkSession, d: String) => {
      graft.streaming.StreamQueries.sessionCounts(s, d)
    }, Some("""
      WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS us FROM events),
      x AS (SELECT user_id, us,
              CASE WHEN lag(us) OVER w IS NULL
                     OR us - lag(us) OVER w >= 3600000000 THEN 1 ELSE 0 END AS new_s
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
      y AS (SELECT user_id, us,
              sum(new_s) OVER (PARTITION BY user_id ORDER BY us
                ROWS UNBOUNDED PRECEDING) AS sid FROM x)
      SELECT user_id,
        strftime(make_timestamp(min(us)), '%Y-%m-%d %H:%M:%S') AS session_start,
        count(*) AS n_events
      FROM y GROUP BY user_id, sid"""))),

    // foreachBatch file sink: streaming dedup written batch-by-batch to
    // parquet, result = the sink read back (verifies what was written).
    "s06_stream_sink" -> (((s: SparkSession, d: String) => {
      graft.streaming.StreamQueries.sinkDedupToDir(s, d)
    }, Some("SELECT DISTINCT user_id, event_type FROM events"))),

    // Bucketed co-located join: both sides written bucketed on the join
    // key, so the join itself runs WITHOUT a shuffle — the write-once/
    // join-many pattern that amortizes partitioning across jobs at
    // scale. PlanSpec pins "no Exchange below the join"; the oracle is
    // the plain join aggregate.
    "p17_bucketed_join" -> (((s: SparkSession, d: String) => {
      val orders = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_totalprice"))
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))
      graft.operators.Bucketing
        .coLocatedJoin(s, orders, cust, "o_custkey", "c_custkey", buckets = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(28,6)")).cast("string")
            .as("sum_price"))
    }, Some("""
      SELECT c_mktsegment, count(*) AS n_orders,
        CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS VARCHAR) AS sum_price
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment"""))),

    // Skew-salted equi-join: deterministic fact-side salt + dim
    // replicated per salt value — the hot key's rows spread over
    // `buckets` tasks instead of one straggler. Result identical to the
    // plain join (the oracle IS the plain join); PlanSpec pins the
    // shuffle-hash topology and the (key, _salt) join keys.
    "p16_salted_join" -> (((s: SparkSession, d: String) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("user_id"))
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))
      graft.operators.SkewJoin
        .saltedEquiJoin(ev, cust, "user_id", "c_custkey", "event_id", buckets = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"))
    }, Some("""
      SELECT c_mktsegment, count(*) AS n_events
      FROM events JOIN customer ON user_id = c_custkey
      GROUP BY c_mktsegment"""))),

    // Idempotent keyed-upsert sink under a FORCED FULL REPLAY (the
    // at-least-once worst case): the stream runs twice with fresh
    // checkpoints into one sink; min-merge on the key makes the replay
    // a no-op, so the oracle (one row per key, first event wins) holds
    // by hash after the double-run.
    "s10_stream_upsert" -> (((s: SparkSession, d: String) => {
      graft.streaming.StreamQueries.upsertReplay(s, d)
    }, Some("""
      SELECT user_id, event_type, min(event_id) AS first_event_id
      FROM events GROUP BY user_id, event_type"""))),

    // n05's streaming twin: stateless ANN threshold filter over the
    // embedding stream — same plan as the batch query, no state store.
    "s13_stream_ann" -> (((s: SparkSession, d: String) => {
      graft.streaming.StreamQueries.streamAnnThreshold(s, d, 0.2)
    }, Some(s"""
      SELECT vec_id, $annCosSql AS cos FROM embeddings
      WHERE $annCosSql > 0.2"""))),

    // n34's streaming twin: each arriving vector is classified against
    // a FIXED centroid table (model-serving shape: the "trained"
    // centroids are a static broadcast, the stream never shuffles), with
    // per-cluster running counts as the observable.
    "s14_stream_kmeans" -> (((s: SparkSession, d: String) => {
      graft.streaming.StreamQueries.streamKmeansAssign(s, d)
    }, Some(s"""
      $kmeansA1Sql
      SELECT cluster, count(*) AS n_vecs FROM a1 GROUP BY cluster"""))),

    // n40's streaming twin: per-lang KMV sketch state merged across
    // micro-batches — bounded O(groups·K) state, no watermark; any
    // micro-batching yields the batch sketch (merge associativity,
    // KmvSpec). Oracle = n40's per-lang branch.
    "s15_stream_kmv" -> (((s: SparkSession, d: String) => {
      graft.streaming.StreamQueries.streamKmvSketch(s, d)
    }, Some(s"""
      WITH d AS (SELECT lang, $toksSql AS toks FROM documents),
      sh AS (SELECT lang, unnest($ssetSql) AS s FROM d),
      hv AS (SELECT lang, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
             FROM sh GROUP BY 1, 2),
      rk AS (SELECT lang, h,
               row_number() OVER (PARTITION BY lang ORDER BY h) AS rk FROM hv),
      sk AS (SELECT lang, CAST(count(*) AS BIGINT) AS sketch_size,
               max(h) AS kth_min
             FROM rk WHERE rk <= 64 GROUP BY 1)
      SELECT lang, sketch_size, kth_min,
        CASE WHEN sketch_size < 64 THEN CAST(sketch_size AS DOUBLE)
             ELSE CAST(63 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
                  / CAST(kth_min AS DOUBLE) END AS est_distinct
      FROM sk"""))),

    // s03's bounded-state twin: dropDuplicatesWithinWatermark evicts
    // dedup state past the watermark horizon (StreamQueries scaladoc);
    // delay covers the fixture span, so the drained result is exact
    // first-per-key dedup and the s03 oracle applies unchanged.
    "s16_stream_dedup_wm" -> (((s: SparkSession, d: String) => {
      graft.streaming.StreamQueries.streamDedupWithinWatermark(s, d)
    }, Some("SELECT DISTINCT user_id, event_type FROM events"))),

    // Spark 4 transformWithState surface (s17): per-user event-type
    // census in composite MapState under the RocksDB provider — the
    // typed-state successor to s04's flatMapGroupsWithState.
    "s17_stream_type_census" -> (((s: SparkSession, d: String) => {
      graft.streaming.StreamQueries.streamTypeCensus(s, d)
    }, Some("""
      SELECT user_id, CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id"""))),

    // n03's streaming twin (StreamQueries.streamLshPairs scaladoc):
    // incremental LSH — banding state per (band,key) bucket, candidate
    // pairs emitted on arrival, exact-Jaccard verified; the drained
    // result equals batch n03, so the same (pair-sampled) oracle
    // applies. O(new docs) per refresh where batch LSH is O(corpus).
    "s19_stream_lsh" -> (((s: SparkSession, d: String) => {
      val stream = sampled(
        graft.streaming.StreamQueries.documentsStream(s, d), "doc_id")
      graft.streaming.StreamQueries.streamLshPairs(s, stream, pairDocs(s, d))
    }, Some(s"""
      WITH s AS (
        SELECT doc_id, $ssetSql AS sset
        FROM (SELECT doc_id, $toksSql AS toks FROM $docsT)),
      pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE)
            / len(list_distinct(list_concat(a.sset, b.sset))) AS jaccard
        FROM s a JOIN s b ON a.doc_id < b.doc_id)
      SELECT * FROM pairs WHERE jaccard >= ${MinHashLsh.Threshold}"""))),

    // CMS maintained AS streaming state (StreamQueries.streamCmsSketch
    // scaladoc): the drained d×w counter table equals the batch sketch
    // by count-merge associativity — verified against n43's oracle
    // sketch CTE directly.
    "s21_stream_cms" -> (((s: SparkSession, d: String) => {
      graft.streaming.StreamQueries.streamCmsSketch(s, d)
    }, Some(s"""
      WITH occ AS (SELECT unnest($toksSql) AS tok FROM documents)
      SELECT i, (('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || tok), 1, 8))::BIGINT % 32) AS b,
             count(*) AS c
      FROM occ CROSS JOIN range(0, 3) t(i)
      GROUP BY 1, 2"""))),

    // The real media kernels under the streaming engine
    // (StreamQueries.streamGifFrameCensus scaladoc): per-frame-index
    // census of decoded container frames; oracle = the n50 generation
    // contract aggregated.
    "s20_stream_frames" -> (((s: SparkSession, d: String) => {
      graft.streaming.StreamQueries.streamGifFrameCensus(s, d)
    }, Some("""
      WITH d AS (SELECT doc_id, octet_length(encode(text)) AS len
                 FROM documents),
      f AS (SELECT doc_id, i FROM d CROSS JOIN range(0, 5) t(i)
            WHERE i < 1 + len % 5)
      SELECT CAST(i AS INT) AS frame_idx, count(*) AS n,
             CAST(min(doc_id) AS BIGINT) AS min_doc,
             CAST(max(doc_id) AS BIGINT) AS max_doc
      FROM f GROUP BY 1"""))),

    // The real AUDIO kernel under the streaming engine
    // (StreamQueries.streamAudioStats scaladoc): stateless ingest-time
    // WAV decode — append mode, zero state store; the drained table
    // shares n71's closed-form oracle verbatim.
    "s28_stream_audio_stats" -> (((s: SparkSession, d: String) => {
      graft.streaming.StreamQueries.streamAudioStats(s, d)
    }, Some(audioStatsSql))),

    // Streaming global top-k (StreamQueries.streamTopUsers scaladoc):
    // complete-mode agg + sort + limit — p11's streaming twin.
    // n53's streaming twin: the bottom-K priority sample as bounded
    // per-group streaming state (PriorityAgg merge across
    // micro-batches); drained sample == the batch window plan, so the
    // oracle is n53's SQL verbatim.
    "s22_stream_priority_sample" -> (((s: SparkSession, d: String) => {
      graft.streaming.StreamQueries.streamPrioritySample(s, d)
    }, Some(prioritySampleSql))),

    // a29's streaming twin: the (lang, value) count histogram as
    // bounded streaming state (counts merge by addition), exact
    // quantiles picked after the drain; oracle is a29's SQL verbatim.
    "s23_stream_quantiles" -> (((s: SparkSession, d: String) => {
      graft.streaming.StreamQueries.streamQuantiles(s, d)
    }, Some(exactQuantilesSql))),

    // n66's streaming twin: the Gopher composite gate as a STATELESS
    // per-row HOF map+filter — append mode, zero state store, the
    // ingest-time filter shape (StreamQueries.streamQualityGate).
    "s24_stream_quality_gate" -> (((s: SparkSession, d: String) => {
      graft.streaming.StreamQueries.streamQualityGate(s, d)
    }, Some(gopherOracleSql))),

    // n68's streaming twin: complete-mode aggregation with state
    // bounded by the BUCKET count, additive merge — any micro-batching
    // drains the batch answer (StreamQueries.streamLengthBuckets).
    "s25_stream_length_buckets" -> (((s: SparkSession, d: String) => {
      graft.streaming.StreamQueries.streamLengthBuckets(s, d)
    }, Some(lengthBucketsOracleSql))),

    // n44's streaming twin: ingest-time Bloom decontamination with the
    // membership predicate inside a filter HOF — per-doc hit counts as
    // a pure per-row expression, zero state store
    // (StreamQueries.streamBloomDecontam; same oracle as n44).
    "s26_stream_bloom_decontam" -> (((s: SparkSession, d: String) => {
      graft.streaming.StreamQueries.streamBloomDecontam(s, d)
    }, Some(bloomOracleSql))),

    // n60's model-serving twin: the trained 64-bucket DSIR model as a
    // literal map, scored per arriving doc with pure HOFs — no join,
    // no state (StreamQueries.streamDsirScore; same oracle as n60).
    "s27_stream_dsir_score" -> (((s: SparkSession, d: String) => {
      graft.streaming.StreamQueries.streamDsirScore(s, d)
    }, Some(dsirOracleSql))),

    // n58's model-serving twin: the batch-trained BPE vocabulary served
    // as a broadcast model per micro-batch, encoding each arriving doc
    // at ingest (StreamQueries.streamBpeEncode; same oracle as n58).
    "s30_stream_bpe_encode" -> (((s: SparkSession, d: String) => {
      graft.streaming.StreamQueries.streamBpeEncode(s, d)
    }, Some(s"""${bpeEncodeCtesSql(3)}
      SELECT doc_id, CAST(sum(n_sym) AS BIGINT) AS n_bpe,
             CAST(sum(length(word)) AS BIGINT) AS n_chars,
             CAST(sum(n_sym) * 1000000 // sum(length(word)) AS BIGINT) AS ratio_ppm
      FROM (SELECT doc_id, unnest($toksSql) AS word FROM documents) o
      JOIN ns USING (word)
      GROUP BY doc_id"""))),

    // n73's streaming twin: incremental first-occurrence segment index
    // (complete-mode min(struct) aggregation — order-independent under
    // micro-batching) + batch keep-first apply, the s19 index/verify
    // split (StreamQueries.streamSegmentDedup; same oracle as n73).
    "s29_stream_segment_dedup" -> (((s: SparkSession, d: String) => {
      graft.streaming.StreamQueries.streamSegmentDedup(s, d)
    }, Some(segmentDedupOracleSql))),

    // n82's streaming twin: the boilerplate df index accretes as docs
    // arrive (ONE complete-mode count over per-doc-distinct segments —
    // order-independent), apply runs batch-side against the drained
    // index because crossing the df threshold is retroactive by
    // nature. Same oracle as n82 (StreamQueries.streamBoilerplateStrip).
    "s35_stream_boilerplate" -> (((s: SparkSession, d: String) => {
      graft.streaming.StreamQueries.streamBoilerplateStrip(s, d)
    }, Some(boilerplateOracleSql))),

    // n84's streaming twin: the previous snapshot's distinct-digest
    // indexes build once batch-side (the pretrained artifact) and
    // every arriving doc classifies new/exact-dup/fp-dup by two
    // stateless stream-static equi-joins; only the per-source counter
    // rollup is stateful. Same oracle as n84
    // (StreamQueries.streamSnapshotDelta).
    "s36_stream_snapshot_delta" -> (((s: SparkSession, d: String) => {
      graft.streaming.StreamQueries.streamSnapshotDelta(s, d)
    }, Some(snapshotDeltaOracleSql))),

    // s36 served from the MATERIALIZED SnapshotStore digest
    // components: the previous snapshot's distinct-digest indexes
    // write as parquet once and every arriving doc classifies by two
    // stateless stream-static LEFT joins against the store's file
    // scans. Same oracle as n84/s36.
    "s39_store_snapshot_delta" -> (((s: SparkSession, d: String) => {
      val dir = graft.TempDirs.create("graft-snapshot-store")
      graft.operators.SnapshotStore.append(s, dir,
        Tables.documents(s, d).where(col("doc_id") % 2 === 0))
      graft.streaming.StreamQueries.streamSnapshotDeltaFromStore(s, dir,
        graft.streaming.StreamQueries.documentsStream(s, d)
          .where(col("doc_id") % 2 === 1))
    }, Some(snapshotDeltaOracleSql))),

    "s18_stream_topk" -> (((s: SparkSession, d: String) => {
      graft.streaming.StreamQueries.streamTopUsers(s, d)
    }, Some("""
      SELECT user_id, CAST(n AS BIGINT) AS n FROM (
        SELECT user_id, count(*) AS n,
               row_number() OVER (ORDER BY count(*) DESC, user_id) AS rk
        FROM events GROUP BY user_id)
      WHERE rk <= 5"""))),

    // n01's streaming twin: exact content dedup with digest-keyed
    // state across micro-batches, counts per lang after the drain.
    "s12_stream_doc_dedup" -> (((s: SparkSession, d: String) => {
      graft.streaming.StreamQueries.streamDocDedup(s, d)
    }, Some("""
      SELECT lang, count(*) AS n_unique
      FROM (SELECT lang, md5(text) AS h FROM documents GROUP BY lang, md5(text))
      GROUP BY lang"""))),

    // Stream-stream interval join with watermark-bounded state: clicks
    // joined to the same user's purchases within 1 hour; bounded drain
    // == the batch join (checked by hash). The µs-floored event times
    // format identically on both engines.
    "s11_stream_stream_join" -> (((s: SparkSession, d: String) => {
      graft.streaming.StreamQueries.streamStreamJoin(s, d)
    }, Some("""
      WITH e AS (SELECT user_id, event_type,
                   make_timestamp(epoch_ns(ts) // 1000) AS t FROM events)
      SELECT c.user_id,
        strftime(c.t, '%Y-%m-%d %H:%M:%S') AS click_at,
        strftime(b.t, '%Y-%m-%d %H:%M:%S') AS buy_at
      FROM e c JOIN e b
        ON c.user_id = b.user_id AND c.event_type = 'click'
       AND b.event_type = 'purchase'
       AND b.t >= c.t AND b.t <= c.t + INTERVAL 1 HOUR"""))),

    // Stream-static broadcast enrichment join + streaming aggregation
    // (O6 under Structured Streaming; static side re-read per batch =
    // the reference's poll-based dim refresh O10).
    "s05_stream_enrich" -> (((s: SparkSession, d: String) => {
      graft.streaming.StreamQueries.streamEnrich(s, d)
    }, Some("""
      SELECT c_mktsegment, count(*) AS n_events
      FROM events JOIN customer ON user_id = c_custkey
      GROUP BY c_mktsegment"""))))
}
