package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Text

/** BPE merge-rule TRAINING (Sennrich et al. '16) as pure distributed
  * aggregation — no UDFs, no driver-side tokenization, and crucially
  * no per-row sequential loop: the greedy left-to-right non-overlap
  * rule of a BPE merge application is expressed with the
  * gaps-and-islands window idiom.
  *
  * Setup is the standard one: train on the (word, freq) vocabulary
  * table, NOT the corpus — the corpus-sized work is exactly one
  * explode+count (the vocab build); every Lloyd-style training
  * iteration after that runs on the vocabulary, whose size is bounded
  * by the language, not the 100 TB corpus. State is the LONG-FORMAT
  * symbol table (word, pos, sym) — window/join-friendly, no list
  * lambdas anywhere, so the whole loop stays in codegen'd operators
  * and the DuckDB oracle can mirror it CTE-for-CTE.
  *
  * One iteration:
  *  1. adjacent pairs: lead(sym) over (word, pos) — one window;
  *  2. pair counts: join the vocab freq, sum per (a, b) — counts
  *     weight by word frequency exactly as Sennrich's counter does;
  *  3. best pair: max by (n, then lexicographic a, b) — deterministic
  *     1-row TakeOrdered collected to the driver (the learned RULE is
  *     an O(1) scalar; the data never moves) and re-applied as
  *     literals;
  *  4. greedy application: matching positions that are CONSECUTIVE
  *     (only possible when a == b, e.g. "aaa" under (a,a)) must merge
  *     at alternate offsets only — islands of consecutive matches via
  *     pos - row_number(), then keep (pos - island_start) % 2 == 0;
  *     consumed = applied.pos + 1; survivors renumber by row_number.
  *
  * Returns the learned merge table (it, a, b, n) — the artifact a
  * tokenizer ships. */
object Bpe {

  /** Corpus → (word, freq) vocabulary: the only corpus-sized pass. */
  def vocab(docs: DataFrame): DataFrame =
    docs.select(explode(Text.tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** Vocabulary → initial long-format symbol table (word, pos, sym),
    * one character per row, pos 1-based. */
  def initSymbols(vocab: DataFrame): DataFrame =
    vocab.select(col("word"),
        explode(sequence(lit(1), length(col("word")))).as("pos"))
      .select(col("word"), col("pos"), expr("substr(word, pos, 1)").as("sym"))

  /** One training iteration: pick the best pair (a 1-ROW collect — the
    * learned RULE comes back to the driver, exactly like n25's
    * convergence probe; O(iters) scalars, never data), then apply it
    * as literals. Returns (None, syms) when no pair remains. Without
    * the per-iteration lineage cuts the unrolled plan re-evaluates the
    * corpus-sized vocab build EXPONENTIALLY often (measured: 9.6 s for
    * 3 iterations at sf0.1 vs ~1 s with cuts — the state checkpointed
    * is vocabulary-sized, never corpus-sized). */
  def step(syms: DataFrame, freq: DataFrame): (Option[(String, String, Long)], DataFrame) = {
    val byPos = Window.partitionBy(col("word")).orderBy(col("pos"))
    val pairs = syms
      .withColumn("nsym", lead(col("sym"), 1).over(byPos))
      .where(col("nsym").isNotNull)
      .select(col("word"), col("pos"), col("sym").as("a"), col("nsym").as("b"))
    val bestRow = pairs.join(freq, "word")
      .groupBy(col("a"), col("b")).agg(sum(col("freq")).as("n"))
      .orderBy(col("n").desc, col("a").asc, col("b").asc).limit(1)
      .collect().headOption
    bestRow match {
      case None => (None, syms)
      case Some(r) =>
        val (a, b, n) = (r.getString(0), r.getString(1), r.getLong(2))
        val matched = pairs
          .where(col("a") === lit(a) && col("b") === lit(b))
          .select(col("word"), col("pos"))
        val applied = matched
          .withColumn("grp", col("pos") - row_number().over(byPos))
          .withColumn("start",
            min(col("pos")).over(Window.partitionBy(col("word"), col("grp"))))
          .where(((col("pos") - col("start")) % 2) === 0)
          .select(col("word"), col("pos"))
        val consumed = applied.select(col("word"), (col("pos") + 1).as("pos"))
        val next = syms
          .join(consumed, Seq("word", "pos"), "left_anti")
          .join(applied.withColumn("app", lit(1)), Seq("word", "pos"), "left")
          .select(col("word"),
            row_number().over(byPos).as("pos"),
            when(col("app") === 1, lit(a + b)).otherwise(col("sym")).as("sym"))
        (Some((a, b, n)), next)
    }
  }

  /** Learn `iters` merges from a documents frame; returns the merge
    * table (it 1-based, a, b, n). Stops early if the corpus runs out
    * of pairs. */
  def learnMerges(docs: DataFrame, iters: Int): DataFrame = {
    // one corpus pass, then vocabulary-sized state only; each boundary
    // is an Iterate.cut — a lineage AND statistics cut (plain
    // localCheckpoint carries compounding sizeInBytes estimates that
    // stall the driver after ~18 rounds; see Iterate.scaladoc)
    val v = vocab(docs).coalesce(1).localCheckpoint()
    var syms = Iterate.cut(initSymbols(v))
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var i = 1
    var exhausted = false
    while (i <= iters && !exhausted) {
      step(syms, v) match {
        case (Some((a, b, n)), next) =>
          out += ((i, a, b, n))
          syms = Iterate.cut(next)
        case (None, _) => exhausted = true
      }
      i += 1
    }
    val spark = docs.sparkSession
    import spark.implicits._
    out.result().toDF("it", "a", "b", "n")
  }

  /** The trained MODEL of [[encode]] as a standalone table:
    * (word, n_sym) after `iters` merge steps — each word's BPE token
    * count under the learned merges. Vocabulary-sized (broadcastable),
    * so a stream can serve it per micro-batch the way s14 serves
    * centroids and s27 the DSIR buckets. */
  def encodedVocab(docs: DataFrame, iters: Int): DataFrame = {
    val v = vocab(docs).coalesce(1).localCheckpoint()
    var syms = Iterate.cut(initSymbols(v))
    var i = 1
    var exhausted = false
    while (i <= iters && !exhausted) {
      step(syms, v) match {
        case (Some(_), next) => syms = Iterate.cut(next)
        case (None, _)       => exhausted = true
      }
      i += 1
    }
    syms.groupBy(col("word")).agg(count(lit(1)).as("n_sym"))
  }

  /** ENCODE with the learned merges: after `iters` training steps the
    * symbol table IS the encoded vocabulary ([[encodedVocab]]), so
    * encoding `docs` is one exploded equi-join against that
    * vocabulary-sized model (the planner broadcasts it while it fits)
    * + one groupBy: per doc, the BPE token count, the character count
    * and the exact compression in ppm. The corpus is never re-tokenized
    * per merge. n58 runs it over the batch reader, s30 drains it over
    * the stream. */
  def encode(docs: DataFrame, model: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(Text.tokens(col("text"))).as("word"))
      .join(model, "word")
      .groupBy(col("doc_id"))
      .agg(sum(col("n_sym")).as("n_bpe"),
        sum(length(col("word")).cast("long")).as("n_chars"))
      .select(col("doc_id"), col("n_bpe"), col("n_chars"),
        expr("n_bpe * 1000000 div n_chars").as("ratio_ppm"))
}
