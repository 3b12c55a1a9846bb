package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Text
import graft.operators.{Dedup, MinHashLsh}

/** Native shingle/minhash kernels vs the HOF reference forms, and the
  * inverted-index Jaccard join vs brute force. */
class ShinglesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("property: native shingleSet == HOF shingles+distinct on random text") {
    val rnd = new scala.util.Random(42)
    // multi-byte vocab entries stress the UTF-8 byte paths (XXH64 off
    // UTF8String memory, md5 of getBytes) against the char-based HOFs
    val vocab = Vector("aa", "bb", "cc", "dd", "e", "", " ", "héllo", "世界", "emoji🙂")
    val texts = Seq.fill(300) {
      Seq.fill(rnd.nextInt(13))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
    val df = texts.toDF("text")
    val got = df.select(Text.shingleSet(col("text"), 3)).as[Seq[String]].collect()
    val want = df.select(array_distinct(Text.shinglesHof(col("text"), 3)))
      .as[Seq[String]].collect()
    assert(got.toSeq == want.toSeq)
  }

  test("property: native BigramArray == HOF transform form on random text") {
    import graft.functions.BigramArray
    val rnd = new scala.util.Random(43)
    val vocab = Vector("aa", "bb", "cc", "d", "", " ", "héllo", "世界")
    val texts = Seq.fill(300) {
      Seq.fill(rnd.nextInt(10))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
    val df = texts.toDF("text")
    val got = df.select(BigramArray.bigrams(col("text"))).as[Seq[String]].collect()
    val toks = Text.tokens(col("text"))
    val hof = when(size(toks) >= 2,
      transform(sequence(lit(0), size(toks) - 2),
        i => concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2))))
      .otherwise(array().cast("array<string>"))
    val want = df.select(hof).as[Seq[String]].collect()
    assert(got.toSeq == want.toSeq)
  }

  test("shingleSet edges: <w tokens empty, duplicates dedup, space runs collapse") {
    val df = Seq(
      "a b",                    // < 3 tokens
      "a b c",                  // exactly one shingle
      "a b c a b c a b c",      // repeated shingles dedup
      "  a   b  c  ",           // space runs + leading/trailing
      ""                        // empty
    ).toDF("text")
    val got = df.select(Text.shingleSet(col("text"), 3)).as[Seq[String]].collect().toSeq
    assert(got(0) == Seq.empty)
    assert(got(1) == Seq("a b c"))
    assert(got(2) == Seq("a b c", "b c a", "c a b"))
    assert(got(3) == Seq("a b c"))
    assert(got(4) == Seq.empty)
  }

  test("minhash signature: length k, equal sets => equal sigs, component = min over singletons") {
    val df = Seq(
      Seq("x y z", "y z w"),
      Seq("y z w", "x y z"), // same set, different order
      Seq("x y z"),
      Seq("y z w")
    ).toDF("sset")
    val sigs = df.select(MinHashLsh.signature(col("sset"), 8)).as[Seq[Long]].collect()
    assert(sigs.forall(_.length == 8))
    assert(sigs(0) == sigs(1)) // order-insensitive
    // min-structure: sig(AuB) = componentwise min of sig(A), sig(B)
    val joint = sigs(2).zip(sigs(3)).map { case (a, b) => math.min(a, b) }
    assert(sigs(0) == joint.toSeq)
  }

  test("jaccardPairs == brute force on a crafted corpus") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),   // near-dup of 1
      (3L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
      (4L, "completely different words entirely here now"),
      (5L, "short text"),                                    // < 3 tokens
      (6L, "another unrelated document with other content")
    ).toDF("doc_id", "text")

    def sset(s: String): Set[String] = {
      val t = s.split(" ").filter(_.nonEmpty)
      if (t.length < 3) Set.empty
      else t.sliding(3).map(_.mkString(" ")).toSet
    }
    val texts = Map(1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy cat",
      3L -> "the quick brown fox jumps over the lazy dog",
      4L -> "completely different words entirely here now",
      5L -> "short text",
      6L -> "another unrelated document with other content")
    val want = (for {
      a <- texts.keys; b <- texts.keys if a < b
      sa = sset(texts(a)); sb = sset(texts(b))
      if sa.nonEmpty && sb.nonEmpty
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size
      if j >= 0.55
    } yield (a, b, j)).toSet

    val got = Dedup.jaccardPairs(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    assert(got == want)
    assert(want.exists { case (a, b, j) => a == 1L && b == 3L && j == 1.0 })
  }

  test("minhash-LSH near-dup pairs find the heavy dups with exact jaccard") {
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"),
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w13"), // 9/11 shared shingles... j high
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"), // exact dup of 1
      (4L, "v1 v2 v3 v4 v5 v6 v7 v8 v9 v10 v11 v12")
    ).toDF("doc_id", "text")
    val got = MinHashLsh.nearDupPairs(docs)
      .as[(Long, Long, Double)].collect().toMap1
    assert(got.contains((1L, 3L)))
    assert(got((1L, 3L)) == 1.0)
    assert(!got.keys.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("the LSH operating point detects every pair at the verify threshold") {
    // driver-only: the premise that makes LSH output EQUAL the exact
    // answer — whole bands, and an S-curve that is 1 at the threshold
    import MinHashLsh.{K, R, Threshold}
    assert(K % R == 0)
    assert(1 - math.pow(1 - math.pow(Threshold, R), K / R) >= 1 - 1e-7)
  }

  test("snapshot near-dup delta: cross-snapshot pairs only, within-snapshot dropped") {
    val old = Seq(
      (0L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"),
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"), // dup WITHIN old
      (4L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12")
    ).toDF("doc_id", "text")
    val nw = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"), // dup of old 0 and 2
      (3L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 x12"), // genuinely new
      (5L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 x12") // dup WITHIN new
    ).toDF("doc_id", "text")
    val got = MinHashLsh.snapshotNearDupPairs(old, nw)
      .as[(Long, Long, Double)].collect().toMap1
    // the new doc 1 matches BOTH old copies, each at jaccard 1.0 ...
    assert(got == Map((0L, 1L) -> 1.0, (2L, 1L) -> 1.0))
    // ... and neither the (0,2) within-old nor the (3,5) within-new
    // pair appears — the whole point of banding the snapshots apart
    assert(!got.contains((0L, 2L)) && !got.contains((3L, 5L)))
  }

  test("streamed snapshot near-dup delta drains to the batch pair table") {
    // arriving docs in 3 forced micro-batches probe the old snapshot's
    // precomputed index; a doc matching TWO old copies and a multi-band
    // hit must still emit one row per pair (the lowest-band rule)
    val dir = TempDirs.create("snapnd-stream")
    def writeFile(name: String, docs: Seq[(Long, String)]): Unit = {
      val tmp = TempDirs.create("snapnd-tmp")
      docs.toDF("doc_id", "text").coalesce(1).write.parquet(s"$tmp/d")
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp, "d"))
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.copy(part, java.nio.file.Paths.get(dir, name))
    }
    val w = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    writeFile("f0.parquet", Seq(1L -> w)) // dups BOTH old copies
    writeFile("f1.parquet", Seq(3L -> "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 x12"))
    writeFile("f2.parquet", Seq(5L -> w)) // second new dup, later batch
    val old = Seq((0L, w), (2L, w),
      (4L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12")).toDF("doc_id", "text")
    import graft.streaming.StreamQueries
    val got = StreamQueries.streamSnapshotNearDup(spark, old,
      spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(dir))
      .as[(Long, Long, Double)].collect().toMap1
    val want = MinHashLsh.snapshotNearDupPairs(old,
      spark.read.parquet(dir).select(col("doc_id"), col("text")))
      .as[(Long, Long, Double)].collect().toMap1
    assert(got == want)
    assert(got == Map((0L, 1L) -> 1.0, (2L, 1L) -> 1.0,
      (0L, 5L) -> 1.0, (2L, 5L) -> 1.0))
  }

  test("the near-dup probe keeps each pair once, at its lowest band, and holds no state") {
    val stored = (1 to 30).map(i => s"w$i").mkString(" ")
    def keys(texts: Seq[String]): Seq[Seq[String]] = texts.toDF("text")
      .select(MinHashLsh.bandKeysFromSig(MinHashLsh.signature(
        Text.shingleSet(col("text")), MinHashLsh.K)).getField("key"))
      .as[Seq[String]].collect().toSeq
    // variants with half their words replaced collide with the stored
    // doc in a few bands or none: pick one colliding in exactly one band
    // and one colliding in none
    val rnd = new scala.util.Random(11)
    val variants = Seq.fill(300) {
      stored.split(" ").map(w => if (rnd.nextBoolean()) s"v${rnd.nextInt(99)}" else w)
        .mkString(" ")
    }
    val storedKeys = keys(Seq(stored)).head
    val bandsHit = keys(variants).map(_.zip(storedKeys).count { case (x, y) => x == y })
    assert(bandsHit.contains(1) && bandsHit.contains(0))
    val oneBand = variants(bandsHit.indexOf(1))
    val noBand = variants(bandsHit.indexOf(0))
    val near = stored.replace("w30", "x30") // Jaccard 27/29, most bands
    assert(keys(Seq(near)).head.zip(storedKeys).count { case (x, y) => x == y } > 1)
    val old = Seq((0L, stored)).toDF("doc_id", "text")
    val arriving = Seq((1L, stored), (2L, near), (3L, oneBand), (4L, noBand))
      .toDF("doc_id", "text")
    val setsA = MinHashLsh.setsOf(old)
    val bandsA = MinHashLsh.banded(setsA)
    val got = MinHashLsh.probeIndex(bandsA, setsA, arriving)
      .as[(Long, Long, Double)].collect().toSeq.sorted
    // reference: one verified row per colliding band, deduped by groupBy
    val setsB = MinHashLsh.setsOf(arriving)
    val perBand = bandsA.select(col("did").as("a_id"), col("band"), col("key"))
      .join(MinHashLsh.banded(setsB).select(col("did").as("b_id"), col("band"),
        col("key")), Seq("band", "key"))
      .join(setsA.select(col("did").as("a_id"), col("sset").as("a_set")), "a_id")
      .join(setsB.select(col("did").as("b_id"), col("sset").as("b_set")), "b_id")
      .select(col("a_id"), col("b_id"),
        MinHashLsh.jaccard(col("a_set"), col("b_set")).as("jaccard"))
      .where(col("jaccard") >= MinHashLsh.Threshold)
    // the identical doc collides in all 16 bands: the dedup bites
    assert(perBand.where(col("b_id") === 1L).count() == MinHashLsh.K / MinHashLsh.R)
    val want = perBand.groupBy(col("a_id"), col("b_id"))
      .agg(max(col("jaccard")).as("jaccard"))
      .as[(Long, Long, Double)].collect().toSeq.sorted
    assert(got == want)
    assert(got.map(p => (p._1, p._2)) == Seq((0L, 1L), (0L, 2L)))
    // streamed: the same probe drains in append mode with no state store
    val dir = TempDirs.create("probe-lowest-band")
    arriving.coalesce(1).write.parquet(s"$dir/in")
    val q = MinHashLsh.probeIndex(bandsA, setsA,
        spark.readStream.schema("doc_id LONG, text STRING").parquet(s"$dir/in"))
      .writeStream.format("memory").queryName("probe_lowest_band")
      .outputMode("append").option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.nonEmpty &&
      q.recentProgress.forall(_.stateOperators.isEmpty))
    assert(spark.table("probe_lowest_band").as[(Long, Long, Double)]
      .collect().toSeq.sorted == got)
  }

  test("MinHashAgg: group sketch == componentwise min of member sigs (union property)") {
    import graft.functions.MinHashAgg
    val docs = Seq(
      (1L, "g1", "a b c d e f g"),
      (2L, "g1", "x y z w v u t"),
      (3L, "g2", "a b c d e f g")
    ).toDF("id", "grp", "text")
    val sigs = docs.select(col("id"), col("grp"),
      MinHashLsh.signature(Text.shingleSet(col("text")), MinHashAgg.K).as("sig"))
    val perDoc = sigs.select(col("id"), col("sig")).as[(Long, Seq[Long])]
      .collect().toMap
    val grouped = sigs.groupBy(col("grp"))
      .agg(MinHashAgg.union(col("sig")).as("gsig"))
      .as[(String, Seq[Long])].collect().toMap
    val want = perDoc(1L).zip(perDoc(2L)).map { case (a, b) => math.min(a, b) }
    assert(grouped("g1") == want.toSeq)
    assert(grouped("g2") == perDoc(3L))
    // estimator sanity: identical groups => 1.0; g1 vs g2 in (0,1)
    assert(MinHashAgg.estJaccard(grouped("g2"), perDoc(1L)) == 1.0)
    val cross = MinHashAgg.estJaccard(grouped("g1"), grouped("g2"))
    assert(cross >= 0.0 && cross < 1.0)
  }

  test("connectedComponents: transitive chain collapses to one survivor per component") {
    // chain 1–2–…–9 (diameter 8 forces multi-round propagation) + pair (20,21)
    val pairs = ((1L to 8L).map(i => (i, i + 1)) :+ (20L, 21L)).toDF("a_id", "b_id")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    (1L to 9L).foreach(i => assert(got(i) == 1L))
    assert(got(20L) == 20L && got(21L) == 20L)
    // survivors (comp == id): exactly one per component
    assert(got.count { case (id, c) => id == c } == 2)
  }

  test("kernelMd5 golden: first 60 bits of md5(shingle || '#' || seed)") {
    // golden from: echo -n 'hello world#3' | md5 → first 15 hex chars as int,
    // cross-checked against DuckDB ('0x' || substr(md5(s||'#'||i),1,15))::UBIGINT
    import graft.functions.MinHashSig
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val arr = new GenericArrayData(Array[Any](UTF8String.fromString("hello world")))
    val sig = MinHashSig.kernelMd5(arr, 4)
    assert(sig.getLong(3) == 393483953809384980L)
    // all components positive (60-bit) so signed/unsigned min agree
    (0 until 4).foreach(i => assert(sig.getLong(i) > 0))
  }

  test("contract: native kernels stay inside whole-stage codegen (no janino fallback)") {
    // The class inherits eval(InternalRow), which suppresses the object's
    // static `eval` forwarder — generated Java calling X.eval(args) then
    // fails janino compile and Spark silently de-codegens the stage (this
    // happened through r2: kernels named `eval` were never codegen'd).
    // codegen.fallback=false turns that silent fallback into a hard error.
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      import graft.functions.{Shingles, Vec}
      val df = Seq(("a b c d e", Array(1.0, 2.0)), ("x y z w v", Array(3.0, 4.0)))
        .toDF("text", "emb")
      val out = df.select(
        Shingles.minhashSig(Text.shingleSet(col("text")), 4).as("sig"),
        Shingles.minhashSigMd5(Text.shingleSet(col("text")), 4).as("sigMd5"),
        Vec.dot(col("emb"), col("emb")).as("d"))
        .collect()
      assert(out.length == 2)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None    => spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  implicit private class TupleMap(rows: Array[(Long, Long, Double)]) {
    def toMap1: Map[(Long, Long), Double] =
      rows.map { case (a, b, j) => (a, b) -> j }.toMap
  }
}
