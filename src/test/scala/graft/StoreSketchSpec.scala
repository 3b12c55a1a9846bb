package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.StoreSketch

/** StoreSketch contracts: the no-false-negative guarantee the store's
  * pruning soundness rests on, fold equivalence (a sketch built at cap
  * width and folded equals one built at the fold width), and the
  * serialization roundtrip the sidecar files depend on. */
class StoreSketchSpec extends AnyFunSuite {

  private def build(keys: Seq[String], bitsLog2: Int): StoreSketch = {
    val words = new Array[Long](1 << (bitsLog2 - 6))
    keys.foreach { k =>
      val (h1, h2) = StoreSketch.hash2(k)
      StoreSketch.addHashed(words, bitsLog2, h1, h2)
    }
    new StoreSketch(bitsLog2, words)
  }

  private val keys = (0 until 5000).map(i => s"key-$i-${i * 31}")

  test("no false negatives at any width") {
    Seq(StoreSketch.MinBitsLog2, 16, 22).foreach { b =>
      val sk = build(keys, b)
      assert(keys.forall(sk.mightContain), s"false negative at width 2^$b")
    }
  }

  test("fold(b) of a cap-width sketch == the sketch built at width b") {
    val cap = build(keys, 22)
    Seq(10, 14, 18).foreach { b =>
      val folded = cap.fold(b)
      val direct = build(keys, b)
      assert(folded.words.toSeq == direct.words.toSeq,
        s"fold to 2^$b is not bit-identical to direct build")
    }
    // folding to >= own width is the identity
    assert(cap.fold(22) eq cap)
    assert(cap.fold(30) eq cap)
  }

  test("false-positive rate at the 64-bits/key fold target is probe-set quiet") {
    val n = 3000
    val sk = build(keys.take(n),
      StoreSketch.optimalBitsLog2(n, StoreSketch.DefaultCapBitsLog2))
    // a whole-delta probe (the stage/commit shape): expected FP count
    // over a delta-sized probe set must be well under 1 — this is the
    // property that keeps the no-overlap lifecycle jobless
    val probes = (0 until n).map(i => s"absent-$i-${i * 17}")
    val fps = probes.count(sk.mightContain)
    assert(fps <= 2, s"$fps false positives over $n probes")
  }

  test("serialization roundtrips bit-identically") {
    val sk = build(keys.take(100), 12)
    val bos = new java.io.ByteArrayOutputStream()
    StoreSketch.write(bos, sk)
    val back = StoreSketch.read(
      new java.io.ByteArrayInputStream(bos.toByteArray))
    assert(back.bitsLog2 == sk.bitsLog2)
    assert(back.words.toSeq == sk.words.toSeq)
  }

  test("sketch width envelope: 2^31 math is Int-safe") {
    // the widest supported table: positions stay non-negative Ints end
    // to end (a 2^31-bit words array, added and probed without AIOOBE)
    val words = new Array[Long](1 << (31 - 6))
    val keys = (0 until 1000).map(i => s"boundary-key-$i")
    keys.foreach { k =>
      val (h1, h2) = StoreSketch.hash2(k)
      StoreSketch.addHashed(words, 31, h1, h2)
    }
    val sk = new StoreSketch(31, words)
    assert(keys.forall(sk.mightContain)) // no false negatives
    // and it folds to a small sidecar bit-identically to a small build
    val folded = sk.fold(12)
    assert(keys.forall(folded.mightContain))
    assert(intercept[IllegalArgumentException] {
      new StoreSketch(32, new Array[Long](1))
    }.getMessage.contains("out of range"))
  }

  test("optimal width targets 64 bits/key within [floor, cap]") {
    assert(StoreSketch.optimalBitsLog2(1, 22) == StoreSketch.MinBitsLog2)
    assert(StoreSketch.optimalBitsLog2(3000, 22) == 18) // 2^18 >= 64*3000
    assert(StoreSketch.optimalBitsLog2(Long.MaxValue / 128, 22) == 22) // cap
  }
}
