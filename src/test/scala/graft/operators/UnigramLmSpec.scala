package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame

/** Unigram-LM tokenizer training on planted corpora with hand-checkable
  * vocabularies: dominant repeated strings survive as whole pieces,
  * every word stays segmentable (alphabet floor), Viterbi ties resolve
  * longest-first, and the result is partitioning-independent. */
class UnigramLmSpec extends SparkTestBase {
  import spark.implicits._

  private def corpus(texts: String*): DataFrame = texts.toDF("text")

  private def trained(df: DataFrame, vocab: Int = 64): Map[String, (Long, Long)] =
    UnigramLm.train(df, "text", vocabSize = vocab, maxPieceLen = 8, iters = 3)
      .collect().map(p => p.piece -> ((p.n, p.logp_micro))).toMap

  test("a dominant repeated word survives as one whole piece") {
    // "chocolat" appears 50×, filler words once each: the whole word is
    // a seed substring (len 8 ≤ maxPieceLen) with count 50 — Viterbi
    // segments it as itself, so its final count equals its word count
    val df = corpus(
      (Seq.fill(50)("chocolat") ++ Seq("zebra", "quark", "jolt")).mkString(" "))
    val v = trained(df)
    assert(v.contains("chocolat"), s"whole word pruned: ${v.keys}")
    assert(v("chocolat")._1 === 50L)
  }

  test("every corpus character stays segmentable (alphabet floor)") {
    // "q" appears once inside a word the model will segment via larger
    // pieces — the single char must still be in the vocab with a real
    // (finite) probability, so ANY future word over this alphabet
    // encodes without the UNK penalty
    val df = corpus(Seq.fill(20)("banana").mkString(" ") + " qat")
    val v = trained(df)
    val chars = "banqt".map(_.toString)
    chars.foreach(c => assert(v.contains(c), s"char '$c' pruned: ${v.keys}"))
  }

  test("viterbi prefers the longest piece on equal scores") {
    val scores = Map("ab" -> -100L, "a" -> -50L, "b" -> -50L, "abab" -> -200L)
    // "abab": abab(-200) ties ab+ab(-200) ties a+b+a+b(-200) — the
    // longest-first rule must pick the single 4-char piece
    assert(UnigramLm.viterbi("abab", scores, 8) === List("abab"))
  }

  test("unknown characters fall back to single-char UNK, never fail") {
    val scores = Map("ab" -> -100L)
    assert(UnigramLm.viterbi("axb", scores, 8) === List("a", "x", "b")
      || UnigramLm.viterbi("axb", scores, 8).mkString("") == "axb")
    // and the word always reassembles exactly
    assert(UnigramLm.viterbi("xyz", scores, 8).mkString("") === "xyz")
  }

  test("training is partitioning-independent") {
    val text = (Seq.fill(30)("winter") ++ Seq.fill(20)("winner") ++
      Seq.fill(9)("dinner") ++ Seq("frost", "snow")).mkString(" ")
    val one = UnigramLm.train(corpus(text).repartition(1), "text",
      vocabSize = 64, maxPieceLen = 8, iters = 3).collect().toSeq
    val many = UnigramLm.train(corpus(text).repartition(7), "text",
      vocabSize = 64, maxPieceLen = 8, iters = 3).collect().toSeq
    assert(one === many)
  }
}
