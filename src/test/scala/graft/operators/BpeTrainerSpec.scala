package graft.operators

import graft.SparkTestBase

/** BPE training verified against an independent plain-Scala reference
  * (no Spark, no shared helpers beyond the merge rule's textbook
  * definition) on the classic Sennrich corpus. */
class BpeTrainerSpec extends SparkTestBase {
  import spark.implicits._

  /** Independent reference: greedy BPE over a word-frequency map using
    * nothing but Scala collections. Tie rule: count DESC, left ASC,
    * right ASC. */
  private def refBpe(words: Map[String, Long], n: Int): Seq[(Int, String, String, Long)] = {
    var hist: Map[Vector[String], Long] =
      words.map { case (w, f) => (w.map(_.toString).toVector :+ "</w>") -> f }
    val out = Vector.newBuilder[(Int, String, String, Long)]
    var rank = 0
    var continue = true
    while (rank < n && continue) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, f) <- hist; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) = counts.getOrElse((syms(i), syms(i + 1)), 0L) + f
      if (counts.isEmpty) continue = false
      else {
        val ((l, r), cnt) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        out += ((rank, l, r, cnt))
        hist = hist.groupMapReduce { case (syms, _) =>
          // textbook left-to-right non-overlapping rewrite
          val merged = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
              merged += (l + r); i += 2
            } else { merged += syms(i); i += 1 }
          }
          merged.result()
        }(_._2)(_ + _)
        rank += 1
      }
    }
    out.result()
  }

  private val sennrich = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)

  private def corpusDf = {
    // one doc per word occurrence — exercises the histogram aggregation
    val rows = sennrich.toSeq.flatMap { case (w, f) => Seq.fill(f.toInt)(w) }
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }
    rows.toDF("doc_id", "text")
  }

  test("merge table matches the independent reference on the Sennrich corpus") {
    val got = BpeTrainer.train(corpusDf, "text", 8)
      .as[(Int, String, String, Long)].collect().sortBy(_._1).toSeq
    val want = refBpe(sennrich, 8)
    assert(got == want, s"\nspark: $got\nref:   $want")
    // first merge of the classic example: ('e','s') with count 9
    assert(got.head == ((0, "e", "s", 9L)))
  }

  test("distributed merge rounds produce the same table as the local loop") {
    val local = BpeTrainer.train(corpusDf, "text", 6)
      .as[(Int, String, String, Long)].collect().toSeq
    val dist = BpeTrainer.train(corpusDf, "text", 6, driverLocalMaxTypes = 0)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(local == dist)
  }

  test("merge table is invariant under input partitioning") {
    val a = BpeTrainer.train(corpusDf.repartition(7), "text", 6)
      .as[(Int, String, String, Long)].collect().toSeq
    val b = BpeTrainer.train(corpusDf.coalesce(1), "text", 6)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(a == b)
  }

  test("non-BMP symbols: local and distributed loops break ties identically") {
    // U+FFFD sorts BELOW U+1D11E in UTF-8/codepoint order but ABOVE it in
    // UTF-16 code-unit order — a tie between the two must resolve the
    // same way on both paths
    val clef = "𝄞" // 𝄞 (U+1D11E)
    val docs = Seq.fill(2)(s"${clef}x").zipWithIndex
      .map { case (w, i) => (i.toLong, w) } ++
      Seq.fill(2)("�x").zipWithIndex
        .map { case (w, i) => (i + 10L, w) }
    val df = docs.toDF("doc_id", "text")
    val local = BpeTrainer.train(df, "text", 3)
      .as[(Int, String, String, Long)].collect().sortBy(_._1).toSeq
    val dist = BpeTrainer.train(df, "text", 3, driverLocalMaxTypes = 0)
      .as[(Int, String, String, Long)].collect().sortBy(_._1).toSeq
    assert(local == dist, s"\nlocal: $local\ndist:  $dist")
    // merge 0 is the shared (x, </w>); the count-2 tie at merge 1 must go
    // to U+FFFD (smaller in UTF-8 byte order), not the surrogate pair
    assert(local(1)._2 == "�", s"tie went to ${local(1)._2}")
  }
}
