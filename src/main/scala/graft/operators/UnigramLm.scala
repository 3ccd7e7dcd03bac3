package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Unigram language-model tokenizer training (Kudo 2018, the
  * SentencePiece unigram algorithm; hard-EM variant) — the OTHER
  * canonical subword tokenizer next to [[BpeTrainer]]'s BPE: BPE grows
  * a vocabulary bottom-up by merging, unigram-LM starts from an
  * over-complete substring vocabulary and prunes it top-down under a
  * piece-probability model. Production pipelines ship both; their
  * disagreement on a corpus (q129's fertility audit) is itself a data
  * signal.
  *
  * Scale shape (the [[BpeTrainer]] discipline): the corpus is touched
  * in exactly ONE shuffle — the word-TYPE histogram; seeding and every
  * EM round run over word types (Heaps' law small) as narrow typed
  * flatMaps against a BROADCAST vocabulary, followed by one combinable
  * count aggregation of at most `vocabSize` rows. Nothing driver-side
  * ever holds corpus-proportional state — only the ≤ `vocabSize`-row
  * vocabulary table itself.
  *
  * Determinism (cross-run, cross-partitioning): scores live in integer
  * MICRO-NATS (`round(ln p · 10⁶)` of exact count ratios), Viterbi
  * ties break toward the LONGEST piece at each boundary, and both the
  * seed and final vocabularies order by (count DESC, piece ASC in
  * unsigned UTF-8) — the [[BpeTrainer.utf8Order]] total order.
  */
object UnigramLm {

  /** A trained piece: corpus count under the final hard-EM
    * segmentation and its log-probability in micro-nats. */
  case class Piece(piece: String, n: Long, logp_micro: Long)

  /** Characters absent from the vocabulary segment as themselves at
    * this penalty — guarantees every word is segmentable while making
    * an out-of-vocab character strictly worse than any real piece. */
  private val UnkPenaltyMicro = -25000000L

  private def microLn(num: Long, den: Long): Long =
    math.round(math.log(num.toDouble / den.toDouble) * 1e6)

  /** Viterbi segmentation of one word under a micro-nat piece table.
    * dp over end positions; at equal score the LONGER piece wins (then
    * the single-char UNK fallback loses to any real piece by
    * construction of its penalty). */
  private[operators] def viterbi(word: String,
      scores: collection.Map[String, Long], maxLen: Int): List[String] = {
    val n = word.length
    val best = new Array[Long](n + 1)
    val from = new Array[Int](n + 1)
    val via = new Array[String](n + 1)
    java.util.Arrays.fill(best, Long.MinValue / 4); best(0) = 0L
    var j = 1
    while (j <= n) {
      var i = math.max(0, j - maxLen)
      // ascending i = descending piece length: strict `>` keeps the
      // first (longest) winner on ties
      while (i < j) {
        val p = word.substring(i, j)
        val s = scores.get(p) match {
          case Some(lp) => lp
          case None => if (j - i == 1) UnkPenaltyMicro else Long.MinValue / 4
        }
        if (s > Long.MinValue / 8 && best(i) + s > best(j)) {
          best(j) = best(i) + s; from(j) = i; via(j) = p
        }
        i += 1
      }
      j += 1
    }
    var acc = List.empty[String]
    var k = n
    while (k > 0) { acc = via(k) :: acc; k = from(k) }
    acc
  }

  /** Train a unigram vocabulary over `docs(textCol)` (whitespace word
    * boundaries, pieces within words). Returns ≤ `vocabSize` pieces
    * with final-round counts and micro-nat log-probs, ordered
    * (n DESC, piece ASC utf8). Single characters present in the corpus
    * are never pruned (coverage guarantee — every word stays
    * segmentable). */
  def train(docs: DataFrame, textCol: String, vocabSize: Int = 512,
      maxPieceLen: Int = 8, iters: Int = 4,
      minSeedCount: Long = 2L): Dataset[Piece] = {
    val spark = docs.sparkSession
    import spark.implicits._

    // the ONE corpus shuffle: word types with frequencies
    val words = docs
      .select(explode(split(col(textCol), "\\s+")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("f"))
      .as[(String, Long)]
      .cache()

    // seed: every substring up to maxPieceLen, weighted by word freq;
    // top vocabSize under the total order, plus the full alphabet
    val subCounts = words.flatMap { case (w, f) =>
      for {
        i <- 0 until w.length
        j <- (i + 1) to math.min(w.length, i + maxPieceLen)
      } yield (w.substring(i, j), f)
    }.groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
      .map { case (p, c) => (p, c) }
      .cache()
    val alphabet = subCounts.filter(_._1.length == 1)
    val seedTop = subCounts
      .where(col("_2") >= minSeedCount)
      .orderBy(col("_2").desc, col("_1").asc)
      .limit(vocabSize)
    var vocab: Map[String, Long] = seedTop.unionByName(alphabet)
      .groupByKey(_._1).mapValues(_._2).reduceGroups((a, _) => a)
      .map { case (p, c) => (p, c) }
      .collect().toMap
    subCounts.unpersist()

    def toScores(counts: Map[String, Long]): Map[String, Long] = {
      val total = counts.valuesIterator.sum.max(1L)
      counts.map { case (p, c) => p -> microLn(c.max(1L), total) }
    }

    var counts = vocab
    var it = 0
    while (it < iters) {
      val bc = spark.sparkContext.broadcast(toScores(counts))
      val maxLen = maxPieceLen
      // E-step (hard): Viterbi counts under the broadcast scores —
      // a typed flatMap over word TYPES, one combinable aggregation out
      val emitted = words.flatMap { case (w, f) =>
        viterbi(w, bc.value, maxLen).map(p => (p, f))
      }.groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
        .map { case (p, c) => (p, c) }
        .collect().toMap
      bc.destroy()
      // M-step + prune: pieces the segmentation used, alphabet kept
      // (count floor 1 so coverage survives with a real probability)
      counts = vocab.collect {
        case (p, _) if emitted.contains(p) || p.length == 1 =>
          p -> emitted.getOrElse(p, 1L)
      }
      it += 1
    }

    words.unpersist()
    val fin = toScores(counts)
    counts.toSeq
      .map { case (p, c) => Piece(p, c, fin(p)) }
      .sortBy(p => (-p.n, p.piece))(Ordering.Tuple2(Ordering.Long,
        BpeTrainer.utf8Order))
      .toDS()
  }
}
