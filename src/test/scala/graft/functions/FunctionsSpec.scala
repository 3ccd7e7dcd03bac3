package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.{functions}
import org.apache.spark.sql.functions._

class TextFunctionsSpec extends SparkTestBase {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "THE  Quick   brown fox jumps over the lazy dog"),
    (3L, "completely different words entirely")).toDF("doc_id", "text")

  test("token counts and type-token ratio") {
    val r = docs.where($"doc_id" === 1)
      .select(TextFunctions.tokenCount($"text"),
        TextFunctions.uniqueTokenCount($"text"),
        TextFunctions.typeTokenRatio($"text"))
      .as[(Int, Int, Double)].collect().head
    assert(r._1 == 9)
    assert(r._2 == 8) // "the" twice
    assert(math.abs(r._3 - 8.0 / 9.0) < 1e-12)
  }

  test("fingerprint is invariant under case and whitespace runs") {
    val fps = docs.select(TextFunctions.fingerprint($"text")).as[String].collect()
    assert(fps(0) == fps(1))
    assert(fps(0) != fps(2))
  }

  test("minhash: identical token sets agree, disjoint sets differ") {
    val mh = docs.select(TextFunctions.minhash(lower($"text"), 0)).as[String].collect()
    assert(mh(0) == mh(1)) // same token set after lowering
    assert(mh(0) != mh(2))
  }

  test("langGuess: English stopword density vs none") {
    val r = docs.select(TextFunctions.langGuess($"text")).as[String].collect()
    assert(r(0) == "en")
    assert(r(2) == "und")
  }

  test("qualityScore is in [0, 1]") {
    val q = docs.select(TextFunctions.qualityScore($"text")).as[Double].collect()
    assert(q.forall(v => v >= 0.0 && v <= 1.0))
  }
}

class VectorFunctionsSpec extends SparkTestBase {
  import spark.implicits._

  private val vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f)),
    (3L, Array(2.0f, 0.0f, 0.0f)),
    (4L, Array(3.0f, 4.0f, 0.0f))).toDF("id", "v")

  private def pairCos(a: Long, b: Long): Double = {
    val l = vecs.where($"id" === a).select($"v".as("a"))
    val r = vecs.where($"id" === b).select($"v".as("b"))
    l.crossJoin(r).select(VectorFunctions.cosine($"a", $"b")).as[Double].collect().head
  }

  test("cosine: parallel=1, orthogonal=0") {
    assert(math.abs(pairCos(1, 3) - 1.0) < 1e-12)
    assert(math.abs(pairCos(1, 2)) < 1e-12)
  }

  test("l2 norm and element sum") {
    val r = vecs.where($"id" === 4)
      .select(VectorFunctions.l2Norm($"v"), VectorFunctions.elementSum($"v"))
      .as[(Double, Double)].collect().head
    assert(r._1 == 5.0)
    assert(r._2 == 7.0)
  }

  test("sqDist") {
    val l = vecs.where($"id" === 1).select($"v".as("a"))
    val r = vecs.where($"id" === 2).select($"v".as("b"))
    val d = l.crossJoin(r).select(VectorFunctions.sqDist($"a", $"b")).as[Double].collect().head
    assert(d == 2.0)
  }

  test("hyperplaneBucket: deterministic and bucket-stable for identical vectors") {
    val planes = Seq(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0))
    val b = vecs.select($"id", VectorFunctions.hyperplaneBucket($"v", planes).as("b"))
      .as[(Long, String)].collect().toMap
    assert(b(1) == b(3)) // colinear vectors share a bucket
    assert(b(1).length == 2)
  }
}

class SimHashSpec extends SparkTestBase {
  import spark.implicits._

  private def simhashOf(texts: Seq[String]) = {
    val sim = udaf(SimHash)
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .select($"doc_id", xxhash64($"tok").as("h"))
      .groupBy("doc_id").agg(sim($"h").as("s"))
      .as[(Long, Long)].collect().toMap
  }

  private def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)

  test("identical documents hash identically; near-identical are near") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = base + " extraword"
    val unrelated = (100 to 140).map(i => s"other$i").mkString(" ")
    val h = simhashOf(Seq(base, base, nearDup, unrelated))
    assert(h(0) == h(1))
    assert(hamming(h(0), h(2)) < hamming(h(0), h(3)))
    assert(hamming(h(0), h(2)) <= 8)
  }
}

class NativeVectorExpressionsSpec extends SparkTestBase {
  import spark.implicits._

  private val vecs = Seq(
    (1L, Array(1.5f, -2.5f, 3.0f)),
    (2L, Array(0.5f, 4.0f, -1.0f))).toDF("id", "v")

  test("native dot/cosine are bit-identical to the higher-order fold versions") {
    graft.plans.VectorExpressions.register(spark)
    val l = vecs.where($"id" === 1).select($"v".as("a"))
    val r = vecs.where($"id" === 2).select($"v".as("b"))
    val row = l.crossJoin(r).select(
      VectorFunctions.dot($"a", $"b"),
      VectorFunctions.nativeDot($"a", $"b"),
      VectorFunctions.cosine($"a", $"b"),
      VectorFunctions.nativeCosine($"a", $"b"))
      .as[(Double, Double, Double, Double)].collect().head
    assert(row._1 == row._2)
    assert(row._3 == row._4)
  }

  test("native dot returns null on dimension mismatch") {
    graft.plans.VectorExpressions.register(spark)
    val df = Seq((Array(1.0f, 2.0f), Array(1.0f))).toDF("a", "b")
    val out = df.select(VectorFunctions.nativeDot($"a", $"b")).collect().head
    assert(out.isNullAt(0))
  }
}

class SortedIntersectSizeSpec extends SparkTestBase {
  import spark.implicits._

  test("merge-walk intersect size matches array_intersect on sorted sets") {
    val df = Seq(
      (Array("a", "b", "c", "d"), Array("b", "d", "e")),
      (Array("a"), Array("b")),
      (Array[String](), Array("x")),
      (Array("x", "y"), Array("x", "y"))).toDF("a", "b")
    val rows = df.select(
      functions.call_function("graft_intersect_size", $"a", $"b"),
      functions.size(functions.array_intersect($"a", $"b")))
      .as[(Int, Int)].collect()
    assert(rows.forall(r => r._1 == r._2), rows.mkString(","))
  }
}

class ShinglesSpec extends SparkTestBase {
  import spark.implicits._

  test("3-gram shingles slide over tokens; short docs collapse to one") {
    val df = Seq((1L, "a b c d"), (2L, "a b")).toDF("doc_id", "text")
    val out = df.select($"doc_id", TextFunctions.shingles($"text", 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(out(1L) == Seq("a b c", "b c d"))
    assert(out(2L) == Seq("a b"))
  }

  test("shingle minhash detects reorder that unigram minhash misses") {
    val df = Seq(
      (1L, "the cat sat on the mat today ok"),
      (2L, "ok today mat the on sat cat the")).toDF("doc_id", "text")
    val uni = df.select(TextFunctions.minhash($"text", 0)).as[String].collect()
    val shi = df.select(TextFunctions.minhashOfTokens(TextFunctions.shingles($"text", 3), 0))
      .as[String].collect()
    assert(uni(0) == uni(1))  // same token set: unigram minhash identical
    assert(shi(0) != shi(1))  // different 3-gram sets: shingles differ
  }
}
