package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BpeSpec extends SparkSpec {

  test("mergePair is leftmost-greedy: odd runs, repeated pairs, merged-token pairs") {
    import spark.implicits._
    def run(syms: Seq[String], a: String, b: String): Seq[String] =
      Seq(Tuple1(syms)).toDF("syms")
        .select(KernelOracles.mergePair(col("syms"), a, b).as("m"))
        .as[Seq[String]].collect().head
    // odd run of the self-pair: leftmost wins, trailing element survives
    assert(run(Seq("a", "a", "a"), "a", "a") == Seq("aa", "a"))
    assert(run(Seq("a", "a", "a", "a"), "a", "a") == Seq("aa", "aa"))
    // disjoint occurrences both merge
    assert(run(Seq("a", "b", "a", "b"), "a", "b") == Seq("ab", "ab"))
    // a merged token participates as lhs in a LATER round, not its own
    assert(run(Seq("aa", "aa", "a"), "aa", "a") == Seq("aa", "aaa"))
    // no match -> identity; single symbol -> identity
    assert(run(Seq("x", "y"), "a", "b") == Seq("x", "y"))
    assert(run(Seq("x"), "a", "b") == Seq("x"))
  }

  test("train learns the hand-computed merge table and stops when pairs run out") {
    import spark.implicits._
    // vocab: aaab (freq 2), ab (freq 1)
    val docs = Seq("aaab aaab ab").toDF("text")
    // r1: (a,a) appears twice per aaab -> n=4; merge: aaab=[aa,a,b], ab=[a,b]
    // r2: (a,b) n = 2 (aaab) + 1 (ab) = 3 beats (aa,a) n=2
    // r3: (aa,ab) n=2; then every word is one symbol -> early stop
    val got = Bpe.train(spark, docs, "text", merges = 10)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(got == Seq(
      (1L, "a", "a", 4L),
      (2L, "a", "b", 3L),
      (3L, "aa", "ab", 2L)), s"got $got")
  }

  test("encode applies rules in order; tokens concatenate back to the text") {
    import spark.implicits._
    val docs = Seq((1L, "aaab aaab ab"), (2L, "ab  aaab")).toDF("doc_id", "text")
    // no rules -> character tokens
    val chars = Bpe.encode(docs, "doc_id", "text", Seq.empty)
      .as[(Long, String)].collect().toMap
    assert(chars(1L) == "a a a b a a a b a b")
    assert(chars(2L) == "a b a a a b") // double space: empty word dropped
    // the full learned table collapses each word to one token
    val full = Bpe.encode(docs, "doc_id", "text",
        Seq(("a", "a"), ("a", "b"), ("aa", "ab")))
      .as[(Long, String)].collect().toMap
    assert(full(1L) == "aaab aaab ab")
    assert(full(2L) == "ab aaab")
    // prefix of the table -> partial segmentation, lossless concatenation
    val mid = Bpe.encode(docs, "doc_id", "text", Seq(("a", "a")))
      .as[(Long, String)].collect().toMap
    assert(mid(1L) == "aa a b aa a b a b")
    assert(mid.values.forall(_.replace(" ", "").nonEmpty))
  }

  test("vocabulary counts conserve characters and match the toy corpus") {
    import spark.implicits._
    val docs = Seq("aaab aaab ab").toDF("text")
    val m = Seq(("a", "a"), ("a", "b"))
    // aaab (freq 2) -> [aa, ab]; ab (freq 1) -> [ab]
    val got = Bpe.vocabulary(docs, "text", m)
      .as[(String, Long)].collect().toMap
    assert(got == Map("aa" -> 2L, "ab" -> 3L), s"got $got")
    // invariant: sum over tokens of n * len(token) == total word chars
    val chars = got.map { case (t, n) => t.length * n }.sum
    assert(chars == "aaab".length * 2 + "ab".length)
  }

  test("ties break deterministically on (count desc, lhs, rhs)") {
    import spark.implicits._
    // xy and yx both n=1: lexicographic lhs order picks (x,y)
    val docs = Seq("xy yx").toDF("text")
    val got = Bpe.train(spark, docs, "text", merges = 1)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(got == Seq((1L, "x", "y", 1L)), s"got $got")
  }
}
