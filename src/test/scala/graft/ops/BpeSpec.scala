package graft.ops

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

/** BPE train/apply semantics on the paper's hand-traceable corpus shape,
  * plus the structural contracts: train/apply consistency, the
  * concat-identity (tokens rejoin to the marked word), determinism
  * across partitionings, and merge-budget exhaustion.
  */
class BpeSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  // the classic example family: {low, lower, newest, widest} with skewed
  // frequencies so "es", "est", "est</w>" merges dominate
  private def corpus = Seq(
    (1L, "low low low low low"),
    (2L, "lower lower"),
    (3L, "newest newest newest newest newest newest"),
    (4L, "widest widest widest"))

  test("training learns the expected first merges on the classic corpus") {
    val df = corpus.toDF("doc_id", "text")
    val merges = Bpe.train(df, 4)
    // 9x "es" (newest 6 + widest 3) beats everything else first;
    // then "es"+"t</w>" (9), then the next most frequent pair
    assert(merges.head == (("e", "s")), s"got $merges")
    assert(merges(1) == (("es", "t</w>")), s"got $merges")
    // "low" appears 7x (low 5 + lower 2) -> "l"+"o" is the 3rd merge
    assert(merges(2) == (("l", "o")), s"got $merges")
  }

  test("apply: training-set words re-segment to their trained forms; concat identity") {
    val df = corpus.toDF("doc_id", "text")
    val merges = Bpe.train(df, 8)
    val got = Bpe.tokenize(df, merges).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    // every token sequence rejoins to the original words + end markers
    corpus.foreach { case (id, text) =>
      val want = text.split(" ").map(w => w + "</w>").mkString
      assert(got(id).mkString == want, s"doc $id")
    }
    // after 8 merges the dominant words should be single tokens
    assert(got(3L).distinct == Seq("newest</w>") ||
      got(3L).forall(_.length > 1), s"newest should be heavily merged: ${got(3L)}")
  }

  test("unseen words segment with learned subwords; unknown chars stay atomic") {
    val df = corpus.toDF("doc_id", "text")
    val merges = Bpe.train(df, 6)
    val unseen = Seq((9L, "lowest")).toDF("doc_id", "text")
    val toks = Bpe.tokenize(unseen, merges).collect()(0).getSeq[String](1)
    assert(toks.mkString == "lowest</w>")
    assert(toks.length < "lowest".length + 1, s"some merge must apply: $toks")
    val weird = Seq((10L, "zq")).toDF("doc_id", "text")
    val wToks = Bpe.tokenize(weird, merges).collect()(0).getSeq[String](1)
    assert(wToks == Seq("z", "q</w>"))
  }

  test("deterministic across partitionings; frequency ties break lexicographically") {
    val docs = (0L until 40L).map(i => (i, s"abc abd ${"xy " * (i.toInt % 3)}ab"))
    Seq(2, 7).foreach { p =>
      val df = spark.sparkContext.parallelize(docs, p).toDF("doc_id", "text")
      val m1 = Bpe.train(df, 5)
      val m2 = Bpe.train(df, 5)
      assert(m1 == m2, s"partitions=$p")
    }
    val a = Bpe.train(spark.sparkContext.parallelize(docs, 2).toDF("doc_id", "text"), 5)
    val b = Bpe.train(spark.sparkContext.parallelize(docs, 7).toDF("doc_id", "text"), 5)
    assert(a == b, "training must not depend on partitioning")
  }

  test("size dispatch parity: local and distributed rounds learn identical merges") {
    // the dispatch bound exists so a 30-50k-merge vocabulary doesn't pay
    // one Spark job per round; parity between the two shapes is the
    // contract that makes the bound safe. localMaxWords=0 forces the
    // distributed rounds on a corpus that would otherwise dispatch local.
    val docs = (0L until 60L).map(i => (i, s"low lower newest widest ab${i % 5} xy"))
    val df = spark.sparkContext.parallelize(docs, 3).toDF("doc_id", "text")
    val local = Bpe.train(df, 8)
    val dist = Bpe.train(df, 8, localMaxWords = 0L)
    assert(local.nonEmpty && local.length == 8)
    assert(local == dist, s"local=$local dist=$dist")
  }

  test("merge budget exhaustion: tiny corpus stops early instead of looping") {
    val df = Seq((1L, "ab")).toDF("doc_id", "text")
    val merges = Bpe.train(df, 50)
    // "ab" has one pair -> one merge, then the word is a single symbol
    assert(merges == Seq(("a", "b</w>")))
    val toks = Bpe.tokenize(df, merges).collect()(0).getSeq[String](1)
    assert(toks == Seq("ab</w>"))
  }

  test("empty/null text tokenizes to zero tokens") {
    val df = Seq((1L, ""), (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = Bpe.tokenize(df, Seq.empty).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == Map(1L -> 0L, 2L -> 0L))
  }
}
