package graft.ops

import graft.SparkSpec
import graft.ops.TableFiles.TableWriter
import org.scalatest.funsuite.AnyFunSuite

/** Semantics pins for the mining pack on crafted fixtures (the DuckDB oracle
  * gates these on the driver's tables; these fix the edge cases the synthetic
  * corpus may never exercise): cross-doc-only counting in span dedup, the
  * aligned-block boundary, chunk stride/overlap and the short tail chunk,
  * order-proof path assembly, the exact 2-sigma outlier boundary, and
  * truncation (not floor) semantics on negative period deltas.
  */
class MiningOpsSpec extends AnyFunSuite with SparkSpec {

  private def writeDocs(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = SparkSpec.tempDir("mining").toString
    rows.toDF("doc_id", "text").writeTable(dir, "documents")
    dir
  }

  private def writeOrders(rows: Seq[(Long, String, Double, java.sql.Timestamp)]): String = {
    import spark.implicits._
    val dir = SparkSpec.tempDir("mining").toString
    rows.toDF("o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate")
      .writeTable(dir, "orders")
    dir
  }

  private def words(prefix: String, n: Int): String =
    (1 to n).map(i => s"$prefix$i").mkString(" ")

  test("dedup_spans: cross-doc duplicate blocks counted; within-doc repeats are NOT dups") {
    // doc 1: blocks [A, B]; doc 2: blocks [A, C]; doc 3: blocks [D, D]
    val a = words("a", 8); val b = words("b", 8)
    val c = words("c", 8); val dd = words("d", 8)
    val dir = writeDocs(Seq(
      (1L, s"$a $b"), (2L, s"$a $c"), (3L, s"$dd $dd")))
    val got = MiningOps.queries("dedup_spans")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // A appears in docs 1 and 2 -> dup in both; D repeats only inside doc 3 -> not a dup
    assert(got == Map(
      1L -> ((2L, 1L, 500L)),
      2L -> ((2L, 1L, 500L)),
      3L -> ((2L, 0L, 0L))))
  }

  test("dedup_spans: only aligned FULL 8-token blocks count (tail tokens ignored)") {
    // 19 tokens -> 2 full blocks, 3-token tail dropped; 7 tokens -> no block, doc absent
    val dir = writeDocs(Seq((1L, words("x", 19)), (2L, words("y", 7))))
    val got = MiningOps.queries("dedup_spans")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L))
  }

  test("text_chunk: stride 24 with 8-token overlap; short tail chunk kept") {
    // 40 tokens -> chunks at [1..32] (32 toks) and [25..40] (16 toks)
    val dir = writeDocs(Seq((1L, words("w", 40))))
    val got = MiningOps.queries("text_chunk")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((0L, 32L), (1L, 16L)))
  }

  test("text_tfidf: rarer term outranks frequent common term; word tiebreak is ascending") {
    // docs 1-3 all contain "common common"; doc 1 also has "rare" once.
    // doc 1 scores: common tf=2 df=3 -> 666666; rare tf=1 df=1 -> 1000000.
    val dir = writeDocs(Seq(
      (1L, "common common rare"), (2L, "common common"), (3L, "common common")))
    val got = MiningOps.queries("text_tfidf")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(5)))
    assert(got.filter(_._1 == 1L).toSeq ==
      Seq((1L, 1L, "rare", 1000000L), (1L, 2L, "common", 666666L)))
  }

  test("events_paths: path order follows event_id, not input row order") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("mining").toString
    // rows deliberately written out of sequence order
    Seq((3L, 30L * 1000000000L, 1L, "purchase", 1.0),
        (1L, 10L * 1000000000L, 1L, "view", 1.0),
        (2L, 20L * 1000000000L, 1L, "click", 1.0),
        (4L, 40L * 1000000000L, 1L, "error", 1.0), // rn=4 -> excluded
        (5L, 10L * 1000000000L, 2L, "view", 1.0))  // user 2: only 1 event -> excluded
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .writeTable(dir, "events")
    val got = MiningOps.queries("events_paths")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(("view>click>purchase", 1L)))
  }

  test("agg_outliers: strict 2-sigma boundary on exact integer moments") {
    // Nine 100s and one 1000: mu = 190, sigma^2 = 72900, sigma = 270.
    // |100-190| = 90 <= 540; |1000-190| = 810 > 540 -> exactly one outlier.
    val ts = java.sql.Timestamp.valueOf("1997-01-15 00:00:00")
    val rows = (1L to 9L).map(k => (k, "1-URGENT", 100.0, ts)) :+ ((10L, "1-URGENT", 1000.0, ts))
    val dir = writeOrders(rows)
    val got = MiningOps.queries("agg_outliers")(spark, dir).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) == ((10L, 1L, 1000L, 1000L)))
  }

  test("window_pct_change: negative deltas truncate toward zero (cross-engine rule)") {
    def ts(m: String) = java.sql.Timestamp.valueOf(s"1997-$m-15 00:00:00")
    // months: 300.00 -> 100.00 (delta -2000/3 = -666.67 -> trunc -666), then 100 -> 250
    val dir = writeOrders(Seq(
      (1L, "1-URGENT", 300.0, ts("01")),
      (2L, "1-URGENT", 100.0, ts("02")),
      (3L, "1-URGENT", 250.0, ts("03"))))
    val got = MiningOps.queries("window_pct_change")(spark, dir)
      .collect().map(r => if (r.isNullAt(4)) None else Some(r.getLong(4)))
    assert(got.toSeq == Seq(None, Some(-666L), Some(1500L)))
  }

  test("events_attribution: window edges and integer credit split") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("mining").toString
    val G = 1000000000L
    // purchase at t=5000s, value 1.00 -> 100 cents
    Seq((10L, 5000L * G, 1L, "purchase", 1.0),
        (1L, 1400L * G, 1L, "click", 0.0),  // 3600s before -> INCLUDED (>= ps-3600)
        (2L, 1399L * G, 1L, "click", 0.0),  // 3601s before -> excluded
        (3L, 5000L * G, 1L, "click", 0.0),  // same second as purchase -> excluded (cs < ps)
        (4L, 4999L * G, 1L, "click", 0.0),  // 1s before -> included
        (5L, 4000L * G, 2L, "click", 0.0),  // other user -> excluded
        (11L, 9000L * G, 2L, "purchase", 5.0)) // zero-touch purchase -> absent
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .writeTable(dir, "events")
    val got = MiningOps.queries("events_attribution")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    // 2 touches share 100 cents -> 50 each
    assert(got.toSeq == Seq((10L, 100L, 2L, 50L)))
  }

  test("text_cooccur: jaccard permille and support floor") {
    // "p q" co-occur in 10 docs (support 10, df both 10 -> jaccard 1000);
    // "p r" co-occur in 9 docs only -> below the support floor, absent.
    val docs = (1L to 9L).map(k => (k, "p q r")) :+ ((10L, "p q"))
    val dir = writeDocs(docs)
    val got = MiningOps.queries("text_cooccur")(spark, dir)
      .collect().map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(5)))).toMap
    assert(got == Map(("p", "q") -> ((10L, 1000L))))
  }
}
