package graft.ops

import graft.SparkSpec
import graft.ops.TableFiles.TableWriter
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Ground-truth checks for the corpus pack beyond what the fixed-table
  * DuckDB oracle can isolate: bitmap-vs-Expand distinct equality, the
  * bloom prefilter's exactness, crafted-graph common-neighbor brute force,
  * URL canonicalization fixed points, and a driver-side MAD / forward
  * as-of recomputation.
  */
class CorpusOpsSpec extends AnyFunSuite with SparkSpec {

  private val SF = "/root/testdata/sf0.001"

  test("agg_bitmap equals count(DISTINCT) computed by Spark's own Expand path") {
    val bitmap = CorpusOps.queries("agg_bitmap")(spark, SF).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.t(spark, SF, "events")
      .groupBy("event_type").agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bitmap === exact)
  }

  test("bitmap chunks stay exact on adversarial ids (negatives, chunk edges, dupes)") {
    import spark.implicits._
    // ids straddling chunk boundaries, bit 63, negatives. shiftright/& are
    // floor-division semantics, so (id >> 6, id & 63) is injective over
    // ALL longs — the div/% formulation this replaced collided -1 with 63
    // (both (chunk 0, bit 63)) and -63 with 1, undercounting negatives.
    val ids = Seq(0L, 1L, 63L, 64L, 127L, 128L, Long.MaxValue, Long.MaxValue - 1,
      -1L, -63L, -64L, -65L, Long.MinValue, 42L, 42L, 42L)
    val df = ids.map(i => ("t", i)).toDF("event_type", "user_id")
    val got = df.groupBy(col("event_type"), expr("shiftright(user_id, 6)").as("chunk"))
      .agg(expr("bit_or(shiftleft(1L, int(user_id & 63)))").as("mask"))
      .groupBy(col("event_type"))
      .agg(sum(expr("bit_count(mask)")).cast("long").as("n"))
      .head().getLong(1)
    assert(got === ids.distinct.size.toLong)
  }

  test("native bitmap aggregate matches count(DISTINCT) and plans as one aggregate, one exchange") {
    import org.apache.spark.sql.functions.{call_function, countDistinct}
    graft.expressions.GraftFunctions.register(spark)
    // parity on real data
    val q = CorpusOps.queries("agg_bitmap_native")(spark, SF)
    val got = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.t(spark, SF, "events")
      .groupBy("event_type").agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === exact)
    // adversarial ids: negatives, chunk edges, duplicates, nulls ignored
    import spark.implicits._
    val ids = Seq[java.lang.Long](0L, 63L, -1L, -64L, Long.MaxValue, Long.MinValue, 42L, 42L, null)
    val n = ids.map(Option(_)).toDF("id")
      .agg(call_function("graft_bitmap_distinct", col("id"))).head().getLong(0)
    assert(n === 7L)
    // plan shape: a single two-phase ObjectHashAggregate — no Expand, and
    // only the final-aggregate exchange (agg_bitmap's extra chunk-keyed
    // shuffle is gone)
    // AQE's toString repeats the plan under "== Initial Plan ==" — count
    // exchanges in the final section only
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("Expand"), s"native bitmap agg must not plan an Expand:\n$plan")
    val exchanges = plan.linesIterator.count(l => l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges <= 2, s"expected agg + sort exchanges only:\n$plan") // final agg + orderBy range
  }

  test("bloom-prefiltered decontamination returns exactly the exact query's rows") {
    val exact = TextOps.queries("text_decontaminate")(spark, SF).collect().toSeq
    val bloom = CorpusOps.queries("text_decontaminate_bloom")(spark, SF).collect().toSeq
    assert(bloom === exact)
  }

  test("common neighbors on crafted graphs matches brute force") {
    import spark.implicits._
    // a path (ends share the middle), a star (all leaf pairs share the
    // hub), a square (diagonals share two), K4 minus an edge, plus
    // duplicate/reversed input orientations that must collapse
    val graphs = Seq(
      Seq((1L, 2L), (2L, 3L)),
      Seq((10L, 1L), (10L, 2L), (10L, 3L), (1L, 10L)),
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)),
      Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L)))
    graphs.foreach { g =>
      val got = CorpusOps.commonNeighbors(g.toDF("a", "b"), 100)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val e = g.map { case (x, y) => (math.min(x, y), math.max(x, y)) }
        .filter { case (x, y) => x != y }.distinct.toSet
      val nodes = e.flatMap { case (x, y) => Seq(x, y) }.toSeq.sorted
      val adj = nodes.map(n =>
        n -> e.collect { case (x, y) if x == n => y; case (x, y) if y == n => x }.toSet).toMap
      val brute = (for {
        a <- nodes; b <- nodes if a < b && !e((a, b))
        cn = (adj(a) intersect adj(b)).size if cn > 0
      } yield (a, b, cn.toLong)).toSet
      assert(got === brute, s"graph $g")
    }
  }

  test("winnowing position clamp: a shared tail past gram position 65535 still pairs") {
    import spark.implicits._
    // round-13 advisory, fixed round-14: the fingerprint encoding
    // hash·2^16 + (2^16−1−i) went NEGATIVE past gram position 65535, so
    // the recovered hash (enc div 2^16) silently became hash−1 there — a
    // run shared between a SHORT doc (positions << 65535) and a LONG doc
    // (positions past 65535) stopped matching exactly where
    // multi-100k-token documents live. The greatest(·, 0) clamp keeps the
    // hash half exact at any position (only the rightmost tie-break
    // saturates), so this crafted pair MUST surface.
    val shared = (0 until 100).map(i => s"shared$i").mkString(" ")
    val doc1 = (0 until 200).map(i => s"a$i").mkString(" ") + " " + shared
    val doc2 = (0 until 66000).map(i => s"b$i").mkString(" ") + " " + shared
    val dir = SparkSpec.tempDir("winnow-clamp").toString
    Seq((1L, doc1), (2L, doc2)).toDF("doc_id", "text")
      .writeTable(dir, "documents")
    val out = CorpusOps.queries("dedup_winnowing")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.exists { case (a, b, n) => a == 1L && b == 2L && n >= 3L },
      s"the 100-token shared tail must survive the clamp, got: ${out.mkString(", ")}")
  }

  test("URL canonicalization is idempotent and handles each noise source") {
    import spark.implicits._
    val cases = Seq(
      // (messy, expected canonical)
      ("https://WEB.example.com/p/3", "https://web.example.com/p/3"),
      ("https://web.example.com:443/p/3", "https://web.example.com/p/3"),
      ("https://web.example.com/p/3/", "https://web.example.com/p/3"),
      ("https://web.example.com/p/3?utm_source=feed", "https://web.example.com/p/3"),
      ("https://web.example.com/p/3/?utm_campaign=x#sec2", "https://web.example.com/p/3"),
      ("https://WEB.example.com:443/p/3/?utm_source=feed#sec2", "https://web.example.com/p/3"))
    val got = cases.map(_._1).toDF("url")
      .select(CorpusOps.canonicalizeUrl(col("url")).as("c")).collect().map(_.getString(0))
    assert(got.toSeq === cases.map(_._2))
    // fixed point: canonicalizing a canonical URL changes nothing
    val twice = cases.map(_._2).toDF("url")
      .select(CorpusOps.canonicalizeUrl(col("url")).as("c")).collect().map(_.getString(0))
    assert(twice.toSeq === cases.map(_._2))
  }

  test("window_mad matches a driver-side recomputation") {
    val got = CorpusOps.queries("window_mad")(spark, SF).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val rows = Tables.t(spark, SF, "orders")
      .select(col("o_custkey"), round(col("o_totalprice") * 100).cast("long").as("pc"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def lowerMedian(xs: Seq[Long]): Long = xs.sorted.apply((xs.size + 1) / 2 - 1)
    val brute = rows.groupBy(_._1).map { case (k, vs) =>
      val cs = vs.map(_._2).toSeq
      val med = lowerMedian(cs)
      k -> ((cs.size.toLong, med, lowerMedian(cs.map(x => math.abs(x - med)))))
    }
    assert(got === brute)
  }

  test("forward as-of picks the first at-or-after purchase, per the pinned tie rule") {
    val got = CorpusOps.queries("join_asof_fwd")(spark, SF).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    val ev = Tables.t(spark, SF, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), unix_timestamp(col("ts")).as("cs"),
        col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val byUser = ev.groupBy(_._2)
    val brute = ev.filter(_._4 == "click").map { case (eid, uid, cs, _) =>
      eid -> byUser(uid).filter(e => e._4 == "purchase"
          && (e._3 > cs || (e._3 == cs && e._1 > eid))) // (ts, event_id) order: same-second smaller-id purchases sort before the click
        .sortBy(e => (e._3, e._1)).headOption.map(_._1)
    }.toMap
    assert(got === brute)
  }
}
