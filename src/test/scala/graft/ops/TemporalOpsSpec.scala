package graft.ops

import graft.SparkSpec
import graft.ops.TableFiles.TableWriter
import org.scalatest.funsuite.AnyFunSuite

/** Semantics pins for the temporal/CDC pack on crafted fixtures (the DuckDB
  * oracle already gates these on the driver's tables; these fix the edge
  * cases the synthetic data may never hit): the as-of tie rule of the
  * point-in-time join, upsert version precedence and op accounting, the
  * full-history gate of the anomaly window, and the open last interval of
  * the SCD2 build.
  */
class TemporalOpsSpec extends AnyFunSuite with SparkSpec {

  private def writeEvents(rows: Seq[(Long, Long, Long, String, Double)]): String = {
    import spark.implicits._
    val dir = SparkSpec.tempDir("temporal").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .writeTable(dir, "events")
    dir
  }

  private val G = 1000000000L // secs -> stored nanos

  test("join_temporal: a purchase that IS a change point sees its own new tier") {
    val rows = Seq(
      (1L, 1000L * G, 1L, "signup", 50.0),    // tier 0 (first event = change)
      (2L, 2000L * G, 1L, "purchase", 150.0), // change to tier 1 AND fact -> tier 1
      (3L, 3000L * G, 1L, "purchase", 160.0), // no change -> carries tier 1
      (4L, 4000L * G, 1L, "view", 250.0),     // change to tier 2
      (5L, 5000L * G, 1L, "purchase", 40.0))  // change back to 0 AND fact -> tier 0
    val dir = writeEvents(rows)
    val got = TemporalOps.queries("join_temporal")(spark, dir)
      .collect().map(r => r.getLong(1) -> (r.getLong(3), r.getLong(4))).toMap
    assert(got == Map(
      2L -> ((15000L, 1L)),
      3L -> ((16000L, 1L)),
      5L -> ((4000L, 0L))))
  }

  test("scd2_history: change points only, intervals close with next change, last stays open") {
    val rows = Seq(
      (1L, 100L * G, 9L, "view", 10.0),  // tier 0 from t=100
      (2L, 200L * G, 9L, "view", 20.0),  // still tier 0: NOT a change row
      (3L, 300L * G, 9L, "view", 110.0), // tier 1 from t=300
      (4L, 400L * G, 9L, "view", 120.0))
    val dir = writeEvents(rows)
    val got = TemporalOps.queries("scd2_history")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4)))
    assert(got.toSeq == Seq((1L, 0L, 100L, 299L), (3L, 1L, 300L, -1L)))
  }

  test("events_anomaly: verdicts need a full 7-day history; only the spike day flags") {
    val cnts = Seq(100, 102, 98, 101, 99, 103, 100, 101, 99, 102, 250, 101, 100)
    var id = 0L
    val rows = cnts.zipWithIndex.flatMap { case (c, day) =>
      (1 to c).map { _ =>
        id += 1
        (id, day * 86400L * G + id % 1000 * G, id % 7, "click", 1.0)
      }
    }
    val dir = writeEvents(rows)
    val got = TemporalOps.queries("events_anomaly")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(5))).toMap
    // first 7 days have no full history -> no verdict rows
    assert(got.keySet == (7 until cnts.size).map(_.toLong).toSet)
    val want = (7 until cnts.size).map { i =>
      val w = cnts.slice(i - 7, i).map(_.toLong)
      val s = w.sum; val q = w.map(c => c * c).sum
      val d = 7L * cnts(i) - s
      i.toLong -> (d > 0 && d * d > 4 * (7 * q - s * s))
    }.toMap
    got.foreach { case (day, (cnt, spike)) =>
      assert(cnt == cnts(day.toInt).toLong)
      assert(spike == want(day), s"day $day")
    }
    assert(got.filter(_._2._2).keySet == Set(10L))
  }

  test("merge_upsert: latest version wins, inserts get new keys, ops are labeled") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("temporal").toString
    val ts = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
    (1L to 20L).map(k => (k, k, "O", 100.37 * k, ts, "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .writeTable(dir, "orders")
    val got = TemporalOps.queries("merge_upsert")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(got.size == 21) // 20 base keys + one insert (13 % 13 == 0)
    def cents(k: Long) = math.round(100.37 * k * 100)
    // updated: keys 7 and 14 carry the delta version and the 10% bump
    Seq(7L, 14L).foreach { k =>
      assert(got(k) == (("U", cents(k) * 11 / 10, 1L, "updated")), s"key $k") }
    // inserted: 13 -> new key 10000013 at version 1, original 13 unchanged
    assert(got(10000013L) == (("I", cents(13), 1L, "inserted")))
    assert(got(13L) == (("O", cents(13), 0L, "unchanged")))
    assert(got(1L) == (("O", cents(1), 0L, "unchanged")))
  }

  test("merge_ivm: retractions, inserts, zero-count deletion, brand-new keys") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("temporal").toString
    val ts = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
    // custkey 1 owns orders 9 and 18 (both retracted: %9==0) -> count hits
    // zero -> the view row must DISAPPEAR, not survive as (1, 0, 0).
    // custkey 2 owns 11 (insert echo) and 5 (kept). order 33 inserts under
    // a brand-new custkey 3+1000000. custkey 4 owns 99 (%9 AND %11 AND
    // %33: its one row is retracted AND echoes under a brand-new key, so
    // cust 4 drops while 1000004 appears).
    val rows = Seq(
      (9L, 1L, 100.0), (18L, 1L, 200.0),
      (11L, 2L, 300.0), (5L, 2L, 400.0),
      (33L, 3L, 500.0), (99L, 4L, 600.0))
    rows.map { case (k, c, p) => (k, c, "O", p, ts, "1-URGENT") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .writeTable(dir, "orders")
    val got = TemporalOps.queries("merge_ivm")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(!got.contains(1L), "fully-retracted customer must drop from the view")
    // cust 2: kept 40000 + original 30000 + echo 15050 = 3 orders
    assert(got(2L) == ((3L, 85050L, 1L)))
    // cust 3: order 33 kept (33 % 9 != 0); its echo lands under 1000003
    assert(got(3L) == ((1L, 50000L, 0L)), "untouched except its own base row")
    assert(got(1000003L) == ((1L, 25050L, 1L)), "brand-new key from the insert leg")
    // cust 4: order 99 retracted (count -> 0, drops) AND echoes under
    // 1000004 (99 % 33 == 0)
    assert(!got.contains(4L), "retract + new-key echo must leave the old key empty")
    assert(got(1000004L) == ((1L, 30050L, 1L)))
  }

  test("events_cusum: prefix identity matches the direct recursion; alarm classes") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("temporal").toString
    // one type, crafted daily counts: quiet, then a sustained level shift
    val cnts = Seq(10, 10, 10, 9, 11, 10, 30, 32, 31, 10, 10)
    var id = 0L
    val rows = cnts.zipWithIndex.flatMap { case (c, day) =>
      (1 to c).map { _ => id += 1; (id, day * 86400L * G + (id % 100) * G, id % 5, "click", 1.0) }
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .writeTable(dir, "events")
    val r = TemporalOps.queries("events_cusum")(spark, dir).collect()
    assert(r.length == 1)
    val (nDays, nAlarms, maxS, firstDay) =
      (r(0).getLong(1), r(0).getLong(2), r(0).getLong(3), r(0).getLong(4))
    // direct recursion S_d = max(0, S_{d-1} + x_d*nd - total) on the driver
    val nd = cnts.length.toLong
    val total = cnts.map(_.toLong).sum
    var sRec = 0L
    val sSeq = cnts.map { x => sRec = math.max(0L, sRec + x * nd - total); sRec }
    assert(nDays == nd)
    assert(maxS == sSeq.max, "prefix identity must equal the recursion")
    val peak = sSeq.max
    val alarms = sSeq.zipWithIndex.filter { case (s, _) => peak > 0 && s * 4 >= peak * 3 }
    assert(nAlarms == alarms.length && nAlarms >= 1)
    assert(firstDay == alarms.head._2.toLong)
    // both classes exercised: some days alarm, some don't
    assert(nAlarms < nd)
  }
}
