package graft.ops

import graft.SparkSpec
import graft.ops.TableFiles.TableWriter
import org.scalatest.funsuite.AnyFunSuite

/** Brute-force ground-truth checks for the round-7 sequence/corpus ops on
  * GENERATED data (the DuckDB oracle already gates them on the driver's
  * tables; these pin the semantics on adversarial shapes — empty users,
  * single-day users, long gaps, total-tie groups, crafted common grams).
  */
class PipelineOpsSpec extends AnyFunSuite with SparkSpec {

  /** Write a synthetic events table (ts stored as epoch NANOS long, like
    * the driver's parquet) and return the table dir.
    */
  private def writeEvents(rows: Seq[(Long, Long, Long, String, Double)]): String = {
    import spark.implicits._
    val dir = SparkSpec.tempDir("pipeops").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .writeTable(dir, "events")
    dir
  }

  test("sort_paginate_keyset returns the identical page to OFFSET, with a seek plan") {
    val dir = "/root/testdata/sf0.001"
    val offsetPage = PipelineOps.queries("sort_paginate")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val keyset = PipelineOps.queries("sort_paginate_keyset")(spark, dir)
    val keysetPage = keyset.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(keysetPage == offsetPage, "page 6 (rows 101-120) must be identical either way")
    // plan shape: the seek predicate reaches the scan (sargable pushdown)
    // and the page is a top-k, not a deep offset CollectLimit
    val phys = keyset.queryExecution.executedPlan.toString
    assert(phys.contains("TakeOrderedAndProject"), s"expected top-k plan:\n$phys")
    assert(!phys.contains("CollectLimit"), s"keyset page must not plan an offset collect:\n$phys")
    assert(phys.contains("PushedFilters: [Or(LessThan(o_totalprice")
      || phys.contains("PushedFilters: [Or(And("),
      s"seek predicate did not push to the scan:\n$phys")
  }

  test("window_streak matches a brute-force streak computation") {
    val rnd = new scala.util.Random(42)
    val dayNs = 86400L * 1000000000L
    // 30 users x sparse day activity, plus adversarial single-day users
    val rows = (for {
      u <- 1 to 30
      d <- (1 to 60).filter(_ => rnd.nextDouble() < 0.4)
    } yield (u * 1000L + d, d * dayNs + (rnd.nextInt(1000) * 1000000L), u.toLong,
        "view", 1.0)) ++
      Seq((90001L, 5L * dayNs, 777L, "view", 1.0),
        (90002L, 5L * dayNs + 1L, 777L, "view", 1.0)) // same day twice
    val dir = writeEvents(rows)

    val got = PipelineOps.queries("window_streak")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap

    val byUser = rows.groupBy(_._3).view.mapValues(_.map(_._2 / dayNs).distinct.sorted)
    byUser.foreach { case (u, days) =>
      val runs = days.foldLeft(List.empty[Long]) {
        case (h :: t, d0) if days.contains(d0 - 1) => (h + 1) :: t
        case (acc, _) => 1L :: acc
      }
      assert(got(u) == ((runs.max, days.size.toLong, runs.size.toLong)),
        s"user $u days=$days")
    }
    assert(got.keySet == byUser.keySet)
  }

  test("dedup_latest keeps exactly the highest-event_id row per key") {
    val rows = Seq(
      (1L, 1000000000L, 1L, "view", 0.5),
      (5L, 2000000000L, 1L, "view", 1.5),   // survivor for (1, view)
      (3L, 3000000000L, 1L, "click", 2.25),  // survivor for (1, click)
      (2L, 4000000000L, 2L, "view", -0.75)) // survivor for (2, view)
    val dir = writeEvents(rows)
    val got = PipelineOps.queries("dedup_latest")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, "click", 3L, 2250L), (1L, "view", 5L, 1500L), (2L, "view", 2L, -750L)))
  }

  test("events_retention cohorts reconcile with brute force") {
    val wkNs = 604800L * 1000000000L
    val rows = Seq(
      // user 1: weeks 10, 11, 13  -> cohort 10, offsets 0,1,3
      (1L, 10L * wkNs, 1L, "a", 0.0), (2L, 11L * wkNs, 1L, "a", 0.0),
      (3L, 13L * wkNs, 1L, "a", 0.0),
      // user 2: weeks 10, 13      -> cohort 10, offsets 0,3
      (4L, 10L * wkNs + 5L, 2L, "a", 0.0), (5L, 13L * wkNs, 2L, "a", 0.0),
      // user 3: week 11 only      -> cohort 11, offset 0
      (6L, 11L * wkNs, 3L, "a", 0.0))
    val dir = writeEvents(rows)
    val got = PipelineOps.queries("events_retention")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      (10L, 0L, 2L), (10L, 1L, 1L), (10L, 3L, 2L), (11L, 0L, 1L)))
  }

  test("text_gram_df flags a crafted corpus-common gram") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("pipeops-doc").toString
    val common = "alpha beta gamma" // shared 3-gram across 6 docs
    val docs = (0 until 6).map(i =>
      (i.toLong, s"$common unique$i tail$i words$i here$i", "en", "src", 40L)) :+
      (6L, "totally different content entirely here now", "en", "src", 40L)
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .writeTable(dir, "documents")
    val got = PipelineOps.queries("text_gram_df")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    (0 until 6).foreach { i =>
      assert(got(i.toLong)._1 == 6L, s"doc $i max_df")   // the common gram's df
      assert(got(i.toLong)._2 == 1L, s"doc $i n_common") // exactly one df>=5 gram
    }
    assert(got(6L) == ((1L, 0L))) // all grams unique, none common
  }
}
