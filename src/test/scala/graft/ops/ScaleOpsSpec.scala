package graft.ops

import graft.SparkSpec
import graft.ops.TableFiles.TableWriter
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Brute-force pins for the round-12 kernels: the grid radius join's
  * exactly-once pair semantics (incl. cell-boundary and degenerate-density
  * cases) and the morton key's locality contract.
  */
class ScaleOpsSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  private def pairsOf(pts: Seq[(Long, Long, Long)], r: Long): Set[(Long, Long, Long)] =
    ScaleOps.gridRadiusPairs(pts.toDF("id", "x", "y"), r)
      .collect().map(row => (row.getLong(0), row.getLong(1), row.getLong(2))).toSet

  private def brute(pts: Seq[(Long, Long, Long)], r: Long): Set[(Long, Long, Long)] =
    (for {
      (a, ax, ay) <- pts; (b, bx, by) <- pts
      if a < b
      d2 = (ax - bx) * (ax - bx) + (ay - by) * (ay - by)
      if d2 <= r * r
    } yield (a, b, d2)).toSet

  test("grid radius join equals brute force on pseudo-random points") {
    var seed = 1234567L
    def nxt(): Long = { seed = (seed * 6364136223846793005L + 1442695040888963407L); (seed >>> 33) }
    val pts = (1L to 300L).map(i => (i, nxt() % 100000L, nxt() % 100000L))
    assert(pairsOf(pts, 5000L) == brute(pts, 5000L))
  }

  test("grid radius join equals brute force across radii, incl. r beyond the domain") {
    for ((seed0, r) <- Seq((11L, 700L), (22L, 3000L), (33L, 12000L), (44L, 50L), (55L, 400000L))) {
      var seed = seed0
      def nxt(): Long = { seed = (seed * 6364136223846793005L + 1442695040888963407L); (seed >>> 33) }
      val pts = (1L to 150L).map(i => (i, nxt() % 100000L, nxt() % 100000L))
      assert(pairsOf(pts, r) == brute(pts, r), s"radius $r")
    }
  }

  test("boundary semantics: d2 = r2 is IN, one past is OUT, adjacent-cell pairs reach") {
    // (1,2): same row, distance exactly r across a cell boundary (x 4999->5004, r=5)
    // (3,4): distance r+1 -> excluded
    // (5,6): diagonal cell neighbors within r
    val pts = Seq(
      (1L, 4999L, 10L), (2L, 5004L, 10L),
      (3L, 100L, 50L), (4L, 106L, 50L),
      (5L, 4999L, 4999L), (6L, 5001L, 5001L))
    val got = pairsOf(pts, 5L)
    assert(got == brute(pts, 5L))
    assert(got.contains((1L, 2L, 25L)))
    assert(!got.exists(p => p._1 == 3L && p._2 == 4L))
    assert(got.contains((5L, 6L, 8L)))
  }

  test("degenerate density: every point in ONE cell still yields each pair exactly once") {
    val pts = (1L to 40L).map(i => (i, 10L + i, 20L)) // all in cell (0,0) for r=1000
    val df = ScaleOps.gridRadiusPairs(pts.toDF("id", "x", "y"), 1000L)
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows.size == rows.distinct.size, "no duplicate pairs under a hot cell")
    assert(rows.size == 40 * 39 / 2) // all pairs within r here
  }

  test("morton interleave/unspread roundtrips and z-orders both dimensions") {
    // roundtrip: the declared query's rx/ry must equal gx/gy on every row
    val out = ScaleOps.queries("fn_morton")(spark, "/root/testdata/sf0.001")
    assert(out.filter(col("rx") =!= col("gx") || col("ry") =!= col("gy")).count() == 0L)
    // locality: zval's high bits interleave both coords — for rows sharing
    // a gx, zval is strictly monotone in gy (and vice versa via LayoutOps'
    // order-embedding spec, which shares the same mask chain)
    val rows = out.select("gx", "gy", "zval").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    rows.groupBy(_._1).values.filter(_.length >= 2).foreach { grp =>
      val sorted = grp.sortBy(_._2)
      assert(sorted.map(_._3).toSeq == sorted.map(_._3).sorted.toSeq)
    }
  }

  test("FM/PCSA sketch: registers estimate distinct count within the method's error band") {
    // the oracle row pins the integer registers; this pins that they MEAN
    // something — the float estimator (kept out of the hash surface)
    // lands within the ~1/sqrt(m) band of the true distinct count
    val n = 5000
    val rnd = new scala.util.Random(42) // pinned: the band check must be reproducible
    val keys = (0 until 20000).map(_ => rnd.nextInt(n).toLong)
    val h = keys.map { k =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val dig = md.digest(k.toString.getBytes("UTF-8"))
      var x = 0L; (0 until 8).foreach(b => x = (x << 8) | (dig(b) & 0xffL))
      x >>> 4
    }
    val bitmaps = new Array[Long](16)
    h.foreach { x =>
      val b = (x % 16).toInt; val v = x / 16
      bitmaps(b) |= (if (v == 0) 1L << 44 else v & -v)
    }
    val rSum = bitmaps.map(bm => java.lang.Long.numberOfTrailingZeros(~bm)).sum
    val est = 16.0 / 0.77351 * math.pow(2.0, rSum / 16.0)
    val trueDistinct = keys.distinct.size
    assert(math.abs(est - trueDistinct) / trueDistinct < 0.35,
      s"FM estimate $est vs true $trueDistinct out of band")
  }

  test("AMS F2: linear-sketch determinism across partitionings; estimate in band") {
    // crafted events: user u occurs (u % 13 + 1) times over 500 users
    val rows = (0L until 500L).flatMap { u =>
      (0 to (u % 13).toInt).map(k => (u * 100 + k, (u * 86400L + k) * 1000000000L, u, "click", 1.0))
    }
    // one table file of small row groups: the scan's split size then sets
    // how many input partitions the sketch is merged over
    val dir = SparkSpec.tempDir("ams").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .writeTable(dir, "events", Map("parquet.block.size" -> "4096"))
    def runAt(splitBytes: Long): (Int, Long, Long, Long, Seq[Long]) = {
      // sibling session: the split size must not leak into the shared one
      val ns = spark.newSession()
      ns.conf.set("spark.sql.files.maxPartitionBytes", splitBytes)
      val parts = Tables.t(ns, dir, "events").rdd.getNumPartitions
      val r = ScaleOps.queries("agg_ams_f2")(ns, dir).collect()(0)
      (parts, r.getLong(0), r.getLong(1), r.getLong(2), (3 until 19).map(r.getLong))
    }
    val (parts, n, exact, est, cs) = runAt(128L << 20)
    assert(parts == 1, s"$parts scan partitions")
    val wantExact = (0L until 500L).map(u => { val c = u % 13 + 1; c * c }).sum
    assert(n == rows.size.toLong && exact == wantExact)
    // unbiased mean-of-squares: generous 2.5x band (stderr ~ 0.35 F2)
    assert(est > exact / 3 && est < exact * 3, s"est $est vs exact $exact")
    // LINEAR sketch: identical counters under any partitioning
    val (partsN, _, _, estN, csN) = runAt(4096)
    assert(partsN >= 3, s"$partsN scan partitions")
    assert(cs == csN && est == estN, "merge order must not move a linear sketch")
  }
}
