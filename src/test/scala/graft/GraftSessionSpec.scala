package graft

import graft.expressions.DropOnePartitionExchange
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{GraftSessionHooks, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Pins the derived-partitioning rule (r26 verdict task 5): both clamps of
  * both knobs, at the three regimes that matter — the sf0.1 protocol box
  * (lands on cpus), the sf100 decade (the 172-partition point the
  * spill-merge finding required >128 for), and the saturation cap. Then
  * what `configure` sets on a session, and that every `main` builds its
  * session through it.
  */
class GraftSessionSpec extends AnyFunSuite {

  private val g8 = 8L << 30 // the protocol box: 8 GiB heap / 32 slots

  test("advisory = clamp(heapPerSlot/8, 8MB, 64MB)") {
    assert(GraftSession.advisoryBytes(32, g8) == (32L << 20)) // 250MB/slot -> 32MB
    assert(GraftSession.advisoryBytes(32, 16L << 30) == (64L << 20)) // cap
    assert(GraftSession.advisoryBytes(32, 2L << 30) == (8L << 20)) // floor
  }

  test("initial partitions at three input sizes: sf0.1 -> cpus, sf100 -> 172, cap -> 4096") {
    // sf0.1 (~17.5 MB): x8 inflation over 32MB advisory ~ 4.4 -> clamps UP to cpus
    assert(GraftSession.initialPartitions(32, 17500000L, g8) == 32L)
    // sf100 (~723 MB measured): 723e6*8/32MB = 172 — the derived sf100 point
    assert(GraftSession.initialPartitions(32, 723000000L, g8) == 172L)
    // 100 TB-ish inputs saturate the 4096 cap (AQE coalescing trims down)
    assert(GraftSession.initialPartitions(32, 1L << 40, g8) == 4096L)
  }

  test("the count's floor and the advisory both follow the slot count") {
    assert(GraftSession.initialPartitions(16, 17500000L, g8)
      == 16L) // clamp floor follows cpus
    assert(GraftSession.advisoryBytes(16, g8) == (64L << 20)) // 512MB/slot -> cap
  }

  test("configure sets the engine settings and installs GraftExtensions") {
    // getOrCreate would hand back the shared session and write into it, so
    // build a new session beside it (sharing its SparkContext, never
    // stopped here) and make the shared one the default again afterwards
    val shared = SparkSpec.session
    val advisoryBefore =
      shared.conf.getOption("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val noInput = SparkSpec.tempDir("graft-no-input").toString
    val s = GraftSession.configure(SparkSession.builder(), 4, noInput).create()
    try {
      val opts = GraftSessionHooks.builderOptions(s)
      assert(opts("spark.sql.session.timeZone") == "UTC")
      assert(opts("spark.sql.legacy.parquet.nanosAsLong") == "true")
      assert(opts("spark.sql.parquet.inferTimestampNTZ.enabled") == "false")
      assert(opts("spark.cleaner.referenceTracking.cleanCheckpoints") == "true")
      assert(opts("spark.ui.enabled") == "false")
      assert(opts("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        == GraftSession.advisoryBytes(4).toString)
      // no input bytes: the initial count clamps up to cpus
      assert(opts("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
        == sys.env.getOrElse("SPARK_GRAFT_INIT_PARTITIONS", "4"))
      // the test context's spark.sql.extensions puts the stage rule in
      // every session once; configure's withExtensions adds it once more
      def stageRules(x: SparkSession): Int =
        x.sessionState.adaptiveRulesHolder.queryStagePrepRules
          .count(_.isInstanceOf[DropOnePartitionExchange])
      assert(stageRules(s) == stageRules(shared.newSession()) + 1)
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
    assert(shared.conf.getOption(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes") == advisoryBefore)
  }

  test("every SparkSession.builder() in src/main is built through configure") {
    val call = "SparkSession.builder()"
    val sites = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { f =>
        val text = Files.readString(f)
        Iterator.iterate(text.indexOf(call))(i => text.indexOf(call, i + 1))
          .takeWhile(_ >= 0)
          .map(i => (s"$f:${text.take(i).count(_ == '\n') + 1}",
            text.take(i).trim.endsWith("GraftSession.configure(")))
      }
    assert(sites.nonEmpty)
    val own = sites.collect { case (at, false) => at }
    assert(own.isEmpty, s"sessions built without GraftSession.configure: $own")
  }
}
