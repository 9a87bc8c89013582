package graft.ops

import graft.SparkSpec
import graft.expressions.GraftFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The library entry objects register the native `graft_*` functions once
  * each, at a step every public entry reaches before its first `graft_*`
  * column (`KMeans.assign`, `IvfIncremental`'s quantize step,
  * `TextOps.sigsOf`). Each entry here is called on a sibling session whose
  * registry holds no `graft_*` function (as in [[QueryRegistrationSpec]]),
  * so a public entry that reaches a native column first fails to analyze.
  */
class EntryRegistrationSpec extends AnyFunSuite with SparkSpec {

  private def bareSession(): SparkSession = {
    val ns = spark.newSession()
    val reg = ns.sessionState.functionRegistry
    GraftFunctions.all.foreach { case (id, _, _) => reg.dropFunction(id) }
    ns
  }

  /** Run `body` on a bare session, then release what it persisted. */
  private def onBare(name: String)(body: SparkSession => Unit): Unit =
    test(s"$name analyzes on a session with an empty graft registry") {
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet.toSet
      val ns = bareSession()
      try body(ns)
      finally {
        ns.catalog.clearCache()
        sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
          .values.foreach(_.unpersist(blocking = true))
      }
    }

  private def analyzed(df: DataFrame): Unit = df.queryExecution.assertAnalyzed()

  // ---- KMeans: (vec_id, v array<long>) ----
  private def longVecs(s: SparkSession): DataFrame =
    s.createDataFrame((0 until 12).map(i =>
      (i.toLong, Seq(1000L * (i % 3), 10L * i, 500L)))).toDF("vec_id", "v")

  private val cents = Array((0, Array(0L, 0L, 500L)), (1, Array(2000L, 100L, 500L)))

  onBare("KMeans.fit") { ns => KMeans.fit(longVecs(ns), k = 2, maxRounds = 2); () }
  onBare("KMeans.assign") { ns => analyzed(KMeans.assign(longVecs(ns), cents)) }
  onBare("KMeans.summarize") { ns =>
    analyzed(KMeans.summarize(longVecs(ns), KMeans.Model(cents, 1, 0L, converged = true)))
  }

  // ---- IvfIncremental: (vec_id, embedding array<float>) ----
  private def floatVecs(s: SparkSession, from: Int, n: Int): DataFrame =
    s.createDataFrame((from until from + n).map(i =>
      (i.toLong, Seq((i % 4).toFloat, 0.5f, 0.01f * i)))).toDF("vec_id", "embedding")

  /** An index bootstrapped on the shared session, for the entries that
    * need one; the entry under test then runs on a bare session.
    */
  private def index(): String = {
    val dir = SparkSpec.tempDir("ivf-reg").toString
    IvfIncremental.bootstrap(spark, floatVecs(spark, 0, 16), nCells = 4, dir)
    dir
  }

  onBare("IvfIncremental.bootstrap") { ns =>
    IvfIncremental.bootstrap(ns, floatVecs(ns, 0, 16), nCells = 4,
      SparkSpec.tempDir("ivf-reg").toString)
  }
  onBare("IvfIncremental.addBatch") { ns =>
    analyzed(IvfIncremental.addBatch(ns, floatVecs(ns, 16, 8), index()))
  }
  onBare("IvfIncremental.addBatchAuto") { ns =>
    analyzed(IvfIncremental.addBatchAuto(ns, floatVecs(ns, 16, 8), index(), nCells = 4)._1)
  }
  onBare("IvfIncremental.probe") { ns =>
    analyzed(IvfIncremental.probe(ns, index(), Seq(1f, 0.5f, 0.1f)))
  }
  onBare("IvfIncremental.probeBatch") { ns =>
    analyzed(IvfIncremental.probeBatch(ns, floatVecs(ns, 100, 3), index()))
  }
  onBare("IvfIncremental.recluster") { ns =>
    IvfIncremental.recluster(ns, index(), nCells = 2, maxRounds = 2); ()
  }

  // ---- MinHashIncremental / TrainingDataPrep: (doc_id, text) ----
  private def docs(s: SparkSession): DataFrame =
    s.createDataFrame(Seq(
      (1L, (1 to 30).map(i => s"omega$i").mkString(" ") + " a"),
      (2L, (1 to 30).map(i => s"omega$i").mkString(" ") + " b"),
      (3L, (1 to 30).map(i => s"alpha$i").mkString(" ")))).toDF("doc_id", "text")

  onBare("MinHashIncremental.dedupBatch") { ns =>
    val state = SparkSpec.tempDir("mh-reg").resolve("bands").toString
    analyzed(MinHashIncremental.dedupBatch(ns, docs(ns), state).pairs)
  }
  onBare("MinHashIncremental.dedupBatchBucketed") { ns =>
    analyzed(MinHashIncremental.dedupBatchBucketed(ns, docs(ns), "entry_reg_no_table").pairs)
  }
  onBare("TrainingDataPrep.nearDupIds") { ns => analyzed(TrainingDataPrep.nearDupIds(docs(ns))) }
}
