package graft.ingest

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Lifecycle (C1 archive / C4 route / C5 ack) on the local filesystem. */
class LifecycleSpec extends AnyFunSuite with SparkSpec {

  private def tmpDir(): String =
    SparkSpec.tempDir("lifecycle").toString

  test("C1: archive copies raw bytes, leaving the source in place") {
    val dir = tmpDir()
    val src = Paths.get(dir, "CTB_1.tsv")
    Files.write(src, "raw bytes".getBytes)
    Lifecycle.archive(spark, src.toString, s"$dir/archive")
    val dst = Paths.get(dir, "archive", "CTB_1.tsv")
    assert(Files.exists(dst))
    assert(Files.exists(src)) // copy, not move
    assert(new String(Files.readAllBytes(dst)) == "raw bytes")
  }

  test("C4: route rewrites the Unprocessed path segment (Processed / Failed)") {
    val dir = tmpDir()
    Files.createDirectories(Paths.get(dir, "Unprocessed"))
    val src = Paths.get(dir, "Unprocessed", "CTB_2.tsv")
    Files.write(src, "x".getBytes)
    val dst = Lifecycle.route(spark, src.toString, Lifecycle.Processed)
    assert(dst.contains("Processed"))
    assert(Files.exists(Paths.get(dir, "Processed", "CTB_2.tsv")))
    assert(!Files.exists(src))

    val src2 = Paths.get(dir, "Unprocessed", "CTB_3.tsv")
    Files.write(src2, "y".getBytes)
    Lifecycle.route(spark, src2.toString, Lifecycle.Failed)
    assert(Files.exists(Paths.get(dir, "Failed", "CTB_3.tsv")))
  }

  test("C5: ack is idempotent and isAcked reflects it") {
    val dir = tmpDir()
    val manifest = s"$dir/manifest"
    assert(!Lifecycle.isAcked(spark, manifest, "msg-1"))
    Lifecycle.ack(spark, manifest, "msg-1")
    assert(Lifecycle.isAcked(spark, manifest, "msg-1"))
    Lifecycle.ack(spark, manifest, "msg-1") // re-ack: no throw (at-least-once)
    assert(Lifecycle.isAcked(spark, manifest, "msg-1"))
    assert(!Lifecycle.isAcked(spark, manifest, "msg-2"))
  }
}
