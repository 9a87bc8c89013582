package graft.ingest

import graft.SparkSpec
import org.apache.hadoop.fs.{FileUtil, Path, RawLocalFileSystem}
import org.scalatest.funsuite.AnyFunSuite
import java.io.IOException
import java.net.URI
import java.nio.file.{Files, Paths}

/** Object-store rename emulation for [[LifecycleObjectStoreSpec]]: rename is
  * COPY + DELETE (never atomic), and the companion's mode knob injects a
  * crash inside that window — after the copy commits (delete pending) or
  * mid-copy (partial target). Local-filesystem storage underneath, so the
  * spec can inspect the exact post-crash file layout.
  */
class NonAtomicFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("nonatomic:///")
  override def getScheme: String = "nonatomic"

  override def rename(src: Path, dst: Path): Boolean = NonAtomicFs.mode match {
    case NonAtomicFs.CrashAfterCopy =>
      FileUtil.copy(this, src, this, dst, false, getConf)
      throw new IOException("simulated crash: copy committed, source delete pending")
    case NonAtomicFs.CrashMidCopy =>
      val in = open(src)
      val bytes = try in.readAllBytes() finally in.close()
      val out = create(dst, true)
      try out.write(bytes, 0, bytes.length / 2) finally out.close()
      throw new IOException("simulated crash: partial copy")
    case NonAtomicFs.CopyDelete =>
      // the connector contract Lifecycle.route codes against: no overwrite
      // on rename, no rename of a missing source — report false, don't throw
      exists(src) && !exists(dst) &&
        FileUtil.copy(this, src, this, dst, true, getConf)
  }
}

object NonAtomicFs {
  sealed trait Mode
  case object CopyDelete extends Mode
  case object CrashAfterCopy extends Mode
  case object CrashMidCopy extends Mode
  @volatile var mode: Mode = CopyDelete
}

/** C4/C5 on a NON-ATOMIC-rename store (round-27, r26 verdict task 6): a
  * crash between an object store's copy and delete must lose no file and,
  * after the replayed route recovers, leave exactly ONE copy — the
  * reference's at-least-once ack (main.py:630-645) re-checked against the
  * storage plane instead of the happy local-rename path LifecycleSpec tests.
  */
class LifecycleObjectStoreSpec extends AnyFunSuite with SparkSpec {

  private def freshDir(): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.nonatomic.impl", classOf[NonAtomicFs].getName)
    SparkSpec.tempDir("lifecycle-os").toString
  }

  private def mkSrc(dir: String, name: String, content: String): String = {
    Files.createDirectories(Paths.get(dir, "Unprocessed"))
    Files.write(Paths.get(dir, "Unprocessed", name), content.getBytes)
    s"nonatomic://$dir/Unprocessed/$name"
  }

  private def local(dir: String, seg: String, name: String) =
    Paths.get(dir, seg, name)

  test("route: crash after copy (delete pending) — source survives, replay heals to one copy") {
    val dir = freshDir()
    val src = mkSrc(dir, "CTB_9.tsv", "k\tv\n9\tx\n")
    NonAtomicFs.mode = NonAtomicFs.CrashAfterCopy
    try intercept[IOException](Lifecycle.route(spark, src, Lifecycle.Processed))
    finally NonAtomicFs.mode = NonAtomicFs.CopyDelete
    // the crash window: file visible at BOTH paths, source NEVER lost — the
    // driver loop's next scan still finds it Unprocessed and re-processes
    assert(Files.exists(local(dir, "Unprocessed", "CTB_9.tsv")))
    assert(Files.exists(local(dir, "Processed", "CTB_9.tsv")))
    // replayed route (recovered process): drops the stale target, re-renames
    val target = Lifecycle.route(spark, src, Lifecycle.Processed)
    assert(target == s"nonatomic://$dir/Processed/CTB_9.tsv")
    assert(!Files.exists(local(dir, "Unprocessed", "CTB_9.tsv")),
      "exactly one copy after recovery: Unprocessed must be empty")
    assert(new String(Files.readAllBytes(local(dir, "Processed", "CTB_9.tsv")))
      == "k\tv\n9\tx\n")
  }

  test("route: crash mid-copy (partial target) — recovery replaces the partial bytes") {
    val dir = freshDir()
    val src = mkSrc(dir, "CTB_10.tsv", "k\tv\n10\tyyyyyyyy\n")
    NonAtomicFs.mode = NonAtomicFs.CrashMidCopy
    try intercept[IOException](Lifecycle.route(spark, src, Lifecycle.Failed))
    finally NonAtomicFs.mode = NonAtomicFs.CopyDelete
    assert(Files.exists(local(dir, "Unprocessed", "CTB_10.tsv")))
    assert(Files.size(local(dir, "Failed", "CTB_10.tsv"))
      < Files.size(local(dir, "Unprocessed", "CTB_10.tsv")),
      "precondition: the crashed copy is partial")
    Lifecycle.route(spark, src, Lifecycle.Failed)
    assert(!Files.exists(local(dir, "Unprocessed", "CTB_10.tsv")))
    assert(new String(Files.readAllBytes(local(dir, "Failed", "CTB_10.tsv")))
      == "k\tv\n10\tyyyyyyyy\n", "recovery must replace the partial copy")
  }

  test("route: replay after a fully-completed rename is idempotent success") {
    val dir = freshDir()
    val src = mkSrc(dir, "CTB_11.tsv", "done\n")
    assert(Lifecycle.route(spark, src, Lifecycle.Processed)
      == s"nonatomic://$dir/Processed/CTB_11.tsv")
    // crashed AFTER route completed, BEFORE ack: the replayed route is a
    // no-op success, not an error
    assert(Lifecycle.route(spark, src, Lifecycle.Processed)
      == s"nonatomic://$dir/Processed/CTB_11.tsv")
    assert(!Files.exists(local(dir, "Unprocessed", "CTB_11.tsv")))
    assert(Files.exists(local(dir, "Processed", "CTB_11.tsv")))
  }

  test("ack/isAcked work (idempotently) through the object-store scheme") {
    val dir = freshDir()
    val manifest = s"nonatomic://$dir/acked"
    assert(!Lifecycle.isAcked(spark, manifest, "msg-9"))
    Lifecycle.ack(spark, manifest, "msg-9")
    Lifecycle.ack(spark, manifest, "msg-9") // replayed ack: no throw
    assert(Lifecycle.isAcked(spark, manifest, "msg-9"))
    assert(!Lifecycle.isAcked(spark, manifest, "msg-10"))
  }
}
