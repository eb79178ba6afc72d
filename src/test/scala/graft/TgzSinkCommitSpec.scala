package graft.io

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite

/** A local FileSystem masquerading as an object store whose `rename` is
  * unusable — models GCS/S3 semantics where rename is client-driven
  * copy+delete and must never be on the commit path.
  */
class NoRenameFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "nar"
  override def getUri: java.net.URI = java.net.URI.create("nar:///")
  override def rename(src: org.apache.hadoop.fs.Path,
                      dst: org.apache.hadoop.fs.Path): Boolean =
    throw new UnsupportedOperationException(
      s"rename is not atomic on this store: $src -> $dst")
}

/** Commit-protocol spec for [[TgzSink]]: only the staged halves the write
  * job's tasks report are publishable — a file nobody reported (the debris
  * of an attempt that died mid-write) is never published, whatever its size.
  */
class TgzSinkCommitSpec extends AnyFunSuite with SparkSuite {

  private def sconf() =
    new SerializableHadoopConf(
      org.apache.spark.sql.graft.bridge.sessionHadoopConf(spark))

  test("commit publishes reported halves and drops unreported mid-write debris") {
    val outDir = Files.createTempDirectory("graft-commit").toString
    val stage = s"$outDir/_tmp"
    Files.createDirectories(Paths.get(stage))
    // the reported attempt 3 vs a KILLED attempt 9 that wrote more bytes
    // but never returned a result — it must not be published
    Files.write(Paths.get(s"$stage/x.tgz.a3"), "COMPLETE".getBytes)
    Files.write(Paths.get(s"$stage/x.tgz.a9"), "TRUNCATED-BUT-LONGER".getBytes)
    // a second final name whose only attempt is unreported: nothing published
    Files.write(Paths.get(s"$stage/y.tgz.a1"), "DEAD".getBytes)

    TgzSink.commit(spark, Seq(stage),
      Seq(StagedHalf(stage, "x.tgz", 0, "x.tgz.a3")), sconf())

    assert(Files.readString(Paths.get(s"$outDir/x.tgz")) === "COMPLETE")
    assert(!Files.exists(Paths.get(s"$outDir/y.tgz")))
    assert(!Files.exists(Paths.get(stage))) // staging cleaned up
  }

  test("CopyCommit publishes a reported half with copy-then-verify") {
    val outDir = Files.createTempDirectory("graft-commit-cp").toString
    val stage = s"$outDir/_tmp"
    Files.createDirectories(Paths.get(stage))
    Files.write(Paths.get(s"$stage/x.tgz.a3"), "COMPLETE".getBytes)
    // unreported mid-write debris must still lose
    Files.write(Paths.get(s"$stage/x.tgz.a9"), "TRUNCATED-LONGER".getBytes)

    TgzSink.commit(spark, Seq(stage),
      Seq(StagedHalf(stage, "x.tgz", 0, "x.tgz.a3")), sconf(), CopyCommit)

    assert(Files.readString(Paths.get(s"$outDir/x.tgz")) === "COMPLETE")
    assert(!Files.exists(Paths.get(stage)))
  }

  test("CopyCommit end-to-end split on a store with NO working rename") {
    import graft.queries.TarQueries.{FixtureCutoff, FixtureTgz, FixtureWhitelist}
    // register a FileSystem whose rename always throws — the object-store
    // failure mode the protocol exists for (the reference's production
    // promote path is a GCS server-side copy,
    // /root/reference/unembargo.go:124-130, because rename there is
    // copy+delete and non-atomic)
    spark.sparkContext.hadoopConfiguration
      .set("fs.nar.impl", classOf[NoRenameFileSystem].getName)
    val local = Files.createTempDirectory("graft-nar").toString
    // the two halves go to two distinct stores on the rename-free scheme
    val (pubDir, privDir) = (s"nar://$local/public", s"nar://$local/embargoed")

    val entries = TgzSource.entries(spark, FixtureTgz)
    val wl = TgzSource.whitelist(spark, FixtureWhitelist)
    val routed = graft.ops.EmbargoSplit.route(entries, wl, FixtureCutoff)
    TgzSink.writeSplit(routed, pubDir, privDir, CopyCommit)

    val base = FixtureTgz.substring(FixtureTgz.lastIndexOf('/') + 1)
    val privBase = base.replace(".tgz", "-e.tgz")
    val pub = TgzSource.readTgzStream(base,
      Files.newInputStream(Paths.get(s"$local/public/$base"))).toSeq
    val priv = TgzSource.readTgzStream(base,
      Files.newInputStream(Paths.get(s"$local/embargoed/$privBase"))).toSeq
    assert(pub.length === 145 && priv.length === 59)
    // each store holds exactly its own half, and no staging dir is left
    def listing(d: String) =
      Files.list(Paths.get(s"$local/$d")).toArray.map(_.toString.split('/').last).toSet
    assert(listing("public") === Set(base))
    assert(listing("embargoed") === Set(privBase))

    // non-vacuity: the rename protocol on the same store fails —
    // the wrapper really has no rename, so a green CopyCommit run proves
    // the path is rename-free end to end
    val out2 = s"nar://${Files.createTempDirectory("graft-nar2")}"
    val e = intercept[Exception] {
      TgzSink.writeSplit(routed, out2, out2, RenameCommit)
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(_.getMessage != null)
      && chain(e).exists(c => Option(c.getMessage).exists(_.contains("rename"))))
  }

  test("writeSplit leaves another call's staged files under the same destination alone") {
    import graft.queries.TarQueries.{FixtureCutoff, FixtureTgz, FixtureWhitelist}
    val outDir = Files.createTempDirectory("graft-commit-concurrent").toString
    // a concurrent call's marked attempts, staged beside the same
    // destination — under the shared `_tmp` name and under a per-call one
    val planted = Seq("_tmp", "_tmp-other").map { d =>
      Files.createDirectories(Paths.get(s"$outDir/$d"))
      Files.write(Paths.get(s"$outDir/$d/other.tgz.p0.a1.done"), "THEIRS".getBytes)
    }

    val entries = TgzSource.entries(spark, FixtureTgz)
    val wl = TgzSource.whitelist(spark, FixtureWhitelist)
    TgzSink.writeSplit(
      graft.ops.EmbargoSplit.route(entries, wl, FixtureCutoff), outDir)

    val base = FixtureTgz.substring(FixtureTgz.lastIndexOf('/') + 1)
    assert(Files.exists(Paths.get(s"$outDir/$base")))
    planted.foreach(p => assert(Files.readString(p) === "THEIRS", s"$p clobbered"))
    // nor did this call publish the other call's file
    assert(!Files.exists(Paths.get(s"$outDir/other.tgz")))
  }

  test("commit protocol auto-detect: object-store schemes get CopyCommit") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(CommitProtocol.forPath("gs://bucket/dir", conf) === CopyCommit)
    assert(CommitProtocol.forPath("s3a://bucket/dir", conf) === CopyCommit)
    assert(CommitProtocol.forPath("/plain/posix/dir", conf) === RenameCommit)
    assert(CommitProtocol.forPath("hdfs://nn/dir", conf) === RenameCommit)
  }

  test("commit rejects a final name reported by two partitions") {
    val outDir = Files.createTempDirectory("graft-commit3").toString
    val stage = s"$outDir/_tmp"
    Files.createDirectories(Paths.get(stage))
    Files.write(Paths.get(s"$stage/w.tgz.a1"), "P0".getBytes)
    Files.write(Paths.get(s"$stage/w.tgz.a2"), "P1".getBytes)

    val e = intercept[IllegalStateException] {
      TgzSink.commit(spark, Seq(stage), Seq(
        StagedHalf(stage, "w.tgz", 0, "w.tgz.a1"),
        StagedHalf(stage, "w.tgz", 1, "w.tgz.a2")), sconf())
    }
    assert(e.getMessage.contains("split across partitions"))
    assert(!Files.exists(Paths.get(s"$outDir/w.tgz")))
    assert(!Files.exists(Paths.get(stage)))
  }

  test("writeSplit runs exactly two jobs: the write and the publish") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import spark.implicits._
    val outDir = Files.createTempDirectory("graft-commit-jobs").toString
    val t = new java.sql.Timestamp(0L)
    // a local routed Dataset: no scan, no broadcast — only the sink's jobs.
    // One partition keeps the archive's rows in one task
    val routed = Seq(
      ("a.tgz", 0L, "a/pub.web100", 1L, 420L, t, "0", Array[Byte](1), "public"),
      ("a.tgz", 1L, "a/priv.web100", 1L, 420L, t, "0", Array[Byte](2), "private"))
      .toDF("archive", "ordinal", "name", "size", "mode", "modTime", "typeflag",
        "content", "route").coalesce(1)
    val (group, sentinel) = ("tgz-sink-jobs", "tgz-sink-jobs-sentinel")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`sentinel`) => drained.countDown()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "writeSplit")
      try TgzSink.writeSplit(routed, outDir) finally sc.clearJobGroup()
      // the bus delivers events in order: once the sentinel job's start
      // arrives, every job writeSplit launched has been counted
      sc.setJobGroup(sentinel, "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS))
      assert(jobs.get() === 2)
      assert(Files.list(Paths.get(outDir)).toArray
        .map(_.toString.split('/').last).filterNot(_.startsWith(".")).toSet ===
        Set("a.tgz", "a-e.tgz"))
    } finally sc.removeSparkListener(listener)
  }
}
