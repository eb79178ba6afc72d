package graft.io

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite

/** Commit-protocol spec for [[TgzSink]]: only `.done`-marked staged files
  * are publishable — an attempt that died mid-write (no marker) must never
  * beat a complete attempt, whatever its attempt id.
  */
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

class TgzSinkCommitSpec extends AnyFunSuite with SparkSuite {

  private def sconf() =
    new SerializableHadoopConf(
      org.apache.spark.sql.graft.bridge.sessionHadoopConf(spark))

  test("commit publishes marked attempts and drops unmarked mid-write debris") {
    val outDir = Files.createTempDirectory("graft-commit").toString
    Files.createDirectories(Paths.get(s"$outDir/_tmp"))
    // complete attempt 3 (marked) vs a KILLED attempt 9 that wrote more
    // bytes but never closed — the higher attempt id must not win
    Files.write(Paths.get(s"$outDir/_tmp/x.tgz.p0.a3.done"), "COMPLETE".getBytes)
    Files.write(Paths.get(s"$outDir/_tmp/x.tgz.p0.a9"), "TRUNCATED-BUT-LONGER".getBytes)
    // a second final name whose only attempt is unmarked: nothing published
    Files.write(Paths.get(s"$outDir/_tmp/y.tgz.p1.a1"), "DEAD".getBytes)

    TgzSink.commit(spark, Seq(s"$outDir/_tmp"), sconf())

    assert(Files.readString(Paths.get(s"$outDir/x.tgz")) === "COMPLETE")
    assert(!Files.exists(Paths.get(s"$outDir/y.tgz")))
    assert(!Files.exists(Paths.get(s"$outDir/_tmp"))) // staging cleaned up
  }

  test("commit picks the latest marked attempt of duplicate successes") {
    val outDir = Files.createTempDirectory("graft-commit2").toString
    Files.createDirectories(Paths.get(s"$outDir/_tmp"))
    Files.write(Paths.get(s"$outDir/_tmp/z.tgz.p2.a4.done"), "EARLY".getBytes)
    Files.write(Paths.get(s"$outDir/_tmp/z.tgz.p2.a7.done"), "LATE".getBytes)

    TgzSink.commit(spark, Seq(s"$outDir/_tmp"), sconf())

    assert(Files.readString(Paths.get(s"$outDir/z.tgz")) === "LATE")
  }

  test("CopyCommit publishes from marker files with copy-then-verify") {
    val outDir = Files.createTempDirectory("graft-commit-cp").toString
    Files.createDirectories(Paths.get(s"$outDir/_tmp"))
    // marker-file protocol: the data file sits beside a zero-byte marker
    Files.write(Paths.get(s"$outDir/_tmp/x.tgz.p0.a3"), "COMPLETE".getBytes)
    Files.write(Paths.get(s"$outDir/_tmp/x.tgz.p0.a3.done"), "k".getBytes)
    // unmarked mid-write debris must still lose
    Files.write(Paths.get(s"$outDir/_tmp/x.tgz.p0.a9"), "TRUNCATED-LONGER".getBytes)

    TgzSink.commit(spark, Seq(s"$outDir/_tmp"), sconf(), CopyCommit)

    assert(Files.readString(Paths.get(s"$outDir/x.tgz")) === "COMPLETE")
    assert(!Files.exists(Paths.get(s"$outDir/_tmp")))
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

    // non-vacuity: the rename-marking protocol on the same store fails —
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

  test("commit still rejects a final name marked by two partitions") {
    val outDir = Files.createTempDirectory("graft-commit3").toString
    Files.createDirectories(Paths.get(s"$outDir/_tmp"))
    Files.write(Paths.get(s"$outDir/_tmp/w.tgz.p0.a1.done"), "P0".getBytes)
    Files.write(Paths.get(s"$outDir/_tmp/w.tgz.p1.a2.done"), "P1".getBytes)

    val e = intercept[IllegalStateException] {
      TgzSink.commit(spark, Seq(s"$outDir/_tmp"), sconf())
    }
    assert(e.getMessage.contains("split across partitions"))
    assert(!Files.exists(Paths.get(s"$outDir/w.tgz")))
  }
}
