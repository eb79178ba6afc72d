package graft.io

import java.io.OutputStream

import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
import org.apache.commons.compress.compressors.gzip.GzipCompressorOutputStream
import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, Encoders, Row}
import org.apache.spark.sql.graft.bridge

import graft.model.Schemas

/** S7/S8 — the tar.gz repack sink (`/root/reference/embargo.go:104-122,
  * 143-218`): for every input archive, write the public `.tgz` under its
  * own name straight into the public store and the private one, renamed
  * `.tgz` → `-e.tgz` (reference `embargo.go:105`), straight into the
  * private store — `WriteResults` with its two buckets. This sink is the
  * only code that names the private half.
  *
  * Spark-first shape: a `mapPartitions` writer over routed entry rows.
  * [[TgzSource]] produces each archive's entries contiguously and in order
  * inside one task, so the whole split pipeline
  * (scan → explode → route → repack) runs shuffle-free: this sink just
  * consumes consecutive runs of rows per archive and keeps two tar writers
  * (public/private) open at a time, exactly the reference's write loop but
  * parallel across archives.
  *
  * Entries stream through the writers one at a time — output is written via
  * Hadoop [[org.apache.hadoop.fs.FileSystem]] streams (posix/HDFS/cloud),
  * never buffered whole in memory (the reference's `bytes.Buffer` pair held
  * both output archives in RAM, `/root/reference/embargo.go:126-146`).
  *
  * Output is published with a write-stage-then-commit protocol. Every call
  * stages under its own hidden `_tmp-<uuid>` dir beside EACH destination
  * (one dir when `publicDir == privateDir`), so two concurrent calls into
  * the same day dir never see or clobber each other's staged files, and
  * the commit into each store is a same-filesystem rename. Every task
  * writes `<stage>/<final>.a<taskAttemptId>` — unique per attempt, so a
  * retry or speculative attempt never writes another attempt's file — and,
  * once all its writers have closed cleanly, returns one [[StagedHalf]]
  * per staged file as its task result. Spark delivers exactly one
  * successful attempt's result per partition to the driver, so the
  * collected list names exactly the complete files to publish: the debris
  * of an attempt that died mid-write (or a speculative attempt killed after
  * its sibling won) is never reported and never published. A final name
  * reported by two partitions means the caller broke the per-archive
  * contiguity contract (e.g. a repartition split an archive across tasks)
  * — the commit fails fast instead of letting the second writer silently
  * clobber the first. The call's staging dirs are removed whether it
  * succeeds or fails.
  *
  * Publishing renames where rename is atomic (posix/HDFS); on object-store
  * schemes the sink switches to the rename-free [[CopyCommit]]
  * (copy-then-verify) — see [[CommitProtocol]]. Either way no reader of a
  * store ever sees a half-written archive under its final name.
  */
object TgzSink {

  private val StagePrefix = "_tmp-"

  /** [[writeSplit]] with both halves into one dir. */
  def writeSplit(routed: Dataset[Row], outDir: String): Unit =
    writeSplit(routed, outDir, outDir)

  /** Write each archive's public half into `publicDir` and its `-e.tgz`
    * private half into `privateDir`, with [[CopyCommit]] if either dir is
    * on an object store.
    *
    * `routed` must have columns `archive, ordinal, name, size, mode, modTime,
    * typeflag, content, route` with each archive's rows contiguous and
    * ordinal-ascending within a partition — true by construction for
    * `TgzSource.entries → route` pipelines (narrow ops only). Interleaved
    * archives fail inside the task; an archive split across partitions
    * fails at commit (see class doc) — never silent corruption.
    */
  def writeSplit(routed: Dataset[Row], publicDir: String,
                 privateDir: String): Unit = {
    val conf = bridge.sessionHadoopConf(routed.sparkSession)
    writeSplit(routed, publicDir, privateDir,
      if (Seq(publicDir, privateDir).exists(
          CommitProtocol.forPath(_, conf) == CopyCommit)) CopyCommit
      else RenameCommit)
  }

  /** [[writeSplit]] with an explicit commit protocol. */
  def writeSplit(routed: Dataset[Row], publicDir: String, privateDir: String,
                 protocol: CommitProtocol): Unit = {
    val spark = routed.sparkSession
    // session conf captured ONCE on the driver and shipped — a fresh
    // `new Configuration()` in the task would drop spark.hadoop.* settings
    // (object-store credentials, fs impls) and silently write elsewhere
    val sconf = new SerializableHadoopConf(bridge.sessionHadoopConf(spark))
    val stage = StagePrefix + java.util.UUID.randomUUID
    val pubStage = new Path(publicDir, stage).toString
    val privStage = new Path(privateDir, stage).toString
    val staged = Seq(pubStage, privStage).distinct
    staged.foreach(d => new Path(d).getFileSystem(sconf.value).mkdirs(new Path(d)))

    val written = routed.mapPartitions { rows: Iterator[Row] =>
      val conf = sconf.value
      val tc = TaskContext.get()
      val closed = scala.collection.mutable.HashSet.empty[String]
      val halves = scala.collection.mutable.ArrayBuffer.empty[StagedHalf]
      var current: String = null
      var lastOrdinal = Long.MinValue
      var pub: TarWriter = null
      var priv: TarWriter = null

      def open(dir: String, name: String): TarWriter = {
        val tmpName = s"$name.a${tc.taskAttemptId()}"
        halves += StagedHalf(dir, name, tc.partitionId(), tmpName)
        val p = new Path(dir, tmpName)
        new TarWriter(p.getFileSystem(conf).create(p, true))
      }

      def closeCurrent(): Unit = if (current != null) {
        pub.close(); priv.close()
        closed += current
        current = null
      }

      rows.foreach { r =>
        val archive = r.getAs[String]("archive")
        val ordinal = r.getAs[Long]("ordinal")
        if (archive != current) {
          closeCurrent()
          require(!closed.contains(archive),
            s"entries for $archive are not contiguous — pipeline introduced a shuffle")
          current = archive
          lastOrdinal = Long.MinValue
          val base = archive.substring(archive.lastIndexOf('/') + 1)
          pub = open(pubStage, base)
          // S8 rename (/root/reference/embargo.go:105)
          priv = open(privStage, base.replace(".tgz", "-e.tgz"))
        }
        require(ordinal > lastOrdinal,
          s"entries for $archive are out of order at ordinal $ordinal — caller reordered rows")
        lastOrdinal = ordinal
        val w = if (r.getAs[String]("route") == Schemas.RoutePublic) pub else priv
        w.write(r)
      }
      closeCurrent()
      // every writer closed cleanly: only now is this attempt's output
      // reported, so a result implies complete staged files
      halves.iterator
    }(Encoders.product[StagedHalf])
    // two short records per archive; spark.driver.maxResultSize bounds the
    // collect, failing the job rather than the driver
    commit(spark, staged, written.collect().toSeq, sconf, protocol)
  }

  /** Publish the reported `halves`, each into its staging dir's parent, in
    * ONE distributed job of metadata ops (overwriting prior runs' outputs),
    * after failing on any final name reported by two partitions. Files in
    * the staging dirs that no half names are never published. `halves` is
    * evaluated inside the `try`, so the `staged` dirs are removed whether
    * the write, the check or the publish fails.
    */
  private[io] def commit(spark: org.apache.spark.sql.SparkSession,
                         staged: Seq[String], halves: => Seq[StagedHalf],
                         sconf: SerializableHadoopConf,
                         protocol: CommitProtocol = RenameCommit): Unit =
    try {
      val reported = halves
      val conflicts = reported.groupMap(h => (h.stage, h.fin))(_.part).collect {
        case ((_, fin), parts) if parts.size > 1 =>
          s"$fin (partitions ${parts.sorted.mkString(", ")})"
      }.toSeq.sorted
      if (conflicts.nonEmpty)
        throw new IllegalStateException(
          "archive rows were split across partitions — outputs claimed by " +
            s"multiple tasks: ${conflicts.take(5).mkString(", ")}")
      val sc = spark.sparkContext
      sc.parallelize(reported, math.max(1, math.min(reported.size, sc.defaultParallelism)))
        .foreach { h =>
          val conf = sconf.value
          val stage = new Path(h.stage)
          val pfs = stage.getFileSystem(conf)
          val src = new Path(stage, h.tmpName)
          val target = new Path(stage.getParent, h.fin)
          protocol match {
            case RenameCommit =>
              pfs.delete(target, false)
              if (!pfs.rename(src, target))
                throw new java.io.IOException(s"commit rename failed for ${h.fin}")
            case CopyCommit =>
              // Copy-then-verify: object copy/PUT is complete-or-absent,
              // and the length check turns "copy claimed success" into
              // "published object verifiably holds the staged bytes"
              // before the half is declared committed. The staged source
              // is left for the staging-dir sweep.
              val srcLen = pfs.getFileStatus(src).getLen
              org.apache.hadoop.fs.FileUtil.copy(pfs, src, pfs, target,
                false, true, conf)
              val dstLen = pfs.getFileStatus(target).getLen
              if (dstLen != srcLen)
                throw new java.io.IOException(
                  s"commit verify failed for ${h.fin}: " +
                    s"published $dstLen bytes, staged $srcLen")
          }
        }
    } finally staged.foreach { d =>
      val p = new Path(d)
      p.getFileSystem(sconf.value).delete(p, true)
    }

  /** One gzipped tar stream; copies the 5 header fields the reference
    * preserves (`/root/reference/embargo.go:163-168`).
    */
  private final class TarWriter(os: OutputStream) {
    private val tar = new TarArchiveOutputStream(new GzipCompressorOutputStream(os))
    tar.setLongFileMode(TarArchiveOutputStream.LONGFILE_POSIX)

    def write(r: Row): Unit = {
      val e = new TarArchiveEntry(r.getAs[String]("name"))
      e.setSize(r.getAs[Long]("size"))
      e.setMode(r.getAs[Long]("mode").toInt)
      e.setModTime(r.getAs[java.sql.Timestamp]("modTime"))
      tar.putArchiveEntry(e)
      tar.write(r.getAs[Array[Byte]]("content"))
      tar.closeArchiveEntry()
    }

    def close(): Unit = tar.close()
  }
}

/** One half a task staged: `stage/tmpName`, written by `part`, to be
  * published as `fin` beside `stage`.
  */
private[io] final case class StagedHalf(stage: String, fin: String, part: Int,
                                        tmpName: String)
