package perfbench

import java.io.{BufferedOutputStream, FileInputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest
import java.util.concurrent.Executors

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveInputStream, TarArchiveOutputStream}
import org.apache.commons.compress.compressors.gzip.{GzipCompressorInputStream, GzipCompressorOutputStream}

/** Seeded inputs for one workload. Every routing expectation comes from the
  * generator's own decisions (which IP class it drew for an entry), never
  * from the program's output.
  *
  * Archives are built from the payloads of fixture 1
  * (`testdata/20170315T000000Z-mlab3-sea03-sidestream-0000.tgz`); entry names
  * follow the sidestream `<ts>_<ip>_<n>.<ext>` shape with IPs drawn from the
  * seed whitelist (`testdata/whitelist_full`), from the site feed only, from
  * a samknows host of the feed, or from unlisted documentation ranges.
  *
  * Only a pool of distinct archives is compressed; the day and request
  * layout hard-links pool archives under the names the service is asked to
  * split, because routing reads the archive name (its date) and the entry
  * names, never the archive's position in the store.
  */
object Gen {

  /** IP classes an entry can be drawn from. */
  sealed trait IpClass
  case object SeedListed extends IpClass // in the seed whitelist and the feed
  case object SeedDropped extends IpClass // in the seed whitelist, not the feed
  case object FeedAdded extends IpClass // in the feed only
  case object Samknows extends IpClass // in the feed, under a samknows host
  case object Unlisted extends IpClass // nowhere

  final case class Entry(name: String, md5: String, size: Long,
                         web100: Boolean, ip: IpClass)
  final case class Archive(entries: Vector[Entry], dirName: String) {
    def bytes: Long = entries.map(_.size).sum
  }

  /** Expected routing: public iff the archive predates the cutoff, the entry
    * is not a web100 file, or its IP is listed in the whitelist in force.
    */
  def isPublic(e: Entry, old: Boolean, refreshed: Boolean): Boolean =
    old || !e.web100 || (e.ip match {
      case SeedListed => true
      case SeedDropped => !refreshed
      case FeedAdded => refreshed
      case Samknows | Unlisted => false
    })

  /** A submission target: a day prefix and the archive basenames under
    * it, each pointing at a pool archive.
    */
  final case class Target(date: Int, archives: Vector[(String, Int)]) {
    def prefix: String =
      f"sidestream/${date / 10000}%04d/${date / 100 % 100}%02d/${date % 100}%02d"
  }

  /** Targets by phase. Each `*Due` holds the promotable last-year days a
    * phase's `/cron/unembargo` calls use (embargo_day), index for index.
    */
  final case class Layout(
      dir: Path,
      pool: Vector[Archive],
      warmups: Vector[Target],  // one per set-up repetition
      ramp: Vector[Target],     // untimed traffic before the timed phase
      timed: Vector[Target],    // in submit order
      warmDue: Vector[Target],
      rampDue: Vector[Target],
      timedDue: Vector[Target], // one more than timed days: the traced layer timings
      today: java.time.LocalDate) {
    def srcDir: Path = dir.resolve("src")
    def privateSeed: Path = dir.resolve("private")
    def whitelist: Path = dir.resolve("whitelist.txt")
    def sitesJson: Path = dir.resolve("sites.json")
  }

  val Fixture = "testdata/20170315T000000Z-mlab3-sea03-sidestream-0000.tgz"
  val Whitelist = "testdata/whitelist_full"
  /** Archive date of every submitted day relative to `today` decides the age
    * arm: the cutoff is one year before it.
    */
  val Today: java.time.LocalDate = java.time.LocalDate.of(2018, 4, 1)

  private def md5(b: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(b).map("%02x".format(_)).mkString

  final case class Payload(bytes: Array[Byte], md5: String)

  def fixturePayloads(): Vector[Payload] = {
    val in = new TarArchiveInputStream(new GzipCompressorInputStream(
      new FileInputStream(Fixture)))
    try Iterator.continually(in.getNextEntry).takeWhile(_ != null)
      .filter(_.isFile).map { _ =>
        val b = in.readAllBytes(); Payload(b, md5(b))
      }.toVector
    finally in.close()
  }

  private def dateStr(d: Int) = f"$d%08d"
  private def plusDays(d: Int, n: Int): Int = {
    val ld = java.time.LocalDate.of(d / 10000, d / 100 % 100, d % 100).plusDays(n)
    ld.getYear * 10000 + ld.getMonthValue * 100 + ld.getDayOfMonth
  }

  /** Workload shapes: distinct archives, entries per archive (a multiple
    * of the fixture's 204 payloads), archives per target, targets laid out,
    * archives per set-up warm-up, ramp targets, share of entries with
    * feed-only IPs.
    */
  final case class Shape(pool: Int, entries: Int, perUnit: Int, units: Int,
                         warmupPerUnit: Int, ramp: Int, feedAddedShare: Double)

  val shapes: Map[String, Shape] = Map(
    // 16 archives x 204 entries per day (~69 MB of entries, ~10 MB gzip);
    // each set-up warms with a 4-archive day, the ramp is 4 full days
    "embargo_day" -> Shape(pool = 24, entries = 204, perUnit = 16, units = 24,
      warmupPerUnit = 4, ramp = 4, feedAddedShare = 0.0),
    // one 204-entry archive per request; 600 distinct request names; each
    // set-up warms with one request per client, the ramp is 15 requests
    "submit_loop" -> Shape(pool = 32, entries = 204, perUnit = 1, units = 600,
      warmupPerUnit = 3, ramp = 15, feedAddedShare = 0.10))

  /** Build (or reuse) the inputs of `workload` for `seed` under `root`. */
  def layout(root: Path, workload: String, seed: Long): Layout = {
    val shape = shapes(workload)
    val dir = root.resolve(s"$workload-s$seed")
    val rnd = new Random(seed * 1000003L + workload.hashCode)
    val payloads = fixturePayloads()
    val seedIps = scala.io.Source.fromFile(Whitelist, "UTF-8").getLines()
      .map(_.trim).filter(_.nonEmpty).toVector.distinct
    // a tenth of the seed list leaves the feed, so a refresh that merely
    // unions the lists fails the check
    val kept = rnd.shuffle(seedIps).drop(seedIps.size / 10)
    val keptSet = kept.toSet
    val added = Vector.tabulate(400)(i => f"198.18.${i / 200}%d.${i % 200 + 1}%d")
    val samknows = Vector.tabulate(20)(i => f"2001:db8:5a::${i + 1}%x")
    // unlisted IPs come from documentation ranges no whitelist line uses
    def unlisted(): String =
      if (rnd.nextDouble() < 0.2) f"2001:db8:${rnd.nextInt(0xffff)}%x::${rnd.nextInt(0xffff) + 1}%x"
      else s"203.0.${113 + rnd.nextInt(2)}.${1 + rnd.nextInt(254)}"
    def pick[T](v: Vector[T]): T = v(rnd.nextInt(v.size))

    val pool = Vector.tabulate(shape.pool) { a =>
      val site = f"mlab${1 + a % 4}.bch${a % 13}%02d"
      val day = plusDays(20170402, a)
      val ds = dateStr(day)
      val dirName = s"${ds.take(4)}/${ds.slice(4, 6)}/${ds.drop(6)}/$site"
      // every archive holds each fixture payload equally often, in a seeded
      // order, so all archives have the same bytes whatever the seed
      val deck = Vector.fill(shape.entries / payloads.size)(rnd.shuffle(payloads.indices.toVector)).flatten
      Archive(Vector.tabulate(deck.size) { i =>
        val u = rnd.nextDouble()
        val (ip, cls) =
          if (u < 0.30) {
            val ip = pick(seedIps)
            (ip, if (keptSet(ip)) SeedListed else SeedDropped)
          } else if (u < 0.30 + shape.feedAddedShare) (pick(added), FeedAdded)
          else if (u < 0.31 + shape.feedAddedShare) (pick(samknows), Samknows)
          else (unlisted(), Unlisted)
        val web100 = rnd.nextDouble() >= 0.12
        val p = payloads(deck(i))
        val name = f"$dirName/${ds}T${rnd.nextInt(24)}%02d:00:00Z_${ip}_$i.${if (web100) "web100" else "tra"}"
        Entry(name, p.md5, p.bytes.length.toLong, web100, cls)
      }, dirName)
    }

    // day layout: in every block of 8 timed days, the same 3 positions hold
    // days older than the cutoff (2016-06 onwards), the rest newer ones
    // (2017-04 onwards), whatever the seed
    val cutoff = graft.ops.Service.oneYearAgoInt(Today)
    def oldMask(i: Int) = Set(1, 4, 6)(i % 8)
    def unitArchives(n: Int, date: Int, tag: String) = Vector.tabulate(n) { k =>
      (s"${dateStr(date)}T000000Z-mlab${1 + k % 4}-$tag${k / 4}-sidestream-${f"$k%04d"}.tgz", rnd.nextInt(shape.pool))
    }
    val timed = if (shape.perUnit > 1) Vector.tabulate(shape.units) { i =>
      val date = if (oldMask(i)) plusDays(20160601, i) else plusDays(cutoff, 1 + i)
      Target(date, unitArchives(shape.perUnit, date, "bch"))
    } else Vector.tabulate(shape.units) { i =>
      // single-archive requests: up to 16 per day dir, one in eight old
      val date = if (i % 8 == 0) plusDays(20160601, i / 8) else plusDays(cutoff, 1 + i / 16)
      Target(date, Vector((s"${dateStr(date)}T${f"${i % 16}%02d"}0000Z-mlab${1 + i % 4}-req${i % 7}-sidestream-${f"$i%04d"}.tgz",
        rnd.nextInt(shape.pool))))
    }
    val warmups = Vector.tabulate(3) { r =>
      val date = plusDays(cutoff, 200 + r)
      Target(date, unitArchives(shape.warmupPerUnit, date, "wup"))
    }
    val days = shape.perUnit > 1
    val ramp = Vector.tabulate(shape.ramp) { r =>
      val date = plusDays(cutoff, 210 + (if (days) r else r / 16))
      Target(date, unitArchives(shape.perUnit, date, s"ramp$r-"))
    }
    // promotable last-year days, 4 private halves each
    val dues = Vector.tabulate(3 + (if (days) shape.ramp + shape.units else 0) + 1) { i =>
      val date = plusDays(20161001, i)
      Target(date, Vector.tabulate(4) { k =>
        (s"${dateStr(date)}T000000Z-mlab${1 + k}-due0-sidestream-0000-e.tgz", rnd.nextInt(shape.pool))
      })
    }
    val (warmDue, rest) = dues.splitAt(3)
    val (rampDue, timedDue) = rest.splitAt(if (days) shape.ramp else 0)
    val lay = Layout(dir, pool, warmups, ramp, timed, warmDue, rampDue, timedDue, Today)
    if (!Files.exists(dir.resolve("_READY"))) write(lay, payloads, kept, added, samknows)
    lay
  }

  private def write(lay: Layout, payloads: Vector[Payload], feedSeed: Vector[String],
                    added: Vector[String], samknows: Vector[String]): Unit = {
    val dir = lay.dir
    if (Files.exists(dir)) deleteTree(dir)
    val poolDir = dir.resolve("pool")
    Files.createDirectories(poolDir)
    val byMd5 = payloads.map(p => p.md5 -> p.bytes).toMap
    val ex = Executors.newFixedThreadPool(math.max(1, Runtime.getRuntime.availableProcessors))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(ex)
    try {
      val jobs = lay.pool.zipWithIndex.flatMap { case (a, i) =>
        Seq(Future(writeTgz(poolDir.resolve(s"a$i.tgz"), a, byMd5, _ => true)),
          // the private half of a last-year day, placed in the embargo store
          Future(writeTgz(poolDir.resolve(s"a$i-e.tgz"), a, byMd5,
            e => !isPublic(e, old = false, refreshed = false))))
      }
      Await.result(Future.sequence(jobs), Duration.Inf)
    } finally ex.shutdown()
    def link(to: Path, from: Path): Unit = {
      Files.createDirectories(to.getParent)
      Files.createLink(to, from)
    }
    for (u <- lay.warmups ++ lay.ramp ++ lay.timed; (name, a) <- u.archives)
      link(lay.srcDir.resolve(s"${u.prefix}/$name"), poolDir.resolve(s"a$a.tgz"))
    for (u <- lay.warmDue ++ lay.rampDue ++ lay.timedDue; (name, a) <- u.archives)
      link(lay.privateSeed.resolve(s"${u.prefix}/$name"), poolDir.resolve(s"a$a-e.tgz"))
    Files.copy(Paths.get(Whitelist), lay.whitelist, StandardCopyOption.REPLACE_EXISTING)
    // the site feed: one host per kept seed IP, one per added IP, and
    // samknows hosts whose IPs must stay embargoed after the refresh
    def host(h: String, ip: String) =
      if (ip.contains(':')) s"""{"hostname":"$h","ipv4":"","ipv6":"$ip"}"""
      else s"""{"hostname":"$h","ipv4":"$ip","ipv6":""}"""
    val hosts = feedSeed.zipWithIndex.map { case (ip, i) => host(s"mlab1.s$i.measurement-lab.org", ip) } ++
      added.zipWithIndex.map { case (ip, i) => host(s"mlab2.n$i.measurement-lab.org", ip) } ++
      samknows.zipWithIndex.map { case (ip, i) => host(s"samknows$i.example.net", ip) }
    Files.write(lay.sitesJson, hosts.mkString("[", ",\n", "]").getBytes(UTF_8))
    Files.write(dir.resolve("_READY"), Array.emptyByteArray)
  }

  private def writeTgz(path: Path, a: Archive, byMd5: Map[String, Array[Byte]],
                       keep: Entry => Boolean): Unit = {
    val out = new TarArchiveOutputStream(new GzipCompressorOutputStream(
      new BufferedOutputStream(new FileOutputStream(path.toFile), 1 << 16)))
    out.setLongFileMode(TarArchiveOutputStream.LONGFILE_POSIX)
    try {
      val d = new TarArchiveEntry(a.dirName + "/")
      d.setModTime(1489620881000L)
      out.putArchiveEntry(d); out.closeArchiveEntry()
      a.entries.filter(keep).foreach { e =>
        val te = new TarArchiveEntry(e.name)
        te.setSize(e.size); te.setMode(420); te.setModTime(1489557579000L)
        out.putArchiveEntry(te); out.write(byMd5(e.md5)); out.closeArchiveEntry()
      }
    } finally out.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toVector.reverse.foreach(Files.delete) finally s.close()
  }

  /** Entry name → md5 of every regular entry of a `.tgz`. */
  def readTgz(path: Path): Map[String, String] = {
    val in = new TarArchiveInputStream(new GzipCompressorInputStream(
      new java.io.BufferedInputStream(new FileInputStream(path.toFile), 1 << 16)))
    try Iterator.continually(in.getNextEntry).takeWhile(_ != null)
      .filter(_.isFile).map(e => e.getName -> md5(in.readAllBytes())).toMap
    finally in.close()
  }

  def fileMd5(path: Path): String = md5(Files.readAllBytes(path))
}
