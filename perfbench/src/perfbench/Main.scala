package perfbench

import java.lang.management.ManagementFactory
import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, Executors}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, when}

import graft.io.{FsOps, Sites, TgzSource}
import graft.model.Schemas
import graft.ops.{EmbargoSplit, Service, Unembargo}
import graft.streaming.StreamingEmbargo

/** The benchmark's JVM: builds a Spark session, starts the embargo service
  * and drives it over loopback HTTP with the seeded inputs of one workload,
  * then checks every output against the generator's manifest.
  *
  * Workloads:
  *  - `embargo_day`: one cron caller, closed loop: `/submit?date=` for a
  *    whole day, then `/cron/unembargo?date=` for a due last-year day.
  *  - `submit_loop`: three scraper callers, closed loop:
  *    `/submit?file=` for one archive each; halfway through, one
  *    `/cron/update_embargo_whitelist` replaces the seed whitelist with the
  *    site feed.
  *
  * Each run sets up three times (the median is `setup_s`), ramps the last
  * set-up's JVM with untimed traffic, then runs the timed phase. With
  * `--trace 1` the timed phase runs untraced and traced quarters in ABBA
  * order (the difference is the tracing overhead), then each layer's public
  * function is timed alone on one target of the same inputs.
  *
  * Usage: `Main <workload> <seed> <seconds> <trace 0|1> <input cache dir>`
  * from the checkout root, with `.bench_run/` empty (run.py does both).
  */
object Main {
  val Clients = 3
  val SetupReps = 3
  /** embargo_day runs one block of 8 days per this many `--seconds`. */
  val DaySeconds = 16.0

  final case class Op(kind: String, unit: Int, ms: Double, var ok: Boolean,
                      bytes: Long, refreshed: Boolean)
  final case class Slice(ops: Vector[Op], wallMs: Double, traced: Boolean, t0: Long, t1: Long)

  def now: Long = System.nanoTime()
  def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dataDir) = args
    require(Gen.shapes.contains(workload), s"unknown workload $workload")
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val root = Paths.get("").toAbsolutePath
    val run = root.resolve(".bench_run")
    val t0 = now
    val lay = Gen.layout(root.resolve(dataDir), workload, seedS.toLong)
    System.err.println(f"[perfbench] inputs for seed $seedS ready in ${msSince(t0) / 1000}%.2f s")
    val bench = new Bench(workload, seedS.toLong, lay, run, seconds, trace)
    // exit explicitly either way: the service's handler threads would
    // otherwise keep a failed JVM alive
    try {
      println(bench.execute())
      System.out.flush()
      System.exit(0)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        System.exit(1)
    }
  }

  def percentile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toVector
    if (s.isEmpty) Double.NaN
    else {
      val r = q * (s.size - 1)
      val lo = r.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  def parallel[T](n: Int, tasks: Seq[() => T]): Vector[T] = {
    val ex = Executors.newFixedThreadPool(n)
    try ex.invokeAll(tasks.map(t => new Callable[T] { def call(): T = t() }).asJava)
      .asScala.map(_.get).toVector
    finally { ex.shutdown(); ex.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES) }
  }
}

final class Bench(workload: String, seed: Long, lay: Gen.Layout, run: Path,
                  seconds: Double, trace: Boolean) {
  import Main._

  private val cores = Runtime.getRuntime.availableProcessors
  private val cutoff = Service.oneYearAgoInt(lay.today)
  private val publicDir = run.resolve("public")
  private val privateDir = run.resolve("private")
  private val cfg = Service.ServiceConfig(
    srcDir = lay.srcDir.toString,
    publicDir = publicDir.toString,
    privateDir = privateDir.toString,
    whitelistPath = lay.whitelist.toString,
    sitesUrl = lay.sitesJson.toUri.toString,
    whitelistOut = run.resolve("whitelist_store").toString,
    today = () => lay.today)
  private val spans = new Spans(java.util.UUID.randomUUID.toString)
  spans.on = trace
  private val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  private val failures = ArrayBuffer.empty[String]
  private def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)
  private val started = now
  private def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${msSince(started) / 1000}%7.2f s  $msg")

  private def session(): SparkSession =
    graft.Tables.configure(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", run.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", run.resolve("warehouse").toString))
      .getOrCreate()

  // ---- HTTP ----------------------------------------------------------

  /** One request; a transport error is a failed reply, not a crash. */
  private def get(port: Int, pathAndQuery: String): (Int, String, Double) = {
    val t0 = now
    val c = URI.create(s"http://127.0.0.1:$port$pathAndQuery").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(10000)
    c.setReadTimeout(170000)
    try {
      val code = c.getResponseCode
      val in = if (code < 400) c.getInputStream else c.getErrorStream
      val body = if (in == null) "" else try new String(in.readAllBytes(), UTF_8) finally in.close()
      (code, body, msSince(t0))
    } catch {
      case e: java.io.IOException => (-1, e.toString, msSince(t0))
    } finally c.disconnect()
  }

  private def fileParam(u: Gen.Target, name: String): String = {
    val url = s"gs://perfbench-scraper/${u.prefix}/$name"
    URLEncoder.encode(java.util.Base64.getEncoder.encodeToString(url.getBytes(UTF_8)), "UTF-8")
  }

  private def submitFile(port: Int, u: Gen.Target, name: String): (Boolean, Double) = {
    val (c, b, ms) = get(port, s"/submit?file=${fileParam(u, name)}")
    (c == 200 && b == "success", ms)
  }

  private def unitBytes(u: Gen.Target): Long = u.archives.map { case (_, a) => lay.pool(a).bytes }.sum

  // ---- workloads -----------------------------------------------------

  /** Untimed traffic, checked only for success replies: each day with its
    * due day's promotion (embargo_day), or each archive as its own request,
    * `Clients` at a time (submit_loop).
    */
  private def untimed(port: Int, targets: Vector[Gen.Target], dues: Vector[Gen.Target]): Unit = {
    def ok(r: (Int, String, Double), body: String) = r._1 == 200 && r._2 == body
    val replies = workload match {
      case "embargo_day" =>
        targets.zip(dues).flatMap { case (u, due) =>
          Vector(ok(get(port, s"/submit?date=${u.date}"), "success"),
            ok(get(port, s"/cron/unembargo?date=${due.date}"), "OK"))
        }
      case _ =>
        parallel(Clients, targets.flatMap(u => u.archives.map { case (name, _) =>
          () => submitFile(port, u, name)._1
        }))
    }
    replies.filterNot(identity).foreach(_ => failures += "untimed request failed")
  }

  /** Untimed traffic of the workload itself between the set-ups and the
    * timed phase. The JIT keeps speeding the split up for about a dozen
    * days after the JVM starts (see README); without the ramp the timed
    * phase would sit on that slope and its figures would follow how far
    * along it a run happened to be. submit_loop's ramp also exercises the
    * refreshed-store read, then deletes the store so the timed phase again
    * starts from the seed whitelist.
    */
  private def ramp(port: Int): Unit = workload match {
    case "embargo_day" => untimed(port, lay.ramp, lay.rampDue)
    case _ =>
      val (pre, post) = lay.ramp.splitAt(lay.ramp.size * 2 / 3)
      untimed(port, pre, Vector.empty)
      val (c, b, _) = get(port, "/cron/update_embargo_whitelist")
      if (c != 200 || b != "OK") failures += s"ramp refresh failed: $c"
      untimed(port, post, Vector.empty)
      Gen.deleteTree(Paths.get(cfg.whitelistOut))
  }

  /** Promotion outputs to verify after the timed phase: (due day, whether
    * its public day dir was empty right before the promotion).
    */
  private val promoted = ArrayBuffer.empty[(Gen.Target, Boolean)]

  /** One cron caller: for each of `n` days from `from`, a day submit then
    * a due-day promotion.
    */
  private def dayLoop(port: Int, from: Int, n: Int): Vector[Op] =
    (from until from + n).toVector.flatMap { i =>
      val u = lay.timed(i)
      val (c, b, ms) = spans("http.submit_day")(get(port, s"/submit?date=${u.date}"))
      val due = lay.timedDue(i)
      val emptyBefore = publicFiles(due).isEmpty
      val (c2, b2, ms2) = spans("http.unembargo")(get(port, s"/cron/unembargo?date=${due.date}"))
      promoted += ((due, emptyBefore))
      Vector(Op("submit", i, ms, c == 200 && b == "success", unitBytes(u), refreshed = false),
        Op("unembargo", i, ms2, c2 == 200 && b2 == "OK", 0L, refreshed = false))
    }

  /** `Clients` scrapers, closed loop, each waiting for its reply, until
    * `secs` have passed. Returns the ops and the phase's wall ms.
    */
  private def requestLoop(port: Int, next: AtomicInteger, secs: Double,
                          refreshed: Boolean): (Vector[Op], Double) = {
    val t0 = now
    val per = parallel(Clients, Seq.fill(Clients) { () =>
      val ops = ArrayBuffer.empty[Op]
      var go = true
      while (go && msSince(t0) < secs * 1000) {
        val i = next.getAndIncrement()
        if (i >= lay.timed.size) go = false
        else {
          val u = lay.timed(i)
          val (ok, ms) = spans("http.submit_file")(submitFile(port, u, u.archives.head._1))
          ops += Op("submit", i, ms, ok, unitBytes(u), refreshed)
        }
      }
      ops.toVector
    })
    (per.flatten, msSince(t0))
  }

  /** The timed phase in `traced.size` equal slices, with the harness
    * listener and spans on in the slices where `traced(k)`. submit_loop runs
    * `secs` of traffic with the whitelist refresh between the two halves.
    * embargo_day runs whole blocks of 8 days, one per `DaySeconds` of
    * `secs`: a fixed old/new mix keeps its latency quantiles off the
    * boundary between the two kinds of day. Returns each slice's ops, wall
    * ms and window.
    */
  private def timedPhase(spark: SparkSession, port: Int, secs: Double, traced: Seq[Boolean],
                         listener: JobListener): Vector[Slice] = {
    val nextReq = new AtomicInteger(0)
    var refreshed = false
    val per = secs / traced.size
    val days = 8 * math.max(1, math.round(secs / DaySeconds).toInt) / traced.size
    traced.zipWithIndex.map { case (on, k) =>
      val pre = ArrayBuffer.empty[Op]
      if (workload == "submit_loop" && k == traced.size / 2) {
        val (c, b, ms) = get(port, "/cron/update_embargo_whitelist")
        pre += Op("refresh", -1, ms, c == 200 && b == "OK", 0L, refreshed = true)
        refreshed = true
      }
      spans.on = on
      if (on) spark.sparkContext.addSparkListener(listener)
      val t0 = System.currentTimeMillis()
      val (ops, wall) = spans(if (on) "timed.traced" else "timed")(workload match {
        case "embargo_day" =>
          val o = dayLoop(port, k * days, days)
          (o, o.map(_.ms).sum)
        case _ => requestLoop(port, nextReq, per, refreshed)
      })
      val t1 = System.currentTimeMillis()
      if (on) {
        org.apache.spark.BusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
      spans.on = trace
      Slice(pre.toVector ++ ops, wall, on, t0, t1)
    }.toVector
  }

  /** The next target no slice has used. */
  private def unused(slices: Vector[Slice]): Int =
    math.min(slices.flatMap(_.ops.map(_.unit)).max + 1, lay.timed.size - 1)

  private def e2e(ops: Vector[Op], wallMs: Double): Map[String, Double] = {
    val subs = ops.filter(_.kind == "submit")
    val lat = subs.map(_.ms)
    Map(
      "embargo_mb_per_s" -> subs.map(_.bytes).sum / 1e6 / (wallMs / 1000),
      "submit_p50_ms" -> median(lat),
      "submit_p75_ms" -> percentile(lat, 0.75),
      "submit_per_s" -> subs.size / (wallMs / 1000))
  }

  // ---- output checks -------------------------------------------------

  private def nonHidden(dir: Path): Set[String] =
    if (!Files.isDirectory(dir)) Set.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filterNot(n => n.startsWith(".") || n.startsWith("_")).toSet
      finally s.close()
    }
  private def publicFiles(u: Gen.Target): Set[String] = nonHidden(publicDir.resolve(u.prefix))

  /** Both halves of one archive hold exactly the manifest's entries. */
  private def checkArchive(u: Gen.Target, name: String, a: Int, refreshed: Boolean): Option[String] = {
    val old = u.date < cutoff
    val (pub, priv) = lay.pool(a).entries.partition(Gen.isPublic(_, old, refreshed))
    def want(es: Vector[Gen.Entry]) = es.map(e => e.name -> e.md5).toMap
    val pubPath = publicDir.resolve(s"${u.prefix}/$name")
    val privPath = privateDir.resolve(s"${u.prefix}/${name.replace(".tgz", "-e.tgz")}")
    try {
      if (Gen.readTgz(pubPath) != want(pub)) Some(s"public half of $name differs from the manifest")
      else if (Gen.readTgz(privPath) != want(priv)) Some(s"private half of $name differs from the manifest")
      else None
    } catch { case e: Exception => Some(s"$name: ${e.getMessage}") }
  }

  /** Checks every op's outputs; marks failing ops. */
  private def check(ops: Vector[Op]): Unit = {
    val subs = ops.filter(o => o.kind == "submit" && o.ok)
    val tasks = subs.flatMap { o =>
      val u = lay.timed(o.unit)
      u.archives.map { case (name, a) => () => (o, checkArchive(u, name, a, o.refreshed)) }
    }
    parallel(cores, tasks).foreach { case (o, err) =>
      err.foreach { e => o.ok = false; failures += e }
    }
    // each submitted day dir holds exactly the submitted archives' halves
    subs.groupBy(o => lay.timed(o.unit).prefix).foreach { case (prefix, os) =>
      val names = os.flatMap(o => lay.timed(o.unit).archives.map(_._1)).toSet
      val pubOk = nonHidden(publicDir.resolve(prefix)) == names
      val privOk = nonHidden(privateDir.resolve(prefix)) == names.map(_.replace(".tgz", "-e.tgz"))
      if (!pubOk || !privOk) {
        os.foreach(_.ok = false)
        failures += s"$prefix: store listing differs from the submitted archives"
      }
    }
    // promotions: the due day's private halves appear in public, unchanged,
    // and only after the promotion call
    ops.filter(_.kind == "unembargo").foreach { o =>
      val (due, emptyBefore) = promoted.find(_._1 == lay.timedDue(o.unit)).get
      val names = due.archives.map(_._1)
      val same = publicFiles(due) == names.toSet && names.forall { n =>
        Gen.fileMd5(publicDir.resolve(s"${due.prefix}/$n")) ==
          Gen.fileMd5(lay.privateSeed.resolve(s"${due.prefix}/$n"))
      }
      if (!emptyBefore || !same) {
        o.ok = false
        failures += s"promotion of ${due.date} is wrong (empty before: $emptyBefore)"
      }
    }
    // no private half is public unless its day was promoted
    val promotedPrefixes = promoted.map(_._1.prefix).toSet ++
      (lay.warmDue ++ lay.rampDue).map(_.prefix)
    val w = Files.walk(publicDir)
    val leaked = try w.iterator().asScala.filter { p =>
      p.getFileName.toString.endsWith("-e.tgz") &&
        !promotedPrefixes.exists(pre => p.startsWith(publicDir.resolve(pre)))
    }.toVector finally w.close()
    if (leaked.nonEmpty) failures += s"${leaked.size} private halves are public before promotion"
  }

  // ---- per-layer timings (traced run) ---------------------------------

  private def timeMs(name: String, spark: SparkSession, reps: Int = 3)(body: Int => Unit): Double =
    median((0 until reps).map { r => val t0 = now; spans(name, Some(spark))(body(r)); msSince(t0) })

  private def layers(spark: SparkSession, u: Gen.Target): Unit = {
    val ld = run.resolve("layers")
    val names = u.archives.map(_._1)
    // a day is split as its day dir; a single request as its archive
    val in = if (u.archives.size > 1) lay.srcDir.resolve(u.prefix).toString
      else lay.srcDir.resolve(s"${u.prefix}/${names.head}").toString
    val wlSeed = TgzSource.whitelist(spark, lay.whitelist.toString)
    val scan = timeMs("io.TgzSource.entries", spark)(_ => TgzSource.entries(spark, in).count())
    val route = timeMs("ops.EmbargoSplit.route", spark) { _ =>
      EmbargoSplit.route(TgzSource.entries(spark, in), wlSeed, cutoff)
        .agg(count(when(col("route") === Schemas.RoutePublic, 1))).collect()
    }
    val split = timeMs("ops.EmbargoSplit.runWith", spark) { r =>
      EmbargoSplit.runWith(spark, in, wlSeed, cutoff, ld.resolve(s"split$r").toString)
    }
    val publish = timeMs("io.FsOps.publish", spark) { r =>
      val from = ld.resolve(s"split$r").toString
      val (pub, priv) = (ld.resolve(s"pub$r").toString, ld.resolve(s"priv$r").toString)
      FsOps.mkdirs(spark, pub); FsOps.mkdirs(spark, priv)
      if (names.size > 1) {
        val produced = FsOps.list(spark, from, suffix = ".tgz")
        FsOps.copyAll(spark, produced.filter(col("name").isin(names: _*)), from, pub)
        FsOps.copyAll(spark, produced.filter(!col("name").isin(names: _*)), from, priv)
      } else {
        FsOps.copy(spark, s"$from/${names.head}", s"$pub/${names.head}")
        val e = names.head.replace(".tgz", "-e.tgz")
        FsOps.copy(spark, s"$from/$e", s"$priv/$e")
      }
    }
    val due = lay.timedDue.last
    val promote = timeMs("ops.Unembargo.promoteDay", spark) { r =>
      Unembargo.promoteDay(spark, privateDir.toString, ld.resolve(s"promoted$r").toString,
        due.date, cutoff)
    }
    val wlRead = timeMs("io.TgzSource.whitelist", spark)(_ =>
      TgzSource.whitelist(spark, lay.whitelist.toString).count())
    val store = ld.resolve("whitelist_store").toString
    val refresh = timeMs("io.Sites.refresh", spark)(_ =>
      Sites.whitelistFromUrl(spark, cfg.sitesUrl).write.mode("overwrite").parquet(store))
    val storeRead = timeMs("io.whitelistStore", spark)(_ => spark.read.parquet(store).count())

    val sl = new StreamListener
    spark.streams.addListener(sl)
    val streamIn = ld.resolve("stream_in")
    Files.createDirectories(streamIn)
    names.foreach(n => Files.copy(lay.srcDir.resolve(s"${u.prefix}/$n"), streamIn.resolve(n)))
    val drain = timeMs("streaming.StreamingEmbargo.drain", spark) { r =>
      StreamingEmbargo.drain(spark, streamIn.toString, lay.whitelist.toString, cutoff,
        ld.resolve(s"stream_out$r").toString, ld.resolve(s"ckpt$r").toString)
    }
    spark.streams.removeListener(sl)

    val inBytes = names.map(n => Files.size(lay.srcDir.resolve(s"${u.prefix}/$n"))).sum
    val outBytes = tgzBytes(ld.resolve("pub0")) + tgzBytes(ld.resolve("priv0"))
    metric("io.TgzSource.entries_ms", scan, "ms")
    metric("ops.EmbargoSplit.route_ms", route - scan, "ms")
    metric("io.TgzSink.writeSplit_ms", split - route, "ms")
    metric("ops.EmbargoSplit.runWith_ms", split, "ms")
    metric("io.FsOps.publish_ms", publish, "ms")
    metric("ops.Unembargo.promoteDay_ms", promote, "ms")
    metric("io.TgzSource.whitelist_ms", wlRead, "ms")
    metric("io.whitelistStore_ms", storeRead, "ms")
    metric("io.Sites.refresh_ms", refresh, "ms")
    metric("io.out_bytes_per_in_byte", outBytes.toDouble / inBytes, "ratio")
    metric("streaming.drain_ms", drain, "ms")
    val b = sl.batches.get.toDouble
    metric("streaming.micro_batches", b / 3, "count")
    metric("streaming.empty_batch_ratio", if (b == 0) 0 else sl.emptyBatches.get / b, "ratio")
    Seq("addBatch", "walCommit", "commitOffsets", "latestOffset", "queryPlanning")
      .foreach(k => metric(s"streaming.${k}_ms", sl.phase(k) / 3, "ms"))
    splitMs = split + publish
  }
  private var splitMs = 0.0

  /** The embargo family of `SparkEntry.queries` over seeded `events` and
    * `customer` tables, timed alone; each result is written to
    * `layers/queries.json` with its oracle SQL for run.py's DuckDB check.
    */
  private def queryLayer(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    val sf = run.resolve("layers/sf").toString
    def draw(salt: Int, n: Long) = pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(n))
    spark.range(0, 200000).select(
      col("id").as("event_id"),
      draw(1, 5000).as("user_id"),
      element_at(array(Seq("view", "click", "error", "purchase").map(lit): _*),
        (draw(2, 4) + 1).cast("int")).as("event_type"),
      // 2023-07-01 plus up to a year: both sides of the queries' cutoff
      timestamp_seconds(lit(1688169600L) + draw(3, 365L * 86400)).as("ts"))
      .write.parquet(s"$sf/events.parquet")
    spark.range(1, 15001).select(
      col("id").as("c_custkey"),
      element_at(array(Seq("BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE").map(lit): _*),
        (draw(4, 5) + 1).cast("int")).as("c_mktsegment"))
      .write.parquet(s"$sf/customer.parquet")
    val names = Seq("p3_route_counts", "p1_suffix_filter", "p4_age_filter", "p6_unembargo_check")
    val dumps = ArrayBuffer.empty[String]
    def js(x: String) = x.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")
    val times = names.map { n =>
      val t = timeMs(s"queries.EmbargoQueries.$n", spark) { r =>
        val rows = graft.SparkEntry.queries(n)(spark, sf).collect()
        if (r == 0) dumps += s"${js(n)}: {\"sql\": ${js(graft.SparkEntry.oracleSql(n))}, \"rows\": " +
          rows.map(_.toSeq.map(v => js(String.valueOf(v))).mkString("[", ",", "]")).mkString("[", ",", "]") + "}"
      }
      metric(s"query.${n}_ms", t, "ms")
      t
    }
    metric("queries.EmbargoQueries_ms", times.sum, "ms")
    Files.write(run.resolve("layers/queries.json"), dumps.mkString("{", ",\n", "}").getBytes(UTF_8))
  }

  private def tgzBytes(dir: Path): Long = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".tgz")).map(Files.size).sum
    finally s.close()
  }

  // ---- the run ---------------------------------------------------------

  def execute(): String = {
    log("inputs ready")
    // the embargo store starts with the last-year private halves of the due days
    val w = Files.walk(lay.privateSeed)
    try w.iterator().asScala.filter(Files.isRegularFile(_)).foreach { p =>
      val to = privateDir.resolve(lay.privateSeed.relativize(p))
      Files.createDirectories(to.getParent)
      Files.copy(p, to)
    } finally w.close()

    var spark: SparkSession = null
    var svc: Service.EmbargoService = null
    val setups = (0 until Main.SetupReps).map { r =>
      val t0 = now
      spans("setup") {
        spark = session()
        spark.sparkContext.setLogLevel("ERROR")
        svc = Service.serve(spark, cfg)
        untimed(svc.port, Vector(lay.warmups(r)), Vector(lay.warmDue(r)))
      }
      val s = msSince(t0) / 1000
      log(f"set-up $r: $s%.2f s")
      if (r < Main.SetupReps - 1) { svc.close(); spark.stop() }
      s
    }
    ramp(svc.port)
    log("ramp done")

    // untraced and traced quarters in ABBA order, so a drift through the
    // timed phase favours neither
    val listener = new JobListener(spans)
    val gc0 = gcMs
    val slices = timedPhase(spark, svc.port, seconds,
      if (trace) Seq(false, true, true, false) else Seq(false, false), listener)
    val ops = slices.flatMap(_.ops)
    log(s"timed phase done: ${ops.size} ops")
    ops.foreach(o => System.err.println(
      f"[op] ${o.kind}%-9s target ${o.unit}%4d ${if (o.unit >= 0) lay.timed(o.unit).date else 0}%8d ${o.ms}%9.1f ms"))
    check(ops)
    log("checks done")
    def e2eOf(ss: Vector[Slice]) = e2e(ss.flatMap(_.ops), ss.map(_.wallMs).sum)
    if (!trace) {
      e2eOf(slices).foreach { case (k, v) => metric(k, v, unitOf(k)) }
      metric("setup_s", median(setups), "s")
    } else {
      val (on, off) = slices.partition(_.traced)
      val traced = e2eOf(on)
      val untraced = e2eOf(off)
      val nOps = on.flatMap(_.ops).count(_.kind == "submit").toDouble
      val window = on.map(s => (s.t1 - s.t0).toDouble).sum
      val tasks = listener.tasks.asScala
      val taskMs = tasks.map(i => (i.end - i.start).toDouble).sum
      val covered = on.map(s => listener.covered(tasks, s.t0, s.t1).toDouble).sum
      val jobsCovered = on.map(s => listener.covered(listener.jobs.asScala, s.t0, s.t1).toDouble).sum
      metric("spark.jobs_per_op", listener.jobs.size / nOps, "count")
      metric("spark.stages_per_op", listener.stages.get / nOps, "count")
      metric("spark.tasks_per_op", tasks.size / nOps, "count")
      metric("spark.task_ms_per_op", taskMs / nOps, "ms")
      metric("spark.driver_gap_ms_per_op", (window - covered) / nOps, "ms")
      metric("spark.core_util", taskMs / (window * cores), "ratio")
      metric("spark.concurrent_jobs",
        listener.jobs.asScala.map(i => (i.end - i.start).toDouble).sum / math.max(jobsCovered, 1.0), "count")
      metric("spark.tasks_failed", listener.tasksFailed.get.toDouble, "count")
      metric("spark.shuffle_write_mb", listener.shuffleWriteBytes.get / 1e6, "MB")
      metric("spark.spill_mb", listener.spillBytes.get / 1e6, "MB")
      metric("jvm.gc_ms_per_op", (gcMs - gc0) / ops.count(_.kind == "submit"), "ms")
      layers(spark, lay.timed(unused(slices)))
      queryLayer(spark)
      log("layer timings done")
      metric("ops.Service.overhead_ms", traced("submit_p50_ms") - splitMs, "ms")
      metric("trace.overhead_submit_p50_ms", traced("submit_p50_ms") - untraced("submit_p50_ms"), "ms")
      metric("trace.overhead_mb_per_s", untraced("embargo_mb_per_s") - traced("embargo_mb_per_s"), "MB/s")
    }
    svc.close()
    spark.stop()

    val jvm = ManagementFactory.getCompilationMXBean
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    if (trace) {
      metric("jvm.jit_s", jvm.getTotalCompilationTime / 1000.0, "s")
      metric("jvm.gc_s", gcMs / 1000.0, "s")
      metric("jvm.heap_peak_mb", heapPeak / 1e6, "MB")
      spans.write(run.resolve(s"trace/spans-$workload.jsonl"))
    }

    failures.take(10).foreach(f => System.err.println(s"[perfbench] check failed: $f"))
    val attempted = ops.size
    val failed = ops.count(!_.ok)
    val finite = metrics.values.forall { case (v, _) => !v.isNaN && !v.isInfinite }
    val correct = failures.isEmpty && failed == 0 && attempted > 0 && finite
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${if (finite) v.toString else "0"}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    s"""{"correct": $correct, "attempted": ${math.max(attempted, 1)}, "failed": ${if (attempted == 0) 1 else failed}, "metrics": $ms}"""
  }

  private def unitOf(k: String): String = k match {
    case "embargo_mb_per_s" => "MB/s"
    case "submit_per_s" => "1/s"
    case _ => "ms"
  }

  private def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.toDouble).sum

}
