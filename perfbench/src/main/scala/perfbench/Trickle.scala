package perfbench

import java.nio.file.{Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.{ChangeLogStream, Topology}

/** `cdc_trickle`: a store preloaded with [[Trickle.Keys]] keys, then
  * small files of Zipf-skewed changes landed by atomic rename on a
  * fixed schedule (open loop), a consumer calling `Topology.run` back to
  * back, and after each run `stateForKey` point lookups for keys of
  * already-committed deliveries, on the same bucketed layout.
  */
object Trickle extends Workload {
  val Keys = 50000
  val ChangesPerFile = 500
  /** Offered load, files per second; the consumer at the seed commit keeps up. */
  val FilesPerSecond = 5.0
  val ZipfSkew = 0.99
  val DeleteShare = 0.10
  val InsertShare = 0.05
  /** Point lookups after each run, before the next one starts. A bucket
    * publish is not isolated from readers (a file a lookup listed can be
    * replaced before the scan opens it), so lookups do not overlap runs.
    */
  val LookupsPerRun = 6

  /** One change: the key's user id, its LSN and whether it deletes. */
  final case class Change(uid: Int, lsn: Long, delete: Boolean)

  final case class Prepared(cfg: Topology.Config, staged: Array[Path],
      changes: Array[Change], published: Array[Long],
      history: Map[Int, Array[Int]])

  private val BaseMs = 1704067200000L
  private def table(uid: Int) = s"public.t${uid % 3}"
  private def published(uid: Int) = uid % 3 != 2

  def files(a: Main.Args): Int = math.ceil(a.seconds * FilesPerSecond).toInt

  /** The seeded change log, one row per change (LSN after the preload):
    * key ranks follow a Zipf law over the key space (inverse of the
    * continuous Zipf CDF), mapped to keys by a seeded permutation
    * `rank * 104729 + offset mod Keys` (104729 is prime, so coprime to
    * Keys); `error` deletes, `signup` inserts, the rest update.
    */
  def events(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    val id = col("id")
    val u = Feed.unit(id, seed, 11)
    val e = 1.0 - ZipfSkew
    val rank = floor(pow(u * (math.pow(Keys.toDouble, e) - 1) + 1, 1.0 / e)).cast("long") - 1
    val offset = Math.floorMod(seed * 7919L, Keys.toLong)
    val kind = Feed.unit(id, seed, 12)
    spark.range(Keys.toLong, Keys.toLong + n).select(
      id.as("event_id"),
      timestamp_millis(lit(BaseMs) + id).as("ts"),
      pmod(least(rank, lit(Keys - 1L)) * 104729L + offset, lit(Keys.toLong)).as("user_id"),
      when(kind < DeleteShare, "error").when(kind < DeleteShare + InsertShare, "signup")
        .otherwise(element_at(array(lit("click"), lit("view"), lit("purchase")),
          (pmod(Feed.h(id, seed, 13), lit(3L)) + 1).cast("int"))).as("event_type"),
      round(Feed.unit(id, seed, 14) * 500.0, 2).as("value"),
      concat(lit("{\"k\": "), pmod(Feed.h(id, seed, 15), lit(100L)).cast("string"), lit("}"))
        .as("props"))
  }

  def setup(spark: SparkSession, dir: Path, a: Main.Args, trace: Trace): Prepared = {
    val cfg = Feed.config(dir.resolve("run"))
    // preload: one insert per key, LSN = key, as the feed's first file
    val preload = trace.span("Envelope.toCdcEventsToast") {
      Feed.toWire(spark.range(Keys.toLong).select(
        col("id").as("event_id"),
        timestamp_millis(lit(BaseMs) + col("id")).as("ts"),
        col("id").as("user_id"), lit("signup").as("event_type"),
        (col("id") % 1000 / 10.0).as("value"),
        concat(lit("{\"k\": "), (col("id") % 100).cast("string"), lit("}")).as("props")), 0)
    }
    val pre = Feed.stage(preload, lit(0), dir.resolve("preload"))
    Feed.land(pre(0), Paths.get(cfg.feedDir), "preload.parquet")
    trace.span("Topology.run")(Topology.run(spark, cfg))

    val ev = events(spark, a.seed, files(a) * ChangesPerFile).persist()
    val cs = ev.select(col("user_id").cast("int"), col("event_id"), col("event_type") === "error")
      .collect().map(r => Change(r.getInt(0), r.getLong(1), r.getBoolean(2))).sortBy(_.lsn)
    val wire = trace.span("Envelope.toCdcEventsToast")(Feed.toWire(ev, 0))
    val staged = Feed.stage(wire,
      ((col("lsn") - Keys) / ChangesPerFile).cast("int"), dir.resolve("staging"))
    ev.unpersist()
    val pub = cs.grouped(ChangesPerFile).map(_.count(c => published(c.uid)).toLong).toArray
    val history = cs.indices.groupBy(i => cs(i).uid).map { case (k, v) => k -> v.toArray }
    Prepared(cfg, staged, cs, pub, history)
  }

  def measure(spark: SparkSession, p: Prepared, a: Main.Args, trace: Trace): Outcome = {
    val ls = if (a.trace) Some(new Listeners(spark)) else None
    val probe = new Feed.Probe(p.cfg, ls)
    val n = p.staged.length
    val feed = Paths.get(p.cfg.feedDir)
    val periodNs = (1e9 / FilesPerSecond).toLong
    val landed = new AtomicInteger(0)
    val fileBytes = new Array[Long](n)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var lateMaxMs = 0.0
    val t0 = System.nanoTime()

    val generator = new Thread(() => {
      for (i <- 0 until n) {
        val due = t0 + i * periodNs
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        lateMaxMs = math.max(lateMaxMs, (System.nanoTime() - due) / 1e6)
        fileBytes(i) = Feed.land(p.staged(i), feed, f"trickle-$i%05d.parquet")
        landed.set(i + 1)
      }
    }, "perfbench-generator")

    // the reader: its own session on the same context, as a separate client
    val reader = spark.newSession()
    val readerMetrics = if (a.trace) Some(graft.ops.Metrics.install(reader)) else None
    val readerScans = if (a.trace) {
      val s = new ScanLedger; reader.listenerManager.register(s); Some(s)
    } else None
    val rng = new java.util.Random(a.seed * 31 + 7)
    val lookupMs = ArrayBuffer.empty[Double]
    var lookups = 0
    /** Look up keys of the last committed deliveries (`c` files committed). */
    def lookup(c: Int): Unit = {
      reader.sparkContext.setJobGroup("lookup", "point lookups", interruptOnCancel = false)
      for (_ <- 0 until LookupsPerRun) {
        val f = c - 1 - rng.nextInt(math.min(c, 5))
        val idx = Iterator.continually(f * ChangesPerFile + rng.nextInt(ChangesPerFile))
          .find(i => published(p.changes(i).uid)).get
        val uid = p.changes(idx).uid
        // the key's newest change among the committed deliveries
        val newest = p.history(uid).filter(_ / ChangesPerFile < c).max
        val expect = p.changes(newest)
        val key = s"${table(uid)}:$uid"
        lookups += 1
        val start = System.nanoTime()
        try {
          val rows = trace.span("ChangeLogStream.stateForKey") {
            ChangeLogStream.stateForKey(reader, s"${p.cfg.sinkDir}/state/${table(uid)}",
              Seq("key"), Seq(key)).select("state_lsn").collect()
          }
          lookupMs += (System.nanoTime() - start) / 1e6
          val lsn = rows.headOption.map(_.getLong(0))
          val stale = lsn match {
            case Some(l) => l < expect.lsn
            case None    => !expect.delete
          }
          if (stale) failures.add(s"lookup of $key returned state_lsn $lsn, " +
            s"older than committed LSN ${expect.lsn}")
        } catch { case e: Exception => failures.add(s"lookup of $key failed: $e") }
      }
      reader.sparkContext.clearJobGroup()
    }

    // Runs go back to back while the window is open. A file is measured
    // when it landed before the start of the window's last run, so the
    // measured files fill whole consumer cycles and the figures do not
    // depend on where the window's end falls within a cycle. What lands
    // during the last run is committed afterwards, untimed, before the
    // checks.
    val windowEnd = t0 + a.seconds * 1000000000L
    val freshMs = ArrayBuffer.empty[Double]
    var backlogMax = 0
    var runs = 0
    var timedRuns = 0
    var runWallNs = 0L
    var done = 0
    def consume(timed: Boolean): Unit = {
      val upTo = landed.get
      backlogMax = math.max(backlogMax, upTo - done)
      val bytes = (done until upTo).map(fileBytes(_)).sum
      val start = System.nanoTime()
      var end = 0L
      try probe.around(bytes) {
        trace.span("Topology.run")(Topology.run(spark, p.cfg))
        end = System.nanoTime()
      } catch { case e: Exception => failures.add(s"Topology.run: $e") }
      if (end == 0L) end = System.nanoTime()
      runs += 1
      if (timed) {
        for (i <- done until upTo) freshMs += (end - (t0 + i * periodNs)) / 1e6
        timedRuns += 1
        runWallNs += end - start
      }
      done = upTo
      // reads after the commit delay the next run, as reads beside writes do
      if (timed && done > 0) lookup(done)
    }
    generator.start()
    while (landed.get == 0) Thread.sleep(1)
    while (System.nanoTime() < windowEnd) consume(timed = true)
    val measured = done
    generator.join()
    if (landed.get > done) consume(timed = false)
    ls.foreach(_.drain())

    val checks = Feed.check(spark, p.cfg, trace)
    checks.foreach(failures.add)
    val lat = lookupMs.toSeq
    val layers = probe.layers() ++ Map(
      "lookup.p50_ms" -> Stats.quantile(lat, 0.5),
      "lookup.p95_ms" -> Stats.quantile(lat, 0.95),
      "lookup.scan_bytes" -> readerMetrics.map(_.snapshot().map(_.scanBytes)
        .filter(_ > 0).sum.toDouble / math.max(lat.size, 1)).getOrElse(0.0),
      "lookup.files_opened" -> readerScans.map(_.filesOpened.toDouble / math.max(lat.size, 1))
        .getOrElse(0.0),
      "gen.late_ms_max" -> lateMaxMs,
      "backlog.files_max" -> backlogMax.toDouble)
    // In an open loop, committed changes per second equal the offered
    // rate while the consumer keeps up; what the program sets is how
    // often it publishes: committed runs per second of consumer time.
    Outcome(
      values = layers ++ Map(
        "throughput_per_s" -> timedRuns / (runWallNs / 1e9),
        "latency_p50_ms" -> Stats.quantile(freshMs.toSeq, 0.5),
        "latency.p90_ms" -> Stats.quantile(freshMs.toSeq, 0.9)),
      attempted = runs + lookups + 1L + Feed.Published.size,
      failures = failures.asScala.toSeq,
      notes = Seq(Feed.Note,
        f"cdc_trickle: $n files of $ChangesPerFile changes offered at $FilesPerSecond%.1f files/s, " +
          f"$measured timed, " +
          f"over a $Keys-key store; $runs runs ($timedRuns timed), $lookups lookups between runs " +
          f"(p50 ${Stats.quantile(lat, 0.5)}%.1f ms, p95 ${Stats.quantile(lat, 0.95)}%.1f ms), " +
          f"generator late by at most $lateMaxMs%.1f ms, backlog at most $backlogMax files"))
  }
}
