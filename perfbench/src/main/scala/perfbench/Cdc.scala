package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.CdcEvent
import graft.pipeline.{ChangeLog, Envelope}
import graft.streaming.Topology

/** The change feed both CDC workloads consume: a parquet file source of
  * Kafka-shaped `key`/`value` bytes (no Kafka connector jar is
  * installed), built through `Envelope.toCdcEventsToast` and routed to
  * `public.t0/t1/t2` by key, of which `t2` is never published.
  */
object Feed {
  val Published: Seq[String] = Seq("public.t0", "public.t1")
  val Note = "feed: parquet file source of Kafka-shaped key/value bytes " +
    "(no Kafka connector jar is installed)"

  /** Deterministic pseudo-random column from (id, seed, salt). */
  def h(id: Column, seed: Long, salt: Int): Column =
    xxhash64(id, lit(seed), lit(salt))
  def unit(id: Column, seed: Long, salt: Int): Column =
    (pmod(h(id, seed, salt), lit(1L << 30)) + 1).cast("double") / ((1L << 30) + 1).toDouble

  /** Events-shaped change log (the corpus `events` schema): LSN = id,
    * `error` = delete, `signup` = insert, other types update. Columns are
    * hashed with salts `salt + 1` to `salt + 5`.
    */
  def events(spark: SparkSession, from: Long, until: Long, keys: Long,
      seed: Long, gapMs: Long, salt: Int = 0): DataFrame = {
    val id = col("id")
    spark.range(from, until).select(
      id.as("event_id"),
      timestamp_millis(lit(1704067200000L) + id * gapMs + pmod(h(id, seed, salt + 1), lit(gapMs)))
        .as("ts"),
      pmod(h(id, seed, salt + 2), lit(keys)).as("user_id"),
      element_at(array(Seq("signup", "click", "error", "view", "purchase").map(lit): _*),
        (pmod(h(id, seed, salt + 3), lit(5L)) + 1).cast("int")).as("event_type"),
      round(-log(unit(id, seed, salt + 4)) * 50.0, 2).as("value"),
      concat(lit("{\"k\": "), pmod(h(id, seed, salt + 5), lit(100L)).cast("string"), lit("}"))
        .as("props"))
  }

  /** Events → wire rows (`key`, `value`, and `lsn` for staging): the
    * envelopes of `Envelope.toCdcEventsToast`, routed to `public.t<k % 3>`
    * by key, through `Envelope.toKafkaMessages`. Every `corruptEvery`-th
    * LSN loses its last 8 bytes, so the dead-letter tee has work (0 = none).
    */
  def toWire(events: DataFrame, corruptEvery: Long): DataFrame = {
    import events.sparkSession.implicits._
    val uid = split(col("key"), ":").getItem(1).cast("long")
    val routed = Envelope.toCdcEventsToast(events)
      .withColumn("tableName", concat(lit("t"), pmod(uid, lit(3))))
      .withColumn("key", concat(lit("public."), col("tableName"), lit(":"), uid))
      .as[CdcEvent]
    val msgs = Envelope.toKafkaMessages(routed)
      .withColumn("lsn", get_json_object(col("value").cast("string"), "$.lsn").cast("long"))
    if (corruptEvery <= 0) msgs
    else msgs.withColumn("value", when(col("lsn") % corruptEvery === 0,
      expr("substring(value, 1, length(value) - 8)")).otherwise(col("value")))
  }

  def isPublished(key: Column): Column =
    split(key.cast("string"), ":").getItem(0).isin(Published: _*)

  /** Write wire rows as one parquet file per delivery id under `dir`;
    * returns each delivery's file, in delivery order.
    */
  def stage(wire: DataFrame, delivery: Column, dir: Path): Array[Path] = {
    wire.withColumn("d", delivery).repartition(col("d"))
      .select("key", "value", "d")
      .write.partitionBy("d").parquet(dir.toString)
    val s = Files.list(dir)
    try {
      val byD = scala.collection.mutable.Map.empty[Int, Path]
      s.forEach { sub =>
        val n = sub.getFileName.toString
        if (n.startsWith("d=")) {
          val files = Files.list(sub)
          try files.filter(_.getFileName.toString.endsWith(".parquet"))
            .forEach(f => byD(n.drop(2).toInt) = f)
          finally files.close()
        }
      }
      byD.toSeq.sortBy(_._1).map(_._2).toArray
    } finally s.close()
  }

  /** Land a staged file in the feed by atomic rename. */
  def land(staged: Path, feedDir: Path, name: String): Long = {
    Files.createDirectories(feedDir)
    val size = Files.size(staged)
    Files.move(staged, feedDir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    size
  }

  /** The topology config file, parsed by the library's own parser. */
  def config(base: Path): Topology.Config = {
    Files.createDirectories(base)
    val yaml = Seq(
      s"feed.dir: ${base.resolve("feed")}",
      "publication.name: bench_pub",
      s"publication.tables: ${Published.mkString(",")}",
      s"sink.dir: ${base.resolve("sink")}",
      s"checkpoint.dir: ${base.resolve("ckpt")}",
      "late.delay_minutes: 10")
    val f = base.resolve("config.yaml")
    Files.writeString(f, yaml.mkString("", "\n", "\n"))
    Topology.parse(f.toString)
  }

  /** A small feed and sink, run once, so codegen and the streaming
    * machinery are warm before anything is timed.
    */
  def warmTopology(spark: SparkSession, dir: Path, seed: Long, trace: Trace): Unit = {
    val cfg = config(dir)
    val files = stage(toWire(events(spark, 0, 1000, 100, seed, 1000), 97),
      lit(0), dir.resolve("staging"))
    land(files(0), dir.resolve("feed"), "warm.parquet")
    trace.span("Topology.run")(Topology.run(spark, cfg))
  }

  /** Output checks after a CDC run; each failure is one message. The
    * census must conserve, and each published table's live state must
    * equal the batch carry-forward reference over the envelopes the
    * sink admitted (decodable and not late).
    */
  def check(spark: SparkSession, cfg: Topology.Config, trace: Trace): Seq[String] = {
    val failures = ArrayBuffer.empty[String]
    val c = trace.span("Topology.census")(Topology.census(spark, cfg))
    if (!c.conserved) failures += s"census does not conserve: $c"
    val env = trace.span("Envelope.fromKafkaMessages") {
      Envelope.fromKafkaMessages(spark.read.parquet(cfg.feedDir)).toDF()
        .filter(col("lsn").isNotNull)
    }
    val lateDir = java.nio.file.Paths.get(cfg.sinkDir, "late")
    val admitted =
      if (Files2.usage(lateDir)._1 == 0) env
      else env.join(spark.read.parquet(lateDir.toString).select("lsn"), Seq("lsn"), "left_anti")
    def norm(df: DataFrame): DataFrame = df.select(col("key"),
      col("state_lsn").cast("long").as("state_lsn"),
      array_sort(map_entries(col("state"))).as("st"))
    Published.foreach { t =>
      val ref = trace.span("ChangeLog.latestStateCarryForward") {
        norm(ChangeLog.latestStateCarryForward(admitted
          .filter(concat(col("schemaName"), lit("."), col("tableName")) === t)
          .select("key", "op", "lsn", "after", "unchangedCols"))).persist()
      }
      val live = norm(spark.read.parquet(s"${cfg.sinkDir}/state/$t")
        .filter(!col("tombstone"))).persist()
      val missing = ref.exceptAll(live).count()
      val extra = live.exceptAll(ref).count()
      if (missing + extra > 0)
        failures += s"$t live state differs from the batch reference: " +
          s"$missing reference rows missing, $extra extra rows"
      ref.unpersist(); live.unpersist()
    }
    failures.toSeq
  }

  /** Per-layer counters for the sink, gathered around each
    * `Topology.run` of a traced run.
    */
  final class Probe(cfg: Topology.Config, ls: Option[Listeners]) {
    private val runMs, startStopMs = ArrayBuffer.empty[Double]
    private val phase = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]
    private val perBatch = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]
    private var wireBytes, bytesWritten = 0L
    private def add(m: scala.collection.mutable.Map[String, ArrayBuffer[Double]],
        k: String, v: Double): Unit = m.getOrElseUpdate(k, ArrayBuffer.empty) += v
    private val sink = java.nio.file.Paths.get(cfg.sinkDir)

    def around[T](ingestedBytes: Long)(body: => T): T = ls match {
      case None => body
      case Some(l) =>
        val before = Files2.listing(sink)
        val t0 = System.nanoTime()
        val out = body
        val wall = (System.nanoTime() - t0) / 1e6
        l.drain()
        val after = Files2.listing(sink)
        val progs = l.progress.take()
        runMs += wall
        startStopMs += wall - progs.map(p => p.durationMs.getOrDefault("triggerExecution", 0L).toDouble).sum
        wireBytes += ingestedBytes
        progs.foreach { p =>
          Seq("addBatch", "latestOffset", "queryPlanning", "walCommit", "commitOffsets")
            .foreach(k => add(phase, k, p.durationMs.getOrDefault(k, 0L).toDouble))
          add(perBatch, "rows", p.numInputRows.toDouble)
          val acc = l.tasks.get(l.tasks.batchKey(p.id.toString, p.batchId))
          val addBatch = p.durationMs.getOrDefault("addBatch", 0L).toDouble
          add(perBatch, "jobs", acc.map(_.jobs.toDouble).getOrElse(0.0))
          add(perBatch, "tasks", acc.map(_.tasks.toDouble).getOrElse(0.0))
          add(perBatch, "task_ms", acc.map(_.taskMs.toDouble).getOrElse(0.0))
          add(perBatch, "no_task_ms", math.max(0.0,
            addBatch - acc.map(a => Intervals.union(a.intervals.toSeq).toDouble).getOrElse(0.0)))
          add(perBatch, "bytes_written", acc.map(_.bytesWritten.toDouble).getOrElse(0.0))
          add(perBatch, "bytes_read", acc.map(_.bytesRead.toDouble).getOrElse(0.0))
          bytesWritten += acc.map(_.bytesWritten).getOrElse(0L)
        }
        if (progs.nonEmpty) {
          val fresh = after.filter { case (k, _) => !before.contains(k) }
          add(perBatch, "files_written", fresh.size.toDouble / progs.size)
          def buckets(m: Map[String, Long]) = m.keys
            .filter(k => k.startsWith("state/") && k.split('/').lift(2).exists(_.startsWith("__bucket=")))
            .groupBy(k => k.split('/').take(3).mkString("/"))
            .map { case (b, ks) => b -> ks.toSet }
          val (b0, b1) = (buckets(before), buckets(after))
          val rewritten = (b0.keySet ++ b1.keySet).count(b => b0.get(b) != b1.get(b))
          add(perBatch, "buckets_rewritten", rewritten.toDouble / progs.size)
        }
        out
    }

    private def mean(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size

    def layers(): Map[String, Double] = {
      val (stateFiles, stateBytes) = Files2.usage(sink.resolve("state"))
      Map(
        "topology.run_ms" -> mean(runMs),
        "topology.startstop_ms" -> mean(startStopMs),
        "stream.rows_per_batch" -> mean(perBatch.getOrElse("rows", Nil)),
        "sink.jobs_per_batch" -> mean(perBatch.getOrElse("jobs", Nil)),
        "sink.tasks_per_batch" -> mean(perBatch.getOrElse("tasks", Nil)),
        "sink.task_ms_per_batch" -> mean(perBatch.getOrElse("task_ms", Nil)),
        "sink.no_task_ms_per_batch" -> mean(perBatch.getOrElse("no_task_ms", Nil)),
        "sink.bytes_written_per_batch" -> mean(perBatch.getOrElse("bytes_written", Nil)),
        "sink.files_written_per_batch" -> mean(perBatch.getOrElse("files_written", Nil)),
        "sink.bytes_read_per_batch" -> mean(perBatch.getOrElse("bytes_read", Nil)),
        "sink.write_amp" -> (if (wireBytes == 0) 0.0 else bytesWritten.toDouble / wireBytes),
        "sink.buckets_rewritten_per_batch" -> mean(perBatch.getOrElse("buckets_rewritten", Nil)),
        "state.bytes" -> stateBytes.toDouble,
        "state.files" -> stateFiles.toDouble,
        "ckpt.files" -> Files2.usage(java.nio.file.Paths.get(cfg.ckptDir))._1.toDouble,
        "log.files" -> Files2.usage(sink.resolve("log"))._1.toDouble) ++
        phase.map { case (k, v) => s"stream.${k}_ms" -> mean(v) }
    }
  }
}

/** `cdc_backfill`: an events-shaped change log (100k changes over 1,500
  * keys, about 20% deletes, TOAST markers) delivered to an empty sink in
  * large files, one `Topology.run` per delivery, closed loop: the loader
  * lands the next file only after the previous one is committed.
  */
object Backfill extends Workload {
  val Changes = 100000L
  val Keys = 1500L
  val DeliverySize = 10000L
  val CorruptEvery = 101L
  /** Deliveries per second of `--seconds`. The count is fixed before the
    * run starts (about one delivery per 2.5 s at the seed commit on 4
    * cores), so a faster or slower program does the same work.
    */
  val DeliveriesPerSecond = 0.4
  def deliveries(a: Main.Args): Int = math.max(2, math.round(a.seconds * DeliveriesPerSecond).toInt)
  /** Deliveries timed at both core counts for `scaling.backfill`. */
  val ScalingDeliveries = 2

  final case class Prepared(dir: Path, cfg: Topology.Config, staged: Array[Path],
      published: Array[Long])

  def setup(spark: SparkSession, dir: Path, a: Main.Args, trace: Trace): Prepared = {
    Feed.warmTopology(spark, dir.resolve("warm"), a.seed, trace)
    val cfg = Feed.config(dir.resolve("run"))
    val wire = trace.span("Envelope.toCdcEventsToast") {
      Feed.toWire(Feed.events(spark, 0, Changes, Keys, a.seed, 26000), CorruptEvery)
    }.persist()
    val staged = Feed.stage(wire, (col("lsn") / DeliverySize).cast("int"),
      dir.resolve("staging"))
    val counts = wire.groupBy((col("lsn") / DeliverySize).cast("int").as("d"))
      .agg(sum(Feed.isPublished(col("key")).cast("long")))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    wire.unpersist()
    Prepared(dir, cfg, staged, staged.indices.map(counts(_)).toArray)
  }

  private def deliveryName(d: Int) = f"delivery-$d%05d.parquet"

  def measure(spark: SparkSession, p: Prepared, a: Main.Args, trace: Trace): Outcome = {
    val ls = if (a.trace) Some(new Listeners(spark)) else None
    val probe = new Feed.Probe(p.cfg, ls)
    val feed = java.nio.file.Paths.get(p.cfg.feedDir)
    val latMs = ArrayBuffer.empty[Double]
    var changes = 0L
    var wall = 0.0
    var d = 0
    val failures = ArrayBuffer.empty[String]
    while (d < math.min(deliveries(a), p.staged.length)) {
      val landed = System.nanoTime()
      val bytes = Feed.land(p.staged(d), feed, deliveryName(d))
      var end = 0L
      try probe.around(bytes) {
        trace.span("Topology.run")(Topology.run(spark, p.cfg))
        end = System.nanoTime()
      } catch { case e: Exception => failures += s"Topology.run on delivery $d: $e" }
      if (end == 0L) end = System.nanoTime()
      latMs += (end - landed) / 1e6
      wall += (end - landed) / 1e9
      changes += p.published(d)
      d += 1
    }
    failures ++= Feed.check(spark, p.cfg, trace)
    val layers = probe.layers() ++
      (if (a.trace) pipelineLayers(spark, p.cfg) ++ scaling(spark, p, a, trace) else Map.empty)
    Outcome(
      values = layers ++ Map(
        "throughput_per_s" -> changes / wall,
        "latency_p50_ms" -> Stats.quantile(latMs.toSeq, 0.5),
        "latency.p90_ms" -> Stats.quantile(latMs.toSeq, 0.9)),
      attempted = d + 1L + Feed.Published.size,
      failures = failures.toSeq,
      notes = Seq(Feed.Note,
        s"cdc_backfill: $d deliveries of $DeliverySize changes, $changes published changes " +
          s"committed; delivery latencies (ms): ${latMs.map(_.round).mkString(" ")}"))
  }

  /** Direct timed calls of the pipeline layer on the backfill input:
    * decode (`Envelope.fromKafkaMessages`) and the carry-forward merge
    * law (`ChangeLog.latestStateCarryForward`), median of three, per 10k.
    */
  private def pipelineLayers(spark: SparkSession, cfg: Topology.Config): Map[String, Double] = {
    val wire = spark.read.parquet(cfg.feedDir).limit(10000).persist()
    val n = wire.count().toDouble
    def timed(df: => DataFrame): Double = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e6
    }) * 10000 / n
    val decode = timed(Envelope.fromKafkaMessages(wire).toDF())
    val env = Envelope.fromKafkaMessages(wire).toDF().filter(col("lsn").isNotNull)
      .select("key", "op", "lsn", "after", "unchangedCols").persist()
    env.count()
    val merge = timed(ChangeLog.latestStateCarryForward(env))
    env.unpersist(); wire.unpersist()
    Map("pipeline.decode_ms_per_10k" -> decode, "pipeline.merge_ms_per_10k" -> merge)
  }

  /** `scaling.backfill`: the same first deliveries into fresh sinks at
    * one core and at all cores; the ratio of the two consumer times.
    */
  private def scaling(spark: SparkSession, p: Prepared, a: Main.Args,
      trace: Trace): Map[String, Double] = {
    val feed = java.nio.file.Paths.get(p.cfg.feedDir)
    val n = math.min(ScalingDeliveries, p.staged.length)
    def timedAt(s: SparkSession, tag: String): Double = {
      val base = p.dir.resolve(s"scaling-$tag")
      val cfg = Feed.config(base)
      Files.createDirectories(java.nio.file.Paths.get(cfg.feedDir))
      (0 until n).map { d =>
        Files.copy(feed.resolve(deliveryName(d)),
          java.nio.file.Paths.get(cfg.feedDir).resolve(deliveryName(d)))
        val t0 = System.nanoTime()
        trace.span("Topology.run")(Topology.run(s, cfg))
        (System.nanoTime() - t0) / 1e9
      }.sum
    }
    val all = timedAt(spark, s"${Session.Cores}core")
    graft.CachePool.releaseAll()
    spark.stop()
    val one = Session.start(1, a.work)
    try {
      Feed.warmTopology(one, p.dir.resolve("warm1"), a.seed, trace)
      Map("scaling.backfill" -> timedAt(one, "1core") / all)
    } finally { graft.CachePool.releaseAll(); one.stop() }
  }
}
