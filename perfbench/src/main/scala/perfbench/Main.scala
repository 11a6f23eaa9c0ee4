package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. One run = set up a workload several times (the
  * median set-up time is reported), measure it for `--seconds`, check
  * its outputs, and print one JSON result line last.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --out <dir> --rows <file>
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, out: Path, rows: Path)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    def req(k: String) = kv.getOrElse(k, sys.error(s"missing $k"))
    Args(req("--workload"), req("--seed").toLong, req("--seconds").toInt,
      req("--trace") == "1", Paths.get(req("--work")), Paths.get(req("--out")),
      Paths.get(req("--rows")))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl: Workload = a.workload match {
      case "cdc_backfill" => Backfill
      case "cdc_trickle"  => Trickle
      case "query_suite"  => Suite
      case other => sys.error(s"unknown workload $other")
    }
    val trace = new Trace(a.trace)
    Files.createDirectories(a.work)
    val setupTimes = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var prepared: wl.Prepared = null.asInstanceOf[wl.Prepared]
    for (i <- 0 until wl.setupReps) {
      if (spark != null) { graft.CachePool.releaseAll(); spark.stop() }
      if (i > 0) Files2.deleteTree(a.work.resolve(s"setup${i - 1}"))
      val dir = a.work.resolve(s"setup$i")
      val t0 = System.nanoTime()
      trace.span("setup") {
        spark = trace.span("session.start")(Session.start(Session.Cores, a.work))
        trace.span("warmup")(Session.warmUp(spark))
        prepared = wl.setup(spark, dir, a, trace)
      }
      setupTimes += (System.nanoTime() - t0) / 1e9
    }
    val out = wl.measure(spark, prepared, a, trace)
    graft.CachePool.releaseAll()
    spark.stop()

    val all = out.values ++ Map(
      "setup_s" -> Stats.median(setupTimes.toSeq),
      "rss_peak_mb" -> Session.rssPeakMb())
    val e2e = Report.endToEnd.map { case (n, _) => n -> all(n) }.toMap
    val layers = Report.perLayer.map { case (n, _) => n -> all.getOrElse(n, 0.0) }.toMap
    out.notes.foreach(n => println(s"[perfbench] $n"))
    out.failures.foreach(f => println(s"[perfbench] CHECK FAILED: $f"))
    Report.endToEnd.foreach { case (n, u) =>
      println(f"[perfbench] ${a.workload} $n%-18s ${e2e(n)}%14.3f $u") }
    println(s"[perfbench] set-up times (s): ${setupTimes.map(t => f"$t%.3f").mkString(" ")}")
    if (a.trace) {
      Files.createDirectories(a.out)
      val f = a.out.resolve(s"trace-${a.workload}-seed${a.seed}.json")
      Files.writeString(f, Report.traceJson(a, e2e, layers, trace))
      println(s"[perfbench] trace written to $f")
    }
    val metrics =
      if (a.trace) Report.perLayer.map { case (n, u) => (n, layers(n), u) }
      else Report.endToEnd.map { case (n, u) => (n, e2e(n), u) }
    val correct = out.failures.isEmpty
    val failed = out.failures.size.toLong
    println(Report.resultJson(correct, math.max(out.attempted, 1L), failed, metrics))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}

/** What one workload provides. `setup` runs [[setupReps]] times, each
  * on a fresh session; `measure` runs once on the last set-up.
  */
trait Workload {
  type Prepared
  /** Set-ups per run; `setup_s` is their median. The first, on a cold
    * JVM, is always the slowest, so the median of three is the slower of
    * two warm set-ups.
    */
  val setupReps: Int = 3
  def setup(spark: SparkSession, dir: Path, a: Main.Args, trace: Trace): Prepared
  def measure(spark: SparkSession, p: Prepared, a: Main.Args, trace: Trace): Outcome
}

/** Measured values by metric name (end-to-end and per-layer; a per-layer
  * name the workload leaves out reads 0). `attempted` counts the checked
  * operations; each `failures` entry is one failed check or operation.
  */
final case class Outcome(values: Map[String, Double], attempted: Long,
    failures: Seq[String], notes: Seq[String])

object Session {
  /** Cores of a measured session: all of the machine's. */
  val Cores: Int = Runtime.getRuntime.availableProcessors()

  def start(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Codegen, shuffle and parquet machinery, as the library's own bench
    * warms them before its clock starts.
    */
  def warmUp(spark: SparkSession): Unit = {
    spark.range(1 << 20).selectExpr("sum(id)", "count(distinct id % 7)").collect()
    ()
  }

  /** Peak resident set of this process (Linux `VmHWM`), in MB. */
  def rssPeakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }
}

object Stats {
  /** Linear-interpolation quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Files2 {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** (files, bytes) under a directory, checksum files excluded. */
  def usage(p: Path): (Long, Long) = {
    val l = listing(p)
    (l.size.toLong, l.values.sum)
  }

  /** Data files under a directory (checksum files excluded): relative
    * path → size.
    */
  def listing(p: Path): Map[String, Long] =
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try {
        val b = Map.newBuilder[String, Long]
        s.filter(f => Files.isRegularFile(f) && !f.getFileName.toString.endsWith(".crc"))
          .forEach(f => b += p.relativize(f).toString -> Files.size(f))
        b.result()
      } finally s.close()
    }
}
