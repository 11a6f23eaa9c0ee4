package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{CachePool, SparkEntry}

/** A synthetic corpus with the schemas of the library's test corpus
  * (TPC-H-like tables, `events`, `documents`, `embeddings`), generated
  * from hashes of row ids, so it is the same on every machine for a
  * given seed.
  */
object Corpus {
  /** Rows per table at scale factor 1. */
  private val base = Map("customer" -> 150000L, "supplier" -> 10000L,
    "part" -> 200000L, "orders" -> 1500000L, "events" -> 1000000L,
    "users" -> 15000L, "documents" -> 50000L, "embeddings" -> 50000L)

  private val words = Seq("a", "the", "key", "agg", "row", "scan", "slow", "fast",
    "table", "value", "part", "hash", "merge", "batch", "spark", "line", "sort",
    "window", "data", "column", "join", "small", "big", "customer", "query",
    "order", "stream", "filter", "group", "vector", "index", "page", "log",
    "cache", "shard", "node", "plan", "cost", "state", "change")

  def generate(spark: SparkSession, dir: Path, sf: Double, seed: Long): Unit = {
    def n(t: String) = math.max(1L, math.round(base(t) * sf))
    val id = col("id")
    def h(salt: Int, cols: Column*): Column = xxhash64((cols :+ lit(seed) :+ lit(salt)): _*)
    def pick(salt: Int, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), (pmod(h(salt, id), lit(xs.size.toLong)) + 1).cast("int"))
    def money(salt: Int, lo: Double, hi: Double): Column =
      round(lit(lo) + pmod(h(salt, id), lit(1000000L)) / 1000000.0 * (hi - lo), 2)
    def day(c: Column): Column = timestamp_seconds(c * 86400L)
    val day1995 = 9131L // 1995-01-01
    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.parquet(dir.resolve(s"$name.parquet").toString)

    write("region", spark.range(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (id + 1).cast("int")).as("r_name")))
    write("nation", spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"),
      (id % 5).cast("int").as("n_regionkey")))
    write("customer", spark.range(n("customer")).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      pmod(h(1, id), lit(25L)).cast("int").as("c_nationkey"),
      money(2, -999.99, 9999.99).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment")))
    write("supplier", spark.range(n("supplier")).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      pmod(h(4, id), lit(25L)).cast("int").as("s_nationkey"),
      money(5, -999.99, 9999.99).as("s_acctbal")))
    write("part", spark.range(n("part")).select(id.as("p_partkey"),
      concat_ws(" ", pick(6, Seq("small", "large", "red", "blue", "hot", "cold", "new", "old")),
        pick(7, Seq("bolt", "gear", "ring", "rod", "plate", "widget", "anvil", "gizmo")))
        .as("p_name"),
      concat(lit("Brand#"), (pmod(h(8, id), lit(25L)) + 1).cast("string")).as("p_brand"),
      pick(9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
      (pmod(h(10, id), lit(50L)) + 1).cast("int").as("p_size"),
      (lit(900.0) + pmod(id, lit(1000L)) / 10.0).as("p_retailprice")))
    val orders = spark.range(n("orders")).select(id.as("o_orderkey"),
      pmod(h(11, id), lit(n("customer"))).as("o_custkey"),
      pick(12, Seq("F", "O", "P")).as("o_orderstatus"),
      money(13, 1000.0, 500000.0).as("o_totalprice"),
      day(lit(day1995) + pmod(h(14, id), lit(2404L))).as("o_orderdate"),
      pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"))
    write("orders", orders)
    val lines = spark.range(n("orders"))
      .select(id.as("l_orderkey"),
        explode(sequence(lit(1), (pmod(h(16, id), lit(7L)) + 1).cast("int"))).as("l_linenumber"),
        (lit(day1995) + pmod(h(14, id), lit(2404L))).as("od"))
      .withColumn("id", col("l_orderkey") * 8 + col("l_linenumber"))
    write("lineitem", lines.select(col("l_orderkey"),
      pmod(h(17, id), lit(n("part"))).as("l_partkey"),
      pmod(h(18, id), lit(n("supplier"))).as("l_suppkey"),
      col("l_linenumber").cast("int").as("l_linenumber"),
      (pmod(h(19, id), lit(50L)) + 1).cast("double").as("l_quantity"),
      money(20, 900.0, 105000.0).as("l_extendedprice"),
      (pmod(h(21, id), lit(11L)) / 100.0).as("l_discount"),
      (pmod(h(22, id), lit(9L)) / 100.0).as("l_tax"),
      pick(23, Seq("A", "N", "R")).as("l_returnflag"),
      pick(24, Seq("F", "O")).as("l_linestatus"),
      day(col("od") + pmod(h(25, id), lit(121L)) + 1).as("l_shipdate")))
    write("events", Feed.events(spark, 0, n("events"), n("users"), seed,
      30L * 86400000L / n("events"), salt = 25))
    val vocab = array(words.map(lit): _*)
    write("documents", spark.range(n("documents"))
      .select(id.as("doc_id"),
        concat_ws(" ", transform(sequence(lit(1), (pmod(h(31, id), lit(80L)) + 10).cast("int")),
          j => element_at(vocab, (pmod(h(32, id, j), lit(words.size.toLong)) + 1).cast("int"))))
          .as("text"),
        pick(33, Seq("en", "en", "en", "fr", "de", "es", "zh")).as("lang"),
        concat(lit("src"), pmod(id, lit(20L)).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
    val label = pmod(h(34, id), lit(10L))
    write("embeddings", spark.range(n("embeddings"))
      .select(id.as("vec_id"), label.cast("int").as("label"))
      .select(col("vec_id"),
        transform(sequence(lit(0), lit(63)), j =>
          ((pmod(h(35, col("label"), j), lit(2001L)) - 1000) / 3333.0 +
            (pmod(h(36, col("vec_id"), j), lit(2001L)) - 1000) / 10000.0).cast("float"))
          .as("embedding"),
        col("label")))
  }
}

/** `query_suite`: one cold pass, one query at a time, over the first
  * [[Suite.PerFamily]] queries of each reporting family of
  * `SparkEntry.queries`, in the library bench's name order,
  * with `CachePool.releaseAll` at each reporting-family boundary.
  */
object Suite extends Workload {
  /** Corpus scale factor and seed: fixed, so recorded row counts apply. */
  val Scale = 0.01
  val CorpusSeed = 42L
  /** Queries timed per reporting family: the first (in name order) pays
    * the family's shared-relation builds, the second shows whether they
    * are reused. The whole set (376 queries, about 150 s at this scale
    * on 4 cores) does not fit a run.
    */
  val PerFamily = 2

  /** The library bench's reporting families. */
  val Families: Seq[String] = Seq("agg", "ann", "array", "asof", "basket", "cdc",
    "dedup", "events", "graph", "join", "layout", "multimodal", "profile", "q",
    "scalar", "search", "set", "sort", "sql", "text", "topk", "window")

  /** The library bench's family key: `q<digits>_*` collapse to "q". */
  def family(name: String): String = {
    val fam = name.takeWhile(_ != '_')
    if (fam.length > 1 && fam.head == 'q' && fam.tail.forall(_.isDigit)) "q" else fam
  }

  def subset(names: Seq[String]): Seq[String] =
    names.sorted.groupBy(family).values.flatMap(_.take(PerFamily)).toSeq.sorted

  final case class Prepared(dir: Path)

  /** A set-up takes about a second, so more of them fit in a run: the
    * median of seven is the middle of six warm set-ups, steadier than
    * the slower of two.
    */
  override val setupReps = 7

  def setup(spark: SparkSession, dir: Path, a: Main.Args, trace: Trace): Prepared = {
    trace.span("corpus")(Corpus.generate(spark, dir, Scale, CorpusSeed))
    Prepared(dir)
  }

  def measure(spark: SparkSession, p: Prepared, a: Main.Args, trace: Trace): Outcome = {
    val ls = if (a.trace) Some(new Listeners(spark)) else None
    val queries = SparkEntry.queries
    val names = subset(queries.keys.toSeq)
    val expected: Map[String, Long] =
      if (!Files.exists(a.rows)) Map.empty
      else scala.io.Source.fromFile(a.rows.toFile).getLines()
        .map(_.split('\t')).collect { case Array(n, r) => n -> r.toLong }.toMap
    val failures = ArrayBuffer.empty[String]
    val times = ArrayBuffer.empty[(String, Double)]
    var rddsCached = 0L
    var storagePeak = 0.0
    val sc = spark.sparkContext
    var prev: String = null
    def boundary(): Unit = {
      rddsCached += sc.getPersistentRDDs.size
      trace.span("CachePool.releaseAll")(CachePool.releaseAll())
    }
    for (name <- names) {
      if (prev != null && family(name) != family(prev)) boundary()
      prev = name
      sc.setJobGroup(name, name)
      val t0 = System.nanoTime()
      val n = try trace.span(s"SparkEntry.queries:$name")(queries(name)(spark, p.dir.toString).count())
      catch { case e: Throwable => failures += s"$name threw $e"; -1L }
      times += name -> (System.nanoTime() - t0) / 1e9
      sc.clearJobGroup()
      if (n >= 0) expected.get(name) match {
        case Some(r) if r != n => failures += s"$name returned $n rows, $r recorded"
        case None => failures += s"$name has no recorded row count"
        case _ => ()
      }
      if (a.trace) storagePeak = math.max(storagePeak,
        sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0)
    }
    boundary()
    expected.keys.filterNot(names.contains).foreach(q =>
      failures += s"$q has a recorded row count but is not in the query set")

    val total = times.map(_._2).sum
    val ms = times.map(_._2 * 1000).toSeq
    val layers = ls.map(l => queryLayers(l, times.toSeq, rddsCached, storagePeak) ++
      scaling(spark, p, a, times.toSeq, trace)).getOrElse(Map.empty)
    Outcome(
      values = layers ++ Map(
        "throughput_per_s" -> names.size / total,
        "latency_p50_ms" -> Stats.quantile(ms, 0.5),
        "latency.p90_ms" -> Stats.quantile(ms, 0.9)),
      attempted = names.size.toLong,
      failures = failures.toSeq,
      notes = Seq(f"query_suite: ${names.size} of ${queries.size} queries, " +
        f"corpus scale $Scale, total $total%.3f s"))
  }

  private def queryLayers(l: Listeners, times: Seq[(String, Double)],
      rddsCached: Long, storagePeak: Double): Map[String, Double] = {
    l.drain()
    val accs = times.map { case (q, t) => (q, t, l.tasks.get(l.tasks.groupKey(q))) }
    def sum(f: l.tasks.Acc => Long) = accs.flatMap(_._3).map(f).sum.toDouble
    val noTask = accs.map { case (_, t, acc) =>
      math.max(0.0, t * 1000 - acc.map(a => Intervals.union(a.intervals.toSeq).toDouble).getOrElse(0.0))
    }.sum
    val fams = accs.groupBy(x => family(x._1)).toSeq.flatMap { case (f, xs) =>
      Seq(s"family.$f.s" -> xs.map(_._2).sum,
        s"family.$f.tasks" -> xs.flatMap(_._3).map(_.tasks).sum.toDouble,
        s"family.$f.shuffle_bytes" -> xs.flatMap(_._3).map(_.shuffleWrite).sum.toDouble)
    }
    Map(
      "query.jobs" -> sum(_.jobs),
      "query.tasks" -> sum(_.tasks),
      "query.task_ms" -> sum(_.taskMs),
      "query.no_task_ms" -> noTask,
      "sources.scan_bytes" -> l.scanBytes().toDouble,
      "sources.parquet_scans" -> l.scans.parquetScans.toDouble,
      "cachepool.inmem_scans" -> l.scans.inMemoryScans.toDouble,
      "cachepool.rdds_cached" -> rddsCached.toDouble,
      "cachepool.storage_peak_mb" -> storagePeak,
      "exchange.shuffle_bytes" -> sum(_.shuffleWrite),
      "exchange.spill_bytes" -> sum(_.spill)) ++ fams
  }

  /** `scaling.join` / `scaling.dedup`: the pass's join and dedup
    * queries again, cold, on a one-core session; the ratio of the two
    * family times.
    */
  private def scaling(spark: SparkSession, p: Prepared, a: Main.Args,
      times: Seq[(String, Double)], trace: Trace): Map[String, Double] = {
    val fams = Seq("join", "dedup")
    CachePool.releaseAll()
    spark.stop()
    val one = Session.start(1, a.work)
    try {
      Session.warmUp(one)
      fams.map { f =>
        val qs = times.filter(x => family(x._1) == f)
        CachePool.releaseAll()
        val t1 = qs.map { case (q, _) =>
          val t0 = System.nanoTime()
          trace.span(s"SparkEntry.queries:$q")(SparkEntry.queries(q)(one, p.dir.toString).count())
          (System.nanoTime() - t0) / 1e9
        }.sum
        s"scaling.$f" -> t1 / qs.map(_._2).sum
      }.toMap
    } finally { CachePool.releaseAll(); one.stop() }
  }
}
