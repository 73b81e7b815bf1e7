package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.scheduler.SparkListener
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.codec.{Hex, SnapshotGen, SnapshotIndexer}
import graft.sources.{UtxoConvert, UtxoInputPartition}
import graft.tools.{Calibration, FooterSort, LargeQueryBench, LayoutReport}

/** The JVM half of the benchmark (see perfbench/README.md). Runs one
  * workload in one local Spark session, checks every operation's
  * output, and writes `result.json` (metrics + metadata) and, for a
  * traced run, `trace.json` into the work directory.
  *
  * Usage: PerfBench --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --coins N [--tables DIR]
  */
object PerfBench {
  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: File, coins: Int, tables: String) {
    def path(name: String): String = new File(work, name).getAbsolutePath
  }

  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    Conf(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      new File(need("work")).getAbsoluteFile, m.getOrElse("coins", "0").toInt,
      m.getOrElse("tables", ""))
  }

  def cpus: Int = Runtime.getRuntime.availableProcessors

  def session(conf: Conf): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${conf.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", conf.path("spark-local"))
      .config("spark.sql.warehouse.dir", conf.path("warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val conf = parse(args)
    val calBefore = calibrate()
    val spark = session(conf)
    val run = new Run(spark, conf)
    try run.ops.run(conf.workload)(run.workload())
    finally spark.stop()
    run.finish(calBefore, calibrate())
    sys.exit(if (run.ops.failed == 0) 0 else 1)
  }

  /** One single-thread CPU probe: the cpu half of the host-weather
    * anchor (the tmpfs half writes outside the work directory).
    */
  def calibrate(): (Double, Double, Long) = {
    val (sec, sum) = Calibration.cpuOnce()
    (sec, Double.NaN, sum)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Nearest-rank quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(q * s.size).toInt - 1))
  }

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def deleteDir(path: String): Unit = org.apache.commons.io.FileUtils.deleteQuietly(new File(path))

  /** Flushes dirty pages, so an operation's timing does not pay for the
    * write-back of the one before it.
    */
  def syncFs(): Unit = Checks.check(new ProcessBuilder("sync").start().waitFor() == 0, "sync failed")
}

/** The registry entries the `queries` workload times, each with the
  * module that implements it: a subset of the headline list
  * `graft.Bench` runs, chosen so that three passes fit the run budget
  * while every module is covered, with `s_eventlog_tumbling` (the one
  * multi-batch stream) included. One pass over the whole list is one
  * timed operation, so every entry weighs on `op_p50_ms`.
  */
object Entries {
  val list: Seq[(String, String)] = Seq(
    "q0_flagship" -> "rel", "q_explode" -> "scalar", "q_variant" -> "scalar",
    "x_minhash_lsh" -> "llm", "s_eventlog_tumbling" -> "streaming")
  val modules: Seq[String] = Seq("rel", "llm", "scalar", "streaming")
}

/** Lookup key classes and their shares of the key list. Sorted by
  * latency the classes fall absent < unique < hot, so the class
  * boundaries sit at the 30th and 80th percentiles: p50 lies inside the
  * unique class and p90 inside the hot class, 10 points from either
  * boundary.
  */
object KeyMix {
  val shares: Seq[(String, Int)] = Seq("absent" -> 12, "unique" -> 20, "hot" -> 8)
  val cycle: Int = shares.map(_._2).sum
  /** Coins on the hot address: the README dust-address shape (4,407 of
    * 177.5M coins) scaled to the benchmark snapshot.
    */
  val hotCoins = 250
}

final class Run(spark: SparkSession, conf: PerfBench.Conf) {
  import PerfBench._
  import Checks.check

  val ops = new Ops
  val tracer = new Tracer
  /** Walls of the untraced timed operations: `op_p50_ms` is their median. */
  val opMs = mutable.ArrayBuffer.empty[Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val meta = mutable.LinkedHashMap.empty[String, String]
  /** The workload's own end-to-end figures (value, unit), reported in the
    * run metadata.
    */
  val figures = mutable.LinkedHashMap.empty[String, (Double, String)]
  var setupEndMs = 0L
  private val hconf = spark.sparkContext.hadoopConfiguration

  def workload(): Unit = conf.workload match {
    case "convert_plain" => convertWorkload(range = false)
    case "convert_clustered" => convertWorkload(range = true)
    case "lookup" => lookupWorkload()
    case "queries" => queriesWorkload()
    case w => sys.error(s"unknown workload $w")
  }

  private val setupMs = mutable.LinkedHashMap.empty[String, Double]

  /** A setup or warmup operation, timed for the run metadata. */
  private def stage[T](what: String)(f: => T): Option[T] = {
    val (r, ms) = time(ops.run(what)(f))
    setupMs(what) = ms
    r
  }

  /** Ends set-up; false when a setup or warmup operation failed, which
    * fails the run before any timing.
    */
  private def endSetup(): Boolean = {
    syncFs()
    meta("setup_ms") = setupMs.map { case (k, v) => s"${Json.str(k)}:${v.round}" }.mkString("{", ",", "}")
    setupEndMs = System.currentTimeMillis()
    ops.failed == 0
  }

  /** Runs `body` until `seconds` have passed and at least `minOps` ran,
    * and then until the op count is a multiple of `multiple`.
    */
  private def loop(seconds: Double, minOps: Int, multiple: Int = 1)(body: Int => Unit): Int = {
    val t0 = System.nanoTime()
    var n = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds || n < minOps || n % multiple != 0) {
      body(n)
      n += 1
    }
    n
  }

  /** The timed loop. An untraced run times `untraced` operations only. A
    * traced run makes pairs of one untraced and one traced operation on
    * the same input, the traced one second in even pairs and first in
    * odd ones, over an even number of pairs: both kinds then see the same
    * JVM warmth and host drift. `op_p50_ms` comes from the untraced
    * operations either way; `trace.op_p50_delta_ms`, the tracing
    * overhead, is the traced median minus the untraced median.
    */
  private def timed(minOps: Int, multiple: Int = 1)(untraced: Int => Option[Double])(
      traced: Int => Option[Double]): Unit =
    if (!conf.trace) loop(conf.seconds, minOps, multiple)(i => untraced(i).foreach(opMs += _))
    else {
      val tracedMs = mutable.ArrayBuffer.empty[Double]
      def u(j: Int): Unit = untraced(j).foreach(opMs += _)
      def t(j: Int): Unit = traced(j).foreach(tracedMs += _)
      loop(conf.seconds, minOps, if (multiple % 2 == 0) multiple else 2 * multiple) { j =>
        if (j % 2 == 0) { u(j); t(j) } else { t(j); u(j) }
      }
      if (tracedMs.nonEmpty && opMs.nonEmpty)
        layer("trace.op_p50_delta_ms") = median(tracedMs.toSeq) - median(opMs.toSeq)
    }

  /** Runs `f` with the listeners attached, draining the listener bus
    * before and after, so they see the events of `f` and no others.
    */
  private def listening[T](sl: Seq[SparkListener], ql: Seq[QueryExecutionListener] = Nil,
      st: Seq[StreamingQueryListener] = Nil)(f: => T): T = {
    val sc = spark.sparkContext
    org.apache.spark.PerfbenchBus.drain(sc)
    sl.foreach(sc.addSparkListener)
    ql.foreach(spark.listenerManager.register)
    st.foreach(spark.streams.addListener)
    try f
    finally {
      org.apache.spark.PerfbenchBus.drain(sc)
      sl.foreach(sc.removeSparkListener)
      ql.foreach(spark.listenerManager.unregister)
      st.foreach(spark.streams.removeListener)
    }
  }

  /** Per-op medians of the listener counters. */
  private def stageLayers(counts: Seq[Map[String, Long]]): Unit = {
    def med(k: String): Double = if (counts.isEmpty) 0.0 else median(counts.map(_(k).toDouble))
    layer("exec.task_run_ms") = med("task_run_ms")
    layer("exec.task_cpu_ms") = med("task_cpu_ms")
    layer("jvm.gc_ms") = med("gc_ms")
    layer("exchange.shuffle_write_bytes") = med("shuffle_write_bytes")
    layer("exchange.fetch_wait_ms") = med("fetch_wait_ms")
    layer("sort.spill_bytes") = med("spill_bytes")
  }

  // ---------------------------------------------------------------- convert

  private def stageSnapshot(name: String, coins: Int, hotEvery: Int = 0): String = {
    val snap = conf.path(name)
    val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(snap), 1 << 20)
    try SnapshotGen.writeSynthetic(out, coins, conf.seed,
      hotEvery = hotEvery, hotScript = if (hotEvery > 0) LargeQueryBench.HotScript else null)
    finally out.close()
    snap
  }

  /** Makes the next scan of `snap` index-cold: the sidecar goes and the
    * mtime moves, so neither the sidecar nor the JVM memo (keyed by
    * path, length and mtime) can serve it.
    */
  private def invalidateIndex(snap: String): Unit = {
    val f = new File(snap)
    Seq(new File(snap + SnapshotIndexer.SidecarSuffix),
      new File(f.getParentFile, "." + f.getName + SnapshotIndexer.SidecarSuffix + ".crc"))
      .foreach(_.delete())
    check(f.setLastModified(f.lastModified + 1000), s"cannot touch $snap")
  }

  private def indexPasses: Long = SnapshotIndexer.uncachedPasses.get

  /** One index-cold convert with the CLI's defaults (`partitions = 0`,
    * so clustered buckets are sized by `clusterRowsPerBucket`), checked.
    * Returns the wall in ms and the output layout. Traced converts pass
    * their listeners and span in `around`.
    */
  private def convertOnce(snap: String, out: String, range: Boolean, expected: Long,
      around: (=> UtxoConvert.ConvertStats) => UtxoConvert.ConvertStats = f => f): (Double, Layout) = {
    invalidateIndex(snap)
    deleteDir(out)
    syncFs()
    val passes0 = indexPasses
    val (stats, ms) = time(around(UtxoConvert.convert(spark, snap, out, rangePartition = range)))
    val passes = indexPasses - passes0
    check(passes == 1, s"convert ran $passes index passes, want exactly 1")
    (ms, ConvertCheck(out, expected, stats.rows))
  }

  private val WarmupConverts = 8

  private def convertWorkload(range: Boolean): Unit = {
    val snap = stage("stage snapshot")(stageSnapshot("snapshot.bin", conf.coins)).getOrElse(return)
    val expected = SnapshotIndexer.readHeaderOnly(snap, hconf).numUtxos
    val out = conf.path("out")
    // the JIT keeps speeding converts up for ~15 full-size runs; a tenth-
    // size snapshot converts ~8x faster on the same code paths, so the
    // warmup repeats it, then runs one full-size convert
    stage("warmup convert") {
      val warm = stageSnapshot("warmup.bin", conf.coins / 10)
      val warmRows = SnapshotIndexer.readHeaderOnly(warm, hconf).numUtxos
      (1 to WarmupConverts).foreach(_ => convertOnce(warm, out, range, warmRows))
      convertOnce(snap, out, range, expected)
    }
    if (!endSetup()) return
    var layout: Layout = null
    val traced = new ConvertTrace(snap, out, range, expected)
    timed(minOps = 3)(i => ops.run(s"convert #$i")(convertOnce(snap, out, range, expected)).map {
      case (ms, l) => layout = l; ms
    })(i => ops.run(s"traced convert #$i")(traced.op(i)))
    if (layout != null) {
      figures("convert_rows_per_s") = (expected / (median(opMs.toSeq) / 1e3), "rows/s")
      figures("output_bytes_per_row") = (layout.bytes.toDouble / expected, "B/row")
      meta("coins") = expected.toString
    }
    if (conf.trace) traced.report()
  }

  /** Traced converts. Each op runs one index-cold convert with listeners
    * attached, then the layer calls that convert made, timed one by one
    * on its own split plan: the decode of the convert's splits (index
    * warm), the sampled bounds for its bucket count, a cold index pass
    * and the footer re-stamp. The write-path share is the remainder, so
    * the split adds up to the convert wall by construction.
    */
  private final class ConvertTrace(snap: String, out: String, range: Boolean, expected: Long) {
    val counts = mutable.ArrayBuffer.empty[Map[String, Long]]
    val passes = mutable.ArrayBuffer.empty[Long]
    var layout: Layout = null

    def op(i: Int): Double = {
      val stages = new StageCounters
      val shapes = new PlanShapes
      val cold = indexPasses
      val (ms, l) = convertOnce(snap, out, range, expected,
        f => listening(Seq(stages), Seq(shapes))(tracer.span("sources.convert", i)(f)))
      layout = l
      passes += indexPasses - cold
      counts += stages.snapshot()
      check(shapes.scans.size == 1, s"convert ran ${shapes.scans.size} utxo scans, want 1")
      val splits = shapes.scans.head
      // the decode pass must read the convert's own splits, so it plans
      // with the convert's memoized index and a split size that merges
      // that index's splits exactly as the convert's did
      val warm = indexPasses
      val decoded = new PlanShapes
      listening(Nil, Seq(decoded))(tracer.span("codec.decode", i)(
        spark.read.format("utxo").option("coinsPerSplit", coinsPerSplit(splits).toString).load(snap)
          .write.format("noop").mode("overwrite").save()))
      check(decoded.scans.toSeq == Seq(splits),
        s"decode pass planned ${decoded.scans.map(_.size)} splits, the convert ${splits.size}")
      if (range) {
        check(shapes.buckets.size == 1, s"clustered convert ran ${shapes.buckets.size} exchanges, want 1")
        tracer.span("sources.sample_bounds", i)(UtxoConvert.sampleScriptBounds(snap, shapes.buckets.head))
      }
      check(indexPasses == warm, "the decode or sampling pass indexed the snapshot again")
      // the skip-parse walk reads every coin whatever the split size
      invalidateIndex(snap)
      tracer.span("codec.index", i)(SnapshotIndexer.indexAll(Seq(snap), coinsPerSplit(splits), hconf))
      check(indexPasses - warm == 1, "cold index did not index")
      val crc0 = ConvertCheck.parquetFiles(out).map(f => org.apache.commons.io.FileUtils.checksumCRC32(f))
      tracer.span("tools.footer_stamp", i)(
        FooterSort.stamp(out, Seq("script"), unsigned = ConvertCheck.Unsigned))
      val crc1 = ConvertCheck.parquetFiles(out).map(f => org.apache.commons.io.FileUtils.checksumCRC32(f))
      check(crc0 == crc1, "re-stamping changed the output bytes")
      ms
    }

    /** The smallest split size that keeps every split of `splits`: each
      * split but a file's last holds at least the convert's split size,
      * and none of its prefixes does, so any size from the convert's up
      * to the smallest such split cuts at the same places.
      */
    private def coinsPerSplit(splits: Seq[UtxoInputPartition]): Long = {
      val full = splits.groupBy(_.file).values.flatMap(_.sortBy(_.offset).init.map(_.nCoins))
      if (full.nonEmpty) full.min else splits.map(_.nCoins).max
    }

    def report(): Unit = {
      def med(name: String): Double = if (tracer.seconds(name).isEmpty) 0.0 else median(tracer.seconds(name))
      val parts = Seq("codec.index", "codec.decode", "sources.sample_bounds", "tools.footer_stamp")
      layer("codec.index_s") = med("codec.index")
      layer("codec.index_passes") = if (passes.isEmpty) 0 else median(passes.map(_.toDouble).toSeq)
      layer("codec.decode_s") = med("codec.decode")
      layer("codec.decode_rows_per_s") = if (med("codec.decode") > 0) expected / med("codec.decode") else 0
      layer("sources.convert_s") = med("sources.convert")
      layer("sources.sample_bounds_s") = med("sources.sample_bounds")
      layer("tools.footer_stamp_s") = med("tools.footer_stamp")
      layer("sources.write_s") = med("sources.convert") - parts.map(med).sum
      stageLayers(counts.toSeq)
      if (layout != null) {
        layer("write.output_files") = layout.files
        layer("write.row_groups") = layout.rowGroups
        layer("write.output_bytes") = layout.bytes.toDouble
      }
    }
  }

  // ---------------------------------------------------------------- lookup

  private def lookupDf(out: String, key: Array[Byte]): DataFrame =
    spark.read.parquet(out)
      .filter(col("script") === lit(key))
      .select("txid", "vout", "amount", "height")
      .orderBy("height")

  /** One README-shape lookup, its row count checked against setup's.
    * Traced lookups pass their listeners in `around`.
    */
  private def lookupOnce(out: String, key: Array[Byte], expected: Long,
      around: (=> (DataFrame, Array[Row])) => (DataFrame, Array[Row]) = f => f): (Double, DataFrame, Int) = {
    val (res, ms) = time(around {
      val df = lookupDf(out, key)
      (df, df.collect())
    })
    val (df, rows) = res
    check(rows.length == expected, s"lookup ${Hex.encode(key)} returned ${rows.length} rows, want $expected")
    val heights = rows.map(r => r.getAs[java.math.BigDecimal]("height").longValue)
    check(heights.sameElements(heights.sorted), "lookup rows are not ordered by height")
    (ms, df, rows.length)
  }

  /** The seeded key list: one cycle of [[KeyMix.cycle]] lookups in the
    * [[KeyMix.shares]] proportions, shuffled, with every key's row
    * count computed once here.
    */
  private def lookupKeys(out: String, hotEvery: Int): (Seq[(String, Array[Byte])], Map[String, Long]) = {
    val parq = spark.read.parquet(out).select("script")
    val need = KeyMix.shares.toMap
    val hot = LargeQueryBench.HotScript
    // present scripts in a seeded order; the first half serves as
    // unique keys, the second half as templates for absent keys
    val present = parq.groupBy("script").count().filter(col("count") === 1)
      .orderBy(xxhash64(col("script"), lit(conf.seed)))
      .limit(need("unique") + 2 * need("absent")).collect().map(_.getAs[Array[Byte]]("script"))
    val unique = present.take(need("unique"))
    // flip the last byte: same prefix, so the key lies inside every
    // plain file's min/max span; present ones are dropped below
    val candidates = present.drop(need("unique")).map { s =>
      val c = s.clone(); c(c.length - 1) = (c(c.length - 1) ^ 0x5a).toByte; c
    }
    import spark.implicits._
    val all = (unique ++ candidates :+ hot).toSeq
    val counts = parq.join(broadcast(all.toDF("script")), "script").groupBy("script").count()
      .collect().map(r => Hex.encode(r.getAs[Array[Byte]]("script")) -> r.getLong(1)).toMap
    def n(k: Array[Byte]): Long = counts.getOrElse(Hex.encode(k), 0L)
    val absent = candidates.filter(n(_) == 0).take(need("absent"))
    check(unique.length == need("unique") && absent.length == need("absent"),
      s"key selection found ${unique.length} unique and ${absent.length} absent keys")
    check(unique.forall(n(_) == 1), "a unique key does not hold exactly one coin")
    check(n(hot) == conf.coins / hotEvery, s"hot address holds ${n(hot)} coins, want ${conf.coins / hotEvery}")
    val keys = absent.map("absent" -> _) ++ unique.map("unique" -> _) ++ Seq.fill(need("hot"))("hot" -> hot)
    val shuffled = new scala.util.Random(conf.seed).shuffle(keys.toSeq)
    (shuffled, (unique ++ absent :+ hot).map(k => Hex.encode(k) -> n(k)).toMap)
  }

  private def lookupWorkload(): Unit = {
    val hotEvery = math.max(1, conf.coins / KeyMix.hotCoins)
    val snap = stage("stage snapshot")(stageSnapshot("snapshot.bin", conf.coins, hotEvery)).getOrElse(return)
    val expectedCoins = SnapshotIndexer.readHeaderOnly(snap, hconf).numUtxos
    val out = conf.path("out")
    val layout = stage("stage layout")(convertOnce(snap, out, range = false, expectedCoins)._2)
      .getOrElse(return)
    val (keys, counts) = stage("select keys")(lookupKeys(out, hotEvery)).getOrElse(return)
    def key(i: Int) = keys(i % keys.size)._2
    def expected(i: Int) = counts(Hex.encode(key(i)))
    stage("warmup lookups")((0 until KeyMix.cycle).foreach(i => lookupOnce(out, key(i), expected(i))))
    if (!endSetup()) return
    val byClass = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val traced = new LookupTrace(out, counts, layout)
    timed(minOps = KeyMix.cycle, multiple = KeyMix.cycle)(i =>
      ops.run(s"lookup #$i")(lookupOnce(out, key(i), expected(i))._1).map { ms =>
        byClass.getOrElseUpdate(keys(i % keys.size)._1, mutable.ArrayBuffer.empty) += ms
        ms
      })(i => ops.run(s"traced lookup #$i")(traced.op(i, key(i))))
    meta("class_p50_ms") = byClass.map { case (c, ms) => s""""$c":${median(ms.toSeq).round}""" }
      .mkString("{", ",", "}")
    meta("lookup_keys") = KeyMix.shares.map { case (c, n) => s""""$c":${n.toDouble / KeyMix.cycle}""" }
      .mkString("{", ",", "}")
    meta("hot_coins") = counts(Hex.encode(LargeQueryBench.HotScript)).toString
    figures("output_bytes_per_row") = (layout.bytes.toDouble / expectedCoins, "B/row")
    if (opMs.nonEmpty) {
      figures("lookup_p50_ms") = (median(opMs.toSeq), "ms")
      figures("lookup_p90_ms") = (quantile(opMs.toSeq, 0.9), "ms")
    }
    if (conf.trace) traced.report()
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** Traced lookups: the same lookup with a task listener attached, its
    * planning phases and scan metrics read from its query execution.
    */
  private final class LookupTrace(out: String, counts: Map[String, Long], layout: Layout) {
    private lazy val candidates = counts.keys.map(h => h -> LayoutReport.statsMatch(out, "script", h)).toMap
    var (n, planMs, execMs, files, rowsRead, rowsOut, bytes, cands) = (0, 0.0, 0.0, 0L, 0L, 0L, 0L, 0L)
    val stageCounts = mutable.ArrayBuffer.empty[Map[String, Long]]

    def op(i: Int, key: Array[Byte]): Double = {
      val hex = Hex.encode(key)
      val c = candidates(hex)._2
      val stages = new StageCounters
      val (ms, df, nOut) = lookupOnce(out, key, counts(hex),
        f => listening(Seq(stages))(tracer.span("lookup", i)(f)))
      val plan = df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble
      val scans = Plans.collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
      def metric(name: String): Long = scans.flatMap(_.metrics.get(name)).map(_.value).sum
      val counted = stages.snapshot()
      n += 1
      planMs += plan
      execMs += ms - plan
      files += metric("numFiles")
      rowsRead += metric("numOutputRows")
      rowsOut += nOut
      stageCounts += counted
      bytes += counted("input_bytes")
      cands += c
      ms
    }

    def report(): Unit = if (n > 0) {
      layer("plan.ms_per_lookup") = planMs / n
      layer("exec.ms_per_lookup") = execMs / n
      layer("scan.files_read_per_lookup") = files.toDouble / n
      layer("scan.bytes_read_per_lookup") = bytes.toDouble / n
      layer("scan.rows_read_per_lookup") = rowsRead.toDouble / n
      layer("scan.rowgroups_total") = layout.rowGroups
      layer("scan.rowgroups_candidate_per_lookup") = cands.toDouble / n
      layer("scan.useful_row_ratio") = if (rowsRead > 0) rowsOut.toDouble / rowsRead else 0.0
      stageLayers(stageCounts.toSeq)
      layer("write.output_files") = layout.files
      layer("write.row_groups") = layout.rowGroups
      layer("write.output_bytes") = layout.bytes.toDouble
    }
  }

  // ---------------------------------------------------------------- queries

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One pass over [[Entries.list]] through the `noop` sink: one timed
    * operation. Returns its wall in ms; `entry` wraps each entry's run.
    */
  private def pass(dir: String, entry: ((String, String), => Unit) => Unit): Double =
    time(Entries.list.foreach { case e @ (name, _) =>
      try entry(e, noop(SparkEntry.queries(name)(spark, dir)))
      catch { case t: Throwable => throw new RuntimeException(s"$name: $t", t) }
    })._2

  private def queriesWorkload(): Unit = {
    val dir = conf.tables
    val missing = Entries.list.map(_._1).filterNot(SparkEntry.queries.contains)
    stage("entry list")(check(missing.isEmpty, s"entries missing from SparkEntry.queries: $missing"))
    if (missing.nonEmpty) return
    // every entry runs once and its output is checked; the first pass
    // after that is still slower than later ones (JIT), so one more pass
    // warms up before timing
    setupMs("warmup and check") = time(checkQueries(dir))._2
    stage("warmup pass")(pass(dir, (_, run) => run))
    if (!endSetup()) return
    val entryMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val traced = new QueriesTrace(dir)
    // at least three passes (~5 s each), so one slow pass does not set
    // op_p50_ms. A traced run pairs every untraced pass with a traced
    // one, and stops at two pairs to stay within the run's time limit.
    timed(minOps = if (conf.trace) 2 else 3)(
      p => ops.run(s"pass #$p")(pass(dir, (e, run) =>
        entryMs.getOrElseUpdate(e._1, mutable.ArrayBuffer.empty) += time(run)._2)))(
      p => ops.run(s"traced pass #$p")(traced.op(p)))
    if (opMs.nonEmpty) figures("query_total_s") = (median(opMs.toSeq) / 1e3, "s")
    meta("entry_p50_ms") = entryMs.map { case (k, v) => s"${Json.str(k)}:${median(v.toSeq).round}" }
      .mkString("{", ",", "}")
    if (conf.trace) traced.report()
  }

  /** Traced passes: every entry's wall as a span named by its module,
    * with task, planning and micro-batch listeners attached.
    */
  private final class QueriesTrace(dir: String) {
    final case class Counted(stages: Map[String, Long], planMs: Long, triggerMs: Seq[Long],
        addBatchMs: Long, commitMs: Long, moduleS: Map[String, Double])
    val passes = mutable.ArrayBuffer.empty[Counted]

    def op(p: Int): Double = {
      val (stages, plans, streams) = (new StageCounters, new PlanCounter, new StreamCounters)
      val spans0 = tracer.spans.size
      val ms = listening(Seq(stages), Seq(plans), Seq(streams))(
        pass(dir, (e, run) => tracer.span(s"queries.${e._2}", p)(run)))
      val spans = tracer.spans.drop(spans0)
      passes += Counted(stages.snapshot(), plans.planMs.get, streams.triggerMs.toSeq,
        streams.addBatchMs.get, streams.commitMs.get,
        Entries.modules.map(m => m -> spans.filter(_.name == s"queries.$m").map(_.durNs / 1e9).sum).toMap)
      ms
    }

    def report(): Unit = if (passes.nonEmpty) {
      def med(f: Counted => Double): Double = median(passes.map(f).toSeq)
      Entries.modules.foreach { m =>
        layer(if (m == "streaming") "streaming.s" else s"queries.${m}_s") = med(_.moduleS(m))
      }
      layer("queries.plan_ms") = med(_.planMs.toDouble)
      layer("streaming.batches") = med(_.triggerMs.size.toDouble)
      val triggers = passes.flatMap(_.triggerMs).map(_.toDouble).toSeq
      layer("streaming.batch_p50_ms") = if (triggers.isEmpty) 0.0 else median(triggers)
      layer("streaming.add_batch_ms") = med(_.addBatchMs.toDouble)
      layer("streaming.commit_ms") = med(_.commitMs.toDouble)
      stageLayers(passes.map(_.stages).toSeq)
    }
  }

  /** Once per run, before the timed passes: entries with a DuckDB
    * oracle write their result for `scripts/check_oracle.py`, which
    * run.py calls; the others must return rows.
    */
  private def checkQueries(dir: String): Unit = {
    graft.queries.Queries.oracleSfDir = dir
    val names = Entries.list.map(_._1)
    val oracle = graft.queries.Queries.oracleFor(Some(names.toSet))
    val outDir = conf.path("check")
    deleteDir(outDir)
    names.foreach { name =>
      stage(s"check $name") {
        val df = SparkEntry.queries(name)(spark, dir)
        if (oracle.contains(name)) df.coalesce(1).write.parquet(s"$outDir/$name")
        else check(df.limit(1).count() > 0, s"$name returned no rows")
      }
    }
    val json = oracle.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(new File(outDir, "oracle_sql.json").toPath, json)
  }

  // ---------------------------------------------------------------- output

  def finish(calBefore: (Double, Double, Long), calAfter: (Double, Double, Long)): Unit = {
    val rssMb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    if (opMs.nonEmpty) e2e("op_p50_ms") = median(opMs.toSeq)
    layer("jvm.peak_rss_mb") = rssMb
    figures("peak_rss_mb") = (rssMb, "MB")
    meta("ops_timed") = opMs.size.toString
    meta("op_ms") = opMs.map(_.round).mkString("[", ",", "]")
    meta("cpus") = cpus.toString
    meta("heap_max_mb") = (Runtime.getRuntime.maxMemory / (1 << 20)).toString
    meta("spark_driver_mem") = Json.str(sys.env.getOrElse("SPARK_DRIVER_MEM", ""))
    meta("seed") = conf.seed.toString
    meta("spark_version") = Json.str(spark.version)
    meta("figures") = figures.map { case (k, (v, u)) =>
      s"""${Json.str(k)}:{"value":$v,"unit":${Json.str(u)}}""" }.mkString("{", ",", "}")
    val cal = Calibration.json(calBefore, calAfter)
    val body = Seq(
      s""""attempted":${ops.attempted}""",
      s""""failed":${ops.failed}""",
      s""""errors":${ops.errors.map(Json.str).mkString("[", ",", "]")}""",
      s""""setup_end_ms":$setupEndMs""",
      s""""end_to_end":${Json.obj(e2e)}""",
      s""""per_layer":${Json.obj(layer)}""",
      s""""meta":{${(meta.map { case (k, v) => s"${Json.str(k)}:$v" } ++ Seq(cal)).mkString(",")}}""")
    Files.writeString(new File(conf.work, "result.json").toPath, body.mkString("{", ",", "}"), UTF_8)
    if (conf.trace) Files.writeString(new File(conf.work, "trace.json").toPath, tracer.json, UTF_8)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def obj(m: collection.Map[String, Double]): String =
    m.map { case (k, v) => s"${str(k)}:${if (v.isNaN || v.isInfinite) "null" else v.toString}" }
      .mkString("{", ",", "}")
}
