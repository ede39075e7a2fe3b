package lakebench

import java.util.UUID

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.core.DqRule
import graft.dq.DqSuite
import graft.operators.Scd2
import graft.sources.{IO, VersionedTable}
import graft.streaming.Streaming

import Main.{median, secs, tail}

/** Shared bookkeeping of a workload's timed region. */
final class Run(ctx: Ctx) {
  val problems = mutable.ArrayBuffer[String]()
  private var gc0 = 0L
  private var gc1 = -1L
  private var jit = (0L, 0L)
  private var forcedGcMs = 0L
  private var t0 = 0L
  private var ticks0 = (0L, 0L)
  private var steal = 0.0

  /** Wall and CPU seconds of the set-up's engine work, each the median of
    * `Main.SetupRepeats` executions of `body` (which runs `timed` around
    * the engine calls of one set-up).
    */
  def setup(body: (Int, (=> Unit) => Unit) => Unit): (Double, Double) = {
    val walls = mutable.ArrayBuffer[Double]()
    val cpus = mutable.ArrayBuffer[Double]()
    (0 until Main.SetupRepeats).foreach { i =>
      var w = 0.0
      var c = 0.0
      body(i, work => {
        val t0 = System.nanoTime()
        val c0 = Main.cpuS()
        work
        w += secs(t0)
        c += Main.cpuS() - c0
      })
      walls += w
      cpus += c
    }
    (median(walls.toSeq), median(cpus.toSeq))
  }

  /** Collect the heap, so that garbage left by earlier work is not
    * collected on the account of the measured work that follows. The
    * collection's own time is kept out of `jvm.gc_s`.
    */
  def collect(): Unit = {
    val g = Main.gcMs()
    System.gc()
    forcedGcMs += Main.gcMs() - g
  }

  /** Start the measured region, from a collected heap. */
  def startTimed(): Unit = {
    System.gc()
    ctx.tr.phase = "timed"
    jit = (Main.jitMs(), 0L)
    gc0 = Main.gcMs()
    ticks0 = Main.hostTicks()
    t0 = System.nanoTime()
  }

  /** End of the measured work (the cycle, or the measured passes): later
    * cycles or passes and the traced run's probes are not part of the gated metrics,
    * `jvm.gc_s` or the steal share. Only the first call counts.
    */
  def endMeasured(): Unit = if (gc1 < 0) {
    gc1 = Main.gcMs()
    jit = (jit._1, Main.jitMs())
    val (all, st) = Main.hostTicks()
    steal = if (all == ticks0._1) 0.0 else (st - ticks0._2).toDouble / (all - ticks0._1)
    ctx.tr.phase = "extra"
  }

  def elapsed: Double = secs(t0)

  /** Layer metrics every workload reports, plus the workload's own. */
  def layers(own: => Map[String, Double]): Map[String, Double] =
    if (!ctx.tr.enabled) Map.empty
    else {
      ctx.tr.drain()
      Layers.zeros(ctx.tr) ++ own ++ Map(
        "jvm.gc_s" -> (gc1 - gc0 - forcedGcMs) / 1000.0,
        "trace.listener_s" -> ctx.tr.listenerSeconds)
    }

  /** The tail's percentile and sample count; the share of host CPU time
    * the hypervisor stole over the measured unit (0 on bare metal), as
    * context for noisy timings; and the JIT compiler's time in it, which
    * `work_cpu_s` includes.
    */
  def tailInfo(xs: Seq[Double]): Map[String, Any] = {
    val (_, pct, n) = tail(xs)
    Map("op_s_tail_percentile" -> pct, "op_samples" -> n, "host_steal_share" -> steal,
      "jit_s" -> (jit._2 - jit._1) / 1000.0)
  }
}

/** Outcome of the traced run's probes: operations, failed ones, problems. */
final case class Probe(attempted: Int, failed: Int, problems: Seq[String]) {
  def ++(o: Probe): Probe = Probe(attempted + o.attempted, failed + o.failed, problems ++ o.problems)
}

/** `etl_daily`: consecutive daily drops raw -> cleanse -> partition ->
  * transform (with the delta snapshot) -> SCD-2 load. Set-up is the
  * first day's bootstrap load into an empty warehouse; one untimed day
  * follows before the measured cycle. A traced run then probes the read
  * path on the finished warehouse ([[Serve]]) and the two micro-batch
  * streams ([[Streams]]).
  */
object Etl {
  /** New keys of a 1x day. Chosen from the traced split of a day's time:
    * from 1,000 to 4,000 the summed task time per 1x day grew from 2.3 s
    * to 5.1 s while driver time stayed near 2 s, so at 4,000 (about 9 MB
    * of raw JSON) the bytes-proportional task time outweighs the fixed
    * per-job cost.
    */
  val BaseDay = 4000
  /** Days generated: bootstrap, warm-up, and at most four cycles. */
  val MaxDays: Int = Gen.FirstCycleDay + 4 * Gen.Cycle.size

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val r = new Run(ctx)
    val days = new Gen.Days(ctx.seed, BaseDay, MaxDays, Main.FirstDate).days
    var root = ""
    var snap: Option[DataFrame] = None
    var rawBytes = 0L
    val (setupS, setupCpuS) = r.setup { (i, timed) =>
      root = s"${ctx.work}/etl/setup$i"
      Main.deleteTree(root)
      rawBytes = Gen.writeDay(Daily.rawDir(root, days(0)), days(0))
      timed { snap = Some(Daily.runDay(ctx, root, days(0), None)) }
    }
    val wh = s"$root/warehouse/tbl_line_item"
    val batch = mutable.ArrayBuffer[Double]()
    val cpu = mutable.ArrayBuffer[Double]()
    val extra = mutable.ArrayBuffer[Double]()
    val commits = mutable.ArrayBuffer[(Double, Double, Double)]()
    // one untimed day: the plans of a load into an existing warehouse with
    // a delta snapshot compile here, not in the timed region
    rawBytes += Gen.writeDay(Daily.rawDir(root, days(1)), days(1))
    snap = Some(Daily.runDay(ctx, root, days(1), snap))
    var records = 0L
    var timedRawBytes = 0L
    val cycleEnd = Gen.FirstCycleDay + Gen.Cycle.size
    var d = Gen.FirstCycleDay
    var broken = false
    r.startTimed()
    // exactly one cycle is measured, so every run carries the same load
    // whatever the seed and however fast the code is; further whole cycles
    // run only while `--seconds` has not passed, and are recorded apart
    while (!broken && d < MaxDays &&
        (d < cycleEnd || r.elapsed < ctx.seconds || (d - Gen.FirstCycleDay) % Gen.Cycle.size != 0)) {
      if (d == cycleEnd) r.endMeasured()
      val day = days(d)
      val b = Gen.writeDay(Daily.rawDir(root, day), day)
      rawBytes += b
      val t0 = System.nanoTime()
      val c0 = Main.cpuS()
      try {
        snap = Some(Daily.runDay(ctx, root, day, snap))
        if (d < cycleEnd) {
          batch += secs(t0)
          cpu += Main.cpuS() - c0
          records += day.records.size
          timedRawBytes += b
          if (ctx.tr.enabled) commits += Main.lastCommit(spark, wh)
        } else extra += secs(t0)
      } catch {
        case e: Exception =>
          r.problems += s"day ${day.index}: ${e.getMessage}"
          broken = true
      }
      d += 1
    }
    r.endMeasured()
    val loaded = days.take(d)
    val problems = if (broken) Nil
      else Daily.checkWarehouse(spark, wh, Gen.truth(loaded), i => days(i).nowLiteral, checkDelta = true)
    r.problems ++= problems
    val nDays = batch.size + extra.size
    val failed = if (broken) nDays + 1 else if (problems.nonEmpty) nDays else 0
    val live = if (broken) 0L else Main.liveBytes(spark, wh)
    var probe = Probe(0, 0, Nil)
    var queries: (Option[UUID], Option[UUID]) = (None, None)
    if (ctx.tr.enabled && !broken) {
      ctx.tr.phase = "probe"
      val (st, sink, validated) = Streams.probe(ctx)
      probe = Serve.probe(ctx, wh, loaded) ++ st
      queries = (sink, validated)
      r.problems ++= probe.problems
    }
    val rawMbPerDay = if (batch.isEmpty) 0.0 else timedRawBytes / 1e6 / batch.size
    val layers = r.layers(Layers.pipeline(ctx.tr, rawMbPerDay) ++ Layers.reads(ctx.tr) ++
      Layers.streams(ctx.tr, queries._1, queries._2) ++ Map(
      "sources.VersionedTable.commit.files" -> median(commits.map(_._1).toSeq),
      "sources.VersionedTable.commit.mb" -> median(commits.map(_._2).toSeq),
      "sources.VersionedTable.commit.partitions" -> median(commits.map(_._3).toSeq),
      "sources.VersionedTable.live_mb_per_raw_mb" -> live.toDouble / rawBytes))
    Outcome(
      attempted = math.max(nDays + (if (broken) 1 else 0), 1) + probe.attempted,
      failed = failed + probe.failed,
      metrics = Map(
        "setup_s" -> setupCpuS,
        "setup_wall_s" -> setupS,
        "throughput_per_s" -> records / batch.sum,
        "op_s_p50" -> median(batch.toSeq),
        "op_s_tail" -> tail(batch.toSeq)._1,
        "work_cpu_s" -> cpu.sum,
        "items_per_cpu_s" -> records / cpu.sum),
      layers = layers,
      info = r.tailInfo(batch.toSeq) ++ Map(
        "days" -> batch.size, "day_cpu_s" -> cpu.toSeq, "raw_records" -> records, "raw_mb" -> timedRawBytes / 1e6,
        "micro_batches" -> (if (ctx.tr.enabled) 2 * Streams.Hours else 0),
        "extra_days_s" -> extra.toSeq, "probe_ops" -> probe.attempted,
        "versions" -> VersionedTable.latestVersion(spark, wh).getOrElse(-1L),
        "warehouse_rows" -> Gen.truth(loaded).values.map(_.size).sum,
        "warehouse_bytes_per_raw_byte" -> live.toDouble / rawBytes),
      problems = r.problems.toSeq)
  }
}

/** The read path, probed once on `etl_daily`'s finished warehouse in a
  * traced run: the current active-row report over `VersionedTable.read`,
  * the same report at an older version, key lookups through
  * `readPartition` on the key's `Scd2.keyBucket`, and
  * `Scd2.pointInTimeLookup` for seeded probe sets. Each answer is checked
  * against the generator's truth outside its span.
  */
object Serve {
  val Repeats = 3
  val KeyProbes = 5
  val PitProbes = 40

  private val Ts = "yyyy-MM-dd HH:mm:ss"

  def probe(ctx: Ctx, wh: String, days: Seq[Gen.Day]): Probe = {
    val spark = ctx.spark
    import spark.implicits._
    val truth = Gen.truth(days)
    val last = days.size - 1
    val rnd = new scala.util.Random(ctx.seed)
    var attempted = 0
    val problems = mutable.ArrayBuffer[String]()
    var failed = 0
    def op[T](name: String, i: Int)(call: => T)(check: T => Seq[String]): Unit = {
      attempted += 1
      val ps =
        try check(ctx.tr.span(name, i)(call))
        catch { case e: Exception => Seq(s"$name: ${e.getMessage}") }
      if (ps.nonEmpty) {
        failed += 1
        problems ++= ps.take(3).map(p => s"$name #$i: $p")
      }
    }
    /** The version of `key` valid on day `d`, if it was loaded by then. */
    def asOf(vs: Seq[(Int, Gen.Counters)], d: Int): Option[Gen.Counters] = vs.filter(_._1 <= d).lastOption.map(_._2)
    def expectedReport(d: Int): Map[String, (Long, Long)] =
      truth.values.flatMap(asOf(_, d)).groupBy(_.status).map { case (st, cs) => st -> (cs.size.toLong, cs.map(_.impressions).sum) }
    def report(df: DataFrame): Map[String, (Long, Long)] =
      df.filter(col("actv_flg") === "Y").groupBy("status")
        .agg(count(lit(1)), sum(col("impressions_delivered").cast("long")))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    def same[T](got: T, want: T): Seq[String] = if (got == want) Nil else Seq(s"got $got, expected $want")

    val versions = VersionedTable.committedVersionsPublic(spark, wh).sorted
    if (versions.size != days.size) return Probe(1, 1, Seq(s"read: ${versions.size} versions for ${days.size} loads"))
    (0 until Repeats).foreach { i =>
      op("sources.VersionedTable.read", i)(report(VersionedTable.read(spark, wh)))(same(_, expectedReport(last)))
    }
    val older = Gen.FirstCycleDay - 1
    (0 until Repeats).foreach { i =>
      op("sources.VersionedTable.read_at", i)(report(VersionedTable.read(spark, wh, Some(versions(older)))))(
        same(_, expectedReport(older)))
    }
    val sorted = truth.keys.toSeq.sorted
    val keys = rnd.shuffle(sorted).take(KeyProbes)
    val bucket = keys.toDF("line_item_id").select(col("line_item_id"), Scd2.keyBucket(Main.KeyCols, Main.Buckets))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    keys.zipWithIndex.foreach { case (k, i) =>
      op("sources.VersionedTable.readPartition", i)(
        VersionedTable.readPartition(spark, wh, bucket(k).toString).map(
          _.filter(col("line_item_id") === k)
            .select(date_format(col("insrt_ts").cast("timestamp"), Ts), col("impressions_delivered").cast("long"))
            .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq))(
        same(_, Some(truth(k).map { case (d, c) => (days(d).nowLiteral, c.impressions) })))
    }
    (0 until Repeats).foreach { i =>
      // (probe id, key, day): the key's version valid at noon of that day
      val ps = Seq.tabulate(PitProbes)(j => (j.toLong, sorted(rnd.nextInt(sorted.size)), rnd.nextInt(last + 1)))
      val want = ps.flatMap { case (j, k, d) => asOf(truth(k), d).map(c => j -> c.impressions) }.toMap
      val probeDf = ps.map { case (j, k, d) => (j, k, s"${days(d).date} 12:00:00") }
        .toDF("probe_id", "line_item_id", "probe_ts").withColumn("probe_ts", col("probe_ts").cast("timestamp"))
      op("operators.Scd2.pointInTimeLookup", i)(
        Scd2.pointInTimeLookup(VersionedTable.read(spark, wh), probeDf, Main.KeyCols, "probe_ts", "insrt_ts", "record_to")
          .select(col("probe_id"), col("impressions_delivered").cast("long"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)(same(_, want))
    }
    Probe(attempted, failed, problems.toSeq)
  }
}

/** The micro-batch streams, probed in a traced run: hourly slices from the
  * generator landed as files and replayed one file per trigger, first
  * through `Streaming.validatedStream` with DQ rules given as config rows,
  * then through `Streaming.scd2WarehouseSink` into a warehouse of its own.
  * Returns the probe outcome and the two query ids (sink, validated).
  */
object Streams {
  val Hours = 6
  val PerHour = 100

  val Schema: StructType = StructType(
    Seq(StructField("line_item_id", LongType), StructField("order_id", LongType), StructField("status", StringType)) ++
      Seq("impressions_delivered", "clicks_delivered", "video_completions_delivered", "video_starts_delivered",
        "viewable_impressions_delivered").map(StructField(_, LongType)) :+
      StructField("insrt_ts", StringType))

  val Rules = Seq(
    DqRule("line_item", "line_item_id", "not_null", active = true),
    DqRule("line_item", "line_item_id", "unique", active = true),
    DqRule("line_item", "impressions_delivered", "between:0:1e15", active = true),
    DqRule("line_item", "status", "matches:^[A-Z]+$", active = true))

  def probe(ctx: Ctx): (Probe, Option[UUID], Option[UUID]) = {
    val spark = ctx.spark
    val hours = new Gen.Hours(ctx.seed, PerHour, Hours, Main.FirstDate)
    val root = s"${ctx.work}/stream"
    val landing = s"$root/landing"
    hours.land(landing)
    def source: DataFrame = spark.readStream.schema(Schema).option("maxFilesPerTrigger", 1).json(landing)
      .withColumn("insrt_ts", col("insrt_ts").cast("timestamp"))
    def run(name: String)(start: => StreamingQuery): (Option[UUID], Seq[String]) =
      try {
        val q = ctx.tr.span(name) {
          val q = start
          q.awaitTermination()
          q
        }
        (Some(q.id), q.exception.map(e => s"$name: ${e.getMessage}").toSeq)
      } catch { case e: Exception => (None, Seq(s"$name: ${e.getMessage}")) }

    val results = s"$root/dq_results"
    val (validated, vErr) = run(Layers.Validated)(Streaming.validatedStream(
      spark, source, DqSuite.fromConfig(Rules), results, "line_item", Some(s"$root/ckpt_dq")))
    val vProblems = if (vErr.nonEmpty) vErr else checkDq(spark, results)
    val wh = s"$root/warehouse/tbl_line_item"
    val (sink, sErr) = run(Layers.Sink)(Streaming.scd2WarehouseSink(
      spark, source, wh, Main.KeyCols, Main.Buckets, b => lit(hours.ts(b.toInt)).cast("timestamp"),
      s"$root/ckpt_sink", "lakebench"))
    val sProblems = if (sErr.nonEmpty) sErr else Daily.checkWarehouse(spark, wh, hours.truth, hours.ts, checkDelta = false)
    val probe = Probe(2 * Hours, (if (vProblems.isEmpty) 0 else Hours) + (if (sProblems.isEmpty) 0 else Hours),
      vProblems.map(p => s"validatedStream: $p") ++ sProblems.map(p => s"scd2WarehouseSink: $p"))
    (probe, sink, validated)
  }

  /** Every hour was validated once, on all its rows, and passed every rule. */
  private def checkDq(spark: SparkSession, results: String): Seq[String] = {
    val r = spark.read.parquet(results)
      .agg(countDistinct("batch_part"), count(lit(1)), sum(when(col("success"), 0).otherwise(1)),
        min("element_count"), max("element_count"))
      .head()
    val want = (Hours.toLong, Hours.toLong * Rules.size, 0L, PerHour.toLong, PerHour.toLong)
    val got = (r.getLong(0), r.getLong(1), r.getLong(2), r.getAs[Number](3).longValue, r.getAs[Number](4).longValue)
    if (got == want) Nil else Seq(s"(batches, results, failures, min rows, max rows) = $got, expected $want")
  }
}

/** `operator_suite`: six fixed registry queries on generated tables, each
  * timed with the same materialization `graft.Bench` uses and with the
  * `Caching` registry cleared before every execution, in passes over all
  * six. The seed only shuffles the query order of each pass. Results are
  * dumped by an untimed first execution for the DuckDB oracle check that
  * run.py performs.
  */
object Ops {
  val Tables = Seq("orders", "lineitem", "documents", "embeddings")
  /** Passes measured, each in its own seeded order. Run alternately with
    * one-pass runs, two spread half as much across seeds (../README.md).
    */
  val MeasuredPasses = 2

  def run(ctx: Ctx, data: String): Outcome = {
    val spark = ctx.spark
    val r = new Run(ctx)
    val (setupS, setupCpuS) = r.setup { (_, timed) =>
      timed(Tables.foreach(t => IO.table(spark, data, t).count()))
    }
    // untimed first execution of every query: dumps the results for the
    // oracle check and leaves the JVM warm whatever order the seed picks
    val out = s"${ctx.work}/ops_out"
    val warm0 = System.nanoTime()
    Layers.OpsQueries.foreach { case (name, _) =>
      graft.core.Caching.clearRegistry()
      graft.SparkEntry.queries(name)(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
    }
    val sql = Layers.OpsQueries.map { case (n, _) => n -> graft.Oracles.all(n) }.toMap
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"), Json.of(sql))
    val warmS = secs(warm0)
    val rnd = new scala.util.Random(ctx.seed)
    val times = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val cpu = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val extra = mutable.ArrayBuffer[Double]()
    var attempted = 0
    var failed = 0
    r.startTimed()
    // exactly MeasuredPasses passes are measured (a further, warmer one
    // would lower the figures); more run only while `--seconds` has not
    // passed, and are recorded apart
    var pass = 0
    while (pass < MeasuredPasses || r.elapsed < ctx.seconds) {
      if (pass == MeasuredPasses) r.endMeasured()
      var passS = 0.0
      rnd.shuffle(Layers.OpsQueries).foreach { case (name, spanName) =>
        attempted += 1
        graft.core.Caching.clearRegistry()
        // the query before (which the seed picks) leaves its garbage behind
        r.collect()
        val t0 = System.nanoTime()
        val c0 = Main.cpuS()
        try ctx.tr.span(spanName)(graft.Bench.materialize(graft.SparkEntry.queries(name)(spark, data)))
        catch {
          case e: Exception =>
            failed += 1
            r.problems += s"$name: ${e.getMessage}"
        }
        val t = secs(t0)
        if (pass < MeasuredPasses) {
          times.getOrElseUpdate(name, mutable.ArrayBuffer()) += t
          cpu.getOrElseUpdate(name, mutable.ArrayBuffer()) += Main.cpuS() - c0
        }
        passS += t
      }
      if (pass >= MeasuredPasses) extra += passS
      pass += 1
    }
    r.endMeasured()
    val layers = r.layers(Layers.ops(ctx.tr))
    val passS = times.values.map(ts => median(ts.toSeq)).sum
    val passCpu = cpu.values.flatten.sum / MeasuredPasses
    Outcome(
      attempted = math.max(attempted, 1),
      failed = failed,
      metrics = Map(
        "setup_s" -> setupCpuS,
        "setup_wall_s" -> setupS,
        "throughput_per_s" -> times.size / passS,
        "op_s_p50" -> passS,
        "op_s_tail" -> tail(times.values.flatten.toSeq)._1,
        "work_cpu_s" -> passCpu,
        "items_per_cpu_s" -> times.size / passCpu),
      layers = layers,
      info = r.tailInfo(times.values.flatten.toSeq) ++ Map(
        "passes" -> pass,
        "extra_passes_s" -> extra.toSeq,
        "query_s" -> times.map { case (n, ts) => n -> ts.toSeq },
        "query_cpu_s" -> cpu.map { case (n, cs) => n -> cs.toSeq },
        "warmup_s" -> warmS),
      problems = r.problems.toSeq)
  }
}
