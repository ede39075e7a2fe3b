package lakebench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.UUID

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.core.{Config, ServiceConfig}
import graft.operators.DeltaState
import graft.pipeline.{Pipeline, PipelineRun}
import graft.sources.{IO, VersionedTable}

/** One workload's outcome: operations attempted and failed (an operation
  * whose output check failed counts as failed), end-to-end metrics,
  * per-layer metrics (traced runs only) and input sizes for the record.
  */
final case class Outcome(
    attempted: Int,
    failed: Int,
    metrics: Map[String, Double],
    layers: Map[String, Double],
    info: Map[String, Any],
    problems: Seq[String])

/** Benchmark harness entry point: runs one workload in one Spark session
  * and prints one `LAKEBENCH_RESULT {json}` line. See ../README.md.
  *
  * usage: Main --workload W --seed N --seconds S --trace 0|1 --work DIR --cpus N [--ops-data DIR]
  */
object Main {
  /** How many times a workload's set-up runs; `setup_s` is the median. */
  val SetupRepeats = 2

  val Source = "ad-manager"
  val Alias = "line_item"
  val KeyCols = Seq("line_item_id")
  val Counters: Seq[(String, String)] = Seq(
    "impressions_delivered", "clicks_delivered", "video_completions_delivered",
    "video_starts_delivered", "viewable_impressions_delivered").map(c => c -> s"prev_$c")
  /** Key buckets of the daily warehouse (`loadPartitioned`'s nBuckets):
    * partitions per full commit, sized to the benchmark's day volume.
    */
  val Buckets = 16
  val FirstDate: java.time.LocalDate = java.time.LocalDate.of(2024, 6, 1)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work")
    val cpus = opt("cpus").toInt
    Files.createDirectories(Paths.get(work))

    val jvmUp = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val t0 = System.nanoTime()
    val spark = graft.core.Sessions.local(cpus, s"lakebench-$workload")
    val sessionS = secs(t0)
    val tr = new Tracer(spark, trace)
    val ctx = Ctx(spark, tr, seed, seconds, work)
    val out: Outcome = workload match {
      case "etl_daily"         => Etl.run(ctx)
      case "operator_suite"    => Ops.run(ctx, opt("ops-data"))
      case other               => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val workloadS = secs(t0) - sessionS
    val record = Map[String, Any](
      "workload" -> workload,
      "seed" -> seed,
      "trace" -> trace,
      "local" -> s"local[$cpus]",
      "spark" -> spark.version,
      "jvm" -> System.getProperty("java.vm.version"),
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> (out.metrics + ("peak_rss_mb" -> peakRssMb())),
      "layers" -> out.layers,
      "spans" -> tr.spans.map { s =>
        Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op, "phase" -> s.phase,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs)
      },
      "info" -> (out.info ++ Map("jvm_start_s" -> jvmUp, "session_s" -> sessionS, "workload_s" -> workloadS)),
      "problems" -> out.problems
    )
    spark.stop()
    println("LAKEBENCH_RESULT " + Json.of(record))
  }

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  def peakRssMb(): Double = {
    val f = scala.io.Source.fromFile("/proc/self/status")
    try f.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally f.close()
  }

  /** CPU time of all this JVM's threads (task, driver, JIT and GC). */
  def cpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Host CPU ticks (all, stolen) from /proc/stat: the share stolen by
    * the hypervisor over an interval says how contended the host was.
    */
  def hostTicks(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val t = f.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (t.sum, if (t.length > 7) t(7) else 0L)
    } finally f.close()
  }

  /** Milliseconds the JIT compiler threads spent compiling, summed. */
  def jitMs(): Long = java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, its value
    * and the sample count. Below 21 samples that percentile is not above
    * the median, so the maximum (percentile 100) is reported instead.
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (0.0, 0.0, 0)
    else if (n < 21) (s.last, 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def deleteTree(path: String): Unit = {
    val f = new File(path)
    if (f.exists()) new scala.reflect.io.Directory(f).deleteRecursively()
  }

  /** Bytes and count of the regular files under `dir`. */
  def du(dir: File): (Long, Long) =
    if (!dir.exists()) (0L, 0L)
    else if (dir.isFile) (dir.length(), if (dir.getName.endsWith(".parquet")) 1L else 0L)
    else dir.listFiles().map(du).foldLeft((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))

  /** Live bytes at the latest version of a delta-committed warehouse: the
    * files the manifest's partition map points at.
    */
  def liveBytes(spark: SparkSession, wh: String): Long = {
    val v = VersionedTable.latestVersion(spark, wh).get
    VersionedTable.partitionMap(spark, wh, v).get.toSeq.map { case (p, pv) => du(new File(s"$wh/v=$pv/p=$p"))._1 }.sum
  }

  /** Files, MB and partitions the latest commit wrote (from its manifest). */
  def lastCommit(spark: SparkSession, wh: String): (Double, Double, Double) = {
    val v = VersionedTable.latestVersion(spark, wh).get
    val mine = VersionedTable.partitionMap(spark, wh, v).get.filter(_._2 == v).keys.toSeq
    val (bytes, files) = mine.map(p => du(new File(s"$wh/v=$v/p=$p"))).foldLeft((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
    (files.toDouble, bytes / 1e6, mine.size.toDouble)
  }
}

/** What every workload needs. */
final case class Ctx(spark: SparkSession, tr: Tracer, seed: Long, seconds: Double, work: String) {
  lazy val svc: ServiceConfig = Config.loadResource()(spark).service(Main.Alias).get
}

/** Minimal JSON writer for the result record. */
object Json {
  def of(v: Any): String = v match {
    case null                      => "null"
    case s: String                 => graft.core.Json.str(s)
    case b: Boolean                => b.toString
    case d: Double                 => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float                  => of(f.toDouble)
    case n: Int                    => n.toString
    case n: Long                   => n.toString
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => of(k.toString) + ": " + of(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_]           => xs.map(of).mkString("[", ", ", "]")
    case other                     => of(other.toString)
  }
}

/** The staged pipeline for one day of `etl_daily`, and the check of the
  * SCD-2 warehouse it builds.
  */
object Daily {
  /** Run one day's drop raw -> committed. With a delta snapshot (the
    * previous day's state) transform applies the stateful delta; the
    * day's own state is persisted and returned for the next day.
    */
  def runDay(ctx: Ctx, root: String, day: Gen.Day, snapshot: Option[DataFrame]): DataFrame = {
    val spark = ctx.spark
    val tr = ctx.tr
    val run = PipelineRun(root, Main.Source, day.date, lit(day.nowLiteral).cast("timestamp"))
    val wh = s"$root/warehouse/tbl_line_item"
    tr.span("pipeline.cleanse", day.index)(Pipeline.cleanse(spark, run, Main.Alias))
    tr.span("pipeline.partitionStage", day.index)(Pipeline.partitionStage(spark, run, ctx.svc))
    tr.span("pipeline.transform", day.index)(
      Pipeline.transform(spark, run, ctx.svc, snapshot, Main.Counters, Main.KeyCols, applyYearFilter = true))
    tr.span("pipeline.loadPartitioned", day.index)(Pipeline.loadPartitioned(spark, run, Main.Alias, wh, Main.KeyCols, Main.Buckets))
    tr.span("operators.DeltaState.nextSnapshot", day.index) {
      val staged = IO.readPipeCsv(spark, run.path(Main.Alias, "transformation", "csv"))
      val state = s"$root/state/day=${day.index}"
      DeltaState.nextSnapshot(staged, Main.KeyCols, Main.Counters).write.mode("overwrite").parquet(state)
      spark.read.parquet(state)
    }
  }

  def rawDir(root: String, day: Gen.Day): String =
    PipelineRun(root, Main.Source, day.date, lit(null)).path(Main.Alias, "raw", "json")

  /** Check the warehouse against the generator's truth: per key exactly
    * one active row, contiguous non-overlapping `[insrt_ts, record_to)`,
    * the expected version count and each version's counters (and, for the
    * pipeline's loads, its delta). `insertTs(i)` is the insert time of the
    * i-th drop. Returns up to 20 problems.
    */
  def checkWarehouse(
      spark: SparkSession,
      wh: String,
      truth: Map[Long, Seq[(Int, Gen.Counters)]],
      insertTs: Int => String,
      checkDelta: Boolean): Seq[String] = {
    val df = VersionedTable.read(spark, wh)
    val hasDelta = df.columns.contains("delta_impressions_delivered")
    val cols = Seq(
      col("line_item_id").cast("long"), col("actv_flg"),
      date_format(col("insrt_ts").cast("timestamp"), "yyyy-MM-dd HH:mm:ss"),
      date_format(col("record_to").cast("timestamp"), "yyyy-MM-dd HH:mm:ss"),
      col("impressions_delivered").cast("long"), col("clicks_delivered").cast("long"),
      col("viewable_impressions_delivered").cast("long"), col("status"),
      (if (hasDelta) col("delta_impressions_delivered") else lit(null)).cast("long"))
    val rows = df.select(cols: _*).collect()
    val byKey = rows.groupBy(_.getLong(0))
    val problems = mutable.ArrayBuffer[String]()
    def bad(msg: String): Unit = if (problems.size < 20) problems += msg else problems(19) = "..."
    if (byKey.keySet != truth.keySet)
      bad(s"key set differs: ${(byKey.keySet -- truth.keySet).size} unexpected, ${(truth.keySet -- byKey.keySet).size} missing")
    truth.foreach { case (k, want) =>
      val got = byKey.getOrElse(k, Array.empty[Row]).sortBy(_.getString(2))
      if (got.length != want.size) bad(s"key $k: ${got.length} versions, expected ${want.size}")
      else {
        if (got.count(_.getString(1) == "Y") != 1) bad(s"key $k: ${got.count(_.getString(1) == "Y")} active rows")
        got.zip(want).zipWithIndex.foreach { case ((r, (d, c)), i) =>
          val last = i == want.size - 1
          if (r.getString(2) != insertTs(d)) bad(s"key $k v$i: insrt_ts ${r.getString(2)} != ${insertTs(d)}")
          val to = Option(r.getString(3))
          val wantTo = if (last) None else Some(insertTs(want(i + 1)._1))
          if (to != wantTo) bad(s"key $k v$i: record_to $to != $wantTo")
          if ((r.getString(1) == "Y") != last) bad(s"key $k v$i: actv_flg ${r.getString(1)}")
          if (r.getLong(4) != c.impressions || r.getLong(5) != c.clicks || r.getLong(6) != c.viewable ||
              r.getString(7) != c.status) bad(s"key $k v$i: counters differ")
          if (checkDelta && d > 0) {
            val prev = if (i > 0 && want(i - 1)._1 == d - 1) want(i - 1)._2.impressions else 0L
            if (r.isNullAt(8) || r.getLong(8) != c.impressions - prev) bad(s"key $k v$i: delta differs")
          }
        }
      }
    }
    problems.toSeq
  }
}

/** Layer metrics from a traced run: per span name, means per call of
  * wall, self (driver) time, jobs, task and CPU time, input, shuffle,
  * spill and files.
  */
object Layers {
  final case class Agg(calls: Int, wall: Seq[Double], driver: Double, jobs: Double, task: Double, cpu: Double,
      inputMb: Double, shuffleMb: Double, spillMb: Double, filesRead: Double, filesWritten: Double)

  /** Spans of the measured phases only: the measured cycle or passes, and
    * the traced run's read and stream probes.
    */
  def of(tr: Tracer, name: String): Agg = {
    val ss = tr.spans.filter(s => s.name == name && (s.phase == "timed" || s.phase == "probe")).toSeq
    val n = math.max(ss.size, 1).toDouble
    var driver, jobs, task, cpu, in, sh, sp, fr, fw = 0.0
    ss.foreach { s =>
      val js = tr.jobsUnder(s)
      driver += (s.wallMs - Tracer.coveredMs(s.startMs, s.endMs, js)) / 1000.0
      jobs += js.size
      task += js.map(_.taskMs).sum / 1000.0
      cpu += js.map(_.cpuNs).sum / 1e9
      in += js.map(_.inputBytes).sum / 1e6
      sh += js.map(_.shuffleWriteBytes).sum / 1e6
      sp += js.map(_.spillBytes).sum / 1e6
      val (r, w) = tr.files(js)
      fr += r
      fw += w
    }
    Agg(ss.size, ss.map(_.wallMs / 1000.0), driver / n, jobs / n, task / n, cpu / n, in / n, sh / n, sp / n, fr / n, fw / n)
  }

  val PipelineCalls = Seq("pipeline.cleanse", "pipeline.partitionStage", "pipeline.transform", "pipeline.loadPartitioned")

  def pipeline(tr: Tracer, rawMbPerDay: Double): Map[String, Double] = {
    val per = PipelineCalls.flatMap { n =>
      val a = of(tr, n)
      Seq(
        s"$n.wall_s" -> (if (a.calls == 0) 0.0 else a.wall.sum / a.calls), s"$n.driver_s" -> a.driver,
        s"$n.jobs" -> a.jobs, s"$n.task_s" -> a.task, s"$n.cpu_s" -> a.cpu, s"$n.input_mb" -> a.inputMb,
        s"$n.shuffle_write_mb" -> a.shuffleMb, s"$n.output_files" -> a.filesWritten)
    }
    val snap = of(tr, "operators.DeltaState.nextSnapshot")
    val inputMb = PipelineCalls.map(n => of(tr, n).inputMb).sum
    per.toMap ++ Map(
      "operators.DeltaState.nextSnapshot.wall_s" -> (if (snap.calls == 0) 0.0 else snap.wall.sum / snap.calls),
      "operators.DeltaState.nextSnapshot.jobs" -> snap.jobs,
      "pipeline.input_mb_per_raw_mb" -> (if (rawMbPerDay > 0) inputMb / rawMbPerDay else 0.0))
  }

  val OpsQueries: Seq[(String, String)] = Seq(
    "q88_dup_groups" -> "operators.Dedup.q88",
    "q134_canonical_dedup" -> "operators.Dedup.q134",
    "q116_pagerank" -> "operators.Graph.q116",
    "q85_ann_ivf_trained" -> "operators.Similarity.q85",
    "q167_classifier_training" -> "operators.TextAnalysis.q167",
    "q21_dq_suite" -> "dq.Expectations.q21")

  def ops(tr: Tracer): Map[String, Double] = OpsQueries.flatMap { case (_, n) =>
    val a = of(tr, n)
    Seq(s"$n.wall_s" -> (if (a.calls == 0) 0.0 else a.wall.sum / a.calls), s"$n.driver_s" -> a.driver,
      s"$n.jobs" -> a.jobs, s"$n.task_s" -> a.task, s"$n.shuffle_write_mb" -> a.shuffleMb, s"$n.spill_mb" -> a.spillMb)
  }.toMap

  val ReadCalls = Seq(
    "sources.VersionedTable.read", "sources.VersionedTable.read_at",
    "sources.VersionedTable.readPartition", "operators.Scd2.pointInTimeLookup")

  def reads(tr: Tracer): Map[String, Double] = ReadCalls.flatMap { n =>
    val a = of(tr, n)
    Seq(s"$n.wall_s_p50" -> Main.median(a.wall), s"$n.driver_s" -> a.driver, s"$n.jobs" -> a.jobs,
      s"$n.task_s" -> a.task, s"$n.input_mb" -> a.inputMb, s"$n.files_read" -> a.filesRead)
  }.toMap

  val Sink = "streaming.scd2WarehouseSink"
  val Validated = "streaming.validatedStream"
  val SinkPhases = Seq("addBatch", "getBatch", "latestOffset", "queryPlanning", "walCommit", "commitOffsets", "triggerExecution")

  private def phaseP50(ps: Seq[StreamingQueryProgress], k: String): Double =
    Main.median(ps.map(p => Option(p.durationMs.get(k)).map(_.longValue / 1000.0).getOrElse(0.0)))

  /** Micro-batch metrics of the two streams (started inside spans named
    * [[Sink]] and [[Validated]]): median progress phases, and per batch
    * the jobs, task time, driver time (trigger wall not covered by the
    * batch's jobs) and files written.
    */
  def streams(tr: Tracer, sink: Option[UUID], validated: Option[UUID]): Map[String, Double] = {
    def batchJobs(name: String) = tr.spans.filter(_.name == name).toSeq.flatMap(tr.jobsUnder).filter(_.batch >= 0)
    val ps = sink.map(tr.batches).getOrElse(Nil)
    val nb = math.max(ps.size, 1).toDouble
    val js = batchJobs(Sink)
    val driver = ps.map { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      (dur - Tracer.coveredMs(start, start + dur, js.filter(_.batch == p.batchId))) / 1000.0
    }.sum
    val vs = validated.map(tr.batches).getOrElse(Nil)
    SinkPhases.map(k => s"$Sink.${k}_s_p50" -> phaseP50(ps, k)).toMap ++ Map(
      s"$Sink.jobs" -> js.size / nb,
      s"$Sink.task_s" -> js.map(_.taskMs).sum / 1000.0 / nb,
      s"$Sink.driver_s" -> driver / nb,
      s"$Sink.output_files" -> tr.files(js)._2 / nb,
      s"$Validated.triggerExecution_s_p50" -> phaseP50(vs, "triggerExecution"),
      s"$Validated.addBatch_s_p50" -> phaseP50(vs, "addBatch"),
      s"$Validated.jobs" -> batchJobs(Validated).size / math.max(vs.size, 1).toDouble)
  }

  /** Every per-layer metric name, so each workload reports all of them
    * (zero where it does not exercise the layer).
    */
  def zeros(tr: Tracer): Map[String, Double] = {
    (pipeline(tr, 0) ++ ops(tr) ++ reads(tr) ++ streams(tr, None, None) ++ Seq(
      "sources.VersionedTable.commit.files", "sources.VersionedTable.commit.mb", "sources.VersionedTable.commit.partitions",
      "sources.VersionedTable.live_mb_per_raw_mb", "jvm.gc_s", "trace.listener_s").map(_ -> 0.0)).map { case (k, _) => k -> 0.0 }
  }
}
