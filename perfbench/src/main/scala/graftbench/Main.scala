package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lit, pmod, sum}

import org.apache.spark.sql.graftbench.TaskTotals

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** The benchmark driver: one process, Spark `local[N]`, one workload.
  *
  * {{{
  *   Main --workload <view_refresh|daily_sync|stream_sync|near_dup> --seed <n>
  *        --seconds <s> --trace <0|1> [--scale <f>] --work <dir> --out <result.json>
  *   Main --train <workload,...> --scale <f> --work <dir>
  * }}}
  *
  * The workload's inputs are generated from the seed under `<work>/inputs`,
  * their sizes multiplied by `--scale` (default 1, the gated size);
  * it runs in a closed loop for `--seconds` (and at least its quota of
  * steps), then its correctness checks run. The result file holds the
  * end-to-end metrics (and with `--trace 1` the per-layer ones), the
  * operation and check counts, and the run's context, which carries the
  * workload's own named metrics.
  */
object Main {
  /** The session settings `graft.Bench` runs with, keyed as Spark conf. */
  def sessionConf(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
    "spark.sql.files.maxPartitionBytes" -> "4m",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new java.io.File(a("work")).getAbsolutePath
    val scale = a.getOrElse("scale", "1").toDouble
    val cpus = Runtime.getRuntime.availableProcessors()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    val builder = SparkSession.builder().master(s"local[$cpus]").appName("perfbench")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    sessionConf(cpus).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReady = System.currentTimeMillis()
    if (a.contains("train")) {
      train(spark, work, cpus, a("train").split(",").toSeq, scale)
      spark.stop()
      return
    }

    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    if (traced) Trace.install(spark)
    val ctx = new Ctx(spark, seed, work)
    val phase = phaseFor(ctx, workload, scale)

    val (_, genS) = Stats.time(phase.generate("inputs"))
    val (_, prepS) = Stats.time(phase.prepare())
    val setupS = (sessionReady - jvmStart) / 1000.0 + genS + prepS
    System.err.println(f"[perfbench] setup $setupS%.2f s (generate $genS%.2f, prepare $prepS%.2f)")

    Trace.on = traced
    val gc0 = gcMs()
    val t0 = System.nanoTime()
    var steps = 0
    while (steps < phase.quota || Stats.secs(t0) < seconds) {
      val (_, s) = Stats.time(phase.step())
      System.err.println(f"[perfbench] $workload step $steps: $s%.2f s")
      steps += 1
    }
    phase.finish()
    val loopS = Stats.secs(t0)
    val gcPerStep = (gcMs() - gc0).toDouble / steps
    Trace.on = false

    ctx.metric("setup_s", setupS, "s")
    phase.report()
    phase.check()
    if (traced) {
      org.apache.spark.sql.graftbench.Probe.drain(spark.sparkContext)
      opLayers(ctx, Trace.named(workload, phase.opName), gcPerStep)
      phase.layers()
    }
    ctx.named("op_tail_s", phase.tail, "s")
    val probes = hostProbes(spark, work, cpus)
    spark.stop()

    def metrics(m: Iterable[(String, (Double, String))]): String = Json.obj(m.map { case (k, (v, u)) =>
      k -> s"""{"value":${Json.num(v)},"unit":${Json.str(u)}}"""
    })
    val context = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "scale" -> Json.num(scale),
      "nproc" -> cpus.toString,
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark_version" -> Json.str(spark.version),
      "session" -> Json.obj(sessionConf(cpus).map { case (k, v) => k -> Json.str(v) }),
      "inputs" -> Json.obj(ctx.inputs.map { case (k, (r, b)) => k -> s"""{"rows":$r,"bytes":$b}""" }),
      "loop_s" -> Json.num(loopS),
      "steps" -> steps.toString,
      "workload_metrics" -> metrics(ctx.namedMetrics),
      "workload_layers" -> metrics(ctx.namedLayers),
      "checks" -> Json.obj(ctx.checks.map { case (k, v) => k -> v.toString }),
      "host_probes_s" -> Json.obj(probes.map { case (k, v) => k -> Json.num(v) }),
      "spans" -> Json.obj(Trace.spans.groupBy(s => s"${s.layer}.${s.name}").toSeq.sortBy(_._1).map {
        case (k, ss) => k -> Json.obj(Seq("n" -> ss.size.toString,
          "median_ms" -> Json.num(Stats.median(ss.map(_.ms))),
          "self_ms" -> Json.num(Stats.median(ss.map(Trace.selfMs)))))
      })))
    val out = s"""{"attempted":${ctx.attempted},"failed":${ctx.failed},""" +
      s""""e2e":${metrics(ctx.e2e)},"layers":${metrics(ctx.layers)},"context":$context}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")), out)
  }

  /** The workload `name` at its gated input sizes times `scale`. */
  private def phaseFor(ctx: Ctx, name: String, scale: Double): Phase = {
    def sized(n: Int): Int = math.max(1, math.round(n * scale).toInt)
    val phases: Seq[Phase] = Seq(
      new ViewRefresh(ctx, orders = sized(6000)),
      new StreamSync(ctx, rowsPerVersion = sized(200), backlog = 2),
      new DailySync(ctx, baseRows = sized(120000), newPerDay = sized(1000)),
      new NearDup(ctx, nDocs = sized(3000), nVecs = sized(3000), incDocs = sized(60)))
    phases.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown workload $name; expected one of ${phases.map(_.name).mkString(", ")}"))
  }

  /** A training pass for the class-data archive: each named workload,
    * scaled down, once through set-up, one step, its finish and checks, then
    * the host probes, so the archive written at exit holds the classes a
    * timed run loads.
    */
  private def train(spark: SparkSession, work: String, cpus: Int, names: Seq[String],
      scale: Double): Unit = {
    names.foreach { n =>
      val p = phaseFor(new Ctx(spark, 0L, s"$work/$n"), n, scale)
      p.generate("inputs"); p.prepare(); p.step(); p.finish(); p.report(); p.check()
    }
    hostProbes(spark, work, cpus)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** The per-layer metrics every workload reports, as medians over its
    * timed operations: Spark jobs and tasks, scan, shuffle and broadcast
    * volume, driver-side time (operation time outside any running job),
    * and the process-health gauges.
    */
  private def opLayers(ctx: Ctx, ops: Seq[Span], gcPerStep: Double): Unit = {
    def med(f: Span => Double): Double = Stats.medianOr(ops.map(f), 0)
    def tot(f: TaskTotals => Double)(s: Span): Double = Trace.totals(s).map(f).sum
    ctx.layer("spark.jobs_per_op", med(tot(_.jobCount.toDouble)), "count")
    ctx.layer("spark.tasks_per_op", med(tot(_.tasks.toDouble)), "count")
    ctx.layer("spark.task_ms_per_op", med(tot(_.taskMs.toDouble)), "ms")
    val jobs = ops.map(s => Trace.totals(s).flatMap(_.jobs))
    ctx.layer("spark.job_ms_p50", Stats.medianOr(jobs.flatten.map { case (a, b) => (b - a).toDouble }, 0), "ms")
    ctx.layer("driver.ms_per_op", Stats.medianOr(ops.zip(jobs).map { case (s, js) =>
      s.ms - Stats.unionMs(js) }, 0), "ms")
    ctx.layer("scan.bytes_per_op", med(tot(_.inputBytes.toDouble)), "bytes")
    ctx.layer("scan.files_per_op", med(s => Trace.plans(s).flatMap(_.scans).map(_._2).sum.toDouble), "count")
    ctx.layer("shuffle.bytes_per_op", med(tot(_.shuffleWriteBytes.toDouble)), "bytes")
    ctx.layer("broadcast.bytes_per_op", med(s => Trace.plans(s).map(_.broadcastBytes).sum.toDouble), "bytes")
    ctx.layer("write.bytes_per_op", med(tot(_.outputBytes.toDouble)), "bytes")
    ctx.layer("jvm.gc_ms_per_op", gcPerStep, "ms")
    ctx.layer("spark.task_skew", med { s =>
      val stages = Trace.totals(s).flatMap(_.stages.values).filter(_._2.nonEmpty)
      if (stages.isEmpty) 1.0 else {
        val runs = stages.maxBy(_._1)._2.map(_.toDouble).toSeq
        runs.max / math.max(1.0, Stats.median(runs))
      }
    }, "ratio")
    ctx.layer("ops.pinned_frames", ctx.pinnedMax.toDouble, "count")
    ctx.layer("ops.cached_bytes_max", ctx.cachedBytesMax.toDouble, "bytes")
    System.gc()
    ctx.layer("jvm.heap_after_gc_mb",
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0, "MB")
  }

  /** Two host-noise probes, reported as context: a write→read→shuffle→agg
    * pipeline over a fixed 32 partitions (the shape of `graft.Bench`'s
    * calibration probe, on 20k rows instead of 20M), and the same over
    * `nproc` partitions, which does not change shape with the core count.
    */
  private def hostProbes(spark: SparkSession, work: String, cpus: Int): Seq[(String, Double)] = {
    def pass(parts: Int): Double = {
      val dir = s"$work/probe"
      val (_, s) = Stats.time {
        spark.range(0L, 20000L, 1L, parts)
          .select(col("id"), pmod(col("id") * 2654435761L, lit(1000000L)).as("k"),
            (col("id") % 97).cast("double").as("v"))
          .write.mode("overwrite").parquet(dir)
        spark.read.parquet(dir).repartition(col("k")).groupBy("k")
          .agg(sum("v").as("sv"), count(lit(1)).as("c"))
          .write.format("noop").mode("overwrite").save()
      }
      Ctx.rmrf(dir)
      s
    }
    Seq("fixed_32_partitions" -> pass(32), "nproc_partitions" -> pass(cpus))
  }
}
