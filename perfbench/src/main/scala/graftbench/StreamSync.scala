package graftbench

import graft.merge.Versioned
import graft.quality.{QualityChecks, Reconciliation}
import graft.streaming.{Streaming, VersionedStreamSource}
import graft.sync.SyncPipeline
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import scala.util.Random

/** `stream_sync`: a generator commits one seeded version at a time to a
  * versioned source; three streams read it one version per micro-batch —
  * an upsert into a versioned sink, the watermarked daily metrics and the
  * sync-state tracker — and each commit is timed until the sink shows it
  * (the stateful streams catch up before the next commit).
  * A catch-up phase then commits a backlog while the streams are down,
  * times the drain after restart, and lands the source through the
  * scheduled batch path (`SyncPipeline.incrementalSyncPartitioned`, the
  * stream's batch twin) before quality checks and a source/sink
  * reconciliation run over the result.
  */
final class StreamSync(ctx: Ctx, rowsPerVersion: Int, backlog: Int) extends Phase {
  val name = "stream_sync"
  val opName = "commit"
  val quota = 6
  private val spark = ctx.spark
  private def src = ctx.path("tables/stream_src")
  private def sink = ctx.path("tables/stream_sink")
  private def ck = ctx.path("ck")
  private def twin = ctx.path("tables/stream_twin")
  private val fmt = classOf[VersionedStreamSource].getName

  private var rnd: Random = _
  private var version = 0 // last committed source version
  private var nextId = 0L
  private val keys = scala.collection.mutable.ArrayBuffer[Long]()
  /** source versions the upsert stream has merged into the sink */
  private val visible = new AtomicLong()
  private var queries: Seq[StreamingQuery] = Nil
  private val latency = new Samples
  private val catchUp = new Samples
  private var drainRowsPerS = Double.NaN
  private var recon: Option[Row] = None
  private var drainBatches = Set.empty[Long]

  def generate(rel: String): Unit = {
    val r = new Random(ctx.seed ^ 0x57eaL)
    val rows = (0 until rowsPerVersion * 4).map(i => Gen.event(r, i.toLong, 0, 1))
    ctx.input("stream.base", spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      Gen.eventSchema), s"$rel/stream/base")
  }

  /** Version `v`'s rows: new keys plus updates of a quarter as many earlier keys. */
  private def rowsFor(v: Int): Seq[Row] = {
    val day = v / 6
    val fresh = (0 until rowsPerVersion).map { _ => nextId += 1; Gen.event(rnd, nextId, day, v) }
    val upd = (0 until rowsPerVersion / 4).map(_ => keys(rnd.nextInt(keys.size))).distinct
      .map(k => Gen.event(rnd, k, day, v))
    keys ++= fresh.map(_.getLong(0))
    fresh ++ upd
  }

  private def commit(): Int = {
    val rows = rowsFor(version + 1)
    Versioned.append(spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), Gen.eventSchema), src)
    version += 1
    version
  }

  private def start(): Unit = {
    def read(): DataFrame = spark.readStream.format(fmt).option("path", src).load()
    val upsert = read().writeStream.queryName("upsert")
      .option("checkpointLocation", s"$ck/upsert")
      .foreachBatch { (b: DataFrame, id: Long) =>
        Trace.span("merge", "stream_merge") {
          Versioned.mergeStreamBatch(b.sparkSession, sink, b, Seq("event_id"), id, Some("ingest_day"))
        }
        // batch `id` carries source version id + 1 (one version per batch)
        visible.set(id + 1)
        ()
      }.start()
    import spark.implicits._
    val stateful = Streaming.withAdaptiveStatePartitions(spark, Streaming.dirBytes(spark, src)) {
      Seq(
        Streaming.dailyMetrics(read()).writeStream.queryName("daily")
          .option("checkpointLocation", s"$ck/daily").format("noop").outputMode("append").start(),
        Streaming.trackerState(read().select(
            concat(lit("sync-"), (col("user_id") % 16).cast("string")).as("sync_id"),
            lit(1L).as("rows"), (col("event_type") === "error").as("failed"))
          .as[Streaming.TrackerEvent]).writeStream.queryName("tracker")
          .option("checkpointLocation", s"$ck/tracker").format("noop").outputMode("update").start())
    }
    queries = upsert +: stateful
  }

  private def awaitVisible(v: Int): Unit = {
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (visible.get < v) {
      queries.head.exception.foreach(e => throw e)
      require(System.nanoTime() < deadline, s"stream did not reach version $v")
      Thread.sleep(1)
    }
  }

  private def settle(): Unit = queries.tail.foreach(_.processAllAvailable())

  def prepare(): Unit = {
    rnd = new Random(ctx.seed ^ 0x57ebL)
    val base = spark.read.parquet(ctx.path("inputs/stream/base"))
    keys ++= base.select("event_id").collect().map(_.getLong(0))
    nextId = keys.max
    Versioned.append(base, src)
    version = 1
    start()
    // the per-commit latency falls over the first several commits while the
    // JIT warms up; four untimed commits take the loop past most of that
    (0 until 4).foreach { _ => commit(); awaitVisible(version); settle() }
  }

  /** One commit, timed from the moment it is durable until the sink shows
    * it; the stateful streams then catch up before the next commit.
    */
  def step(): Unit = {
    var s = 0.0
    val ok = ctx.op(name, "commit") {
      val v = commit()
      val t0 = System.nanoTime()
      awaitVisible(v)
      s = Stats.secs(t0)
      settle()
    }
    if (ok.isDefined) latency += s
  }

  /** The catch-up phase: streams down, `backlog` versions committed, then
    * the restarted streams drain them; the batch path then syncs the
    * source's latest rows into a date-partitioned twin, and quality checks
    * and a reconciliation of twin against sink run over the result.
    */
  override def finish(): Unit = {
    queries.foreach(_.stop())
    val before = visible.get
    val rows = (0 until backlog).map { _ => commit(); rowsPerVersion + rowsPerVersion / 4 }.sum
    val t0 = System.nanoTime()
    ctx.op(name, "catch_up") {
      start()
      awaitVisible(version)
      drainRowsPerS = rows / Stats.secs(t0)
      settle()
      batchSync()
    }.foreach(_ => catchUp += Stats.secs(t0))
    drainBatches = (before until version.toLong).toSet
  }

  private def dayStr(d: Int): String = java.time.LocalDate.of(2024, 3, 1).plusDays(d.toLong).toString

  private def batchSync(): Unit = {
    val w = Window.partitionBy(col("event_id")).orderBy(col("ingest_day").desc)
    val latest = Versioned.read(spark, src).withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    // the window's end is a date compared with timestamps (midnight), so it
    // is the day after the last event day
    val last = dayStr(version / 6 + 1)
    Trace.span("sync", "partitioned") {
      SyncPipeline.incrementalSyncPartitioned(spark, latest, twin, Seq("event_id"), "ts",
        dayStr(0), last, name)
    }
    def table(n: String, df: DataFrame) = QualityChecks.TableCheck(n, df, Seq("event_id"),
      Some("ts"), "user_id", QualityChecks.Thresholds(minRows = 1, maxAgeHours = 24 * 3))
    Trace.span("quality", "checks") {
      QualityChecks.run(Seq(table("sink", Versioned.read(spark, sink)),
        table("twin", spark.read.parquet(twin))), lit(last).cast("date")).collect()
    }
    recon = Some(Trace.span("quality", "reconcile") {
      Reconciliation.analyze(spark.read.parquet(twin).select(col("event_id").as("WORK_ITEM_ID")),
        Versioned.read(spark, sink).select(col("event_id").as("WORK_ITEM_ID"))).head()
    })
  }

  def check(): Unit = {
    queries.foreach(_.stop())
    ctx.check(s"$name.sink_equals_batch_twin") {
      val want = spark.read.parquet(twin).drop("part_date").collect().map(_.toSeq)
      val got = Versioned.read(spark, sink).collect().map(_.toSeq)
      got.length == want.length && got.toSet == want.toSet
    }
    ctx.check(s"$name.reconciled") {
      recon.exists(r => r.getAs[Long]("orphaned_in_bigquery") == 0 &&
        r.getAs[Long]("missing_in_bigquery") == 0)
    }
  }

  def report(): Unit = {
    ctx.metric("op_p50_s", latency.median, "s")
    ctx.metric("sub_op_s", catchUp.median, "s")
    ctx.named("stream_p50_s", latency.median, "s")
    ctx.named("stream_tail_s", tail, "s")
    ctx.named("stream_drain_rows_per_s", drainRowsPerS, "rows/s")
    ctx.named("catch_up_s", catchUp.median, "s")
  }

  def tail: Double = Phase.tail(latency)

  def layers(): Unit = {
    val prog = Trace.progress.asScala.toSeq.map(_.progress)
    val upsert = prog.filter(p => p.name == "upsert" && p.numInputRows > 0)
    def dur(k: String): Double =
      Stats.medianOr(upsert.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)), 0)
    ctx.namedLayer("streaming.latest_offset_ms", dur("latestOffset"), "ms")
    ctx.namedLayer("streaming.planning_ms", dur("queryPlanning"), "ms")
    ctx.namedLayer("streaming.add_batch_ms", dur("addBatch"), "ms")
    ctx.namedLayer("streaming.wal_commit_ms", dur("walCommit"), "ms")
    ctx.namedLayer("streaming.commit_ms", dur("commitOffsets"), "ms")
    val stateful = prog.filter(p => p.name != "upsert" && p.numInputRows > 0)
    val last = stateful.groupBy(_.name).values.map(_.maxBy(_.batchId)).toSeq
    ctx.namedLayer("streaming.state_rows", last.flatMap(_.stateOperators).map(_.numRowsTotal).sum.toDouble, "rows")
    ctx.namedLayer("streaming.state_bytes", last.flatMap(_.stateOperators).map(_.memoryUsedBytes).sum.toDouble, "bytes")
    ctx.namedLayer("streaming.state_partitions",
      last.flatMap(_.stateOperators).map(_.numShufflePartitions).sum.toDouble, "count")
    ctx.namedLayer("streaming.state_commit_ms",
      Stats.medianOr(stateful.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble), 0), "ms")
    val (b, f) = Ctx.bytesAndFiles(java.nio.file.Paths.get(ck))
    ctx.namedLayer("streaming.checkpoint_bytes", b.toDouble, "bytes")
    ctx.namedLayer("streaming.checkpoint_files", f.toDouble, "count")
    ctx.namedLayer("streaming.rows_per_batch", Stats.medianOr(
      upsert.filter(p => drainBatches.contains(p.batchId)).map(_.numInputRows.toDouble), 0), "rows")
    ctx.namedLayer("merge.stream_merge_ms",
      Stats.medianOr(Trace.named("merge", "stream_merge").map(_.ms), 0), "ms")
    def ms(layer: String, n: String): Double = Stats.medianOr(Trace.named(layer, n).map(_.ms), Double.NaN)
    ctx.namedLayer("sync.partitioned_ms", ms("sync", "partitioned"), "ms")
    ctx.namedLayer("sync.partitions_rewritten", Option(new java.io.File(twin).list())
      .map(_.count(_.startsWith("part_date=")).toDouble).getOrElse(0.0), "count")
    ctx.namedLayer("quality.checks_ms", ms("quality", "checks"), "ms")
    ctx.namedLayer("quality.reconcile_ms", ms("quality", "reconcile"), "ms")
  }
}
