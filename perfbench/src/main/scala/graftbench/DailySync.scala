package graftbench

import graft.merge.Versioned
import graft.quality.{QualityChecks, Reconciliation}
import graft.sync.SyncPipeline
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import scala.collection.mutable
import scala.util.Random

/** `daily_sync`: one scheduled sync per seeded day — partitioned parquet
  * sync, MERGE into a versioned table, stale-key deletes, quality and
  * reconciliation checks, maintenance every third day — with point, range and
  * time-travel reads between cycles.
  */
final class DailySync(ctx: Ctx, baseRows: Int, newPerDay: Int) extends Phase {
  val name = "daily_sync"
  val opName = "cycle"
  val quota = 2
  private val spark = ctx.spark
  private val restatePerDay = newPerDay / 5
  private val stalePerDay = newPerDay / 20
  private val baseDays = 30
  private def target = ctx.path("tables/sync_target")
  private def vroot = ctx.path("tables/events_v")

  // the reference model: latest row per key minus deletes, kept in the
  // driver from the generated extracts alone
  private val model = mutable.LongMap[Row]()
  private val dayKeys = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private var rnd: Random = _
  private var nextId = 0L
  private var day = 0
  /** day -> (table version after it, model digest) */
  private val snapshots = mutable.Map[Int, (Int, (Long, Long, Long))]()

  private val cycle = new Samples
  private val reads = new Samples
  private val extractBytes = mutable.Map[Int, Long]()
  private val rewritten = mutable.Map[Int, Int]()
  private val returned = mutable.ArrayBuffer[(String, Long)]() // (kind, rows) per timed read

  private def dayStr(d: Int): String = java.time.LocalDate.of(2024, 3, 1).plusDays(d.toLong).toString

  def generate(rel: String): Unit = {
    val r = new Random(ctx.seed ^ 0xda11L)
    val rows = (0 until baseRows).map(i => Gen.event(r, i.toLong, -1 - r.nextInt(baseDays), -1))
    ctx.input("events.base", spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      Gen.eventSchema), s"$rel/events/base")
  }

  def prepare(): Unit = {
    rnd = new Random(ctx.seed ^ 0xda12L)
    val base = spark.read.parquet(ctx.path("inputs/events/base"))
    base.collect().foreach { row =>
      model(row.getLong(0)) = row
      dayKeys.getOrElseUpdate(dayIdx(row), mutable.ArrayBuffer()) += row.getLong(0)
    }
    nextId = baseRows.toLong
    SyncPipeline.incrementalSyncPartitioned(spark, base, target, Seq("event_id"), "ts",
      dayStr(-baseDays), dayStr(-1), name)
    Versioned.appendWithStats(base, vroot, Seq("event_id", "ts"), bloomCols = Seq("event_id"))
    snapshots(-1) = (Versioned.currentVersion(vroot).get.n, digest())
    // an untimed day warms every path of the cycle and the reads
    runDay(timed = false); readMix(timed = false)
  }

  private def dayIdx(row: Row): Int =
    Math.floorDiv(row.getTimestamp(1).getTime / 1000 - 1709251200L, 86400L).toInt

  private def digest(): (Long, Long, Long) =
    (model.size.toLong, model.keysIterator.sum, model.valuesIterator.map(_.getInt(6).toLong).sum)

  /** The day's extract: new keys, restatements of keys from the last five
    * days, and the stale keys this day deletes.
    */
  private def extract(d: Int): (Seq[Row], Seq[Long]) = {
    val fresh = (0 until newPerDay).map { _ => nextId += 1; Gen.event(rnd, nextId, d, d) }
    val recent = (d - 5 until d).flatMap(x => dayKeys.getOrElse(x, Nil)).distinct.filter(model.contains)
    val restated = if (recent.isEmpty) Nil else
      rnd.shuffle(recent).take(restatePerDay).map(k => Gen.restate(rnd, model(k), d))
    val touched = restated.map(_.getLong(0)).toSet
    val live = model.keysIterator.filterNot(touched).toIndexedSeq
    val stale = (0 until stalePerDay).map(_ => live(rnd.nextInt(live.size))).distinct
    (fresh ++ restated, stale)
  }

  private def runDay(timed: Boolean): Unit = {
    val d = day
    day += 1
    val (rows, stale) = extract(d)
    val p = ctx.path(s"inputs/events/day=$d")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), Gen.eventSchema)
      .write.mode("overwrite").parquet(p)
    extractBytes(d) = Ctx.bytes(p)
    val start = d - 5
    val existing = Option(new java.io.File(target).list()).map(_.toSet).getOrElse(Set.empty[String])
    rewritten(d) = (start to d).count(x => existing.contains(s"part_date=${dayStr(x)}"))
    def body(): Unit = {
      val ext = spark.read.parquet(p)
      Trace.span("sync", "partitioned") {
        SyncPipeline.incrementalSyncPartitioned(spark, ext, target, Seq("event_id"), "ts",
          dayStr(start), dayStr(d), name)
      }
      Trace.span("merge", "merge") {
        Versioned.mergeInto(spark, vroot, ext, Seq("event_id"), Some("ingest_day"))
      }
      Trace.span("merge", "delete") {
        Versioned.deleteWhereDV(spark, vroot, col("event_id").isin(stale: _*))
      }
      Trace.span("quality", "checks") {
        QualityChecks.run(Seq(
          QualityChecks.TableCheck("events_v", Versioned.read(spark, vroot), Seq("event_id"),
            Some("ts"), "user_id", QualityChecks.Thresholds(maxAgeHours = 24 * 3)),
          QualityChecks.TableCheck("extract", ext, Seq("event_id"), Some("ts"), "user_id",
            QualityChecks.Thresholds(minRows = 1, maxAgeHours = 24 * 6))),
          lit(dayStr(d)).cast("date")).collect()
      }
      Trace.span("quality", "reconcile") {
        Reconciliation.analyze(
          spark.read.parquet(target).select(col("event_id").as("WORK_ITEM_ID")),
          Versioned.read(spark, vroot).select(col("event_id").as("WORK_ITEM_ID"))).collect()
      }
      if (d % 3 == 2) Trace.span("merge", "maintain") {
        if (d % 6 == 5) Versioned.compact(spark, vroot, 4) else Versioned.purgeDeletes(spark, vroot)
      }
    }
    if (timed) {
      val t0 = System.nanoTime()
      if (ctx.op(name, "cycle")(body()).isDefined) cycle += Stats.secs(t0)
    } else body()
    rows.foreach { r =>
      model(r.getLong(0)) = r
      dayKeys.getOrElseUpdate(d, mutable.ArrayBuffer()) += r.getLong(0)
    }
    stale.foreach(model.remove)
    snapshots(d) = (Versioned.currentVersion(vroot).get.n, digest())
  }

  private def rowSet(rs: Seq[Row]): Set[Seq[Any]] = rs.map(_.toSeq).toSet

  /** Six point reads, two two-hour range reads and one time-travel read,
    * each timed alone and checked against the model.
    */
  private def readMix(timed: Boolean): Unit = {
    val keys = model.keysIterator.toIndexedSeq
    def one[T](kind: String)(open: => DataFrame)(run: DataFrame => T)(rows: T => Long)(
        ok: T => Boolean): Unit = {
      val t0 = System.nanoTime()
      val res = if (!timed) Some(run(open)) else ctx.op(name, s"read_$kind") {
        run(Trace.span("merge", "open")(open))
      }
      val dt = Stats.secs(t0)
      res.foreach { out =>
        if (timed) { reads += dt; returned += kind -> rows(out) }
        if (!ok(out)) ctx.check(s"$name.read_$kind")(false)
      }
    }
    (0 until 6).foreach { _ =>
      val k = if (rnd.nextInt(4) == 0) rnd.nextLong(nextId + 1) else keys(rnd.nextInt(keys.size))
      one("point")(Versioned.readEquals(spark, vroot, "event_id", k))(_.collect().toSeq)(_.size) { rs =>
        rowSet(rs) == model.get(k).map(r => Set(r.toSeq)).getOrElse(Set.empty)
      }
    }
    (0 until 2).foreach { _ =>
      val lo = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        1709251200L + (rnd.nextInt(day + baseDays) - baseDays) * 86400L + rnd.nextInt(22) * 3600L))
      val hi = new java.sql.Timestamp(lo.getTime + 2 * 3600 * 1000L)
      one("range")(Versioned.readWhere(spark, vroot, col("ts").between(lit(lo), lit(hi))))(
        _.collect().toSeq)(_.size) { rs =>
        rowSet(rs) == rowSet(model.valuesIterator.filter { r =>
          val t = r.getTimestamp(1); !t.before(lo) && !t.after(hi)
        }.toSeq)
      }
    }
    val past = snapshots.keys.toIndexedSeq.sorted
    val at = past(rnd.nextInt(past.size))
    val (v, dg) = snapshots(at)
    one("asof")(Versioned.read(spark, vroot, Some(v)))(
      _.agg(count(lit(1)), sum(col("event_id")), sum(col("ingest_day").cast("long"))).head())(
      _.getLong(0)) { r =>
      (r.getLong(0), r.getLong(1), r.getLong(2)) == dg
    }
  }

  def step(): Unit = { runDay(timed = true); readMix(timed = true) }

  def check(): Unit = {
    ctx.check(s"$name.final_table") {
      val got = Versioned.read(spark, vroot).collect()
      val bad = got.filterNot(r => model.get(r.getLong(0)).exists(_.toSeq == r.toSeq))
      val missing = model.keySet -- got.map(_.getLong(0))
      if (bad.nonEmpty || missing.nonEmpty || got.length != model.size)
        System.err.println(s"[perfbench] $name table: ${got.length} rows, model ${model.size}; " +
          s"${bad.length} differ (e.g. ${bad.take(2).map(r => s"$r vs ${model.get(r.getLong(0))}").mkString("; ")}); " +
          s"${missing.size} missing (e.g. ${missing.take(3).mkString(",")})")
      bad.isEmpty && missing.isEmpty && got.length == model.size
    }
  }

  private def liveBytes(): Long = {
    val v = Versioned.currentVersion(vroot).get
    val sidecars = v.dvs.valuesIterator.flatten.map(_._1).toSet
    v.files.map(f => v.sizes.getOrElse(f, Ctx.bytes(s"$vroot/$f"))).sum +
      sidecars.toSeq.map(s => if (s.startsWith("/") || s.contains(":")) Ctx.bytes(s.stripPrefix("file:"))
        else Ctx.bytes(s"$vroot/$s")).sum
  }

  def report(): Unit = {
    ctx.metric("op_p50_s", cycle.median, "s")
    ctx.metric("sub_op_s", reads.median, "s")
    ctx.named("sync_p50_s", cycle.median, "s")
    ctx.named("sync_tail_s", tail, "s")
    ctx.named("read_p50_ms", reads.median * 1000, "ms")
    ctx.named("read_tail_ms", Phase.tail(reads) * 1000, "ms")
    val compact = ctx.path("tmp/compact")
    Versioned.read(spark, vroot).coalesce(1).write.mode("overwrite").parquet(compact)
    ctx.named("stored_bytes_ratio", liveBytes().toDouble / Ctx.bytes(compact), "ratio")
    Ctx.rmrf(compact)
  }

  def tail: Double = Phase.tail(cycle)

  def layers(): Unit = {
    def med(layer: String, n: String): Double = Stats.medianOr(Trace.named(layer, n).map(_.ms), 0)
    ctx.namedLayer("merge.merge_ms", med("merge", "merge"), "ms")
    ctx.namedLayer("merge.delete_ms", med("merge", "delete"), "ms")
    ctx.namedLayer("merge.maintain_ms", med("merge", "maintain"), "ms")
    ctx.namedLayer("sync.partitioned_ms", med("sync", "partitioned"), "ms")
    ctx.namedLayer("quality.checks_ms", med("quality", "checks"), "ms")
    ctx.namedLayer("quality.reconcile_ms", med("quality", "reconcile"), "ms")
    ctx.namedLayer("merge.open_ms", med("merge", "open"), "ms")
    ctx.namedLayer("merge.jobs_per_cycle", Stats.medianOr(Trace.named(name, "cycle").map(s =>
      Trace.totals(s).map(_.jobCount).sum.toDouble), Double.NaN), "count")
    ctx.namedLayer("sync.partitions_rewritten", Stats.median(rewritten.values.map(_.toDouble).toSeq), "count")
    val merges = Trace.named("merge", "merge")
    val days = extractBytes.keys.toSeq.sorted.takeRight(merges.size)
    ctx.namedLayer("merge.write_amp", Stats.median(merges.zip(days).map { case (s, d) =>
      Trace.totals(s).map(_.outputBytes).sum.toDouble / extractBytes(d)
    }), "ratio")
    val vs = Versioned.versions(vroot)
    val added = vs.sliding(2).collect { case Seq(a, b) if b.op.startsWith("merge") =>
      b.files.toSet.diff(a.files.toSet).size.toDouble
    }.toSeq
    ctx.namedLayer("merge.files_per_commit", Stats.medianOr(added, 0), "count")
    val head = vs.last
    ctx.namedLayer("merge.live_files", head.files.size.toDouble, "count")
    ctx.namedLayer("merge.dv_files", head.dvs.count(_._2.nonEmpty).toDouble, "count")
    // timed reads and their root spans are both in run order
    val readOps = Trace.spans.filter(s => s.layer == name && s.name.startsWith("read_"))
    val scanned = readOps.zip(returned).map { case (s, (kind, n)) =>
      val scans = Trace.plans(s).flatMap(_.scans).filter(_._1.contains("events_v"))
      (kind, scans.map(_._2).sum.toDouble, scans.map(_._4).sum.toDouble, n)
    }
    ctx.namedLayer("merge.read_files_ratio",
      Stats.medianOr(scanned.map(_._2 / head.files.size), 0), "ratio")
    ctx.namedLayer("merge.read_rows_ratio", Stats.medianOr(scanned.filter(_._1 != "asof")
      .map(x => x._3 / math.max(1L, x._4)), 0), "ratio")
  }
}
