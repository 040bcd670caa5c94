package graftbench

import graft.views.ViewDag
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbench.{PlanStats, TaskTotals}

import scala.collection.mutable

/** `view_refresh`: materialize the whole view DAG to a noop sink over the
  * seeded star, one refresh at a time.
  */
final class ViewRefresh(ctx: Ctx, orders: Int) extends Phase {
  val name = "view_refresh"
  val opName = "refresh"
  val quota = 1
  private val spark = ctx.spark
  private def dir = ctx.path("inputs/star")
  private val tables = Seq("lineitem", "orders", "customer", "nation", "region", "supplier")
  /** view -> the query name its DuckDB oracle is registered under */
  private val oracleNames = Seq("latest" -> "v_latest_snapshot", "corrected" -> "v_corrected",
    "v4" -> "v4_work_item_tracking", "v5" -> "v5_individual_budget",
    "fallback" -> "v5_fallback_budget")
  private val refresh = new Samples
  private val perView = mutable.Map[String, Samples]()
  private val planMs = new Samples

  def generate(rel: String): Unit =
    Ctx.inParallel(Gen.star(spark, ctx.seed, orders).map { case (t, df) => () =>
      ctx.input(s"star.$t", if (t == "lineitem" || t == "orders") df else df.coalesce(1), s"$rel/star/$t")
    })

  private def views(): Seq[(String, DataFrame)] = {
    val t = tables.map(n => n -> spark.read.parquet(s"$dir/$n")).toMap
    val (li, o) = (t("lineitem"), t("orders"))
    Seq(
      "latest" -> ViewDag.latestView(li, o),
      "corrected" -> ViewDag.correctedView(li, o),
      "v4" -> ViewDag.v4View(li, o, t("customer"), t("nation"), t("region")),
      "v5" -> ViewDag.v5View(li, o, t("customer"), t("nation"), t("region"), t("supplier")),
      "fallback" -> ViewDag.v5Fallback(li, o))
  }

  /** The warm-up refresh writes each view as parquet: the output the
    * oracle check compares against.
    */
  def prepare(): Unit = {
    val names = oracleNames.toMap
    views().foreach { case (v, df) =>
      df.write.mode("overwrite").parquet(ctx.path(s"check/views/${names(v)}"))
    }
  }

  def step(): Unit = ctx.op(name, "refresh") {
    val t0 = System.nanoTime()
    views().foreach { case (v, df) =>
      val s0 = System.nanoTime()
      Trace.span("views", v) {
        if (v == "v5" && Trace.on) {
          val p0 = System.nanoTime()
          df.queryExecution.executedPlan
          planMs += (System.nanoTime() - p0) / 1e6
        }
        df.write.format("noop").mode("overwrite").save()
      }
      perView.getOrElseUpdate(v, new Samples) += Stats.secs(s0)
    }
    refresh += Stats.secs(t0)
  }

  /** The oracle SQL the runner replays in DuckDB over the same generated
    * tables, to compare with the views written in [[prepare]].
    */
  def check(): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val entries = oracleNames.map { case (_, q) => s"${Json.str(q)}:${Json.str(sql(q))}" }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(ctx.path("check/views.json")),
      s"""{"tables_dir":${Json.str(dir)},"tables":[${tables.map(Json.str).mkString(",")}],""" +
        s""""views_dir":${Json.str(ctx.path("check/views"))},"oracles":{${entries.mkString(",")}}}""")
  }

  def report(): Unit = {
    ctx.metric("op_p50_s", refresh.median, "s")
    ctx.metric("sub_op_s", perView.getOrElse("v5", new Samples).median, "s")
    ctx.named("refresh_s", refresh.median, "s")
    perView.toSeq.sortBy(_._1).foreach { case (v, s) => ctx.named(s"${v}_s", s.median, "s") }
  }

  def tail: Double = Phase.tail(refresh)

  def layers(): Unit = {
    Seq("latest", "corrected", "v4", "v5", "fallback").foreach { v =>
      ctx.namedLayer(s"views.${v}_s", Stats.medianOr(Trace.named("views", v).map(_.ms / 1000), Double.NaN), "s")
    }
    ctx.namedLayer("views.v5_plan_ms", planMs.median, "ms")
    // Spark work per refresh, summed over the five view spans
    val refreshes = Trace.named(name, "refresh")
    def perRefresh(f: Span => Double): Double = Stats.medianOr(refreshes.map(f), Double.NaN)
    def tasks(f: TaskTotals => Long)(s: Span): Double = Trace.totals(s).map(f).sum.toDouble
    def plans(f: PlanStats => Double)(s: Span): Double = Trace.plans(s).map(f).sum
    ctx.namedLayer("views.jobs", perRefresh(tasks(_.jobCount)), "count")
    ctx.namedLayer("views.tasks", perRefresh(tasks(_.tasks)), "count")
    ctx.namedLayer("sources.scan_bytes", perRefresh(tasks(_.inputBytes)), "bytes")
    ctx.namedLayer("sources.files_read", perRefresh(plans(_.scans.map(_._2).sum.toDouble)), "count")
    ctx.namedLayer("views.shuffle_bytes", perRefresh(tasks(_.shuffleWriteBytes)), "bytes")
    ctx.namedLayer("views.broadcast_bytes", perRefresh(plans(_.broadcastBytes.toDouble)), "bytes")
    ctx.namedLayer("views.broadcast_build_ms", perRefresh(plans(_.broadcastBuildMs.toDouble)), "ms")
    ctx.namedLayer("views.spill_bytes", perRefresh(tasks(_.spillBytes)), "bytes")
    ctx.namedLayer("views.gc_ms", perRefresh(tasks(_.gcMs)), "ms")
    val v5 = Trace.named("views", "v5")
    ctx.namedLayer("views.v5_lineitem_scans", Stats.medianOr(v5.map(s =>
      Trace.plans(s).flatMap(_.scans).count(_._1.endsWith("/star/lineitem")).toDouble), Double.NaN), "count")
    ctx.namedLayer("views.task_skew", Stats.medianOr(v5.map { s =>
      val stages = Trace.totals(s).flatMap(_.stages.values).filter(_._2.nonEmpty)
      if (stages.isEmpty) 1.0 else {
        val (_, runs) = stages.maxBy(_._1)
        runs.max.toDouble / math.max(1.0, Stats.median(runs.map(_.toDouble).toSeq))
      }
    }, Double.NaN), "ratio")
  }
}
