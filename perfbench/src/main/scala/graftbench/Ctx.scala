package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Samples of one timed quantity. */
final class Samples {
  val xs = mutable.ArrayBuffer[Double]()
  def +=(x: Double): Unit = xs += x
  def n: Int = xs.size
  /** NaN (reported as null) when every timed operation failed */
  def median: Double = Stats.medianOr(xs.toSeq, Double.NaN)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Total length of the union of [a, b) intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Double = {
    var end = Long.MinValue
    var total = 0L
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (b > end) { total += b - math.max(a, end); end = b }
    }
    total.toDouble
  }

  def medianOr(xs: Seq[Double], dflt: Double): Double = if (xs.isEmpty) dflt else median(xs)

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, secs(t0))
  }
}

/** Run-wide state: the session, the per-run work dir, operation and check
  * counts, and the metrics each workload reports.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val work: String) {
  val inputs = mutable.LinkedHashMap[String, (Long, Long)]()
  val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  val layers = mutable.LinkedHashMap[String, (Double, String)]()
  /** the workload's own metrics, reported as context */
  val namedMetrics = mutable.LinkedHashMap[String, (Double, String)]()
  val namedLayers = mutable.LinkedHashMap[String, (Double, String)]()
  val checks = mutable.LinkedHashMap[String, Boolean]()
  var attempted = 0L
  var failed = 0L
  var pinnedMax = 0
  var cachedBytesMax = 0L

  def path(rel: String): String = s"$work/$rel"

  /** Write a generated input as parquet and record its rows and bytes. */
  def input(name: String, df: DataFrame, rel: String): String = {
    val p = path(rel)
    val rows = org.apache.spark.sql.Observation()
    df.observe(rows, count(lit(1)).as("n")).write.mode("overwrite").parquet(p)
    val size = (rows.get("n").asInstanceOf[Long], Ctx.bytes(p))
    inputs.synchronized { inputs(name) = size }
    p
  }

  /** One workload operation: counted, traced, and on failure counted as
    * failed. Pinned frames and cached bytes are sampled after it, then the
    * operators' pins are released, as a long-lived service would between
    * requests.
    */
  def op[T](workload: String, name: String)(f: => T): Option[T] = {
    attempted += 1
    val r = try Some(Trace.op(workload, name)(f)) catch {
      case scala.util.control.NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] $workload.$name failed: $e")
        None
    }
    if (Trace.on) {
      pinnedMax = math.max(pinnedMax, graft.ops.PinnedCaches.pinnedCount)
      cachedBytesMax = math.max(cachedBytesMax,
        spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
    }
    graft.ops.PinnedCaches.releaseFor(spark)
    r
  }

  /** A correctness check, run outside the timed region; a failed check
    * counts as a failed operation.
    */
  def check(name: String)(ok: => Boolean): Unit = {
    attempted += 1
    val pass = try ok catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] check $name threw: $e"); false
    }
    if (!pass) { failed += 1; System.err.println(s"[perfbench] check $name FAILED") }
    checks(name) = pass
  }

  def metric(name: String, v: Double, unit: String): Unit = e2e(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = layers(name) = (v, unit)
  def named(name: String, v: Double, unit: String): Unit = namedMetrics(name) = (v, unit)
  def namedLayer(name: String, v: Double, unit: String): Unit = namedLayers(name) = (v, unit)
}

object Ctx {
  /** Run independent set-up writes at once: small writes are bound by
    * per-job driver cost, which overlaps across threads.
    */
  def inParallel(fs: Seq[() => Any]): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.sequence(fs.map(f => Future(f()))), Duration.Inf)
  }

  def bytes(p: String): Long = bytesAndFiles(Paths.get(p))._1

  def bytesAndFiles(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((b, n), f) => (b + Files.size(f), n + 1) }
      finally s.close()
    }

  def rmrf(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
      finally s.close()
    }
  }
}
