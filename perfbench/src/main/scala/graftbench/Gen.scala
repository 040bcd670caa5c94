package graftbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.sql.Timestamp
import scala.util.Random

/** Seeded input generators. The same seed gives the same rows. Tables
  * follow the column names and types of the repo's star/events/documents/
  * embeddings test tables, so every layer function runs unchanged on them.
  */
object Gen {

  /** Uniform long in [0, n) from the seed, a salt and the given columns. */
  private def u(seed: Long, salt: Int, n: Long, cs: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: cs): _*), lit(n))

  private def pick(xs: Seq[String], i: Column): Column = element_at(array(xs.map(lit): _*), i.cast("int") + 1)

  private def day(base: String, plus: Column): Column =
    date_add(lit(base).cast("date"), plus.cast("int")).cast("timestamp_ntz")

  /** The view DAG's star with a seeded restatement: a seeded share of work
    * items gets later snapshot rows, and a seeded share of line rows is
    * ingested twice. Returns table name -> frame (not yet written).
    */
  def star(spark: SparkSession, seed: Long, orders: Int): Seq[(String, DataFrame)] = {
    val o = orders.toLong
    val c = math.max(o / 10, 100L)
    val s = math.max(o / 150, 50L)
    val p = math.max(o * 2 / 15, 100L)
    val id = col("id")
    val region = spark.range(5).select(id.cast("int").as("r_regionkey"),
      pick(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"), id).as("r_name"))
    val nation = spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), (id % 5).cast("int").as("n_regionkey"))
    val customer = spark.range(c).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"), u(seed, 1, 25, id).cast("int").as("c_nationkey"),
      ((u(seed, 2, 1100000, id) - 100000) / 100.0).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), u(seed, 3, 5, id))
        .as("c_mktsegment"))
    val supplier = spark.range(s).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"), u(seed, 4, 25, id).cast("int").as("s_nationkey"),
      ((u(seed, 5, 1100000, id) - 100000) / 100.0).as("s_acctbal"))
    val ordersDf = spark.range(o).select(id.as("o_orderkey"), u(seed, 10, c, id).as("o_custkey"),
      pick(Seq("O", "F", "P"), u(seed, 11, 3, id)).as("o_orderstatus"),
      ((u(seed, 12, 50000000, id) + 100000) / 100.0).as("o_totalprice"),
      day("1992-01-01", u(seed, 13, 2400, id)).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), u(seed, 14, 5, id))
        .as("o_orderpriority"))
    val base = spark.range(o * 4).select(id, u(seed, 20, o, id).as("l_orderkey"),
      u(seed, 21, p, id).as("l_partkey"), u(seed, 22, s, id).as("l_suppkey"),
      (u(seed, 23, 7, id) + 1).cast("int").as("l_linenumber"),
      (u(seed, 24, 50, id) + 1).cast("double").as("l_quantity"),
      ((u(seed, 25, 10000000, id) + 90000) / 100.0).as("l_extendedprice"),
      (u(seed, 26, 11, id) / 100.0).as("l_discount"), (u(seed, 27, 9, id) / 100.0).as("l_tax"),
      pick(Seq("A", "N", "R"), u(seed, 28, 3, id)).as("l_returnflag"),
      pick(Seq("O", "F"), u(seed, 29, 2, id)).as("l_linestatus"),
      day("1992-01-02", u(seed, 30, 2520, id)).as("l_shipdate"))
    // later snapshots of 15% of work items: the same lines re-reported on
    // a later date with restated hours
    val snaps = base.filter(u(seed, 31, 100, col("l_orderkey")) < 15)
      .withColumn("l_shipdate", (col("l_shipdate").cast("date") +
        (u(seed, 32, 45, id) + 1).cast("int")).cast("timestamp_ntz"))
      .withColumn("l_quantity", (u(seed, 33, 50, id) + 1).cast("double"))
    // 5% of line rows ingested twice
    val dups = base.filter(u(seed, 34, 100, id) < 5)
    val lineitem = base.unionAll(snaps).unionAll(dups).drop("id")
    Seq("region" -> region, "nation" -> nation, "customer" -> customer, "supplier" -> supplier,
      "orders" -> ordersDf, "lineitem" -> lineitem)
  }

  // ---- events-shaped extracts (daily_sync, stream_sync) -----------------

  val eventSchema: StructType = StructType.fromDDL(
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, " +
      "props STRING, ingest_day INT")

  private val types = Array("view", "click", "purchase", "error", "signup")
  private val day0 = java.time.LocalDateTime.of(2024, 3, 1, 0, 0).toEpochSecond(java.time.ZoneOffset.UTC)

  /** Event row on `dayIdx` (days after 2024-03-01, may be negative). */
  def event(r: Random, id: Long, dayIdx: Int, ingest: Int): Row = {
    val secs = day0 + dayIdx * 86400L + r.nextInt(86400)
    val props = new String(Array.fill(96)((r.nextInt(26) + 'a').toChar))
    Row(id, Timestamp.from(java.time.Instant.ofEpochSecond(secs)), (r.nextInt(5000)).toLong,
      types(r.nextInt(types.length)), r.nextInt(100000) / 100.0, props, ingest)
  }

  /** `row` restated on ingest day `ingest`: same key and timestamp, new value. */
  def restate(r: Random, row: Row, ingest: Int): Row =
    Row(row.getLong(0), row.get(1), row.getLong(2), row.getString(3),
      r.nextInt(100000) / 100.0, row.getString(5), ingest)

  // ---- near-duplicate corpus (near_dup) ---------------------------------

  val docSchema: StructType = StructType.fromDDL(
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")

  private def vocab(seed: Long): Array[String] = {
    val r = new Random(seed ^ 0x5eedL)
    Array.fill(1200)(new String(Array.fill(3 + r.nextInt(6))((r.nextInt(26) + 'a').toChar)))
  }

  final class Corpus(seed: Long) {
    private val words = vocab(seed)
    private val langs = Array("en", "de", "fr", "zh")

    def doc(r: Random, id: Long): Row = text(id, Array.fill(30 + r.nextInt(50))(words(r.nextInt(words.length))), r)

    /** A near copy of `src` under a new id: one or two words replaced. */
    def nearCopy(r: Random, id: Long, src: Row): Row = {
      val ws = src.getString(1).split(" ")
      (0 until 1 + r.nextInt(2)).foreach(_ => ws(r.nextInt(ws.length)) = words(r.nextInt(words.length)))
      text(id, ws, r)
    }

    private def text(id: Long, ws: Array[String], r: Random): Row = {
      val t = ws.mkString(" ")
      Row(id, t, langs(r.nextInt(langs.length)), s"src${r.nextInt(8)}", t.length.toLong)
    }
  }

  val embSchema: StructType = StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")

  /** Clustered 64-d vectors: `n` vectors around 16 seeded centers; every
    * tenth vector is a noisy copy of an earlier one.
    */
  def embeddings(seed: Long, n: Int): Seq[Row] = {
    val r = new Random(seed ^ 0xe3bL)
    val centers = Array.fill(16)(Array.fill(64)(r.nextGaussian().toFloat * 0.3f))
    val out = new Array[Row](n)
    (0 until n).foreach { i =>
      val (v, label) =
        if (i % 10 == 9) {
          val src = out(r.nextInt(i))
          (src.getSeq[Float](1).map(x => x + r.nextGaussian().toFloat * 0.01f), src.getInt(2))
        } else {
          val c = r.nextInt(centers.length)
          (centers(c).toSeq.map(x => x + r.nextGaussian().toFloat * 0.1f), c)
        }
      out(i) = Row(i.toLong, v, label)
    }
    out.toSeq
  }
}
