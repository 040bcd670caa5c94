package graftbench

import graft.ann.Pq
import graft.dedup.Dedup
import graft.functions.{MinHashSignature, QuantizedL2, SigMatchCount}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

/** `near_dup`: rounds of a full MinHash-LSH + groups pass over a seeded
  * corpus with planted near-duplicates, one served increment against the
  * persisted LSH index (then folded into it, so the index grows), and an
  * IVF-PQ top-k batch.
  */
final class NearDup(ctx: Ctx, nDocs: Int, nVecs: Int, incDocs: Int) extends Phase {
  val name = "near_dup"
  val opName = "round"
  val quota = 1
  private val spark = ctx.spark
  private val k = 3
  private def idx = ctx.path("tables/lsh_index")
  private val planted = nDocs / 10

  private var corpus: Gen.Corpus = _
  private var rnd: Random = _
  private var docRows: IndexedSeq[Row] = _
  private var nextId = 0L
  private var batch = 0
  /** (increment doc, base doc) near-copies planted in served increments */
  private val servePlanted = mutable.ArrayBuffer[(Long, Long)]()
  private val serveFound = mutable.ArrayBuffer[(Long, Long)]()
  /** index files when each traced serve started */
  private val indexFiles = mutable.ArrayBuffer[Long]()
  private var groups: Map[Long, Long] = Map.empty
  private var annPairs: Set[(Long, Long)] = Set.empty

  private val round = new Samples
  private val dedup = new Samples
  private val serve = new Samples
  private val ann = new Samples

  private def docs: DataFrame = spark.read.parquet(ctx.path("inputs/near_dup/docs"))
  private def emb: DataFrame = spark.read.parquet(ctx.path("inputs/near_dup/emb"))
  /** the tenth of the vectors whose top-k the search keeps and the exact
    * check recomputes */
  private def sampled(id: String) = graft.ops.Sampling.unitHash(col(id)) < 0.1

  /** The base corpus: `nDocs - planted` random docs, then `planted` near
    * copies (doc i + nDocs - planted copies doc i).
    */
  private def baseDocs(c: Gen.Corpus): IndexedSeq[Row] = {
    val r = new Random(ctx.seed ^ 0xd0c5L)
    val orig = (0 until nDocs - planted).map(i => c.doc(r, i.toLong))
    orig ++ (0 until planted).map(i => c.nearCopy(r, (nDocs - planted + i).toLong, orig(i)))
  }

  def generate(rel: String): Unit = {
    val c = new Gen.Corpus(ctx.seed)
    Ctx.inParallel(Seq(
      () => ctx.input("near_dup.docs", spark.createDataFrame(spark.sparkContext.parallelize(
        baseDocs(c), 4), Gen.docSchema), s"$rel/near_dup/docs"),
      () => ctx.input("near_dup.emb", spark.createDataFrame(spark.sparkContext.parallelize(
        Gen.embeddings(ctx.seed, nVecs), 4), Gen.embSchema), s"$rel/near_dup/emb")))
  }

  def prepare(): Unit = {
    corpus = new Gen.Corpus(ctx.seed)
    docRows = baseDocs(corpus)
    rnd = new Random(ctx.seed ^ 0xd0c6L)
    nextId = nDocs.toLong
    Dedup.writeLshIndex(docs, "doc_id", "text", idx)
    fullPass(); serveOne(); annBatch()
    servePlanted.clear(); serveFound.clear()
  }

  private def fullPass(): Map[Long, Long] = {
    val pairs = Trace.span("dedup", "minhash_lsh")(Dedup.minhashLsh(docs, "doc_id", "text"))
    Trace.span("dedup", "groups")(Dedup.dupGroups(pairs).collect())
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** A seeded increment: new docs, a quarter of them near copies of base
    * docs, served against the index and then appended to it. Returns the
    * serve-and-append time.
    */
  private def serveOne(): Double = {
    batch += 1
    val copies = incDocs / 4
    val rows = (0 until incDocs).map { i =>
      nextId += 1
      if (i < copies) {
        val src = rnd.nextInt(nDocs - planted)
        servePlanted += nextId -> src.toLong
        corpus.nearCopy(rnd, nextId, docRows(src))
      } else corpus.doc(rnd, nextId)
    }
    val p = ctx.path(s"inputs/near_dup/inc=$batch")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), Gen.docSchema)
      .write.mode("overwrite").parquet(p)
    if (Trace.on) indexFiles += {
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$idx/sigs"))
      try w.iterator().asScala.count(_.toString.endsWith(".parquet")).toLong finally w.close()
    }
    val t0 = System.nanoTime()
    val inc = spark.read.parquet(p)
    val found = Trace.span("dedup", "serve") {
      Dedup.incrementalLshFromIndex(spark, idx, inc, "doc_id", "text").collect().toSeq
    }
    Trace.span("dedup", "append")(Dedup.appendLshIndex(spark, idx, inc, "doc_id", "text", s"b$batch"))
    val s = Stats.secs(t0)
    found.filter(_.getAs[Boolean]("is_dup")).foreach { r =>
      serveFound += r.getAs[Long]("doc_id") -> r.getAs[Long]("matched_base")
    }
    s
  }

  private def annBatch(): Set[(Long, Long)] = {
    val e = emb
    val (model, coarse) = Trace.span("ann", "train") {
      (Pq.train(e, m = 4, k = 8, iters = 2, sampleRate = 0.5), Pq.coarseTrain(e, Pq.adaptiveNlist(nVecs)))
    }
    Trace.span("ann", "search") {
      Pq.ivfPqTopKLearned(e, k, model, coarse, nprobe = 2).filter(sampled("query_id"))
        .select(col("query_id"), col("neighbor_id")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSet
    }
  }

  /** One round: the full dedup pass, one served increment, one top-k batch. */
  def step(): Unit = {
    val t0 = System.nanoTime()
    ctx.op(name, "round") {
      val (g, sd) = Stats.time(fullPass())
      val ss = serveOne()
      val (p, sa) = Stats.time(annBatch())
      groups = g; annPairs = p
      dedup += sd; serve += ss; ann += sa
    }.foreach(_ => round += Stats.secs(t0))
  }

  private def dedupRecall: Double = {
    val found = (0 until planted).count { i =>
      val a = i.toLong; val b = (nDocs - planted + i).toLong
      groups.get(a).exists(g => groups.get(b).contains(g))
    }
    found.toDouble / planted
  }

  private lazy val exact: Set[(Long, Long)] =
    Pq.exactGlobalTopK(emb, k, sampled("vec_id"))
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet

  private def annRecall: Double = annPairs.intersect(exact).size.toDouble / exact.size

  def check(): Unit = {
    ctx.check(s"$name.dedup_recall_floor")(dedupRecall >= 0.9)
    ctx.check(s"$name.serve_recall_floor")(
      servePlanted.count(p => serveFound.contains(p)).toDouble / servePlanted.size >= 0.8)
    // IVF-PQ with 4x8 codebooks ranks by a coarse distance: recall@3 sits
    // near 0.04 on this corpus, so the floor only catches a broken search
    ctx.check(s"$name.ann_recall_floor")(annRecall >= 0.02)
  }

  def report(): Unit = {
    ctx.metric("op_p50_s", round.median, "s")
    ctx.metric("sub_op_s", serve.median, "s")
    ctx.named("dedup_s", dedup.median, "s")
    ctx.named("serve_p50_s", serve.median, "s")
    ctx.named("ann_topk_s", ann.median, "s")
    ctx.named("dedup_recall", dedupRecall, "ratio")
    ctx.named("ann_recall", annRecall, "ratio")
  }

  def tail: Double = Phase.tail(round)

  /** Rows per second of one native kernel alone: a noop select of it over
    * a pinned input, median of three.
    */
  private def kernelRate(input: DataFrame, kernel: org.apache.spark.sql.Column): Double = {
    val in = input.localCheckpoint(eager = true)
    val n = in.count().toDouble
    val rates = (0 until 3).map { _ =>
      val (_, s) = Stats.time(in.select(kernel.as("k")).write.format("noop").mode("overwrite").save())
      n / s
    }
    Stats.median(rates)
  }

  def layers(): Unit = {
    val reps = spark.range(8).toDF("rep")
    val sh = docs.crossJoin(reps).select(Dedup.shingles(col("text")).as("sh"))
    ctx.namedLayer("functions.minhash_rows_per_s", kernelRate(sh,
      ColumnBridge.column(MinHashSignature(ColumnBridge.expression(col("sh")), 64))), "rows/s")
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", 64).crossJoin(reps)
      .select(col("sig").as("a"), reverse(col("sig")).as("b"))
    ctx.namedLayer("functions.sigmatch_rows_per_s", kernelRate(sigs,
      ColumnBridge.column(SigMatchCount(ColumnBridge.expression(col("a")),
        ColumnBridge.expression(col("b"))))), "rows/s")
    val q = emb.crossJoin(reps).select(Pq.quantize(col("embedding")).as("a"),
      reverse(Pq.quantize(col("embedding"))).as("b"))
    ctx.namedLayer("functions.quantized_l2_rows_per_s", kernelRate(q,
      ColumnBridge.column(QuantizedL2(ColumnBridge.expression(col("a")),
        ColumnBridge.expression(col("b"))))), "rows/s")

    def ms(layer: String, n: String): Double = Stats.medianOr(Trace.named(layer, n).map(_.ms), Double.NaN)
    ctx.namedLayer("dedup.groups_ms", ms("dedup", "groups"), "ms")
    ctx.namedLayer("dedup.serve_ms", ms("dedup", "serve"), "ms")
    ctx.namedLayer("dedup.append_ms", ms("dedup", "append"), "ms")
    // candidate pairs are the LSH collisions a zero threshold keeps; verified
    // pairs are those that pass the default similarity threshold
    val candidates = Dedup.minhashLsh(docs, "doc_id", "text", threshold = 0.0).count().toDouble
    val verified = Dedup.minhashLsh(docs, "doc_id", "text").count().toDouble
    graft.ops.PinnedCaches.releaseFor(spark)
    ctx.namedLayer("dedup.candidates", candidates, "count")
    ctx.namedLayer("dedup.verified", verified, "count")
    ctx.namedLayer("dedup.candidate_precision", verified / candidates, "ratio")
    val serves = Trace.named("dedup", "serve")
    ctx.namedLayer("dedup.index_files_read_ratio", Stats.medianOr(serves.zip(indexFiles).map {
      case (s, n) => Trace.plans(s).flatMap(_.scans).filter(_._1.contains("lsh_index")).map(_._2).sum.toDouble / n
    }, Double.NaN), "ratio")
    ctx.namedLayer("dedup.serve_scan_bytes", Stats.medianOr(serves.map(s =>
      Trace.totals(s).map(_.inputBytes).sum.toDouble), Double.NaN), "bytes")
    ctx.namedLayer("ann.train_ms", ms("ann", "train"), "ms")
    ctx.namedLayer("ann.search_ms", ms("ann", "search"), "ms")
    ctx.namedLayer("ann.pairs_scored", Stats.medianOr(Trace.named("ann", "search").map(s =>
      Trace.plans(s).map(_.joinRows).sum.toDouble), Double.NaN), "count")
  }
}
