package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, count, lit}

import graft.operators.IncrementalDedup
import graft.streaming.DedupIndexStream

/** `dedup_stream`: closed loop, one client. One op = one
  * `DedupIndexStream.applyBatch` over a seeded batch of (doc_id, tokens), a
  * quarter of them near-copies of earlier docs; every `compactEvery`
  * batches a `compactIndex` runs, as a deployment would. The index grows
  * through the run, so the per-batch cost against batch number is
  * reported too.
  */
object DedupStream extends Main.Workload {
  val tailP = 0.75
  private val docsPerBatch = 300
  private val compactEvery = 5
  private val warmupBatches = 2
  private val setupReps = 3
  private val threshold = 0.5
  /** Measured batches per second of `--seconds` (a fixed count). */
  private val batchesPerSecond = 1.0

  private def batchDf(spark: SparkSession, docs: Seq[Gen.Doc]): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.id, d.tokens)).toDF("doc_id", "tokens")
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val nOps = math.max(6, math.round(ctx.seconds * batchesPerSecond).toInt)
    val batches = Gen.dedupBatches(ctx.seed, warmupBatches + nOps, docsPerBatch)

    // set-up: a fresh index seeded with the first (warm-up) batch, several times
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var dir: Path = null
    (0 until setupReps).foreach { k =>
      val t0 = System.nanoTime()
      dir = ctx.work.resolve(s"dedup-$k")
      DedupIndexStream.applyBatch(spark, batchDf(spark, batches.head),
        dir.resolve("index").toString, dir.resolve("pairs").toString, threshold, "b0")
      setupTimes += (System.nanoTime() - t0) / 1e9
    }
    val indexDir = dir.resolve("index").toString
    val pairsDir = dir.resolve("pairs").toString
    val t = ctx.tracer
    def apply(b: Int): Unit = {
      val df = batchDf(spark, batches(b))
      if (ctx.trace) t("streaming.index_load")(
        DedupIndexStream.loadIndex(spark, indexDir).foreach(_.counts.count()))
      t("operators.dedup")(
        DedupIndexStream.applyBatch(spark, df, indexDir, pairsDir, threshold, s"b$b"))
    }
    val warm0 = System.nanoTime()
    (1 until warmupBatches).foreach(apply)
    val warmS = (System.nanoTime() - warm0) / 1e9
    ctx.probes.foreach(_.take())

    val log = new OpLog
    val compactS = mutable.ArrayBuffer.empty[Double]
    val aggs = mutable.ArrayBuffer.empty[Probes#Agg]
    val pairsPer = mutable.ArrayBuffer.empty[Double]
    val phase0 = System.nanoTime()
    (warmupBatches until warmupBatches + nOps).foreach { b =>
      t.op = b
      log.timed(apply(b))
      ctx.probes.foreach(p => aggs += p.take())
      if (ctx.trace) {
        val p = java.nio.file.Paths.get(pairsDir, s"batch=b$b")
        pairsPer += (if (Files.isDirectory(p)) spark.read.parquet(p.toString).count() else 0L)
      }
      if ((b + 1) % compactEvery == 0) {
        val c0 = System.nanoTime()
        t("streaming.compact")(DedupIndexStream.compactIndex(spark, indexDir))
        compactS += (System.nanoTime() - c0) / 1e9
        ctx.probes.foreach(_.take())
      }
    }
    val phaseS = (System.nanoTime() - phase0) / 1e9

    // ---- output checks ----------------------------------------------------
    val allDocs = batches.flatten
    val idx = DedupIndexStream.loadIndex(spark, indexDir).get
    def perDoc(hashes: DataFrame): Map[Long, (Long, Long)] =
      hashes.groupBy("doc_id").agg(count(lit(1)).as("n"), bit_xor(col("h")).as("x"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val got = perDoc(idx.hashes)
    val want = perDoc(IncrementalDedup.buildIndex(batchDf(spark, allDocs)).hashes)
    val indexOk = got == want
    val tokens = allDocs.map(d => d.id -> d.tokens.toSet).toMap
    val pairs = DedupIndexStream.loadPairs(spark, pairsDir).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val lowPairs = pairs.count { case (a, b) =>
      val (x, y) = (tokens(a), tokens(b))
      (x intersect y).size.toDouble / (x union y).size < threshold - 1e-6
    }
    val checks = Seq(
      Check("dedup_index_equals_buildIndex", indexOk,
        s"docs=${got.size} expected=${want.size}"),
      Check("dedup_pairs_above_threshold", lowPairs == 0 && pairs.nonEmpty,
        s"pairs=${pairs.length} below_threshold=$lowPairs"))

    val ops = (warmupBatches until warmupBatches + nOps).toSet
    val indexBytes = Fs.treeBytes(java.nio.file.Paths.get(indexDir))
    val layer: Map[String, Double] = if (!ctx.trace) Map.empty else {
      val applyS = t.perOp("operators.dedup", ops)
      Layers.engine(aggs.toSeq, log.latencies.toSeq, ctx.cores) ++ Map(
        "operators.dedup_s" -> Stats.median(applyS),
        "operators.pairs_per_batch" -> Stats.median(pairsPer.toSeq),
        "streaming.index_load_s" -> t.medianS("streaming.index_load", ops),
        "streaming.compact_s" -> Stats.median(compactS.toSeq),
        "streaming.batch_cost_slope_s" -> Stats.slope(
          ops.toSeq.sorted.flatMap(o => t.perOp("operators.dedup", Set(o)))),
        "sinks.versions_on_disk" ->
          Fs.listDirs(java.nio.file.Paths.get(indexDir, "batches")).size.toDouble,
        "sinks.bytes_written_per_input_byte" -> Stats.median(aggs.toSeq.zip(
          batches.drop(warmupBatches)).map { case (a, docs) =>
          a.bytesWritten.toDouble / docs.map(d => 8 + d.tokens.map(_.length + 1).sum).sum
        }),
        "trace.op_p50_s" -> Stats.median(log.latencies.toSeq))
    }
    val lat = log.latencies.toSeq
    Outcome(
      setupS = Stats.median(setupTimes.toSeq) + warmS,
      opLatencies = lat,
      failures = log.failures.toSeq,
      endToEnd = Map(
        "write_p50_s" -> Stats.median(lat),
        "rows_per_s" -> nOps * docsPerBatch / phaseS,
        "stored_bytes_per_row" -> indexBytes.toDouble / math.max(1, got.size)),
      perLayer = layer,
      checks = checks,
      notes = Seq(s"batches=$nOps docs_per_batch=$docsPerBatch compactions=${compactS.size} " +
        "per_batch_s=" + lat.map(x => f"$x%.3f").mkString(",")))
  }
}
