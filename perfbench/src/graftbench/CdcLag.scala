package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.cdc.DebeziumCDC
import graft.model.ObjectStoreSpec
import graft.sinks.ObjectStoreSink
import graft.streaming.CdcStream

/** `cdc`: open loop at a fixed file rate. Debezium envelope files (insert,
  * update and delete over a bounded key domain, each file over 2-3
  * partitions) are written on schedule into the directory one
  * `CdcStream.start` (ProcessingTime trigger) consumes. A file's latency
  * runs from when it was due until the micro-batch that applied it
  * finished; files are mapped to batches through the checkpoint's source
  * log, batches to end times through the query's progress reports. The
  * trigger interval exceeds a batch's apply time, so every batch applies
  * the files of one interval: the same batch size in every run, and a
  * file's lag is its wait for the trigger plus the apply.
  */
object CdcLag extends Main.Workload {
  val tailP = 0.75
  private val eventsPerFile = 120
  private val periodMs = 250L
  private val triggerMs = 3000L
  /** Files of the first batch, written at once: it absorbs the query start. */
  private val startFiles = 6
  /** Then whole trigger intervals on the measured schedule, unmeasured: a
    * batch's apply time falls over the first few batches (cold code), and
    * timing starts once it has levelled off.
    */
  private val warmupIntervals = 2
  private val warmupFiles = startFiles + warmupIntervals * (triggerMs / periodMs).toInt
  private val setupReps = 3

  final case class FileRec(name: String, due: Long, written: Long, events: Int, bytes: Long)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
    val nFiles = ctx.seconds * (1000L / periodMs).toInt
    val all = Gen.cdcFiles(ctx.seed, warmupFiles + nFiles, eventsPerFile)
    val initial = {
      import spark.implicits._
      Gen.cdcInitial(ctx.seed).map(r => (r.id, r.name, r.amt, r.qty, r.region))
        .toDF("id", "name", "amt", "qty", "region")
    }

    // set-up: land the initial table in a fresh lake, several times
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var sink: ObjectStoreSpec = null
    var dir: Path = null
    (0 until setupReps).foreach { k =>
      val t0 = System.nanoTime()
      dir = ctx.work.resolve(s"cdc-$k")
      sink = ObjectStoreSpec(path = dir.resolve("lake").toString, database = "bench",
        table = s"accounts_$k", partitionBy = Seq("region"))
      ObjectStoreSink.write(spark, initial, sink)
      setupTimes += (System.nanoTime() - t0) / 1e9
    }
    val fq = s"${sink.database}.${sink.table}"
    val tableDir = dir.resolve("lake").resolve(sink.database).resolve(sink.table)
    val envDir = Files.createDirectories(dir.resolve("envelopes"))
    val ckpt = dir.resolve("checkpoint")

    val recs = mutable.ArrayBuffer.empty[FileRec]
    def emit(i: Int, due: Long): Unit = {
      val now = System.currentTimeMillis()
      if (now < due) Thread.sleep(due - now)
      val body = all(i).map(Gen.envelope).mkString("", "\n", "\n").getBytes("UTF-8")
      val name = f"f$i%05d.json"
      val tmp = envDir.resolve("." + name)
      Files.write(tmp, body)
      Files.move(tmp, envDir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      recs += FileRec(name, due, System.currentTimeMillis(), all(i).size, body.length)
    }

    val warm0 = System.currentTimeMillis()
    val q = CdcStream.start(spark, envDir.toString, sink, Seq("id"), ckpt.toString,
      Trigger.ProcessingTime(triggerMs))
    (0 until startFiles).foreach(i => emit(i, warm0))
    val warmOk = awaitApplied(q, ckpt, startFiles, 120000L)

    // ---- open loop: warm-up intervals, then the measured phase ------------
    // ProcessingTime triggers fire on multiples of the interval: start the
    // schedule at a fixed offset from that grid so every run sees the same
    // arrival-to-trigger alignment
    def nextSlot(): Long = (System.currentTimeMillis() / triggerMs + 1) * triggerMs + 100
    val sched0 = nextSlot()
    (startFiles until warmupFiles).foreach(i => emit(i, sched0 + (i - startFiles) * periodMs))
    val warmApplied = warmOk && awaitApplied(q, ckpt, warmupFiles, 120000L)
    ctx.probes.foreach(_.take())
    val phase0 = nextSlot()
    val warmS = (phase0 - warm0) / 1e3
    (0 until nFiles).foreach(i => emit(warmupFiles + i, phase0 + i * periodMs))
    val done = warmApplied && awaitApplied(q, ckpt, warmupFiles + nFiles, 120000L)
    val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    q.stop()
    val agg = ctx.probes.map(_.take())

    val batchOf = sourceLog(ckpt)
    val endOf: Map[Long, Long] = progress.map(p =>
      p.batchId -> (java.time.Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.get("triggerExecution").longValue)).toMap
    val measured = recs.drop(warmupFiles).toSeq
    val log = new OpLog
    measured.foreach { r =>
      batchOf.get(r.name).flatMap(endOf.get) match {
        case Some(end) => log.record((end - r.due) / 1e3)
        case None => log.fail(new IllegalStateException(s"${r.name} was not applied"))
      }
    }
    val mBatches = measured.flatMap(r => batchOf.get(r.name)).distinct.sorted
    val mProgress = progress.filter(p => mBatches.contains(p.batchId))
    val lastEnd = mBatches.flatMap(endOf.get).maxOption.getOrElse(System.currentTimeMillis())
    val phaseS = (lastEnd - phase0) / 1e3
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

    // ---- output check: last writer by key -------------------------------
    val expect = mutable.HashMap.empty[Long, Gen.CdcRow]
    Gen.cdcInitial(ctx.seed).foreach(r => expect(r.id) = r)
    all.flatten.sortBy(_.seq).foreach { e =>
      if (e.op == "d") expect.remove(e.id) else expect(e.id) = e.row.get
    }
    val actual = spark.table(fq).collect().map(r => Gen.CdcRow(r.getAs[Long]("id"),
      r.getAs[String]("name"), r.getAs[Double]("amt"), r.getAs[Int]("qty"),
      r.getAs[String]("region")))
    val bad = actual.filterNot(r => expect.get(r.id).contains(r))
    val check = Check("cdc_last_writer", done && bad.isEmpty && actual.length == expect.size,
      s"rows=${actual.length} expected=${expect.size} mismatched=${bad.length} applied=$done")

    val layer: Map[String, Double] = if (!ctx.trace) Map.empty else {
      val t = ctx.tracer
      // the StreamingQueryListener's reports of the measured batches
      val reported = agg.map(_.progress.toSeq.filter(p => mBatches.contains(p.batchId)))
        .getOrElse(mProgress)
      val byBatch = measured.groupBy(r => batchOf.getOrElse(r.name, -1L))
        .filter(_._1 >= 0)
      // offline: the parse step over each batch's input, timed on its own
      byBatch.toSeq.sortBy(_._1).foreach { case (b, rs) =>
        t.op = b.toInt
        t("cdc.parse")(DebeziumCDC.parse(spark.read.text(
          rs.map(r => envDir.resolve(r.name).toString): _*)).count())
      }
      // a manifest refresh of the final table: the per-batch commit step
      t.op = -2
      (0 until 3).foreach(_ => t("sinks.commit")(ObjectStoreSink.refreshManifest(spark, fq, sink)))
      val startOf = reported.map(p =>
        p.batchId -> java.time.Instant.parse(p.timestamp).toEpochMilli).toMap
      val backlog = mBatches.map { b =>
        recs.count(r => startOf.get(b).exists(r.written <= _) &&
          batchOf.get(r.name).exists(_ >= b)).toDouble
      }
      val parts = byBatch.values.map { rs =>
        val ids = rs.map(r => r.name.drop(1).take(5).toInt)
        ids.flatMap(i => all(i).map(e => Gen.region(e.id))).distinct.size.toDouble
      }.toSeq
      val inBytes = measured.map(_.bytes).sum.toDouble
      Map(
        "cdc.parse_s" -> t.medianS("cdc.parse", mBatches.map(_.toInt).toSet),
        "cdc.partitions_per_batch" -> Stats.median(parts),
        "cdc.gen_late_p90_s" -> Stats.pct(measured.map(r => (r.written - r.due) / 1e3), 0.9),
        "sinks.commit_s" -> t.medianS("sinks.commit", Set(-2)) / 3,
        "sinks.versions_on_disk" -> Fs.versions(tableDir).toDouble,
        "streaming.trigger_ms" -> Stats.median(reported.map(dur(_, "triggerExecution"))),
        "streaming.add_batch_ms" -> Stats.median(reported.map(dur(_, "addBatch"))),
        "streaming.wal_commit_ms" -> Stats.median(reported.map(dur(_, "walCommit"))),
        "streaming.backlog_files" -> Stats.median(backlog),
        "trace.op_p50_s" -> Stats.median(log.latencies.toSeq)) ++
        agg.map { a =>
          Layers.engineTotal(a, mBatches.size, phaseS, ctx.cores) ++
            Map("sinks.bytes_written_per_input_byte" -> a.bytesWritten / math.max(1.0, inBytes))
        }.getOrElse(Map.empty)
    }

    val liveRows = actual.length
    Outcome(
      setupS = Stats.median(setupTimes.toSeq) + warmS,
      opLatencies = log.latencies.toSeq,
      failures = log.failures.toSeq,
      endToEnd = Map(
        "write_p50_s" -> Stats.median(mProgress.map(dur(_, "addBatch") / 1e3)),
        "rows_per_s" -> measured.map(_.events).sum / phaseS,
        "stored_bytes_per_row" -> Fs.treeBytes(tableDir).toDouble / math.max(1, liveRows)),
      perLayer = layer,
      checks = Seq(check),
      notes = Seq(f"setup_reps_s=${setupTimes.map(x => f"$x%.3f").mkString(",")} warmup_s=$warmS%.3f",
        s"files=$nFiles events_per_file=$eventsPerFile batches=${mBatches.size} " +
        s"period_ms=$periodMs trigger_ms=$triggerMs",
        "add_batch_ms=" + progress.sortBy(_.batchId).map(p =>
          (if (mBatches.contains(p.batchId)) "" else "w") + dur(p, "addBatch").toLong)
          .mkString(","),
        "latencies_s=" + log.latencies.map(x => f"$x%.3f").mkString(",")))
  }

  /** file name -> micro-batch id, from the file source's checkpoint log
    * (`sources/0/<batch>` and its `.compact` roll-ups: a `v1` header, then
    * one JSON entry per file with its `path` and `batchId`).
    */
  def sourceLog(ckpt: Path): Map[String, Long] = {
    val dir = ckpt.resolve("sources").resolve("0")
    if (!Files.isDirectory(dir)) return Map.empty
    val entry = """"path":"([^"]+)".*"batchId":(\d+)""".r
    val s = Files.list(dir)
    val files = try s.iterator().asScala.toVector finally s.close()
    files.filter(p => p.getFileName.toString.matches("\\d+(\\.compact)?"))
      .flatMap(p => Files.readAllLines(p).asScala)
      .flatMap(l => entry.findFirstMatchIn(l))
      .map(m => m.group(1).split('/').last -> m.group(2).toLong)
      .toMap
  }

  /** Wait until `n` files are in a batch the query has reported progress
    * for (or the deadline passes).
    */
  private def awaitApplied(q: StreamingQuery, ckpt: Path, n: Int, timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def applied: Boolean = {
      val log = sourceLog(ckpt)
      val reported = q.recentProgress.map(_.batchId).toSet
      log.size >= n && log.values.forall(reported)
    }
    while (!applied && System.currentTimeMillis() < deadline && q.isActive) Thread.sleep(50)
    applied
  }
}
