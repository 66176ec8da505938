package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths}
import java.text.SimpleDateFormat

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, count_distinct, lit, struct}

import graft.dq.DataQualityRunner
import graft.model._
import graft.operators.MergeUpsert
import graft.runtime.{HttpFrontDoor, Pipeline}
import graft.script.RowScripts
import graft.sinks.ObjectStoreSink
import graft.sources.{FileSources, Intake}

/** `ingest`: closed loop, one client on one HTTP connection. One op = a
  * generated stock_price CSV is uploaded (`POST /dataset/upload`), then
  * `POST /poll` runs the pipeline; the clock stops on the `Pipeline.events`
  * landed notification. The spec: header check, column regexes and the JS
  * row rule (warn), deduplicate, the JS row function, and a keyed merge on
  * (symbol, date) into a date-partitioned table with a Bloom index on
  * symbol.
  *
  * Traced, the harness runs Pipeline.run's steps itself, in its order, and
  * materialises each step so its time lands in its own span.
  */
object Ingest extends Main.Workload {
  val tailP = 0.75
  private val rowsPerFile = 1000
  /** The first ops run on cold code: op latency falls from ~5 s to a
    * plateau over the first ten or so uploads (JIT, codegen caches). Timing
    * starts on the plateau, so a run's median does not ride the warm-up
    * curve, whose slope follows the host's noise.
    */
  private val warmupOps = 10
  private val setupReps = 3
  /** Measured ops per second of `--seconds` (a fixed count, not a deadline). */
  private val opsPerSecond = 2.0 / 3

  private val stockFields = Seq("symbol" -> "string", "date" -> "string",
    "open" -> "double", "high" -> "double", "low" -> "double",
    "close" -> "double", "volume" -> "int", "adj_close" -> "double")
    .map { case (n, t) => FieldSpec(n, t) }
  private val destFields =
    stockFields ++ Seq(FieldSpec("year", "string"), FieldSpec("mynewcolumn", "double"))
  private val priceRule = """(?:0|[1-9][0-9]*)\.[0-9]+"""

  def spec(lake: Path): PipelineSpec = {
    val fixtures = Paths.get("fixtures").toAbsolutePath
    PipelineSpec(
      name = "stock_price",
      source = SourceSpec(schema = stockFields, file = Some(FileSpec(csv = Some(CsvSpec())))),
      dataQuality = Some(DataQualitySpec(
        validateFileHeader = true,
        rowRules = Seq(RowRuleSpec("script",
          Seq(fixtures.resolve("stock_price_data_quality.js").toString))),
        columnRules = Seq(ColumnRuleSpec("symbol", "regex", "[a-zA-Z]+"),
          ColumnRuleSpec("volume", "regex", "[0-9]+")) ++
          Seq("open", "high", "low", "close", "adj_close")
            .map(c => ColumnRuleSpec(c, "regex", priceRule)))),
      transformation = Some(TransformSpec(deduplicate = true,
        rowFunctions = Seq(RowFunctionSpec("script",
          Seq(fixtures.resolve("stock_price_transformation.js").toString))))),
      destination = DestinationSpec(schema = destFields,
        objectStore = Some(ObjectStoreSpec(path = lake.toString, database = "bench",
          table = "stock_price", partitionBy = Seq("date"),
          keyFields = Seq("symbol", "date"), bloomColumns = Seq("symbol")))))
  }

  @volatile private var landedAt = 0L
  private var subscribed = false

  private final class Door(ctx: Ctx, dir: Path) {
    val lake: Path = dir.resolve("lake")
    val landing: Path = dir.resolve("landing")
    val spec: PipelineSpec = Ingest.spec(lake).normalized.validated
    val fd: HttpFrontDoor = HttpFrontDoor.serve(ctx.spark, landing,
      dir.resolve("ledger").resolve("processed.txt"), Seq(spec))
    val base = s"http://127.0.0.1:${fd.boundPort}"
    val client: HttpClient = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

    def post(path: String, body: Array[Byte]): String = {
      val rsp = client.send(HttpRequest.newBuilder(URI.create(base + path))
        .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      if (rsp.statusCode != 200)
        throw new IllegalStateException(s"POST $path -> ${rsp.statusCode}: ${rsp.body}")
      rsp.body
    }

    def upload(csv: Array[Byte]): String = {
      val body = post("/dataset/upload?dataset=stock_price&publishertoken=bench", csv)
      """"rawFilename": "([^"]+)"""".r.findFirstMatchIn(body).map(_.group(1))
        .getOrElse(throw new IllegalStateException(s"upload reply without file name: $body"))
    }

    def stop(): Unit = fd.stop()
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    if (!subscribed) {
      Pipeline.events.subscribe(Map("dataset" -> "stock_price"))(_ => landedAt = System.nanoTime())
      subscribed = true
    }
    val nOps = math.max(8, math.round(ctx.seconds * opsPerSecond).toInt)
    val files = (0 until warmupOps + nOps).map(i => Gen.stockFile(ctx.seed, i, rowsPerFile))
    val csvs = files.map(f => Gen.stockCsv(f).getBytes("UTF-8"))

    // set-up: a fresh front door over fresh dirs, several times; the last
    // one serves the run
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var door: Door = null
    (0 until setupReps).foreach { k =>
      val t0 = System.nanoTime()
      if (door != null) door.stop()
      door = new Door(ctx, ctx.work.resolve(s"ingest-$k"))
      door.client.send(HttpRequest.newBuilder(URI.create(door.base + "/health")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      setupTimes += (System.nanoTime() - t0) / 1e9
    }
    val d = door
    val fq = "bench.stock_price"
    val tableDir = d.lake.resolve("bench").resolve("stock_price")

    def untracedOp(i: Int): Double = {
      d.upload(csvs(i))
      val t = System.nanoTime()
      val polled = d.post("/poll", Array.emptyByteArray)
      if (!polled.contains("\"ok\": true"))
        throw new IllegalStateException(s"poll did not land the file: $polled")
      (System.nanoTime() - t) / 1e9
    }

    val t = ctx.tracer
    val pipelineTs = new SimpleDateFormat("yyyy-MM-dd HH:mm:ss.SSS z")
    def loadScript(p: String) = new String(Files.readAllBytes(Paths.get(p)), "UTF-8")
    def materialise(df: DataFrame): DataFrame = { val p = df.persist(); p.count(); p }

    /** Pipeline.run's steps, called one by one, each materialised. */
    def tracedOp(i: Int): Double = {
      val name = t("runtime.upload")(d.upload(csvs(i)))
      t("runtime.poll") {
        val s = d.spec
        val os = s.destination.objectStore.get
        val meta = t("sources.resolve")(Intake.resolve(d.landing.resolve(name).toString))
        val raw = t("sources.read")(materialise(FileSources.read(spark, s, meta.paths.head)))
        t("dq.check") {
          DataQualityRunner.validateHeader(raw, s)
          val v = DataQualityRunner.columnRuleViolations(raw, s)
            .unionByName(DataQualityRunner.rowRuleViolations(raw, s, loadScript))
          t.count("dq.violations", DataQualityRunner.enforce(v, s.name)._2.toDouble)
        }
        val deduped = t("operators.dedup") {
          raw.agg(count(lit(1)), count_distinct(struct(raw.columns.map(col).toIndexedSeq: _*)))
            .collect()
          materialise(raw.distinct())
        }
        val transformed = t("script.transform") {
          materialise(RowScripts.transform(deduped, loadScript(
            s.transformation.get.rowFunctions.head.parameters.head), s.source.schema,
            s.destination.schema, pipelineTs.format(new java.util.Date())))
        }
        t.count("script.rows_dropped", (deduped.count() - transformed.count()).toDouble)
        val cast = t("sources.dest_schema")(materialise(
          FileSources.applyDestinationSchema(transformed, s.destination.schema)))
        val image = t("operators.merge") {
          if (!spark.catalog.tableExists(fq)) cast
          else {
            val target = spark.table(fq)
            materialise(MergeUpsert(target, cast.select(target.schema.fields.map(f =>
              col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*), os.keyFields))
          }
        }
        t("sinks.commit")(ObjectStoreSink.replaceTable(spark, image, os))
        Seq(raw, deduped, transformed, cast, image).foreach(_.unpersist())
        Pipeline.events.publish(Pipeline.events.Notification("stock_price", name,
          "objectStore", os.database, os.table, tableDir.toString))
      }
      0.0
    }

    val warm0 = System.nanoTime()
    (0 until warmupOps).foreach(i => if (ctx.trace) tracedOp(i) else untracedOp(i))
    val warmS = (System.nanoTime() - warm0) / 1e9
    ctx.probes.foreach(_.take())

    val log = new OpLog
    val polls = mutable.ArrayBuffer.empty[Double]
    val aggs = mutable.ArrayBuffer.empty[Probes#Agg]
    val versions = mutable.ArrayBuffer.empty[Double]
    val phase0 = System.nanoTime()
    (warmupOps until warmupOps + nOps).foreach { i =>
      t.op = i
      val t0 = System.nanoTime()
      val r = try Right(if (ctx.trace) tracedOp(i) else untracedOp(i))
      catch { case scala.util.control.NonFatal(e) => Left(e) }
      r match {
        case Right(_) if landedAt < t0 =>
          log.fail(new IllegalStateException(s"op $i: no landed notification"))
        case Right(poll) =>
          log.record((landedAt - t0) / 1e9)
          polls += poll
        case Left(e) => log.fail(e)
      }
      ctx.probes.foreach(p => aggs += p.take())
      if (ctx.trace) versions += Fs.versions(tableDir)
    }
    val phaseS = (System.nanoTime() - phase0) / 1e9
    d.stop()

    // ---- output check: replay the generated rows in plain Scala ----------
    val check = replayCheck(spark.table(fq).collect().toSeq, files)
    val liveRows = spark.table(fq).count()
    val inputRows = files.drop(warmupOps).map(_.size).sum.toDouble

    val ops = (warmupOps until warmupOps + nOps).toSet
    val layer: Map[String, Double] =
      if (!ctx.trace) Map.empty
      else {
        val names = Seq("runtime.upload", "runtime.poll", "sources.resolve", "sources.read",
          "dq.check", "script.transform", "operators.dedup", "operators.merge", "sinks.commit")
        names.map(n => s"${n}_s" -> t.medianS(n, ops)).toMap ++ Map(
          "dq.violations" -> Stats.median(t.counterPerOp("dq.violations", ops)),
          "script.rows_dropped" -> Stats.median(t.counterPerOp("script.rows_dropped", ops)),
          "sinks.versions_on_disk" -> Stats.median(versions.toSeq),
          "sinks.bytes_written_per_input_byte" -> Stats.median(aggs.toSeq.zip(
            csvs.drop(warmupOps)).map { case (a, c) => a.bytesWritten.toDouble / c.length }),
          "trace.op_p50_s" -> Stats.median(log.latencies.toSeq)) ++
          Layers.engine(aggs.toSeq, log.latencies.toSeq, ctx.cores)
      }

    Outcome(
      setupS = Stats.median(setupTimes.toSeq) + warmS,
      opLatencies = log.latencies.toSeq,
      failures = log.failures.toSeq,
      endToEnd = Map(
        "write_p50_s" -> Stats.median(polls.toSeq),
        "rows_per_s" -> inputRows / phaseS,
        "stored_bytes_per_row" -> Fs.treeBytes(tableDir).toDouble / math.max(1L, liveRows)),
      perLayer = layer,
      checks = Seq(check),
      notes = Seq(f"setup_reps_s=${setupTimes.map(x => f"$x%.3f").mkString(",")} warmup_s=$warmS%.3f",
        s"ops=$nOps rows_per_file=$rowsPerFile live_rows=$liveRows " +
        s"versions_on_disk=${Fs.versions(tableDir)}",
        "latencies_s=" + log.latencies.map(x => f"$x%.3f").mkString(",")))
  }

  /** The final table must equal the image replayed from the generated rows:
    * exact duplicates removed, FAX rows dropped, adj_close + 1, the merge
    * keeping the old value where the new cell is empty.
    */
  private def replayCheck(actual: Seq[org.apache.spark.sql.Row],
      files: Seq[Seq[Gen.StockRow]]): Check = {
    final case class Img(open: Option[Double], high: Option[Double], low: Option[Double],
        close: Option[Double], volume: Option[Int], adj: Option[Double])
    def d(s: String) = s.toDoubleOption
    val img = mutable.HashMap.empty[(String, String), Img]
    files.foreach { rows =>
      rows.distinct.filterNot(_.symbol == "FAX").foreach { r =>
        val n = Img(d(r.open), d(r.high), d(r.low), d(r.close), r.volume.toIntOption,
          d(r.adjClose).map(_ + 1.0))
        img((r.symbol, r.date)) = img.get((r.symbol, r.date)) match {
          case None => n
          case Some(o) => Img(n.open.orElse(o.open), n.high.orElse(o.high),
            n.low.orElse(o.low), n.close.orElse(o.close), n.volume.orElse(o.volume),
            n.adj.orElse(o.adj))
        }
      }
    }
    val year = java.time.Year.now(java.time.ZoneOffset.UTC).getValue.toString
    def opt[T](r: org.apache.spark.sql.Row, c: String): Option[T] =
      if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[T](c))
    // the engine lands the `date` partition column with an inferred DATE
    // type although the destination schema declares string; the check
    // compares its rendered value
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("symbol"), String.valueOf(r.get(r.fieldIndex("date"))))
    val bad = actual.filterNot { r =>
      img.get(key(r)).contains(Img(opt[Double](r, "open"), opt[Double](r, "high"),
        opt[Double](r, "low"), opt[Double](r, "close"), opt[Int](r, "volume"),
        opt[Double](r, "adj_close"))) &&
        r.getAs[String]("year") == year && r.getAs[Double]("mynewcolumn") == 100.0
    }
    val keys = actual.map(key).toSet
    val ok = bad.isEmpty && actual.size == img.size && keys.size == img.size
    Check("ingest_replay", ok,
      s"rows=${actual.size} expected=${img.size} mismatched=${bad.size}" +
        bad.headOption.map(r => s" first=$r expected=" +
          img.get(key(r))).getOrElse(""))
  }
}
