package graftbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, datediff, floor, lit}

import graft.model.ObjectStoreSpec
import graft.sinks.ObjectStoreSink

/** `lake_rw`: closed loop, one client. Set-up lands TPC-H-shaped
  * `lineitem`, `orders`, `customer` and `nation` at sf 0.1 through
  * `ObjectStoreSink.write`, with partitioning, Bloom and sum columns
  * chosen so every planner seam has something to use. Most ops are
  * collected `spark.sql` reads drawn from five templates (Bloom point
  * lookup, zone-map range, metadata-answerable aggregate, dim-filtered
  * fact join, and a full-scan group-by no seam helps); about one op in ten
  * is a small `INSERT INTO` append commit.
  */
object LakeRw extends Main.Workload {
  val tailP = 0.85
  private val sf = 0.1
  private val setupReps = 1
  private val warmupOps = 10
  /** Measured ops per second of `--seconds` (a fixed count). */
  private val opsPerSecond = 10.0 / 3
  private val seams = Seq("refResolve", "metaAgg", "zoneMapScan", "joinPrune", "mvRewrite")
    .map(s => s"spark.graft.$s.enabled")

  sealed trait Op
  final case class Read(template: String, sql: String) extends Op
  final case class Append(sql: String, rows: Int, bytes: Int) extends Op

  private def specs(lake: Path, db: String): Seq[(String, ObjectStoreSpec)] = Seq(
    "nation" -> ObjectStoreSpec(path = lake.toString, database = db, table = "nation"),
    "customer" -> ObjectStoreSpec(path = lake.toString, database = db, table = "customer",
      partitionBy = Seq("c_mktsegment")),
    "orders" -> ObjectStoreSpec(path = lake.toString, database = db, table = "orders",
      partitionBy = Seq("o_orderpriority"), bloomColumns = Seq("o_custkey"),
      sumColumns = Seq("o_totalprice")),
    "lineitem" -> ObjectStoreSpec(path = lake.toString, database = db, table = "lineitem",
      partitionBy = Seq("l_returnflag"), bloomColumns = Seq("l_orderkey"),
      sumColumns = Seq("l_quantity", "l_extendedprice")))

  private def land(spark: SparkSession, seed: Long, lake: Path, db: String): Unit = {
    val t = Gen.lakeTables(spark, seed, sf)
    val layout = Map(
      // clustered on the range/zone-map columns so file min/max are narrow
      "lineitem" -> t("lineitem").repartition(16, floor(datediff(col("l_shipdate"),
        lit("1992-01-01").cast("date")) / 160)).sortWithinPartitions("l_shipdate"),
      "orders" -> t("orders").repartition(8, floor(datediff(col("o_orderdate"),
        lit("1992-01-01").cast("date")) / 300)).sortWithinPartitions("o_orderdate"),
      "customer" -> t("customer").coalesce(2),
      "nation" -> t("nation").coalesce(1))
    specs(lake, db).foreach { case (name, spec) => ObjectStoreSink.write(spark, layout(name), spec) }
  }

  /** The op sequence: fixed by the seed, bounded by count. Templates take
    * turns (so every seed runs the same mix); the seed picks parameters.
    */
  def ops(seed: Long, n: Int, db: String): Seq[Op] = {
    val r = Gen.rng(seed, 5000L)
    val nOrd = (1500000 * sf).toLong
    var nextKey = nOrd + 1
    val appended = mutable.ArrayBuffer.empty[Long]
    def day(base: String, span: Int) =
      java.time.LocalDate.parse(base).plusDays(r.nextInt(span)).toString
    (0 until n).map { i =>
      if (i % 10 == 9) {
        val rows = (0 until 5).map { j =>
          val k = nextKey
          appended += k
          nextKey += 1
          s"($k, ${j + 1}, ${1 + r.nextInt(50)}, CAST(${r.nextInt(10000000) / 100.0} AS DECIMAL(12,2)), " +
            s"CAST(0.0${r.nextInt(10)} AS DECIMAL(4,2)), '${Seq("A", "N", "R")(r.nextInt(3))}', " +
            s"'O', DATE '${day("1998-08-01", 120)}', '${Gen.shipmodes(r.nextInt(7))}')"
        }
        val sql = s"INSERT INTO $db.lineitem (l_orderkey, l_linenumber, l_quantity, " +
          "l_extendedprice, l_discount, l_returnflag, l_linestatus, l_shipdate, l_shipmode) " +
          "VALUES " + rows.mkString(", ")
        Append(sql, rows.size, rows.map(_.length).sum)
      } else (i - i / 10) % 5 match {
        case 0 =>
          val k = if (appended.nonEmpty && r.nextInt(10) < 3) appended(r.nextInt(appended.size))
          else 1 + r.nextInt(nOrd.toInt).toLong
          Read("point", s"SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, " +
            s"l_shipdate FROM $db.lineitem WHERE l_orderkey = $k ORDER BY l_linenumber")
        case 1 =>
          val d0 = day("1992-02-01", 2400)
          Read("range", s"SELECT count(*) AS n, sum(l_extendedprice) AS s FROM $db.lineitem " +
            s"WHERE l_shipdate BETWEEN DATE '$d0' AND date_add(DATE '$d0', 14)")
        case 2 =>
          val where = if (r.nextInt(2) == 0) "" else s"WHERE l_returnflag = '${Seq("A", "N", "R")(r.nextInt(3))}'"
          Read("meta", s"SELECT count(*) AS n, min(l_shipdate) AS lo, max(l_shipdate) AS hi, " +
            s"sum(l_quantity) AS q FROM $db.lineitem $where")
        case 3 =>
          Read("join", s"SELECT o.o_orderpriority, count(*) AS n, sum(o.o_totalprice) AS s " +
            s"FROM $db.orders o JOIN $db.customer c ON o.o_custkey = c.c_custkey " +
            s"JOIN $db.nation n ON c.c_nationkey = n.n_nationkey " +
            s"WHERE n.n_name = '${Gen.nations(r.nextInt(Gen.nations.size))}' " +
            "GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority")
        case _ =>
          Read("scan", s"SELECT l_shipmode, l_linestatus, count(*) AS n, sum(l_quantity) AS q, " +
            s"sum(l_extendedprice) AS s FROM $db.lineitem GROUP BY l_shipmode, l_linestatus " +
            "ORDER BY l_shipmode, l_linestatus")
      }
    }
  }

  private def withSeams[T](spark: SparkSession, on: Boolean)(body: => T): T = {
    seams.foreach(k => spark.conf.set(k, on.toString))
    try body finally seams.foreach(k => spark.conf.set(k, "true"))
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val nOps = math.max(40, math.round(ctx.seconds * opsPerSecond).toInt)

    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var lake: Path = null
    var db = ""
    (0 until setupReps).foreach { k =>
      val t0 = System.nanoTime()
      lake = ctx.work.resolve(s"lake-$k")
      db = s"lake$k"
      land(spark, ctx.seed, lake, db)
      setupTimes += (System.nanoTime() - t0) / 1e9
    }
    val notes0 = "setup_reps_s=" + setupTimes.map(x => f"$x%.3f").mkString(",")
    val all = ops(ctx.seed, warmupOps + nOps, db)
    val t = ctx.tracer

    /** Runs one op; a read returns its rows, an append the rows it added. */
    def exec(op: Op): Either[Seq[Row], Int] = op match {
      case Read(_, sql) if ctx.trace =>
        val df = spark.sql(sql)
        t("plans.plan")(df.queryExecution.executedPlan)
        Left(t("plans.exec")(df.collect()).toSeq)
      case Read(_, sql) => Left(spark.sql(sql).collect().toSeq)
      case Append(sql, rows, _) => t("sinks.commit")(spark.sql(sql)); Right(rows)
    }

    val warm0 = System.nanoTime()
    all.take(warmupOps).foreach(exec)
    val warmS = (System.nanoTime() - warm0) / 1e9
    ctx.probes.foreach(_.take())

    val readLog = new OpLog
    val writeLat = mutable.ArrayBuffer.empty[Double]
    val failures = mutable.ArrayBuffer.empty[String]
    val readAggs = mutable.ArrayBuffer.empty[Probes#Agg]
    val writeAggs = mutable.ArrayBuffer.empty[(Probes#Agg, Append)]
    val skipped = mutable.ArrayBuffer.empty[Double]
    val mismatches = mutable.ArrayBuffer.empty[String]
    var rowsOut = 0L
    var readsChecked = 0
    var appends = 0
    val offAnswers = mutable.HashMap.empty[(String, Int), Seq[Row]]
    var phaseS = 0.0
    all.zipWithIndex.drop(warmupOps).foreach { case (op, i) =>
      t.op = i
      val t0 = System.nanoTime()
      val res = try Right(exec(op)) catch { case scala.util.control.NonFatal(e) => Left(e) }
      val dt = (System.nanoTime() - t0) / 1e9
      phaseS += dt
      val agg = ctx.probes.map(_.take())
      (op, res) match {
        case (_: Read, Right(Left(rows))) =>
          readLog.record(dt)
          rowsOut += rows.size
          agg.foreach(readAggs += _)
        case (a: Append, Right(Right(n))) =>
          writeLat += dt
          rowsOut += n
          agg.foreach(g => writeAggs += ((g, a)))
        case (_: Read, Left(e)) => readLog.fail(e)
        case (_, Left(e)) =>
          writeLat += Double.PositiveInfinity
          failures += e.getClass.getName
        case (_, Right(_)) => ()
      }
      // output check, outside the timed window: the same SQL with every
      // planner seam switched off
      (op, res) match {
        case (Read(tpl, sql), Right(Left(got))) =>
          // answers are cached per lake state: an append changes lineitem
          val key = (sql, if (sql.contains(".lineitem")) appends else 0)
          val cached = offAnswers.contains(key)
          val want = offAnswers.getOrElseUpdate(key,
            withSeams(spark, on = false)(spark.sql(sql).collect().toSeq))
          readsChecked += 1
          if (!sameRows(got, want)) mismatches += s"$tpl: $sql"
          ctx.probes.foreach { p =>
            val off = p.take()
            if (!cached) agg.foreach(a =>
              skipped += math.max(0L, off.filesRead - a.filesRead).toDouble)
          }
        case (_: Append, Right(_)) => appends += 1
        case _ => ()
      }
    }

    val liveRows = specs(lake, db).map { case (n, _) => spark.table(s"$db.$n").count() }.sum
    val lakeBytes = Fs.treeBytes(lake)
    val checks = Seq(Check("lake_reads_match_seamless_plans",
      mismatches.isEmpty && readsChecked > 0,
      s"reads_checked=$readsChecked mismatched=${mismatches.size}" +
        mismatches.headOption.map(m => s" first=$m").getOrElse("")))

    val readOps = all.zipWithIndex.drop(warmupOps).collect { case (_: Read, i) => i }.toSet
    val writeOps = all.zipWithIndex.drop(warmupOps).collect { case (_: Append, i) => i }.toSet
    val layer: Map[String, Double] = if (!ctx.trace) Map.empty else {
      Layers.engine(readAggs.toSeq, readLog.latencies.toSeq, ctx.cores) ++ Map(
        "plans.plan_s" -> t.medianS("plans.plan", readOps),
        "plans.exec_s" -> t.medianS("plans.exec", readOps),
        "plans.files_skipped" -> Stats.median(skipped.toSeq),
        "sinks.commit_s" -> t.medianS("sinks.commit", writeOps),
        "sinks.files_written_per_commit" ->
          Stats.median(writeAggs.toSeq.map(_._1.filesWritten.toDouble)),
        "sinks.bytes_written_per_input_byte" -> Stats.median(writeAggs.toSeq.map {
          case (g, a) => g.bytesWritten.toDouble / a.bytes
        }),
        "sinks.versions_on_disk" ->
          Fs.versions(lake.resolve(db).resolve("lineitem")).toDouble,
        "trace.op_p50_s" -> Stats.median(readLog.latencies.toSeq))
    }
    val measuredReads = all.drop(warmupOps).collect { case Read(tpl, _) => tpl }
    val byTpl = measuredReads.zip(readLog.latencies).groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (k, v) => f"$k=${v.size}@${Stats.median(v.map(_._2))}%.3f" }.mkString(" ")
    Outcome(
      setupS = Stats.median(setupTimes.toSeq) + warmS,
      opLatencies = readLog.latencies.toSeq,
      failures = readLog.failures.toSeq ++ failures,
      otherOps = writeLat.size,
      endToEnd = Map(
        "write_p50_s" -> Stats.median(writeLat.toSeq),
        "rows_per_s" -> rowsOut / phaseS,
        "stored_bytes_per_row" -> lakeBytes.toDouble / math.max(1L, liveRows)),
      perLayer = layer,
      checks = checks,
      notes = Seq(notes0, f"warmup_s=$warmS%.3f", s"reads: $byTpl writes=${writeLat.size}@${writeLat.map(x => f"$x%.2f").mkString(",")} live_rows=$liveRows"))
  }

  private def sameRows(a: Seq[Row], b: Seq[Row]): Boolean =
    a.size == b.size && a.map(_.toString).sorted == b.map(_.toString).sorted
}
