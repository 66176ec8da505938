package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. Usage (normally through `perfbench/run.py`):
  *
  * {{{
  *   graftbench.Main --workload ingest|cdc|dedup_stream|lake_rw
  *                   --seed N --seconds S --trace 0|1 --work DIR
  *   graftbench.Main --check-generators --work DIR
  * }}}
  *
  * Prints one line per metric, a host-noise record, and as its LAST line
  * one JSON object `{"correct", "attempted", "failed", "metrics"}`: the
  * end-to-end metrics with `--trace 0`, the per-layer metrics with
  * `--trace 1`. Exits 1 when an output check fails.
  */
object Main {

  trait Workload {
    /** Nearest-rank percentile reported as `op_tail_s`. */
    def tailP: Double
    def run(ctx: Ctx): Outcome
  }

  val workloads: Map[String, Workload] = Map(
    "ingest" -> Ingest, "cdc" -> CdcLag, "dedup_stream" -> DedupStream,
    "lake_rw" -> LakeRw)

  /** End-to-end metrics (name -> unit), reported with tracing off. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_s" -> "s", "op_tail_s" -> "s", "write_p50_s" -> "s",
    "rows_per_s" -> "rows/s", "stored_bytes_per_row" -> "B/row")

  /** Per-layer metrics (name -> unit), reported by the traced run. A layer
    * a workload does not exercise reads 0.
    */
  val perLayer: Seq[(String, String)] = Seq(
    "runtime.upload_s" -> "s", "runtime.poll_s" -> "s",
    "sources.resolve_s" -> "s", "sources.read_s" -> "s",
    "dq.check_s" -> "s", "dq.violations" -> "count",
    "script.transform_s" -> "s", "script.rows_dropped" -> "count",
    "operators.dedup_s" -> "s", "operators.merge_s" -> "s",
    "operators.pairs_per_batch" -> "count",
    "sinks.commit_s" -> "s", "sinks.files_written_per_commit" -> "count",
    "sinks.bytes_written_per_input_byte" -> "ratio", "sinks.versions_on_disk" -> "count",
    "plans.plan_s" -> "s", "plans.exec_s" -> "s", "plans.files_read" -> "count",
    "plans.files_skipped" -> "count", "plans.exchanges" -> "count",
    "cdc.parse_s" -> "s", "cdc.partitions_per_batch" -> "count",
    "cdc.gen_late_p90_s" -> "s",
    "streaming.trigger_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.backlog_files" -> "count",
    "streaming.index_load_s" -> "s", "streaming.compact_s" -> "s",
    "streaming.batch_cost_slope_s" -> "s",
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count", "spark.task_busy_s_per_op" -> "s",
    "spark.shuffle_bytes_per_op" -> "B", "spark.spill_bytes" -> "B",
    "spark.gc_s" -> "s", "spark.idle_core_share" -> "ratio",
    "trace.op_p50_s" -> "s")

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def session(work: Path, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val work = Paths.get(arg(args, "--work").getOrElse(
      sys.error("--work DIR is required"))).toAbsolutePath
    Files.createDirectories(work)
    if (args.contains("--check-generators")) {
      val ok = GenCheck.run(work)
      sys.exit(if (ok) 0 else 1)
    }
    val name = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val w = workloads.getOrElse(name, sys.error(
      s"unknown workload '$name' (one of ${workloads.keys.toSeq.sorted.mkString(", ")})"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toInt).getOrElse(10)
    val trace = arg(args, "--trace").contains("1")
    val cores = Runtime.getRuntime.availableProcessors()

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(work, cores)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val probes = if (trace) Some(Probes.install(spark)) else None
    val tracer = new Tracer(trace)
    val ctx = Ctx(spark, seed, seconds, trace, work, tracer, probes, cores)

    val stat0 = graft.Bench.readStat()
    val out = w.run(ctx)
    val stat1 = graft.Bench.readStat()

    val lat = out.opLatencies
    val attempted = lat.size + out.otherOps
    val failed = out.failures.size
    val checksOk = out.checks.nonEmpty && out.checks.forall(_.ok)
    val correct = checksOk && failed == 0 && attempted > 0

    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val e2e = Map(
          "setup_s" -> (sessionS + out.setupS),
          "op_p50_s" -> Stats.median(lat),
          "op_tail_s" -> Stats.pct(lat, w.tailP)) ++ out.endToEnd
        endToEnd.map { case (n, u) => (n, Stats.finite(e2e.getOrElse(n, 0.0)), u) }
      } else
        perLayer.map { case (n, u) =>
          (n, Stats.finite(out.perLayer.getOrElse(n, 0.0)), u)
        }

    // ---- human-readable record (stdout, before the result line) ----------
    println(s"# workload=$name seed=$seed seconds=$seconds trace=${if (trace) 1 else 0} " +
      s"cores=$cores ops=$attempted failed=$failed " +
      f"failed_ratio=${if (attempted == 0) 0.0 else failed.toDouble / attempted}%.4f " +
      f"tail=p${w.tailP * 100}%.0f (${Stats.beyond(attempted, w.tailP)} samples beyond)")
    metrics.foreach { case (n, v, u) => println(f"metric $n%-36s $v%.6g $u") }
    out.checks.foreach(c =>
      println(s"check ${c.name} ${if (c.ok) "OK" else "FAIL"} ${c.detail}"))
    if (out.failures.nonEmpty)
      println("failures " + out.failures.groupBy(identity)
        .map { case (k, v) => s"$k=${v.size}" }.mkString(" "))
    println(f"note session_s=$sessionS%.3f peak_rss_mb=$peakRssMb%.1f")
    out.notes.foreach(n => println(s"note $n"))
    val steal = (stat0, stat1) match {
      case (Some(a), Some(b)) => graft.Bench.stealPctOf(Vector(a, b), a.t, b.t)
      case _ => -1.0
    }
    println(f"""{"host": {"steal_pct": $steal%.3f, "loadavg": "${loadavg()}"}}""")
    if (trace) {
      val spanFile = work.resolve("spans.jsonl")
      tracer.write(spanFile)
      tracer.selfTimes.toSeq.sortBy(-_._2).foreach { case (n, s) =>
        println(f"self $n%-28s $s%.4f s")
      }
    }
    val json = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${fmt(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $json}""")
    System.out.flush()
    spark.stop()
    sys.exit(if (checksOk) 0 else 1)
  }

  private def fmt(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString

  /** Process peak resident set (VmHWM), MB. */
  def peakRssMb: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
      finally src.close()
    } catch { case _: java.io.IOException => 0.0 }

  private def loadavg(): String =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(" ").take(3).mkString(" ") finally src.close()
    } catch { case _: java.io.IOException => "" }
}
