package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.BenchBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything one workload run needs. `work` is the run's private scratch
  * directory inside the checkout; `tracer` records spans only when the run
  * is traced, and `probes` (engine listeners) exist only then too.
  */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, trace: Boolean,
    work: Path, tracer: Tracer, probes: Option[Probes], cores: Int)

/** What a workload reports back to [[Main]]. Latencies are seconds; a
  * failed op is recorded as +Inf so it misses every latency limit.
  */
final case class Outcome(
    setupS: Double,
    opLatencies: Seq[Double],
    failures: Seq[String],
    endToEnd: Map[String, Double],
    perLayer: Map[String, Double],
    checks: Seq[Check],
    notes: Seq[String] = Nil,
    /** Attempted ops not in `opLatencies` (lake_rw's appends). */
    otherOps: Int = 0)

final case class Check(name: String, ok: Boolean, detail: String)

/** Op bookkeeping: every attempt is counted, every failure keeps its
  * exception class. Nothing is swallowed silently — a failure is a result.
  */
final class OpLog {
  val latencies = mutable.ArrayBuffer.empty[Double]
  val failures = mutable.ArrayBuffer.empty[String]

  /** Time `body`; on a non-fatal exception record its class and +Inf. */
  def timed[T](body: => T): Option[T] = {
    val t0 = System.nanoTime()
    try {
      val r = body
      latencies += (System.nanoTime() - t0) / 1e9
      Some(r)
    } catch {
      case NonFatal(e) =>
        latencies += Double.PositiveInfinity
        failures += e.getClass.getName
        System.err.println(s"[perfbench] op ${latencies.size - 1} failed: $e")
        None
    }
  }

  def record(latencyS: Double): Unit = latencies += latencyS
  def fail(e: Throwable): Unit = {
    latencies += Double.PositiveInfinity
    failures += e.getClass.getName
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile (p in (0, 1]). */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }

  /** Samples strictly above the nearest-rank percentile value's position. */
  def beyond(n: Int, p: Double): Int = n - math.max(1, math.ceil(p * n).toInt)

  /** Least-squares slope of ys against 0, 1, 2, ... */
  def slope(ys: Seq[Double]): Double =
    if (ys.size < 2) 0.0
    else {
      val n = ys.size
      val mx = (n - 1) / 2.0
      val my = ys.sum / n
      val num = ys.indices.map(i => (i - mx) * (ys(i) - my)).sum
      val den = ys.indices.map(i => (i - mx) * (i - mx)).sum
      num / den
    }

  /** Finite value for JSON: a failed op's +Inf becomes a huge number. */
  def finite(x: Double): Double = if (x.isInfinite || x.isNaN) 1e9 else x
}

/** In-memory span recorder. A span has a name, start, end, parent span and
  * op id; spans are written out once, when the run ends. Disabled, it is a
  * plain call-through.
  */
final class Tracer(val on: Boolean) {
  final case class Span(id: Int, parent: Int, op: Int, name: String, t0: Long, t1: Long) {
    def seconds: Double = (t1 - t0) / 1e9
  }

  private val buf = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private val counters = mutable.LinkedHashMap.empty[(Int, String), Double]
  var op: Int = -1

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        buf += Span(id, parent, op, name, t0, System.nanoTime())
      }
    }

  /** Add `v` to counter `name` of the current op. */
  def count(name: String, v: Double): Unit =
    if (on) counters((op, name)) = counters.getOrElse((op, name), 0.0) + v

  /** Per-op total seconds of spans named `name`, over ops in `ops`. */
  def perOp(name: String, ops: Set[Int]): Seq[Double] =
    buf.filter(s => s.name == name && ops(s.op)).groupBy(_.op)
      .values.map(_.map(_.seconds).sum).toSeq

  /** Median over ops in `ops` of the per-op span total (0 when absent). */
  def medianS(name: String, ops: Set[Int]): Double = Stats.median(perOp(name, ops))

  def counterPerOp(name: String, ops: Set[Int]): Seq[Double] =
    counters.collect { case ((o, n), v) if n == name && ops(o) => v }.toSeq

  /** Self time: the span minus the part of it its children cover. */
  def selfTimes: Map[String, Double] = {
    val childSum = buf.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    buf.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.seconds - childSum.getOrElse(s.id, 0.0)).sum
    }
  }

  def write(path: Path): Unit = if (on) {
    Files.createDirectories(path.getParent)
    val lines = buf.sortBy(_.t0).map(s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "name": "${s.name}", """ +
        s""""start_ns": ${s.t0}, "end_ns": ${s.t1}}""")
    Files.write(path, lines.asJava)
  }
}

/** Engine counters from the three listener kinds Spark offers. Installed
  * once per session (a second `install` returns the same instance), only
  * in traced runs. Events are attributed to an op by draining the
  * listener bus at op boundaries and taking what arrived since the last
  * `take()`.
  */
final class Probes private (spark: SparkSession) {
  final class Agg {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var taskBusyMs = 0L; var shuffleBytes = 0L; var spillBytes = 0L; var gcMs = 0L
    var exchanges = 0L
    var filesRead = 0L; var filesWritten = 0L; var bytesWritten = 0L
    var planMs = 0L; var execNs = 0L
    val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  }

  private var cur = new Agg

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Probes.this.synchronized {
      cur.jobs += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Probes.this.synchronized { cur.stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Probes.this.synchronized {
      cur.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        cur.taskBusyMs += m.executorRunTime
        cur.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        cur.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        cur.gcMs += m.jvmGCTime
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val nodes = Probes.nodes(qe.executedPlan)
      val phases = qe.tracker.phases.values.map(_.durationMs).sum
      Probes.this.synchronized {
        cur.planMs += phases
        cur.execNs += durationNs
        nodes.foreach { n =>
          if (n.nodeName.contains("Exchange")) cur.exchanges += 1
          val m = n.metrics
          if (m.contains("numOutputBytes") && m.contains("numFiles")) {
            cur.filesWritten += m("numFiles").value
            cur.bytesWritten += m("numOutputBytes").value
          } else if (n.nodeName.startsWith("Scan") && m.contains("numFiles"))
            cur.filesRead += m("numFiles").value
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Probes.this.synchronized { cur.progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Everything counted since the previous take. */
  def take(): Agg = {
    BenchBridge.drainListeners(spark.sparkContext)
    synchronized {
      val a = cur
      cur = new Agg
      a
    }
  }
}

object Probes {
  private var installed: Option[Probes] = None

  def install(spark: SparkSession): Probes = synchronized {
    installed.getOrElse {
      val p = new Probes(spark)
      spark.sparkContext.addSparkListener(p.sparkListener)
      spark.listenerManager.register(p.qeListener)
      spark.streams.addListener(p.streamListener)
      installed = Some(p)
      p
    }
  }

  /** Every physical node of an executed plan: AQE's final plan, query
    * stages and subqueries included — the node list a plan dump shows.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: (other.children.flatMap(nodes) ++ other.subqueries.flatMap(nodes))
  }
}

/** Engine-counter metrics shared by every workload. */
object Layers {
  /** From one [[Probes]] aggregate per op and the ops' wall times. */
  def engine(aggs: Seq[Probes#Agg], walls: Seq[Double], cores: Int): Map[String, Double] = {
    def med(f: Probes#Agg => Double) = Stats.median(aggs.map(f))
    val busy = aggs.map(_.taskBusyMs / 1e3).sum
    val wall = walls.filterNot(_.isInfinite).sum
    Map(
      "spark.jobs_per_op" -> med(_.jobs.toDouble),
      "spark.stages_per_op" -> med(_.stages.toDouble),
      "spark.tasks_per_op" -> med(_.tasks.toDouble),
      "spark.task_busy_s_per_op" -> med(_.taskBusyMs / 1e3),
      "spark.shuffle_bytes_per_op" -> med(_.shuffleBytes.toDouble),
      "spark.spill_bytes" -> aggs.map(_.spillBytes.toDouble).sum,
      "spark.gc_s" -> aggs.map(_.gcMs / 1e3).sum,
      "spark.idle_core_share" ->
        (if (wall > 0) math.max(0.0, 1.0 - busy / (cores * wall)) else 0.0),
      "plans.plan_s" -> med(_.planMs / 1e3),
      "plans.exec_s" -> med(_.execNs / 1e9),
      "plans.files_read" -> med(_.filesRead.toDouble),
      "plans.exchanges" -> med(_.exchanges.toDouble),
      "sinks.files_written_per_commit" -> med(_.filesWritten.toDouble))
  }

  /** From one aggregate over `n` ops (a stream's batches) and its wall. */
  def engineTotal(a: Probes#Agg, n: Int, wall: Double, cores: Int): Map[String, Double] = {
    val k = math.max(1, n).toDouble
    Map(
      "spark.jobs_per_op" -> a.jobs / k,
      "spark.stages_per_op" -> a.stages / k,
      "spark.tasks_per_op" -> a.tasks / k,
      "spark.task_busy_s_per_op" -> a.taskBusyMs / 1e3 / k,
      "spark.shuffle_bytes_per_op" -> a.shuffleBytes / k,
      "spark.spill_bytes" -> a.spillBytes.toDouble,
      "spark.gc_s" -> a.gcMs / 1e3,
      "spark.idle_core_share" ->
        (if (wall > 0) math.max(0.0, 1.0 - a.taskBusyMs / 1e3 / (cores * wall)) else 0.0),
      "plans.plan_s" -> a.planMs / 1e3 / k,
      "plans.exec_s" -> a.execNs / 1e9 / k,
      "plans.files_read" -> a.filesRead / k,
      "plans.exchanges" -> a.exchanges / k,
      "sinks.files_written_per_commit" -> a.filesWritten / k)
  }
}

object Fs {
  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def listDirs(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Nil
    else {
      val s = Files.list(p)
      try s.iterator().asScala.filter(Files.isDirectory(_)).toVector.sortBy(_.toString)
      finally s.close()
    }

  /** Versioned-table commit dirs (v-NNNNNN) under a table dir. */
  def versions(tableDir: Path): Int =
    listDirs(tableDir).count(_.getFileName.toString.matches("v-\\d+"))
}
