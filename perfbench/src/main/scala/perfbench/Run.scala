package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run: the session, the generated inputs, the timed
  * operations and the output checks. Timed operations and checks both
  * count as attempted; a refused or failing one counts as failed and
  * contributes no latency sample. */
final class Run(val spark: SparkSession, val seed: Long,
    val seconds: Double, val trace: Boolean, val fixture: String,
    val work: String, val cpus: Int) {

  val sc = spark.sparkContext
  var attempted = 0L
  var failed = 0L
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val failures = mutable.ArrayBuffer.empty[String]
  /** Workload-specific end-to-end figures, printed in the report. */
  val report = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer figures the workload measures itself, summed over the
    * traced cycles. */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  var tracedCycles = 0
  var cycleWalls = Vector.empty[(Boolean, Double)]
  /** Process CPU seconds of each untraced cycle, all threads. */
  var cycleCpu = Vector.empty[Double]
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** The generator's plan for this run (rounds, tombstones). */
  lazy val plan: org.json4s.JValue = org.json4s.jackson.JsonMethods.parse(
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$fixture/plan.json")), "UTF-8"))

  /** A timed operation whose latency is a sample of `kind`. */
  def op[A](kind: String)(f: => A): Option[A] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val a = f
      samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) +=
        (System.nanoTime() - t0) / 1e6
      Some(a)
    } catch {
      case NonFatal(e) =>
        failed += 1
        failures += s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}"
          .take(400)
        None
    }
  }

  /** An output check, run outside every timed region. */
  def check(name: String)(ok: => Boolean): Unit = {
    attempted += 1
    val good = try ok catch {
      case NonFatal(e) =>
        failures += s"check $name threw ${e.getClass.getSimpleName}: " +
          s"${e.getMessage}".take(400)
        false
    }
    if (!good) {
      failed += 1
      if (!failures.exists(_.startsWith(s"check $name")))
        failures += s"check $name failed"
    }
  }

  /** Checks the accounting itself: a call the engine refuses must
    * count as failed and leave no latency sample. The probe call is
    * then taken back out of the counts. */
  def selfTest(name: String)(refused: => Any): Unit = {
    val (a0, f0, n0) = (attempted, failed, failures.size)
    op("selftest")(refused)
    val ok = attempted == a0 + 1 && failed == f0 + 1 &&
      !samples.contains("selftest")
    attempted = a0
    failed = f0
    failures.remove(n0, failures.size - n0)
    check(s"failure accounting: $name counts as failed")(ok)
  }

  def span[A](name: String)(f: => A): A = Tracer.span(sc, name)(f)

  def addLayer(name: String, v: Double): Unit = addCounted(Probes.on, name, v)

  /** Adds to a per-layer sum if the cycle was traced; for figures a
    * cycle's checks read after its probes have stopped, so reading them
    * costs the traced cycle nothing the untraced one does not pay. */
  def addCounted(traced: Boolean, name: String, v: => Double): Unit =
    if (traced) layer(name) = layer.getOrElse(name, 0.0) + v

  def path(rel: String): String = s"$work/$rel"

  /** Runs the workload's unit of work, a cycle, as many times as fit
    * `seconds` at the workload's nominal cycle length: a fixed count
    * per run, so a slow run measures the same work as a fast one. At
    * least one; a traced run runs at least three, alternating untraced
    * and traced, so a traced cycle sits between two untraced ones and
    * the difference from their median is the tracing overhead rather
    * than the warm-up the first cycle still pays. `body` gets
    * the cycle number and a fresh directory, and returns the cycle's
    * output checks, which run after the cycle's clock and probes have
    * stopped. */
  def cycles(nominalS: Double)(body: (Int, String) => () => Unit): Unit = {
    val n = math.max(if (trace) 3 else 1, math.round(seconds / nominalS).toInt)
    for (i <- 0 until n) {
      val traced = trace && i % 2 == 1
      val dir = path(s"cycle-$i")
      new java.io.File(dir).mkdirs()
      val layerSnap = if (traced) Some(LayerSnapshot.take(sc)) else None
      Probes.on = traced
      val c0 = System.nanoTime()
      val cpu0 = os.getProcessCpuTime
      var checks: () => Unit = () => ()
      try checks = body(i, dir)
      finally {
        val wall = (System.nanoTime() - c0) / 1e9
        Probes.on = false
        layerSnap.foreach { s =>
          LayerSnapshot.accumulate(this, s, wall)
          tracedCycles += 1
        }
        cycleWalls :+= (traced -> wall)
        if (!traced) cycleCpu :+= (os.getProcessCpuTime - cpu0) / 1e9
      }
      heapAfterCycle()
      val k0 = System.nanoTime()
      checks()
      checksS += (System.nanoTime() - k0) / 1e9
    }
  }

  /** Time spent in the output checks, outside every cycle. */
  var checksS = 0.0
  var peakHeapMb = 0.0
  /** The live heap after a cycle: the least heap in use over three full
    * GCs, so garbage the engine's background threads make in between
    * does not count. */
  private def heapAfterCycle(): Unit = {
    val used = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(50)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }.min
    peakHeapMb = math.max(peakHeapMb, used / 1048576.0)
  }
}

/** Counter readings at the start of a traced cycle. */
final case class LayerSnapshot(fs: Map[String, Long], fsNanos: Long,
    fsBytes: (Long, Long), jobs: Map[String, Long], gcMs: Long, jitMs: Long,
    batches: Int)

object LayerSnapshot {
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum
  private def jitMs: Long =
    Option(ManagementFactory.getCompilationMXBean)
      .map(_.getTotalCompilationTime).getOrElse(0L)

  def take(sc: org.apache.spark.SparkContext): LayerSnapshot = {
    org.apache.spark.BenchBus.drain(sc)
    JobProbe.jobs.clear()
    Tracer.spans.clear()
    LayerSnapshot(FsCounters.ops.map { case (k, v) => k -> v.sum },
      FsCounters.opNanos.sum, FsCounters.bytes, JobProbe.counters, gcMs,
      jitMs, StreamProbe.batches.size)
  }

  /** Adds one traced cycle's deltas to the run's per-layer sums. */
  def accumulate(r: Run, s: LayerSnapshot, wallS: Double): Unit = {
    org.apache.spark.BenchBus.drain(r.sc)
    def add(k: String, v: Double): Unit =
      r.layer(k) = r.layer.getOrElse(k, 0.0) + v
    val jobs = JobProbe.jobs.asScala.toSeq
    val union = Stats.unionMs(jobs.map(j => (j.start, j.end))) / 1000.0
    val sumJobs = jobs.map(j => j.end - j.start).sum / 1000.0
    add("spark.jobs", jobs.size)
    add("spark.job_union_s", union)
    add("spark.driver_gap_s", wallS - union)
    add("spark.job_overlap_s", sumJobs - union)
    val c = JobProbe.counters
    def d(k: String) = (c(k) - s.jobs(k)).toDouble
    for (k <- Seq("spark.stages", "spark.tasks", "spark.tasks_failed",
        "spark.input_bytes", "spark.input_rows", "spark.shuffle_read_bytes",
        "spark.shuffle_write_bytes", "spark.spill_bytes")) add(k, d(k))
    add("spark.task_s", d("spark.task_ms") / 1000.0)
    add("spark.task_cpu_s", d("spark.task_cpu_ns") / 1e9)
    for (k <- FsCounters.kinds) add(s"fs.$k", FsCounters.ops(k).sum - s.fs(k))
    add("fs.op_ms", (FsCounters.opNanos.sum - s.fsNanos) / 1e6)
    val (rd, wr) = FsCounters.bytes
    add("fs.bytes_read", rd - s.fsBytes._1)
    add("fs.bytes_written", wr - s.fsBytes._2)
    add("jvm.gc_ms", gcMs - s.gcMs)
    add("jvm.jit_ms", jitMs - s.jitMs)
    val batches = StreamProbe.batches.asScala.toSeq.drop(s.batches)
    add("stream.batches", batches.size)
    for ((k, m) <- StreamLayer.phases)
      add(m, batches.map(_.durations.getOrElse(k, 0L)).sum)
    add("stream.input_rows", batches.map(_.inputRows).sum)
    val spans = Tracer.spans.asScala.toSeq
    for ((name, ss) <- spans.groupBy(_.name))
      add(Layers.spanMetric(name), ss.map(x => x.end - x.start).sum)
    SpanReport.add(spans, jobs)
  }
}

object StreamLayer {
  val phases: Seq[(String, String)] = Seq(
    "addBatch" -> "stream.add_batch_ms",
    "queryPlanning" -> "stream.query_planning_ms",
    "walCommit" -> "stream.wal_commit_ms",
    "commitOffsets" -> "stream.commit_offsets_ms",
    "latestOffset" -> "stream.latest_offset_ms",
    "getBatch" -> "stream.get_batch_ms")
}

/** Self time per span name over all traced cycles: a span's duration
  * minus the part its child spans cover, with the Spark jobs its job
  * group ran. */
object SpanReport {
  private val rows = mutable.LinkedHashMap.empty[String, Array[Double]]

  def add(spans: Seq[SpanRec], jobs: Seq[JobRec]): Unit = {
    val children = spans.groupBy(_.parent)
    val jobsBy = jobs.groupBy(_.group)
    for (s <- spans) {
      val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      val total = (s.end - s.start).toDouble
      val self = total - Stats.unionMs(kids)
      val js = jobsBy.getOrElse(s"span-${s.id}", Nil)
      val r = rows.getOrElseUpdate(s.name, Array.fill(5)(0.0))
      r(0) += 1; r(1) += total; r(2) += self; r(3) += js.size
      r(4) += Stats.unionMs(js.map(j => (j.start, j.end)))
    }
  }

  def lines: Seq[String] = {
    val head = f"${"span"}%-28s ${"calls"}%6s ${"total_ms"}%10s " +
      f"${"self_ms"}%10s ${"jobs"}%6s ${"job_ms"}%10s"
    head +: rows.toSeq.map { case (n, r) =>
        f"$n%-28s ${r(0)}%6.0f ${r(1)}%10.1f ${r(2)}%10.1f ${r(3)}%6.0f " +
          f"${r(4)}%10.1f"
    }
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

  /** Linear-interpolated percentile, p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val h = (s.size - 1) * p / 100.0
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  /** The highest percentile of a fixed ladder with at least ten
    * samples beyond it, as (percentile, value); below twenty samples
    * no tail is resolvable and the median stands in. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
      .find(p => xs.size * (100.0 - p) / 100.0 >= 10.0).getOrElse(50.0)
    (p, pct(xs, p))
  }

  /** Total length of the union of [start, end] intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}
