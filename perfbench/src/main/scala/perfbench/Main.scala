package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The per-layer metrics a traced run reports, with their units. Every
  * traced run reports all of them; a layer the workload does not run
  * reads 0. Values are per traced cycle. */
object Layers {
  private val spark = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.tasks_failed" -> "count",
    "spark.job_union_s" -> "s", "spark.driver_gap_s" -> "s",
    "spark.job_overlap_s" -> "s", "spark.task_s" -> "s",
    "spark.task_cpu_s" -> "s", "spark.input_bytes" -> "B",
    "spark.input_rows" -> "count", "spark.shuffle_read_bytes" -> "B",
    "spark.shuffle_write_bytes" -> "B", "spark.spill_bytes" -> "B")
  private val fs = FsCounters.kinds.map(k => s"fs.$k" -> "count") ++ Seq(
    "fs.bytes_written" -> "B", "fs.bytes_read" -> "B", "fs.op_ms" -> "ms")
  /** Spans the benchmark records around its calls into each module;
    * each reports its total time per traced cycle. */
  val spans: Seq[String] = Seq(
    "query.build", "query.plan", "query.exec",
    "catalog.build", "edit.apply",
    "publish.chunks", "publish.resume", "publish.stream", "upload",
    "vector_index.build", "vector_index.append", "vector_index.serve",
    "vector_index.delete", "vector_index.rebuild",
    "dedup_index.build", "dedup_index.probe", "dedup_index.gate",
    "dedup_index.append", "dedup_index.delete",
    "manifest.compact", "manifest.vacuum",
    "cdc.init", "cdc.apply", "cdc.read")
  def spanMetric(name: String): String =
    if (name.contains('.')) s"${name}_ms" else s"$name.ms"
  private val counted = Seq(
    "publish.chunks" -> "count", "publish.rows_examined_per_row" -> "ratio",
    "vector_index.drift_signals" -> "count",
    "dedup_index.admit_ratio" -> "ratio",
    "manifest.generations" -> "count",
    "manifest.rewrite_per_appended_byte" -> "ratio",
    "cdc.buckets_rewritten" -> "count", "cdc.skew" -> "ratio")
  private val stream = Seq("stream.batches" -> "count") ++
    StreamLayer.phases.map(_._2 -> "ms") ++ Seq(
      "stream.input_rows" -> "count")
  private val jvm = Seq("jvm.gc_ms" -> "ms", "jvm.jit_ms" -> "ms",
    "trace.overhead_s" -> "s")
  /** Ratio metrics: numerator and denominator, each summed over the
    * traced cycles. */
  val ratios: Map[String, (String, String)] = Map(
    "publish.rows_examined_per_row" ->
      ("spark.input_rows", "publish.rows_written"),
    "dedup_index.admit_ratio" -> ("dedup_index.admitted", "dedup_index.arrivals"),
    "manifest.rewrite_per_appended_byte" ->
      ("manifest.compact_bytes", "manifest.appended_bytes"))
  val all: Seq[(String, String)] =
    spark ++ fs ++ spans.map(n => spanMetric(n) -> "ms") ++ counted ++
      stream ++ jvm
}

/** Runs one workload in this JVM and writes `result.json` to the work
  * directory; `perfbench/run.py` starts it, checks the outputs it
  * cannot check here, and prints the result line.
  *
  * Arguments: workload seed seconds trace(0|1) fixtureDir workDir cpus
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, fixture, work, cpus) = args
    val traced = trace == "1"
    val b = graft.Sessions.builder(s"perfbench-$workload", cpus)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.streamingQueryListeners",
        "perfbench.StreamProbe")
    if (traced) b
      .config("spark.extraListeners", "perfbench.JobProbe")
      .config("spark.hadoop.fs.file.impl", "perfbench.CountingLocalFileSystem")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val readyS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val run = new Run(spark, seed.toLong, seconds.toDouble, traced, fixture,
      work, cpus.toInt)
    val w: Workload = workload match {
      case "odm_publish" => OdmPublish
      case "artifact_ingest" => ArtifactIngest
    }
    val w0 = System.nanoTime()
    w.warmUp(run)
    val warmS = (System.nanoTime() - w0) / 1e9
    spark.catalog.clearCache()
    w.measure(run)
    write(run, w, readyS, warmS, s"$work/result.json")
    spark.stop()
  }

  import Json.{num, str}

  private def write(r: Run, w: Workload, readyS: Double, warmS: Double,
      out: String): Unit = {
    val lat = r.samples.getOrElse(w.primaryOp, Seq.empty[Double]).toSeq
    val (tailP, tailV) = if (lat.isEmpty) (0.0, 0.0) else Stats.tail(lat)
    val untraced = r.cycleWalls.filterNot(_._1).map(_._2)
    val tracedW = r.cycleWalls.filter(_._1).map(_._2)
    val e2e = Seq(
      "session_s" -> readyS, "warmup_s" -> warmS,
      "wall_s" -> Stats.median(untraced),
      "cpu_s" -> Stats.median(r.cycleCpu),
      "p50_ms" -> Stats.median(lat), "tail_ms" -> tailV,
      "tail_pct" -> tailP, "samples" -> lat.size.toDouble,
      "cycles" -> r.cycleWalls.size.toDouble, "checks_s" -> r.checksS,
      "peak_heap_mb" -> r.peakHeapMb)
    val n = math.max(r.tracedCycles, 1)
    val layer = Layers.all.map { case (k, unit) =>
      val v =
        if (k == "trace.overhead_s")
          if (tracedW.isEmpty) 0.0
          else Stats.median(tracedW) - Stats.median(untraced)
        else Layers.ratios.get(k) match {
          case Some((num, den)) =>
            r.layer.get(den).filter(_ > 0)
              .map(r.layer.getOrElse(num, 0.0) / _).getOrElse(0.0)
          case None => r.layer.getOrElse(k, 0.0) / n
        }
      s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(unit)}}"
    }
    val json = new StringBuilder("{")
    json ++= s"\"workload\":${str(w.name)},"
    json ++= s"\"attempted\":${r.attempted},\"failed\":${r.failed},"
    json ++= "\"failures\":" + r.failures.map(str).mkString("[", ",", "]") + ","
    json ++= "\"e2e\":" + e2e.map { case (k, v) => s"${str(k)}:${num(v)}" }
      .mkString("{", ",", "}") + ","
    json ++= "\"report\":" + r.report.map { case (k, (v, u)) =>
      s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(u)}}"
    }.mkString("{", ",", "}") + ","
    json ++= "\"ops\":" + r.samples.map { case (k, v) =>
      s"${str(k)}:[${v.size},${num(Stats.median(v.toSeq))}]"
    }.mkString("{", ",", "}") + ","
    json ++= "\"layer\":" + layer.mkString("{", ",", "}") + ","
    json ++= "\"spans\":" + SpanReport.lines.map(str).mkString("[", ",", "]")
    json ++= "}"
    Files.write(Paths.get(out), json.toString.getBytes(StandardCharsets.UTF_8))
  }
}

trait Workload {
  def name: String
  /** The operation whose latencies give `p50_ms` and `tail_ms`. */
  def primaryOp: String
  def warmUp(r: Run): Unit
  def measure(r: Run): Unit
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
