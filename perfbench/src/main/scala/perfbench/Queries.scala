package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** The paper's edit and publication operators as `SparkEntry.queries`
  * entries (gap flags, value-change flags, run groups, interpolation,
  * drift correction, long-to-wide pivots, series stats, the resume
  * probe's open range, sentinel exclusion), run over the generated star
  * schema. None persists an artifact or starts a stream. A query's
  * latency is building its frame, planning it and forcing it through
  * the `noop` sink, the same in traced and untraced cycles. */
object OperatorQueries {
  val names: Seq[String] = Seq(
    "w1_gap_flags", "w2_value_change", "w3_run_groups", "w4_interpolate",
    "w5_drift_correct", "v1_pivot_wide", "v2_pivot_sentinel",
    "a5_series_stats", "p6_open_range", "p12_sentinel_exclude")

  /** Runs every query once, in an order the seed and `pass` shuffle. */
  def pass(r: Run, dir: String, pass: Int, kind: String): Unit = {
    val order = new scala.util.Random(r.seed * 7919L + pass).shuffle(names)
    for (n <- order) {
      r.op(kind) {
        val df = r.span("query.build")(
          graft.SparkEntry.queries(n)(r.spark, dir))
        r.span("query.plan")(df.queryExecution.executedPlan)
        r.span("query.exec")(df.write.format("noop").mode("overwrite").save())
      }
      r.spark.catalog.clearCache()
    }
  }

  /** Writes each query's result as parquet under `out/<name>`, with
    * `oracle_sql.json` and `queries.json`, the layout the engine's
    * oracle check (`tools/check.py`) reads; run.py runs that check
    * after the JVM exits. A query that fails here leaves no directory,
    * which the check counts as failed. */
  def writeResults(r: Run, dir: String, out: String): Unit = {
    for (n <- names) {
      try graft.SparkEntry.queries(n)(r.spark, dir).coalesce(1).write
        .parquet(s"$out/$n")
      catch {
        case scala.util.control.NonFatal(e) =>
          r.failures += s"query $n: ${e.getClass.getSimpleName}: " +
            s"${e.getMessage}".take(400)
      }
      r.spark.catalog.clearCache()
    }
    def write(file: String, json: String): Unit = Files.write(
      Paths.get(s"$out/$file"), json.getBytes(StandardCharsets.UTF_8))
    write("oracle_sql.json", names.flatMap(n => graft.SparkEntry.oracleSql
      .get(n).map(sql => s"${Json.str(n)}:${Json.str(sql)}"))
      .mkString("{", ",", "}"))
    write("queries.json", names.map(Json.str).mkString("[", ",", "]"))
  }
}
