package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog.SeriesCatalog
import graft.io.{CsvHeaderSink, LocalDirUploader}
import graft.operators.{EditOps, EditSession, PivotOps}
import graft.pipeline.Publish
import graft.schema.Odm
import graft.streaming.{StreamingOps, StreamingPublish}

/** The ODM dimensions and publication layout shared by the batch and
  * streaming publish paths: chunks by (site, source, QC level, year),
  * one wide column per variable code and method. */
object OdmLayout {
  val series = Seq((1, 1), (1, 2), (2, 1), (3, 1)) // gen.py ODM_SERIES
  val codes = Map(1 -> "Temp", 2 -> "pH", 3 -> "DO")
  val sentinel = -9999.0
  val domain: Seq[String] = series.map { case (v, m) => s"${codes(v)}-$m" }
  val spec = Publish.ChunkSpec(
    chunkKeys = Seq("SiteID", "SourceID", "QualityControlLevelID", "Year"),
    indexCol = "LocalDateTime", pivotKey = "VariableCode",
    valueCol = "DataValue", domain = domain, sentinel = sentinel)

  def siteName(id: Int): String =
    if (id % 2 == 1) s"Río Logan $id, UT" else s"Logan River $id"

  def header(cv: Seq[Any]): Seq[String] = {
    val site = cv.head.asInstanceOf[Int]
    Seq(s"Site: LR_$site (${siteName(site)})",
      s"Source: ${cv(1)}  QC: ${cv(2)}  Year: ${cv(3)}",
      s"Columns: ${domain.mkString(", ")}")
  }

  /** Reads DataValues rows with their naive wall-clock columns as
    * session-zone timestamps (the session zone is UTC), the type the
    * engine's edit operators take, as its own loaders do for `events`. */
  def load(df: DataFrame): DataFrame =
    df.withColumn("LocalDateTime", col("LocalDateTime").cast("timestamp"))
      .withColumn("DateTimeUTC", col("DateTimeUTC").cast("timestamp"))

  /** The fact with the composed pivot key and the year the layout
    * publishes by. */
  def keyed(fact: DataFrame): DataFrame =
    fact.withColumn("VariableCode", PivotOps.composedPivotKey(
      element_at(typedLit(codes), col("VariableID")), col("MethodID")))
      .withColumn("Year", year(col("LocalDateTime")))

  def dims(s: SparkSession, sites: Int): Seq[DataFrame] = {
    import s.implicits._
    Seq(
      (1 to sites).map(i => Odm.Site(i, s"LR_$i", siteName(i), 41.7, -111.8,
        Some(1400.0), Some("UT"), Some("Cache"))).toDF(),
      codes.toSeq.map { case (i, c) => Odm.Variable(i, c, c, i, "Surface water",
        100, "Continuous", "Water Quality", sentinel) }.toDF(),
      Seq(Odm.Method(1, "Sensor"), Odm.Method(2, "Grab sample")).toDF(),
      Seq(1, 2).map(i => Odm.Source(i, s"Org $i", "USU", "Contact",
        "Citation")).toDF(),
      Seq(Odm.QualityControlLevel(0, "0", "Raw"),
        Odm.QualityControlLevel(1, "1", "Quality controlled")).toDF())
  }

  private val cellCols = spec.chunkKeys :+ "LocalDateTime"

  /** An independent long-to-wide pivot, in plain Spark: one row per
    * chunk key and timestamp, duplicate cells averaged in whole cents,
    * missing cells set to the sentinel. */
  def expected(long: DataFrame): DataFrame =
    long.groupBy(cellCols.map(col): _*).pivot("VariableCode", domain)
      .agg(floor(avg(round(col("DataValue") * 100, 0)) + 0.5) / 100)
      .select(cellCols.map(col) ++ domain.map(k =>
        coalesce(col(s"`$k`"), lit(sentinel)).as(k)): _*)

  /** The published files read back through `CsvHeaderSink.read`, in
    * the shape of [[expected]]; the chunk keys come from the file
    * names. */
  def readBack(s: SparkSession, dir: String): DataFrame = {
    val schema = StructType(StructField("LocalDateTime", TimestampType) +:
      domain.map(StructField(_, DoubleType)))
    val key = split(regexp_replace(element_at(split(input_file_name(), "/"),
      -1), "\\.csv$", ""), "_")
    CsvHeaderSink.read(s, s"$dir/*.csv", Some(schema))
      .select(spec.chunkKeys.zipWithIndex.map { case (k, i) =>
        element_at(key, i + 1).cast("int").as(k) } ++
        (col("LocalDateTime") +: domain.map(k => col(s"`$k`"))): _*)
  }

  /** Both frames hold the same rows, duplicates included. Each side is
    * computed once, not once per comparison. */
  def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    val (x, y) = (a.persist(), b.persist())
    try x.count() == y.count() && x.exceptAll(y).isEmpty &&
      y.exceptAll(x).isEmpty
    finally { x.unpersist(); y.unpersist() }
  }

  def files(dir: String): Seq[String] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator.asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".csv")).toSeq.sorted
    finally s.close()
  }
}

/** The paper's pipeline over an ODM DataValues fact of the FIXTURES.md
  * A.1 shape (two sites, four variable-method series, two QC levels,
  * 15-minute cadence) over 30 days across a turn of year, not A.1's two
  * years: `EditOps.interpolate` is quadratic in series length. Series
  * catalog, an edit session (gap flags, interpolation over sentinel
  * runs, drift correction), publication of one metadata-headed CSV per
  * site, source, QC level and year plus upload, then tails that arrive
  * and are re-published through the resume path (tail probe + append):
  * the first by a batch `publishChunks` call, the rest as files drained
  * by `StreamingPublish.run` with AvailableNow, one micro-batch each.
  * Each cycle starts with the same edit and pivot operators as
  * `SparkEntry` queries ([[OperatorQueries]]). The primary operation is
  * publishing one tail: the batch call or one micro-batch
  * (`triggerExecution`, from the stream listener). The warm-up cycle
  * runs the whole cycle, every tail included, on the fact's last week. */
object OdmPublish extends Workload {
  val name = "odm_publish"
  val primaryOp = "tail"
  private val sites = 2
  private var checked = false

  def warmUp(r: Run): Unit = {
    r.selfTest("publishChunks on a NULL chunk key") {
      Publish.publishChunks(r.spark,
        OdmLayout.keyed(warmFact(r)).withColumn("SiteID", lit(null).cast("int")),
        OdmLayout.spec, r.path("refused"), OdmLayout.header)
    }
    cycle(r, r.path("warm"), warmFact(r), tails(r), record = false)()
  }

  def measure(r: Run): Unit = {
    r.cycles(nominalS = 30)((i, dir) =>
      cycle(r, dir, fact(r), tails(r), record = true, pass = i))
    def med(k: String) = Stats.median(r.samples.getOrElse(k, Nil).toSeq)
    r.report("publish_s") = (med("publish") / 1000, "s")
    r.report("resume_s") = (med("resume") / 1000, "s")
    val batches = r.samples.getOrElse("micro_batch", Nil).toSeq
    r.report("batch_p50_ms") = (Stats.median(batches), "ms")
    r.report("stream_rows_per_s") = (streamRows / (batches.sum / 1000),
      "rows/s")
    r.report("query_p50_ms") = (med("query"), "ms")
  }

  private var streamRows = 0.0

  private def tails(r: Run): Int = new java.io.File(r.fixture).list()
    .count(_.startsWith("odm_tail_"))

  private def fact(r: Run): DataFrame = OdmLayout.load(
    r.spark.read.parquet(s"${r.fixture}/odm_fact.parquet"))

  private def warmFact(r: Run): DataFrame = {
    import org.json4s._
    implicit val formats: Formats = DefaultFormats
    fact(r).filter(col("LocalDateTime") >= lit(java.sql.Timestamp.valueOf(
      (r.plan \ "odm_warm_from").extract[String])))
  }

  private def tailPath(r: Run, k: Int) = s"${r.fixture}/odm_tail_$k.parquet"

  private def tail(r: Run, k: Int): DataFrame = OdmLayout.keyed(
    OdmLayout.load(r.spark.read.parquet(tailPath(r, k))))

  /** One cycle; returns its output checks, which run untimed. */
  private def cycle(r: Run, dir: String, fact: DataFrame, tails: Int,
      record: Boolean, pass: Int = -1): () => Unit = {
    val s = r.spark
    val traced = Probes.on
    val out = s"$dir/out"
    val up = new LocalDirUploader(s"$dir/resource")
    val keys = Odm.SeriesKey
    val ts = "LocalDateTime"
    val kind = if (record) "" else "warm."
    var edited: DataFrame = null
    var session: EditSession = null
    // the queries first: each clears the cache, which holds the edited
    // fact from the publish on
    OperatorQueries.pass(r, r.fixture, pass, kind + "query")
    r.op(kind + "publish") {
      val Seq(st, vr, me, so, qc) = OdmLayout.dims(s, sites)
      r.span("catalog.build")(SeriesCatalog.build(fact, st, vr, me, so, qc)
        .collect())
      edited = r.span("edit.apply") {
        session = EditSession.open(fact)
          .edit(EditOps.withGapFlags(_, keys, ts, "ValueID", 3600.0))
          .select("sentinel", col("DataValue") === OdmLayout.sentinel,
            intersect = false)
          .edit(EditOps.interpolate(_, keys, ts, "ValueID", "DataValue",
            col("sentinel"), "DataValue"))
          .select("drift", col("gap_flag") && !col("sentinel"),
            intersect = false)
          .edit(EditOps.driftCorrect(_, keys, ts, "DataValue", col("drift"),
            0.25, "DataValue"))
        val e = OdmLayout.keyed(session.df).persist()
        e.count()
        e
      }
      val written = r.span("publish.chunks")(Publish.publishChunks(s, edited,
        OdmLayout.spec, out, OdmLayout.header, parallelism = r.cpus))
      r.span("upload") {
        up.uploadFiles("gamut", written.map(_._2))
        up.setPublic("gamut")
      }
      r.addLayer("publish.chunks", written.size)
    }
    r.op(kind + "resume") {
      val written = r.span("publish.resume")(Publish.publishChunks(s,
        tail(r, 1), OdmLayout.spec, out, OdmLayout.header,
        parallelism = r.cpus))
      r.span("upload")(up.uploadFiles("gamut", written.map(_._2)))
    }.foreach(_ => if (record) r.samples.getOrElseUpdate("tail",
      scala.collection.mutable.ArrayBuffer.empty) += r.samples("resume").last)
    // the remaining tails arrive as files, oldest first
    val arrivals = s"$dir/arrivals"
    Files.createDirectories(Paths.get(arrivals))
    val t0 = System.currentTimeMillis() - 1000000L
    for (k <- 2 to tails) {
      val to = Paths.get(arrivals, f"tail-$k%03d.parquet")
      Files.copy(Paths.get(tailPath(r, k)), to)
      to.toFile.setLastModified(t0 + k * 10000L)
    }
    val b0 = { org.apache.spark.BenchBus.drain(r.sc); StreamProbe.batches.size }
    r.op(kind + "stream") {
      val ss = StreamingOps.streamSession(s)
      val stream = ss.readStream.schema(ss.read.parquet(tailPath(r, 1)).schema)
        .option("maxFilesPerTrigger", 1).parquet(arrivals)
      r.span("publish.stream")(StreamingPublish.run(
        OdmLayout.keyed(OdmLayout.load(stream)), OdmLayout.spec, out,
        OdmLayout.header, s"$dir/checkpoint"))
      r.span("upload")(up.uploadFiles("gamut",
        OdmLayout.files(out).map(f => s"$out/$f")))
    }
    org.apache.spark.BenchBus.drain(r.sc)
    val batches = StreamProbe.batches.asScala.toSeq.drop(b0)
    if (record) {
      val ms = batches.map(_.durations.getOrElse("triggerExecution", 0L)
        .toDouble)
      r.samples.getOrElseUpdate("micro_batch",
        scala.collection.mutable.ArrayBuffer.empty) ++= ms
      r.samples.getOrElseUpdate("tail",
        scala.collection.mutable.ArrayBuffer.empty) ++= ms
      streamRows += batches.map(_.inputRows).sum
    }
    () => {
      r.addCounted(traced, "publish.rows_written",
        OdmLayout.files(out).map(f => Files.lines(Paths.get(out, f))
          .filter(l => !l.startsWith("#") && !l.startsWith("\"#")).count - 1)
          .sum.toDouble)
      if (record && !checked && edited != null) {
        checked = true
        val long = (1 to tails).map(tail(r, _)).foldLeft(edited)((a, b) =>
          a.unionByName(b, allowMissingColumns = true))
        r.check("odm_publish: CSVs read back equal an independent pivot " +
          "of the edited fact and every tail")(OdmLayout.sameRows(
            OdmLayout.readBack(s, out), OdmLayout.expected(long)))
        r.check("odm_publish: one micro-batch per streamed tail")(
          batches.count(_.inputRows > 0) == tails - 1)
        r.check("odm_publish: every chunk uploaded, resource public")(
          up.listFiles("gamut") == OdmLayout.files(out) &&
            up.isPublic("gamut") && OdmLayout.files(out).forall(f =>
              java.util.Arrays.equals(Files.readAllBytes(Paths.get(out, f)),
                Files.readAllBytes(Paths.get(s"$dir/resource/gamut", f)))))
        r.check("odm_publish: headers intact after resume")(
          OdmLayout.files(out).forall(f =>
            CsvHeaderSink.readHeader(s"$out/$f") ==
              OdmLayout.header(f.stripSuffix(".csv").split("_").toSeq
                .map(_.toInt))))
        OperatorQueries.writeResults(r, r.fixture, r.path("queries"))
      }
      if (edited != null) edited.unpersist()
      if (session != null) session.close()
    }
  }
}
