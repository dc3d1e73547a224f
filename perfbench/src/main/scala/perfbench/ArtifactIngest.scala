package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._

import graft.operators.{ArtifactManifest, DedupIndex, PartitionedCdc,
  TextOps, VectorIndex}

/** The artifact lifecycles side by side: an IVF+PQ vector index, an
  * LSH dedup index and a copy-on-write CDC table are built from a
  * generated base, then absorb rounds of arrivals (vector append, doc
  * probe + gate + append, CDC batch), each followed by a read round
  * (top-k serve, probe, maintained-view read). Then tombstoned ids are
  * taken down, the artifacts compacted and vacuumed, the vector index
  * rebuilt once because the later arrivals drifted, and read again. The
  * primary operation is one arrival round. */
object ArtifactIngest extends Workload {
  val name = "artifact_ingest"
  val primaryOp = "ingest"

  // index geometry: the engine's own (SimilarityQueries, DedupQueries)
  private val Dim = 64
  private val Lloyd = 2
  private val PqSub = 8
  private val PqSubDim = Dim / PqSub
  private val PqK = 16
  private val GateBits = 4
  private val K = 4
  private val RowsPerBand = 2
  private val JacThreshold = 0.5
  // the base is generation 0, so the second round's appends reach three
  // generations and compact, before the explicit compaction in maintain
  private val CompactEvery = 3
  private val bucketOf = pmod(col("o_orderkey"), lit(16)).cast("long")

  private final case class Round(lo: Long, hi: Long)

  private var checked = false

  def warmUp(r: Run): Unit = {
    val rounds = plan(r)._1
    cycle(r, r.path("warm"), rounds.take(1), Nil, record = false)()
  }

  def measure(r: Run): Unit = {
    val (rounds, tombs) = plan(r)
    r.cycles(nominalS = 30)((_, dir) =>
      cycle(r, dir, rounds, tombs, record = true))
    def med(k: String) = Stats.median(r.samples.getOrElse(k, Nil).toSeq)
    r.report("build_s") = (med("build") / 1000, "s")
    r.report("ingest_p50_ms") = (med("ingest"), "ms")
    r.report("serve_p50_ms") = (med("serve"), "ms")
    r.report("maintain_s") = (r.samples.getOrElse("maintain", Nil).sum /
      1000 / r.cycleWalls.size, "s")
  }

  private implicit val formats: Formats = DefaultFormats

  private def plan(r: Run): (Seq[Round], Seq[Long]) =
    ((r.plan \ "rounds").extract[Seq[Map[String, Long]]]
      .map(m => Round(m("lo"), m("hi"))), (r.plan \ "tombs").extract[Seq[Long]])

  private def base(r: Run): Long = (r.plan \ "base").extract[Long]

  private def ids(s: SparkSession, col: String, xs: Seq[Long]): DataFrame = {
    import s.implicits._
    xs.toDF(col)
  }

  /** One cycle over fresh artifact directories; returns its checks. */
  private def cycle(r: Run, dir: String, rounds: Seq[Round],
      tombs: Seq[Long], record: Boolean): () => Unit = {
    val s = r.spark
    val traced = Probes.on
    val n0 = base(r)
    val docs = s.read.parquet(s"${r.fixture}/documents.parquet")
    val vecs = s.read.parquet(s"${r.fixture}/embeddings.parquet")
      .select("vec_id", "embedding")
    val cdcBase = s.read.parquet(s"${r.fixture}/cdc_base.parquet")
    val cdcLog = s.read.parquet(s"${r.fixture}/cdc_log.parquet")
    val grams = docs.select(col("doc_id"),
      TextOps.charNgrams("text", 4).as("grams"))
    val (vdir, ddir, croot) = (s"$dir/vec", s"$dir/doc", s"$dir/cdc")
    val kind = if (record) "" else "warm."
    val decisions = Seq.newBuilder[Array[org.apache.spark.sql.Row]]
    var appendedBytes, compactBytes = 0L
    val cdcVersions = Seq.newBuilder[Int]

    r.op(kind + "build") {
      r.span("vector_index.build")(VectorIndex.build(
        vecs.filter(col("vec_id") < n0), Dim, Lloyd, PqSub, PqSubDim, PqK,
        vdir, gateBits = Some(GateBits)))
      r.span("dedup_index.build")(DedupIndex.build(
        docs.filter(col("doc_id") < n0), "text", "doc_id", K, RowsPerBand,
        ddir))
      r.span("cdc.init")(PartitionedCdc.init(cdcBase, bucketOf, croot))
    }

    def written[A](f: => A): (A, Long) = {
      val b0 = FsCounters.bytes._2
      val a = f
      (a, FsCounters.bytes._2 - b0)
    }

    def serve(i: Int): Unit = r.op(kind + "serve") {
      r.span("vector_index.serve")(VectorIndex.serveTopK(
        VectorIndex.load(s, vdir), PqSubDim, 5, 3).collect())
      r.span("dedup_index.probe")(DedupIndex.probe(DedupIndex.load(s, ddir),
        docs.filter(col("doc_id") % 97 === i), "text", "doc_id").collect())
      r.span("cdc.read")(PartitionedCdc.read(s, croot)
        .agg(count(lit(1)), sum(col("price"))).collect())
    }

    for ((rd, i) <- rounds.zipWithIndex) {
      val batch = docs.filter(col("doc_id") >= rd.lo && col("doc_id") < rd.hi)
      r.op(kind + "ingest") {
        val (drift, vb) = written(r.span("vector_index.append")(
          VectorIndex.append(s, vdir,
            vecs.filter(col("vec_id") >= rd.lo && col("vec_id") < rd.hi),
            compactEvery = CompactEvery)))
        val l = DedupIndex.load(s, ddir)
        val cand = r.span("dedup_index.probe")(DedupIndex.probe(l, batch,
          "text", "doc_id", pushTouched = true,
          storeBytes = Some(ArtifactManifest.liveBytes(s, s"$ddir/buckets"))))
        val dec = r.span("dedup_index.gate")(DedupIndex.gateDecisions(cand,
          grams.filter(col("doc_id") < rd.hi), batch, "doc_id",
          JacThreshold).collect())
        val (_, db) = written(r.span("dedup_index.append")(DedupIndex.append(
          s, ddir, batch, "text", "doc_id", compactEvery = CompactEvery)))
        appendedBytes += vb + db
        val v = r.span("cdc.apply")(PartitionedCdc.applyBatch(s, croot,
          cdcLog.filter(col("seq") === i + 1), Seq("o_orderkey"), "seq",
          "op", bucketOf))
        cdcVersions += v
        r.addLayer("dedup_index.admitted",
          dec.count(_.getAs[Boolean]("admitted")))
        r.addLayer("dedup_index.arrivals", (rd.hi - rd.lo).toDouble)
        if (drift) r.addLayer("vector_index.drift_signals", 1)
        decisions += dec
      }
      serve(i)
    }
    if (tombs.nonEmpty) {
      r.op(kind + "maintain") {
        r.span("vector_index.delete")(
          VectorIndex.delete(s, vdir, ids(s, "vec_id", tombs)))
        r.span("dedup_index.delete")(
          DedupIndex.delete(s, ddir, ids(s, "doc_id", tombs)))
        compactBytes += written(r.span("manifest.compact") {
          ArtifactManifest.compactGenerationsSized(s, s"$vdir/corpus", "cell",
            sortWithin = Seq("bucket"), vacuum = false)
          ArtifactManifest.compactGenerationsSized(s, s"$ddir/buckets",
            "band", sortWithin = Seq("bucket"), vacuum = false)
        })._2
        r.span("manifest.vacuum") {
          ArtifactManifest.vacuum(s, s"$vdir/corpus")
          ArtifactManifest.vacuum(s, s"$ddir/buckets")
        }
      }
      // the later arrivals drifted: retrain on what the index now holds
      r.op(kind + "maintain")(r.span("vector_index.rebuild")(
        VectorIndex.rebuild(s, vdir, Lloyd, PqSub, PqSubDim, PqK)))
      serve(rounds.size)
    }

    def checks(): Unit = {
      checked = true
      val fixtureBytes = Seq("documents", "embeddings", "cdc_base", "cdc_log")
        .map(t => new java.io.File(s"${r.fixture}/$t.parquet").length).sum
      r.report("space_amp") = (Seq(vdir, ddir, croot).map(du).sum.toDouble /
        fixtureBytes, "ratio")
      val arrived = rounds.map(x => x.hi - x.lo).sum
      val deleted = tombs.toSet.size
      r.check("artifact_ingest: live vector ids = base + appended - deleted")(
        VectorIndex.load(s, vdir).corpus.select("vec_id").distinct().count() ==
          n0 + arrived - deleted)
      r.check("artifact_ingest: live doc ids = base + appended - deleted")(
        DedupIndex.load(s, ddir).buckets.select("doc_id").distinct().count() ==
          n0 + arrived - deleted)
      // the rounds must admit what one gate over all of their arrivals
      // admits against the base index
      val oneShot = s"$dir/oneshot"
      DedupIndex.build(docs.filter(col("doc_id") < n0), "text", "doc_id", K,
        RowsPerBand, oneShot)
      val hi = rounds.last.hi
      val all = docs.filter(col("doc_id") >= n0 && col("doc_id") < hi)
      val want = DedupIndex.gateDecisions(DedupIndex.probe(
          DedupIndex.load(s, oneShot), all, "text", "doc_id"),
        grams.filter(col("doc_id") < hi), all, "doc_id", JacThreshold)
        .collect().map(_.toSeq).toSet
      val got = decisions.result().flatten.map(_.toSeq).toSet
      r.check("artifact_ingest: round-by-round gate admissions equal the " +
        "one-shot batch gate")(got == want && got.nonEmpty)
      r.check("artifact_ingest: CDC table equals the latest-wins replay")(
        PartitionedCdc.read(s, croot).select("o_orderkey", "o_custkey", "price")
          .collect().map(_.toSeq).toSet == CdcReplay.expected(cdcBase,
            cdcLog.filter(col("seq") <= rounds.size)))
    }

    () => {
      r.addCounted(traced, "cdc.buckets_rewritten", cdcVersions.result()
        .map(v => PartitionedCdc.manifest(s, croot, v).buckets
          .count(_._2 == v)).sum.toDouble)
      r.addCounted(traced, "manifest.generations", Seq(s"$vdir/corpus",
        s"$ddir/buckets").map(d => ArtifactManifest.latest(s, d)
          .map(_.generations.size).getOrElse(0)).sum.toDouble)
      r.addCounted(traced, "manifest.compact_bytes", compactBytes.toDouble)
      r.addCounted(traced, "manifest.appended_bytes", appendedBytes.toDouble)
      r.addCounted(traced, "cdc.skew", PartitionedCdc.bucketSkew(s, croot))
      if (record && !checked) checks()
    }
  }

  /** Bytes of regular files under `dir`, walked after the cycle. */
  def du(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(walk).sum
      else f.length
    walk(new java.io.File(dir))
  }
}

/** An independent latest-wins replay of a CDC log over its base, in
  * driver collections. */
object CdcReplay {
  def expected(base: DataFrame, log: DataFrame): Set[Seq[Any]] = {
    val state = scala.collection.mutable.Map.empty[Long, Seq[Any]]
    base.select("o_orderkey", "o_custkey", "price").collect()
      .foreach(r => state(r.getLong(0)) = r.toSeq)
    log.select("o_orderkey", "o_custkey", "price", "seq", "op").collect()
      .sortBy(_.getLong(3))
      .foreach { r =>
        if (r.getString(4) == "D") state.remove(r.getLong(0))
        else state(r.getLong(0)) = r.toSeq.take(3)
      }
    state.values.toSet
  }
}
