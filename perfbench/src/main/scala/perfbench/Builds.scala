package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Pipeline, PipelineConfig}
import graft.canon.ConnectedComponents
import graft.io.{IcebergishTable, RootCommit}
import graft.link.Mentions
import graft.materialize.GraphOut
import graft.synth.PageSynth
import graft.triples.TripleExtract

/** `build_zipf` and `build_hub`: fresh batch builds over a pre-built pages
  * table (closed loop, one client), then resumes after losing a fixed set
  * of edge buckets.
  */
object Builds {
  val Buckets = 16
  // Edge buckets deleted before every resume.
  val LostBuckets = Seq(1, 6, 11)
  // Repetitions; the smoke mode runs each step once, on tiny inputs.
  def setupReps(a: Args): Int = if (a.smoke) 1 else 3
  def warmupBuilds(a: Args): Int = if (a.smoke) 0 else 1
  def minBuilds(a: Args): Int = if (a.smoke) 1 else 3
  def resumes(a: Args): Int = if (a.smoke) 1 else 3
  // Traced runs alternate production and layered builds.
  def tracedBuilds(a: Args): Int = if (a.smoke) 2 else 4

  final case class Shape(pages: Long, hubShare: Double)

  def shape(a: Args, hubShare: Double): Shape =
    Shape(if (a.smoke) 300L else 2500L, hubShare)

  def config(a: Args, s: Shape, dir: String, runId: String): PipelineConfig =
    PipelineConfig(seed = a.seed, nPages = s.pages, partitions = 8,
      outputBuckets = Buckets, workDir = dir, runId = runId,
      sentMin = 24, sentSpread = 16, hubShare = s.hubShare,
      writeSalt = 0) // auto salt: the production path

  /** Run id of the build that wrote `dir`: the dir's name. */
  private def runIdOf(dir: String): String =
    java.nio.file.Paths.get(dir).getFileName.toString

  /** A fresh work dir sharing the pre-built pages table. */
  private def opDir(a: Args, name: String, table: String): String = {
    val dir = s"${a.work}/$name"
    Common.mkdirs(dir)
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(s"$dir/pages"), java.nio.file.Paths.get(table))
    dir
  }

  def run(a: Args, hubShare: Double, tr: Tracer, res: Result): SparkSession = {
    val s = shape(a, hubShare)

    // Set-up, repeated: session start plus pages-table generation.
    var spark: SparkSession = null
    val setupS = (0 until setupReps(a)).map { r =>
      Common.timed {
        if (spark != null) spark.stop()
        spark = Common.session(a)
        Pipeline.buildPagesTable(spark, config(a, s, s"${a.work}/setup-$r", "setup"))
      }._2
    }
    (0 until setupReps(a) - 1).foreach(r => Common.rm(s"${a.work}/setup-$r"))
    val table = s"${a.work}/setup-${setupReps(a) - 1}/pages"
    if (!tr.enabled) res.put("setup_s", Stats.median(setupS), "s")
    Common.log(s"set-up: ${setupS.map(x => f"$x%.2f").mkString(" ")} s")
    tr.attach(spark)

    (0 until warmupBuilds(a)).foreach { i =>
      val dir = opDir(a, s"warm-$i", table)
      Pipeline.build(spark, config(a, s, dir, "warm"))
      Common.rm(dir)
      Common.log(s"warm-up build $i done")
    }

    val golden: Set[Common.Row4] = {
      val ss = spark
      import ss.implicits._
      PageSynth.goldenTriples(spark, a.seed, s.pages, 8, 24, 16, s.hubShare)
        .map(t => (t.subj, t.pred, t.obj, t.url)).collect().toSet
    }
    if (tr.enabled) traced(spark, a, s, table, golden, tr, res)
    else untraced(spark, a, s, table, golden, res)
    spark
  }

  /** Closed loop of fresh `Pipeline.build` calls for `seconds`. Returns the
    * (wall seconds, triples) of each build and the last build's dir.
    */
  private def freshBuilds(spark: SparkSession, a: Args, s: Shape, table: String,
                          res: Result, minOps: Int,
                          op: (Int, String) => Long): (Seq[(Double, Long)], String) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
    val t0 = System.nanoTime()
    var i = 0
    var last: String = null
    while (i < minOps || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val dir = opDir(a, s"op-$i", table)
      res.attempt(s"build $i") {
        val (n, sec) = Common.timed(op(i, dir))
        Common.log(f"build $i: $sec%.2f s, $n triples")
        out += ((sec, n))
      }
      if (last != null) Common.rm(last)
      last = dir
      i += 1
    }
    (out.toSeq, last)
  }

  private def checkBuild(spark: SparkSession, dir: String, expect: Long,
                         golden: Set[Common.Row4], res: Result): (Double, Double, Double) = {
    val rows = Common.edgeRows(spark, s"$dir/edges")
    val got = rows.toSet
    res.check(rows.length == got.size, s"$dir: ${rows.length - got.size} duplicate edges")
    res.check(rows.length == expect, s"$dir: ${rows.length} edges, build reported $expect")
    val (p, r) = Common.precisionRecall(got, golden)
    res.check(p >= Common.MinPR && r >= Common.MinPR, s"$dir: golden P/R $p/$r")
    (p, r, Common.tableBytes(s"$dir/edges").toDouble / math.max(1, rows.length))
  }

  private def untraced(spark: SparkSession, a: Args, s: Shape, table: String,
                       golden: Set[Common.Row4], res: Result): Unit = {
    val (builds, last) = freshBuilds(spark, a, s, table, res, minBuilds(a),
      (_, dir) => Pipeline.build(spark, config(a, s, dir, runIdOf(dir))))
    // Outside the timed window: every build wrote the same table size,
    // and the last one matches the golden triples.
    val counts = builds.map(_._2).distinct
    res.check(counts.size == 1, s"builds disagree on triple count: $counts")
    val (p, r, bytesPerTriple) = checkBuild(spark, last, builds.last._2, golden, res)

    Common.log("fresh builds checked")
    val fresh = Common.fingerprints(spark, s"$last/edges")
    val resumeS = (0 until resumes(a)).flatMap { i =>
      IcebergishTable.deletePartitionDirs(s"$last/edges", LostBuckets)
      val sec = res.attempt(s"resume $i") {
        Common.timed(Pipeline.build(spark, config(a, s, last, runIdOf(last))))._2
      }
      res.check(Common.fingerprints(spark, s"$last/edges") == fresh,
        s"resume $i: bucket fingerprints differ from the fresh build")
      sec.foreach(x => Common.log(f"resume $i: $x%.2f s"))
      sec
    }

    val walls = builds.map(_._1)
    res.put("triples_per_s", Stats.median(builds.map { case (w, n) => n / w }), "triples/s")
    res.put("pages_per_s", Stats.median(walls.map(s.pages / _)), "pages/s")
    res.put("op_s_p50", Stats.median(walls), "s")
    res.put("op_s_p75", Stats.quantile(walls, 0.75), "s")
    res.put("resume_s", Stats.median(resumeS), "s")
    res.put("triple_precision", p, "ratio")
    res.put("triple_recall", r, "ratio")
    res.put("stored_bytes_per_triple", bytesPerTriple, "B")
    res.diagnostics("ops") = walls.size
    res.diagnostics("op_s") = walls
    res.diagnostics("resume_s") = resumeS
  }

  /** Fused-pass layer metrics of workloads that do not probe them. */
  def fusedLayersNotRun(res: Result): Unit = Seq(
    "io.scan_s" -> "s", "io.scan_cpu_s" -> "s", "extract.self_s" -> "s",
    "extract.cpu_s" -> "s", "extract.html_mb" -> "MB", "link.self_s" -> "s",
    "link.cpu_s" -> "s", "link.mentions" -> "count", "triples.self_s" -> "s",
    "triples.candidates" -> "count", "triples.emitted" -> "count",
    "triples.yield" -> "ratio").foreach { case (m, u) => res.put(m, 0.0, u) }

  // ---- traced run ---------------------------------------------------------

  private lazy val aliasDict = PageSynth.aliasDictionary
  private lazy val phrases = PageSynth.relations.toMap

  /** Outputs of one layer-by-layer build. */
  final case class Traced(edgesRows: Long, recomputed: Int, canonLocal: Boolean)

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The build, one public call per layer, each forced to completion.
    * The fused scan → extract → link → triples prefix is measured by
    * probes that stop after each layer; they run inside `probe.*` spans
    * that are not part of the build's own wall time.
    */
  def layered(spark: SparkSession, tr: Tracer, table: String, dir: String,
              runId: String, salt: Int, probes: Boolean): Traced = {
    val pages = Pipeline.readPagesForExtraction(spark, table)
    val (canonDf, fitsDriver) = tr.span("canon") {
      ConnectedComponents.componentsSized(PageSynth.sameAs(spark).toDF("src", "dst"),
        localThreshold = PipelineConfig().ccLocalThreshold)
    }
    val canonMap: Map[String, String] = tr.span("canon.collect") {
      if (fitsDriver) canonDf.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      else Map.empty
    }
    if (probes) {
      // length(html) reads the html column without copying it to the sink.
      tr.span("probe.io")(noop(IcebergishTable.read(spark, table)
        .select(col("url"), length(col("html")))))
      tr.span("probe.extract")(noop(pages.select("url", "text")))
      // The typed passes still run per row when their output is projected
      // away; projecting it keeps the nested output's serialization out of
      // the link probe, which the triples probe does not pay either.
      tr.span("probe.link")(noop(Mentions.scanPages(pages, aliasDict, phrases).toDF.select(lit(1))))
      tr.span("probe.triples")(noop(
        TripleExtract.extractDirect(pages, aliasDict, phrases, canonMap).toDF.select(lit(1))))
    }
    val raw =
      if (fitsDriver) TripleExtract.extractDirect(pages, aliasDict, phrases, canonMap)
      else TripleExtract.canonicalize(TripleExtract.extractDirect(pages, aliasDict, phrases),
        canonDf, assumeSmall = false, dedup = false)
    // Same sample the auto salt takes; the salt itself is the one the
    // production build chose (its files per bucket).
    tr.span("salt") {
      TripleExtract.extractDirect(pages.limit(1000), aliasDict, phrases, canonMap)
        .groupBy("subj").count().agg(max("count"), sum("count")).head()
    }
    val ckpt = s"$dir/checkpoint"
    val tag = s"snap-${IcebergishTable.currentSnapshot(table)}"
    val edges = tr.span("edges") {
      GraphOut.writeBucketedDedup(raw.toDF, s"$dir/edges", "subj", Buckets,
        Seq("subj", "pred", "obj", "url"), ckpt, runId, "edges",
        inputTag = tag, skewSalt = salt)
    }
    tr.span("vertices") {
      GraphOut.writeVerticesBucketed(IcebergishTable.read(spark, s"$dir/edges"),
        s"$dir/vertices", Buckets, ckpt, runId, "vertices", inputTag = tag)
    }
    tr.span("commit") {
      RootCommit.commit(dir, Map(
        "pages" -> IcebergishTable.currentSnapshot(table),
        "edges" -> IcebergishTable.currentSnapshot(s"$dir/edges"),
        "vertices" -> IcebergishTable.currentSnapshot(s"$dir/vertices")))
    }
    Traced(edges.rowsWritten, edges.partsWritten.size, fitsDriver)
  }

  private def traced(spark: SparkSession, a: Args, s: Shape, table: String,
                     golden: Set[Common.Row4], tr: Tracer, res: Result): Unit = {
    // Alternate production builds (for jobs, gaps and the untraced
    // reference) with layer-by-layer builds, at least two of each.
    var salt = 1
    val layeredOut = scala.collection.mutable.ArrayBuffer.empty[Traced]
    val (builds, last) = freshBuilds(spark, a, s, table, res, tracedBuilds(a), (i, dir) =>
      if (i % 2 == 0) {
        val n = tr.span("build")(Pipeline.build(spark, config(a, s, dir, runIdOf(dir))))
        salt = Common.filesPerBucket(s"$dir/edges").values.max
        n
      } else {
        val t = tr.span("layered")(layered(spark, tr, table, dir, runIdOf(dir), salt, probes = true))
        layeredOut += t
        t.edgesRows
      })
    tr.flush()
    val (p, r, bytesPerTriple) = checkBuild(spark, last, builds.last._2, golden, res)

    // Resume of the last layer-by-layer build: first with nothing lost
    // (verification only), then after losing the fixed buckets.
    val lastRun = runIdOf(last)
    val fresh = Common.fingerprints(spark, s"$last/edges")
    val verify = res.attempt("traced intact resume") {
      tr.span("verify")(layered(spark, tr, table, last, lastRun, salt, probes = false))
    }
    verify.foreach(v => res.check(v.recomputed == 0, s"intact resume recomputed ${v.recomputed} buckets"))
    IcebergishTable.deletePartitionDirs(s"$last/edges", LostBuckets)
    val resumed = res.attempt("traced resume") {
      tr.span("resume")(layered(spark, tr, table, last, lastRun, salt, probes = false))
    }
    res.check(Common.fingerprints(spark, s"$last/edges") == fresh,
      "traced resume: bucket fingerprints differ from the fresh build")
    tr.flush()

    val all = tr.all
    val prod = all.filter(_.name == "build")
    // Layered builds that ran to the end (a failed one is already counted).
    val lay = all.filter(sp => sp.name == "layered" && tr.children(sp).exists(_.name == "commit"))
    def self(sp: Span, name: String): Double = tr.child(sp, name).seconds
    def med(xs: Seq[Double]) = Stats.median(xs)
    def perLayered(f: Span => Double) = med(lay.map(f))
    def cpu(sp: Span, name: String) = tr.subtree(tr.child(sp, name)).cpuNs / 1e9

    // Build wall time: the layered build minus its probes.
    def wall(sp: Span) = sp.seconds - tr.children(sp).filter(_.name.startsWith("probe."))
      .map(_.seconds).sum
    val topLevel = Seq("canon", "canon.collect", "salt", "edges", "vertices", "commit")
    res.put("io.scan_s", perLayered(self(_, "probe.io")), "s")
    res.put("io.scan_cpu_s", perLayered(cpu(_, "probe.io")), "s")
    res.put("extract.self_s", perLayered(sp => self(sp, "probe.extract") - self(sp, "probe.io")), "s")
    res.put("extract.cpu_s", perLayered(sp => cpu(sp, "probe.extract") - cpu(sp, "probe.io")), "s")
    res.put("extract.html_mb", IcebergishTable.read(spark, table)
      .select(sum(length(col("html")))).head().getLong(0) / 1e6, "MB")
    res.put("link.self_s", perLayered(sp => self(sp, "probe.link") - self(sp, "probe.extract")), "s")
    res.put("link.cpu_s", perLayered(sp => cpu(sp, "probe.link") - cpu(sp, "probe.extract")), "s")
    // Work counts of the fused pass, outside every span.
    val pagesDs = Pipeline.readPagesForExtraction(spark, table)
    val counts = Mentions.scanPages(pagesDs, aliasDict, phrases)
      .select(sum(size(col("mentions"))), sum(size(col("cands")))).head()
    val (mentions, candidates) = (counts.getLong(0), counts.getLong(1))
    val lastLayered = layeredOut.last
    val canonMap = ConnectedComponents.components(PageSynth.sameAs(spark).toDF("src", "dst"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val emitted = TripleExtract.extractDirect(pagesDs, aliasDict, phrases, canonMap).count()
    res.put("link.mentions", mentions.toDouble, "count")
    res.put("triples.self_s", perLayered(sp => self(sp, "probe.triples") - self(sp, "probe.link")), "s")
    res.put("triples.candidates", candidates.toDouble, "count")
    res.put("triples.emitted", emitted.toDouble, "count")
    res.put("triples.yield", emitted.toDouble / math.max(1L, candidates), "ratio")
    res.put("canon.self_s", perLayered(sp => self(sp, "canon") + self(sp, "canon.collect")), "s")
    res.put("canon.local", if (lastLayered.canonLocal) 1.0 else 0.0, "flag")
    res.put("materialize.salt_s", perLayered(self(_, "salt")), "s")
    res.put("materialize.edges_s", perLayered(sp => self(sp, "edges") - self(sp, "probe.triples")), "s")
    val edgeStats = lay.map(sp => tr.subtree(tr.child(sp, "edges")))
    res.put("materialize.shuffle_write_mb", med(edgeStats.map(_.shuffleWriteBytes / 1e6)), "MB")
    res.put("materialize.shuffle_read_mb", med(edgeStats.map(_.shuffleReadBytes / 1e6)), "MB")
    res.put("materialize.spill_mb", med(edgeStats.map(_.spillBytes / 1e6)), "MB")
    val written = builds.last._2
    res.put("materialize.dedup_ratio", written.toDouble / math.max(1L, emitted), "ratio")
    val reduceP50 = med(edgeStats.map(st => Stats.median(st.reduceTaskMs.map(_.toDouble).toSeq)))
    val reduceMax = med(edgeStats.map(st =>
      if (st.reduceTaskMs.isEmpty) 0.0 else st.reduceTaskMs.max.toDouble))
    res.put("materialize.reduce_p50_ms", reduceP50, "ms")
    res.put("materialize.reduce_max_ms", reduceMax, "ms")
    res.put("materialize.reduce_skew", reduceMax / math.max(1.0, reduceP50), "ratio")
    res.put("materialize.files_per_bucket", salt.toDouble, "count")
    res.put("materialize.vertices_s", perLayered(self(_, "vertices")), "s")
    val v = all.filter(_.name == "verify").last
    res.put("materialize.verify_s",
      if (verify.isEmpty) 0.0 else self(v, "edges") + self(v, "vertices"), "s")
    res.put("materialize.buckets_recomputed", resumed.map(_.recomputed.toDouble).getOrElse(0.0), "count")
    res.put("io.commit_s", perLayered(self(_, "commit")), "s")
    res.put("io.manifest_kb", Common.manifestKb(s"$last/edges"), "KB")
    res.put("io.live_files", IcebergishTable.liveDataFiles(s"$last/edges").size.toDouble, "count")
    res.put("io.snapshots", IcebergishTable.currentSnapshot(s"$last/edges") + 1.0, "count")
    res.put("io.dup_rows_dropped", (emitted - written).toDouble, "count")
    Ingest.streamingNotRun(res)
    res.put("pipeline.jobs", med(prod.map(sp => tr.subtree(sp).jobs.toDouble)), "count")
    res.put("pipeline.gap_s", med(prod.map(tr.gapSeconds)), "s")
    res.put("pipeline.unspanned_s",
      perLayered(sp => wall(sp) - topLevel.map(self(sp, _)).sum), "s")
    val prodTps = med(builds.zipWithIndex.collect { case ((w, n), i) if i % 2 == 0 => n / w })
    val layTps = med(lay.map(sp => written / wall(sp)))
    res.put("trace.overhead_triples_per_s", prodTps - layTps, "triples/s")
    // io + extract + link + triples self times telescope to the probe of
    // the whole fused pass, which the edges self time excludes: the layer
    // self times plus the unspanned driver time make up the wall time.
    res.diagnostics("layered_builds") = lay.map { sp =>
      val layers = topLevel.map(self(sp, _)).sum
      Map("wall_s" -> wall(sp), "layer_self_sum_s" -> layers,
        "unspanned_s" -> (wall(sp) - layers), "no_spark_job_s" -> tr.gapSeconds(sp))
    }
    res.diagnostics("precision_recall") = Seq(p, r)
    res.diagnostics("stored_bytes_per_triple") = bytesPerTriple
  }
}
