package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Page
import graft.canon.ConnectedComponents
import graft.functions.HtmlExtractExpr.html_extract
import graft.io.IcebergishTable
import graft.streaming.StreamingKg
import graft.synth.PageSynth
import graft.triples.TripleExtract

/** `ingest_rounds`: each round lands one parquet file of new pages and
  * runs `StreamingKg.buildIncrementalBucketed` into one growing bucketed
  * edge table (closed loop, one client). Every third round re-lands the
  * file of the round two before it: a duplicate delivery, which must add
  * nothing to the table.
  */
object Ingest {
  val Buckets = 16
  val DupEvery = 3
  // Repetitions; the smoke mode runs each step once, on tiny inputs.
  def setupReps(a: Args): Int = if (a.smoke) 1 else 3
  def warmupRounds(a: Args): Int = if (a.smoke) 0 else 2
  // Two re-deliveries at least, for the resume_s median.
  def minRounds(a: Args): Int = if (a.smoke) 3 else 6

  def pagesPerRound(a: Args): Long = if (a.smoke) 40L else 250L
  // Distinct round files generated in set-up; bounds the rounds of a run.
  def distinctFiles(a: Args): Int = if (a.smoke) 4 else 24

  /** Generate the distinct round files: file j holds pages
    * [j * pagesPerRound, (j + 1) * pagesPerRound) of the seed's corpus.
    */
  private def generate(spark: SparkSession, a: Args, dir: String): Seq[String] = {
    import spark.implicits._
    val (p, k, seed) = (pagesPerRound(a), distinctFiles(a), a.seed)
    spark.range(0L, p * k, 1L, k)
      .map(i => PageSynth.page(seed, i, 24, 16))
      .map(x => Page(x.url, x.warc_ts, x.html, x.text, x.lang))
      .write.parquet(dir)
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
    finally s.close()
  }

  private def canonMap(spark: SparkSession): (Map[String, String], Boolean) = {
    val (df, local) = ConnectedComponents.componentsSized(
      PageSynth.sameAs(spark).toDF("src", "dst"))
    (df.collect().map(r => r.getString(0) -> r.getString(1)).toMap, local)
  }

  /** Land `file` as round `r`, then build; returns the round's seconds. */
  private def round(spark: SparkSession, dir: String, file: String, r: Int,
                    canon: Map[String, String]): Double = {
    Files.copy(Paths.get(file), Paths.get(f"$dir/pages/round-$r%04d.parquet"))
    Common.timed(StreamingKg.buildIncrementalBucketed(spark, s"$dir/pages",
      s"$dir/edges", s"$dir/ckpt", canon, Buckets))._2
  }

  /** Source file of round `r`: the next new file, or, every third round,
    * the file of the round two before (r - 2 landed file r - 2 - r / 3).
    */
  private def sourceOf(files: Seq[String], r: Int): (String, Boolean) =
    if (r % DupEvery == DupEvery - 1) (files(r - 2 - r / DupEvery), true)
    else (files(r - r / DupEvery), false)

  def run(a: Args, tr: Tracer, res: Result): SparkSession = {
    // Set-up, repeated: session start plus round-file generation.
    var spark: SparkSession = null
    var files = Seq.empty[String]
    val setupS = (0 until setupReps(a)).map { r =>
      Common.rm(s"${a.work}/files")
      Common.timed {
        if (spark != null) spark.stop()
        spark = Common.session(a)
        files = generate(spark, a, s"${a.work}/files")
      }._2
    }
    if (!tr.enabled) res.put("setup_s", Stats.median(setupS), "s")
    Common.log(s"set-up: ${setupS.map(x => f"$x%.2f").mkString(" ")} s")
    tr.attach(spark)

    val (canon, local) = tr.span("canon")(canonMap(spark))
    val warm = s"${a.work}/warm"
    Common.mkdirs(s"$warm/pages")
    (0 until warmupRounds(a)).foreach(r => round(spark, warm, files(r), r, canon))
    Common.rm(warm)
    Common.log("warm-up rounds done")

    // Closed loop of rounds; the cap keeps a round's source file available.
    val dir = s"${a.work}/ingest"
    Common.mkdirs(s"$dir/pages")
    val maxRounds = files.size * DupEvery / (DupEvery - 1)
    val rounds = scala.collection.mutable.ArrayBuffer.empty[(Double, Boolean)]
    val t0 = System.nanoTime()
    var r = 0
    while (r < maxRounds && (r < minRounds(a) || (System.nanoTime() - t0) / 1e9 < a.seconds)) {
      val (file, dup) = sourceOf(files, r)
      res.attempt(s"round $r") {
        val sec = tr.span("round")(round(spark, dir, file, r, canon))
        Common.log(f"round $r%d${if (dup) " (re-delivery)" else ""}: $sec%.2f s")
        rounds += ((sec, dup))
      }
      r += 1
    }
    val landed = r
    val distinct = (0 until landed).count(i => !sourceOf(files, i)._2)

    // Outside the timed window: the table equals the batch build over the
    // distinct landed pages, with no duplicate rows, despite re-deliveries.
    val table = s"$dir/edges"
    Common.log("checking the table")
    val rows = Common.edgeRows(spark, table)
    val got = rows.toSet
    res.check(rows.length == got.size, s"${rows.length - got.size} duplicate edges")
    val batch = expected(spark, spark.read.parquet(files.take(distinct): _*), canon)
    res.check(got == batch, s"table differs from the batch build: " +
      s"${(batch -- got).size} missing, ${(got -- batch).size} extra")
    val golden: Set[Common.Row4] = {
      val ss = spark
      import ss.implicits._
      PageSynth.goldenTriples(spark, a.seed, distinct * pagesPerRound(a), 8, 24, 16)
        .map(t => (t.subj, t.pred, t.obj, t.url)).collect().toSet
    }
    val (p, rec) = Common.precisionRecall(got, golden)
    res.check(p >= Common.MinPR && rec >= Common.MinPR, s"golden P/R $p/$rec")

    val walls = rounds.map(_._1).toSeq
    val total = walls.sum
    if (!tr.enabled) {
      res.put("triples_per_s", rows.length / total, "triples/s")
      res.put("pages_per_s", landed * pagesPerRound(a) / total, "pages/s")
      res.put("op_s_p50", Stats.median(walls), "s")
      res.put("op_s_p75", Stats.quantile(walls, 0.75), "s")
      res.put("resume_s", Stats.median(rounds.filter(_._2).map(_._1).toSeq), "s")
      res.put("triple_precision", p, "ratio")
      res.put("triple_recall", rec, "ratio")
      res.put("stored_bytes_per_triple",
        Common.tableBytes(table).toDouble / math.max(1, rows.length), "B")
    } else tracedMetrics(spark, tr, res, table, dir, rows.length, canon, local)
    res.diagnostics("ops") = walls.size
    res.diagnostics("op_s") = walls
    spark
  }

  /** Batch reference: the fused extraction over `pages`, canonicalized. */
  private def expected(spark: SparkSession, pages: DataFrame,
                       canon: Map[String, String]): Set[Common.Row4] = {
    import spark.implicits._
    raw(spark, pages, canon).map(t => (t.subj, t.pred, t.obj, t.url)).collect().toSet
  }

  private def raw(spark: SparkSession, pages: DataFrame, canon: Map[String, String]) = {
    import spark.implicits._
    val ps = pages.select(col("url"), col("warc_ts"), col("html"),
      html_extract(col("html")).as("text"), col("lang")).as[Page]
    TripleExtract.extractDirect(ps, PageSynth.aliasDictionary,
      PageSynth.relations.toMap, canon)
  }

  private def tracedMetrics(spark: SparkSession, tr: Tracer, res: Result,
                            table: String, dir: String, rows: Long,
                            canon: Map[String, String], local: Boolean): Unit = {
    tr.flush()
    val rs = tr.all.filter(_.name == "round")
    val stats = rs.map(tr.subtree)
    def med(xs: Seq[Double]) = Stats.median(xs)
    val starts = tr.queryStartNs.toSeq
    // Query start latency: from the round's span start to its query start.
    val startS = rs.flatMap(sp => starts.find(_ >= sp.startNs).map(n => (n - sp.startNs) / 1e9))
    // Raw triples of every landed file, re-deliveries included.
    val emitted = raw(spark, spark.read.parquet(s"$dir/pages"), canon).count()
    val reduce = stats.flatMap(_.reduceTaskMs).map(_.toDouble)
    val reduceP50 = Stats.median(reduce)
    val reduceMax = if (reduce.isEmpty) 0.0 else reduce.max
    Builds.fusedLayersNotRun(res)
    res.put("canon.self_s", tr.all.filter(_.name == "canon").head.seconds, "s")
    res.put("canon.local", if (local) 1.0 else 0.0, "flag")
    res.put("materialize.salt_s", 0.0, "s")
    res.put("materialize.edges_s", 0.0, "s")
    res.put("materialize.shuffle_write_mb", med(stats.map(_.shuffleWriteBytes / 1e6)), "MB")
    res.put("materialize.shuffle_read_mb", med(stats.map(_.shuffleReadBytes / 1e6)), "MB")
    res.put("materialize.spill_mb", med(stats.map(_.spillBytes / 1e6)), "MB")
    res.put("materialize.dedup_ratio", rows.toDouble / math.max(1L, emitted), "ratio")
    res.put("materialize.reduce_p50_ms", reduceP50, "ms")
    res.put("materialize.reduce_max_ms", reduceMax, "ms")
    res.put("materialize.reduce_skew", reduceMax / math.max(1.0, reduceP50), "ratio")
    res.put("materialize.files_per_bucket",
      Common.filesPerBucket(table).values.map(_.toDouble).sum / Buckets, "count")
    res.put("materialize.vertices_s", 0.0, "s")
    res.put("materialize.verify_s", 0.0, "s")
    res.put("materialize.buckets_recomputed", 0.0, "count")
    res.put("io.commit_s", 0.0, "s")
    res.put("io.manifest_kb", Common.manifestKb(table), "KB")
    res.put("io.live_files", IcebergishTable.liveDataFiles(table).size.toDouble, "count")
    res.put("io.snapshots", IcebergishTable.currentSnapshot(table) + 1.0, "count")
    res.put("io.dup_rows_dropped", (emitted - rows).toDouble, "count")
    res.put("streaming.start_s", med(startS), "s")
    res.put("streaming.plan_s_p50", med(tr.batches.map(_.planS).toSeq), "s")
    res.put("streaming.add_batch_s_p50", med(tr.batches.map(_.addBatchS).toSeq), "s")
    res.put("streaming.rows_per_batch", med(tr.batches.map(_.rows.toDouble).toSeq), "count")
    res.put("pipeline.jobs", med(stats.map(_.jobs.toDouble)), "count")
    res.put("pipeline.gap_s", med(rs.map(tr.gapSeconds)), "s")
    res.put("pipeline.unspanned_s", 0.0, "s")
    res.put("trace.overhead_triples_per_s", 0.0, "triples/s")
  }

  /** Streaming metrics of workloads that run no stream. */
  def streamingNotRun(res: Result): Unit =
    Seq("streaming.start_s", "streaming.plan_s_p50", "streaming.add_batch_s_p50",
      "streaming.rows_per_batch").foreach(m => res.put(m, 0.0,
        if (m.endsWith("rows_per_batch")) "count" else "s"))
}
