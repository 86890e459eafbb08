package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.io.IcebergishTable

final case class Args(workload: String, seed: Long, seconds: Int,
                      trace: Boolean, master: String, shufflePartitions: Int,
                      work: String, smoke: Boolean)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k -> v
    }.toMap
    def req(k: String) = kv.getOrElse(k, sys.error(s"missing $k"))
    Args(req("--workload"), req("--seed").toLong, req("--seconds").toInt,
      req("--trace") == "1", req("--master"), req("--shuffle-partitions").toInt,
      req("--work"), argv.contains("--smoke"))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

object Json {
  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + esc(s) + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => value(other.toString)
  }

  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** Operations attempted and failed, and the metrics of one run. */
final class Result {
  var attempted = 0
  var failed = 0
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val diagnostics = mutable.LinkedHashMap.empty[String, Any]

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** Count one operation; an exception counts it as failed. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] $what failed: $e")
        e.printStackTrace()
        None
    }
  }

  /** A wrong output, or a check that cannot read it, counts as a failed
    * operation.
    */
  def check(ok: => Boolean, what: => String): Unit =
    if (!(try ok catch {
      case e: Exception =>
        System.err.println(s"[perfbench] check threw: $e")
        false
    })) {
      failed += 1
      System.err.println(s"[perfbench] check failed: $what")
    }

  def json: String = Json.obj(Seq(
    "correct" -> (failed == 0),
    "attempted" -> attempted,
    "failed" -> failed,
    "metrics" -> metrics.map { case (k, (v, u)) =>
      k -> mutable.LinkedHashMap("value" -> v, "unit" -> u)
    }))
}

object Common {
  private val T0 = System.nanoTime()

  /** Progress line on stderr, seconds since JVM start of the harness. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - T0) / 1e9}%7.2f] $msg")

  /** Wall seconds of `body`. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Session with the benchmark's fixed launch settings; all scratch
    * space stays under the run's work directory.
    */
  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(a.master)
      .appName(s"perfbench-${a.workload}")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", a.shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Single-thread pure-CPU loop (seconds): the host's speed right now.
    * Printed beside the results so a slow host window can be told apart
    * from a slow program; it is a diagnostic, not a metric.
    */
  def controlSec(): Double = {
    val t0 = System.nanoTime()
    var h = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < 100000000L) { h = graft.synth.Rng.mix64(h + i); i += 1 }
    if (h == 42L) System.err.println("")
    (System.nanoTime() - t0) / 1e9
  }

  /** Peak resident set size of this JVM (VmHWM), MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  def mkdirs(p: String): Path = Files.createDirectories(Paths.get(p))

  def rm(p: String): Unit = {
    val path = Paths.get(p)
    if (Files.exists(path, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      if (Files.isSymbolicLink(path)) Files.delete(path)
      else {
        val s = Files.walk(path)
        try s.iterator().asScala.toSeq.reverse.foreach { f =>
          Files.deleteIfExists(f)
        } finally s.close()
      }
    }
  }

  /** Bytes of the table's live data files. */
  def tableBytes(table: String): Long =
    IcebergishTable.liveDataFiles(table).toSeq
      .map(f => Files.size(Paths.get(table).resolve(f))).sum

  /** Live data files per bucket. */
  def filesPerBucket(table: String): Map[Int, Int] =
    IcebergishTable.liveDataFiles(table).toSeq
      .groupBy(IcebergishTable.bucketOfPath).map { case (b, fs) => b -> fs.size }

  /** Size of the table's current manifest, KB. */
  def manifestKb(table: String): Double = {
    val m = Paths.get(table).resolve(s"snap-${IcebergishTable.currentSnapshot(table)}.json")
    if (Files.exists(m)) Files.size(m) / 1024.0 else 0.0
  }

  type Row4 = (String, String, String, String)

  /** (subj, pred, obj, url) rows of an edge table, duplicates kept. */
  def edgeRows(spark: SparkSession, table: String): Array[Row4] = {
    import spark.implicits._
    IcebergishTable.read(spark, table)
      .select("subj", "pred", "obj", "url").as[Row4].collect()
  }

  /** Per-bucket (rows, bit_xor(xxhash64(subj, pred, obj, url))). */
  def fingerprints(spark: SparkSession, table: String): Map[Int, (Long, Long)] =
    IcebergishTable.read(spark, table)
      .groupBy(col(IcebergishTable.PartCol))
      .agg(count(lit(1)),
        expr("bit_xor(xxhash64(subj, pred, obj, url))"))
      .collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap

  /** Precision and recall of `got` against `want`. */
  def precisionRecall(got: Set[Row4], want: Set[Row4]): (Double, Double) = {
    val tp = (got intersect want).size.toDouble
    (if (got.isEmpty) 0.0 else tp / got.size,
      if (want.isEmpty) 0.0 else tp / want.size)
  }

  /** The contract's floor for golden-triple precision and recall. */
  val MinPR = 0.95
}
