package perfbench

/** Benchmark entry point. Each workload prints a diagnostics line (sample
  * count, host control samples) and then its result JSON; with one
  * workload, the result is the last stdout line. Several comma-separated
  * workloads (the smoke mode) share one JVM, each in its own work dir.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val traces = java.nio.file.Paths.get(args.work).getParent.getParent.resolve("traces")
    val failed = args.workload.split(",").map { w =>
      val a = args.copy(workload = w, work = s"${args.work}/$w")
      val tr = new Tracer(a.trace)
      val res = new Result
      val controlBefore = Common.controlSec()
      val spark = w match {
        case "build_zipf" => Builds.run(a, hubShare = 0.0, tr, res)
        case "build_hub" => Builds.run(a, hubShare = 0.5, tr, res)
        case "ingest_rounds" => Ingest.run(a, tr, res)
        case _ => sys.error(s"unknown workload $w")
      }
      if (!a.trace) res.put("peak_rss_mb", Common.peakRssMb(), "MB")
      tr.write(traces.resolve(s"$w-seed${a.seed}.jsonl"))
      spark.stop()
      res.diagnostics("control_s") = Seq(controlBefore, Common.controlSec())
      Common.log(s"$w done")
      println(Json.obj(Seq("diagnostics" -> res.diagnostics)))
      println(res.json)
      res.failed
    }.sum
    if (failed > 0) sys.exit(1)
  }
}
