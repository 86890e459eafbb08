package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.ListenerFlush
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark work attributed to one span: filled from listener events of the
  * jobs the span started (the span id rides in a job-local property).
  */
final class SpanStats {
  var jobs = 0
  var tasks = 0
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
  // Tasks that read shuffle data: the reduce side of an exchange.
  val reduceTaskMs = mutable.ArrayBuffer.empty[Long]
  // Job (start, end) in epoch ms, driver clock.
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

final case class Span(id: Int, parent: Int, name: String,
                      startNs: Long, startMs: Long,
                      var endNs: Long = 0L, var endMs: Long = 0L,
                      stats: SpanStats = new SpanStats) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** One streaming micro-batch progress report. */
final case class BatchProgress(planS: Double, addBatchS: Double, rows: Long)

/** In-memory span recorder. Spans nest on the driver thread; each open
  * span tags the Spark jobs it starts, and a SparkListener attaches task
  * counts, executor CPU, task durations, shuffle and spill bytes to it.
  * Spans are written out once, at the end of the run. Disabled, `span`
  * only runs its body: untraced runs attach no listener.
  */
final class Tracer(val enabled: Boolean) {
  private val PropKey = "perfbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.HashMap.empty[Int, Span]
  private var stack = List.empty[Span]
  private val jobSpan = mutable.HashMap.empty[Int, (Int, Long)]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private var sc: SparkContext = _
  // Streaming events (QueryStartedEvent is delivered synchronously on the
  // thread that starts the query, so its nanoTime is exact).
  val queryStartNs = mutable.ArrayBuffer.empty[Long]
  val batches = mutable.ArrayBuffer.empty[BatchProgress]

  private def propOf(p: java.util.Properties): Option[Int] =
    Option(p).flatMap(x => Option(x.getProperty(PropKey))).map(_.toInt)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      propOf(e.properties).foreach { id =>
        jobSpan(e.jobId) = (id, e.time)
        e.stageIds.foreach(s => stageSpan(s) = id)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpan.remove(e.jobId).foreach { case (id, t0) =>
        byId.get(id).foreach { s =>
          s.stats.jobs += 1
          s.stats.jobIntervals += ((t0, e.time))
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (id <- stageSpan.get(e.stageId); s <- byId.get(id)) {
        val st = s.stats
        st.tasks += 1
        st.taskMs += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          st.cpuNs += m.executorCpuTime
          st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          val read = m.shuffleReadMetrics.totalBytesRead
          st.shuffleReadBytes += read
          st.spillBytes += m.diskBytesSpilled
          if (m.shuffleReadMetrics.totalBlocksFetched > 0)
            st.reduceTaskMs += e.taskInfo.duration
        }
      }
    }
  }

  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Tracer.this.synchronized { queryStartNs += System.nanoTime() }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        if (p.numInputRows > 0) {
          def d(k: String) =
            Option(p.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
          batches += BatchProgress(d("queryPlanning"), d("addBatch"), p.numInputRows)
        }
      }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Attach the listeners to a session (traced runs only). */
  def attach(spark: org.apache.spark.sql.SparkSession): Unit = if (enabled) {
    sc = spark.sparkContext
    sc.addSparkListener(listener)
    spark.streams.addListener(queryListener)
  }

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val s = synchronized {
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      val sp = Span(spans.size, parent, name, System.nanoTime(),
        System.currentTimeMillis())
      spans += sp
      byId(sp.id) = sp
      stack = sp :: stack
      sp
    }
    if (sc != null) sc.setLocalProperty(PropKey, s.id.toString)
    try body
    finally synchronized {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      if (sc != null)
        sc.setLocalProperty(PropKey, stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** Deliver every pending listener event; call before reading stats. */
  def flush(): Unit = if (sc != null) ListenerFlush.flush(sc)

  def all: Seq[Span] = synchronized(spans.toList)

  def children(p: Span): Seq[Span] = all.filter(_.parent == p.id)

  /** The last span with this name directly under `p`. */
  def child(p: Span, name: String): Span =
    children(p).filter(_.name == name).last

  /** Stats of a span and all its descendants, summed. */
  def subtree(p: Span): SpanStats = {
    val out = new SpanStats
    def add(s: Span): Unit = {
      val st = s.stats
      out.jobs += st.jobs; out.tasks += st.tasks; out.cpuNs += st.cpuNs
      out.shuffleWriteBytes += st.shuffleWriteBytes
      out.shuffleReadBytes += st.shuffleReadBytes
      out.spillBytes += st.spillBytes
      out.taskMs ++= st.taskMs; out.reduceTaskMs ++= st.reduceTaskMs
      out.jobIntervals ++= st.jobIntervals
      children(s).foreach(add)
    }
    add(p)
    out
  }

  /** Wall seconds of `p` during which no Spark job of its subtree ran. */
  def gapSeconds(p: Span): Double = {
    val iv = subtree(p).jobIntervals
      .map { case (a, b) => (math.max(a, p.startMs), math.min(b, p.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) {
        covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, p.seconds - covered / 1e3)
  }

  /** Spans as JSON lines: name, start, end and parent id, plus stats. */
  def write(path: java.nio.file.Path): Unit = if (enabled) {
    flush()
    val lines = all.map { s =>
      val st = s.stats
      Json.obj(Seq(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds,
        "jobs" -> st.jobs, "tasks" -> st.tasks, "cpu_s" -> st.cpuNs / 1e9,
        "shuffle_write_bytes" -> st.shuffleWriteBytes,
        "shuffle_read_bytes" -> st.shuffleReadBytes,
        "spill_bytes" -> st.spillBytes,
        "task_p50_ms" -> Stats.median(st.taskMs.map(_.toDouble).toSeq),
        "task_max_ms" -> (if (st.taskMs.isEmpty) 0.0 else st.taskMs.max.toDouble)))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path,
      lines.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
