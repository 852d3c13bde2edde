package perfbench

import java.io.PrintWriter

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory trace of one benchmark run: spans around every layer call
  * the benchmark makes, plus the Spark jobs and tasks a listener sees.
  * Nothing is written until [[write]]; the arithmetic (self time, job
  * attribution, per-layer means) is done afterwards by `metrics.py`.
  *
  * A job is attributed to the span whose id it carries as a local
  * property. Jobs submitted from threads that did not inherit it carry
  * none; for those, span times are epoch milliseconds with microsecond
  * resolution, so the job's submission time
  * (`SparkListenerJobStart.time`, epoch ms) can be placed inside the
  * span that was open when it was submitted.
  */
final class Trace {
  private val nanos0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble

  def nowMs: Double = epoch0 + (System.nanoTime() - nanos0) / 1e6

  @volatile var enabled = false
  private var sc: SparkContext = _
  private val SpanKey = "perfbench.span"

  private case class Span(id: Int, parent: Int, op: Int, name: String,
                          start: Double, var end: Double)
  private val spans = ArrayBuffer[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1)
  /** Run `body` inside a span named `name`, child of the span open on
    * this thread (or handed to it by [[parallel]]). While it runs, jobs
    * submitted from this thread, and from threads it starts, carry the
    * span's id as a local property, which attributes them exactly. */
  def span[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val prev = sc.getLocalProperty(SpanKey)
      val s = Span(nextId.getAndIncrement(),
        Option(prev).fold(0)(_.toInt), op, name, nowMs, Double.NaN)
      spans.synchronized(spans += s)
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.end = nowMs
        sc.setLocalProperty(SpanKey, prev)
      }
    }

  private val jobs = ArrayBuffer[String]()
  private val tasks = ArrayBuffer[String]()
  private val stageJob = scala.collection.concurrent.TrieMap[Int, Int]()
  private val stageSubmitted = scala.collection.concurrent.TrieMap[Int, Long]()
  private val jobStart = scala.collection.concurrent.TrieMap[Int, (Long, String)]()

  /** Job and task records for the jobs that start while attached. */
  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      jobStart(e.jobId) = (e.time, span.getOrElse("0"))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStart.remove(e.jobId).foreach { case (t, span) =>
        jobs.synchronized(jobs += s"${e.jobId}\t$t\t${e.time}\t$span")
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmitted(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val info = e.taskInfo
      val m = e.taskMetrics
      val job = stageJob.getOrElse(e.stageId, -1)
      val sub = stageSubmitted.getOrElse(e.stageId, info.launchTime)
      val (run, in, shr, shw, spill) =
        if (m == null) (info.duration, 0L, 0L, 0L, 0L)
        else (m.executorRunTime, m.inputMetrics.bytesRead,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled)
      tasks.synchronized(tasks += Seq(job, e.stageId, info.launchTime,
        info.finishTime, run, math.max(0L, info.launchTime - sub), in, shr,
        shw, spill).mkString("\t"))
    }
  }

  /** Jobs submitted before [[attach]] have no start record, so their
    * late task events carry job -1 and are attributed to no span. */
  def attach(sc: SparkContext): Unit = {
    this.sc = sc
    sc.addSparkListener(listener)
  }

  def detach(sc: SparkContext): Unit = sc.removeSparkListener(listener)

  /** `body` over every element on its own pool thread, each thread
    * carrying the caller's span id; waits for all and rethrows the
    * first failure. */
  def parallel[A, B](xs: Seq[A])(body: A => B): Seq[B] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val span = Option(sc).map(_.getLocalProperty(SpanKey)).orNull
    Await.result(Future.sequence(xs.map(x => Future {
      Option(sc).foreach(_.setLocalProperty(SpanKey, span))
      body(x)
    })), scala.concurrent.duration.Duration.Inf)
  }

  def write(dir: String): Unit = {
    def out(name: String)(f: PrintWriter => Unit): Unit = {
      val w = new PrintWriter(s"$dir/$name", "UTF-8")
      try f(w) finally w.close()
    }
    out("spans.tsv") { w =>
      spans.synchronized(spans.foreach { s =>
        w.println(f"${s.id}\t${s.parent}\t${s.op}\t${s.name}\t${s.start}%.3f\t${s.end}%.3f")
      })
    }
    out("jobs.tsv")(w => jobs.synchronized(jobs.foreach(w.println)))
    out("tasks.tsv")(w => tasks.synchronized(tasks.foreach(w.println)))
  }
}
