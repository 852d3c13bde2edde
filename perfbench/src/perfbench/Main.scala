package perfbench

import java.io.PrintWriter
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: drives graft through its public API for
  * one workload and writes raw samples (ops, spans, jobs, tasks, file
  * listings, counters) into `--out`. `run.py` turns them into metrics
  * and checks correctness; nothing here computes a reported metric.
  *
  * Run order: session build, `setupRounds` set-ups, one window with
  * tracing off, then (with `--trace 1`) a window of the same length with
  * spans and the listener on and another with them off, then the
  * workload's end-state checks.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val out = a("out")
    val rec = new Recorder(new Trace)
    val spark = graft.BenchSession.build("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    rec.meta("session_s") = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val w: Workload = a("workload") match {
      case "index_churn" => new ChurnWorkload(spark, a, rec)
      case _ => new QueryWorkload(spark, a, rec)
    }
    val traced = a("trace") == "1"
    val seconds = a("seconds").toDouble
    try {
      rec.tracing(spark, traced) {
        val rounds = (1 to w.setupRounds).map { r =>
          val t0 = System.nanoTime(); w.setup(r); (System.nanoTime() - t0) / 1e9
        }
        rec.meta("setup_rounds_s") = rounds.map(x => f"$x%.6f").mkString("[", ",", "]")
      }
      rec.window(spark, "untraced", seconds)(w.step)
      rec.meta("heap_retained_mb") = heapAfterGc()
      if (traced) {
        rec.tracing(spark, on = true) {
          rec.window(spark, "traced", seconds)(w.step)
        }
        // a second untraced window after the traced one: warm-up still
        // speeds later windows, so the overhead is taken against both
        rec.window(spark, "after", seconds)(w.step)
      }
      w.check()
    } finally {
      rec.write(out)
      spark.stop()
    }
  }

  /** Heap in use after full collections, in MB: the least of three
    * collections 100 ms apart, so objects Spark's cleaner thread
    * releases after the first collection are not counted. */
  def heapAfterGc(): Double = (1 to 3).map { _ =>
    System.gc(); Thread.sleep(100)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min
}

/** One workload: `setup` builds its state (fresh roots each round),
  * `step(window)` runs one closed-loop unit of work — a whole pass or
  * cycle — and `check` records the end-state facts `run.py` checks. */
trait Workload {
  def setupRounds: Int
  def setup(round: Int): Unit
  def step(window: String): Unit
  def check(): Unit
}

/** Ops, windows and meta facts of one run, plus the [[Trace]]. */
final class Recorder(val trace: Trace) {
  val meta = mutable.LinkedHashMap[String, Any]()
  private val ops = mutable.ArrayBuffer[String]()
  private var nextOp = 0
  /** Clock time spent on the benchmark's own bookkeeping inside a
    * window (file listings, byte accounting, draining between ops);
    * taken off the window, and its GC time off the window's GC. */
  private var excludedNs = 0L

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans
  def gcMs(): Long = {
    var s = 0L
    gcBeans.forEach(b => s += math.max(0L, b.getCollectionTime))
    s
  }

  /** Time one op; a throw marks it failed and is logged, not rethrown. */
  def op(window: String, kind: String, name: String)(body: => Unit): Boolean = {
    nextOp += 1
    val id = nextOp
    val t0 = trace.nowMs
    val ok =
      try { trace.span(s"op.$name", id)(body); true }
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] op $name failed: $e")
        false
      }
    ops += f"$id\t$window\t$kind\t$name\t$t0%.3f\t${trace.nowMs}%.3f\t${if (ok) 1 else 0}"
    ok
  }

  def currentOp: Int = nextOp

  def excluded[T](body: => T): T = {
    val t0 = System.nanoTime()
    val gc0 = gcMs()
    try body finally {
      excludedNs += System.nanoTime() - t0
      excludedGcMs += gcMs() - gc0
    }
  }
  private var excludedGcMs = 0L

  /** Between ops, off the window clock, as graft.Bench does between
    * queries: drop SQL cache entries and locally checkpointed RDDs, and
    * collect, so no op inherits the previous one's garbage. */
  def drain(spark: SparkSession): Unit = excluded {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
  }

  def tracing[T](spark: SparkSession, on: Boolean)(body: => T): T =
    if (!on) body
    else {
      trace.attach(spark.sparkContext); trace.enabled = true
      try body finally {
        trace.enabled = false; trace.detach(spark.sparkContext)
      }
    }

  /** Run `step` until `seconds` of clock have passed (checked between
    * steps), recording the window's wall time, GC time and artifact
    * counters. */
  def window(spark: SparkSession, name: String, seconds: Double)
            (step: String => Unit): Unit = {
    val pub0 = graft.sources.Artifacts.publishes.get()
    val hit0 = graft.sources.Artifacts.resolveHits.get()
    val gc0 = gcMs()
    excludedNs = 0L
    excludedGcMs = 0L
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0 - excludedNs) / 1e9
    while (elapsed < seconds) step(name)
    meta(s"$name.wall_s") = elapsed
    meta(s"$name.gc_ms") = gcMs() - gc0 - excludedGcMs
    meta(s"$name.publishes") = graft.sources.Artifacts.publishes.get() - pub0
    meta(s"$name.resolve_hits") =
      graft.sources.Artifacts.resolveHits.get() - hit0
  }

  def write(dir: String): Unit = {
    meta("spark_version") = org.apache.spark.SPARK_VERSION
    meta("xmx_mb") = Runtime.getRuntime.maxMemory / 1048576
    meta("cpus") = sys.env.getOrElse("SPARK_GRAFT_CPUS", "")
    val ow = new PrintWriter(s"$dir/ops.tsv", "UTF-8")
    try ops.foreach(ow.println) finally ow.close()
    val mw = new PrintWriter(s"$dir/meta.json", "UTF-8")
    try mw.println(meta.map { case (k, v) => s"${Json.str(k)}: ${Json.value(v)}" }
      .mkString("{", ",\n", "}"))
    finally mw.close()
    trace.write(dir)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Numbers and booleans as literals, strings already holding JSON
    * (starting with `[` or `{`) verbatim, other strings quoted. */
  def value(v: Any): String = v match {
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String if s.startsWith("[") || s.startsWith("{") => s
    case s => str(s.toString)
  }
}
