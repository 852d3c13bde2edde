package perfbench

import org.apache.spark.sql.SparkSession

/** `ref_tail` and `operator_head`: a closed loop over a fixed query set.
  * Each op times the three phases separately — build (`Q.fn`, which may
  * run Spark jobs before the plan exists), plan (`executedPlan`) and
  * exec (the noop write). A step is one whole pass in a seed-shuffled order, so every
  * window holds the same mix whatever the seed.
  *
  * Set-up is the cold pass: each query runs once and its result is
  * written as parquet for the oracle check, publishing any artifact
  * into the run-private root.
  */
final class QueryWorkload(spark: SparkSession, a: Map[String, String],
                          rec: Recorder) extends Workload {
  private val data = a("data")
  private val out = a("out")
  private val seed = a("seed").toLong
  private val all = graft.SparkEntry.queries
  private val names: Seq[String] = a("queries").split(',').toSeq.map { p =>
    all.keys.filter(_.startsWith(p)).toSeq match {
      case Seq(n) => n
      case other => throw new IllegalArgumentException(
        s"query prefix $p matches ${other.mkString(",")}")
    }
  }
  private var pass = 0

  def setupRounds: Int = 1

  def setup(round: Int): Unit = {
    shuffled().foreach { n =>
      rec.op("setup", "query", n) {
        all(n)(spark, data).coalesce(1).write.mode("overwrite")
          .parquet(s"$out/results/$n")
      }
      rec.drain(spark)
    }
    val oracle = graft.SparkEntry.oracleSql
    val w = new java.io.PrintWriter(s"$out/oracle_sql.json", "UTF-8")
    try w.println(names.flatMap(n => oracle.get(n).map(n -> _))
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
      .mkString("{", ",\n", "}"))
    finally w.close()
  }

  def step(window: String): Unit = shuffled().foreach { n =>
    rec.op(window, "query", n) {
      val id = rec.currentOp
      val t = rec.trace
      val df = t.span("queries.build", id)(all(n)(spark, data))
      t.span("plans.plan", id)(df.queryExecution.executedPlan)
      t.span("exec", id)(df.write.format("noop").mode("overwrite").save())
    }
    rec.drain(spark)
  }

  /** The seed's order for the next pass. */
  private def shuffled(): Seq[String] = {
    pass += 1
    new scala.util.Random(seed * 7919L + pass).shuffle(names)
  }

  def check(): Unit = ()
}
