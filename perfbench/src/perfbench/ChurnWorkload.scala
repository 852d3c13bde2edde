package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{FlatFileEngine, Tables}
import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators._

/** `index_churn`: reads and writes against persisted state, about two
  * reads per write, one op per plan line (see `gen.py`'s `churn_plan`).
  *
  * State: a [[FlatFileEngine]] over the seed's CSV fixture with
  * changelog writes and manifest commits on, and five index families
  * over `documents`/`embeddings` sharing one id space (vector i embeds
  * document i; graph nodes are doc ids). Ids below [[Base]] are
  * published in set-up; fold batches add ids from [[Base]] up.
  *
  * Every write op is followed by a listing of the workload's roots
  * (taken off the window clock) so `run.py` can count the bytes each
  * op created, including files a later compaction deletes.
  */
final class ChurnWorkload(spark: SparkSession, a: Map[String, String],
                          rec: Recorder) extends Workload {
  import ChurnWorkload._

  private val data = a("data")
  private val run = a("run")
  private val out = a("out")
  /** section -> its cycles, each a list of op lines (`gen.py`'s format:
    * `== <section>` headers, cycles separated by blank lines). */
  private val plan: Map[String, Vector[Vector[String]]] = {
    val text = new String(Files.readAllBytes(Paths.get(a("plan"))), "UTF-8")
    text.split("(?m)^== ").toVector.filter(_.nonEmpty).map { sec =>
      val (name, body) = sec.span(_ != '\n')
      name -> body.split("\n\n").toVector.map(_.split('\n').toVector
        .filter(_.nonEmpty)).filter(_.nonEmpty)
    }.toMap
  }
  private val cyclesDone = mutable.Map[String, Int]().withDefaultValue(0)

  private val docs = Tables(spark, data, "documents")
    .select(col("doc_id"), col("text"))
  private val emb = Tables(spark, data, "embeddings")
    .select(col("vec_id"), col("embedding"))

  private var root = ""
  private var engine: FlatFileEngine = _
  private def famRoot(f: String) = s"$root/$f"

  // what each family holds, for the end-state check
  private val dedupDeleted = mutable.Set[Long]()
  private val purged = mutable.Set[Long]()
  private val foldedSlices = mutable.Map[String, List[(Long, Long)]]()
    .withDefaultValue(Nil)
  private val graphFolds = mutable.ArrayBuffer[Seq[(Long, Long, Long)]]()
  /** The LSH (bits, tables) of a [[Base]]-vector index, frozen for the
    * run (the fresh publish of the end-state check must use them too). */
  private val simParams = {
    val b = VectorFunctions.mtBits(Base); (b, VectorFunctions.mtTables(b))
  }
  private var tag = 0

  def setupRounds: Int = 3

  /** Fresh roots, the fixture loaded, and all five families published
    * over ids below [[Base]]. */
  def setup(round: Int): Unit = {
    if (root.nonEmpty) rm(Paths.get(root))
    root = s"$run/churn-$round"
    val eng = Paths.get(root, "engine")
    Files.createDirectories(eng)
    Seq("users.csv", "posts.csv", "engagements.csv").foreach { f =>
      Files.copy(Paths.get(a("fixture"), f), eng.resolve(f))
    }
    engine = new FlatFileEngine(spark, eng.toString,
      changelogWrites = true, manifestCommits = true)
    val base = docs.filter(col("doc_id") < Base)
    // the fixture load and the five publishes are independent: run them
    // concurrently, as a deployment bringing up its state would
    rec.op("setup", "write", "setup") {
      rec.trace.parallel("engine" +: Families) {
        case "engine" => traced("engine.load")(load())
        case f => traced(s"index.$f.publish")(publish(f, famRoot(f), base,
          emb.filter(col("vec_id") < Base), baseEdges))
      }
    }
  }

  private def traced[T](name: String)(body: => T): T =
    rec.trace.span(name, rec.currentOp)(body)

  private def load(): Unit = {
    engine.users.count(); engine.posts.count(); engine.engagements.count()
    ()
  }

  // ------------------------------------------------------------ families

  private def terms(d: DataFrame): DataFrame =
    d.select(explode(TextFunctions.words(col("text"))).as("term"))
      .filter(length(col("term")) > 0)

  private def edgesDf(e: Seq[(Long, Long, Long)]): DataFrame =
    spark.createDataFrame(e).toDF("src", "dst", "w")

  /** Doc i linked both ways to doc i + 20 (the next doc of its source)
    * for every base doc. */
  private def baseEdges: DataFrame = {
    val r = spark.range(0, Base - 20)
    r.select(col("id").as("src"), (col("id") + 20).as("dst"), lit(1L).as("w"))
      .unionByName(r.select((col("id") + 20).as("src"), col("id").as("dst"),
        lit(1L).as("w")))
  }

  /** A graph fold's edges for ids [lo, hi): each new doc linked both
    * ways to doc id - 20, plus one more unit of weight on an existing
    * base edge — the fold sums weights, so a replay would double it. */
  private def foldEdges(lo: Long, hi: Long): Seq[(Long, Long, Long)] =
    (lo until hi).flatMap { j =>
      val b = (j - Base) % (Base - 20)
      Seq((j, j - 20, 1L), (j - 20, j, 1L), (b, b + 20, 1L), (b + 20, b, 1L))
    }

  private def publish(f: String, at: String, d: DataFrame, v: DataFrame,
                      edges: DataFrame): Unit = f match {
    case "dedup" => DedupIndex.publish(
      Dedup.minhashSignatures(d, "doc_id", "text", MhK), "doc_id",
      MhBands, MhR, at)
    case "sim" =>
      SimIndex.publish(v, "vec_id", "embedding", simParams._1, simParams._2, at)
    case "lex" => LexIndex.publish(d, "doc_id", "text", at)
    case "graph" => GraphIndex.publish(edges, at)
    case "sketch" => SketchIndex.publish(terms(d), "term", CmsD, CmsW, at)
  }

  private def probe(f: String, at: String, ids: Seq[Long]): DataFrame = {
    val d = docs.filter(col("doc_id").isin(ids: _*))
    f match {
      case "dedup" => DedupIndex.probe(spark,
        Dedup.minhashSignatures(
          d.select((col("doc_id") + Redelivery).as("doc_id"), col("text")),
          "doc_id", "text", MhK), "doc_id", MhBands, MhR, at)
      case "sim" => SimIndex.probeTopK(spark,
        emb.filter(col("vec_id").isin(ids: _*)), "vec_id", "embedding",
        SimK, at)
      case "lex" => LexIndex.bm25TopK(spark,
        d.select(col("doc_id").as("query_id"),
          explode(slice(TextFunctions.words(col("text")), 1, 5)).as("term"))
          .distinct(), "query_id", "term", LexK, at)
      case "graph" => GraphIndex.neighbors(spark,
        spark.createDataFrame(ids.map(Tuple1(_))).toDF("node"), at)
      case "sketch" => SketchIndex.estimate(spark, terms(d), "term", at)
    }
  }

  private def fold(f: String, args: Seq[Long]): Unit = {
    tag += 1
    val t = s"b$tag"
    if (f == "dedup") {
      DedupIndex.addTombstones(spark,
        spark.createDataFrame(args.map(Tuple1(_))).toDF("doc_id"),
        "doc_id", famRoot(f))
      dedupDeleted ++= args
    } else {
      val Seq(lo, hi) = args
      val slice = docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
      f match {
        case "sim" => SimIndex.appendDelta(
          emb.filter(col("vec_id") >= lo && col("vec_id") < hi),
          "vec_id", "embedding", famRoot(f), t)
        case "lex" => LexIndex.appendDelta(slice, "doc_id", "text",
          famRoot(f), t)
        case "graph" =>
          val e = foldEdges(lo, hi)
          GraphIndex.fold(spark, edgesDf(e), famRoot(f), t)
          graphFolds += e
        case "sketch" => SketchIndex.appendDelta(spark, terms(slice),
          "term", famRoot(f), t)
      }
      foldedSlices(f) = (lo, hi) :: foldedSlices(f)
    }
  }

  private def compact(f: String): Unit = f match {
    case "dedup" => DedupIndex.compact(spark, famRoot(f))
    case "sim" => SimIndex.mergeCompact(spark, famRoot(f))
    case "lex" => LexIndex.mergeCompact(spark, famRoot(f))
    case "graph" => GraphIndex.mergeCompact(spark, famRoot(f))
    case "sketch" => SketchIndex.mergeCompact(spark, famRoot(f))
  }

  /** One deletion set through every family. Each family commits under
    * its own lock, so the five single-target cascades run concurrently
    * (a sequential cascade costs more than a whole window). */
  private def purge(ids: Seq[Long]): Unit = {
    val del = spark.createDataFrame(ids.map(i => (i, i))).toDF("doc_id", "vec_id")
    rec.trace.parallel(Seq(
      PurgeCascade.dedup(famRoot("dedup")),
      PurgeCascade.sim(famRoot("sim")),
      PurgeCascade.lex(famRoot("lex")),
      PurgeCascade.graph(famRoot("graph"), "doc_id"),
      PurgeCascade.sketch(famRoot("sketch"), docs))) { t =>
      PurgeCascade.purge(spark, del, Seq(t), vacuum = true)
    }
    purged ++= ids
  }

  // ------------------------------------------------------------ the loop

  private val files = mutable.ArrayBuffer[String]()
  private val userBytes = mutable.Map[String, Long]().withDefaultValue(0L)
  private var snapped = Set.empty[String]

  /** List every file under the workload root as `snap \t path \t size`. */
  private def snapshot(label: String, dir: String = root): Unit = rec.excluded {
    val base = Paths.get(dir)
    val s = Files.walk(base)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).foreach { p =>
      files += s"$label\t${base.relativize(p)}\t${Files.size(p)}"
    } finally s.close()
  }

  /** One whole cycle of the window's plan section, one op per line. */
  def step(window: String): Unit = {
    if (!snapped(window)) { snapshot(s"$window.start"); snapped += window }
    val cycles = plan(window)
    require(cyclesDone(window) < cycles.size, s"index_churn plan exhausted in $window")
    cycles(cyclesDone(window)).foreach(line => runOp(window, line))
    cyclesDone(window) += 1
    rec.meta(s"$window.cycles_done") = cyclesDone(window)
  }

  /** CSV bytes of the user rows a write op submits: the update or
    * rename pair, the appended rows, the folded docs, vectors or edges,
    * the deleted ids. Compaction submits none. */
  private def submittedBytes(tok: Seq[String]): Long = {
    def csv(rows: Iterable[String]) = rows.map(_.length + 1L).sum
    tok(1) match {
      case "update" | "rename" => csv(Seq(tok.slice(2, 4).mkString(",")))
      case "append" => csv(tok.drop(2))
      case "purge" => csv(tok.drop(2))
      case "fold" if tok(2) == "dedup" => csv(tok.drop(3))
      case "fold" =>
        val (lo, hi) = (tok(3).toLong, tok(4).toLong)
        tok(2) match {
          case "graph" => csv(foldEdges(lo, hi).map(e => e.productIterator.mkString(",")))
          case "sim" => csv(emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
            .collect().map(r => (r.getLong(0) +: r.getSeq[Float](1)).mkString(",")))
          case _ => csv(docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
            .collect().map(r => s"${r.getLong(0)},${r.getString(1)}"))
        }
      case _ => 0L
    }
  }

  private def runOp(window: String, line: String): Unit = {
    val tok = line.split(' ').toSeq
    val kind = tok(0)
    if (kind == "write") rec.excluded { userBytes(window) += submittedBytes(tok) }
    val (name, body): (String, () => Unit) = tok(1) match {
      case "comments" => ("engine.comments",
        () => engine.getAllUserComments(tok(2).toInt).collect())
      case "by_location" => ("engine.by_location",
        () => engine.getAllEngagementsByLocation(tok.drop(2).mkString(" ")).collect())
      case "load" => ("engine.load", () => load())
      case "update" => ("engine.update_views", () =>
        if (engine.updatePostViews(tok(2).toInt, tok(3).toInt))
          rec.meta("updates_applied") =
            rec.meta.getOrElse("updates_applied", 0).asInstanceOf[Int] + 1)
      case "append" => ("engine.append", () => {
        val rows = tok.drop(2).map(_.split(','))
        engine.addEngagementRecords(spark.createDataFrame(
          rows.map(r => Row(r(0).toInt, r(1).toInt, r(2), r(3), r(4), r(5).toInt))
            .asJava, FlatFileEngine.engagementSchema))
      })
      case "rename" => ("engine.rename",
        () => engine.updateUserName(tok(2).toInt, tok(3)))
      case "probe" => (s"index.${tok(2)}.probe",
        () => probe(tok(2), famRoot(tok(2)), tok.drop(3).map(_.toLong)))
      case "fold" => (s"index.${tok(2)}.fold",
        () => fold(tok(2), tok.drop(3).map(_.toLong)))
      case "compact" => (s"index.${tok(2)}.compact", () => compact(tok(2)))
      case "purge" => ("index.purge_cascade",
        () => purge(tok.drop(2).map(_.toLong)))
    }
    rec.op(window, kind, name)(traced(name)(body()))
    rec.drain(spark)
    if (kind == "write") {
      rec.meta(s"$window.user_bytes") = userBytes(window)
      snapshot(s"$window.${rec.currentOp}")
    }
  }

  // ------------------------------------------------------------ checks

  /** End-state facts: the persisted views total and dangling count, and
    * per family whether a probe of a fixed batch over the served state
    * equals the same probe over a fresh publish of the surviving rows.
    * The fresh publishes and a fresh CSV write of the live tables are
    * also the denominator of space_amp. */
  def check(): Unit = {
    snapshot("end")
    val fresh = s"$run/fresh"
    val batch = (0L until 40L) ++ (Base until Base + 40)
    def live(f: String): Seq[Long] =
      ((0L until Base) ++ foldedSlices(f).flatMap { case (lo, hi) => lo until hi })
        .filterNot(i => purged(i) || (f == "dedup" && dedupDeleted(i)))
    // the engine and the families are independent: check them concurrently
    val facts = rec.trace.parallel("engine" +: Families) {
      case "engine" =>
        val reread = new FlatFileEngine(spark, s"$root/engine",
          changelogWrites = true, manifestCommits = true)
        Seq("users" -> reread.users, "posts" -> reread.posts,
            "engagements" -> reread.engagements).foreach { case (t, df) =>
          df.write.option("header", true).csv(s"$fresh/engine/$t")
        }
        Map[String, Any](
          "views_total" -> reread.posts.agg(sum("views")).first().getLong(0),
          "dangling" -> reread.danglingEngagements.count())
      case f =>
      val ids = live(f)
      val edges = (baseEdgeSeq ++ graphFolds.flatten)
        .filterNot { case (s, d, _) => purged(s) || purged(d) }
      publish(f, s"$fresh/$f", docs.filter(col("doc_id").isin(ids: _*)),
        emb.filter(col("vec_id").isin(ids: _*)), edgesDf(edges))
      def rows(at: String) =
        probe(f, at, batch).collect().map(_.mkString("|")).sorted.toSeq
      val served = rows(famRoot(f))
      Map[String, Any](s"check.$f.rows" -> served.size,
        s"check.$f.match" -> (served == rows(s"$fresh/$f")))
    }
    facts.foreach(rec.meta ++= _)
    snapshot("fresh", fresh)
    val w = new java.io.PrintWriter(s"$out/files.tsv", "UTF-8")
    try files.foreach(w.println) finally w.close()
  }

  private def baseEdgeSeq: Seq[(Long, Long, Long)] =
    (0L until Base - 20).flatMap(i => Seq((i, i + 20, 1L), (i + 20, i, 1L)))
}

object ChurnWorkload {
  val Families: Seq[String] = Seq("dedup", "sim", "lex", "graph", "sketch")
  /** Ids below Base are published in set-up; folds add ids from Base. */
  val Base = 1000L
  val Redelivery = 1000000L
  val MhK = 16; val MhBands = 4; val MhR = 4
  val SimK = 3; val LexK = 10
  val CmsD = 4; val CmsW = 1024

  def rm(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .iterator().asScala.foreach(Files.delete)
    finally s.close()
  }
}
