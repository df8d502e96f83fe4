package perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator
import graft.{Extractor, Pipeline, SparkEntry}
import graft.model.{ExtractionResult, Turn}
import SparkTrace.JobRec

/** One benchmark workload: inputs made from the seed, one timed
  * iteration, the output check and the per-layer figures of a traced loop. */
abstract class Workload(val ctx: Ctx) {
  /** Writes the workload's inputs under its work directory. */
  def generate(): Unit
  /** Untimed preparation before each iteration. */
  def prepare(): Unit = ()
  /** One timed iteration. */
  def iterate(): Unit
  /** Turns (documents, for curation_ops) one iteration completes. */
  def unitsPerIteration: Long
  /** UTF-8 bytes of input text one iteration reads. */
  def inputBytes: Long
  /** Whether the units are extracted turns (the lib walk's unit). */
  def extractsTurns: Boolean = true
  /** Checks outputs after the timed loop; adds to ctx.attempted/failed. */
  def check(): Map[String, Any]
  /** Turns the single-thread lib walk runs over. */
  def walkTurns(): IndexedSeq[Turn]
  /** Seconds to scan the workload's input table once (median of 3). */
  def scanSeconds(): Double
  /** Per-layer metrics of the traced loop (`iters` = its iteration times). */
  def layers(iters: Seq[Double]): Map[String, Double]
  /** Files the outer runner checks against DuckDB oracles. */
  def oracleFiles: Map[String, Any] = Map.empty

  protected def spark = ctx.spark
  protected val dir: Path = { Files.createDirectories(ctx.work); ctx.work }
  protected def p(name: String): String = dir.resolve(name).toString

  /** Task CPU share of the loop's cores and GC share of task time. */
  protected def cpuAndGc(jobs: Seq[JobRec], iters: Seq[Double]): Map[String, Double] = {
    val tasks = ctx.st.tasksOf(jobs)
    Map(
      "pipeline.cpu_busy_frac" -> tasks.map(_.cpuNs).sum / 1e9 / (ctx.nproc * iters.sum),
      "pipeline.gc_frac" -> tasks.map(_.gcMs).sum.toDouble / math.max(1L, tasks.map(_.runMs).sum))
  }

  protected def medianScan(path: String): Double =
    Main.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.read.parquet(path).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    })
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "run_mix" => new RunMix(ctx)
    case "curation_ops" => new CurationOps(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Parquet files per generated turn table. */
  val InputFiles = 16

  def bytes(s: String): Long = if (s == null) 0L else s.getBytes("UTF-8").length.toLong

  def jsonl(path: Path): Vector[JsonNode] = {
    Files.readAllLines(path).asScala.iterator.filter(_.nonEmpty).map(l => Json.mapper.readTree(l)).toVector
  }

  def text(n: JsonNode, f: String): String = {
    val v = n.get(f)
    if (v == null || v.isNull) null else v.asText()
  }

  /** Seeded Fisher-Yates permutation of 0 until n. */
  def permutation(n: Int, rng: java.util.SplittableRandom): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a
  }

  def writeTurns(ctx: Ctx, turns: Seq[Turn], path: String, files: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    spark.sparkContext.parallelize(turns, files).toDS().write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Bytes of the data files (not hidden, not `_`-prefixed) under `dir`. */
  def dataBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).filter { f =>
        val n = f.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_")
      }.map(Files.size).sum
      finally s.close()
    }

  def deleteTree(d: Path): Unit =
    if (Files.exists(d)) {
      val s = Files.walk(d)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala.foreach(Files.delete)
      finally s.close()
    }

  def pct(xs: Seq[Long], q: Double): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(math.min(s.length - 1, (q * s.length).toInt)).toDouble }
}

/** Marks, per task, the wall-clock ms at which the extraction input of
  * that task ran out. A task's time before the mark is extraction (scan
  * and extract are pipelined), after it the sink (sort, encode, write).
  * Only the traced loop wraps its input with it. */
final class ExtractTap(ctx: Ctx) {
  val marks: CollectionAccumulator[(Int, Int, Int, Long)] =
    ctx.spark.sparkContext.collectionAccumulator[(Int, Int, Int, Long)]("perfbench.extract_end")

  def apply(ds: Dataset[Turn]): Dataset[Turn] =
    if (!ctx.tracing) ds
    else {
      import ds.sparkSession.implicits._
      val acc = marks
      ds.mapPartitions { it =>
        new Iterator[Turn] {
          private var done = false
          def hasNext: Boolean = {
            val h = it.hasNext
            if (!h && !done) {
              done = true
              val tc = TaskContext.get()
              acc.add((tc.stageId(), tc.partitionId(), tc.attemptNumber(), System.currentTimeMillis()))
            }
            h
          }
          def next(): Turn = it.next()
        }
      }
    }

  def markOf: Map[(Int, Int, Int), Long] =
    marks.value.asScala.map { case (s, p, a, t) => (s, p, a) -> t }.toMap
}

/** The production job over a corpus mix: a seeded sample (with
  * replacement) of the 1,003-turn golden corpus, run through `graft.Run`'s
  * two paths back to back: `writeResults` over a seeded half, then
  * `resume` + `appendResults` over the whole input. */
final class RunMix(ctx: Ctx) extends Workload(ctx) {
  val N = 8192
  private val corpus = Workload.jsonl(ctx.root.resolve("src/test/resources/corpus.jsonl")).map { n =>
    Turn(n.get("conv_id").asText(), n.get("turn_idx").asInt(), n.get("role").asText(),
      Workload.text(n, "text"), n.get("tool").asText(), new Timestamp(n.get("ts").asLong()))
  }
  private val src: Array[Int] = {
    val rng = new java.util.SplittableRandom(ctx.seed)
    Array.fill(N)(rng.nextInt(corpus.length))
  }
  /** Sample i gets conv id m<i> and keeps its source turn_idx and ts; the
    * first half of the sample is the half the first path writes. */
  private val turns: Vector[Turn] =
    src.indices.map(i => corpus(src(i)).copy(conv_id = f"m$i%07d")).toVector
  private val allPath = p("turns_all")
  private val halfPath = p("turns_half")
  private val out = dir.resolve("out")
  private var tap: ExtractTap = _

  def generate(): Unit = {
    Workload.writeTurns(ctx, turns, allPath, Workload.InputFiles)
    Workload.writeTurns(ctx, turns.take(N / 2), halfPath, Workload.InputFiles / 2)
  }

  override def prepare(): Unit = Workload.deleteTree(out)

  def unitsPerIteration: Long = N
  lazy val inputBytes: Long = turns.map(t => Workload.bytes(t.text)).sum

  private def tapped(ds: Dataset[Turn]): Dataset[Turn] = {
    if (ctx.tracing && tap == null) tap = new ExtractTap(ctx)
    if (tap == null) ds else tap(ds)
  }

  def iterate(): Unit = {
    val o = out.toString
    ctx.span("run.writeResults") {
      val half = tapped(Pipeline.turnsSchemaDf(spark, halfPath))
      Pipeline.writeResults(Pipeline.extractTurns(half, -1, safe = true), o)
    }
    val all = Pipeline.turnsSchemaDf(spark, allPath)
    val rest = ctx.span("run.resume")(Pipeline.resume(spark, all, o))
    ctx.span("run.appendResults") {
      Pipeline.appendResults(Pipeline.extractTurns(tapped(rest), -1, safe = true), o)
    }
  }

  def walkTurns(): IndexedSeq[Turn] = turns.take(3000)
  def scanSeconds(): Double = medianScan(allPath)

  def layers(iters: Seq[Double]): Map[String, Double] = {
    val n = iters.length.toDouble
    val parents = ctx.parents
    def jobsOf(span: String) = ctx.spans(span).flatMap(s => ctx.st.jobsUnder(s.id, parents))
    val append = jobsOf("run.appendResults")
    val jobs = jobsOf("run.writeResults") ++ append ++ jobsOf("run.resume")
    def target(j: JobRec) = ctx.st.exec(j.exec).flatMap(_.target).getOrElse("")
    def execMs(t: String): Long =
      jobs.filter(target(_) == t).map(_.exec).distinct.flatMap(ctx.st.exec).map(_.ms).sum
    val resultsJobs = jobs.filter(target(_) == "results")
    // in the append's results execution every job but the last reads or
    // ships the committed keys for the anti-join
    val antiJoinJobs = append.filter(target(_) == "results").groupBy(_.exec).values
      .flatMap(js => js.sortBy(_.id).dropRight(1))
    val sinkJobs = jobs.filter(j => Set("results", "lineage", "metrics", "metrics_rolling")(target(j)))
    // extract-stage tasks carry a mark: (task, ms before it, ms after it)
    val marks = if (tap == null) Map.empty[(Int, Int, Int), Long] else tap.markOf
    val ex = ctx.st.tasksOf(resultsJobs).flatMap { t =>
      marks.get((t.stage, t.partition, t.attempt)).map(m => (t, m - t.launch, t.finish - m))
    }
    // job commit: from the last task's end to the end of each results write
    val commitMs = resultsJobs.groupBy(_.exec).toSeq.map { case (e, js) =>
      val lastTask = ctx.st.tasksOf(js).map(_.finish).maxOption.getOrElse(0L)
      ctx.st.exec(e).filter(_.end >= 0).map(x => math.max(0L, x.end - lastTask)).getOrElse(0L)
    }.sum
    val (resultsBytes, ratio) = outBytes()
    cpuAndGc(jobs, iters) ++ Map(
      "pipeline.tasks" -> ex.length / n,
      "pipeline.extract.busy_s" -> ex.map(_._2).sum / 1e3 / n,
      "pipeline.extract.task_ms_p50" -> Workload.pct(ex.map(_._1.ms), 0.5),
      "pipeline.extract.task_ms_max" -> ex.map(_._1.ms).maxOption.getOrElse(0L).toDouble,
      "pipeline.extract.task_wait_ms" -> (if (ex.isEmpty) 0.0 else ex.map(_._1.waitMs).sum.toDouble / ex.length),
      "sink.results.s" -> (ex.map(_._3).sum + commitMs) / 1e3 / n,
      "sink.results.bytes" -> resultsBytes.toDouble,
      "sink.out_bytes_per_in_byte" -> ratio,
      "sink.lineage.s" -> execMs("lineage") / 1e3 / n,
      "sink.metrics.s" -> execMs("metrics") / 1e3 / n,
      "sink.rolling.s" -> execMs("metrics_rolling") / 1e3 / n,
      "sink.spill_bytes" -> ctx.st.tasksOf(sinkJobs).map(_.spillBytes).sum / n,
      "resume.antijoin.s" ->
        (ctx.spans("run.resume").map(_.dur).sum / 1e9 + antiJoinJobs.map(_.ms).sum / 1e3) / n,
      "resume.append.s" -> ctx.spans("run.appendResults").map(_.dur).sum / 1e9 / n)
  }

  def check(): Map[String, Any] = {
    val spark = this.spark
    import spark.implicits._
    val o = out.toString
    val res = spark.read.parquet(s"$o/results").as[ExtractionResult]
    val keys = Seq("conv_id", "turn_idx").map(col)
    val input = Pipeline.turnsSchemaDf(spark, allPath).select(keys: _*)
    val rows = res.count()
    val distinct = res.select(keys: _*).distinct().count()
    val missing = input.except(res.select(keys: _*)).count()
    val extra = res.select(keys: _*).except(input).count()
    val lineageRows = spark.read.parquet(s"$o/lineage").agg(sum("n_rows")).first().getLong(0)
    val metricTurns = spark.read.parquet(s"$o/metrics").agg(sum("n_turns")).first().getLong(0)
    // every sink row against the golden of its source turn
    val gold = Golden.load(ctx.root.resolve("src/test/resources/goldens.jsonl"))
    val keyOf = corpus.map(t => s"${t.conv_id}_${t.turn_idx}")
    val bSrc = spark.sparkContext.broadcast(src.map(keyOf))
    val bGold = spark.sparkContext.broadcast(gold)
    val bad = res.mapPartitions { it =>
      it.flatMap { r =>
        val key = bSrc.value(r.conv_id.drop(1).toInt)
        val fields = Golden.diff(r, key, bGold.value(key))
        if (fields.isEmpty) None else Some(s"${r.conv_id} (source $key) differs on ${fields.mkString(",")}")
      }
    }.collect()
    // and a seeded sample, all columns, against re-extraction on the driver
    val rng = new java.util.SplittableRandom(ctx.seed ^ 0x5eed)
    val sample = Array.fill(200)(turns(rng.nextInt(N))).distinct
    val want = sample.map(t => (t.conv_id, t.turn_idx) -> Extractor.extractSafe(t)).toMap
    val got = res.join(sample.map(t => (t.conv_id, t.turn_idx)).toSeq.toDF("conv_id", "turn_idx"),
      Seq("conv_id", "turn_idx")).as[ExtractionResult].collect()
      .map(r => (r.conv_id, r.turn_idx) -> r).toMap
    val sampleBad = want.count { case (k, w) => !got.get(k).contains(w) }
    ctx.attempt(N)
    if (bad.nonEmpty) ctx.fail(bad.length, bad.take(5).toSeq)
    for ((why, k) <- Seq(
      s"$missing input keys missing from results" -> missing,
      s"$extra result keys not in the input" -> extra,
      s"${rows - distinct} duplicate result keys" -> (rows - distinct),
      s"$sampleBad sampled rows differ from driver re-extraction" -> sampleBad.toLong,
      s"lineage n_rows sums to $lineageRows, expected $N" -> (if (lineageRows == N) 0L else 1L),
      s"metrics n_turns sums to $metricTurns, expected $N" -> (if (metricTurns == N) 0L else 1L))
    if k != 0) ctx.fail(k, Seq(why))
    val (resultsBytes, ratio) = outBytes()
    Map("checked_turns" -> N, "results_rows" -> rows, "golden_mismatch_rows" -> bad.length,
      "sampled_rows" -> sample.length, "results_bytes" -> resultsBytes, "out_bytes_per_in_byte" -> ratio)
  }

  /** Bytes of results, and bytes of results + lineage + metrics +
    * metrics_rolling per byte of input text. */
  private def outBytes(): (Long, Double) = {
    val b = Seq("results", "lineage", "metrics", "metrics_rolling").map(s => Workload.dataBytes(out.resolve(s)))
    (b.head, b.sum.toDouble / inputBytes)
  }
}

/** Four curation queries over the 400 documents of [[CurationOps.DocsFile]]
  * (the first 400 of the sf0.1 `documents` table), stored in a seeded row
  * order and run in a seeded query order. Every pass's result digests must
  * equal the first pass's, whose results the outer runner checks against
  * DuckDB. */
final class CurationOps(ctx: Ctx) extends Workload(ctx) {
  import CurationOps._
  private val sf = p("sf")
  private val docsPath = s"$sf/documents.parquet"
  private val resultsDir = dir.resolve("setup_results")
  private val order: Seq[String] = {
    val rng = new java.util.SplittableRandom(ctx.seed)
    Workload.permutation(Queries.length, rng).map(Queries).toSeq
  }
  private val digests = mutable.LinkedHashMap.empty[String, String]
  private var docBytes = 0L
  private var nDocs = 0L

  def generate(): Unit = {
    // a fixed document set: the near-duplicate graph, and with it the
    // number of component rounds, must not change with the seed
    val docs = spark.read.parquet(ctx.root.resolve(DocsFile).toString).collect()
    val rng = new java.util.SplittableRandom(ctx.seed)
    val rows = Workload.permutation(docs.length, rng).map(docs).toSeq
    nDocs = rows.length
    docBytes = rows.map(r => Workload.bytes(r.getAs[String]("text"))).sum
    val schema = docs.head.schema
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 8), schema)
      .write.mode(SaveMode.Overwrite).parquet(docsPath)
  }

  def unitsPerIteration: Long = nDocs
  def inputBytes: Long = docBytes
  override def extractsTurns: Boolean = false

  private def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** The first pass (the warm-up pass) writes its results for the oracle
    * check, and its digests become the reference. */
  def iterate(): Unit = {
    val first = digests.isEmpty
    for (q <- order) {
      ctx.attempt(1)
      try {
        val rows = ctx.span(s"ops.$q") {
          val df = SparkEntry.queries(q)(spark, sf)
          if (first) {
            df.write.mode(SaveMode.Overwrite).parquet(resultsDir.resolve(q).toString)
            spark.read.parquet(resultsDir.resolve(q).toString).collect()
          } else df.collect()
        }
        val d = digest(rows)
        if (first) digests(q) = d
        else if (digests(q) != d) ctx.fail(1, Seq(s"$q result digest differs from the first pass"))
      } catch {
        case e: Exception => ctx.fail(1, Seq(s"$q threw ${e.getClass.getName}: ${e.getMessage}".take(300)))
      }
    }
  }

  def walkTurns(): IndexedSeq[Turn] =
    Pipeline.turnsFromDocuments(spark, sf).collect().toIndexedSeq.take(3000)

  def scanSeconds(): Double = medianScan(docsPath)

  def layers(iters: Seq[Double]): Map[String, Double] = {
    val parents = ctx.parents
    val all = order.flatMap(q => ctx.spans(s"ops.$q").flatMap(s => ctx.st.jobsUnder(s.id, parents)))
    cpuAndGc(all, iters) ++ Queries.flatMap { q =>
      val spans = ctx.spans(s"ops.$q")
      val jobs = spans.flatMap(s => ctx.st.jobsUnder(s.id, parents))
      val tasks = ctx.st.tasksOf(jobs)
      val k = math.max(1, spans.length).toDouble
      Seq(
        s"ops.$q.s" -> Main.median(spans.map(_.dur / 1e9)),
        s"ops.$q.jobs" -> jobs.length / k,
        s"ops.$q.stages" -> ctx.st.stagesOf(jobs).length / k,
        s"ops.$q.shuffle_bytes" -> tasks.map(_.shuffleWriteBytes).sum / k,
        s"ops.$q.spill_bytes" -> tasks.map(_.spillBytes).sum / k,
        s"ops.$q.task_ms_max" -> tasks.map(_.ms).maxOption.getOrElse(0L).toDouble)
    }
  }

  def check(): Map[String, Any] = Map("queries" -> order, "docs" -> nDocs)

  override def oracleFiles: Map[String, Any] = Map(
    "documents" -> docsPath,
    "queries" -> order.map(q => Map(
      "name" -> q, "result" -> resultsDir.resolve(q).toString, "sql" -> SparkEntry.oracleSql(q))))
}

object CurationOps {
  val DocsFile = "perfbench/data/documents.parquet"
  val Queries: IndexedSeq[String] =
    Vector("x14_dup_components", "x37_dup_components_star", "x72_band_occupancy", "x92_bpe_merges")
}

/** One golden row of `goldens.jsonl`, with the GoldenParitySpec fields. */
final case class Golden(
    text: String, formatted: String, lang: String, structure: String, summary: String,
    status: String, markdown: String, insights: Seq[String], structuredKind: String,
    structured: Map[String, String])

object Golden {
  def load(path: Path): Map[String, Golden] =
    Workload.jsonl(path).map { n =>
      def t(f: String) = Workload.text(n, f)
      val gi = n.get("insights")
      val insights = if (gi == null || gi.isNull) null else (0 until gi.size()).map(gi.get(_).asText()).toVector
      val gs = n.get("structured")
      val structured =
        if (gs == null || gs.isNull) null
        else gs.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
      s"${n.get("conv_id").asText()}_${n.get("turn_idx").asInt()}" ->
        Golden(t("text"), t("formatted"), t("lang"), t("structure"), t("summary"), t("status"),
          t("markdown"), insights, t("structured_kind"), structured)
    }.toMap

  /** Field names where `r` (extracted under another conv id) differs
    * from the golden of its source turn `key` = "<conv_id>_<turn_idx>". */
  def diff(r: ExtractionResult, key: String, g: Golden): Seq[String] = {
    val md = if (r.markdown == null) null else r.markdown.replace(s"${r.conv_id}_${r.turn_idx}", key)
    Seq(
      "status=error" -> (r.status == "error"),
      "text" -> (r.text != g.text),
      "formatted" -> (r.formatted_text != g.formatted),
      "lang" -> (r.detected_language != g.lang),
      "structure" -> (r.document_structure != g.structure),
      "summary" -> (r.summary != g.summary),
      "status" -> (r.status != g.status),
      "markdown" -> (md != g.markdown),
      "insights" -> (r.key_insights != g.insights),
      "structured" -> !structuredMatches(r, g)).collect { case (f, true) => f }
  }

  private def split(s: String, sep: Char): Seq[String] = s.split(sep.toString, -1).toSeq

  def structuredMatches(r: ExtractionResult, g: Golden): Boolean =
    if (g.structured == null) r.structured_kind == null
    else r.structured_kind != null && r.structured_kind == g.structuredKind && {
      val special = r.structured_kind match {
        case "receipt" => Set("items")
        case "table" => Set("headers", "rows")
        case _ => Set.empty[String]
      }
      val itemsOk = r.structured_kind != "receipt" ||
        r.structured_items.map(i => s"${i.name}\u0001${i.quantity}\u0001${i.price}").mkString("\u0002") ==
          g.structured("items")
      val tableOk = r.structured_kind != "table" || {
        val gh = g.structured("headers")
        val gr = g.structured("rows")
        val rows =
          if (gr.isEmpty) Seq.empty[Map[String, String]]
          else split(gr, '\u0002').map { row =>
            if (row.isEmpty) Map.empty[String, String]
            else split(row, '\u0001').map { cell => val kv = split(cell, '\u0003'); kv(0) -> kv(1) }.toMap
          }
        r.structured_headers.mkString("\u0001") == gh &&
          (r.structured_rows == rows || (rows.isEmpty && r.structured_rows.forall(_.isEmpty)))
      }
      r.structured_fields == (g.structured -- special) && itemsOk && tableOk
    }
}
