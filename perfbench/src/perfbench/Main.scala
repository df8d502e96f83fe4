package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Benchmark harness: one workload, one seed, one JVM.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --root DIR --work DIR --out FILE
  *
  * Set-up (session start and input generation) runs once cold (it also
  * pays JVM class loading), then one untimed warm-up iteration runs (for
  * curation_ops the pass whose results the oracles check, and whose
  * digests every later pass must match). The timed loop follows in the
  * same session: it repeats the workload's iteration until `--seconds`
  * have passed and at least [[MinSamples]] times, and reports the median
  * iteration. Iteration times still fall while the JIT compiles, so every
  * run times the same iterations of that curve. Set-up then runs
  * [[WarmSetups]] more times, with the JIT warm, writing the same inputs
  * again; `setup_s` is the median of those. With `--trace 1` the loop
  * alternates untraced iterations with traced ones (spans and the Spark
  * listener), at least [[MinSamples]] of each, and then the single-thread
  * `graft.lib` walk and the scan probe run. Metric names and units come
  * from BENCHMARK.json (`end_to_end` untraced, `per_layer` traced). The
  * result, host context and checks go to `--out` as one JSON object.
  */
object Main {
  val WarmSetups = 5
  val MinSamples = 3

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val ctx = new Ctx(
      root = Paths.get(a("root")), work = Paths.get(a("work")), seed = a("seed").toLong,
      seconds = a("seconds").toDouble, traced = a("trace") == "1")
    val loadStart = loadavg()
    val specs = metricSpecs(ctx.root, ctx.traced)
    val w = Workload(a("workload"), ctx)

    // set-up runs on a stopped session and a collected heap, as in a
    // fresh process: stopping the previous session is not part of it
    def setUp(): Double = {
      ctx.stopSession()
      System.gc()
      val t0 = System.nanoTime()
      ctx.startSession()
      w.generate()
      (System.nanoTime() - t0) / 1e9
    }
    val coldSetup = setUp()
    val warmup = once(w)

    val out = mutable.LinkedHashMap.empty[String, Any]
    val values = mutable.LinkedHashMap.empty[String, Double]
    val info = mutable.LinkedHashMap.empty[String, Any]
    if (!ctx.traced) {
      val loop = timedLoop(w, ctx.seconds)
      values("wall_s") = median(loop)
      values("turns_per_s") = w.unitsPerIteration / median(loop)
      values("peak_rss_mb") = peakRssMb()
      val setups = Vector.fill(WarmSetups)(setUp())
      values("setup_s") = median(setups)
      info("samples") = loop.length
      info("wall_s_all") = loop
      info("setup_s_warm") = setups
    } else {
      val (base, loop) = alternatingLoop(w, ctx.seconds)
      ctx.st.flush()
      val turnsPerS = w.unitsPerIteration / median(loop)
      val walk = LibWalk.run(ctx.tr, w.walkTurns())
      if (walk.mismatches > 0) ctx.fail(walk.mismatches, walk.examples)
      ctx.attempt(walk.turns)
      val lib = walk.metrics
      values ++= lib
      values ++= w.layers(loop)
      values("pipeline.scan.s") = w.scanSeconds()
      values("pipeline.parallel_eff") =
        if (w.extractsTurns) turnsPerS / (ctx.nproc * lib("lib.turns_per_s_1thread")) else 0.0
      values("trace.overhead_frac") = median(loop) / median(base) - 1.0
      info("samples_untraced") = base.length
      info("samples_traced") = loop.length
      info("lib_walk_turns") = walk.turns
      info("wall_s_untraced") = base
      info("wall_s_traced") = loop
      // a layer this workload's path does not reach reads 0
      info("per_layer_not_reached") = specs.map(_._1).filterNot(values.contains)
    }
    val unlisted = values.keys.filterNot(specs.map(_._1).toSet)
    require(unlisted.isEmpty, s"metrics not listed in BENCHMARK.json: ${unlisted.mkString(", ")}")
    val metrics = specs.map { case (name, unit) =>
      val v = if (ctx.traced) values.getOrElse(name, 0.0) else values(name)
      require(!v.isNaN && !v.isInfinite, s"metric $name is $v")
      name -> Map("value" -> v, "unit" -> unit)
    }
    val check = w.check()
    info ++= check
    info("turns_per_iteration") = w.unitsPerIteration
    info("input_bytes") = w.inputBytes
    info("setup_s_cold") = coldSetup
    info("warmup_s") = warmup

    out("correct") = ctx.failed == 0
    out("attempted") = math.max(1L, ctx.attempted)
    out("failed") = ctx.failed
    out("metrics") = mutable.LinkedHashMap(metrics: _*)
    out("info") = info
    out("failures") = ctx.failures.take(10)
    out("host") = Map(
      "nproc" -> ctx.nproc, "loadavg_start" -> loadStart, "loadavg_end" -> loadavg(),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
      "java" -> System.getProperty("java.version"), "spark" -> ctx.spark.version)
    out("oracle") = w.oracleFiles
    if (ctx.traced) ctx.tr.write(ctx.work.resolve(s"trace-${ctx.seed}.jsonl"))
    ctx.spark.stop()
    Files.writeString(Paths.get(a("out")), Json.mapper.writeValueAsString(out) + "\n")
  }

  /** (name, unit) of the `per_layer` (traced) or `end_to_end` metrics in
    * the checkout's BENCHMARK.json, in its order. */
  def metricSpecs(root: Path, traced: Boolean): Seq[(String, String)] =
    Json.mapper.readTree(root.resolve("BENCHMARK.json").toFile)
      .get(if (traced) "per_layer" else "end_to_end").elements().asScala
      .map(m => m.get("name").asText() -> m.get("unit").asText()).toVector

  /** Runs iterations until `seconds` have passed and at least
    * [[MinSamples]] have run; returns seconds per iteration. */
  def timedLoop(w: Workload, seconds: Double): Vector[Double] = {
    val times = Vector.newBuilder[Double]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var n = 0
    while (n < MinSamples || System.nanoTime() < deadline) { times += once(w); n += 1 }
    times.result()
  }

  /** Alternates untraced and traced iterations, in pairs whose order
    * flips each time, until `seconds` have passed and each side has
    * [[MinSamples]]: host drift and JIT warm-up fall on both sides alike.
    * Returns (untraced, traced) seconds per iteration. */
  def alternatingLoop(w: Workload, seconds: Double): (Vector[Double], Vector[Double]) = {
    val base = Vector.newBuilder[Double]
    val traced = Vector.newBuilder[Double]
    def tracedOnce(): Unit = { w.ctx.tracingOn(); traced += once(w); w.ctx.tracingOff() }
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var pairs = 0
    while (pairs < MinSamples || System.nanoTime() < deadline) {
      if (pairs % 2 == 0) { base += once(w); tracedOnce() }
      else { tracedOnce(); base += once(w) }
      pairs += 1
    }
    (base.result(), traced.result())
  }

  /** Runs untimed `prepare` and timed `iterate`; returns seconds. */
  private def once(w: Workload): Double = {
    w.prepare()
    val t0 = System.nanoTime()
    w.ctx.newIteration()
    w.iterate()
    (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def loadavg(): String =
    scala.util.Try(Files.readString(Paths.get("/proc/loadavg")).split(" ").take(3).mkString(" ")).getOrElse("")

  /** The process's resident-set high-water mark (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.util.Try {
      val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Runtime.getRuntime.totalMemory() / 1048576.0)
}

/** State shared by the harness and the workload: session, trace, counts. */
final class Ctx(val root: Path, val work: Path, val seed: Long, val seconds: Double, val traced: Boolean) {
  val nproc: Int = Runtime.getRuntime.availableProcessors()
  var spark: SparkSession = _
  var tr: Trace = new Trace(false)
  var st: SparkTrace = _
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  private var spansOn = false

  def attempt(n: Long): Unit = attempted += n
  def fail(n: Long, why: Seq[String]): Unit = { failed += n; failures ++= why }

  def stopSession(): Unit = if (spark != null) spark.stop()

  def startSession(): Unit = {
    spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.LogQuiet.muteCheckpointReleaseWarns()
  }

  /** Turns spans and the benchmark's Spark listener on, for one traced
    * iteration; the listener and the spans it recorded are kept. */
  def tracingOn(): Unit = {
    if (st == null) { tr = new Trace(true); st = new SparkTrace(spark, tr) }
    spark.sparkContext.addSparkListener(st)
    spansOn = true
  }

  /** Waits until the listener has seen the traced iteration's events,
    * then takes it off the bus. */
  def tracingOff(): Unit = {
    st.drain()
    spark.sparkContext.removeSparkListener(st)
    spansOn = false
  }

  def tracing: Boolean = spansOn

  /** Starts a new trace id: spans of one iteration share it. */
  def newIteration(): Unit = if (spansOn) tr.newTrace()

  /** A benchmark span around a call into the program; jobs the call
    * submits carry the span id as a local property. */
  def span[T](name: String)(body: => T): T =
    if (!spansOn) body
    else tr.span(name) {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(SparkTrace.SpanKey)
      sc.setLocalProperty(SparkTrace.SpanKey, tr.current.toString)
      try body finally sc.setLocalProperty(SparkTrace.SpanKey, prev)
    }

  /** Spans recorded so far with the given name. */
  def spans(name: String): Vector[Trace.Span] = tr.all.filter(_.name == name)

  def parents: Map[Long, Long] = tr.all.map(s => s.id -> s.parent).toMap
}
