package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.SparkSession

import graft.api.GraftApi

/** The benchmark process: one workload, closed loop, one pass at a time.
  *
  *   graftbench.Main --workload W --seed N --seconds S --trace 0|1 --dir D
  *
  * `D` is the benchmark directory (inputs are read from `D/fixture` and
  * `D/expected`, working files go to `D/work`). Set-up — a fresh session, the
  * inputs written or located, and a first read of them — runs
  * [[SetupRepeats]] times, the first counted from JVM start; `setup_s` is
  * the median. One warm-up pass follows, then passes run back to back for
  * S seconds (at least [[MinPasses]]). Every pass's output is checked.
  *
  * With `--trace 1` a second warm-up pass runs, then untraced and traced
  * passes (spans, Spark listeners, JVM counters) in the order U T T U, at
  * least [[TracedMinPasses]] of each, so the run reports its own tracing
  * overhead. The last stdout line is the
  * result object; the line before it carries diagnostics (load sentinel,
  * samples, outputs).
  */
object Main {
  val SetupRepeats = 3
  val MinPasses = 3
  val TracedMinPasses = 2

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Fixed-work CPU probe through Spark, min of two (as in `graft.Bench`):
    * its time is the host-load reading. It gates nothing. */
  def sentinel(spark: SparkSession, cores: Int): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 40000000L, 1L, cores).selectExpr("sum(id * 2654435761 % 1000003) AS s").collect()
      (System.nanoTime() - t0) / 1e9
    }
    math.min(once(), once())
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val dir = Paths.get(args("dir")).toAbsolutePath
    val work = dir.resolve("work")
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors()

    val w = Workload(name, seed, dir)
    val blocks = new BlockTracker

    var spark: SparkSession = null
    val setups = (1 to SetupRepeats).map { i =>
      val t0 = System.nanoTime() -
        (if (i == 1) java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime * 1000000L else 0L)
      if (spark != null) spark.stop()
      spark = session(cores, work)
      w.prepare(spark, work)
      w.open(spark)
      (System.nanoTime() - t0) / 1e9
    }
    spark.sparkContext.addSparkListener(blocks)

    val tr = new Tracer(false)
    val outcomes = mutable.ArrayBuffer.empty[Outcome]
    case class PassStat(wall: Double, storagePeak: Long, traced: Boolean)
    val stats = mutable.ArrayBuffer.empty[PassStat]
    val layerSamples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

    def runPass(): (Double, Outcome) = {
      // start every pass from the same state: garbage collected (which also
      // lets Spark's cleaner drop what the last pass left) and no queued events
      System.gc()
      ListenerBusDrain(spark.sparkContext)
      blocks.reset()
      val t0 = System.nanoTime()
      val out =
        try tr.span("bench", "pass") {
          val o = w.pass(spark, tr)
          tr.span("graft.ops.Pinned", "pinned.release")(GraftApi.releasePinned(spark))
          o
        } catch { case e: Exception => Outcome(ok = false, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      val wall = (System.nanoTime() - t0) / 1e9
      ListenerBusDrain(spark.sparkContext)
      (wall, out)
    }

    // warm-up: JIT, codegen caches and page cache, outside the measurement;
    // a traced run compares traced with untraced passes, so it lets the JIT
    // settle for one pass more
    val warmups = Seq.fill(if (traced) 2 else 1)(runPass())
    tr.durations.clear()
    val sentinelBefore = sentinel(spark, cores)

    val sparkTrace = new SparkTrace
    def collect(k: String, v: Double): Unit = layerSamples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    /** A traced pass: listeners and spans on for exactly this pass. */
    def tracedPass(): (Double, Outcome) = {
      spark.sparkContext.addSparkListener(sparkTrace)
      spark.listenerManager.register(sparkTrace)
      tr.enabled = true
      tr.pass += 1
      sparkTrace.reset()
      val gc0 = Jvm.gcMillis
      Jvm.resetHeapPeak()
      val (wall, out) = runPass()
      collect("jvm.gc_s", (Jvm.gcMillis - gc0) / 1e3)
      collect("jvm.heap_peak_mb", Jvm.heapPeakBytes / 1e6)
      collect("storage.blocks_cached", blocks.rddBlocksStored)
      collect("storage.rdds_left", spark.sparkContext.getPersistentRDDs.size)
      val (c, jobs) = sparkTrace.snapshot()
      Layers.passMetrics(tr, tr.pass, c, jobs, cores).foreach { case (k, v) => collect(k, v) }
      // graft.text on its own, outside the pass and its counters
      w.probe(spark, tr)
      spark.listenerManager.unregister(sparkTrace)
      spark.sparkContext.removeSparkListener(sparkTrace)
      tr.enabled = false
      (wall, out)
    }

    // A traced run orders its passes untraced, traced, traced, untraced, ...
    // so a steady drift (JIT still settling, host load) cancels out of the
    // overhead estimate.
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    val minPasses = if (traced) 2 * TracedMinPasses else MinPasses
    while (stats.size < minPasses || elapsed < seconds) {
      val tracing = traced && Set(1, 2).contains(stats.size % 4)
      val (wall, out) = if (tracing) tracedPass() else runPass()
      stats += PassStat(wall, blocks.peakBytes, tracing)
      outcomes += out
    }
    val sentinelAfter = sentinel(spark, cores)

    val measured = stats.filterNot(_.traced)
    val passS = median(measured.map(_.wall).toSeq)
    val failed = outcomes.count(!_.ok)
    val correct = failed == 0 && warmups.forall(_._2.ok)
    val e2e = Seq(
      "setup_s" -> (median(setups), "s"),
      "pass_s" -> (passS, "s"),
      "rows_per_s" -> (w.inputRows / passS, "rows/s"),
      "storage_peak_mb" -> (median(measured.map(_.storagePeak / 1e6).toSeq), "MB"))
    val metrics =
      if (!traced) e2e
      else {
        val tracedS = median(stats.filter(_.traced).map(_.wall).toSeq)
        val byName = layerSamples.map { case (k, v) => k -> median(v.toSeq) }.toMap ++
          Layers.callMetrics(tr.durations.map { case (k, v) => k -> median(v.toSeq) }.toMap) ++
          Map("trace.pass_s" -> tracedS, "trace.untraced_pass_s" -> passS,
            "trace.overhead_s" -> (tracedS - passS))
        Layers.PerLayer.map { case (k, unit) => k -> (byName.getOrElse(k, 0.0), unit) }
      }

    if (traced) writeSpans(work.resolve("trace").resolve(s"spans-$name-$seed.jsonl"), tr.all)
    val diag = Json.obj(Seq(
      "workload" -> Json.str(name), "seed" -> seed.toString, "cores" -> cores.toString,
      "rows" -> w.inputRows.toString,
      "setup_samples_s" -> Json.arr(setups.map(Json.num)),
      "warmup_s" -> Json.arr(warmups.map(w => Json.num(w._1))),
      "pass_samples_s" -> Json.arr(measured.map(s => Json.num(s.wall)).toSeq),
      "calls_s" -> Json.obj(tr.durations.toSeq.map { case (k, v) => k -> Json.num(median(v.toSeq)) }),
      "sentinel_before_s" -> Json.num(sentinelBefore), "sentinel_after_s" -> Json.num(sentinelAfter),
      "outputs" -> Json.arr((warmups.map(_._2) ++ outcomes).map(o => Json.str((if (o.ok) "ok " else "FAILED ") + o.detail)).distinct)))
    println(diag)
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> outcomes.size.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, (v, unit)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))
      }))))
    spark.stop()
  }

  private def writeSpans(file: Path, spans: Seq[Span]): Unit = {
    Files.createDirectories(file.getParent)
    val lines = spans.sortBy(_.start).map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString, "pass" -> s.pass.toString,
        "layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
        "start_ns" -> s.start.toString, "end_ns" -> s.end.toString))
    }
    Files.write(file, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Minimal JSON rendering for the output lines. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  /** A finite double with all its digits; non-finite values become null. */
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
