package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One timed operation. `ms0`/`ms1` are wall-clock bounds for matching Spark jobs. */
final case class Sample(index: Int, seconds: Double, traced: Boolean, ms0: Long, ms1: Long, outcome: Outcome)

/**
 * Closed-loop harness: one caller runs a workload's operations back to back,
 * each starting only after the previous one returned, as a sync scheduler
 * does. Phases: set-up (SetupRounds rounds of session start plus one warm-up
 * operation; setup_s is their median), with input generation inside the first
 * round but timed apart (gen_s), a workload's fixed number of untimed
 * settle operations, then the timed loop for `--seconds`. With `--trace 1` every other timed operation is
 * traced, so the untraced ones in between give the tracing overhead at the
 * same seed, state and JIT warmth.
 *
 * Writes one JSON object to `--out`: correct, attempted, failed, metrics and
 * a detail section with the run's stamp.
 */
object Main {
  private val SetupRounds = 3
  private val MinOps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val scale = a.getOrElse("scale", "full")
    val work = Paths.get(a("work"))
    val cores = Runtime.getRuntime.availableProcessors()
    val workload = Workloads(name, seed, Scale(scale), work, cores, seconds)
    val load0 = loadavg()
    val tracer = new Tracer

    // Set-up round r: session start, then one warm-up operation. Round 1
    // starts the JVM's first session and generates the inputs in between;
    // generation is timed on its own (gen_s) and left out of the round.
    var spark: SparkSession = null
    var genS = 0.0
    val rounds = ArrayBuffer.empty[Double]
    var runner: Runner = null
    for (round <- 1 to SetupRounds) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.local(cores, s"graftbench-$name")
      val started = since(t0)
      if (round == 1) {
        val g0 = System.nanoTime()
        workload.generate(spark)
        genS = since(g0)
      }
      runner = workload.open(spark, tracer)
      require(runner.prepare(), "inputs ran out during set-up")
      val w0 = System.nanoTime()
      val check = runner.op()
      val warm = since(w0)
      rounds += started + warm
      log(f"set-up round $round: session $started%.2f s, warm-up $warm%.2f s" +
        (if (round == 1) f", inputs generated in $genS%.2f s" else ""))
      val o = check()
      require(o.errors.isEmpty, s"warm-up operation failed its check: ${o.errors.mkString("; ")}")
    }

    // Settle: a fixed number of untimed operations on the final session, so
    // that the timed loop starts at the same JIT state on a fast or a slow
    // host. The driver-side planning code runs only a few times per
    // operation; the JIT keeps compiling it for dozens of operations.
    var settleOps = 0
    while (settleOps < workload.settleOps && runner.prepare()) {
      val o = runner.op()()
      require(o.errors.isEmpty, s"settle operation failed its check: ${o.errors.mkString("; ")}")
      settleOps += 1
    }

    val sc = spark.sparkContext
    val meter = new SparkMeter
    val samples = ArrayBuffer.empty[Sample]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while ((System.nanoTime() < deadline || samples.size < MinOps) && runner.prepare()) {
      val traced = trace && i % 2 == 0
      if (traced) {
        sc.addSparkListener(meter)
        sc.setLocalProperty(SparkMeter.OpKey, i.toString)
        tracer.op = i
        tracer.on = true
      }
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val check = Try(tracer.span("op")(runner.op()))
      val dt = since(t0)
      val ms1 = System.currentTimeMillis()
      if (traced) {
        tracer.on = false
        sc.setLocalProperty(SparkMeter.OpKey, null)
        BenchBus.drain(sc)
        sc.removeSparkListener(meter)
      }
      val outcome = check.flatMap(c => Try(c())) match {
        case Success(o) => o
        case Failure(e) => Outcome(0L, Seq(s"operation threw: $e"), Map.empty)
      }
      samples += Sample(i, dt, traced, ms0, ms1, outcome)
      i += 1
    }

    val times = samples.map(_.seconds).toSeq
    val failed = samples.count(_.outcome.errors.nonEmpty)
    val metrics: Seq[(String, Double, String)] =
      if (trace) layerMetrics(samples.toSeq, tracer, meter, workload, cores)
      else Seq(
        ("setup_s", median(rounds.toSeq), "s"),
        ("op_s.p50", median(times), "s"),
        // the median operation's rate, so one stalled operation does not move it
        ("rows_per_s", median(samples.map(s => s.outcome.rows / s.seconds).toSeq), "rows/s"),
        ("retained_mb", retainedMb(spark), "MB"))

    val runtime = ManagementFactory.getRuntimeMXBean
    val detail = Map[String, Any](
      "workload" -> name, "seed" -> seed, "scale" -> scale, "trace" -> trace, "seconds" -> seconds,
      "nproc" -> cores, "loadavg_start" -> load0, "loadavg_end" -> loadavg(),
      "jvm" -> s"${runtime.getVmName} ${runtime.getVmVersion}",
      "jvm_flags" -> runtime.getInputArguments.asScala.toSeq,
      "sizes" -> workload.sizes,
      "ops" -> Map("generate" -> 1, "warm_up" -> SetupRounds, "settle" -> settleOps, "timed" -> samples.size,
        "traced" -> samples.count(_.traced), "failed" -> failed),
      "gen_s" -> genS,
      "setup_rounds_s" -> rounds.toSeq,
      "op_s.samples" -> times.size,
      "op_s.p50" -> median(times),
      "op_s.all" -> times,
      "failed_share" -> failed.toDouble / samples.size,
      "errors" -> samples.flatMap(s => s.outcome.errors.map(e => s"op ${s.index}: $e")).take(20).toSeq) ++
      // a p90 needs ten samples beyond it
      (if (times.size >= 100) Map("op_s.p90" -> quantile(times, 0.9)) else Map.empty) ++
      (if (trace) Map(
        "op_s.p50_traced" -> median(samples.filter(_.traced).map(_.seconds).toSeq),
        "op_s.p50_untraced" -> median(samples.filterNot(_.traced).map(_.seconds).toSeq),
        "spans" -> tracer.spans.size) else Map.empty)

    val result = Map[String, Any](
      "correct" -> (failed == 0),
      "attempted" -> samples.size,
      "failed" -> failed,
      "metrics" -> metrics.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "detail" -> detail)
    a.get("spans").filter(_ => trace).foreach(p => writeSpans(p, tracer))
    Files.write(Paths.get(a("out")), json(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Per-layer metrics from the traced operations; times and counts are per
    * traced operation, ratios are over all of them. */
  private def layerMetrics(samples: Seq[Sample], tracer: Tracer, meter: SparkMeter,
                           workload: Workload, cores: Int): Seq[(String, Double, String)] = {
    val traced = samples.filter(_.traced)
    val untraced = samples.filterNot(_.traced)
    val n = traced.size.toDouble
    val spansByOp = tracer.spans.groupBy(_.op)
    def spans(s: Sample, prefix: String) = spansByOp.getOrElse(s.index, Nil).filter(_.name.startsWith(prefix))
    def perOp(f: Sample => Double) = traced.map(f).sum / n
    def spanSeconds(prefix: String) = perOp(s => spans(s, prefix).map(_.seconds).sum)
    def counter(k: String) = perOp(_.outcome.counters.getOrElse(k, 0.0))
    def spark(f: OpSpark => Double) = perOp(s => f(meter.of(s.index)))
    val wall = traced.map(_.seconds).sum
    val untracedP50 = median(untraced.map(_.seconds))

    Seq(
      ("sync.self_s", perOp(s => spans(s, "sync.").map(tracer.selfSeconds).sum), "s"),
      ("sync.chunks", counter("sync.chunks"), "count"),
      ("sync.rows_in", counter("sync.rows_in"), "rows"),
      ("sync.rows_invalid", counter("sync.rows_invalid"), "rows"),
      ("sinks.push_s", spanSeconds("sinks.push"), "s"),
      ("sinks.send_busy_s", counter("sinks.send_busy_s"), "s"),
      ("sinks.rows_sent", counter("sinks.rows_sent"), "rows"),
      ("sinks.rows_failed", counter("sinks.rows_failed"), "rows"),
      ("sinks.retries", counter("sinks.retries"), "count"),
      ("sinks.wire_bytes", counter("sinks.wire_bytes"), "bytes"),
      ("sinks.batches", counter("sinks.batches"), "count"),
      ("state.calls", perOp(s => spans(s, "state.").size.toDouble), "count"),
      ("state.busy_s", spanSeconds("state."), "s"),
      ("state.file_bytes", workload.stateBytes.toDouble, "bytes"),
      ("operators.minhash_pairs_s", spanSeconds("operators.minhashPairs"), "s"),
      ("operators.resolve_clusters_s", spanSeconds("operators.resolveClusters"), "s"),
      ("operators.pairs_out", counter("operators.pairs_out"), "count"),
      ("operators.recall", counter("operators.recall"), "ratio"),
      ("spark.jobs_per_op", spark(_.jobs.toDouble), "count"),
      ("spark.tasks_per_op", spark(_.tasks.toDouble), "count"),
      ("spark.no_job_s", perOp(s => meter.of(s.index).noJobMs(s.ms0, s.ms1) / 1e3), "s"),
      ("spark.task_busy_s", spark(_.runNs / 1e9), "s"),
      ("spark.core_util", traced.map(s => meter.of(s.index).runNs / 1e9).sum / (wall * cores), "ratio"),
      ("spark.shuffle_write_bytes", spark(_.shuffleWrite.toDouble), "bytes"),
      ("spark.shuffle_read_bytes", spark(_.shuffleRead.toDouble), "bytes"),
      ("spark.output_bytes", spark(_.output.toDouble), "bytes"),
      ("spark.spill_bytes", spark(_.spill.toDouble), "bytes"),
      ("spark.gc_s", spark(_.gcMs / 1e3), "s"),
      ("trace.overhead", if (untracedP50 > 0) median(traced.map(_.seconds)) / untracedP50 - 1 else 0.0, "ratio"))
  }

  /** Heap still in use after full collections, plus what Spark's block
    * manager holds. Spark drops the blocks of unreachable datasets on its
    * cleaner thread after a collection, so collect until the block total
    * holds still (at most 3 s). */
  private def retainedMb(spark: SparkSession): Double = {
    val sc = spark.sparkContext
    def blocks = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum +
      sc.getRDDStorageInfo.map(_.diskSize).sum
    var last = -1L
    var now = blocks
    var tries = 0
    while (now != last && tries < 30) {
      System.gc()
      Thread.sleep(100)
      last = now
      now = blocks
      tries += 1
    }
    System.gc()
    (ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed + now) / (1024.0 * 1024.0)
  }

  private def writeSpans(path: String, tracer: Tracer): Unit = {
    val lines = tracer.spans.map(s => json(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
      "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    Files.write(Paths.get(path), lines.asJava, StandardCharsets.UTF_8)
  }

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def loadavg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linearly interpolated quantile; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  private def json(v: Any): String =
    org.json4s.jackson.Serialization.write(v.asInstanceOf[AnyRef])(org.json4s.DefaultFormats)
}
