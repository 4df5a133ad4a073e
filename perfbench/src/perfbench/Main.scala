package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Benchmark harness: one JVM per run, one closed-loop client.
  *
  * {{{
  * perfbench.Main --mode run|ledger --workload corpus_prep|lake_cdc
  *   --cores N --inputs DIR --work DIR --out FILE --seconds S --trace 0|1
  * }}}
  *
  * The result file holds the set-up time, from the JVM's start until
  * `Sessions.local` returns. `run` then runs
  * the workload and writes its raw samples, checks and (with `--trace 1`)
  * per-layer numbers and spans. `ledger` is the job-ledger self-test. The
  * engine is called only through its public API; every measurement is
  * taken from outside it.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val spark = graft.Sessions.local("perfbench", args("cores").toInt)
    val out: Out = mutable.LinkedHashMap("setup_s" ->
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0)
    try args.getOrElse("mode", "run") match {
      case "ledger" => LedgerSelfTest.run(spark, out)
      case "run" =>
        val ctx = new Ctx(spark, args)
        args("workload") match {
          case "corpus_prep" => CorpusPrep.run(ctx)
          case "lake_cdc" => LakeCdc.run(ctx)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        ctx.report(out)
    } catch {
      case e: Throwable => e.printStackTrace()   // into the run's JVM log
    } finally {
      Files.writeString(Paths.get(args("out")), mapper.writeValueAsString(out))
      // the run is over: skip the session's shutdown work
      Runtime.getRuntime.halt(0)
    }
  }

  /** The result file's fields, written as one JSON object. */
  type Out = mutable.LinkedHashMap[String, Any]
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
}

/** State of one benchmark run: the closed-loop clock, the correctness
  * ledger, the end-to-end samples and, when tracing, the spans and the
  * per-layer samples.
  */
final class Ctx(val spark: SparkSession, args: Map[String, String]) {
  val sc = spark.sparkContext
  val inputs: String = args("inputs")
  val work: String = args("work")
  val seconds: Double = args("seconds").toDouble
  val traceOn: Boolean = args("trace") == "1"
  private val ledger = new Ledger
  val trace = new Trace(s"${args("workload")}-seed${args("seed")}")

  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val layer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Untimed phases (set-up, checks), reported beside the metrics. */
  val phases = mutable.LinkedHashMap.empty[String, Double]
  private val unitSpans = mutable.ArrayBuffer.empty[Int]
  private val warmWalls = mutable.ArrayBuffer.empty[Double]
  /** Per traced op: (span name, Spark jobs) in run order. */
  val opJobs = mutable.ArrayBuffer.empty[(String, Int)]
  private var storagePeakMb = 0.0
  private var attachedJobs = 0
  private var tracing = false
  private var inWarmUnit = false
  /** Every call of a warm unit: (name, traced, seconds). */
  private val callLog = mutable.ArrayBuffer.empty[(String, Boolean, Double)]
  def traced: Boolean = tracing
  def warm: Boolean = inWarmUnit

  def sample(name: String, v: Double): Unit =
    e2e.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def layerSample(name: String, v: Double): Unit =
    layer.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** One checked outcome; a wrong output counts as a failed op. */
  def check(what: String, ok: Boolean, detail: => String = ""): Boolean = {
    attempted += 1
    if (!ok) { failed += 1; failures += s"$what $detail".trim }
    ok
  }

  /** An op that threw counts as attempted and failed. */
  def guard[T](what: String)(body: => T): Option[T] =
    try Some(body) catch {
      case e: Exception =>
        attempted += 1; failed += 1
        failures += s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }

  /** Whether the closed loop starts another step of `units` units: always
    * for the first `minSteps`, then while one more step of units of the
    * median length still fits in the time window.
    */
  def more(windowStartNs: Long, done: Int, minSteps: Int, units: Int = 1): Boolean = {
    val walls = warmWalls.sorted
    val typical = if (walls.isEmpty) 0.0 else walls(walls.length / 2)
    done < minSteps ||
      (System.nanoTime() - windowStartNs) / 1e9 + units * typical <= seconds
  }

  /** Runs one unit of work (a pipeline run, a lake cycle). With tracing
    * on, the ledger listener is attached and spans are recorded for the
    * unit's duration only, so the calls of traced and untraced units of
    * one run give the tracing overhead. Returns the unit's wall seconds.
    */
  def unit(name: String, traced: Boolean, warm: Boolean = true)(body: => Unit): Double = {
    tracing = traced
    inWarmUnit = warm
    if (traced) sc.addSparkListener(ledger)
    val sid = if (traced) trace.begin(name, "bench") else -1
    val t0 = System.nanoTime()
    var wall = 0.0
    try body finally {
      wall = (System.nanoTime() - t0) / 1e9
      if (warm) warmWalls += wall
      if (traced) {
        trace.end(sid)
        if (warm) unitSpans += sid
        ledger.await()
        sc.removeSparkListener(ledger)
        sampleStorage()
      }
      tracing = false
      inWarmUnit = false
    }
    wall
  }

  /** Times one call into a layer. In a traced unit it also records the
    * call's span and books the Spark jobs it submits under that span.
    */
  def call[T](name: String, layer: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    if (!tracing) {
      val r = body
      val s = (System.nanoTime() - t0) / 1e9
      if (inWarmUnit) callLog += ((name, false, s))
      (r, s)
    } else {
      val sid = trace.begin(name, layer)
      val prev = sc.getLocalProperty(Ledger.LabelKey)
      sc.setLocalProperty(Ledger.LabelKey, sid.toString)
      try {
        val r = body
        val s = (System.nanoTime() - t0) / 1e9
        callLog += ((name, true, s))
        (r, s)
      } finally {
        sc.setLocalProperty(Ledger.LabelKey, prev)
        trace.end(sid)
      }
    }
  }

  /** A read, timed to its collected result; a warm unit's reads are
    * pooled into `read_s`.
    */
  def read[T](name: String, layer: String)(body: => T): (T, Double) = {
    val r = call(name, layer)(body)
    if (inWarmUnit) sample("read_s", r._2)
    r
  }

  /** Books the jobs of the last traced unit as spans under the span
    * `parentOf` picks (by default the call that submitted them), and
    * returns them with their parent span ids.
    */
  def attachJobs(parentOf: Ledger.Job => Int = labelParent): Seq[(Ledger.Job, Int)] = {
    ledger.await()
    val js = ledger.snapshot().drop(attachedJobs)
    attachedJobs += js.length
    js.map { j =>
      val p = parentOf(j)
      trace.add(p, s"job ${j.id}", "spark", j.start.toDouble,
        math.max(j.start, j.end).toDouble)
      j -> p
    }
  }

  def labelParent(j: Ledger.Job): Int =
    j.label.toIntOption.getOrElse(if (unitSpans.isEmpty) -1 else unitSpans.last)

  /** Spark-level per-layer samples of one traced unit. */
  def sparkTotals(jobs: Seq[Ledger.Job], wallS: Double): Unit =
    Ledger.totals(jobs, (wallS * 1000).toLong).foreach { case (k, v) =>
      layerSample(k, v)
    }

  /** Storage memory in use after a traced unit. Frames the engine leaves
    * pinned are its cost: they show here and are never swept between ops.
    */
  private def sampleStorage(): Unit = {
    val used = sc.getExecutorMemoryStatus.values.map { case (mx, free) => mx - free }.sum
    storagePeakMb = math.max(storagePeakMb, used / 1048576.0)
  }

  def report(out: Main.Out): Unit = {
    out("attempted") = attempted
    out("failed") = failed
    out("failures") = failures
    out("e2e") = e2e
    out("phases") = phases
    out("peak_rss_mb") = Stats.vmHwmMb()
    if (traceOn) {
      layerSample("spark.persisted_rdds_live", sc.getPersistentRDDs.size.toDouble)
      layerSample("spark.storage_mem_peak_mb", storagePeakMb)
      val med = (xs: Seq[Double]) => if (xs.isEmpty) 0.0 else Stats.median(xs)
      // tracing overhead: the same calls timed traced and untraced within
      // this run, as the median over call names of the ratio of medians
      val ratios = callLog.groupBy(_._1).values.flatMap { cs =>
        val (on, off) = cs.partition(_._2)
        if (on.isEmpty || off.isEmpty) None
        else Some(med(on.map(_._3).toSeq) / med(off.map(_._3).toSeq))
      }.toSeq
      if (ratios.nonEmpty) layerSample("trace.overhead_ratio", med(ratios) - 1.0)
      val roots = unitSpans.toSet
      val n = math.max(1, roots.size)
      trace.selfMsByLayer(roots).foreach { case (l, ms) =>
        layerSample(s"trace.self.${l}_s", ms / 1000.0 / n)
      }
      layerSample("trace.spans", trace.all.length.toDouble)
      out("layers") = layer.map { case (k, v) => k -> med(v.toSeq) }
      out("op_jobs") = opJobs.map { case (n, j) => s"$n=$j" }
      out("overhead_calls") = ratios.length
      out("spans") = trace.toJsonLines
    }
  }
}

object Stats {
  /** The process's peak resident set (VmHWM), in MB. */
  def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
