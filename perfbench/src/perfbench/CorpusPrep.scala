package perfbench

import org.apache.spark.sql.functions._
import graft.runner.PipelineRunner

/** `corpus_prep`: the 19-stage training-corpus pipeline
  * (`PipelineRunner.corpusPrepStages`) over seeded documents, run back to
  * back by one client. Each run is followed by a downstream consumer that
  * reads the published outputs five times over.
  */
object CorpusPrep {
  private val ReadRounds = 5

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val expect = scala.io.Source.fromFile(s"${ctx.inputs}/expect.tsv")
      .getLines().map(_.split("\t")).map(a => a(0) -> a(1)).toMap
    val distinct = expect("distinct_texts").toLong
    val probe = expect("probe_term")
    val out = s"${ctx.work}/corpus_out"
    val cfg = PipelineRunner.EngineConfig("bench", ctx.inputs, out)
    val stages = PipelineRunner.corpusPrepStages()

    /** One pipeline run and its consumer reads; checks both. */
    def pipeline(name: String, warm: Boolean): Unit = {
      val runStart = Trace.nowMs()
      val (results, wall) = ctx.call("PipelineRunner.run", "runner") {
        PipelineRunner.run(spark, cfg, stages)
      }
      ctx.check(s"$name stages ok", results.forall(_.status == "ok"),
        results.filter(_.status != "ok").map(r => s"${r.stage}=${r.status}").mkString(","))
      val rows = results.map(r => r.stage -> r.rows).toMap
      ctx.check(s"$name exact_dedup rows", rows("exact_dedup") == distinct,
        s"${rows("exact_dedup")} != $distinct")
      if (!warm) { ctx.sample("cold_job_s", wall); return }
      ctx.sample("job_s", wall)
      results.foreach(r => ctx.sample("commit_s", r.millis / 1000.0))
      for (_ <- 1 to ReadRounds) consumerReads(rows)
      if (ctx.traced) traceStages(results, runStart)
    }

    /** Runner stage spans, rebuilt from `StageResult.millis` laid end to
      * end from the run's start; each Spark job of the run goes to the
      * stage whose window holds its start, the consumer's to its read.
      */
    def traceStages(results: Seq[PipelineRunner.StageResult], runStart: Double): Unit = {
      val runSpan = ctx.trace.all.filter(_.name == "PipelineRunner.run").last.id
      var t = runStart
      val windows = results.map { r =>
        val s = ctx.trace.add(runSpan, r.stage, "runner", t, t + r.millis)
        t += r.millis
        (r.stage, s, ctx.trace.get(s))
      }
      val jobs = ctx.attachJobs { j =>
        if (j.label != runSpan.toString) ctx.labelParent(j)
        else windows.find(w => j.start >= w._3.start && j.start < w._3.end)
          .map(_._2).getOrElse(runSpan)
      }
      windows.zip(results).foreach { case ((stage, sid, _), r) =>
        val n = jobs.count(_._2 == sid)
        ctx.layerSample(s"runner.${stage}_s", r.millis / 1000.0)
        ctx.layerSample(s"runner.$stage.jobs", n.toDouble)
        ctx.opJobs += stage -> n
      }
      ctx.sparkTotals(jobs.map(_._1), (Trace.nowMs() - runStart) / 1000.0)
    }

    /** A downstream consumer of the published outputs, timed to collected
      * results and checked against the run's own stage results.
      */
    def consumerReads(rows: Map[String, Long]): Unit = {
      def read[T](what: String)(body: => T): T = ctx.read(s"read $what", "bench")(body)._1
      val exact = read("exact_dedup")(spark.read.parquet(s"$out/exact_dedup").count())
      ctx.check("read exact_dedup", exact == distinct, s"$exact != $distinct")
      val stats = read("corpus_stats")(spark.read.parquet(s"$out/corpus_stats")
        .agg(sum(col("n_docs"))).collect()(0).getLong(0))
      ctx.check("read corpus_stats", stats == rows("lm_gate"),
        s"$stats != ${rows("lm_gate")}")
      val hits = read("term_index")(spark.read.parquet(s"$out/term_index")
        .filter(col("term") === probe).select("doc_id").collect().length.toLong)
      ctx.check("read term_index", hits > 0 && hits <= rows("lm_gate"),
        s"$hits docs for '$probe'")
      val train = read("train_decontaminated")(
        spark.read.parquet(s"$out/train_decontaminated").count())
      ctx.check("read train_decontaminated", train == rows("train_decontaminated"),
        s"$train != ${rows("train_decontaminated")}")
    }

    val t0 = System.nanoTime()
    ctx.unit("cold run", traced = false, warm = false)(pipeline("run 0", warm = false))
    ctx.phases("cold_unit_s") = (System.nanoTime() - t0) / 1e9
    val windowStart = System.nanoTime()
    var done = 0
    // traced runs alternate with untraced ones so one run gives the
    // per-layer numbers and the tracing overhead; at least one of each
    val minUnits = if (ctx.traceOn) 2 else 1
    while (ctx.more(windowStart, done, minUnits)) {
      val traced = ctx.traceOn && done % 2 == 1
      ctx.unit(s"run ${done + 1}", traced)(pipeline(s"run ${done + 1}", warm = true))
      done += 1
    }
  }
}
