package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.sources.GenTable

/** `lake_cdc`: a seeded stream of lake operations against one GenTable,
  * run by one closed-loop client. Each cycle applies one write op, reads
  * the table four ways and, every few commits, drains the table's change
  * feed into a replica through the `gentable-cdc` → `gentable` stream.
  */
object LakeCdc {
  private val Buckets = 16
  private val DrainEvery = 3        // source commits between replica drains
  // the vacuum keep window covers a full drain interval plus the readAt
  // look-back, so neither the stream nor time travel loses its commits
  private val KeepCommits = 2 * DrainEvery + 4
  private val ReadAtBack = 3
  private val CompactTarget = 1000000L

  private final case class Op(i: Int, kind: Char, file: String, seedRows: Long,
      count: Long, minIngest: Long, maxIngest: Long, eqKeys: Seq[Long],
      eqN: Long, eqSum: Long, rngLo: Long, rngHi: Long, rngN: Long, rngSum: Long)

  private val Cols = Seq(col("key").cast("long").as("key"),
    col("bucket").cast("int").as("bucket"), col("ingest_id").cast("long").as("ingest_id"),
    col("amount").cast("long").as("amount"), col("tag").cast("string").as("tag"))

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val src = s"${ctx.work}/lake/src"
    val rep = s"${ctx.work}/lake/replica"
    val ckpt = s"${ctx.work}/lake/ckpt"
    val ops = scala.io.Source.fromFile(s"${ctx.inputs}/ops.tsv").getLines().drop(1)
      .map(_.split("\t")).map { a =>
        Op(a(0).toInt, a(1)(0), a(2), a(3).toLong, a(4).toLong, a(5).toLong,
          a(6).toLong, a(7).split(",").map(_.toLong).toSeq, a(8).toLong, a(9).toLong,
          a(10).toLong, a(11).toLong, a(12).toLong, a(13).toLong)
      }.toIndexedSeq
    def batch(op: Op): DataFrame = spark.read.parquet(s"${ctx.inputs}/ops/${op.file}")
    val seed = spark.read.parquet(s"${ctx.inputs}/seed.parquet")

    // untimed set-up: seed the table and bootstrap the replica from the
    // same snapshot; its change feed starts at the seed commit
    val tSeed = System.nanoTime()
    GenTable.replaceAll(seed, src, "bucket", statsCols = Seq("ingest_id"),
      bloomCols = Seq("key"))
    GenTable.replaceAll(seed, rep, "bucket")
    val seedCommit = GenTable.readCommit(src).get.tableGen

    def drain(): Int = {
      val q = spark.readStream.format("gentable-cdc").option("keyCol", "key")
        .option("startingCommit", seedCommit.toString).load(src)
        .writeStream.format("gentable").option("mode", "cdc").option("keyCol", "key")
        .option("partitionCol", "bucket").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start(rep)
      q.awaitTermination()
      q.recentProgress.length
    }
    def sumOrZero(r: Row, i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)

    val expectedCount = mutable.Map(seedCommit -> ops(0).seedRows)
    val headHistory = mutable.ArrayBuffer(seedCommit)
    val pendingCommits = mutable.ArrayBuffer.empty[Double] // return instants
    var applied = 0
    ctx.phases("lake_seed_s") = (System.nanoTime() - tSeed) / 1e9

    /** Parquet data files under the table dir: path -> bytes. */
    def dataFiles(): Map[String, Long] = {
      def walk(f: File): Seq[File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
      walk(new File(src)).filter(f => f.getName.endsWith(".parquet") &&
        !f.getPath.contains("/_")).map(f => f.getPath -> f.length()).toMap
    }

    /** The four reads after a commit, each timed to a collected result
      * and checked against the generator's model of the table.
      */
    def reads(op: Op, headFiles: Double): Unit = {
      def read[T](what: String, layer: String)(body: => T): T = {
        val (r, s) = ctx.read(what, layer)(body)
        if (ctx.traced) ctx.layerSample(s"${what.replace("GenTable.", "gentable.")}_s", s)
        r
      }
      def filesRead(df: DataFrame): Unit =
        if (ctx.traced && headFiles > 0)
          ctx.layerSample("fileindex.files_read_ratio", df.inputFiles.length / headFiles)

      val eq = read("GenTable.readEquals", "fileindex") {
        val df = GenTable.readEquals(spark, src, "key", op.eqKeys).get
        filesRead(df)
        df.agg(count(lit(1)), sum(col("amount"))).collect()(0)
      }
      ctx.check(s"op ${op.i} readEquals", eq.getLong(0) == op.eqN && sumOrZero(eq, 1) == op.eqSum,
        s"${eq.getLong(0)}/${sumOrZero(eq, 1)} != ${op.eqN}/${op.eqSum}")
      val rg = read("GenTable.readRanges", "fileindex") {
        val df = GenTable.readRanges(spark, src, Map("ingest_id" -> (op.rngLo, op.rngHi))).get
        filesRead(df)
        df.agg(count(lit(1)), sum(col("amount"))).collect()(0)
      }
      ctx.check(s"op ${op.i} readRanges", rg.getLong(0) == op.rngN && sumOrZero(rg, 1) == op.rngSum,
        s"${rg.getLong(0)}/${sumOrZero(rg, 1)} != ${op.rngN}/${op.rngSum}")
      val atId = headHistory(math.max(0, headHistory.length - 1 - ReadAtBack))
      val at = read("GenTable.readAt", "fileindex")(GenTable.readAt(spark, src, atId).get.count())
      ctx.check(s"op ${op.i} readAt $atId", at == expectedCount(atId),
        s"$at != ${expectedCount(atId)}")
      val agg = read("plans.metadata_agg", "plans") {
        spark.read.format("gentable").load(src).createOrReplaceTempView("lake_src")
        spark.sql("SELECT count(*), min(ingest_id), max(ingest_id) FROM lake_src").collect()(0)
      }
      ctx.check(s"op ${op.i} sql count/min/max",
        agg.getLong(0) == op.count && agg.getLong(1) == op.minIngest && agg.getLong(2) == op.maxIngest,
        s"${agg.getLong(0)}/${agg.getLong(1)}/${agg.getLong(2)} != " +
          s"${op.count}/${op.minIngest}/${op.maxIngest}")
    }

    def cycle(op: Op): Unit = {
      val before = if (ctx.traced) dataFiles() else Map.empty[String, Long]
      val name = op.kind match {
        case 'U' => "upsertBatch"
        case 'M' => "merge"
        case 'D' => "deleteKeys"
        case _ => "compact"
      }
      val (_, wS) = ctx.call(s"GenTable.$name", "gentable") {
        op.kind match {
          case 'U' => GenTable.upsertBatch(batch(op), src, "key", Seq("ingest_id"),
            "bucket", statsCols = Seq("ingest_id"), bloomCols = Seq("key"))
          case 'M' => GenTable.merge(batch(op), src, "key",
            deleteWhen = Some(col("amount") < 0), insertWhen = Some(col("amount") >= 0))
          case 'D' => GenTable.deleteKeys(batch(op), src, "key",
            pmod(col("key"), lit(Buckets)).cast("int"))
          case _ => GenTable.compact(spark, src, CompactTarget)
        }
      }
      applied = op.i
      pendingCommits += Trace.nowMs()
      if (ctx.warm) ctx.sample("commit_s", wS)
      if (ctx.traced) {
        ctx.layerSample(s"gentable.${name}_s", wS)
        val added = dataFiles() -- before.keySet
        ctx.layerSample("gentable.files_per_commit", added.size.toDouble)
        if (op.kind == 'U' || op.kind == 'M') {
          val batchBytes = new File(s"${ctx.inputs}/ops/${op.file}").length()
          ctx.layerSample("gentable.write_amp", added.values.sum.toDouble / batchBytes)
        }
      }
      if (op.kind == 'C') {
        val (_, vS) = ctx.call("GenTable.vacuum", "gentable")(GenTable.vacuum(src, KeepCommits))
        if (ctx.traced) ctx.layerSample("gentable.vacuum_s", vS)
      }

      val (head, hS) = ctx.call("GenTable.readCommit", "gentable")(GenTable.readCommit(src).get)
      if (ctx.traced) ctx.layerSample("gentable.readCommit_s", hS)
      expectedCount(head.tableGen) = op.count
      headHistory += head.tableGen

      reads(op, head.totalFiles.getOrElse(0L).toDouble)
      if (pendingCommits.length >= DrainEvery) replicate()
    }

    def replicate(): Unit = {
      val (batches, dS) = ctx.call("streaming.drain", "streaming")(drain())
      val done = Trace.nowMs()
      pendingCommits.foreach(t => ctx.layerSample("streaming.replica_lag_s", (done - t) / 1000.0))
      pendingCommits.clear()
      if (ctx.traced) {
        ctx.layerSample("streaming.drain_s", dS)
        ctx.layerSample("streaming.batches_per_drain", batches.toDouble)
      }
    }

    def runCycle(op: Op, warm: Boolean, traced: Boolean): Unit = {
      val firstSpan = ctx.trace.all.length
      val wall = ctx.unit(s"cycle ${op.i}", traced, warm) {
        ctx.guard(s"op ${op.i} ${op.kind}")(cycle(op))
      }
      if (!warm) ctx.sample("cold_job_s", wall) else ctx.sample("job_s", wall)
      if (traced) {
        val jobs = ctx.attachJobs()
        val perSpan = jobs.groupBy(_._2).map { case (k, v) => k -> v.map(_._1) }
        ctx.trace.all.drop(firstSpan).filter(s => s.layer != "spark" && s.layer != "bench")
          .foreach { s =>
            val n = perSpan.getOrElse(s.id, Nil).length
            ctx.opJobs += s"${op.i}:${s.name}" -> n
            ctx.layerSample(s"${s.name.replace("GenTable.", "gentable.")}.jobs", n.toDouble)
          }
        ctx.sparkTotals(jobs.map(_._1), wall)
      }
    }

    // op 1 is the cold cycle; rounds of the schedule follow, each holding
    // every write kind and ending with the compaction
    val roundLen = ops.indexWhere(_.kind == 'C')
    runCycle(ops(0), warm = false, traced = false)
    if (ctx.traceOn) {
      // one round traced; then the idempotent reads repeated untraced and
      // traced in turn for the tracing overhead
      ops.slice(1, 1 + roundLen).foreach(op => runCycle(op, warm = true, traced = true))
      val last = ops(roundLen)
      val files = GenTable.readCommit(src).get.totalFiles.getOrElse(0L).toDouble
      for (r <- 0 until 6) ctx.unit(s"reads $r", traced = r % 2 == 1) {
        ctx.guard(s"reads $r")(reads(last, files))
        if (r % 2 == 1) ctx.attachJobs()
      }
    } else {
      // the window runs whole rounds of the schedule, at least one, so every
      // run times the same op mix however many rounds fit
      val windowStart = System.nanoTime()
      var rounds = 0
      while (1 + (rounds + 1) * roundLen <= ops.length && ctx.failed == 0 &&
          ctx.more(windowStart, rounds, minSteps = 1, units = roundLen)) {
        ops.slice(1 + rounds * roundLen, 1 + (rounds + 1) * roundLen)
          .foreach(op => runCycle(op, warm = true, traced = false))
        rounds += 1
      }
    }

    // untimed end-of-run checks
    val tChk = System.nanoTime()
    ctx.guard("final drain")(if (pendingCommits.nonEmpty) replicate())
    val source = GenTable.read(spark, src).get.select(Cols: _*)
    val replica = GenTable.read(spark, rep).get.select(Cols: _*)
    /** Rows in one frame and not the other, both ways (EXCEPT ALL). */
    def diffRows(a: DataFrame, b: DataFrame): Long =
      a.exceptAll(b).unionAll(b.exceptAll(a)).count()
    val r = diffRows(replica, source)
    ctx.check("replica equals source", r == 0, s"$r rows differ")
    val p = diffRows(source, replay(spark, ctx.inputs, seed, ops.take(applied)))
    ctx.check("source equals replay", p == 0, s"$p rows differ")
    if (ctx.traceOn) {
      val referenced = GenTable.readCommit(src).get.totalBytes.getOrElse(0L).toDouble
      def bytes(f: File): Long =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bytes).sum else f.length()
      ctx.layerSample("gentable.space_amp", bytes(new File(src)) / referenced)
    }
    GenTable.vacuum(src, KeepCommits)
    val fsck = GenTable.fsck(src, KeepCommits)
    ctx.check("fsck clean", fsck.clean, fsck.toString.take(300))
    ctx.phases("final_checks_s") = (System.nanoTime() - tChk) / 1e9
  }

  /** The expected source table from plain Spark: the seed rows and every
    * applied op as keyed events, the latest event per key winning and
    * delete events removing the key.
    */
  private def replay(spark: org.apache.spark.sql.SparkSession, inputs: String,
      seed: DataFrame, applied: Seq[Op]): DataFrame = {
    val events = (seed.select(Cols: _*).withColumn("_seq", lit(0))
        .withColumn("_del", lit(false)) +:
      applied.filter(_.kind != 'C').map { op =>
        val b = spark.read.parquet(s"$inputs/ops/${op.file}")
        op.kind match {
          case 'D' => b.select(col("key").cast("long").as("key"),
              lit(null).cast("int").as("bucket"), lit(null).cast("long").as("ingest_id"),
              lit(null).cast("long").as("amount"), lit(null).cast("string").as("tag"))
            .withColumn("_seq", lit(op.i)).withColumn("_del", lit(true))
          case _ => b.select(Cols: _*).withColumn("_seq", lit(op.i))
            .withColumn("_del", col("amount") < 0)
        }
      }).reduce(_ unionByName _)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("key").orderBy(col("_seq").desc)
    events.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && !col("_del")).select(Cols: _*)
  }
}
