package perfbench

import org.apache.spark.sql.SparkSession

/** Self-test of the job ledger: a known sequence of RDD actions must book
  * exactly the jobs, stages and tasks it runs, under the right labels.
  */
object LedgerSelfTest {
  def run(spark: SparkSession, out: Main.Out): Unit = {
    val sc = spark.sparkContext
    val ledger = new Ledger
    sc.addSparkListener(ledger)
    def labelled(label: String)(body: => Unit): Unit = {
      sc.setLocalProperty(Ledger.LabelKey, label)
      try body finally sc.setLocalProperty(Ledger.LabelKey, null)
    }
    val rdd = sc.parallelize(1 to 100, 4)
    labelled("a")(rdd.count())                       // 1 job, 1 stage, 4 tasks
    labelled("b") { rdd.collect(); rdd.sum() }       // 2 jobs, 2 stages, 8 tasks
    labelled("c")(rdd.map(x => (x % 3, x)).reduceByKey(_ + _, 2).collect())
                                                     // 1 job, 2 stages, 6 tasks
    ledger.await()
    sc.removeSparkListener(ledger)
    val js = ledger.snapshot()
    Seq("a", "b", "c").foreach { l =>
      val mine = js.filter(_.label == l)
      out(l) = Map("jobs" -> mine.size, "stages" -> mine.map(_.stages).sum,
        "tasks" -> mine.map(_.tasks).sum)
    }
  }
}
