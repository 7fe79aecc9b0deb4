package graftbench

import org.apache.spark.sql.SparkSession

/** Checks of the benchmark's own arithmetic: the tail-percentile rule,
  * self time under overlapping children, job-to-span attribution through
  * the local property, the `idle_slot_s` / `driver_s` / write
  * amplification arithmetic on a synthetic listener event stream, and the
  * daily check's rejection of a duplicated score row. Exits non-zero on
  * the first failure.
  */
object SelfTest {

  private var checks = 0

  private def check(what: String, got: Any, want: Any): Unit = {
    val ok = (got, want) match {
      case (g: Double, w: Double) => math.abs(g - w) < 1e-9
      case _ => got == want
    }
    if (!ok) throw new AssertionError(s"$what: got $got, want $want")
    checks += 1
  }

  def run(): Unit = {
    percentileRule()
    selfTime()
    syntheticCounters()
    liveAttribution()
    duplicateScores()
    println(s"selftest: $checks checks passed")
  }

  private def percentileRule(): Unit = {
    check("tail level at n=208", Stats.tailLevel(208), 95)
    check("tail level at n=100", Stats.tailLevel(100), 90)
    check("tail level at n=40", Stats.tailLevel(40), 75)
    check("tail level with too few samples", Stats.tailLevel(10), 100)
    val xs = (1 to 208).map(_.toDouble)
    check("p95 leaves 10 beyond", xs.count(_ > Stats.percentile(xs, 95)), 10)
    check("p96 leaves fewer than 10", xs.count(_ > Stats.percentile(xs, 96)) < 10, true)
    check("nearest rank", Stats.percentile(Seq(5.0, 1.0, 3.0, 2.0, 4.0), 50), 3.0)
    check("max when unsupported", Stats.percentile(Seq(2.0, 7.0, 1.0), Stats.tailLevel(3)), 7.0)
    check("median of even count", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5)
  }

  private def selfTime(): Unit = {
    // parent 0..100 ms; children 10..40 and 30..60 overlap, 90..120 runs
    // past the parent's end: covered = 10..60 and 90..100 = 60 ms
    val spans = Seq(
      Span(1, 0, "parent", "l", 0, 100),
      Span(2, 1, "a", "l", 10, 40),
      Span(3, 1, "b", "l", 30, 60),
      Span(4, 1, "c", "l", 90, 120),
      Span(5, 3, "grandchild", "l", 35, 50))
    val self = Tracer.selfSeconds(spans)
    check("parent self time", self(1), 0.040)
    check("leaf self time", self(2), 0.030)
    check("child minus grandchild", self(3), 0.015)
  }

  private def syntheticCounters(): Unit = {
    // one 0..1000 ms span on 4 slots; jobs at 100..300 and 200..500
    // overlap (union 400 ms), 1.2 task-seconds in all
    val ledger = new JobLedger
    ledger.jobStarted(0, 100, Seq(10), span = 1)
    ledger.jobStarted(1, 200, Seq(11, 12), span = 1)
    ledger.taskEnded(10, failed = false, 0.5, 0.1, 1000000L, 0L)
    ledger.taskEnded(11, failed = true, 0.3, 0.2, 0L, 2000000L)
    ledger.taskEnded(12, failed = false, 0.4, 0.0, 0L, 0L, recordsWritten = 7L)
    ledger.jobEnded(0, 300)
    ledger.jobEnded(1, 500)
    ledger.jobStarted(2, 600, Seq(13), span = 0)
    ledger.taskEnded(13, failed = false, 9.0, 0.0, 0L, 0L)
    ledger.jobEnded(2, 700)
    val c = LayerCounters(Seq(Span(1, 0, "s", "layer", 0, 1000)), ledger.snapshot, nproc = 4)("layer")
    check("jobs", c("jobs"), 2.0)
    check("task_s", c("task_s"), 1.2)
    check("gc_s", c("gc_s"), 0.3)
    check("shuffle_write_mb", c("shuffle_write_mb"), 1.0)
    check("spill_mb", c("spill_mb"), 2.0)
    check("failed_tasks", c("failed_tasks"), 1.0)
    check("driver_s = span - job union", c("driver_s"), 0.6)
    check("idle_slot_s = union x nproc - task_s", c("idle_slot_s"), 0.4)
    check("unattributed job stays at span 0", ledger.snapshot(0).jobs, 1)
    check("records written follow the stage's job", ledger.snapshot(1).recordsWritten, 7L)
    val upserts = Seq(Span(1, 0, "features.upsert.household", "features", 0, 1000),
      Span(3, 0, "score.sink", "score", 0, 1000))
    val work = ledger.snapshot + (3 -> { val w = new SpanWork; w.recordsWritten = 100L; w })
    check("write amplification counts upsert spans only",
      Workload.writeAmplification(upserts, work, snapshotRows = 14L), 0.5)
    check("no snapshot, no amplification", Workload.writeAmplification(upserts, work, 0L), 0.0)
  }

  /** The daily check reads the unpivoted sink back; a key written twice
    * must fail it even when both rows carry the same score.
    */
  private def duplicateScores(): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    val root = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get("."), "selftest-")
    try {
      import spark.implicits._
      val day = java.time.LocalDate.parse("2020-01-31")
      def write(rows: Seq[(Long, String, Double)]): Unit =
        rows.toDF("household_key", "commodity_desc", "prediction")
          .withColumn("day", org.apache.spark.sql.functions.lit(java.sql.Date.valueOf(day)))
          .write.mode("overwrite").partitionBy("day").parquet(s"$root/propensities_unpivoted")
      write(Seq((1L, "a", 0.25), (2L, "a", 0.5)))
      check("distinct keys read back", Pipeline.sinkScores(spark, root.toString, day).size, 2)
      write(Seq((1L, "a", 0.25), (1L, "a", 0.25), (2L, "a", 0.5)))
      val dup = try { Pipeline.sinkScores(spark, root.toString, day); "accepted" }
        catch { case _: IllegalArgumentException => "rejected" }
      check("a duplicated key is rejected", dup, "rejected")
    } finally {
      spark.stop()
      val walk = java.nio.file.Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
      finally walk.close()
    }
  }

  private def liveAttribution(): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val sc = spark.sparkContext
      val ledger = new JobLedger
      sc.addSparkListener(ledger)
      val tr = new Tracer(sc, enabled = true)
      tr.span("a", "l")(sc.parallelize(1 to 10).count())
      tr.span("b", "l") {
        tr.span("c", "l")(sc.parallelize(1 to 10).count())
        sc.parallelize(1 to 10).count()
      }
      sc.parallelize(1 to 10).count()
      ListenerBus.drain(sc)
      val w = ledger.snapshot
      val id = tr.spans.map(s => s.name -> s.id).toMap
      check("job in a", w(id("a")).jobs, 1)
      check("job in nested c", w(id("c")).jobs, 1)
      check("job in b after c ended", w(id("b")).jobs, 1)
      check("job outside spans", w.get(0).map(_.jobs).getOrElse(0), 1)
      check("property cleared after the outer span", sc.getLocalProperty(Tracer.SpanProperty), null)
      check("c is b's child", tr.spans.find(_.name == "c").map(_.parent), Some(id("b")))
    } finally spark.stop()
  }
}
