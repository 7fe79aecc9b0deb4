package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.LocalDate
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Catalog, GraftSession, SilverStore}
import graft.features.{FeatureBuilder, FeatureTable}
import graft.labels.LabelBuilder
import graft.ops.{Commodities, ModelEval}
import graft.pipeline.{PipelineConfig, PropensityPipeline}
import graft.score.{MergeWriter, Scorer}
import graft.silver.TransactionsAdj
import graft.train.{PropensityTrainer, TrainingSetBuilder}

/** Options passed by `perfbench/run.py` as `key=value` arguments. */
final case class Opts(kv: Map[String, String]) {
  def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing option $k"))
  def int(k: String): Int = apply(k).toInt
  def workload: String = apply("workload")
  def seed: Long = apply("seed").toLong
  def seconds: Double = apply("seconds").toDouble
  def traced: Boolean = apply("trace") == "1"
  def data: String = apply("data")
  def state: String = apply("state")
  def nproc: Int = int("nproc")
  def commodities: Int = int("commodities")
  def maxDepth: Int = int("max_depth")
  def maxIter: Int = int("max_iter")
  def stepSize: Double = apply("step_size").toDouble
  def aucFloor: Double = apply("auc_floor").toDouble
  def weeklyFeatures: Int = int("weekly_features")
}

/** Benchmark entry point. Modes:
  *  - `prep`: run the pipeline's init, narrow a copy of its feature store
  *    for the weekly job, run one reference weekly job and one reference
  *    daily job, check them and keep the resulting state (both feature
  *    stores, the Production models, both score sinks) for `pipeline`;
  *  - `run`: one run of a workload, writing its result file;
  *  - `rows`: print each suite query's row count (to commit expected rows);
  *  - `timings`: time every query of `SparkEntry.queries`, cold then warm
  *    (the evidence the suite slice is chosen from);
  *  - `selftest`: the benchmark's own arithmetic checks.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val o = Opts(args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap)
    o("mode") match {
      case "selftest" => SelfTest.run()
      case "prep" => withSession(o)(s => Pipeline.prep(s, o))
      case "rows" => withSession(o)(s => Suite.printRows(s, o))
      case "timings" => withSession(o)(s => Suite.printTimings(s, o))
      case "run" => withSession(o)(s => run(s, o))
      case m => sys.error(s"unknown mode $m")
    }
  }

  private def withSession(o: Opts)(f: SparkSession => Unit): Unit = {
    val spark = GraftSession.builder(s"local[${o.nproc}]", o.nproc).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SilverStore.enable()
    try f(spark) finally spark.stop()
  }

  /** Resident-set high-water mark of this JVM, in MB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  /** Seconds since this JVM started. */
  def sinceJvmStart: Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def run(spark: SparkSession, o: Opts): Unit = {
    val ledger = new JobLedger
    if (o.traced) spark.sparkContext.addSparkListener(ledger)
    val tr = new Tracer(spark.sparkContext, o.traced)
    val out: Workload.Result = o.workload match {
      case "pipeline" => Pipeline.run(spark, o, tr)
      case "suite" => Suite.run(spark, o, tr)
      case w => sys.error(s"unknown workload $w")
    }
    if (o.traced) ListenerBus.drain(spark.sparkContext)
    val perLayer = if (o.traced) Workload.perLayer(tr.spans, ledger.snapshot, o.nproc, out) else Map.empty
    val endToEnd = Map(
      "setup_s" -> out.setupSeconds,
      "work_s" -> Stats.median(out.workSeconds),
      "op_p50_s" -> Stats.median(out.opSeconds),
      "peak_rss_mb" -> peakRssMb)
    val tailLevel = Stats.tailLevel(out.opSeconds.size)
    Json.write(o("out"), Map(
      "attempted" -> out.attempted,
      "failed" -> out.failures.size,
      "failures" -> out.failures,
      "end_to_end" -> endToEnd,
      "per_layer" -> perLayer,
      "samples" -> Map(
        "work_s" -> out.workSeconds,
        "op_s" -> out.opSeconds,
        "op_tail" -> Map("level" -> tailLevel, "seconds" -> Stats.percentile(out.opSeconds, tailLevel))),
      "info" -> out.info,
      "spans" -> tr.spans,
      "span_self_s" -> Tracer.selfSeconds(tr.spans).map { case (id, v) => id.toString -> v }))
  }
}

/** What a workload run hands back: its samples, its failures (op name and
  * reason), and the units the per-layer figures are normalised by.
  */
object Workload {
  final case class Result(
      setupSeconds: Double,
      workSeconds: Seq[Double],
      opSeconds: Seq[Double],
      attempted: Int,
      failures: Seq[String],
      workUnits: Int,
      info: Map[String, Any],
      snapshotRows: Long = 0L)

  val setupLayers: Set[String] = Set("setup", "catalog", "silver", "ops")

  /** Class and message of an exception's root cause (the cause walk is
    * capped: a cyclic chain would not end).
    */
  def rootCause(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(32).toSeq.last
    s"${root.getClass.getSimpleName}: ${String.valueOf(root.getMessage).take(200)}"
  }

  /** Layers the per-layer counters are reported for. */
  val counterLayers: Seq[String] = Seq("silver", "features", "labels", "train", "score")

  val modules: Seq[(String, Seq[graft.QueryRegistry.Entry])] = {
    import graft.queriesdef._
    Seq("CoreQueries" -> CoreQueries.entries, "FeatureQueries" -> FeatureQueries.entries,
      "TrainScoreQueries" -> TrainScoreQueries.entries, "EvalQueries" -> EvalQueries.entries,
      "AnalyticsQueries" -> AnalyticsQueries.entries, "CausalQueries" -> CausalQueries.entries,
      "TextQueries" -> TextQueries.entries, "SimilarityQueries" -> SimilarityQueries.entries,
      "EventQueries" -> EventQueries.entries)
  }

  val timedCalls: Seq[String] = Seq("silver.materialize", "ops.commodities",
    "features.bounds") ++
    Seq("build", "upsert").flatMap(k =>
      Seq("household", "commodity", "household_commodity").map(g => s"features.$k.$g")) ++
    Seq("labels.build", "train.training_set", "train.fit", "train.evaluate",
      "train.model_store") ++
    Seq("score.spine", "score.transform", "score.merge", "score.sink")

  /** Every per-layer metric, for any workload: a layer the workload does
    * not touch reads 0. Set-up layers are per run, all other layers per
    * unit of work (daily job or suite pass).
    */
  def perLayer(spans: Seq[Span], work: Map[Int, SpanWork], nproc: Int, r: Result)
      : Map[String, Double] = {
    def per(layer: String): Double = if (setupLayers(layer)) 1.0 else r.workUnits.toDouble
    val callSeconds = spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(_.seconds).sum }
    val calls = timedCalls.map { n =>
      val metric = n.split('.') match {
        case Array(layer, call, grain) => s"$layer.${call}_s.$grain"
        case Array(layer, call) => s"$layer.${call}_s"
      }
      metric -> callSeconds.getOrElse(n, 0.0) / per(n.takeWhile(_ != '.'))
    }
    val counters = LayerCounters(spans, work, nproc)
    def counter(layer: String, c: String): Double =
      counters.get(layer).map(_(c)).getOrElse(0.0) / per(layer)
    val layerCounters = for (l <- counterLayers; c <- LayerCounters.names)
      yield s"$l.$c" -> counter(l, c)
    val moduleMetrics = modules.map(_._1).flatMap { m =>
      val layer = s"queriesdef.$m"
      def phase(p: String) = spans.filter(s => s.layer == layer && s.name == p)
        .map(_.seconds).sum / per(layer)
      Seq(s"$layer.construct_s" -> phase("construct"), s"$layer.plan_s" -> phase("plan"),
        s"$layer.exec_s" -> phase("exec")) ++
        Seq("jobs", "gc_s", "spill_mb", "idle_slot_s").map(c => s"$layer.$c" -> counter(layer, c))
    }
    (calls ++ layerCounters ++ moduleMetrics :+
      ("features.write_amplification" -> writeAmplification(spans, work, r.snapshotRows))).toMap
  }

  /** Rows the feature upserts wrote (their tasks' output records) ÷ rows
    * of the snapshots they made; 0 when the workload made no snapshot.
    */
  def writeAmplification(spans: Seq[Span], work: Map[Int, SpanWork], snapshotRows: Long): Double =
    if (snapshotRows <= 0) 0.0
    else spans.filter(_.name.startsWith("features.upsert."))
      .map(s => work.get(s.id).map(_.recordsWritten).getOrElse(0L)).sum.toDouble / snapshotRows
}

/** The paper's weekly and daily jobs on state kept from one init, one
  * weekly job and one reference daily job.
  */
object Pipeline {

  def config(o: Opts, workRoot: String): PipelineConfig = PipelineConfig(
    sfDir = o.data,
    workRoot = workRoot,
    nCommodities = o.commodities,
    trainer = PropensityTrainer.Config(maxDepths = Seq(o.maxDepth),
      stepSizes = Seq(o.stepSize), maxIter = o.maxIter, parallelism = o.nproc))

  /** The feature lookups `PropensityPipeline` trains and scores with. */
  def lookups(spark: SparkSession, p: PropensityPipeline) = Seq(
    TrainingSetBuilder.Lookup(p.householdFeatures.read(spark),
      Seq("household_key"), "household__"),
    TrainingSetBuilder.Lookup(p.commodityFeatures.read(spark),
      Seq("commodity_desc"), "commodity__"),
    TrainingSetBuilder.Lookup(p.householdCommodityFeatures.read(spark),
      Seq("household_key", "commodity_desc"), "household_commodity__"))

  private def cleanNames(p: PropensityPipeline): Seq[(String, String)] =
    p.commodities.select("commodity_desc", "commodity_clean").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq

  private def dayLit(day: LocalDate) = lit(java.sql.Date.valueOf(day))

  /** One daily job's scores as `household|commodity -> prediction`, read
    * back from the unpivoted sink; a key that occurs twice fails.
    */
  def sinkScores(spark: SparkSession, workRoot: String, day: LocalDate)
      : Map[String, Double] = {
    val rows = spark.read.parquet(s"$workRoot/propensities_unpivoted")
      .filter(col("day") === dayLit(day))
      .select(col("household_key").cast("string"), col("commodity_desc"), col("prediction"))
      .collect().map { r =>
        s"${r.getString(0)}|${r.getString(1)}" -> (if (r.isNullAt(2)) Double.NaN else r.getDouble(2))
      }
    val scores = rows.toMap
    require(scores.size == rows.length,
      s"unpivoted has ${rows.length} rows for ${scores.size} (household, commodity) keys")
    scores
  }

  /** Output checks for one daily job, read back from the sinks it wrote.
    * Returns the failed checks.
    */
  def checkDaily(spark: SparkSession, p: PropensityPipeline, workRoot: String,
      day: LocalDate, households: Long, reference: Option[Map[String, Double]]): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    val clean = cleanNames(p).map(_._2)
    val n = clean.size
    val scores = try sinkScores(spark, workRoot, day) catch {
      case e: IllegalArgumentException => bad += e.getMessage; Map.empty[String, Double]
    }
    if (bad.isEmpty && scores.size != households * n)
      bad += s"unpivoted has ${scores.size} (household, commodity) rows, want ${households * n}"
    val outOfRange = scores.values.count(v => !(v >= 0.0 && v <= 1.0))
    if (outOfRange > 0) bad += s"$outOfRange unpivoted scores outside [0,1]"
    reference.foreach { ref =>
      val differ = (ref.keySet ++ scores.keySet).count { k =>
        !(scores.contains(k) && ref.contains(k) && math.abs(scores(k) - ref(k)) <= 1e-9)
      }
      if (differ > 0) bad += s"$differ scores differ from the reference daily job"
    }
    val pv = p.pivoted.read(spark).filter(col("day") === dayLit(day))
    val scoreCols = pv.columns.toSeq.filterNot(Set("household_key", "day"))
    if (scoreCols.toSet != clean.toSet)
      bad += s"pivoted score columns ${scoreCols.mkString(",")}, want ${clean.mkString(",")}"
    else {
      val inRange = scoreCols.map(c => col(c).between(0.0, 1.0)).reduce(_ && _)
      val row = pv.agg(count(lit(1)), countDistinct(col("household_key")),
        count(when(inRange, 1))).head()
      if (row.getLong(0) != households || row.getLong(1) != households)
        bad += s"pivoted has ${row.getLong(0)} rows for ${row.getLong(1)} households, want $households"
      if (row.getLong(2) != row.getLong(0))
        bad += s"${row.getLong(0) - row.getLong(2)} pivoted rows with a score outside [0,1]"
    }
    bad.toSeq
  }

  /** What one weekly job left behind, per commodity: the held-out metrics
    * `trainAll` returned and the promoted model's full-slice AUC.
    */
  final case class Trained(avgPrecision: Double, balancedAccuracy: Double, mcc: Double,
      auc: Double) {
    def tsv: String = Seq(avgPrecision, balancedAccuracy, mcc, auc)
      .map(java.lang.Double.toString).mkString("\t")
  }

  private def production(work: String, clean: String): Option[String] = {
    val f = Paths.get(work, "models", clean, "PRODUCTION")
    if (Files.exists(f)) Some(Files.readString(f).trim) else None
  }

  /** Output checks for one weekly job: one Production model per commodity,
    * promoted by this job, whose full-slice AUC (as `PipelineSf01Spec`
    * measures it) is above the floor; with a reference, the held-out
    * metrics and AUC equal the reference weekly job's. Returns the failed
    * checks and what was trained.
    */
  def checkWeekly(spark: SparkSession, p: PropensityPipeline, o: Opts, work: String,
      metrics: Seq[(String, PropensityTrainer.Metrics)], before: Map[String, Option[String]],
      reference: Option[Map[String, Seq[Double]]]): (Seq[String], Map[String, Trained]) = {
    val bad = mutable.ArrayBuffer.empty[String]
    val cs = cleanNames(p)
    val byDesc = metrics.toMap
    val modelDirs = Files.list(Paths.get(work, "models")).iterator().asScala.size
    if (modelDirs != cs.size) bad += s"$modelDirs model directories for ${cs.size} commodities"
    val fed = p.currentDay.minusDays(LabelBuilder.horizonDays)
    val ts = TrainingSetBuilder.build(LabelBuilder.labels(p.txc, p.commodities, fed),
      lookups(spark, p)).cache()
    val trained = try cs.flatMap { case (desc, clean) =>
      (production(work, clean), byDesc.get(desc)) match {
        case (None, _) => bad += s"no Production model for $clean"; None
        case (_, None) => bad += s"trainAll returned no metrics for $desc"; None
        case (Some(v), _) if before.get(clean).flatten.contains(v) =>
          bad += s"the Production model of $clean was not replaced"; None
        case (Some(_), Some(m)) =>
          val scored = p.models.loadProduction(clean)
            .transform(ts.filter(col("commodity_desc") === desc))
            .select(col("purchased"), org.apache.spark.ml.functions
              .vector_to_array(col("probability")).getItem(1).as("score"))
          val auc = ModelEval.auc(scored).head().getDouble(0)
          if (!(auc > o.aucFloor)) bad += f"$clean full-slice AUC $auc%.4f not above ${o.aucFloor}"
          Some(clean -> Trained(m.avgPrecision, m.balancedAccuracy, m.mcc, auc))
      }
    }.toMap finally { ts.unpersist(); () }
    reference.foreach { ref =>
      val differ = (ref.keySet ++ trained.keySet).filter { c =>
        !(trained.contains(c) && ref.contains(c) && {
          val t = trained(c)
          Seq(t.avgPrecision, t.balancedAccuracy, t.mcc, t.auc).zip(ref(c))
            .forall { case (a, b) => math.abs(a - b) <= 1e-9 }
        })
      }
      if (differ.nonEmpty)
        bad += s"metrics of ${differ.toSeq.sorted.mkString(",")} differ from the reference weekly job"
    }
    (bad.toSeq, trained)
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.iterator().asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst, StandardCopyOption.COPY_ATTRIBUTES)
    } finally walk.close()
  }

  private def dailyReference(o: Opts) = Paths.get(o.state, "reference-daily.tsv")
  private def weeklyReference(o: Opts) = Paths.get(o.state, "reference-weekly.tsv")

  private def writeTsv(path: Path, rows: Seq[(String, String)]): Unit =
    Files.write(path, rows.sorted.map { case (k, v) => s"$k\t$v" }.asJava)

  private def readTsv(path: Path): Map[String, Seq[Double]] =
    Files.readAllLines(path).asScala.map { l =>
      val f = l.split('\t'); f.head -> f.tail.toSeq.map(_.toDouble)
    }.toMap

  /** The weekly job's feature store: a copy of the post-init feature
    * tables of `from` holding each table's keys and its first `k` feature
    * columns.
    */
  private def narrowCopy(spark: SparkSession, from: PropensityPipeline, to: PropensityPipeline,
      k: Int): Unit =
    Seq((from.householdFeatures, to.householdFeatures), (from.commodityFeatures, to.commodityFeatures),
      (from.householdCommodityFeatures, to.householdCommodityFeatures)).foreach { case (src, dst) =>
      val df = src.read(spark)
      val kept = src.keys ++ df.columns.filterNot(src.keys.contains).take(k)
      dst.overwrite(df.select(kept.map(col): _*))
    }

  /** The kept state: the full feature store with both score sinks
    * (`work`), and the weekly job's feature store with the model store
    * (`weekly`).
    */
  private def fullRoot(root: Path) = root.resolve("work")
  private def weeklyRoot(root: Path) = root.resolve("weekly")

  /** The two pipelines over a state under `root`. Both share the weekly
    * store's model store, as the paper's jobs share one model registry:
    * the daily job scores with the models the weekly job promoted.
    */
  private def pipelines(spark: SparkSession, o: Opts, root: Path)
      : (PropensityPipeline, PropensityPipeline) = {
    Files.createDirectories(weeklyRoot(root).resolve("models"))
    val link = fullRoot(root).resolve("models")
    if (!Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      Files.createDirectories(fullRoot(root))
      Files.createSymbolicLink(link, weeklyRoot(root).resolve("models").toAbsolutePath)
    }
    (new PropensityPipeline(spark, config(o, fullRoot(root).toString)),
      new PropensityPipeline(spark, config(o, weeklyRoot(root).toString)))
  }

  /** Init, one weekly job and one reference daily job, through the
    * program's own `PropensityPipeline`; their checks fail the preparation.
    */
  def prep(spark: SparkSession, o: Opts): Unit = {
    val root = Paths.get(o.state)
    val ledger = new JobLedger
    spark.sparkContext.addSparkListener(ledger)
    val tr = new Tracer(spark.sparkContext, enabled = true)
    Catalog.registerAll(spark, o.data)
    val (p, pw) = pipelines(spark, o, root)
    val (_, initS) = Main.timed(tr.span("init", "init")(p.init()))
    narrowCopy(spark, p, pw, o.weeklyFeatures)
    val (metrics, weeklyS) = Main.timed(tr.span("weekly_job", "weekly")(pw.trainAll()))
    val (bad, trained) =
      checkWeekly(spark, pw, o, weeklyRoot(root).toString, metrics, Map.empty, None)
    val cur = p.currentDay
    val (_, dailyS) = Main.timed(tr.span("daily_job", "daily") { p.computeFeatures(cur); p.scoreAll(); () })
    val households = p.tx.select("household_key").distinct().count()
    val failed = bad ++ checkDaily(spark, p, fullRoot(root).toString, cur, households, None)
    if (failed.nonEmpty) sys.error("pipeline preparation failed its checks: " + failed.mkString("; "))
    writeTsv(dailyReference(o), sinkScores(spark, fullRoot(root).toString, cur).toSeq
      .map { case (k, v) => k -> java.lang.Double.toString(v) })
    writeTsv(weeklyReference(o), trained.toSeq.map { case (c, t) => c -> t.tsv })
    Files.delete(fullRoot(root).resolve("models"))
    def width(p: PropensityPipeline) = Seq(p.householdFeatures, p.commodityFeatures,
      p.householdCommodityFeatures).map(_.read(spark).columns.length).sum
    Json.write(root.resolve("prep.json").toString, Map(
      "init_s" -> initS, "weekly_job_s" -> weeklyS, "reference_daily_job_s" -> dailyS,
      "commodities" -> cleanNames(p).map(_._2), "households" -> households,
      "full_slice_auc" -> trained.map { case (c, t) => c -> t.auc }, "auc_floor" -> o.aucFloor,
      "holdout_metrics" -> metrics.map { case (d, m) => d -> m.toString }.toMap,
      "feature_store_columns" -> width(p), "weekly_store_columns" -> width(pw),
      "counters" -> { ListenerBus.drain(spark.sparkContext)
        LayerCounters(tr.spans, ledger.snapshot, o.nproc) },
      "spans" -> tr.spans))
  }

  /** Times whole units of work until `o.seconds` have passed, at least
    * one; `unit` returns the seconds of the public calls it times as ops,
    * `check` the failed output checks.
    */
  private def loop(o: Opts, name: String)(unit: () => Seq[Double])(check: () => Seq[String])
      : (Seq[Double], Seq[Double], Int, Seq[String]) = {
    val units = mutable.ArrayBuffer.empty[Double]
    val ops = mutable.ArrayBuffer.empty[Double]
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    val t0 = System.nanoTime()
    while (attempted == 0 || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      attempted += 1
      try {
        val (calls, totalS) = Main.timed(unit())
        units += totalS
        ops ++= calls
        failures ++= check().map(m => s"$name $attempted: $m")
      } catch {
        case e: Exception => failures += s"$name $attempted: ${Workload.rootCause(e)}"
      }
    }
    (units.toSeq, ops.toSeq, attempted, failures.toSeq)
  }

  /** The paper's weekly job (`trainAll()` on the weekly feature store)
    * followed by its daily job (`computeFeatures(cur)` then `scoreAll()`
    * on the full one).
    */
  def run(spark: SparkSession, o: Opts, tr: Tracer): Workload.Result = {
    val dailyRef = readTsv(dailyReference(o)).map { case (k, v) => k -> v.head }
    val weeklyRef = readTsv(weeklyReference(o))
    val root = Files.createTempDirectory(Paths.get("."), "state-").toAbsolutePath
    val full = fullRoot(root)
    val weekly = weeklyRoot(root)
    val (p, pw) = tr.span("setup", "setup") {
      tr.span("catalog.register", "catalog")(Catalog.registerAll(spark, o.data))
      tr.span("silver.materialize", "silver")(TransactionsAdj(spark, o.data))
      copyTree(fullRoot(Paths.get(o.state)), full)
      copyTree(weeklyRoot(Paths.get(o.state)), weekly)
      val (p, pw) = pipelines(spark, o, root)
      tr.span("ops.commodities", "ops") { p.commodities; pw.commodities }
      p.currentDay
      pw.currentDay
      (p, pw)
    }
    val cur = p.currentDay
    val households = dailyRef.size / o.commodities
    val readyS = Main.sinceJvmStart
    val weeklyS = mutable.ArrayBuffer.empty[Double]
    val dailyS = mutable.ArrayBuffer.empty[Double]
    var before = Map.empty[String, Option[String]]
    var metrics = Seq.empty[(String, PropensityTrainer.Metrics)]
    var snapshotRows = 0L
    val (units, ops, attempted, failures) = loop(o, "weekly + daily job") { () =>
      before = weeklyRef.keys.map(c => c -> production(weekly.toString, c)).toMap
      val (m, wS) = Main.timed {
        tr.span("weekly_job", "pipeline") {
          if (tr.enabled) Traced.trainAll(spark, pw, o, tr) else pw.trainAll()
        }
      }
      metrics = m
      weeklyS += wS
      val (calls, dS) = Main.timed {
        tr.span("daily_job", "pipeline") {
          val (_, refreshS) = Main.timed {
            if (tr.enabled) Traced.computeFeatures(spark, p, cur, tr) else p.computeFeatures(cur)
          }
          val (_, scoreS) = Main.timed {
            if (tr.enabled) Traced.scoreAll(spark, p, full.toString, tr) else { p.scoreAll(); () }
          }
          Seq(refreshS, scoreS)
        }
      }
      dailyS += dS
      calls
    } { () =>
      if (tr.enabled) snapshotRows += Traced.snapshotRows(spark, p, cur)
      checkWeekly(spark, pw, o, weekly.toString, metrics, before, Some(weeklyRef))._1 ++
        checkDaily(spark, p, full.toString, cur, households, Some(dailyRef))
    }
    Workload.Result(setupSeconds = readyS, workSeconds = units, opSeconds = ops,
      attempted = attempted, failures = failures, workUnits = attempted,
      info = Map("households" -> households, "jobs" -> attempted,
        "weekly_job_s" -> weeklyS.toSeq, "daily_job_s" -> dailyS.toSeq),
      snapshotRows = snapshotRows)
  }
}

/** The weekly and daily jobs as the same public calls `PropensityPipeline`
  * makes, in the same order, each inside a span. Checked against the
  * reference jobs like the untraced ones.
  */
object Traced {

  /** `PropensityPipeline.trainAll`. The two cached frames are materialized
    * inside their own spans (one extra count each), so their execution is
    * attributed to the layer that defines them and not to the first fit.
    */
  def trainAll(spark: SparkSession, p: PropensityPipeline, o: Opts, tr: Tracer)
      : Seq[(String, PropensityTrainer.Metrics)] = {
    val cfg = Pipeline.config(o, "").trainer
    val cur = p.currentDay
    val fed = cur.minusDays(LabelBuilder.horizonDays)
    val labels = tr.span("labels.build", "labels") {
      val l = LabelBuilder.labels(p.txc, p.commodities, fed).cache()
      l.count()
      l
    }
    val trainingSet = tr.span("train.training_set", "train") {
      val t = TrainingSetBuilder.build(labels, Pipeline.lookups(spark, p)).cache()
      t.count()
      t
    }
    try {
      val featureCols = trainingSet.columns.toSeq.filter(c => c.contains("__"))
      val cs = p.commodities.select("commodity_desc", "commodity_clean")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      require(cs.map(_._2).distinct.size == cs.size,
        s"commodity_clean collision in ${cs.map(_._2).mkString(",")}")
      val ratios = tr.span("labels.build", "labels") {
        LabelBuilder.posRatio(labels)
          .filter(col("purchased") === 1)
          .select("commodity_desc", "class_ratio")
          .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      }
      cs.map { case (desc, clean) =>
        val (model, test) = tr.span("train.fit", "train") {
          val slice = trainingSet.filter(col("commodity_desc") === desc)
          val weighted = PropensityTrainer.withWeights(slice, ratios.getOrElse(desc, 0.5))
          val (trainDf, valDf, test) = PropensityTrainer.split(weighted, cfg.seed)
          (PropensityTrainer.train(trainDf.unionByName(valDf), featureCols, cfg), test)
        }
        val metrics = tr.span("train.evaluate", "train")(PropensityTrainer.evaluate(model, test))
        tr.span("train.model_store", "train") {
          val v = p.models.save(clean, model)
          p.models.promote(clean, v)
        }
        (desc, metrics)
      }
    } finally {
      labels.unpersist(); trainingSet.unpersist(); ()
    }
  }

  /** `PropensityPipeline.computeFeatures`. */
  def computeFeatures(spark: SparkSession, p: PropensityPipeline, day: LocalDate,
      tr: Tracer): Unit = {
    val d = java.sql.Date.valueOf(day)
    val txAsOf = p.tx.filter(col("day") <= lit(d))
    val txcAsOf = p.txc.filter(col("day") <= lit(d))
    val hb = tr.span("features.bounds", "features")(FeatureBuilder.bounds(txAsOf))
    val cb = tr.span("features.bounds", "features")(FeatureBuilder.bounds(txcAsOf))
    Seq((FeatureBuilder.household, p.householdFeatures, txAsOf, hb),
      (FeatureBuilder.commodity, p.commodityFeatures, txcAsOf, cb),
      (FeatureBuilder.householdCommodity, p.householdCommodityFeatures, txcAsOf, cb))
      .foreach { case (grain, table, fact, b) =>
        val df = tr.span(s"features.build.${grain.name}", "features") {
          FeatureBuilder.build(fact, grain, knownBounds = Some(b)).withColumn("day", lit(d))
        }
        tr.span(s"features.upsert.${grain.name}", "features")(table.upsert(spark, df))
      }
  }

  /** Rows of `day`'s snapshot over the three feature tables. */
  def snapshotRows(spark: SparkSession, p: PropensityPipeline, day: LocalDate): Long =
    Seq(p.householdFeatures, p.commodityFeatures, p.householdCommodityFeatures).map { t =>
      t.read(spark).filter(col("day") === lit(java.sql.Date.valueOf(day))).count()
    }.sum

  /** `PropensityPipeline.scoreAll`. */
  def scoreAll(spark: SparkSession, p: PropensityPipeline, workRoot: String, tr: Tracer): Unit = {
    val cur = p.currentDay
    val d = java.sql.Date.valueOf(cur)
    val spine = tr.span("score.spine", "score") {
      def hasSnapshot(t: FeatureTable): Boolean = t.exists &&
        t.read(spark).filter(col("day") === lit(d)).limit(1).count() > 0
      val hasToday = Seq(p.householdFeatures, p.commodityFeatures,
        p.householdCommodityFeatures).forall(hasSnapshot)
      if (!hasToday) p.computeFeatures(cur)
      val spine0 = p.tx.select("household_key").distinct()
        .crossJoin(broadcast(p.commodities.select("commodity_desc", "commodity_clean")))
        .withColumn("day", lit(d))
      TrainingSetBuilder.build(spine0, Pipeline.lookups(spark, p)).cache()
    }
    var unpivoted: DataFrame = null
    try {
      val all = p.commodities.select("commodity_desc", "commodity_clean")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      require(all.map(_._2).distinct.size == all.size,
        s"commodity_clean collision in ${all.map(_._2).mkString(",")}")
      val (cs, _) = all.partition { case (_, clean) => p.models.hasProduction(clean) }
      require(cs.nonEmpty, "scoreAll: no commodity has a Production model")
      unpivoted = tr.span("score.transform", "score") {
        cs.map { case (desc, clean) =>
          val slice = spine.filter(col("commodity_desc") === desc)
          val model = p.models.loadProduction(clean)
          Scorer.score(model, slice).withColumn("commodity_clean", lit(clean))
        }.reduce(_.unionByName(_)).cache()
      }
      tr.span("score.merge", "score") {
        val pivotedBatch = MergeWriter.pivotScores(
          unpivoted.withColumnRenamed("commodity_desc", "__cd")
            .withColumnRenamed("commodity_clean", "commodity_desc"),
          cs.map(_._2))
        p.pivoted.upsert(spark, pivotedBatch)
      }
      tr.span("score.sink", "score") {
        unpivoted.drop("commodity_clean").write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("day")
          .parquet(s"$workRoot/propensities_unpivoted")
      }
    } finally {
      spine.unpersist()
      if (unpivoted != null) { unpivoted.unpersist(); () }
    }
  }
}

/** A fixed list of `SparkEntry.queries`, each built, planned and run to
  * completion, in a seeded order per pass.
  */
object Suite {

  final case class Query(module: String, name: String, expectedRows: Long)

  private def moduleOf: Map[String, String] =
    Workload.modules.flatMap { case (m, es) => es.map(_.name -> m) }.toMap

  def queries(o: Opts): Seq[Query] =
    Files.readAllLines(Paths.get(o("queries"))).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(name, rows) = l.split("\\s+")
        Query(moduleOf.getOrElse(name, sys.error(s"unknown query $name")), name, rows.toLong)
      }

  def printRows(spark: SparkSession, o: Opts): Unit = {
    Catalog.registerAll(spark, o.data)
    queries(o).foreach { q =>
      val rows = graft.SparkEntry.queries(q.name)(spark, o.data).queryExecution.toRdd.count()
      println(s"ROWS ${q.name} $rows")
    }
  }

  /** Every query of `SparkEntry.queries` in name order, one cold pass then
    * one warm pass, each query built, planned and materialized as a timed
    * pass does it: `TIME module query cold_s warm_s rows`.
    */
  def printTimings(spark: SparkSession, o: Opts): Unit = {
    Catalog.registerAll(spark, o.data)
    TransactionsAdj(spark, o.data)
    val pinned = spark.sparkContext.getPersistentRDDs.keySet
    val all = Workload.modules.flatMap { case (m, es) => es.map(e => (m, e.name)) }.sortBy(_._2)
    def once(name: String): (Double, Long) = {
      val (rows, sec) = Main.timed {
        try graft.SparkEntry.queries(name)(spark, o.data).queryExecution.toRdd.count()
        catch { case e: Exception => System.err.println(s"[perfbench] $name: $e"); -1L }
      }
      GraftSession.sweepTransientBlocks(spark, pinned)
      (sec, rows)
    }
    val cold = all.map { case (_, n) => n -> once(n)._1 }.toMap
    all.foreach { case (m, n) =>
      val (warm, rows) = once(n)
      println(f"TIME $m $n ${cold(n)}%.4f $warm%.4f $rows")
    }
  }

  def run(spark: SparkSession, o: Opts, tr: Tracer): Workload.Result = {
    val qs = queries(o)
    val fns = graft.SparkEntry.queries
    tr.span("setup", "setup") {
        tr.span("catalog.register", "catalog")(Catalog.registerAll(spark, o.data))
        tr.span("silver.materialize", "silver")(TransactionsAdj(spark, o.data))
        tr.span("ops.commodities", "ops")(Commodities.commoditiesToScore(spark, o.data, o.commodities))
    }
    def sweep(pinned: scala.collection.Set[Int]): Unit =
      GraftSession.sweepTransientBlocks(spark, pinned)
    // untimed warm-up, as graft.Bench does it: the ML fit path, then one
    // pass over every query, so timed passes measure warm code
    val pre = spark.sparkContext.getPersistentRDDs.keySet
    val (_, warmS) = Main.timed {
      try {
        val warm = spark.range(16).selectExpr("id AS vec_id",
          "array(CAST(id AS FLOAT), CAST(id % 3 AS FLOAT)) AS embedding")
        graft.similarity.Similarity.kmeansCentroids(warm, nCells = 4, knownCount = Some(16L)).count()
      } catch { case e: Exception => System.err.println(s"[perfbench] ML warm-up: $e") }
      qs.foreach { q =>
        try { fns(q.name)(spark, o.data).queryExecution.toRdd.count(); () }
        catch { case e: Exception => System.err.println(s"[perfbench] warm ${q.name}: $e") }
        sweep(pre)
      }
    }
    val pinned = spark.sparkContext.getPersistentRDDs.keySet
    val readyS = Main.sinceJvmStart
    val rng = new scala.util.Random(o.seed)
    val passes = mutable.ArrayBuffer.empty[Double]
    val ops = mutable.ArrayBuffer.empty[Double]
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    val t0 = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      var passS = 0.0
      rng.shuffle(qs).foreach { q =>
        attempted += 1
        val layer = s"queriesdef.${q.module}"
        val (rows, sec) = Main.timed {
          try {
            tr.span(q.name, layer) {
              val df = tr.span("construct", layer)(fns(q.name)(spark, o.data))
              tr.span("plan", layer)(df.queryExecution.executedPlan)
              Right(tr.span("exec", layer)(df.queryExecution.toRdd.count()))
            }
          } catch { case e: Exception => Left(Workload.rootCause(e)) }
        }
        sweep(pinned)
        passS += sec
        ops += sec
        rows match {
          case Right(n) if n == q.expectedRows => ()
          case Right(n) => failures += s"${q.name}: $n rows, want ${q.expectedRows}"
          case Left(why) => failures += s"${q.name}: $why"
        }
      }
      passes += passS
    }
    Workload.Result(
      setupSeconds = readyS,
      workSeconds = passes.toSeq,
      opSeconds = ops.toSeq,
      attempted = attempted,
      failures = failures.toSeq,
      workUnits = passes.size,
      info = Map("warmup_s" -> warmS, "queries" -> qs.size, "passes" -> passes.size))
  }
}
