package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Fs, Ingest, Sinks, TimeKeys}
import graft.ml.{Metrics, Poisson, PoissonFamily}
import graft.ops.{CompositeFeatureBuilder, Components, HourRingFeatures, SeriesAggs,
  TemporalSplit, TextOps, WindowOps}
import graft.pipeline.{CorpusConfig, CorpusPipeline, CorpusResult, Pipeline, PipelineConfig,
  PipelineResult}
import graft.queries.{DedupQueries, MlQueries}

/** What one workload run hands back to the runner. */
final class Report {
  val cold = mutable.ArrayBuffer.empty[Double]   // seconds per cold operation
  val warm = mutable.ArrayBuffer.empty[Double]   // seconds per follow-up operation
  var items = 0L                                 // trips / query issues processed
  var opS = 0.0                                  // summed wall of every timed operation
  var rounds = 0
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val layers = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var peakHeapMb = 0.0                           // largest live heap seen at an operation boundary

  /** Count one checked operation; a false check is a failure. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) failures += what
  }
  def layer(name: String, v: Double): Unit =
    layers.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += v
  /** Full GC, then record the live heap (call between timed operations). */
  def probeHeap(): Unit = peakHeapMb = math.max(peakHeapMb, LiveHeap.mb())
}

/** A workload runs in rounds. Round 1 gives the reported latencies;
  * further rounds run while `seconds` have not passed and only add to
  * the throughput.
  */
trait Workload {
  /** Program init and warm-up the rounds rely on (part of set-up). */
  def prepare(): Unit = ()
  /** One round; returns its cold and follow-up operation walls. Every
    * operation's output is checked into `r`.
    */
  def round(r: Report): (Seq[Double], Seq[Double])
  /** One traced round: layer spans, recorded into `r.layers`. */
  def traced(r: Report, tr: Tracer): Unit
  /** Checks run once per process, outside every timed region. */
  def verifyOnce(r: Report): Unit = ()

  def measure(seconds: Double, r: Report): Unit = {
    val t0 = System.nanoTime()
    while (r.rounds == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      val (c, w) = round(r)
      if (r.rounds == 0) { r.cold ++= c; r.warm ++= w }
      r.opS += c.sum + w.sum
      r.rounds += 1
    }
  }
}

object Files {
  def bytesUnder(dir: String): Long = {
    val f = new File(dir)
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(c => bytesUnder(c.getPath)).sum).getOrElse(0L)
  }
  def parquetFilesUnder(dir: String): Long = {
    val f = new File(dir)
    if (f.isFile) (if (f.getName.endsWith(".parquet")) 1L else 0L)
    else Option(f.listFiles).map(_.map(c => parquetFilesUnder(c.getPath)).sum).getOrElse(0L)
  }
  def deleteRec(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRec))
    f.delete(): Unit
  }
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }
}

// ------------------------------------------------------------------ bicis

/** The paper's DAG: raw CSVs -> unify -> split -> profiles -> target ->
  * features ⋈ target -> Poisson GLM -> predict -> metrics, through
  * `Pipeline.run`; the follow-up is `run` again on the completed outDir
  * (every stage skipped, model loaded). Set-up includes one untimed run
  * of the same DAG, so the measured runs see a warm JIT and codegen cache.
  */
final class BicisForecast(spark: SparkSession, inputs: Manifest, work: String) extends Workload {
  private val files = inputs.list("files")
  private val generated = inputs.long("generated_rows")
  private val invalid = inputs.long("invalid_rows")
  private val nullStation = inputs.long("null_station_rows")
  private var k = 0

  private def freshDir(tag: String): String = {
    k += 1
    val d = s"$work/$tag$k"
    Files.deleteRec(new File(d))
    d
  }

  private def json(path: String): Map[String, Long] =
    "\"(\\w+)\": (\\d+)".r.findAllMatchIn(Fs.readString(spark, path))
      .map(m => m.group(1) -> m.group(2).toLong).toMap

  /** Warm-up: a full run into a scratch outDir, then deleted. */
  override def prepare(): Unit = {
    val out = freshDir("warmup")
    Pipeline.run(spark, files, out)
    Files.deleteRec(new File(out))
  }

  /** Resumes per cold run: a resume is short, so its median takes a few. */
  private val Resumes = 3

  /** Cold run + resumes, all checked; returns (result, cold s, resume walls, outDir). */
  private def once(r: Report): (PipelineResult, Double, Seq[Double], String) = {
    val out = freshDir("pipe")
    val (res, coldS) = Files.timed(Pipeline.run(spark, files, out))
    r.check(res.unifiedCount == generated - invalid,
      s"unified ${res.unifiedCount} != generated $generated - invalid $invalid")
    val fails = Seq("training", "validation", "testing").map(s => s -> json(s"$out/fails_$s.json")).toMap
    val splitCounts = Map("training" -> res.trainCount, "validation" -> res.valCount,
      "testing" -> res.testCount)
    r.check(
      fails.forall { case (s, f) =>
        f("input_count") == splitCounts(s) &&
        f("input_count") - f("number_of_errors") == f("output_count") } &&
      splitCounts.values.sum == res.unifiedCount &&
      fails("training")("output_count") == res.datasetCount &&
      fails.values.map(_("number_of_errors")).sum >= nullStation,
      s"fails sidecars do not reconcile: $fails vs $splitCounts")
    r.probeHeap()
    val resumes = (1 to Resumes).map { _ =>
      val (again, resumeS) = Files.timed(Pipeline.run(spark, files, out))
      r.check(again.modelLoaded && again == res.copy(modelLoaded = true),
        s"resume differs: $again vs $res")
      resumeS
    }
    r.probeHeap()
    r.items += generated
    (res, coldS, resumes, out)
  }

  def round(r: Report): (Seq[Double], Seq[Double]) = {
    val (_, c, w, out) = once(r)
    Files.deleteRec(new File(out))
    (Seq(c), w)
  }

  /** The traced re-composition first (after the same warm-up as the
    * untraced round 1), then the real pipeline and its resumes. The copy's result,
    * metrics and fails sidecars must equal the real run's, so a copy that
    * drifts from `Pipeline.run` fails the check.
    */
  def traced(r: Report, tr: Tracer): Unit = {
    val tout = freshDir("traced")
    val copy = tracedRun(tr, tout)
    val (res, runS, w, out) = once(r)
    val files = Seq("training", "validation", "testing").flatMap(s => Seq(s"metrics_$s.json", s"fails_$s.json"))
    val differ = files.filter(f => Fs.readString(spark, s"$tout/$f") != Fs.readString(spark, s"$out/$f"))
    r.check(copy == res && differ.isEmpty,
      s"traced copy differs from Pipeline.run: $copy vs $res, files ${differ.mkString(",")}")
    Files.deleteRec(new File(tout))
    def sum(n: String) = tr.spans.filter(_.name == n).map(_.seconds).sum
    Seq("core.ingest.unify", "ops.temporal_split.split", "ops.series_aggs.profile",
      "ops.window_ops.target", "ops.features.ring_join", "core.sinks.fails_report",
      "ml.poisson.assemble", "ml.poisson.fit", "ml.poisson.predict", "ml.metrics.evaluate")
      .foreach(n => r.layer(s"${n}_s", sum(n)))
    val total = tr.spans.find(_.name == "pipeline.run").get
    val children = tr.spans.filter(_.parent == "pipeline.run").map(_.seconds).sum
    r.layer("pipeline.traced_s", total.seconds)
    r.layer("pipeline.untraced_remainder_s", total.seconds - children)
    r.layer("pipeline.run_s", runS)
    r.layer("pipeline.run_remainder_s", runS - children)
    r.layer("core.ingest.rows_out", copy.unifiedCount.toDouble)
    r.layer("core.ingest.yield", copy.unifiedCount.toDouble / generated)
    total.metrics.foreach { case (m, v) if m.startsWith("spark.") => r.layer(m, v); case _ => }
    w.foreach(r.layer("pipeline.resume_s", _))
    r.layer("pipeline.stage_bytes_written", Files.bytesUnder(out).toDouble)
    Files.deleteRec(new File(out))
  }

  /** `Pipeline.run`'s stage sequence re-composed from the same public
    * layer calls, one span per call. The A5 target is materialized as
    * its own stage so the window and the ring join time apart; every
    * other stage body is the program's. Returns the result `Pipeline.run`
    * would return.
    */
  private def tracedRun(tr: Tracer, outDir: String): PipelineResult = tr.span("pipeline.run") {
    val cfg = PipelineConfig()
    def p(n: String) = s"$outDir/$n"
    def stage(n: String)(df: => DataFrame) = Pipeline.stage(spark, p(n))(df)
    new File(outDir).mkdirs()
    val unified = tr.span("core.ingest.unify")(stage("unified")(Ingest.unify(spark, files)))
    val (train, valid, test) = tr.span("ops.temporal_split.split") {
      val b = TemporalSplit.boundsRow(unified, "rent_date", cfg.split)
      val (a, v, t) = TemporalSplit.split(unified, "rent_date", cfg.split, Some(b))
      TemporalSplit.writeBoundsJson(spark, b, p("split_bounds.json"))
      (stage("training")(a), stage("validation")(v), stage("testing")(t))
    }
    def profile(n: String, station: String, when: String) = stage(n) {
      SeriesAggs.stationHourPivot(SeriesAggs.activePeriodAvg(train, col(station),
        TimeKeys.hourGroup(col(when)), TimeKeys.hourKey(col(when)), "v"), "v")
    }
    val (rents, returns) = tr.span("ops.series_aggs.profile") {
      (profile("profile", "rent_station", "rent_date"),
        profile("profile_returns", "return_station", "return_date"))
    }
    val ring = new CompositeFeatureBuilder(Seq(
      new HourRingFeatures(spark, rents, "n_rents", cfg.ring),
      new HourRingFeatures(spark, returns, "n_returns", cfg.ring)))
    val datasets = Seq("training" -> train, "validation" -> valid, "testing" -> test).map {
      case (name, split) =>
        val target = tr.span("ops.window_ops.target")(stage(s"target_$name")(
          WindowOps.forwardWindowCount(split.select(col("id"), col("rent_station"), col("rent_date")),
            "rent_station", "rent_date", "id", cfg.windowMicros)))
        val ds = tr.span("ops.features.ring_join")(stage(s"dataset_$name") {
          val trips = split.select(col("id"), col("rent_station").as("user_id"), col("rent_date").as("ts"))
          ring(trips).join(target.withColumnRenamed("n_rents", "label"), "id")
            .select(Seq(col("id"), col("label").cast("double")) ++ ring.featureNames.map(col): _*)
        })
        tr.span("core.sinks.fails_report")(Sinks.failsReport(split, ds, "id", p(s"fails_$name.json")))
        name -> ds
    }
    val assembled = tr.span("ml.poisson.assemble") {
      val a = Poisson.assemble(datasets.head._2, ring.featureNames).cache()
      a.count()
      a
    }
    val model = tr.span("ml.poisson.fit") {
      val m = PoissonFamily(cfg.model).fit(assembled)
      m.save(p("model"))
      m
    }
    val evaluated = datasets.map { case (name, ds) =>
      val pred = tr.span("ml.poisson.predict")(stage(s"predictions_$name")(model.predict(
        if (name == "training") assembled else Poisson.assemble(ds, ring.featureNames))))
      tr.span("ml.metrics.evaluate") {
        val m = Metrics.evaluate(pred, cfg.metricNames)
        Fs.writeString(spark, p(s"metrics_$name.json"), Metrics.toJson(m, cfg.metricNames))
        (name, pred, m)
      }
    }
    assembled.unpersist()
    PipelineResult(unified.count(), train.count(), valid.count(), test.count(),
      datasets.head._2.count(), evaluated.head._2.count(),
      evaluated.map { case (n, _, m) => n -> m }.toMap, modelLoaded = false)
  }
}

// ----------------------------------------------------------------- corpus

/** The LLM-corpus DAG, traced inside the query mix's traced run:
  * `CorpusPipeline.run`'s front re-composed from its public layer calls
  * over base ∪ batch, one span per call, then the real
  * `CorpusPipeline.run` on the base JSONL and `CorpusPipeline.append` of
  * the 10 % batch. Checks: the base census is consistent, and the append
  * census equals the re-composed full run over base ∪ batch (docs, kept,
  * survivors, clusters), which checks the incremental path and the
  * re-composition against each other.
  */
final class CorpusTrace(spark: SparkSession, inputs: Manifest, work: String) {
  private val base = inputs.str("base")
  private val batch = inputs.str("batch")
  private val nBase = inputs.long("base_docs")
  private val nBatch = inputs.long("batch_docs")
  private val union = inputs.str("union")
  private val cfg = CorpusConfig()

  def traced(r: Report, tr: Tracer): Unit = {
    val tout = s"$work/traced"
    Files.deleteRec(new File(tout))
    val full = tracedRun(tr, tout, r)
    Files.deleteRec(new File(tout))
    def span(n: String) = tr.spans.find(_.name == n).get
    Seq("core.ingest.read_jsonl", "queries.funnel", "ops.text.signature",
      "queries.dedup.pairs", "ops.components.cc", "core.sinks.shard_write")
      .foreach(n => r.layer(s"${n}_s", span(n).seconds))
    r.layer("ops.components.jobs", span("ops.components.cc").metrics("spark.jobs"))

    val out = s"$work/corpus"
    Files.deleteRec(new File(out))
    val res = tr.span("pipeline.corpus_run")(CorpusPipeline.run(spark, base, out, cfg))
    r.check(res.nRaw == nBase && res.nDocs == nBase && res.nSurvivors <= res.nKept &&
      res.splitCounts.values.sum == res.nKept, s"base census inconsistent: $res")
    val app = tr.span("pipeline.corpus_append")(CorpusPipeline.append(spark, batch, out, cfg))
    Files.deleteRec(new File(out))
    r.check(app.nRaw == nBase + nBatch &&
      Seq(app.nDocs, app.nKept, app.nSurvivors, app.nClusters) == full,
      s"append census $app != the full run over base ∪ batch (docs, kept, survivors, clusters) $full")
    r.layer("pipeline.corpus_run_s", span("pipeline.corpus_run").seconds)
    r.layer("pipeline.corpus_append_s", span("pipeline.corpus_append").seconds)
  }

  /** The front of `CorpusPipeline.run` re-composed from its public layer
    * calls (ingest, funnel, signatures, LSH pairs, components), then the
    * survivors shard write. The split/mixture/epoch tiers are private to
    * the pipeline and not re-composed here. Runs over base ∪ batch and
    * returns its census: docs, kept, survivors, clusters.
    */
  private def tracedRun(tr: Tracer, outDir: String, r: Report): Seq[Long] = tr.span("corpus.run") {
    def p(n: String) = s"$outDir/$n"
    def stage(n: String)(df: => DataFrame) = Pipeline.stage(spark, p(n))(df)
    new File(outDir).mkdirs()
    TextOps.ensureFunctions(spark)
    val docs = tr.span("core.ingest.read_jsonl")(stage("docs") {
      Ingest.readJsonl(spark, union, CorpusPipeline.docSchema)
        .where(col("_corrupt").isNull && col("doc_id").isNotNull && col("text").isNotNull)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          coalesce(col("n_chars"), length(col("text")).cast("long")).as("n_chars"))
    })
    val funnel = tr.span("queries.funnel")(stage("funnel")(MlQueries.qualityFunnelFlags(docs)))
    val kept = stage("kept")(docs.join(funnel.where(col("keep") === 1).select(col("doc_id")), "doc_id"))
    val hs = tr.span("ops.text.signature")(stage("signatures")(DedupQueries.hashesOfDocs(spark, kept)))
    val pairs = tr.span("queries.dedup.pairs")(stage("pairs")(DedupQueries.minhashVerifiedPairs(hs, cfg.tau)))
    // candidate count: the band self-join the LSH tier verifies (16 hashes,
    // 8 bands of 2 — DedupQueries' private constants)
    val bands = TextOps.bandedSignatures(hs, 16, 8, 2)
    val candidates = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    val verified = pairs.count()
    r.layer("queries.dedup.candidate_pairs", candidates.toDouble)
    r.layer("queries.dedup.verified_pairs", verified.toDouble)
    r.layer("queries.dedup.pair_yield", if (candidates > 0) verified.toDouble / candidates else 0.0)
    val clusters = tr.span("ops.components.cc")(stage("clusters")(
      Components.connectedComponents(pairs.where(col("sim") >= cfg.tau).select(col("i"), col("j")))
        .select(col("node"), col("rep"))))
    val canonical = stage("canonical")(DedupQueries.bestSurvivors(clusters, kept))
    val drop = clusters.join(canonical.select(col("best_doc")), col("node") === col("best_doc"), "left_anti")
      .select(col("node").as("doc_id"))
    val survivors = kept.join(drop, Seq("doc_id"), "left_anti")
    tr.span("core.sinks.shard_write")(Sinks.shardedParquet(survivors, p("shards"),
      Seq("source"), Seq("doc_id"), cfg.maxRecordsPerFile))
    r.layer("core.sinks.shard_files", Files.parquetFilesUnder(p("shards")).toDouble)
    Seq(docs.count(), kept.count(), spark.read.parquet(p("shards")).count(), canonical.count())
  }
}

// -------------------------------------------------------------- query mix

/** An analyst session: each query of a fixed registry list issued twice,
  * in seeded order, against a fresh copy of the tables per round (the
  * session memos key on the table directory, so a round's first issue of
  * a query is cold and its second issue hits the memo). An issue plans
  * the query and collects its rows, so every issue's result is checked.
  */
final class QueryMix(spark: SparkSession, inputs: Manifest, work: String, seed: Long,
                     names: Seq[String], persist: Set[String]) extends Workload {
  private val tables = inputs.str("tables")
  private val queries = graft.SparkEntry.queries
  private val expected = mutable.Map.empty[String, String] // name -> digest
  private val persisted = mutable.Map.empty[String, DataFrame] // first-issue rows to compare
  private var nCopies = 0

  require(names.forall(queries.contains), s"unknown queries: ${names.filterNot(queries.contains)}")

  def family(q: String): String = q.takeWhile(_ != '_') match {
    case "q" | "q1" => "relational"
    case "series" | "next" | "sessionize" | "station" | "tumbling" => "bicis"
    case "retrieval" | "multimodal" => "embed"
    case f => f
  }

  private def freshTables(): String = {
    nCopies += 1
    val d = new File(s"$work/tables$nCopies")
    Files.deleteRec(d)
    d.mkdirs()
    new File(tables).listFiles.foreach(f =>
      java.nio.file.Files.copy(f.toPath, new File(d, f.getName).toPath))
    d.getPath
  }

  /** Order-insensitive digest of a result: columns by name, rows rendered
    * and sorted, SHA-256 over the lot.
    */
  private def digest(df: DataFrame, rows: Array[Row]): String = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => String.valueOf(r.get(i))).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(df.columns.sorted.mkString(",").getBytes("UTF-8"))
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** One timed issue: plan and collect the result rows. */
  private def issue(q: String, dir: String): (DataFrame, Array[Row], Double) = {
    spark.sparkContext.setJobDescription(s"perfbench:$q")
    try {
      val t0 = System.nanoTime()
      val df = queries(q)(spark, dir)
      val rows = df.collect()
      (df, rows, (System.nanoTime() - t0) / 1e9)
    } finally spark.sparkContext.setJobDescription(null)
  }

  /** Seeded issue order: every query twice, the earlier one is "first". */
  private def order(): Seq[String] =
    new scala.util.Random(seed * 31 + nCopies).shuffle(names ++ names)

  /** Registry and oracle SQL for the compare the runner makes. */
  override def prepare(): Unit = {
    val oracles = graft.SparkEntry.oracleSql
    new File(s"$work/results").mkdirs()
    java.nio.file.Files.writeString(new File(s"$work/results/oracle_sql.json").toPath,
      names.filter(persist).flatMap(q => oracles.get(q).map(sql => s"${Json.str(q)}: ${Json.str(sql)}"))
        .mkString("{", ",\n", "}"))
  }

  /** One pass over a fresh copy of the tables; returns (name, issue
    * number, seconds). The first issue of a query fixes its expected
    * digest, every later issue must match it. The first-issue rows of
    * the `persist` queries are kept for the oracle compare.
    */
  private def runRound(r: Report, tr: Option[Tracer]): Seq[(String, Int, Double)] = {
    val dir = freshTables()
    val seen = mutable.Set.empty[String]
    val out = order().map { q =>
      val nth = if (seen.add(q)) 1 else 2
      val (df, rows, s) = tr match {
        case Some(t) => t.span(s"queries.family.${family(q)}")(issue(q, dir))
        case None => issue(q, dir)
      }
      val dg = digest(df, rows)
      if (!expected.contains(q)) {
        expected(q) = dg
        if (persist(q))
          persisted(q) = spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
      }
      r.check(expected(q) == dg, s"$q issue $nth digest $dg != ${expected(q)}")
      r.items += 1
      (q, nth, s)
    }
    spark.catalog.clearCache()
    r.probeHeap()
    Files.deleteRec(new File(dir))
    out
  }

  def round(r: Report): (Seq[Double], Seq[Double]) = {
    val out = runRound(r, None)
    (out.filter(_._2 == 1).map(_._3), out.filter(_._2 == 2).map(_._3))
  }

  /** Writes the kept first-issue rows as parquet for the runner's
    * oracle compare.
    */
  override def verifyOnce(r: Report): Unit =
    persisted.foreach { case (q, df) => df.write.parquet(s"$work/results/$q") }

  /** The mix round in the fresh JVM, then the corpus DAG's layers. */
  def traced(r: Report, tr: Tracer): Unit = {
    val out = runRound(r, Some(tr))
    val ss = tr.spans.toList
    ss.groupBy(_.name).foreach { case (n, g) => r.layer(s"${n}_s", g.map(_.seconds).sum) }
    def med(xs: Seq[Double]) = { val s = xs.sorted; s(s.size / 2) }
    r.layer("queries.repeat_ratio",
      med(out.filter(_._2 == 2).map(_._3)) / med(out.filter(_._2 == 1).map(_._3)))
    r.layer("queries.traced_per_s", out.size / out.map(_._3).sum)
    r.layer("queries.p50_s", med(out.map(_._3)))
    Seq("spark.jobs", "spark.tasks", "spark.failed_tasks", "spark.narrow_stage_s",
      "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
      "spark.gc_s", "spark.codegen_compile_s").foreach(m => r.layer(m, ss.map(_.metrics(m)).sum))
    r.layer("spark.task_busy_frac",
      ss.map(s => s.metrics("spark.task_busy_frac") * s.seconds).sum / ss.map(_.seconds).sum)
    new CorpusTrace(spark, inputs, s"$work/corpus").traced(r, tr)
  }
}
