package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, ConcurrentHashMap, Executors}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._

/** One benchmark run inside one JVM: set up a `local[nproc]` session, run
  * the workload's build steps once, then issue its serve calls from this
  * single thread in the pass orders `run.py` wrote (a closed loop with one
  * client), until `seconds` of serve time have passed. Writes one raw JSON
  * record; `run.py` turns it into metrics and checks the results.
  *
  * Usage: Harness <workload> <sfDir> <seconds> <trace 0|1> <minPasses>
  *   <ordersFile> <resultFile> <spansFile>
  *
  * The ordersFile holds one serve pass per line, query names separated by
  * spaces. The first `minPasses` passes always run; each further one only
  * while the serve phase is shorter than `seconds`.
  */
object Harness {

  /** A result is checked either by digest (exact) or, for the Alg. 1
    * traces, by its rows: ALS floats that run.py compares within a
    * tolerance and checks for a non-increasing objective. */
  private val rowChecked = Set("q_antidote_trace", "q_antidote_trace_grp",
    "q_antidote_trace_ind")

  /** Build steps per workload, each a call into one module's public API. */
  private def buildSteps(w: String, s: SparkSession, d: String)
      : Seq[(String, () => Unit)] = w match {
    case "alg1_antidote" => Seq(
      "ratings.view" -> (() => { graft.ml.Ratings.viewCached(s, d).count(); () }),
      "baseline.pol_rmse" -> (() => {
        graft.ml.Baseline.polRmseCached(s, d); () }),
      // trains the baseline ALS model and, per budget, the heuristic-init
      // and post-step models
      "antidote.sweep" -> (() => graft.operators.MfQueries.warmSweep(s, d)))
    case "shared_stores" => Seq(
      "shingles.k5" -> (() => {
        graft.llm.ShingleStore.counted(s, d, 5, 2000).count(); () }),
      "shingles.k20" -> (() => {
        graft.llm.ShingleStore.counted(s, d, 20, 2000).count(); () }),
      "simhash.cands" -> (() =>
        graft.operators.LlmQueries.warmSimhashCands(s, d)),
      "pairstore.pairs" -> (() => graft.operators.PairStore.warm(s, d)),
      "ann.indexes" -> (() => {
        val embs = graft.Tables.load(s, d, "embeddings")
        val nl = math.max(8,
          math.min(4096, math.round(embs.count() / 250.0).toInt))
        graft.llm.SimSearch.ivfIndexCached(embs, d, nLists = 8,
          lloydIters = 2)
        graft.llm.SimSearch.pqIndexCached(embs, d, dims = 64, m = 16,
          codebookSize = 32, lloydIters = 2)
        graft.llm.SimSearch.ivfIndexGemmCached(embs, d, nl, lloydIters = 2)
        ()
      }),
      "stream.slices" -> (() => graft.streaming.StreamOps.warmSlices(s, d)))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Tables each workload reads; set-up caches exactly these. */
  private def tablesOf(w: String): Seq[String] = w match {
    case "alg1_antidote" => Seq("customer", "orders", "lineitem")
    case _ => graft.Tables.all
  }

  private val setupReps = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, sfDir, secondsArg, traceArg, minPassesArg,
      ordersFile, resultFile, spansFile) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val minPasses = minPassesArg.toInt
    val passes = Files.readAllLines(Paths.get(ordersFile), UTF_8).asScala
      .map(_.trim).filter(_.nonEmpty).map(_.split(" ").toSeq).toSeq
    val queries = graft.SparkEntry.queries
    val cores = Runtime.getRuntime.availableProcessors()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val clock = new Clock
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "1000000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val sc = spark.sparkContext

    val spans = new Spans(clock, sc)
    val tracer = if (traced) Some(new Tracer(clock, cores, spans)) else None
    tracer.foreach { t =>
      sc.addSparkListener(t)
      spark.streams.addListener(t.streams)
    }

    // ---- set-up: cache the workload's tables `setupReps` times ----
    val tables = tablesOf(workload)
    val cacheTimes = (1 to setupReps).map { i =>
      spans.span(s"setup.tables#$i", "setup", None) {
        if (i > 1) tables.foreach(n =>
          graft.Tables.load(spark, sfDir, n).unpersist(blocking = true))
        val t0 = System.nanoTime()
        val pool = Executors.newFixedThreadPool(4)
        try {
          tables.map(n => pool.submit(new Callable[Long] {
            def call(): Long = graft.Tables.load(spark, sfDir, n).cache().count()
          })).foreach(_.get())
        } finally pool.shutdown()
        (System.nanoTime() - t0) / 1e9
      }
    }

    // ---- build phase ----
    quiesce()
    val gcBefore = gcSeconds()
    val rddsBefore = sc.getPersistentRDDs.keySet.toSet
    val calls = mutable.ArrayBuffer.empty[Map[String, Any]]
    val workT0 = clock.now()
    buildSteps(workload, spark, sfDir).foreach { case (name, f) =>
      calls += callRecord(spans, "build", name, 0) { f(); None }
    }
    val buildEnd = clock.now()
    val storeBytes = sc.getRDDStorageInfo
      .filterNot(r => rddsBefore.contains(r.id))
      .map(r => r.memSize + r.diskSize).sum

    // ---- serve phase ----
    val buildGcS = gcSeconds() - gcBefore
    quiesce()
    val serveGc0 = gcSeconds()
    val serveT0 = clock.now()
    var pass = 0
    while (pass < passes.size &&
        (pass < minPasses || clock.now() - serveT0 < seconds)) {
      passes(pass).foreach { q =>
        val fn = queries.getOrElse(q,
          throw new IllegalArgumentException(s"unknown query $q"))
        calls += callRecord(spans, "serve", q, pass) {
          val (df, fnS) = spans.timed("call.fn", q)(fn(spark, sfDir))
          val target = if (rowChecked.contains(q)) df else digest(df)
          val (_, planS) = spans.timed("plan", q)(
            target.queryExecution.executedPlan)
          val (rows, execS) = spans.timed("exec", q)(target.collect())
          val out =
            if (rowChecked.contains(q)) Map("rows" -> rows.toSeq.map(rowJson))
            else {
              val r = rows.head
              Map("count" -> r.getLong(0),
                "h1" -> Option(r.get(1)).map(_.toString).getOrElse("0"),
                "h2" -> Option(r.get(2)).map(_.toString).getOrElse("0")) ++
                (if (r.size > 3) Map("rating_min" -> r.get(3),
                  "rating_max" -> r.get(4)) else Map.empty)
            }
          Some(out ++ Map("fn_s" -> fnS, "plan_s" -> planS, "exec_s" -> execS))
        }
      }
      pass += 1
    }
    val serveEnd = clock.now()
    PerfbenchBus.drain(sc)
    val gcS = buildGcS + gcSeconds() - serveGc0
    val peakRssMb = vmHwmMb()

    val layers: Map[String, Any] = tracer.map(_.summary(
      buildEnd - workT0 + serveEnd - serveT0)).getOrElse(Map.empty) ++
      Map("spark.gc_s" -> gcS, "store.checkpoint_bytes" -> storeBytes,
        "tables.cache_s" -> median(cacheTimes))

    val record = Map(
      "workload" -> workload, "sf" -> sfDir, "seconds" -> seconds,
      "traced" -> traced, "cores" -> cores,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "session_s" -> sessionS,
      "table_cache_s" -> cacheTimes,
      "build_s" -> (buildEnd - workT0),
      "serve_s" -> (serveEnd - serveT0),
      "passes" -> pass,
      "peak_rss_mb" -> peakRssMb,
      "calls" -> calls.toSeq,
      "layers" -> layers)
    write(resultFile, Json(record))
    if (traced) write(spansFile, Json(Map("spans" ->
      (spans.all ++ tracer.map(_.jobSpans).getOrElse(Seq.empty)))))
    val checkpoints = sc.getCheckpointDir
    spark.stop()
    // the run's reliable checkpoints (ALS lineage) are not reused
    checkpoints.foreach(d => deleteTree(Paths.get(new java.net.URI(d))))
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.delete(f))

  /** Time one call; a throw becomes `"<class>: <first line>"` and the call
    * carries no timing. */
  private def callRecord(spans: Spans, phase: String, name: String, pass: Int)(
      f: => Option[Map[String, Any]]): Map[String, Any] = {
    val t0 = spans.clock.now()
    try {
      val out = spans.span(name, phase, Some(name))(f)
      val t1 = spans.clock.now()
      Map("name" -> name, "phase" -> phase, "pass" -> pass, "ok" -> true,
        "start" -> t0, "end" -> t1) ++ out.getOrElse(Map.empty)
    } catch {
      case e: Throwable =>
        val line = Option(e.getMessage).map(_.linesIterator.nextOption()
          .getOrElse("")).getOrElse("")
        Map("name" -> name, "phase" -> phase, "pass" -> pass, "ok" -> false,
          "error" -> s"${e.getClass.getName}: $line")
    }
  }

  /** Order-insensitive content digest: row count plus two 32-bit lanes of
    * a per-row xxhash64, summed (no overflow below 2^31 rows), plus the
    * range of a `rating` column when there is one. */
  def digest(df: DataFrame): DataFrame = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      f.dataType match {
        case _: MapType => to_json(c)
        case _: UserDefinedType[_] => c.cast(StringType)
        case _ => c
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val rating =
      if (df.schema.fieldNames.contains("rating"))
        Seq(min(col("rating")).cast(DoubleType), max(col("rating")).cast(DoubleType))
      else Nil
    df.agg(count(lit(1)), (Seq(sum(h.bitwiseAND(lit(0xFFFFFFFFL))),
      sum(shiftrightunsigned(h, 32))) ++ rating): _*)
  }

  private def rowJson(r: Row): Seq[Any] = r.toSeq.map {
    case d: java.math.BigDecimal => d.doubleValue
    case v => v
  }

  /** Untimed barrier between phases: a full GC lets Spark's ContextCleaner
    * reclaim the shuffles and broadcasts the previous phase left behind,
    * so their clean-up is not billed to whichever call runs next. */
  private def quiesce(): Unit = {
    System.gc()
    Thread.sleep(200)
  }

  private def gcSeconds(): Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  private def vmHwmMb(): Double = scala.io.Source
    .fromFile("/proc/self/status").getLines()
    .find(_.startsWith("VmHWM:"))
    .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def write(path: String, s: String): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, s.getBytes(UTF_8))
  }
}

/** Seconds since the harness started, shared by spans and the listeners. */
final class Clock {
  private val t0 = System.nanoTime()
  def now(): Double = (System.nanoTime() - t0) / 1e9
  def ofMillis(epochMs: Long): Double =
    now() - (System.currentTimeMillis() - epochMs) / 1e3
}

/** Benchmark-side spans. Each span's id is set as the Spark local property
  * `perfbench.span`, so jobs launched inside it (from this thread or pools
  * it creates) name it as their parent. */
final class Spans(val clock: Clock,
    sc: org.apache.spark.SparkContext) {
  final case class Span(id: Int, name: String, phase: String,
      query: Option[String], parent: Option[Int], start: Double,
      var end: Double = -1)
  private val byId = new ConcurrentHashMap[Int, Span]()
  private var stack: List[Span] = Nil
  private var next = 0

  def span[A](name: String, phase: String, query: Option[String])(f: => A): A = {
    next += 1
    val s = Span(next, name, phase, query.orElse(stack.headOption.flatMap(_.query)),
      stack.headOption.map(_.id), clock.now())
    byId.put(s.id, s)
    stack = s :: stack
    sc.setLocalProperty("perfbench.span", s.id.toString)
    try f
    finally {
      s.end = clock.now()
      stack = stack.tail
      sc.setLocalProperty("perfbench.span",
        stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** Run a step of the current call in its own span; returns its value
    * and seconds. */
  def timed[A](name: String, query: String)(f: => A): (A, Double) = {
    val t0 = clock.now()
    val v = span(name, stack.headOption.map(_.phase).getOrElse("serve"),
      Some(query))(f)
    (v, clock.now() - t0)
  }

  def get(id: Int): Option[Span] = Option(byId.get(id))

  /** Ids of the top-level spans (one per call) of a phase. */
  def roots(phase: String): Set[Int] = byId.values.asScala
    .filter(s => s.phase == phase && s.parent.isEmpty).map(_.id).toSet

  def all: Seq[Map[String, Any]] = byId.values.asScala.toSeq.sortBy(_.id)
    .map(s => Map("id" -> s.id, "name" -> s.name, "phase" -> s.phase,
      "query" -> s.query.orNull, "parent" -> s.parent.getOrElse(null),
      "start" -> s.start, "end" -> s.end))
}

/** Counts the Spark work done inside each benchmark span. Jobs are
  * attributed to a layer by the innermost program frame of their call
  * site (the run sets `spark.callstack.depth` deep enough to reach it). */
final class Tracer(clock: Clock, cores: Int, spans: Spans)
    extends SparkListener {
  final case class Job(id: Int, layer: String, frame: String,
      span: Option[Int], start: Double, var end: Double = -1,
      var stages: Int = 0, var tasks: Int = 0)
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSite = mutable.Map.empty[Int, String]
  private val fitRdds = mutable.Set.empty[Int]
  private val trainExecs = mutable.Set.empty[String]
  private var runMs, spillBytes = 0L
  private val phaseShuffle = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val phaseInput = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private var rebuildStages = 0
  @volatile private var selfNs = 0L

  private def timedSelf(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally selfNs += System.nanoTime() - t0
  }

  /** Innermost program frame → layer. Ordered: the first rule matching the
    * innermost `graft.` frame wins. */
  private val rules: Seq[(String, String)] = Seq(
    "AlsEngine$.digestBounds" -> "als.train_digest",
    "GraftAlsLineage" -> "als.fit",
    "AlsEngine$.fit" -> "als.fit",
    "AlsEngine$.train" -> "als.fit",
    "Antidote$.step" -> "antidote.step",
    "Antidote$.polarizationStep" -> "antidote.step",
    "Antidote$.unfairnessStep" -> "antidote.step",
    "Antidote$.init" -> "antidote.init",
    "Antidote$.autoCap" -> "antidote.init",
    "Antidote$.userStats" -> "antidote.init",
    "Antidote$.topSupportItems" -> "antidote.init",
    "Antidote$.$anonfun$optimize" -> "antidote.step",
    "MfQueries$.$anonfun$qAntidoteEval" -> "antidote.eval",
    "Antidote$.evaluate" -> "antidote.eval",
    "Antidote$.polarization" -> "antidote.eval",
    "Antidote$.factorMoments" -> "antidote.eval",
    "Antidote$.losses" -> "antidote.eval",
    "Ratings$" -> "ratings.view",
    "PairStore$" -> "pairstore",
    "ShingleStore$" -> "shingles",
    "LlmQueries$.simhash" -> "simhash",
    "SimSearch$.ivfIndex" -> "ann",
    "SimSearch$.pqIndex" -> "ann",
    "SimSearch$.build" -> "ann",
    "StreamOps$.orderedSliceDir" -> "stream.slices",
    "StreamOps$.writeOrderedSlices" -> "stream.slices",
    "StreamOps$" -> "stream",
    "graft.Tables$" -> "tables",
    "perfbench.Harness$" -> "sql")

  /** Store-build frames: a serve-phase stage under one of these rebuilt
    * (part of) a store the build phase should have left in place. */
  private val storeBuild = Seq("PairStore$.build", "ShingleStore$.counted",
    "LlmQueries$.simhashSigs", "LlmQueries$.simhashCands",
    "SimSearch$.memoized", "StreamOps$.writeOrderedSlices")

  private def frames(site: String): Seq[String] =
    site.linesIterator.map(_.trim).filter(l =>
      l.startsWith("graft.") || l.startsWith("perfbench.") ||
        l.startsWith("org.apache.spark.ml.recommendation.GraftAlsLineage"))
      .toSeq

  def classify(site: String): String = {
    val fs = frames(site)
    fs.headOption.flatMap(top =>
      rules.collectFirst { case (pat, layer) if top.contains(pat) => layer })
      .orElse(if (fs.exists(_.contains("StreamOps$"))) Some("stream") else None)
      .getOrElse(if (fs.nonEmpty) "other" else "spark")
  }

  private def phaseOf(span: Option[Int]): String =
    span.flatMap(spans.get).map(_.phase)
      .getOrElse("other")

  /** Call site of each SQL execution: adaptive query stages run their jobs
    * from a pool thread whose own call site names no program frame. */
  private val execSite = mutable.Map.empty[String, String]
  private val predictExecs = mutable.Set.empty[String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      timedSelf {
        val id = x.executionId.toString
        val root = x.rootExecutionId.toString
        execSite(id) =
          if (frames(x.details).nonEmpty) x.details
          else execSite.getOrElse(root, x.details)
        // ALSModel.transform's prediction UDF over the two factor columns
        if (x.physicalPlanDescription.contains("UDF(features#")) predictExecs += id
      }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timedSelf {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty("perfbench.span")))
      .map(_.toInt)
    val exec = props.flatMap(p =>
      Option(p.getProperty("spark.sql.execution.id")))
    val own = e.stageInfos.headOption.map(_.details).getOrElse("")
    val site = if (frames(own).nonEmpty) own
      else exec.flatMap(execSite.get).getOrElse(own)
    val layer = classify(site) match {
      case l @ ("als.fit" | "als.train_digest") => l
      case l => if (exec.exists(predictExecs.contains)) "als.predict" else l
    }
    if (layer == "als.train_digest")
      trainExecs += exec.getOrElse(s"job${e.jobId}")
    val frame = frames(site).headOption
      .getOrElse(site.linesIterator.take(3).mkString(" | "))
    jobs(e.jobId) = Job(e.jobId, layer, frame, span, clock.ofMillis(e.time))
    e.stageInfos.foreach { s =>
      stageJob(s.stageId) = e.jobId
      stageSite(s.stageId) = s.details
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timedSelf {
    jobs.get(e.jobId).foreach(_.end = clock.ofMillis(e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    timedSelf {
      val info = e.stageInfo
      info.rddInfos.filter(_.name == "userInBlocks").foreach(r => fitRdds += r.id)
      stageJob.get(info.stageId).flatMap(jobs.get).foreach { j =>
        j.stages += 1
        val ph = phaseOf(j.span)
        val site = stageSite.getOrElse(info.stageId, "")
        if (ph == "serve" && frames(site).exists(f =>
            storeBuild.exists(f.contains)))
          rebuildStages += 1
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timedSelf {
    val m = e.taskMetrics
    if (m != null) {
      val job = stageJob.get(e.stageId).flatMap(jobs.get)
      job.foreach(_.tasks += 1)
      val ph = phaseOf(job.flatMap(_.span))
      if (ph != "setup") runMs += m.executorRunTime
      phaseShuffle(ph) += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      phaseInput(ph) += m.inputMetrics.bytesRead
    }
  }

  /** Streaming progress: one event per micro-batch trigger. */
  val triggerMs = mutable.ArrayBuffer.empty[Double]
  @volatile var commitMs = 0L
  val streams: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      timedSelf {
        val p = e.progress
        triggerMs.synchronized {
          triggerMs += Option(p.durationMs.get("triggerExecution"))
            .map(_.doubleValue).getOrElse(0.0)
        }
        // the maintainers merge and write their versioned state inside
        // the sink call (addBatch); stateful operators report their own
        commitMs += Option(p.durationMs.get("addBatch")).map(_.longValue)
          .getOrElse(0L) + p.stateOperators.map(_.commitTimeMs).sum
      }
  }

  private def layerTime(layer: String): Double = jobs.values
    .filter(j => j.layer == layer && j.end >= 0).map(j => j.end - j.start).sum

  /** Per-layer metrics; `workWall` is the build plus the serve wall time. */
  def summary(workWall: Double): Map[String, Any] = {
    val served = spans.roots("serve")
    def rootOf(id: Int): Option[Int] = spans.get(id).flatMap(s =>
      if (s.parent.isEmpty) Some(s.id) else s.parent.flatMap(rootOf))
    val perCall = jobs.values.toSeq.flatMap(j => j.span.flatMap(rootOf)
      .filter(served.contains).map(_ -> j)).groupBy(_._1)
    val nCalls = math.max(1, served.size).toDouble
    val trig = triggerMs.synchronized(triggerMs.toSeq)
    val fits = fitRdds.size
    val trainCalls = trainExecs.size
    Map(
      "tables.input_bytes" -> phaseInput("setup"),
      "sql.jobs_per_query" -> perCall.values.map(_.size).sum / nCalls,
      "sql.stages_per_query" ->
        perCall.values.map(_.map(_._2.stages).sum).sum / nCalls,
      "sql.tasks_per_query" ->
        perCall.values.map(_.map(_._2.tasks).sum).sum / nCalls,
      "als.train_calls" -> trainCalls,
      "als.fits" -> fits,
      "als.memo_hit_ratio" ->
        (if (trainCalls == 0) 0.0 else 1.0 - fits.toDouble / trainCalls),
      "als.fit_s" -> layerTime("als.fit"),
      "als.predict_s" -> layerTime("als.predict"),
      "antidote.init_s" -> layerTime("antidote.init"),
      "antidote.step_s" -> layerTime("antidote.step"),
      "antidote.eval_s" -> layerTime("antidote.eval"),
      "store.rebuild_stages" -> rebuildStages,
      "store.serve_shuffle_bytes" -> phaseShuffle("serve"),
      "stream.triggers" -> trig.size,
      "stream.trigger_ms_p50" -> Harness.median(trig),
      "stream.state_commit_ms" -> commitMs,
      "spark.shuffle_write_bytes" -> (phaseShuffle("build") + phaseShuffle("serve")),
      "spark.spill_bytes" -> spillBytes,
      "spark.core_busy_frac" -> runMs / 1e3 / (workWall * cores),
      "trace.listener_s" -> selfNs / 1e9,
      "trace.jobs" -> jobs.size)
  }

  def jobSpans: Seq[Map[String, Any]] = jobs.values.toSeq.map(j =>
    Map("id" -> s"job${j.id}", "name" -> j.layer, "frame" -> j.frame,
      "parent" -> j.span.orNull,
      "query" -> j.span.flatMap(spans.get).flatMap(_.query).orNull,
      "start" -> j.start, "end" -> j.end, "stages" -> j.stages,
      "tasks" -> j.tasks))
}

/** Minimal JSON writer for the harness's records. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: java.lang.Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
