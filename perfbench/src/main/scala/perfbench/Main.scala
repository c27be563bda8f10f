package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, ExecutionException, FutureTask, TimeUnit, TimeoutException}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.SparkEntry

/** The benchmark process: one `local[cores]` session, one closed-loop
  * client. Runs whole passes of a workload for a fixed time, checks the
  * digest of every output, and writes every record to a results file.
  *
  * Modes: `measure` (the default) and `record`, which runs one pass and
  * writes each output's digest, and with `--dump` the output itself as
  * parquet for `tools/check_oracle.py`.
  */
object Main {

  final case class Opts(
      workload: String,
      seed: Long,
      seconds: Double,
      trace: Boolean,
      input: String,
      corpus: String,
      work: String,
      out: String,
      references: String,
      launchedMs: Long,
      cores: Int,
      record: Boolean,
      dump: Option[String])

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def req(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(
      workload = req("workload"),
      seed = req("seed").toLong,
      seconds = req("seconds").toDouble,
      trace = kv.getOrElse("trace", "0") == "1",
      input = req("input"),
      corpus = req("corpus"),
      work = req("work"),
      out = req("out"),
      references = req("references"),
      launchedMs = kv.get("launched-ms").map(_.toLong).getOrElse(
        ManagementFactory.getRuntimeMXBean.getStartTime),
      cores = kv.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      record = kv.getOrElse("mode", "measure") == "record",
      dump = kv.get("dump"))
  }

  /** Per-call time limit; a capped call counts as failed. */
  val CapSeconds = 60L

  /** Reference digests: `name <TAB> check <TAB> expected <TAB> provenance`;
    * `check` is `digest` (rows and hash sum) or `rows` (row count only).
    */
  final case class Reference(check: String, expected: String)

  def loadReferences(path: String): Map[String, Reference] = {
    val f = new File(path)
    if (!f.exists) Map.empty
    else Files.readAllLines(f.toPath).asScala.toSeq
      .filter(l => l.trim.nonEmpty && !l.startsWith("#"))
      .map(_.split('\t'))
      .filter(_.length >= 3)
      .map(a => a(0) -> Reference(a(1), a(2)))
      .toMap
  }

  /** What one query call produced. Times are `System.nanoTime` marks. */
  final case class Call(
      pass: Int,
      traced: Boolean,
      index: Int,
      name: String,
      family: String,
      id: String,
      t0: Long,
      tBuilt: Long,
      tPlanned: Long,
      tEnd: Long,
      digest: Option[String],
      error: Option[String],
      verdict: String,
      analysisMs: Double,
      optimizationMs: Double,
      planningMs: Double,
      capFlushes: Option[(Long, Long, Long)]) {
    def wallS: Double = (tEnd - t0) / 1e9
    def buildS: Double = if (tBuilt > 0) (tBuilt - t0) / 1e9 else 0.0
    def planS: Double = if (tPlanned > 0) (tPlanned - tBuilt) / 1e9 else 0.0
    def actionS: Double = if (tPlanned > 0) (tEnd - tPlanned) / 1e9 else 0.0
    def failed: Boolean = verdict != "ok"
  }

  /** A pass of kind `prime` (the untimed first pass), `measure`, or
    * `extra` (a traced run's traced-only queries).
    */
  final case class Pass(
      index: Int, kind: String, traced: Boolean, wallS: Double, cpuS: Double,
      storeBytes: Long, storeFiles: Long, calls: Seq[Call])

  private def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => Double.NaN
    }

  private def procStatusKb(key: String): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(key + ":"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    catch { case _: Throwable => 0L }

  private def memTotalKb(): Long =
    try Files.readAllLines(Paths.get("/proc/meminfo")).asScala
      .find(_.startsWith("MemTotal:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    catch { case _: Throwable => 0L }

  /** (bytes, files) under `dir`. */
  def treeSize(dir: File): (Long, Long) =
    if (!dir.exists) (0L, 0L)
    else {
      val s = Files.walk(dir.toPath)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((b, n), p) => (b + Files.size(p), n + 1) }
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  /** Walks an executed plan, adaptive stages included. */
  private object PlanWalk extends AdaptiveSparkPlanHelper {
    def nodes(p: SparkPlan): Seq[SparkPlan] = collect(p) { case n => n }
  }

  /** Sums of GroupedTopK's SQL metrics over an executed plan:
    * (cap flushes, rows out, rows in). Rows in are those of the nearest
    * descendant that counts its output rows. Absent when the plan has no
    * such operator.
    */
  def groupedTopKMetrics(plan: SparkPlan): Option[(Long, Long, Long)] = {
    val ops = PlanWalk.nodes(plan).filter(_.metrics.contains("capFlushes"))
    if (ops.isEmpty) None
    else {
      def rowsIn(p: SparkPlan): Long = p.children.map { c =>
        c.metrics.get("numOutputRows").map(_.value).getOrElse(
          PlanWalk.nodes(c).drop(1).headOption.map(_ => rowsIn(c)).getOrElse(0L))
      }.sum
      Some((
        ops.map(_.metrics("capFlushes").value).sum,
        ops.map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum,
        ops.map(rowsIn).sum))
    }
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val wl = Workloads.byName(o.workload)
    val workDir = Paths.get(o.work).toAbsolutePath
    val warehouse = workDir.resolve("warehouse")
    Seq(warehouse, workDir.resolve("local"), workDir.resolve("checkpoint"), workDir.resolve("tmp"))
      .foreach(Files.createDirectories(_))
    val dataDir = if (wl.input == "corpus") o.corpus else o.input
    val refs = loadReferences(o.references)
    val registered = SparkEntry.queries

    def newSession(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[${o.cores}]")
        .appName(s"perfbench-${o.workload}")
        .config("spark.sql.shuffle.partitions", o.cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", warehouse.toString)
        .config("spark.local.dir", workDir.resolve("local").toString)
        .config("spark.checkpoint.dir", workDir.resolve("checkpoint").toString)
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s.sparkContext.setCheckpointDir(workDir.resolve("checkpoint").toString)
      s
    }

    val tables: Seq[String] = new File(dataDir).listFiles().toSeq
      .map(_.getName).filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted

    // Warm-up before any timed call: every input table is read (on `cores`
    // threads at once), and the digest action runs on an input table.
    def warmUp(s: SparkSession): Unit = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(o.cores)
      try {
        tables.map { t =>
          pool.submit(new Callable[Unit] {
            def call(): Unit = s.read.parquet(s"$dataDir/$t.parquet").limit(32)
              .write.format("noop").mode("overwrite").save()
          })
        }.foreach(_.get())
      } finally pool.shutdown()
      Digest.of(s.read.parquet(s"$dataDir/${tables.head}.parquet").limit(32))
    }

    // ---- set-up, repeated: the first cycle counts from process launch.
    val setupCycles = if (o.record) 1 else 3
    var spark: SparkSession = null
    val setups = (1 to setupCycles).map { cycle =>
      val startMs = if (cycle == 1) o.launchedMs.toDouble else System.currentTimeMillis().toDouble
      if (spark != null) spark.stop()
      val ts = System.nanoTime()
      spark = newSession()
      val sessionS = (System.nanoTime() - ts) / 1e9
      val tw = System.nanoTime()
      warmUp(spark)
      val warmS = (System.nanoTime() - tw) / 1e9
      (sessionS, warmS, (System.currentTimeMillis() - startMs) / 1e3)
    }
    val sc = spark.sparkContext
    System.err.println(f"[perfbench] set-up ${setups.map(_._3).mkString(" / ")}")

    val tracer = new Tracer
    val layers = new LayerListener
    val batches = new BatchListener

    def resetStore(): Unit = {
      spark.catalog.listTables().collect().foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS `${t.name}`")
      }
      if (Files.exists(warehouse)) {
        Files.list(warehouse).iterator().asScala.toList.foreach(deleteTree)
      }
    }

    def drainWorker(id: String, th: Thread): Unit = {
      // Cancel the job group until the worker thread is dead: a single
      // cancel landing between two of an AQE query's jobs would leave it
      // running, holding scheduler slots during every later call.
      var waitedMs = 0L
      while (th.isAlive && waitedMs < 30000L) {
        try sc.cancelJobGroup(id) catch { case _: Throwable => () }
        th.join(500L)
        waitedMs += 500L
      }
      if (th.isAlive)
        System.err.println(s"[perfbench] $id: worker still alive after drain")
    }

    def call(pass: Int, traced: Boolean, index: Int, name: String, occurrence: Int): Call = {
      val id = s"p$pass-$index-$name"
      val family = Workloads.familyOf.getOrElse(name, "Other")
      val marks = Array.fill(4)(0L)
      val key = if (occurrence > 1) s"$name#$occurrence" else name
      marks(0) = System.nanoTime()
      val task = new FutureTask(new Callable[(String, Double, Double, Double, Option[(Long, Long, Long)])] {
        def call() = {
          val fn = registered.getOrElse(name,
            throw new NoSuchElementException(s"query '$name' is not registered"))
          sc.setJobGroup(id, name, interruptOnCancel = true)
          sc.setLocalProperty(LayerListener.PhaseKey, "build")
          val df: DataFrame = fn(spark, dataDir)
          marks(1) = System.nanoTime()
          sc.setLocalProperty(LayerListener.PhaseKey, "action")
          val d = Digest.frame(df)
          val plan = d.queryExecution.executedPlan
          marks(2) = System.nanoTime()
          val r = d.collect()(0)
          marks(3) = System.nanoTime()
          def phaseMs(p: String) =
            Seq(df, d).map(_.queryExecution.tracker.phases.get(p).map(_.durationMs.toDouble)
              .getOrElse(0.0)).sum
          val topk = if (traced) groupedTopKMetrics(plan) else None
          o.dump.foreach(dir => df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$key"))
          (Digest.render(r.getLong(0), r.getDecimal(1)),
            phaseMs("analysis"), phaseMs("optimization"), phaseMs("planning"), topk)
        }
      })
      val th = new Thread(task, s"perfbench-$id")
      th.setDaemon(true)
      th.start()
      val result: Either[String, (String, Double, Double, Double, Option[(Long, Long, Long)])] =
        try Right(task.get(CapSeconds, TimeUnit.SECONDS))
        catch {
          case _: TimeoutException =>
            task.cancel(true)
            drainWorker(id, th)
            Left(s"capped after ${CapSeconds}s")
          case e: Throwable =>
            val cause = e match {
              case ee: ExecutionException if ee.getCause != null => ee.getCause
              case other => other
            }
            Left(s"${cause.getClass.getSimpleName}: ${cause.getMessage}".take(400))
        }
      val tEnd = if (marks(3) > 0) marks(3) else System.nanoTime()
      result match {
        case Left(err) =>
          System.err.println(s"[perfbench] $name failed: $err")
          Call(pass, traced, index, key, family, id, marks(0), marks(1), marks(2), tEnd,
            None, Some(err), if (err.startsWith("capped")) "capped" else "error", 0, 0, 0, None)
        case Right((digest, an, op, pl, topk)) =>
          val verdict = refs.get(key) match {
            case None => if (o.record) "ok" else "no-reference"
            case Some(Reference("rows", exp)) =>
              if (digest.takeWhile(_ != ':') == exp) "ok" else "mismatch"
            case Some(Reference(_, exp)) => if (digest == exp) "ok" else "mismatch"
          }
          if (verdict != "ok")
            System.err.println(s"[perfbench] $key: $verdict (got $digest, want ${refs.get(key)})")
          Call(pass, traced, index, key, family, id, marks(0), marks(1), marks(2), tEnd,
            Some(digest), None, verdict, an, op, pl, topk)
      }
    }

    val order = wl.order(o.seed)
    val passes = mutable.ArrayBuffer.empty[Pass]

    def runPass(kind: String, traced: Boolean, order: Seq[String], reset: Boolean = true): Pass = {
      val pass = passes.size
      if (reset && wl.resetStorePerPass) resetStore()
      // let the context cleaner drop what earlier passes left behind
      System.gc()
      val cpu0 = processCpuS()
      val t0 = System.nanoTime()
      val seen = mutable.Map.empty[String, Int]
      val calls = order.zipWithIndex.map { case (q, i) =>
        seen(q) = seen.getOrElse(q, 0) + 1
        call(pass, traced, i, q, seen(q))
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = processCpuS() - cpu0
      val (bytes, files) = treeSize(warehouse.toFile)
      Pass(pass, kind, traced, wall, cpu, bytes, files, calls)
    }


    def tracing(on: Boolean): Unit =
      if (on) {
        sc.addSparkListener(layers)
        spark.streams.addListener(batches)
      } else {
        ListenerDrain(sc)
        sc.removeSparkListener(layers)
        spark.streams.removeListener(batches)
      }

    var listenerNs = 0L
    if (o.record) {
      passes += runPass("measure", traced = false, wl.queries ++ wl.tracedExtra)
    } else {
      // In a fresh JVM the first pass spends about half its CPU compiling
      // Spark's and the engine's hot paths, and how much of that lands on
      // each query follows the seed's order. A priming pass is run (and
      // checked) but not measured.
      passes += runPass("prime", traced = false, order)
      if (!o.trace) {
        // Whole passes while the budget lasts, at least one. The metrics
        // are those of the first, so they mean the same thing whether or
        // not a faster program fits more passes.
        val t0 = System.nanoTime()
        do passes += runPass("measure", traced = false, order)
        while ((System.nanoTime() - t0) / 1e9 + passes.last.wallS <= o.seconds)
      } else {
        // The same pass, traced; then the workload's traced-only calls.
        tracing(on = true)
        passes += runPass("measure", traced = true, order)
        ListenerDrain(sc)
        listenerNs = layers.busyNs
        if (wl.tracedExtra.nonEmpty)
          passes += runPass("extra", traced = true, wl.tracedExtra, reset = false)
        tracing(on = false)
      }
    }

    val probes: Map[String, Double] =
      if (o.trace) Probes.run(spark, o, dataDir, workDir, tracer) else Map.empty

    // ---- records and metrics
    val first = passes.find(_.kind == "measure").get
    val allCalls = passes.flatMap(_.calls).toSeq
    val attempted = allCalls.size
    val failedCalls = allCalls.filter(_.failed)

    val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
    e2e("setup_s") = (Stats.median(setups.map(_._3)), "s")
    e2e("wall_s") = (first.wallS, "s")
    e2e("query_p50_s") = (Stats.median(first.calls.map(_.wallS)), "s")
    e2e("cpu_s") = (first.cpuS, "s")
    e2e("peak_rss_mb") = (procStatusKb("VmHWM") / 1024.0, "MB")

    val perLayer =
      if (o.trace) {
        // The listener runs on Spark's bus thread, beside the query; the
        // time inside its callbacks is what tracing added to the pass.
        val overhead = listenerNs / 1e9 / first.wallS
        LayerMetrics(o, first, passes.filter(_.kind == "extra").flatMap(_.calls).toSeq, layers,
          batches, tracer, setups, dataDir, overhead) ++
          probes.map { case (k, v) => k -> (v, Probes.unit(k)) }
      } else Map.empty[String, (Double, String)]

    val inputBytes = treeSize(new File(dataDir))._1
    val sparkConf = spark.conf.getAll.filter(_._1.startsWith("spark.")).toSeq.sortBy(_._1)
    val tailP = Stats.tailPercentile(first.calls.size)
    val results = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload,
      "seed" -> o.seed,
      "seconds" -> o.seconds,
      "trace" -> o.trace,
      "mode" -> (if (o.record) "record" else "measure"),
      "order" -> order,
      "samples" -> first.calls.size,
      "attempted" -> attempted,
      "failed" -> failedCalls.size,
      "failed_frac" -> (if (attempted == 0) 1.0 else failedCalls.size.toDouble / attempted),
      "correct" -> (attempted > 0 && failedCalls.isEmpty),
      "failures" -> failedCalls.map(c =>
        Map("name" -> c.name, "pass" -> c.pass, "verdict" -> c.verdict,
          "error" -> c.error, "digest" -> c.digest)),
      "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "query_tail" -> tailP.map(p => Map("percentile" -> p,
        "value_s" -> Stats.percentile(first.calls.map(_.wallS), p),
        "samples" -> first.calls.size)),
      "per_layer" -> perLayer.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }.to(mutable.LinkedHashMap),
      "setups" -> setups.map { case (se, wa, tot) =>
        Map("session_s" -> se, "warmup_s" -> wa, "total_s" -> tot) },
      "passes" -> passes.map(p => Map(
        "pass" -> p.index, "kind" -> p.kind, "traced" -> p.traced, "wall_s" -> p.wallS, "cpu_s" -> p.cpuS,
        "warehouse_bytes" -> p.storeBytes, "warehouse_files" -> p.storeFiles)),
      "calls" -> allCalls.map(c => mutable.LinkedHashMap[String, Any](
        "pass" -> c.pass, "traced" -> c.traced, "i" -> c.index, "name" -> c.name,
        "family" -> c.family, "wall_s" -> c.wallS, "build_s" -> c.buildS,
        "plan_s" -> c.planS, "action_s" -> c.actionS, "verdict" -> c.verdict,
        "digest" -> c.digest, "error" -> c.error,
        "catalyst_ms" -> Map("analysis" -> c.analysisMs,
          "optimization" -> c.optimizationMs, "planning" -> c.planningMs))),
      "host" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "cores_used" -> o.cores,
        "mem_total_mb" -> memTotalKb() / 1024.0,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "java" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "input_dir" -> dataDir,
        "input_bytes" -> inputBytes,
        "spark_conf" -> sparkConf.toMap),
      "spans" -> (if (o.trace) {
        val spans = tracer.spans
        val self = Span.selfTimes(spans)
        spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
          "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
          "self_ms" -> self(s.id)))
      } else Nil))

    o.dump.foreach { dir =>
      // Record mode only: write each output for the DuckDB oracle check.
      Files.createDirectories(Paths.get(dir))
      Files.writeString(Paths.get(dir, "oracle_sql.json"),
        Json.render(SparkEntry.oracleSql.filter { case (k, _) => (wl.queries ++ wl.tracedExtra).contains(k) }))
    }
    Files.writeString(Paths.get(o.out), Json.render(results))
    spark.stop()
  }
}
