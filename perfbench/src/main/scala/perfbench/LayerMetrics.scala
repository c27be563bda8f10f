package perfbench

import scala.collection.mutable

import Main.{Call, Opts, Pass}

/** Per-layer metrics of a traced run, read from its first pass: cold and
  * traced, the same pass an untraced run reports end to end. The inline
  * dedup time and the streaming metrics come from the workload's
  * traced-only extra calls. Families, store steps or streaming a workload
  * does not run read 0. Also records the workload → pass → query → phase →
  * job → stage spans.
  */
object LayerMetrics {

  private val MB = 1024.0 * 1024.0

  /** Queries that read or write a persisted store. */
  private val storeQueries =
    Set("d_index_build", "d_index_probe", "d_index_append", "d_index_compact",
      "d_stream_ingest", "e_index_build", "e_index_search", "e_index_append",
      "e_index_reseed", "e_index_reseed_apply")

  def apply(
      o: Opts,
      pass: Pass,
      extra: Seq[Call],
      layers: LayerListener,
      batches: BatchListener,
      tracer: Tracer,
      setups: Seq[(Double, Double, Double)],
      dataDir: String,
      overheadFrac: Double): Map[String, (Double, String)] = {
    val calls = pass.calls
    val (jobs, stages) = layers.snapshot()
    val jobsByCall = jobs.groupBy(_.group)
    // each stage belongs to the first job that listed it
    val stageOwner = mutable.Map.empty[Int, JobRecord]
    jobs.sortBy(_.id).foreach(j => j.stageIds.foreach(s => stageOwner.getOrElseUpdate(s, j)))
    def ranStages(js: Seq[JobRecord]): Seq[(Int, StageTotals)] = {
      val ids = js.toSet
      stages.toSeq.filter { case (id, st) =>
        st.tasks > 0 && stageOwner.get(id).exists(ids.contains)
      }
    }
    val callStages: Map[String, Seq[(Int, StageTotals)]] =
      calls.map(c => c.id -> ranStages(jobsByCall.getOrElse(c.id, Nil))).toMap
    val allStages = calls.flatMap(c => callStages(c.id).map(_._2))
    val callJobs = calls.flatMap(c => jobsByCall.getOrElse(c.id, Nil))

    recordSpans(o, pass, jobsByCall, callStages, tracer)

    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(k: String, v: Double, unit: String): Unit = m(k) = (v, unit)
    def sumSt(f: StageTotals => Double): Double = allStages.map(f).sum

    put("queries.build_s", calls.map(_.buildS).sum, "s")
    put("queries.action_s", calls.map(_.actionS).sum, "s")

    Workloads.familyNames.foreach { f =>
      val fc = calls.filter(_.family == f)
      val fs = fc.flatMap(c => callStages(c.id).map(_._2))
      put(s"family.$f.wall_s", fc.map(_.wallS).sum, "s")
      put(s"family.$f.stages", fs.size.toDouble, "count")
      put(s"family.$f.cpu_s", fs.map(_.cpuNs / 1e9).sum, "s")
    }

    put("catalyst.plan_s", calls.map(_.planS).sum, "s")
    put("catalyst.analysis_s", calls.map(_.analysisMs / 1e3).sum, "s")
    put("catalyst.optimization_s", calls.map(_.optimizationMs / 1e3).sum, "s")
    put("catalyst.planning_s", calls.map(_.planningMs / 1e3).sum, "s")

    put("spark.jobs", callJobs.size.toDouble, "count")
    put("spark.eager_jobs", callJobs.count(_.phase == "build").toDouble, "count")
    put("spark.stages", allStages.size.toDouble, "count")
    put("spark.tasks", sumSt(_.tasks.toDouble), "count")
    put("spark.task_wait_s", sumSt(_.waitMs / 1e3), "s")
    put("spark.busy_frac",
      if (pass.wallS <= 0) 0.0 else sumSt(_.runMs / 1e3) / (pass.wallS * o.cores), "ratio")
    put("spark.executor_run_s", sumSt(_.runMs / 1e3), "s")
    put("spark.executor_cpu_s", sumSt(_.cpuNs / 1e9), "s")
    put("spark.gc_s", sumSt(_.gcMs / 1e3), "s")
    put("spark.shuffle_read_mb", sumSt(_.shuffleReadBytes / MB), "MB")
    put("spark.shuffle_write_mb", sumSt(_.shuffleWriteBytes / MB), "MB")
    put("spark.shuffle_records", sumSt(_.shuffleRecords.toDouble), "count")
    put("spark.spill_mb", sumSt(_.spillBytes / MB), "MB")
    put("spark.peak_exec_mem_mb",
      if (allStages.isEmpty) 0.0 else allStages.map(_.peakExecMem).max / MB, "MB")
    put("spark.input_mb", sumSt(_.inputBytes / MB), "MB")
    put("spark.output_mb", sumSt(_.outputBytes / MB), "MB")

    def wallOf(q: String) = calls.filter(_.name == q).map(_.wallS).sum
    put("store.build_s", wallOf("d_index_build"), "s")
    put("store.probe_s", wallOf("d_index_probe"), "s")
    put("store.append_s", wallOf("d_index_append"), "s")
    put("store.compact_s", wallOf("d_index_compact"), "s")
    val storeCalls = calls.filter(c => storeQueries.contains(c.name))
    val hasStore = storeCalls.nonEmpty
    put("store.bytes_written_mb",
      storeCalls.flatMap(c => callStages(c.id)).map(_._2.outputBytes / MB).sum, "MB")
    put("store.files_written", if (hasStore) pass.storeFiles.toDouble else 0.0, "count")
    val inline = extra.filter(_.name == "d_incremental_dedup").map(_.wallS).sum
    put("store.probe_vs_inline", if (inline > 0) wallOf("d_index_probe") / inline else 0.0, "ratio")
    val inputBytes = Main.treeSize(new java.io.File(dataDir))._1.toDouble
    put("store.bytes_per_input_byte",
      if (hasStore && inputBytes > 0) pass.storeBytes / inputBytes else 0.0, "ratio")

    put("streaming.batches", batches.batches.toDouble, "count")
    put("streaming.batch_s", batches.batchMs / 1e3, "s")
    put("streaming.rows_per_s",
      if (batches.batchMs > 0) batches.rows / (batches.batchMs / 1e3) else 0.0, "rows/s")

    put("setup.session_s", Stats.median(setups.map(_._1)), "s")
    put("setup.warmup_s", Stats.median(setups.map(_._2)), "s")
    put("trace.overhead_frac", overheadFrac, "ratio")
    val covers = calls.filterNot(_.failed).map(c => (c.buildS + c.planS + c.actionS) / c.wallS)
    put("trace.phase_cover_min", if (covers.isEmpty) 0.0 else covers.min, "ratio")
    m.toMap
  }

  private def recordSpans(
      o: Opts,
      pass: Pass,
      jobsByCall: Map[String, Seq[JobRecord]],
      callStages: Map[String, Seq[(Int, StageTotals)]],
      tracer: Tracer): Unit = {
    val calls = pass.calls
    if (calls.isEmpty) return
    val root = tracer.record(0, "workload", o.workload, calls.head.t0, calls.last.tEnd)
    val ps = tracer.record(root, "pass", s"pass ${pass.index}", calls.head.t0, calls.last.tEnd)
    calls.foreach { c =>
      val q = tracer.record(ps, "query", c.name, c.t0, c.tEnd)
      val phaseIds = mutable.Map.empty[String, Long]
      if (c.tBuilt > 0) phaseIds("build") = tracer.record(q, "build", c.name, c.t0, c.tBuilt)
      if (c.tPlanned > 0) {
        tracer.record(q, "plan", c.name, c.tBuilt, c.tPlanned)
        phaseIds("action") = tracer.record(q, "action", c.name, c.tPlanned, c.tEnd)
      }
      val stagesOf = callStages(c.id).toMap
      val placed = mutable.Set.empty[Int]
      jobsByCall.getOrElse(c.id, Nil).foreach { j =>
        val parent = phaseIds.getOrElse(j.phase, q)
        val end = if (j.end.isNaN) j.start else j.end
        val jid = tracer.newId()
        tracer.add(Span(jid, parent, "job", s"job ${j.id}", j.start, end))
        j.stageIds.flatMap(s => stagesOf.get(s).map(s -> _)).foreach { case (sid, st) =>
          if (!st.submitted.isNaN && !st.completed.isNaN && placed.add(sid))
            tracer.add(Span(tracer.newId(), jid, "stage", s"stage $sid", st.submitted, st.completed))
        }
      }
    }
  }
}
