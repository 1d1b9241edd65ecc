package perfbench

import perfbench.Stats.median

import scala.collection.immutable.ListMap

/** What a run leaves for the metrics. */
final case class RunData(setup: SetupResult, oracle: Oracle, pools: Pools,
    indexBytes: Map[String, Long])

/** Runs a workload end to end and turns what it measured into metrics. */
object Report {
  type Metrics = Seq[(String, (Double, String))]
  private val MB = 1024.0 * 1024.0

  def run(w: Workload): RunData = {
    val t0 = System.nanoTime()
    val (oracle, slices) = w.warmUp()
    println(f"warm-up (oracle + slice builds): ${(System.nanoTime() - t0) / 1e9}%.3f s")
    println(s"corpus: ${oracle.numDocs} turns, ${oracle.inputBytes} bytes of text")
    if (w.name == "replay") w.checkSlices(slices, oracle)
    val (setup, searcher) = w.setUp(pin = w.name == "serve")
    w.checkIndex(setup, oracle)
    val pools = new Pools(oracle, w.fx, w.inputSeed)
    val exp = w.expected(setup.path, pools, oracle)
    val bytes = Fixture.tableBytes(setup.path)
    w.name match {
      case "serve" =>
        w.serveLoop(searcher, pools, oracle, exp)
        searcher.unpin()
      case "replay" =>
        w.replayLoop(setup.path, slices, pools, oracle, exp)
    }
    RunData(setup, oracle, pools, bytes)
  }

  /** Percentile `p` of the loop latencies of the given ops, weighted by
    * the workload's mix. */
  private def mixQuantile(w: Workload, ops: Seq[Op], p: Double): Double = {
    Stats.weighted(ops.map(_.ms).zip(Stats.mixWeights[Op](ops, _.mode, w.mix)), p)
  }

  private def mixMean(w: Workload, ops: Seq[Op]): Double = {
    val ws = Stats.mixWeights[Op](ops, _.mode, w.mix)
    ops.map(_.ms).zip(ws).map { case (m, x) => m * x }.sum / ws.sum
  }

  /** The tail percentile. Fixed, not derived from the sample count: how
    * many queries a run completes moves with the host's load, and a
    * percentile that moved with it would cross the boundary between two
    * modes of the mix. The report states how many samples lie beyond it. */
  private val tailP = 0.9

  private def orZero(xs: Seq[Double])(f: Seq[Double] => Double): Double =
    if (xs.isEmpty) 0.0 else f(xs)

  /** The metrics a user of the engine sees, from an untraced run. */
  def endToEnd(w: Workload, r: RunData): Metrics = {
    val ops = w.ops.toSeq
    Seq(
      "setup_s" -> (median(r.setup.setupS), "s"),
      "query_p50_ms" -> (mixQuantile(w, ops, 0.5), "ms"),
      "query_tail_ms" -> (mixQuantile(w, ops, tailP), "ms"),
      "topk_p50_ms" -> (mixQuantile(w, ops.filter(_.topk), 0.5), "ms"),
      // one client in a closed loop: its rate is the inverse of the mean
      // latency over the mix
      "queries_per_s" -> (1000.0 / mixMean(w, ops), "1/s"),
      "index_bytes_per_input_byte" -> (r.indexBytes.values.sum.toDouble / r.oracle.inputBytes, "ratio"))
  }

  /** The per-layer metrics of a traced run. Metrics of a surface the
    * workload does not run read 0. */
  def perLayer(w: Workload, r: RunData): Metrics = {
    val t = w.tracer
    val spans = t.spans
    val work = t.workBySpan()
    val incl = t.inclusive(work)
    def named(n: String) = spans.filter(_.name == n)
    def stage(s: String): Seq[Double] =
      r.setup.manifests.map(_.stages.filter(_.stage.startsWith(s)).map(_.durationMs).sum / 1000.0)
    val builds = named("storage.build").take(r.setup.manifests.size) // the set-up builds
    val buildWork = builds.map(s => incl(s.id))
    def medW(f: Work => Double) = orZero(buildWork.map(f))(median)
    // the Spark work of one traced operation: its spans minus the probes
    val byReq = spans.groupBy(_.request)
    val traced = w.ops.filter(_.traced).toSeq
    val opWork: Seq[(Op, Work, Double)] = traced.map { op =>
      val own = byReq.getOrElse(op.request, Nil).filterNot(s => Workload.probes(s.name))
      (op, own.map(s => work.getOrElse(s.id, Work())).foldLeft(Work())(_ + _), own.map(_.ms).sum)
    }
    def perOp(f: ((Op, Work, Double)) => Double) = orZero(opWork.map(f))(Stats.mean)
    def modeP50(modes: String*) = orZero(w.ops.filter(o => modes.contains(o.mode)).map(_.ms).toSeq)(median)
    def batch(n: String, f: Work => Double) = orZero(named(n).map(s => f(incl(s.id))))(median)
    val resolves = named("query.resolve")
    val all = work.values.foldLeft(Work())(_ + _)
    val bytes = r.indexBytes
    def mb(table: String) = bytes.getOrElse(table, 0L) / MB
    // tracing overhead: traced minus untraced mean latency per mode,
    // weighted by the mix over the modes that have both
    val overhead = {
      val byMode = w.ops.toSeq.groupBy(_.mode).toSeq.flatMap { case (m, os) =>
        val (on, off) = os.partition(_.traced)
        if (on.isEmpty || off.isEmpty) None
        else Some(w.mix(m) -> (Stats.mean(on.map(_.ms)) - Stats.mean(off.map(_.ms))))
      }
      if (byMode.isEmpty) 0.0 else byMode.map { case (x, d) => x * d }.sum / byMode.map(_._1).sum
    }
    val self = t.selfMs
    def selfMs(layer: String) = spans.filter(_.layer == layer).map(s => self(s.id)).sum
    def skip(m: Option[graft.query.WandMetrics]) = m.map(_.skipRate).getOrElse(0.0)
    Seq(
      "analysis.query_terms_us" -> (orZero(named("analysis.terms").map(_.ms * 1000))(median), "us"),
      "analysis.build_raw_s" -> (median(stage("raw")), "s"),
      "index.ordinals_s" -> (median(r.setup.ordinalsS), "s"),
      "index.blocks_s" -> (median(stage("blocks")), "s"),
      "storage.docs_s" -> (median(stage("docs")), "s"),
      "storage.stats_s" -> (median(stage("stats")), "s"),
      "storage.dict_s" -> (median(stage("dict")), "s"),
      // the postings groups run concurrently: their wall is what the build
      // spends outside the serial stages (the stats stage overlaps dict)
      "storage.postings_s" -> (median(r.setup.buildS.indices.map(i =>
        r.setup.buildS(i) - Seq("docs", "keymap", "raw", "dict", "blocks").map(stage(_)(i)).sum)), "s"),
      "storage.build_turns_per_s" -> (r.oracle.numDocs / median(
        r.setup.ordinalsS.zip(r.setup.buildS).map { case (a, b) => a + b }), "1/s"),
      "storage.build_jobs" -> (medW(_.jobs), "count"),
      "storage.build_tasks" -> (medW(_.tasks), "count"),
      "storage.build_shuffle_write_mb" -> (medW(_.shuffleWriteBytes / MB), "MB"),
      "storage.build_spill_mb" -> (medW(_.spillBytes / MB), "MB"),
      "storage.build_gc_s" -> (medW(_.gcMs / 1000), "s"),
      "storage.docs_mb" -> (mb("docs"), "MB"),
      "storage.postings_mb" -> (mb("postings"), "MB"),
      "storage.blocks_mb" -> (mb("blocks"), "MB"),
      "storage.dict_mb" -> (mb("term_dict"), "MB"),
      "storage.doc_stats_mb" -> (mb("doc_stats"), "MB"),
      "storage.staging_mb" -> (mb("_stage"), "MB"),
      "query.resolve_us" -> (orZero(resolves.map(_.ms * 1000))(median), "us"),
      "query.resolve_jobs" -> (orZero(resolves.map(s => work.getOrElse(s.id, Work()).jobs.toDouble))(Stats.mean), "count"),
      "query.jobs_per_query" -> (perOp(_._2.jobs), "count"),
      "query.stages_per_query" -> (perOp(_._2.stages), "count"),
      "query.tasks_per_query" -> (perOp(_._2.tasks), "count"),
      "query.job_ms_per_query" -> (perOp(_._2.jobWallMs), "ms"),
      "query.driver_ms_per_query" -> (perOp(x => math.max(0.0, x._3 - x._2.jobWallMs)), "ms"),
      "query.shuffle_mb_per_query" -> (perOp(_._2.shuffleWriteBytes / MB), "MB"),
      "query.input_mb_per_query" -> (perOp(_._2.inputBytes / MB), "MB"),
      "query.rows_read_per_hit" -> (opWork.map(_._2.inputRecords).sum.toDouble /
        math.max(1, opWork.map(_._1.rows).sum), "ratio"),
      "query.exchange_frac" -> (perOp(x => if (x._2.shuffled) 1.0 else 0.0), "ratio"),
      "query.wand_skip_rate" -> (skip(w.loopWand), "ratio"),
      "serve.pin_s" -> (orZero(r.setup.pinS)(median), "s"),
      "serve.pinned_mb" -> (r.setup.pinnedBytes / MB, "MB"),
      "serve.wand_p50_ms" -> (if (w.name == "serve") modeP50("wand") else 0.0, "ms"),
      "serve.count_p50_ms" -> (modeP50("count-and", "count-or"), "ms"),
      "serve.match_p50_ms" -> (if (w.name == "serve") modeP50("and", "or") else 0.0, "ms"),
      "serve.phrase_p50_ms" -> (if (w.name == "serve") modeP50("phrase", "phrase-pair") else 0.0, "ms"),
      "serve.hot_phrase_p50_ms" -> (modeP50("hot-phrase"), "ms"),
      "search.bm25_p50_ms" -> (modeP50("bm25"), "ms"),
      "search.wand_p50_ms" -> (if (w.name == "replay") modeP50("wand") else 0.0, "ms"),
      "search.match_p50_ms" -> (modeP50("match"), "ms"),
      "search.phrase_p50_ms" -> (if (w.name == "replay") modeP50("phrase") else 0.0, "ms"),
      "search.collapse_p50_ms" -> (modeP50("collapse"), "ms"),
      "search.bool_p50_ms" -> (modeP50("bool"), "ms"),
      "search.fed_bm25_p50_ms" -> (modeP50("fed_bm25"), "ms"),
      // batch throughput moves with the host's load more than the bound of
      // an end-to-end metric allows (whole runs read 20% apart on a shared
      // 4-core VM), so it is reported here, ungated
      "batch.wand_qps" -> (r.pools.topk.size / median(w.batchWandS.toSeq), "1/s"),
      "batch.exh_qps" -> (r.pools.topk.size / median(w.batchExhS.toSeq), "1/s"),
      "batch.wand_jobs" -> (batch("query.bm25TopKBatchWand", _.jobs), "count"),
      "batch.exh_jobs" -> (batch("query.bm25TopKBatch", _.jobs), "count"),
      "batch.wand_shuffle_mb" -> (batch("query.bm25TopKBatchWand", _.shuffleWriteBytes / MB), "MB"),
      "batch.exh_shuffle_mb" -> (batch("query.bm25TopKBatch", _.shuffleWriteBytes / MB), "MB"),
      "batch.wand_spill_mb" -> (batch("query.bm25TopKBatchWand", _.spillBytes / MB), "MB"),
      "batch.exh_spill_mb" -> (batch("query.bm25TopKBatch", _.spillBytes / MB), "MB"),
      "batch.wand_executor_cpu_s" -> (batch("query.bm25TopKBatchWand", _.cpuMs / 1000), "s"),
      "batch.exh_executor_cpu_s" -> (batch("query.bm25TopKBatch", _.cpuMs / 1000), "s"),
      "batch.wand_skip_rate" -> (skip(w.batchWand), "ratio"),
      "spark.gc_s" -> (all.gcMs / 1000, "s"),
      "spark.task_failures" -> (all.failedTasks.toDouble, "count"),
      "spark.scheduler_delay_ms" -> (all.schedDelayMs / math.max(1, all.jobs), "ms"),
      "analysis.self_ms" -> (selfMs("analysis"), "ms"),
      "index.self_ms" -> (selfMs("index"), "ms"),
      "storage.self_ms" -> (selfMs("storage"), "ms"),
      "query.self_ms" -> (selfMs("query"), "ms"),
      "trace.overhead_ms" -> (overhead, "ms"))
  }

  /** Human-readable lines: latency with its percentile and sample count,
    * and in a traced run the self time per span name. */
  def summary(w: Workload, r: RunData): Seq[String] = {
    val q = w.ops.map(_.ms).toSeq
    val tv = if (q.isEmpty) 0.0 else mixQuantile(w, w.ops.toSeq, tailP)
    val modes = w.ops.groupBy(_.mode).toSeq.sortBy(_._1).map { case (m, os) =>
      f"$m=${median(os.map(_.ms).toSeq)}%.1fms(n=${os.size})" }
    Seq(
      f"set-up: median of ${r.setup.setupS.size}: ${median(r.setup.setupS)}%.3f s " +
        r.setup.setupS.map(s => f"$s%.3f").mkString("[", ", ", "]"),
      f"queries: n=${q.size} in ${w.loopS}%.2f s; mix-weighted p50 " +
        f"${if (q.isEmpty) 0.0 else mixQuantile(w, w.ops.toSeq, 0.5)}%.1f ms; mix-weighted p${100 * tailP}%.0f " +
        f"${tv}%.1f ms (${q.count(_ > tv)} samples beyond it)",
      s"per mode p50: ${modes.mkString(" ")}",
      s"checks: attempted=${w.attempted} failed=${w.failed}") ++
      (if (!w.tracer.enabled) Nil else {
        val self = w.tracer.selfMs
        "self time per span name (ms): count total self" +:
          w.tracer.spans.groupBy(_.name).toSeq.sortBy(-_._2.map(s => self(s.id)).sum).map {
            case (n, ss) => f"  $n%-28s ${ss.size}%5d ${ss.map(_.ms).sum}%10.1f ${ss.map(s => self(s.id)).sum}%10.1f"
          }
      })
  }

  /** Every span with its parent, request, self time and Spark work. */
  def trace(w: Workload, env: ListMap[String, Any], metrics: Metrics): ListMap[String, Any] = {
    val t = w.tracer
    val work = t.workBySpan()
    val self = t.selfMs
    val t0 = t.spans.headOption.map(_.startNs).getOrElse(0L)
    val spans = t.spans.map { s =>
      val x = work.getOrElse(s.id, Work())
      ListMap("id" -> s.id, "name" -> s.name, "layer" -> s.layer, "request" -> s.request,
        "parent" -> s.parent, "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6,
        "self_ms" -> self(s.id), "jobs" -> x.jobs, "stages" -> x.stages, "tasks" -> x.tasks,
        "job_ms" -> x.jobWallMs, "executor_run_ms" -> x.runMs, "executor_cpu_ms" -> x.cpuMs, "input_bytes" -> x.inputBytes,
        "shuffle_read_bytes" -> x.shuffleReadBytes, "shuffle_write_bytes" -> x.shuffleWriteBytes,
        "spill_bytes" -> x.spillBytes, "gc_ms" -> x.gcMs, "failed_tasks" -> x.failedTasks)
    }
    ListMap("workload" -> w.name, "seed" -> w.seed, "env" -> env,
      "metrics" -> ListMap(metrics.map { case (m, (v, u)) => m -> ListMap("value" -> v, "unit" -> u) }: _*),
      "ops" -> w.ops.map(o => ListMap("mode" -> o.mode, "ms" -> o.ms, "ok" -> o.ok,
        "traced" -> o.traced, "request" -> o.request)),
      "spans" -> spans)
  }
}
