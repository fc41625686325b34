package graftbench

import java.nio.file.Files

/** The metric catalogue and the run's printed result. */
object Report {

  /** End-to-end metrics: printed by every untraced run. Per-operation
    * medians vary by 10-13% across seeds, against 5-8% for `wall_s`, so
    * they stay in the run record instead of being gated. */
  val endToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "wall_s" -> "s")

  /** Per-layer metrics: printed by every traced run. A layer a workload
    * does not call reads 0 there: that workload bypasses it. */
  val perLayer: Seq[(String, String)] = Seq(
    "registry.build_s" -> "s", "registry.plan_s" -> "s",
    "registry.exec_s" -> "s", "registry.eager_jobs" -> "count",
    "registry.self_s" -> "s",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_busy_s" -> "s", "exec.task_cpu_s" -> "s", "exec.gc_s" -> "s",
    "exec.core_idle_frac" -> "frac", "exec.shuffle_write_bytes" -> "B",
    "exec.shuffle_read_bytes" -> "B", "exec.spill_bytes" -> "B",
    "exec.scan_bytes" -> "B",
    "cache.artifacts_built" -> "count", "cache.bytes_written" -> "B",
    "cache.artifact_read_keys" -> "count",
    "cache.prefill_s" -> "s",
    "pipeline.stage_s" -> "s", "pipeline.write_s" -> "s",
    "pipeline.waves" -> "count",
    "lake.commit_s" -> "s", "lake.versions" -> "count",
    "lake.log_read_s" -> "s", "lake.active_dirs" -> "count",
    "lake.read_dirs_frac" -> "frac", "lake.maintenance_s" -> "s",
    "lake.self_s" -> "s", "lake.read_p50_s" -> "s",
    "lake.bytes_per_user_byte" -> "ratio",
    "dml.candidate_dir_frac" -> "frac", "dml.rewritten_dirs" -> "count",
    "dml.rows_rewritten_per_row_changed" -> "ratio", "dml.self_s" -> "s",
    "dml.p50_s" -> "s",
    "ingest.batch_s" -> "s", "ingest.reject_frac" -> "frac",
    "ingest.corpus_rows" -> "count", "ingest.maintenance_batch_s" -> "s",
    "mv.refresh_s" -> "s", "mv.served_s" -> "s", "mv.rewrite_hit_frac" -> "frac",
    "stream.drain_s" -> "s", "stream.rows_per_drain" -> "count",
    "stream.versions_staged" -> "count",
    "jvm.peak_heap_mb" -> "MB", "jvm.gc_s" -> "s",
    "trace.overhead_s" -> "s", "trace.overhead_frac" -> "frac",
    "trace.spans" -> "count")

  /** Listener counters of the traced units as `exec.*` figures, per
    * unit of work; `wall` is the traced units' summed wall time. */
  def execSum(ctx: RunContext, t: ExecProbe.Sum, wall: Double,
              units: Int = 1): Unit = {
    val n = math.max(units, 1).toDouble
    val cores = Runtime.getRuntime.availableProcessors
    val busy = t.busyMs / 1e3 / n
    ctx.layer ++= Seq(
      "exec.jobs" -> t.jobs / n, "exec.stages" -> t.stages / n,
      "exec.tasks" -> t.tasks / n, "exec.task_busy_s" -> busy,
      "exec.task_cpu_s" -> t.cpuNs / 1e9 / n, "exec.gc_s" -> t.gcMs / 1e3 / n,
      "exec.core_idle_frac" ->
        (if (wall > 0) 1.0 - busy / (wall / n * cores) else 0.0),
      "exec.shuffle_write_bytes" -> t.shuffleWrite / n,
      "exec.shuffle_read_bytes" -> t.shuffleRead / n,
      "exec.spill_bytes" -> t.spill / n, "exec.scan_bytes" -> t.scan / n)
  }

  /** Self time per layer from the recorded spans, per unit of work. */
  def selfLayer(ctx: RunContext, spans: Seq[Span], units: Int): Unit = {
    val n = math.max(units, 1).toDouble
    Tracer.selfTimes(spans).groupMapReduce(_._1.layer)(_._2)(_ + _)
      .foreach { case (l, s) => ctx.layer(s"$l.self_s") = s / n }
    ctx.layer("trace.spans") = spans.size / n
  }

  def env(ctx: RunContext, a: Main.Args): Seq[(String, String)] = {
    val conf = ctx.spark.conf
    Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "default_parallelism" -> ctx.spark.sparkContext.defaultParallelism.toString,
      "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
      "master" -> Json.str(ctx.spark.sparkContext.master),
      "sf_dir" -> Json.str(a.sfDir),
      "jvm_max_heap_mb" -> f"${JvmStats.maxHeapMb}%.0f",
      "java_version" -> Json.str(System.getProperty("java.version")),
      "spark_version" -> Json.str(ctx.spark.version),
      "commit" -> Json.str(sys.env.getOrElse("GRAFTBENCH_COMMIT", "unknown")),
      "seed" -> a.seed.toString,
      "seconds" -> a.seconds.toString,
      "data_residency" -> Json.str(
        "inputs and lake tables are small enough to stay in memory; " +
          "reads are served from the page cache"))
  }

  /** Prints the run record, writes it under the work directory, and
    * prints the result line last. */
  def emit(ctx: RunContext, a: Main.Args): Unit = {
    val o = ctx.outcome
    if (o.attempted == 0) o.fail("run", "no operation was attempted")
    val figs = ctx.figures.toSeq.map { case (k, (v, u)) =>
      k -> s"""{"value":${Json.num(v)},"unit":${Json.str(u)}}""" }
    val layers = perLayer.map { case (k, u) =>
      k -> s"""{"value":${Json.num(ctx.layer.getOrElse(k, 0.0))},"unit":${Json.str(u)}}""" }
    val failures = o.failures.toSeq.map { case (n, r) => n -> Json.str(r) }
    val record = Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "trace" -> a.trace.toString, "env" -> Json.obj(env(ctx, a)),
      "attempted" -> o.attempted.toString, "failed" -> o.failed.toString,
      "failed_ops_frac" -> Json.num(o.failed.toDouble / o.attempted),
      "failures" -> Json.obj(failures),
      "figures" -> Json.obj(figs),
      "layers" -> Json.obj(layers),
      "notes" -> Json.obj(ctx.notes.toSeq.map { case (k, v) => k -> Json.str(v) })))
    val recDir = a.work.resolve("records")
    Files.createDirectories(recDir)
    Files.write(recDir.resolve(s"${ctx.tracer.runId}.json"), record.getBytes("UTF-8"))
    if (a.trace) ctx.tracer.write(recDir.resolve(s"${ctx.tracer.runId}.spans.jsonl"))
    println(s"""{"record":$record}""")
    val missing = endToEnd.map(_._1).filterNot(ctx.figures.contains)
    if (!a.trace && missing.nonEmpty)
      o.fail("report", s"metrics not measured: ${missing.mkString(", ")}")
    val metrics =
      if (a.trace) layers
      else endToEnd.map { case (k, u) =>
        val v = ctx.figures.get(k).map(_._1).getOrElse(Double.NaN)
        k -> s"""{"value":${Json.num(v)},"unit":${Json.str(u)}}""" }
    println(Json.obj(Seq(
      "correct" -> (o.failed == 0).toString,
      "attempted" -> o.attempted.toString,
      "failed" -> o.failed.toString,
      "metrics" -> Json.obj(metrics))))
  }
}
