package graftbench

import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

/** `registry_sweep`: the declared query keys of the benchmark's panel
  * (`Panel`), in a seed-shuffled order, each result fully materialized
  * through the `noop` sink. An untimed prepare step, a `graft.Pipeline`
  * run with one query stage per key, fills a fresh artifact root and
  * writes every result, whose fingerprints are checked; the timed
  * passes then read that root, as a user's queries would after the
  * first run. In the first pass, the frame each timed key returned is
  * fingerprinted and checked too, outside the pass's timed wall.
  *
  * One pass is one unit of work: `wall_s` is the median pass time and
  * `query_p50_s` the median over every timed key execution. Whole
  * passes run until `--seconds` is used up, and at least two (four in a
  * traced run, see `Tracer.tracesUnit`). */
object RegistrySweep extends Workload {

  val expectedFile = "fingerprints/registry_sweep.tsv"

  /** The panel in the order one pass of `seed` runs it. */
  def order(keys: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(keys.sorted)

  def run(ctx: RunContext): Unit = {
    import ctx.spark
    val expected = Fingerprint.load(ctx.benchDir.resolve(expectedFile))
    val queries = graft.SparkEntry.queries
    val (known, unknown) = expected.keys.toSeq.sorted.partition(queries.contains)
    unknown.foreach(k => ctx.outcome.fail(k, "key not in SparkEntry.queries"))
    val cacheRoot = ctx.workDir.resolve("registry-cache")
    Dirs.delete(cacheRoot)
    System.setProperty("graft.cache.root", cacheRoot.toString)

    // ---- untimed prepare: a graft.Pipeline run of the panel, one query
    // stage per key, fills the artifact root and writes every result;
    // the written results are checked against the expected fingerprints
    val prep = ctx.workDir.resolve("registry-prepare")
    Dirs.delete(prep)
    Files.createDirectories(prep)
    val cfg = prep.resolve("panel.json")
    Files.writeString(cfg, known.map(k =>
      s"""{"name":${Json.str(k)},"query":${Json.str(k)}}""").mkString("""{"stages":[""", ",", "]}"))
    val out = prep.resolve("out")
    ctx.probe.reset()
    val t0 = System.nanoTime()
    val prepared = Groups.within(spark, Groups.setup) {
      try {
        ctx.span("pipeline.run")(graft.Pipeline.runFile(spark, cfg.toString, ctx.sfDir, out.toString))
        true
      } catch { case e: Exception =>
        known.foreach(k => ctx.outcome.fail(s"$k:fingerprint", s"prepare: ${Fingerprint.describe(e)}"))
        false
      }
    }
    val prefill = (System.nanoTime() - t0) / 1e9
    val setupSpans = ctx.tracer.all
    val prepTotals = ctx.probe.snapshot()
    if (prepared) {
      val fps = Groups.within(spark, Groups.check)(Fingerprint.ofAll(known.map(k =>
        k -> spark.read.parquet(out.resolve(k).toString))))
      known.foreach(k => Fingerprint.check(ctx.outcome, s"$k:fingerprint", fps(k), Some(expected(k)._1)))
      val report = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(out.resolve("_run.json").toFile).elements().asScala.toSeq
      ctx.layer("pipeline.stage_s") = report.map(_.get("ms").asLong()).sum / 1e3
      ctx.layer("pipeline.waves") = report.map(_.get("wave").asInt()).max + 1
      ctx.layer("pipeline.write_s") = prepTotals.writeMs / 1e3
    }
    val artifactReaders = mutable.SortedSet.empty[String]
    val noOracle = known.filter(k => expected(k)._2 == "no_oracle")
    ctx.notes("no_oracle_keys") = noOracle.mkString(",")
    ctx.notes("panel_keys") = known.size.toString
    val artifacts = Dirs.entries(cacheRoot).count(!_.startsWith("."))
    val cacheBytes = Dirs.bytes(cacheRoot)

    // ---- timed passes
    val setup = JvmStats.uptime
    val samples = mutable.ArrayBuffer.empty[Double]
    val perKey = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val passWall = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val traced = mutable.ArrayBuffer.empty[ExecProbe#Totals]
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var pass = 0
    while (pass < math.max(2, ctx.tracer.minUnits) || System.nanoTime() < deadline) {
      val tracedPass = ctx.tracer.tracesUnit(pass)
      ctx.tracer.on = tracedPass
      ctx.probe.reset()
      var untimedNs = 0L
      val p0 = System.nanoTime()
      order(known, ctx.seed, pass).foreach { k =>
        graft.SessionHygiene.step(spark, 1)
        val k0 = System.nanoTime()
        val expect = if (pass == 0) Some(expected(k)._1) else None
        timedKey(ctx, k, expect)(queries(k)(spark, ctx.sfDir)) match {
          case Some((dt, df)) =>
            samples += dt
            perKey.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += dt
            // label keys whose frame reads the artifact root (untimed)
            if (pass == 0 && df.inputFiles.exists(_.contains(cacheRoot.toString)))
              artifactReaders += k
            untimedNs += System.nanoTime() - k0 - (dt * 1e9).toLong
          case None => untimedNs += System.nanoTime() - k0
        }
      }
      val wall = (System.nanoTime() - p0 - untimedNs) / 1e9
      passWall += tracedPass -> wall
      if (tracedPass) traced += ctx.probe.snapshot()
      pass += 1
    }
    ctx.tracer.on = false

    val untracedWalls = passWall.filterNot(_._1).map(_._2).toSeq
    ctx.figure("setup_s", setup, "s")
    ctx.figure("wall_s", Stats.median(untracedWalls), "s")
    if (samples.nonEmpty) {
      ctx.figure("query_p50_s", Stats.median(samples.toSeq), "s")
      Stats.tail(samples.toSeq).foreach { case (p, v) => ctx.figure(s"query_p${p}_s", v, "s") }
    }
    ctx.notes("artifact_read_keys") = artifactReaders.mkString(",")
    ctx.figure("passes", pass.toDouble, "count")
    ctx.notes("pass_walls_s") = passWall.map { case (t, w) => f"$w%.3f${if (t) "t" else ""}" }.mkString(",")
    ctx.figure("samples", samples.size.toDouble, "count")
    writeKeyTable(ctx, perKey.map { case (k, v) => k -> v.toSeq }.toMap, artifactReaders.toSet, noOracle.toSet)

    // ---- per-layer figures, per traced pass
    ctx.layer("cache.prefill_s") = prefill
    ctx.layer("cache.artifacts_built") = artifacts
    ctx.layer("cache.bytes_written") = cacheBytes.toDouble
    ctx.layer("cache.artifact_read_keys") = artifactReaders.size
    if (ctx.tracer.enabled) {
      val tracedWalls = passWall.filter(_._1).map(_._2).toSeq
      val n = tracedWalls.size
      val spans = ctx.tracer.all.filterNot(setupSpans.contains)
      ctx.layer("registry.build_s") = ctx.tracer.total("registry.build") / n
      ctx.layer("registry.exec_s") = ctx.tracer.total("registry.exec") / n
      ctx.layer("registry.plan_s") = traced.map(_.planMs).sum / 1e3 / n
      ctx.layer("registry.eager_jobs") =
        traced.map(_.jobsByGroup(Groups.build)).sum.toDouble / n
      Report.execSum(ctx, ExecProbe.sum(traced.toSeq), tracedWalls.sum, n)
      Report.selfLayer(ctx, spans, n)
      val over = Stats.median(tracedWalls) - Stats.median(untracedWalls)
      ctx.layer("trace.overhead_s") = over
      ctx.layer("trace.overhead_frac") = over / Stats.median(untracedWalls)
    }
  }

  /** One timed key: builds its frame and materializes it through the
    * `noop` sink. With `expect` set, the frame is then fingerprinted and
    * compared, untimed; a different result fails the operation. Returns
    * the timed seconds and the frame, or None when the key failed. */
  def timedKey(ctx: RunContext, k: String, expect: Option[Fingerprint.Fp])(
      build: => DataFrame): Option[(Double, DataFrame)] = {
    var timed: Option[(Double, DataFrame)] = None
    val ok = ctx.outcome.check(k) {
      val q0 = System.nanoTime()
      val df = ctx.span("registry.query") {
        val df = ctx.span("registry.build")(Groups.within(ctx.spark, Groups.build)(build))
        ctx.span("registry.exec")(Groups.within(ctx.spark, Groups.exec)(Sink.noop(df)))
        df
      }
      timed = Some((System.nanoTime() - q0) / 1e9 -> df)
      expect.forall(fp => Fingerprint.matches(k,
        Groups.within(ctx.spark, Groups.check)(Fingerprint.of(df)), Some(fp)))
    }
    if (ok) timed else None
  }

  private def writeKeyTable(ctx: RunContext,
                            perKey: Map[String, Seq[Double]],
                            artifact: Set[String], noOracle: Set[String]): Unit = {
    val dir = ctx.workDir.resolve("records")
    Files.createDirectories(dir)
    val lines = "key\tmedian_s\truns\treads_artifact_root\toracle" +:
      perKey.toSeq.sortBy(_._1).map { case (k, ts) =>
        f"$k\t${Stats.median(ts)}%.4f\t${ts.size}\t${artifact(k)}\t${if (noOracle(k)) "none" else "exact"}"
      }
    Files.write(dir.resolve(s"${ctx.tracer.runId}.keys.tsv"),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
