package graftbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.CdcStream
import graft.engine.{Ingest, LakeDml, LakeStats, LakeTable, Mv}

import LakeGen._

/** `lake_mixed`: one client in a closed loop over two lake tables.
  *
  * An orders-shaped `(key, status, price)` table takes appends, copy-
  * on-write deletes, updates and merges on recent keys, point and range
  * reads through the log's column stats, and an aggregate that the MV
  * layer serves (refreshed before it is read when writes came in). The
  * benchmark writes a change feed beside the table and drains it
  * through `CdcStream.drainIvm`. A document corpus takes
  * `Ingest.ingestBatch` batches with maintenance switched on.
  * Checkpoints and compaction fire on a fixed cadence of writes.
  *
  * A round is the fixed operation sequence of `LakeGen.roundMix`, with
  * seeded keys and values; whole rounds run until `--seconds` is used
  * up, at least two (four in a traced run, see `Tracer.tracesUnit`).
  * Every answer is checked against the generator's model. */
object LakeMixed extends Workload {

  val schema: StructType = StructType(Seq(
    StructField("key", LongType, nullable = false),
    StructField("status", StringType, nullable = false),
    StructField("price", DecimalType(10, 2), nullable = false)))

  val feedSchema: StructType = StructType(Seq(
    StructField("status", StringType), StructField("price", DecimalType(10, 2)),
    StructField("change_type", StringType)))

  val mvName = "bench_orders_by_status"
  /** Writes between checkpoints, and between compactions. */
  val checkpointEvery = 3
  val compactEvery = 5
  val buckets = 8
  /** Ingest maintenance cadence, in batches. */
  val ingestMaintainEvery = 2
  val freshDocs = 100
  val resentDocs = 20

  final class Roots(base: Path) {
    val orders: String = base.resolve("orders").toString
    val feed: String = base.resolve("orders_cdc").toString
    val cdcWork: String = base.resolve("cdc_work").toString
    val view: String = base.resolve("cdc_view").toString
    val mv: String = base.resolve("orders_mv").toString
    val corpus: String = base.resolve("corpus").toString
    def all: Seq[String] = Seq(orders, feed, view, mv, corpus)
  }

  private def price(cents: Long) = java.math.BigDecimal.valueOf(cents, 2)

  def run(ctx: RunContext): Unit = {
    import ctx.spark
    val base = ctx.workDir.resolve("lake")
    Dirs.delete(base)
    val roots = new Roots(base)
    val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val roundWall = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val traced = mutable.ArrayBuffer.empty[ExecProbe#Totals]
    val dml = mutable.ArrayBuffer.empty[(LakeDml.DmlReport, Long)]
    val readFracs = mutable.ArrayBuffer.empty[Double]
    val ingestTimes = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val drains = mutable.ArrayBuffer.empty[Long]
    var mvServed = 0
    var mvReads = 0
    var submitted = 0L

    def rowsDf(rs: Seq[(Long, String, Long)]): DataFrame =
      spark.createDataFrame(rs.map { case (k, s, c) => Row(k, s, price(c)) }.asJava, schema)
    def feedDf(cs: Seq[Change]): DataFrame =
      spark.createDataFrame(cs.map(c => Row(c.status, price(c.cents), c.kind)).asJava, feedSchema)
    def table(): DataFrame = LakeTable.read(spark, roots.orders)

    // ---- set-up: table, MV, feed and first drain, then a short warm-up
    val model = new Model
    val init = initial(ctx.seed)
    init.foreach { case (k, s, c) => model.rows(k) = (s, c) }
    ctx.phase("orders")(LakeTable.rewriteClustered(rowsDf(init), roots.orders, "key", buckets))
    ctx.phase("feed")(LakeTable.append(
      feedDf(init.map { case (_, s, c) => Change(s, c, "insert") }), roots.feed))
    ctx.phase("mv")(Mv.register(spark, mvName, table(), Seq("status"), Seq("price"), roots.mv))
    ctx.phase("cdc")(CdcStream.drainIvm(spark, roots.feed, roots.cdcWork, roots.view))
    val docs = spark.read.parquet(s"${ctx.sfDir}/documents.parquet")
      .select("doc_id", "text", "n_chars").localCheckpoint()
    val nDocs = ctx.phase("docs")(docs.count())
    val policy = Some(Ingest.IngestMaintenance(everyBatches = ingestMaintainEvery))
    def salted(d: DataFrame, v: Long, idOffset: Long): DataFrame = d.select(
      (col("doc_id") + lit(v * 1000000L + idOffset)).as("doc_id"),
      array_join(transform(split(col("text"), " "), w => concat(w, lit(s"_v$v"))), " ").as("text"),
      col("n_chars"))
    /** Batch `b` (from 1): fresh documents under salt b, plus documents
      * of batch b-1 sent again under new ids, which the dedup must reject
      * once batch b-1 is in the corpus. */
    def fresh(b: Int, n: Int): DataFrame = {
      val m = math.max(1L, nDocs / n)
      docs.filter(pmod(xxhash64(col("doc_id"), lit(ctx.seed * 31 + b)), lit(m)) === 0)
    }
    def batchDf(b: Int): DataFrame =
      salted(fresh(b, freshDocs), b, 0)
        .unionByName(salted(fresh(b - 1, freshDocs).limit(resentDocs), b - 1, 500000L))
    def ingest(b: Int): Unit = {
      val df = batchDf(b).localCheckpoint()
      submitted += df.count()
      Ingest.ingestBatch(df, roots.corpus, "bench", b,
        filter = Some(Ingest.tooShortRule(100)), maintenance = policy)
    }

    val stream = new Stream(ctx.seed, model)
    var writes = 0
    var mvDirty = false
    val mvDelta = mutable.ArrayBuffer.empty[(Long, String, Long)]

    def rangeRead(lo: Long, hi: Long): Seq[Row] = {
      val preds = Seq(("key", lo.toString, hi.toString))
      if (ctx.tracer.on) ctx.span("lake.log_read") {
        val active = LakeTable.activeDirs(spark, roots.orders).size
        readFracs += LakeTable.rangeDirs2(spark, roots.orders, preds).size.toDouble / active
      }
      ctx.span("lake.read")(LakeTable.readRange2(spark, roots.orders, preds).collect().toSeq)
    }
    def asTuples(rs: Seq[Row]): Set[(Long, String, Long)] = rs.map(r =>
      (r.getLong(0), r.getString(1), r.getDecimal(2).movePointRight(2).longValueExact())).toSet
    def mvQuery(): DataFrame =
      table().groupBy("status").agg(count(lit(1)).as("n"), sum("price").as("sum_price"))
    def mvAnswer(rs: Seq[Row]): Map[String, (Long, Long)] = rs.map(r =>
      r.getString(0) -> (r.getLong(1), r.getDecimal(2).movePointRight(2).longValueExact())).toMap
    def viewAnswer(): Map[String, (Long, Long)] =
      LakeTable.read(spark, roots.view).collect().map(r =>
        r.getAs[String]("status") -> (r.getAs[Long]("n"),
          r.getAs[java.math.BigDecimal]("sum_dec").movePointRight(2).longValueExact())).toMap
    def dmlOp(body: => LakeDml.DmlReport): Unit = {
      val before = if (ctx.tracer.on) ctx.span("lake.log_read")(
        LakeTable.activeDirs(spark, roots.orders).toSet) else Set.empty[String]
      val rep = body
      if (ctx.tracer.on) {
        val added = ctx.span("lake.log_read")(LakeTable.activeDirs(spark, roots.orders))
          .filterNot(before)
        val rewritten = if (added.isEmpty) 0L
          else spark.read.parquet(added.map(d => s"${roots.orders}/$d"): _*).count()
        dml += rep -> rewritten
      }
    }

    /** Whether an answer matches the model; a mismatch is described on
      * stderr, so a failed operation says what it got wrong. */
    def same[A](what: String, got: A, want: A): Boolean = {
      if (got != want) {
        val detail = (got, want) match {
          case (g: Set[Any] @unchecked, w: Set[Any] @unchecked) =>
            s"unexpected ${(g -- w).take(3)}, missing ${(w -- g).take(3)} (${g.size} vs ${w.size} rows)"
          case _ => s"got $got, want $want"
        }
        System.err.println(s"[lake_mixed] $what: $detail")
      }
      got == want
    }

    /** Runs one operation; returns whether its answer matched. */
    def perform(op: Op, changes: Seq[Change]): Boolean = op match {
      case Append(rs) =>
        ctx.span("lake.append") {
          LakeTable.append(rowsDf(rs), roots.orders)
          LakeStats.analyze(spark, roots.orders)
        }
        mvDelta ++= rs
        true
      case Delete(lo, hi) =>
        dmlOp {
          ctx.span("dml.delete")(LakeDml.deleteWhere(spark, roots.orders,
            col("key").between(lo, hi), prunePreds = Seq(("key", lo.toString, hi.toString))))
        }
        mvDirty = true
        true
      case Update(lo, hi, s, d) =>
        dmlOp {
          ctx.span("dml.update")(LakeDml.updateWhere(spark, roots.orders,
            col("key").between(lo, hi),
            Map("status" -> lit(s),
              "price" -> greatest(col("price") + lit(price(d)), lit(price(1L))).cast(DecimalType(10, 2))),
            prunePreds = Seq(("key", lo.toString, hi.toString))))
        }
        mvDirty = true
        true
      case Merge(rs) =>
        dmlOp {
          ctx.span("dml.merge")(LakeDml.mergeInto(spark, roots.orders, rowsDf(rs), "key"))
        }
        mvDirty = true
        true
      case PointRead(k, want) => same(s"point_read $k", asTuples(rangeRead(k, k)), want)
      case RangeRead(lo, hi, want) =>
        same(s"range_read [$lo, $hi]", asTuples(rangeRead(lo, hi)), want)
      case MvRead(want) =>
        val q = mvQuery()
        val rows = ctx.span("mv.read")(q.collect().toSeq)
        mvReads += 1
        if (servedFromMv(q, roots.mv)) mvServed += 1
        same("mv_read", mvAnswer(rows), want)
      case CdcDrain(want) =>
        val (_, n) = ctx.span("stream.drain")(
          CdcStream.drainIvm(spark, roots.feed, roots.cdcWork, roots.view))
        drains += n
        same("cdc_drain", viewAnswer(), want)
      case IngestBatch(b) =>
        val t0 = System.nanoTime()
        ctx.span("ingest.batch")(ingest(b))
        ingestTimes += (((b + 1) % ingestMaintainEvery == 0) -> (System.nanoTime() - t0) / 1e9)
        true
    }

    /** Brings the MV up to date before it is read: an inserts-only fold
      * after appends, a rebuild after anything else. */
    def refreshMv(): Unit =
      if (mvDirty) ctx.span("mv.refresh")(Mv.rebuild(spark, mvName, table()))
      else ctx.span("mv.refresh")(Mv.refresh(spark, mvName, table(), rowsDf(mvDelta.toSeq)))

    def maintain(): Unit = ctx.span("lake.maintenance") {
      if (writes % checkpointEvery == 0) LakeTable.maybeCheckpoint(spark, roots.orders, checkpointEvery)
      if (writes % compactEvery == 0) {
        LakeTable.rewriteClustered(table(), roots.orders, "key", buckets)
        LakeTable.vacuum(spark, roots.orders, LakeTable.latestVersion(spark, roots.orders).get)
        mvDirty = true
      }
    }

    def timed(kind: String)(body: => Boolean): Unit = {
      val t0 = System.nanoTime()
      val ok = ctx.outcome.check(kind)(body)
      if (ok) samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
    }

    // warm-up: one read of each kind, untimed
    ctx.phase("warmup")(Groups.within(spark, Groups.setup) {
      rangeRead(1, 1); rangeRead(1, 100); mvQuery().collect()
    })
    val setup = JvmStats.uptime

    // ---- timed rounds
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    var round = 0
    while (round < math.max(2, ctx.tracer.minUnits) || System.nanoTime() < deadline) {
      val tracedRound = ctx.tracer.tracesUnit(round)
      ctx.tracer.on = tracedRound
      ctx.probe.reset()
      val ops = stream.round()
      val r0 = System.nanoTime()
      ops.foreach { case (op, changes) =>
        if (op.isInstanceOf[MvRead] && (mvDirty || mvDelta.nonEmpty)) {
          timed("mv_refresh") { refreshMv(); true }
          mvDirty = false
          mvDelta.clear()
        }
        timed(op.kind)(perform(op, changes))
        // bookkeeping the loop does between operations: the change feed
        // the CDC drain consumes, and maintenance on a cadence of writes
        if (changes.nonEmpty) LakeTable.append(feedDf(changes), roots.feed)
        op match {
          case _: Append | _: Delete | _: Update | _: Merge =>
            writes += 1
            if (writes % checkpointEvery == 0 || writes % compactEvery == 0)
              timed("maintenance") { maintain(); true }
          case _ =>
        }
      }
      roundWall += tracedRound -> (System.nanoTime() - r0) / 1e9
      if (tracedRound) traced += ctx.probe.snapshot()
      round += 1
    }
    ctx.tracer.on = false

    // ---- untimed end-of-run checks
    Groups.within(spark, Groups.check) {
      val o = ctx.outcome
      val tableRows = table().collect().toSeq
      o.check("final.table_equals_model") {
        asTuples(tableRows) == model.range(Long.MinValue, Long.MaxValue - 1) &&
          tableRows.size == model.rows.size
      }
      val tableAgg = byStatus(tableRows.map(r =>
        r.getString(1) -> r.getDecimal(2).movePointRight(2).longValueExact()))
      o.check("final.cdc_view_equals_groupby") {
        CdcStream.drainIvm(spark, roots.feed, roots.cdcWork, roots.view)
        viewAnswer() == tableAgg
      }
      o.check("final.mv_equals_raw") {
        refreshMv()
        mvAnswer(mvQuery().collect().toSeq) == tableAgg
      }
      val docsRows = LakeTable.read(spark, Ingest.docsRoot(roots.corpus))
      def auditRows(root: String): Long =
        if (LakeTable.activeDirs(spark, root).isEmpty) 0L
        else LakeTable.read(spark, root).count()
      val rejected = auditRows(Ingest.rejectsRoot(roots.corpus))
      val filtered = auditRows(Ingest.filteredRoot(roots.corpus))
      val corpusRows = docsRows.count()
      o.check("final.corpus_equals_accepted") {
        corpusRows == submitted - rejected - filtered &&
          docsRows.select("doc_id").distinct().count() == corpusRows
      }
      ctx.notes("ingest_submitted") = submitted.toString
      ctx.notes("ingest_rejected") = rejected.toString
      ctx.notes("ingest_filtered") = filtered.toString
      val userBytes = model.rows.values.map(v => 16L + v._1.length).sum +
        docsRows.agg(sum(octet_length(col("text")) + 12)).head().getLong(0)
      val diskBytes = roots.all.map(r => Dirs.bytes(java.nio.file.Paths.get(r))).sum
      ctx.figure("lake_bytes_per_user_byte", diskBytes.toDouble / userBytes, "ratio")
      ctx.layer("lake.bytes_per_user_byte") = diskBytes.toDouble / userBytes
      ctx.layer("ingest.corpus_rows") = corpusRows.toDouble
      ctx.layer("ingest.reject_frac") = (rejected + filtered).toDouble / math.max(submitted, 1L)
      ctx.layer("lake.versions") = LakeTable.latestVersion(spark, roots.orders).get.toDouble
      ctx.layer("lake.active_dirs") = LakeTable.activeDirs(spark, roots.orders).size.toDouble
    }

    // ---- figures
    def all(kinds: String*) = kinds.flatMap(k => samples.getOrElse(k, Nil))
    val ops = samples.values.flatten.toSeq
    val untracedWalls = roundWall.filterNot(_._1).map(_._2).toSeq
    ctx.figure("setup_s", setup, "s")
    ctx.figure("wall_s", Stats.median(untracedWalls), "s")
    if (ops.nonEmpty) ctx.figure("op_p50_s", Stats.median(ops), "s")
    Stats.tail(ops).foreach { case (p, v) => ctx.figure(s"op_p${p}_s", v, "s") }
    val dmlT = all("delete", "update", "merge")
    val readT = all("point_read", "range_read", "mv_read")
    if (dmlT.nonEmpty) ctx.figure("dml_p50_s", Stats.median(dmlT), "s")
    if (readT.nonEmpty) ctx.figure("read_p50_s", Stats.median(readT), "s")
    Stats.tail(readT).foreach { case (p, v) => ctx.figure(s"read_p${p}_s", v, "s") }
    samples.get("ingest_batch").foreach(s => ctx.figure("ingest_batch_p50_s", Stats.median(s.toSeq), "s"))
    samples.get("cdc_drain").foreach(s => ctx.figure("cdc_drain_p50_s", Stats.median(s.toSeq), "s"))
    ctx.figure("rounds", round.toDouble, "count")
    ctx.figure("ops", ops.size.toDouble, "count")
    samples.toSeq.sortBy(_._1).foreach { case (k, s) =>
      ctx.notes(s"ops.$k") = f"n=${s.size} median=${Stats.median(s.toSeq)}%.4f" }

    // ---- per-layer figures, per traced round
    if (ctx.tracer.enabled) {
      val tracedWalls = roundWall.filter(_._1).map(_._2).toSeq
      val n = tracedWalls.size.toDouble
      val t = ctx.tracer
      ctx.layer("lake.commit_s") = t.total("lake.append") / n
      ctx.layer("lake.log_read_s") = t.total("lake.log_read") / n
      ctx.layer("lake.maintenance_s") = t.total("lake.maintenance") / n
      if (readFracs.nonEmpty) ctx.layer("lake.read_dirs_frac") = readFracs.sum / readFracs.size
      val lakeReads = t.all.filter(_.name == "lake.read").map(_.seconds)
      if (lakeReads.nonEmpty) ctx.layer("lake.read_p50_s") = Stats.median(lakeReads)
      val dmlSpans = t.all.filter(_.layer == "dml").map(_.seconds)
      if (dmlSpans.nonEmpty) ctx.layer("dml.p50_s") = Stats.median(dmlSpans)
      if (dml.nonEmpty) {
        ctx.layer("dml.candidate_dir_frac") =
          dml.map { case (r, _) => r.candidateDirs.toDouble / math.max(r.activeDirs, 1) }.sum / dml.size
        ctx.layer("dml.rewritten_dirs") = dml.map(_._1.rewrittenDirs).sum / n
        val changed = dml.map { case (r, _) => r.rowsDeleted + r.rowsUpdated + r.rowsInserted }.sum
        ctx.layer("dml.rows_rewritten_per_row_changed") =
          dml.map(_._2).sum.toDouble / math.max(changed, 1L)
      }
      val ing = t.all.filter(_.name == "ingest.batch").map(_.seconds)
      if (ing.nonEmpty) ctx.layer("ingest.batch_s") = Stats.median(ing)
      val maint = ingestTimes.filter(_._1).map(_._2).toSeq
      if (maint.nonEmpty) ctx.layer("ingest.maintenance_batch_s") = Stats.median(maint)
      ctx.layer("mv.refresh_s") = t.total("mv.refresh") / n
      ctx.layer("mv.served_s") = t.total("mv.read") / n
      ctx.layer("mv.rewrite_hit_frac") = mvServed.toDouble / math.max(mvReads, 1)
      ctx.layer("stream.drain_s") = t.total("stream.drain") / n
      if (drains.nonEmpty) ctx.layer("stream.rows_per_drain") = drains.sum.toDouble / drains.size
      ctx.layer("stream.versions_staged") =
        Dirs.entries(java.nio.file.Paths.get(roots.cdcWork, "staging")).count(_.matches("v\\d+"))
      Report.execSum(ctx, ExecProbe.sum(traced.toSeq), tracedWalls.sum, traced.size)
      Report.selfLayer(ctx, t.all, traced.size)
      val over = Stats.median(tracedWalls) - Stats.median(untracedWalls)
      ctx.layer("trace.overhead_s") = over
      ctx.layer("trace.overhead_frac") = over / Stats.median(untracedWalls)
    }
    Mv.clear(spark)
  }

  /** Whether the optimized plan scans the MV root instead of the table. */
  def servedFromMv(q: DataFrame, mvRoot: String): Boolean = {
    val roots = q.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Nil
        }
    }.flatten
    roots.nonEmpty && roots.forall(_.contains(mvRoot))
  }
}
