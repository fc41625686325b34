package graftbench

import scala.collection.mutable

/** The `lake_mixed` operation stream: a pure function of the seed.
  *
  * The generator keeps a model of the orders-shaped table (key →
  * (status, price in cents)) and applies each operation to it as it
  * emits it, so the model is both what later operations draw their
  * keys from and the oracle the table must equal. Keys are skewed
  * towards the most recent ones, as writes to an orders table are. */
object LakeGen {

  sealed trait Op { def kind: String }
  /** Rows are (key, status, cents). */
  final case class Append(rows: Seq[(Long, String, Long)]) extends Op { val kind = "append" }
  final case class Delete(lo: Long, hi: Long) extends Op { val kind = "delete" }
  final case class Update(lo: Long, hi: Long, status: String, deltaCents: Long) extends Op {
    val kind = "update"
  }
  final case class Merge(rows: Seq[(Long, String, Long)]) extends Op { val kind = "merge" }
  /** Reads carry the answer the model gives at their point in the
    * stream: rows (key, status, cents), or status → (rows, cents). */
  type Rows = Set[(Long, String, Long)]
  type Agg = Map[String, (Long, Long)]
  final case class PointRead(key: Long, want: Rows) extends Op { val kind = "point_read" }
  final case class RangeRead(lo: Long, hi: Long, want: Rows) extends Op { val kind = "range_read" }
  final case class MvRead(want: Agg) extends Op { val kind = "mv_read" }
  final case class CdcDrain(want: Agg) extends Op { val kind = "cdc_drain" }
  final case class IngestBatch(batch: Int) extends Op { val kind = "ingest_batch" }

  /** One change-feed row: the row's status and price, and its kind. */
  final case class Change(status: String, cents: Long, kind: String)

  val statuses: Seq[String] = Seq("F", "O", "P")

  /** One round: a fixed sequence of operations. The seed chooses keys
    * and values; the order is fixed, so what an operation costs does
    * not depend on where a seed happened to place it. */
  val roundMix: Seq[String] = Seq(
    "append", "point_read", "range_read", "point_read", "mv_read",
    "delete", "point_read", "range_read", "update", "point_read",
    "cdc_drain", "merge", "point_read", "range_read", "append",
    "point_read", "mv_read", "ingest_batch")

  val initialRows = 20000
  val appendRows = 200

  final class Model {
    val rows = mutable.TreeMap.empty[Long, (String, Long)]
    def maxKey: Long = if (rows.isEmpty) 0L else rows.lastKey
    def range(lo: Long, hi: Long): Rows =
      rows.range(lo, hi + 1).map { case (k, (s, c)) => (k, s, c) }.toSet
    def byStatus: Agg = LakeGen.byStatus(rows.values)
  }

  /** status → (rows, summed cents). */
  def byStatus(rows: Iterable[(String, Long)]): Agg =
    rows.groupMapReduce(_._1)(r => (1L, r._2))((a, b) => (a._1 + b._1, a._2 + b._2))

  /** Initial table contents. */
  def initial(seed: Long): Seq[(Long, String, Long)] = {
    val r = new scala.util.Random(seed)
    (1L to initialRows.toLong).map(k => (k, statuses(r.nextInt(3)), 100L + r.nextInt(99900)))
  }

  /** Emits rounds of operations for `seed`, applying each to `model`. */
  final class Stream(seed: Long, val model: Model) {
    private val r = new scala.util.Random(seed ^ 0x5DEECE66DL)
    private var batches = 0

    /** A key in the table's recent range: u³ skews towards the top. */
    private def recentKey(): Long = {
      val u = r.nextDouble()
      math.max(1L, model.maxKey - (model.maxKey * u * u * u).toLong)
    }
    private def cents(): Long = 100L + r.nextInt(99900)

    /** The next round: each operation with the change-feed rows
      * (status, cents, change type) it causes. */
    def round(): Seq[(Op, Seq[Change])] = roundMix.map(next)

    private def next(kind: String): (Op, Seq[Change]) = {
      val op: Op = kind match {
        case "append" =>
          val k0 = model.maxKey
          Append((1 to appendRows).map(i => (k0 + i, statuses(r.nextInt(3)), cents())))
        case "delete" =>
          val lo = recentKey(); Delete(lo, lo + r.nextInt(20))
        case "update" =>
          val lo = recentKey()
          Update(lo, lo + r.nextInt(40), statuses(r.nextInt(3)), r.nextInt(1000) - 500L)
        case "merge" =>
          val old = Seq.fill(12)(recentKey()).distinct
          val fresh = (1 to 6).map(model.maxKey + _)
          Merge((old ++ fresh).map(k => (k, statuses(r.nextInt(3)), cents())))
        case "point_read" => val k = recentKey(); PointRead(k, model.range(k, k))
        case "range_read" =>
          val lo = recentKey(); val hi = lo + r.nextInt(200)
          RangeRead(lo, hi, model.range(lo, hi))
        case "mv_read" => MvRead(model.byStatus)
        case "cdc_drain" => CdcDrain(model.byStatus)
        case "ingest_batch" => batches += 1; IngestBatch(batches)
      }
      (op, apply(op))
    }

    private def upsert(k: Long, v: (String, Long)): Seq[Change] = {
      val pre = model.rows.get(k)
      model.rows(k) = v
      pre match {
        case Some((s0, c0)) => Seq(Change(s0, c0, "update_preimage"), Change(v._1, v._2, "update_postimage"))
        case None => Seq(Change(v._1, v._2, "insert"))
      }
    }

    /** Applies a write to the model; reads leave it unchanged. */
    private def apply(op: Op): Seq[Change] = op match {
      case Append(rs) => rs.flatMap { case (k, s, c) => upsert(k, (s, c)) }
      case Merge(rs) => rs.flatMap { case (k, s, c) => upsert(k, (s, c)) }
      case Delete(lo, hi) =>
        model.rows.range(lo, hi + 1).toList.map { case (k, (s, c)) =>
          model.rows.remove(k); Change(s, c, "delete") }
      case Update(lo, hi, s, d) =>
        model.rows.range(lo, hi + 1).toList.flatMap { case (k, (_, c)) =>
          upsert(k, (s, math.max(1L, c + d))) }
      case _ => Nil
    }
  }
}
