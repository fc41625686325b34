package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Everything a workload needs from the harness for one run. */
final class RunContext(val spark: SparkSession, val seed: Long,
                       val seconds: Int, val tracer: Tracer,
                       val probe: ExecProbe, val sfDir: String,
                       val workDir: Path, val benchDir: Path) {
  val outcome = new Outcome
  /** Workload figures by name: (value, unit). */
  val figures = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer figures reported in the traced run. */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Free-form facts for the run record (labels, counts, notes). */
  val notes = mutable.LinkedHashMap.empty[String, String]

  def figure(name: String, value: Double, unit: String): Unit =
    figures(name) = (value, unit)

  def span[A](name: String)(body: => A): A = tracer.span(name)(body)

  /** Runs an untimed set-up step and notes how long it took. */
  def phase[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body
    finally notes(s"setup.$name") = f"${(System.nanoTime() - t0) / 1e9}%.3f s"
  }
}

/** Operations attempted and failed; a failure carries a name and a
  * reason so the output says which operation went wrong. */
final class Outcome {
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[(String, String)]

  def failed: Long = failures.size.toLong

  /** Counts one operation; it fails if `ok` is false or throws. */
  def check(name: String)(ok: => Boolean): Boolean = {
    attempted += 1
    val res =
      try { if (ok) None else Some("output check failed") }
      catch { case e: Throwable => Some(Fingerprint.describe(e)) }
    res.foreach(r => failures += name -> r)
    res.isEmpty
  }

  def fail(name: String, reason: String): Unit = {
    attempted += 1
    failures += name -> reason
  }
}

/** Order-insensitive fingerprint of a result: its row count and the
  * sum of a 64-bit hash of every row. Columns are renamed by position
  * first, so results with duplicate column names hash too. */
object Fingerprint {

  final case class Fp(rows: Long, hash: String) {
    override def toString: String = s"$rows:$hash"
  }

  private def hashable(c: org.apache.spark.sql.Column,
                       t: DataType): org.apache.spark.sql.Column = {
    def hasMap(d: DataType): Boolean = d match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    if (hasMap(t)) to_json(struct(c)) else c
  }

  /** One row (name, rows, hash sum) for `df`. */
  private def summary(name: String, df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => hashable(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    named.agg(lit(name).as("name"), count(lit(1)).as("rows"),
      sum(h.cast(DecimalType(38, 0))).as("hash"))
  }

  private def fp(r: org.apache.spark.sql.Row): Fp = {
    val total = if (r.isNullAt(2)) BigInt(0) else BigInt(r.getDecimal(2).toBigInteger)
    Fp(r.getLong(1), total.mod(BigInt(2).pow(64)).toString(16))
  }

  def of(df: DataFrame): Fp = fp(summary("", df).head())

  /** Fingerprints of several results, computed in one query. */
  def ofAll(dfs: Seq[(String, DataFrame)]): Map[String, Fp] =
    if (dfs.isEmpty) Map.empty
    else dfs.map { case (n, df) => summary(n, df) }.reduce(_ unionByName _)
      .collect().map(r => r.getString(0) -> fp(r)).toMap

  /** Counts one checked output against `outcome`: it fails when its
    * fingerprint differs from the expected one, or none was recorded. */
  def check(outcome: Outcome, name: String, got: Fp, expected: Option[Fp]): Boolean =
    outcome.check(name)(matches(name, got, expected))

  /** Whether `got` is the expected fingerprint; a mismatch is logged. */
  def matches(name: String, got: Fp, expected: Option[Fp]): Boolean = {
    if (!expected.contains(got))
      System.err.println(s"[check] $name: fingerprint $got, expected ${expected.getOrElse("none")}")
    expected.contains(got)
  }

  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(200)}"

  /** Reads a `name<TAB>rows:hash[<TAB>label]` file. */
  def load(path: Path): Map[String, (Fp, String)] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(path).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val parts = l.split("\t")
        val Array(rows, hash) = parts(1).split(":", 2)
        parts(0) -> (Fp(rows.toLong, hash), parts.lift(2).getOrElse(""))
      }.toMap
  }
}

/** Materializes what a user receives, through the `noop` sink: every
  * projected expression runs, nothing is written. */
object Sink {
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

/** Directory helpers for the benchmark's work directory. */
object Dirs {
  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(q => Files.deleteIfExists(q))
    finally s.close()
  }

  /** Bytes of every regular file under `p`. */
  def bytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  /** Entries directly under `p`. */
  def entries(p: Path): Set[String] = if (!Files.isDirectory(p)) Set.empty else {
    val s = Files.list(p)
    try { import scala.jdk.CollectionConverters._; s.iterator().asScala.map(_.getFileName.toString).toSet }
    finally s.close()
  }
}
