package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: runs one workload at one seed and prints the
  * result as the last stdout line.
  *
  * Usage: graftbench.Main --workload <name> --seed <n> --seconds <s>
  *        --trace <0|1> --sf <dir> --work <dir> --bench <dir>
  *
  * `--trace 0` prints the end-to-end metrics; `--trace 1` runs the same
  * workload with spans recorded around every call into a layer and
  * prints the per-layer metrics instead. */
object Main {

  val workloads: Map[String, Workload] = Map(
    "registry_sweep" -> RegistrySweep,
    "lake_mixed" -> LakeMixed)

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, sfDir: String, work: Path,
                        bench: Path)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("sf"), Paths.get(need("work")).toAbsolutePath,
      Paths.get(need("bench")).toAbsolutePath)
    require(workloads.contains(a.workload),
      s"unknown workload ${a.workload}; known: ${workloads.keys.toSeq.sorted.mkString(", ")}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    require(Files.isDirectory(Paths.get(a.sfDir)), s"no input tables at ${a.sfDir}")
    a
  }

  def session(a: Args): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.SessionHygiene.configure(SparkSession.builder())
      .master(s"local[$cores]")
      .appName(s"graftbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val spark = session(a)
    val runId = s"${a.workload}-${a.seed}-${ProcessHandle.current().pid()}"
    val tracer = new Tracer(a.trace, runId)
    val ctx = new RunContext(spark, a.seed, a.seconds, tracer,
      new ExecProbe(spark), a.sfDir, a.work, a.bench)
    val gc0 = JvmStats.gcSeconds
    try {
      workloads(a.workload).run(ctx)
      ctx.layer("jvm.gc_s") = JvmStats.gcSeconds - gc0
      ctx.layer("jvm.peak_heap_mb") = JvmStats.peakHeapMb
      Report.emit(ctx, a)
    } finally spark.stop()
  }
}

/** A benchmark workload: runs its set-up and timed loop, recording
  * figures, layer figures and outcomes in `ctx`. */
trait Workload {
  def run(ctx: RunContext): Unit
}
