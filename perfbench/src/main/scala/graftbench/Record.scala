package graftbench

import java.nio.file.{Files, Path, Paths}

/** Records the expected fingerprint file of the `registry_sweep` panel
  * from a `graft.Verify` output directory that `tools/selfcheck.py`
  * passed.
  *
  * Usage: graftbench.Record <verifyDir> <sfDir> <benchDir> <workDir>
  *
  * The panel is `Panel.keys` of the cost table in `benchDir`. For every
  * panel key the fingerprint of the live result must equal the
  * fingerprint of the checked Verify output, or recording stops. */
object Record {

  def main(args: Array[String]): Unit = {
    val Array(verifyDir, sfDir, benchDir, workDir) = args
    val work = Paths.get(workDir).toAbsolutePath
    val bench = Paths.get(benchDir).toAbsolutePath
    val a = Main.Args("registry_sweep", 0L, 1, trace = false, sfDir, work, bench)
    val spark = Main.session(a)
    System.setProperty("graft.cache.root", work.resolve("record-cache").toString)
    try {
      val queries = graft.SparkEntry.queries
      val reg = Panel.keys(bench).sorted.map { k =>
        val live = Fingerprint.of(queries(k)(spark, sfDir))
        val want = Fingerprint.of(spark.read.parquet(s"$verifyDir/$k"))
        require(live == want, s"$k: live $live differs from checked output $want")
        val label = if (graft.SparkEntry.oracleSql.contains(k)) "oracle" else "no_oracle"
        s"$k\t$live\t$label"
      }
      write(bench.resolve(RegistrySweep.expectedFile), reg,
        s"registry_sweep panel: key, rows:hash, oracle label; from ${Paths.get(sfDir).getFileName}")
    } finally spark.stop()
  }

  private def write(p: Path, lines: Seq[String], header: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, (s"# $header" +: lines).mkString("", "\n", "\n").getBytes("UTF-8"))
    System.err.println(s"[record] wrote ${lines.size} fingerprints to $p")
  }
}
