package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The `registry_sweep` panel: which declared keys one pass runs, chosen
  * by a fixed rule from measured per-key costs.
  *
  * The whole registry does not fit a run (about 190 s warm and 470 s
  * cold on 4 cores at sf0.1), so the panel is a sample stratified by
  * cost and family: the keys, ordered by warm seconds, are cut into
  * `Strata` runs of equal count; from each stratum, heaviest first, the
  * key nearest its middle whose family is not yet in the panel is taken
  * (the middle key itself when every family there is taken). Every cost
  * band, the heaviest included, is thus represented by a typical key.
  *
  * `main` measures the costs and writes `keycost.tsv`:
  *   graftbench.Panel <sfDir> <benchDir> <workDir>
  * Each key is built and materialized through the `noop` sink three
  * times, in name order on a fresh artifact root: `cold_s` is the first
  * call, `warm_s` the mean of the other two. */
object Panel {

  val costFile = "keycost.tsv"
  val Strata = 14

  final case class Cost(key: String, coldS: Double, warmS: Double)

  /** TPC-H keys form one family; otherwise a key's family is its first
    * name segment (`docs`, `emb`, `lake`, ...). */
  def family(key: String): String =
    if (key.matches("q\\d+_.*")) "tpch" else key.takeWhile(_ != '_')

  def select(costs: Seq[Cost], strata: Int = Strata): Seq[String] = {
    val keys = costs.sortBy(c => (c.warmS, c.key)).map(_.key).toIndexedSeq
    val n = keys.size
    val bands = (0 until strata).map(i => keys.slice(i * n / strata, (i + 1) * n / strata))
    bands.reverse.filter(_.nonEmpty).foldLeft(Vector.empty[String]) { (panel, band) =>
      val mid = (band.size - 1) / 2
      val byDistance = band.indices.sortBy(i => (math.abs(i - mid), i))
      val taken = panel.map(family).toSet
      panel :+ byDistance.map(band).find(k => !taken(family(k))).getOrElse(band(mid))
    }
  }

  def load(path: Path): Seq[Cost] =
    Files.readAllLines(path).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#") && !l.startsWith("key\t"))
      .map { l =>
        val Array(k, cold, warm) = l.split("\t")
        Cost(k, cold.toDouble, warm.toDouble)
      }.toSeq

  /** The panel for the cost table in `benchDir`. */
  def keys(benchDir: Path): Seq[String] = select(load(benchDir.resolve(costFile)))

  def main(args: Array[String]): Unit = {
    val Array(sfDir, benchDir, workDir) = args
    val work = Paths.get(workDir).toAbsolutePath
    val a = Main.Args("registry_sweep", 0L, 1, trace = false, sfDir, work,
      Paths.get(benchDir).toAbsolutePath)
    val spark = Main.session(a)
    val cache = work.resolve("keycost-cache")
    Dirs.delete(cache)
    System.setProperty("graft.cache.root", cache.toString)
    try {
      val queries = graft.SparkEntry.queries
      def once(k: String): Double = {
        graft.SessionHygiene.step(spark, 1)
        val t0 = System.nanoTime()
        Sink.noop(queries(k)(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      }
      val rows = queries.keys.toSeq.sorted.map { k =>
        val cold = once(k)
        val warm = (once(k) + once(k)) / 2
        System.err.println(f"[keycost] $k%-40s cold $cold%.3f warm $warm%.3f")
        f"$k\t$cold%.3f\t$warm%.3f"
      }
      val cores = Runtime.getRuntime.availableProcessors
      val header = Seq(
        s"# per-key seconds, build + noop materialization, local[$cores] on $cores cores, " +
          s"${Paths.get(sfDir).getFileName}, one JVM; cold = first call in name order on a " +
          "fresh artifact root, warm = mean of the next two calls",
        "key\tcold_s\twarm_s")
      Files.write(Paths.get(benchDir, costFile),
        (header ++ rows).mkString("", "\n", "\n").getBytes("UTF-8"))
      System.err.println(s"[keycost] panel: ${keys(Paths.get(benchDir)).mkString(" ")}")
    } finally spark.stop()
  }
}
