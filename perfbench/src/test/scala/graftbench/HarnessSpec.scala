package graftbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def ops(seed: Long, rounds: Int) = {
    val model = new LakeGen.Model
    LakeGen.initial(seed).foreach { case (k, s, c) => model.rows(k) = (s, c) }
    val st = new LakeGen.Stream(seed, model)
    Seq.fill(rounds)(st.round()).flatten
  }

  test("the same seed gives the same lake_mixed operation sequence") {
    val a = ops(7L, 3)
    assert(a == ops(7L, 3))
    assert(a != ops(8L, 3))
    assert(a.map(_._1.kind).groupBy(identity).map { case (k, v) => k -> v.size } ==
      LakeGen.roundMix.groupBy(identity).map { case (k, v) => k -> v.size * 3 })
  }

  test("the same seed gives the same registry_sweep order") {
    val keys = (1 to 40).map(i => s"key$i")
    assert(RegistrySweep.order(keys, 3L, 0) == RegistrySweep.order(keys.reverse, 3L, 0))
    assert(RegistrySweep.order(keys, 3L, 0) != RegistrySweep.order(keys, 4L, 0))
    assert(RegistrySweep.order(keys, 3L, 0).sorted == keys.sorted)
  }

  test("a percentile is reported only with at least 10 samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 90).contains(90.0))
    assert(Stats.percentile(xs.take(99), 90).isEmpty)
    assert(Stats.percentile(xs.take(50), 80).contains(40.0))
    assert(Stats.percentile(xs.take(49), 80).isEmpty)
    assert(Stats.percentile(xs.take(39), 75).isEmpty)
    assert(Stats.tail(xs.take(40)).contains(75 -> 30.0))
    assert(Stats.tail((1 to 200).map(_.toDouble)).contains(95 -> 190.0))
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  test("a corrupted expected fingerprint is reported as a failed operation") {
    val df = spark.range(0, 1000).selectExpr("id", "cast(id % 7 as string) AS s")
    val fp = Fingerprint.of(df)
    assert(Fingerprint.of(df.orderBy(df("id").desc).repartition(3)) == fp)
    val good = new Outcome
    assert(Fingerprint.check(good, "k", Fingerprint.of(df), Some(fp)))
    assert(good.attempted == 1 && good.failed == 0)
    val bad = new Outcome
    val corrupted = fp.copy(hash = (BigInt(fp.hash, 16) ^ 1).toString(16))
    assert(!Fingerprint.check(bad, "k", Fingerprint.of(df), Some(corrupted)))
    assert(bad.attempted == 1 && bad.failed == 1)
    assert(bad.failures.head._1 == "k")
  }

  test("a wrong result from a timed key is a failed operation") {
    val ctx = new RunContext(spark, 1L, 1, new Tracer(false, "t"), new ExecProbe(spark),
      ".", java.nio.file.Paths.get("."), java.nio.file.Paths.get("."))
    val df = spark.range(0, 100).selectExpr("id", "id * 2 AS twice")
    val want = Fingerprint.of(df)
    assert(RegistrySweep.timedKey(ctx, "right", Some(want))(df).nonEmpty)
    val wrong = spark.range(0, 100).selectExpr("id", "id * 2 + 1 AS twice")
    assert(RegistrySweep.timedKey(ctx, "wrong", Some(want))(wrong).isEmpty)
    assert(RegistrySweep.timedKey(ctx, "unchecked", None)(wrong).nonEmpty)
    assert(ctx.outcome.attempted == 3 && ctx.outcome.failures.map(_._1).toSeq == Seq("wrong"))
  }

  test("the panel takes one key per cost stratum, heaviest first, families spread") {
    val costs = (0 until 40).map(i => Panel.Cost(s"${if (i % 2 == 0) "a" else "b"}_k$i", 1.0, i / 10.0))
    val panel = Panel.select(costs, strata = 4)
    assert(panel == Seq("a_k34", "b_k23", "a_k14", "a_k4"))
    assert(Panel.select(costs.reverse, strata = 4) == panel)
    assert(Panel.family("q19_disjunctive_pred") == "tpch" && Panel.family("emb_knn_x") == "emb")
  }

  test("the recorded fingerprints are those of the panel the cost table selects") {
    val bench = java.nio.file.Paths.get(".").toAbsolutePath
    assume(bench.resolve(Panel.costFile).toFile.exists, "runs from perfbench/")
    val recorded = Fingerprint.load(bench.resolve(RegistrySweep.expectedFile)).keySet
    assert(recorded == Panel.keys(bench).toSet)
  }

  test("BENCHMARK.json declares exactly the metrics the harness prints") {
    import scala.jdk.CollectionConverters._
    val f = new java.io.File("../BENCHMARK.json")
    assume(f.exists, "runs from perfbench/ inside a checkout")
    val b = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    def metrics(k: String) = b.get(k).elements().asScala
      .map(n => n.get("name").asText() -> n.get("unit").asText()).toSeq
    assert(metrics("end_to_end") == Report.endToEnd)
    assert(metrics("per_layer") == Report.perLayer)
    val declared = b.get("workloads").elements().asScala.map(_.get("name").asText()).toSet
    assert(declared.subsetOf(Main.workloads.keySet))
  }

  test("self time subtracts the child spans' union") {
    val s = Seq(Span(1, 0, "a.x", "r", 0, 100), Span(2, 1, "b.y", "r", 10, 40),
      Span(3, 1, "b.z", "r", 30, 60), Span(4, 0, "c.w", "r", 200, 210))
    val self = Tracer.selfTimes(s).map { case (sp, t) => sp.id -> t }.toMap
    assert(self(1) == 50 / 1e9 && self(2) == 30 / 1e9 && self(4) == 10 / 1e9)
  }
}
