package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class PanelBenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val dir = sys.props("user.home") + "/testdata/sf0.001"
  private lazy val spark: SparkSession =
    PanelBench.session(2, java.nio.file.Files.createTempDirectory("perfbench-spec").toString)

  override def afterAll(): Unit = spark.stop()

  private def usesScalaAggregator(plan: LogicalPlan): Boolean =
    plan.exists(_.expressions.exists(_.exists(_.getClass.getSimpleName == "ScalaAggregator")))

  test("the fingerprint action keeps f_approximate_entropy's aggregator; count() drops it") {
    val df = graft.SparkEntry.queries("f_approximate_entropy")(spark, dir)
    assert(usesScalaAggregator(Fingerprint.plan(df).queryExecution.optimizedPlan))
    assert(!usesScalaAggregator(df.groupBy().count().queryExecution.optimizedPlan))
    assert(Fingerprint.of(df).rows == df.count())
  }

  test("the fingerprint covers every column and ignores row order and partitioning") {
    val df = spark.range(0, 500).select(col("id"), (col("id") * 0.5).as("x"), lit("a").as("s"))
    val fp = Fingerprint.of(df)
    assert(Fingerprint.of(df.repartition(7).orderBy(col("x").desc)) == fp)
    assert(Fingerprint.of(df.withColumn("x", col("x") + 1e-9)) != fp)
    assert(Fingerprint.of(df.withColumn("s", lit("b"))) != fp)
    assert(Fingerprint.parse(fp.toString) == fp)
  }

  test("per-query fingerprints do not depend on the query order or the seed") {
    val registry = graft.SparkEntry.queries
    val names = Seq("f_absolute_energy", "m_mae", "p_diff", "q1_agg")
    def fps(seed: Long) = {
      val order = Workloads.order(names, seed, 1)
      val pr = PanelBench.runPass(spark, dir, 1, traced = false, order, registry, Map.empty)
      (order, pr.queries.map(q => q.name -> q.fingerprint.get).toMap)
    }
    val (o1, f1) = fps(1)
    val (o2, f2) = fps(7)
    assert(o1 != o2)
    assert(o1.sorted == o2.sorted)
    assert(f1 == f2)
  }

  test("a query that throws or mismatches its fingerprint is counted failed and named") {
    val registry = graft.SparkEntry.queries
    val good = Fingerprint.of(registry("m_mae")(spark, dir))
    val fns = registry + ("boom" -> ((_: SparkSession, _: String) => throw new IllegalStateException("boom")))
    val expected = Map(
      "m_mae" -> good,
      "p_diff" -> Fingerprint(1L, BigInt(0)),
      "boom" -> good)
    val pr = PanelBench.runPass(spark, dir, 1, traced = false, Seq("m_mae", "p_diff", "boom"), fns, expected)
    val failed = pr.queries.filter(_.failure.isDefined)
    assert(failed.map(_.name).toSet == Set("p_diff", "boom"))
    assert(failed.find(_.name == "boom").get.failure.get.contains("IllegalStateException"))
    assert(failed.find(_.name == "p_diff").get.failure.get.startsWith("fingerprint"))
    assert(PanelBench.failedFrac(Seq(pr)) == 2.0 / 3.0)
  }

  test("every workload member belongs to its family and has a recorded fingerprint") {
    val registry = graft.SparkEntry.queries.keys
    val expected = PanelBench.readExpected("expected/fingerprints.txt")
    Workloads.names.foreach { w =>
      val members = Workloads.members(w)
      assert(members.nonEmpty, w)
      assert(members.toSet.subsetOf(Workloads.family(w, registry).toSet), w)
      assert(members.forall(expected.contains), w)
    }
  }
}
