package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The one session factory and the one timing loop: the tests run the
  * bench's conf, no main builds a session of its own, and the named
  * mode of [[Bench]] reports per-rep job accounting. */
class GraftSessionSpec extends SparkSpec {

  test("the test session carries the bench's conf") {
    val want = Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.buffer.pageSize" -> "4m",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.codegen.cache.maxEntries" -> "4000",
      "spark.sql.codegen.maxFields" -> "1024",
      "spark.ui.enabled" -> "false")
    val conf = spark.sparkContext.getConf
    want.foreach { case (k, v) =>
      assert(conf.getOption(k).contains(v), s"$k: ${conf.getOption(k)} != $v")
    }
    assert(spark.conf.get("spark.sql.codegen.maxFields") == "1024")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
  }

  test("no main under src/main builds a session outside GraftSession") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root))
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toList
    def isComment(line: String): Boolean = {
      val t = line.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
    }
    val sites = files.flatMap { (f: Path) =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if line.contains("SparkSession.builder(") && !isComment(line) =>
          s"${root.relativize(f)}:${i + 1}"
      }
    }
    assert(sites.map(_.takeWhile(_ != ':')) == List("graft/GraftSession.scala"),
      sites.mkString(", "))
  }

  test("Bench's named mode returns one record per rep with the query's jobs") {
    val sf0001 = Paths.get(System.getProperty("user.home"), "testdata", "sf0.001").toString
    val recs = Bench.profile(spark, sf0001, Seq("q1_agg"), 2)
    assert(recs.map(r => (r.name, r.rep)) == Seq(("q1_agg", 1), ("q1_agg", 2)))
    recs.foreach { r =>
      assert(r.jobs > 0, r)
      assert(r.stages >= r.jobs && r.tasks > 0, r)
      assert(r.wallSec > 0 && r.gapSec >= 0 && r.gapSec <= r.wallSec, r)
    }
  }
}
