package taskbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Graft

class TaskbenchSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Graft.local(2)
  private val tmp = {
    val dir = Paths.get("target", "spec-work").toAbsolutePath
    FileUtils.deleteDirectory(dir.toFile)
    Files.createDirectories(dir).toString
  }

  /** The workloads at a size a test can afford. */
  private def tiny(name: String, seed: Long): Workload = name match {
    case "compare_migrate" => new Sequence(name,
      Seq(new CompareTask(seed, 2, rows = 20000L), new MigrateTask(seed, 2, rows = 5000L)))
    case "dedup" => new DedupTask(seed, 2, clusters = 20)
  }

  /** Order-independent digest of a relation: row count and the exact sum
    * of a 64-bit hash over every column.
    */
  private def digest(df: DataFrame): String = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${r.getDecimal(1)}"
  }

  /** Digest of every table a workload's set-up wrote under `dir`. */
  private def inputDigest(dir: String): Seq[String] =
    Files.walk(Paths.get(dir)).iterator.asScala.toSeq
      .filter(_.getFileName.toString == "_SUCCESS").map(_.getParent.toString).sorted
      .map(t => t.stripPrefix(dir) + "=" + digest(spark.read.parquet(t)))

  test("the same seed gives identical inputs, another seed different ones") {
    Workloads.names.foreach { w =>
      val digests = Seq(1L, 1L, 2L).zipWithIndex.map { case (seed, i) =>
        val dir = s"$tmp/digest-$w-$i"
        tiny(w, seed).generate(spark, dir)
        inputDigest(dir)
      }
      assert(digests(0).nonEmpty && digests(0) == digests(1), w)
      digests(0).zip(digests(2)).foreach { case (a, b) => assert(a != b, w) }
    }
  }

  test("the engine's outputs match the closed-form expectations at tiny scale") {
    Workloads.names.foreach { w =>
      val dir = s"$tmp/closed-$w"
      val wl = tiny(w, 7L)
      wl.generate(spark, dir)
      // twice: dedup also checks that an iteration repeats the first one's counts
      (1 to 2).foreach { _ =>
        val verdict = wl.check(spark, dir, wl.run(spark, dir, new Spans(spark, false, "spec")))
        assert(verdict.problems.isEmpty, s"$w: ${verdict.problems}")
      }
    }
  }

  test("a wrong answer is caught: a compare target without its planted changes") {
    val dir = s"$tmp/wrong-compare"
    val wl = new CompareTask(3L, 2, rows = 20000L)
    wl.generate(spark, dir)
    Gen.write(spark.read.parquet(s"$dir/src"), s"$dir/dst-equal")
    Files.move(Paths.get(s"$dir/dst"), Paths.get(s"$dir/dst-planted"))
    Files.move(Paths.get(s"$dir/dst-equal"), Paths.get(s"$dir/dst"))
    val verdict = wl.check(spark, dir, wl.run(spark, dir, new Spans(spark, false, "spec")))
    assert(verdict.problems.exists(_.startsWith("table_status")))
  }

  test("metric names are well-formed, unique and the ones BENCHMARK.json declares") {
    val names = Metrics.EndToEnd.map(_._1) ++ Metrics.perLayerNames.map(_._1)
    names.foreach(n => assert(n.matches("[A-Za-z0-9_.-]+") && n.length <= 64, n))
    assert(names.distinct.size == names.size)
    val declared = new ObjectMapper().readTree(Paths.get("..", "BENCHMARK.json").toFile)
    def listed(key: String): Seq[(String, String)] =
      declared.get(key).elements.asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    assert(listed("end_to_end") == Metrics.EndToEnd)
    assert(listed("per_layer") == Metrics.perLayerNames)
    assert(declared.get("workloads").elements.asScala.map(_.get("name").asText).toSeq ==
      Workloads.names)
  }

  test("a span around one known action attributes exactly one job") {
    val counters = new SparkCounters(spark).register()
    try {
      spark.sparkContext.setJobGroup("g", "g")
      val spans = new Spans(spark, true, "g")
      spans("one")(spark.range(0, 100, 1, 2).collect())
      spark.sparkContext.clearJobGroup()
      val groups = counters.takeAll()
      assert(groups("g/one").jobs == 1)
      assert(groups("g/one").tasks == 2)
      assert(spans.closed.map(_.name) == Seq("one"))
    } finally counters.unregister()
  }
}
