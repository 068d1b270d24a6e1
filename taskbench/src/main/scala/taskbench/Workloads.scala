package taskbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.cli.TaskRunner
import graft.functions.Canonical
import graft.operators.{ChunkPlanner, DataCompare, Dedup, Migrate}

/** One user-level task. `generate` writes the seeded inputs under `dir`;
  * `run` performs one full iteration of the task on them, wrapping every
  * layer call in a span and materializing every layer output (an eager
  * localCheckpoint, a collect or a file write); `check` inspects that
  * output outside the timed region.
  */
trait Workload {
  type Out
  def name: String
  /** Layer spans of one iteration, in call order. */
  def spans: Seq[String]
  /** Input rows one iteration reads, the numerator of rows_per_s. */
  def inputRows: Long
  def generate(spark: SparkSession, dir: String): Unit
  def run(spark: SparkSession, dir: String, span: Spans): Out
  def check(spark: SparkSession, dir: String, out: Out): Verdict
}

/** What an output check found wrong (empty when right), and the layer
  * ratios it measured on the way, named `<span>.<ratio>`.
  */
final case class Verdict(problems: Seq[String], ratios: Map[String, Double] = Map.empty)

object Verdict {
  def of(checks: (Boolean, String)*): Seq[String] = checks.collect { case (false, msg) => msg }
}

object Workloads {
  def byName(name: String, seed: Long, parts: Int): Workload = name match {
    case "compare_migrate" =>
      new Sequence(name, Seq(new CompareTask(seed, parts), new MigrateTask(seed, parts)))
    case "dedup" => new DedupTask(seed, parts)
    case other   => throw new IllegalArgumentException(s"unknown workload $other")
  }
  val names: Seq[String] = Seq("compare_migrate", "dedup")
}

/** Tasks run one after the other as one workload, each on its own inputs
  * under `<dir>/<task name>`.
  */
final class Sequence(val name: String, tasks: Seq[Workload]) extends Workload {
  type Out = Seq[Any]
  val spans: Seq[String] = tasks.flatMap(_.spans)
  def inputRows: Long = tasks.map(_.inputRows).sum

  def generate(spark: SparkSession, dir: String): Unit =
    tasks.foreach(t => t.generate(spark, s"$dir/${t.name}"))

  def run(spark: SparkSession, dir: String, span: Spans): Seq[Any] =
    tasks.map(t => t.run(spark, s"$dir/${t.name}", span))

  def check(spark: SparkSession, dir: String, outs: Seq[Any]): Verdict = {
    val verdicts = tasks.zip(outs).map { case (t, o) =>
      t.check(spark, s"$dir/${t.name}", o.asInstanceOf[t.Out])
    }
    Verdict(verdicts.flatMap(_.problems), verdicts.flatMap(_.ratios).toMap)
  }
}

/** data_compare over a lineitem-shaped pair: plan chunks on the key, screen
  * every chunk by checksum, diff only the mismatched chunks, render repair
  * SQL and roll the table status up. Only reads; the checksum layer, and
  * with it the canonical row render, dominates.
  */
final class CompareTask(seed: Long, parts: Int, rows: Long = 80000L,
    chunkRows: Long = 10000L, ranges: Int = 2) extends Workload {
  type Out = CompareTask.Out
  import CompareTask.Out

  val name = "compare"
  val spans = Seq("plan", "checksum", "diff", "repair", "summary")
  // 1% of the keys, in `ranges` chunks
  val perturbation: Gen.Perturbation =
    Gen.perturbation(rows, chunkRows, ranges, rows / 100 / ranges, seed)
  def inputRows: Long = 2 * rows - perturbation.deletes + perturbation.duplicates
  private val cols = Gen.TableCols

  def generate(spark: SparkSession, dir: String): Unit = {
    val (src, dst) = Gen.compareInputs(spark, rows, perturbation, seed, parts)
    Gen.write(src, s"$dir/src")
    Gen.write(dst, s"$dir/dst")
  }

  def run(spark: SparkSession, dir: String, span: Spans): Out = {
    val src = spark.read.parquet(s"$dir/src")
    val dst = spark.read.parquet(s"$dir/dst")
    val (chunks, cid) = span("plan") {
      val chunks = ChunkPlanner.plan(src, "key", (rows / chunkRows).toInt)
      (chunks, ChunkPlanner.chunkIdColumn(col("key"), chunks))
    }
    val status = span("checksum") {
      DataCompare.compareChunks(src, dst, cid, cols).localCheckpoint(true)
    }
    val bad = status.where(col("status") =!= "EQUAL")
    val diff = span("diff") {
      DataCompare.rowDiff(src, dst, cols, Some(cid), Some(bad)).localCheckpoint(true)
    }
    val stmts = span("repair") {
      DataCompare.repairSql(diff, "target", cols).select("side", "stmt").collect()
    }
    val summary = span("summary") { DataCompare.tableSummary(status).collect().head }
    Out(chunks.flatMap(_.upper), status, stmts.map(_.getString(0)).toSeq, summary)
  }

  /** The chunk a key falls in under the planned bounds (chunkIdColumn's rule). */
  private def chunkOf(bounds: Seq[Double], k: Long): Long = {
    val i = bounds.indexWhere(k < _)
    (if (i < 0) bounds.length else i).toLong
  }

  def check(spark: SparkSession, dir: String, o: Out): Verdict = {
    val p = perturbation
    val planted = p.keys.map(chunkOf(o.bounds, _)).distinct.sorted
    val bad = o.status.where(col("status") =!= "EQUAL")
      .select(col("chunk_id").cast("long"), col("src_cnt") + col("dst_cnt")).collect()
    val badChunks = bad.map(_.getLong(0)).sorted.toSeq
    val adds = o.sides.count(_ == "ADD").toLong
    val dels = o.sides.count(_ == "DEL").toLong
    val srcRows = o.summary.getAs[Long]("src_rows")
    val dstRows = o.summary.getAs[Long]("dst_rows")
    val tableStatus = o.summary.getAs[String]("table_status")
    Verdict(Verdict.of(
      (badChunks == planted) -> s"mismatched chunks $badChunks != planted $planted",
      (adds == p.expectedAdds) -> s"ADD rows $adds != ${p.expectedAdds}",
      (dels == p.expectedDels) -> s"DEL rows $dels != ${p.expectedDels}",
      (o.sides.size == p.expectedAdds + p.expectedDels) ->
        s"repair statements ${o.sides.size} != ${p.expectedAdds + p.expectedDels}",
      (tableStatus == "NOT_EQUAL") -> s"table_status $tableStatus",
      (srcRows == rows && dstRows == rows - p.deletes + p.duplicates) ->
        s"summary rows $srcRows/$dstRows"),
      Map(
        "checksum.bad_chunk_frac" -> badChunks.size.toDouble / (o.bounds.size + 1),
        "diff.rescan_frac" -> bad.map(_.getLong(1)).sum.toDouble / (srcRows + dstRows)))
  }
}

object CompareTask {
  /** Planned chunk bounds, the checkpointed chunk statuses, the collected
    * repair statements' sides and the table summary row.
    */
  final case class Out(bounds: Seq[Double], status: DataFrame, sides: Seq[String], summary: Row)
}

/** Corpus near-duplicate pass: MinHash signatures, LSH band candidates,
  * exact shingle-Jaccard verification kept at >= 0.5, connected components.
  * Touches no Canonical or DataCompare code.
  */
final class DedupTask(seed: Long, parts: Int, clusters: Int = 1000) extends Workload {
  type Out = DedupTask.Out
  import DedupTask.Out

  val name = "dedup"
  val spans = Seq("sig", "cand", "verify", "cc")
  def inputRows: Long = clusters.toLong * Gen.DocsPerCluster
  /** Kept pairs have jaccard >= 0.5, on the operator's 1e5 scale. */
  val KeepScaled = 50000L
  // the first iteration's counts; every later iteration must repeat them
  private var reference: Option[(Long, Long, Long)] = None

  def generate(spark: SparkSession, dir: String): Unit =
    Gen.write(Gen.docs(spark, clusters, seed, parts), s"$dir/docs")

  def run(spark: SparkSession, dir: String, span: Spans): Out = {
    val docs = spark.read.parquet(s"$dir/docs")
    val sig = span("sig") {
      Dedup.minhashSignatures(docs, "doc_id", "text").localCheckpoint(true)
    }
    val cand = span("cand") { Dedup.minhashCandidates(sig) }
    val verified = span("verify") {
      Dedup.jaccardVerify(cand, docs, "doc_id", "text").localCheckpoint(true)
    }
    val labels = span("cc") {
      Dedup.connectedComponentsCounted(kept(verified))._1.localCheckpoint(true)
    }
    Out(cand, verified, labels)
  }

  private def kept(verified: DataFrame): DataFrame =
    verified.where(col("jaccard_scaled") >= KeepScaled).select("d1", "d2")

  def check(spark: SparkSession, dir: String, o: Out): Verdict = {
    val clustersPerComponent = o.labels
      .groupBy("component")
      .agg(countDistinct(floor(col("doc_id") / Gen.DocsPerCluster)).as("clusters"))
    val mixed = clustersPerComponent.where(col("clusters") > 1).count()
    val counts = (o.candidates.count(), kept(o.verified).count(), clustersPerComponent.count())
    if (reference.isEmpty) reference = Some(counts)
    Verdict(Verdict.of(
      (mixed == 0L) -> s"$mixed components span two planted clusters",
      (counts._2 > 0L) -> s"no duplicates found: $counts",
      reference.contains(counts) -> s"(candidates, kept, components) $counts != ${reference.get}"),
      Map("verify.keep_frac" -> counts._2.toDouble / counts._1))
  }
}

object DedupTask {
  /** The checkpointed candidate pairs, verified pairs and component labels. */
  final case class Out(candidates: DataFrame, verified: DataFrame, labels: DataFrame)
}

/** The write side: CSV export, safe-mode (REPLACE INTO) apply of a 1%
  * batch and a CDC merge of 1% update/delete events plus 1% inserts, all
  * through the task runner's entry points, all written to local disk.
  */
final class MigrateTask(seed: Long, parts: Int, rows: Long = 80000L) extends Workload {
  type Out = Unit
  val name = "migrate"
  val spans = Seq("csv", "safe", "cdc")
  val plan: Gen.MigratePlan = Gen.MigratePlan(rows, rows / 100, rows / 100)
  // csv reads the source; safe reads the batch and its target; cdc the
  // source and the events
  def inputRows: Long = 3 * rows + plan.batchRows + 2 * plan.events
  private val cols = Gen.TableCols
  private val key = "key"

  def generate(spark: SparkSession, dir: String): Unit = {
    val (src, batch, events) = Gen.migrateInputs(spark, plan, seed, parts)
    Gen.write(src, s"$dir/src")
    Gen.write(batch, s"$dir/batch")
    Gen.write(events, s"$dir/events")
    // the safe-mode target is an earlier plain migration of the source
    TaskRunner.stmtMigrate(spark, Map("src" -> s"$dir/src", "out" -> s"$dir/target"))
  }

  def run(spark: SparkSession, dir: String, span: Spans): Unit = {
    val out = s"$dir/out"
    span("csv") {
      TaskRunner.csvMigrate(spark, Map("src" -> s"$dir/src", "out" -> s"$out/csv",
        "cols" -> cols.mkString(",")))
    }
    span("safe") {
      TaskRunner.stmtMigrate(spark, Map("src" -> s"$dir/batch",
        "dst" -> s"$dir/target/migrated", "keys" -> key, "safeMode" -> "true",
        "out" -> s"$out/safe"))
    }
    span("cdc") {
      TaskRunner.cdcApply(spark, Map("dst" -> s"$dir/src", "events" -> s"$dir/events",
        "keys" -> key, "out" -> s"$out/cdc"))
    }
  }

  /** The seeded keys whose CSV rows are compared with the source. */
  private def sampleKeys: Seq[Long] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(64)(math.floorMod(rnd.nextLong(), rows))
  }

  def check(spark: SparkSession, dir: String, o: Unit): Verdict = {
    val out = s"$dir/out"
    val csvSchema = StructType(cols.map(StructField(_, StringType)))
    val csv = Migrate.readCsv(spark, s"$out/csv/csv", csvSchema)
    val src = spark.read.parquet(s"$dir/src")
    val keys = sampleKeys.distinct
    val canon = src.where(col(key).isin(keys: _*))
      .select(cols.map(n => Canonical.canonical(col(n), src.schema(n).dataType).as(n)): _*)
    // one pass over the CSV: its row count and the sampled rows
    val r = csv.agg(count(lit(1)),
      collect_list(when(col(key).isin(keys.map(_.toString): _*), struct(cols.map(col): _*))))
      .head()
    val csvCount = r.getLong(0)
    val csvRows = r.getSeq[Row](1).toSet
    val canonRows = canon.collect().toSet
    val safeRows = spark.read.parquet(s"$out/safe/migrated").count()
    val cdcRows = spark.read.parquet(s"$out/cdc/applied").count()
    Verdict(Verdict.of(
      (csvCount == rows) -> s"csv rows $csvCount != $rows",
      (csvRows == canonRows && csvRows.size == keys.size) ->
        s"csv sample differs from the canonical projection (${csvRows.size} vs ${canonRows.size} rows)",
      (safeRows == plan.expectedSafeRows) -> s"safe-mode rows $safeRows != ${plan.expectedSafeRows}",
      (cdcRows == plan.expectedCdcRows) -> s"cdc rows $cdcRows != ${plan.expectedCdcRows}"))
  }
}
