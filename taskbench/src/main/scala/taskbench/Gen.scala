package taskbench

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a function of (seed, row id), so
  * the same seed writes the same rows whatever the partitioning; the engine
  * only ever sees the parquet files written here.
  */
object Gen {

  /** Columns of the lineitem-shaped table: long key, int, two doubles, a
    * variable-length string, a timestamp and a fixed 20-char string.
    */
  val TableCols: Seq[String] = Seq("key", "qty", "price", "discount", "comment", "shipped", "tag")

  private def h(seed: Long, salt: Int): Column = xxhash64(col("id"), lit(seed), lit(salt))

  /** Rows with keys [from, until) of the lineitem-shaped table. `salt`
    * separates the value streams of tables that share a seed.
    */
  def table(spark: SparkSession, from: Long, until: Long, seed: Long, salt: Int,
      parts: Int): DataFrame =
    spark.range(from, until, 1, parts).select(
      col("id").as("key"),
      (pmod(h(seed, salt), lit(50L)) + 1).cast("int").as("qty"),
      (pmod(h(seed, salt + 1), lit(10000000L)) / 100.0).as("price"),
      (pmod(h(seed, salt + 2), lit(11L)) / 100.0).as("discount"),
      substring(sha2(h(seed, salt + 3).cast("string"), 256), lit(1),
        (pmod(h(seed, salt + 4), lit(40L)) + 4).cast("int")).as("comment"),
      timestamp_seconds(lit(1262304000L) + pmod(h(seed, salt + 5), lit(315360000L))).as("shipped"),
      substring(md5(h(seed, salt + 6).cast("string")), 1, 20).as("tag"))

  def write(df: DataFrame, path: String): Unit = df.write.mode("overwrite").parquet(path)

  // ---------------------------------------------------------------- compare

  /** Perturbation plan of a compare target: seeded key ranges, each key in
    * a range deleted, mutated (+1 on `qty`) or duplicated by (key + seed) % 3.
    */
  final case class Perturbation(ranges: Seq[(Long, Long)], seed: Long) {
    def keys: Seq[Long] = ranges.flatMap { case (a, b) => a until b }
    private def kind(k: Long): Long = Math.floorMod(k + seed, 3L)
    def deletes: Long = keys.count(kind(_) == 0L).toLong
    def mutations: Long = keys.count(kind(_) == 1L).toLong
    def duplicates: Long = keys.count(kind(_) == 2L).toLong
    /** Rows of the source the target lacks (deletes and the originals of mutated rows). */
    def expectedAdds: Long = deletes + mutations
    /** Rows of the target the source lacks (mutated rows and extra copies). */
    def expectedDels: Long = mutations + duplicates

    def inRanges(key: Column): Column =
      ranges.map { case (a, b) => key >= a && key < b }.reduce(_ || _)
    def kindOf(key: Column): Column = pmod(key + lit(seed), lit(3L))
  }

  /** `nRanges` ranges of `rangeLen` keys in as many distinct, seeded
    * chunks of `chunkRows` keys each, kept a tenth of a chunk away from the
    * chunk's edges: with equi-depth chunks over keys [0, rows) every seed
    * then plants its changes in exactly `nRanges` chunks.
    */
  def perturbation(rows: Long, chunkRows: Long, nRanges: Int, rangeLen: Long,
      seed: Long): Perturbation = {
    val chunks = (rows / chunkRows).toInt
    val margin = chunkRows / 10
    require(chunks >= nRanges && rangeLen <= chunkRows - 2 * margin,
      s"$chunks chunks of $chunkRows keys cannot hold $nRanges ranges of $rangeLen")
    val rnd = new Random(seed)
    val picked = rnd.shuffle((0 until chunks).toVector).take(nRanges).sorted
    Perturbation(picked.map { c =>
      val start = c * chunkRows + margin + rnd.nextLong(chunkRows - 2 * margin - rangeLen + 1)
      (start, start + rangeLen)
    }, seed)
  }

  /** Source and perturbed target of the compare workload. */
  def compareInputs(spark: SparkSession, rows: Long, p: Perturbation, seed: Long,
      parts: Int): (DataFrame, DataFrame) = {
    val src = table(spark, 0, rows, seed, 0, parts)
    val key = col("key")
    val kept = src.where(!(p.inRanges(key) && p.kindOf(key) === 0L))
      .withColumn("qty", when(p.inRanges(key) && p.kindOf(key) === 1L, col("qty") + 1)
        .otherwise(col("qty")))
    val dups = src.where(p.inRanges(key) && p.kindOf(key) === 2L)
    (src, kept.unionByName(dups))
  }

  // ------------------------------------------------------------------ dedup

  val DocsPerCluster = 6
  val TokensPerDoc = 80

  /** Cluster code as 3 digits; a token is code + 2 letters + code. Every
    * 8-character shingle of such text holds a whole code, or the two parts
    * of one code, at positions fixed by its digit/letter/space pattern, so
    * no shingle is shared across clusters.
    */
  private def code(cluster: Int): String = f"$cluster%03d"

  /** Documents in planted clusters of [[DocsPerCluster]] near-duplicates:
    * doc 0 of a cluster is its base text, every other doc edits one letter
    * in about 5% of the base's tokens. doc_id / DocsPerCluster is the
    * planted cluster. At 10% the LSH bands missed enough base-to-copy pairs
    * that some seeds left a copy three hops from its base, and connected
    * components ran one more round (7 more jobs) on those seeds only.
    */
  def docs(spark: SparkSession, clusters: Int, seed: Long, parts: Int): DataFrame = {
    require(clusters <= 1000, "cluster codes have 3 digits")
    import spark.implicits._
    val rows = (0 until clusters).flatMap { c =>
      val rnd = new Random(seed * 1000003L + c)
      val cc = code(c)
      def letter(): Char = ('a' + rnd.nextInt(26)).toChar
      val base = Array.fill(TokensPerDoc)(Array.fill(2)(letter()))
      (0 until DocsPerCluster).map { j =>
        val words = base.map(_.clone())
        if (j > 0) (0 until TokensPerDoc).filter(_ => rnd.nextInt(20) == 0).foreach { t =>
          words(t)(rnd.nextInt(2)) = letter()
        }
        (c.toLong * DocsPerCluster + j, words.map(w => cc + new String(w) + cc).mkString(" "))
      }
    }
    rows.toDF("doc_id", "text").repartition(parts)
  }

  // ---------------------------------------------------------------- migrate

  /** Migrate inputs: a source table, a safe-mode batch of `batchRows` (half
    * updates of existing keys, half new keys) and CDC events (`events`
    * updates and deletes of existing keys, `events` inserts of new keys).
    */
  final case class MigratePlan(rows: Long, batchRows: Long, events: Long) {
    def batchInserts: Long = batchRows / 2
    def batchUpdates: Long = batchRows - batchInserts
    /** Existing keys touched by events: every other one is a delete. */
    def eventDeletes: Long = (events + 1) / 2
    def expectedSafeRows: Long = rows + batchInserts
    def expectedCdcRows: Long = rows - eventDeletes + events
  }

  def migrateInputs(spark: SparkSession, m: MigratePlan, seed: Long,
      parts: Int): (DataFrame, DataFrame, DataFrame) = {
    val src = table(spark, 0, m.rows, seed, 0, parts)
    // existing keys spread over the table by a seeded stride
    val stride = math.max(1L, m.rows / math.max(1L, math.max(m.batchUpdates, m.events)))
    val offset = Math.floorMod(seed, stride)
    def existing(n: Long, salt: Int): DataFrame =
      table(spark, 0, n, seed, salt, parts)
        .withColumn("key", col("key") * stride + offset)
    val batch = existing(m.batchUpdates, 100)
      .unionByName(table(spark, m.rows, m.rows + m.batchInserts, seed, 100, parts))
    val ev = existing(m.events, 200)
      .withColumn("op", when(pmod(col("key") - offset, lit(2L * stride)) === 0L, "D").otherwise("U"))
      .unionByName(table(spark, m.rows + m.batchInserts, m.rows + m.batchInserts + m.events,
        seed, 200, parts).withColumn("op", lit("I")))
    (src, batch, ev)
  }
}
