package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Output checks that do not go through the engine's schema compiler: each
  * expected violation count is a plain Spark SQL count over the input. */
object Checks {
  val Sources = Seq("web", "books", "code", "wiki")
  private val Uuid =
    "^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"
  private val MaxTokens = 8192
  private val Vocab = graft.tokens.TokenSeqs.VocabSize

  /** Expected violations per keyword location for each group of `rows`
    * (`by`), given the rows each group has flagged by uniqueness. The
    * canonical schema states no `n_tok == size(tokens)` keyword, so a row
    * breaking only that invariant must raise nothing: the exact
    * per-location totals check that too. */
  def expectedBy(rows: DataFrame, by: String, uniquenessRows: Map[Int, Long]): Map[Int, Map[String, Long]] = {
    val g = col(by)
    // per-element token counts, over only the rows holding an out-of-range
    // token (a plain explode, no per-row lambda over every array)
    val badTokens = rows.filter(array_min(col("tokens")) < 0 || array_max(col("tokens")) > Vocab - 1)
      .select(g, explode(col("tokens")).as("t"))
      .groupBy(g).agg(count(when(col("t") < 0, 1)), count(when(col("t") > Vocab - 1, 1)))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    rows.groupBy(g).agg(
      sum(Seq("doc_id", "tokens", "n_tok", "source")
        .map(c => col(c).isNull.cast("long")).reduce(_ + _)),
      count(when(col("doc_id").isNotNull && !col("doc_id").rlike(Uuid), 1)),
      count(when(size(col("tokens")) < 1, 1)),
      count(when(size(col("tokens")) > MaxTokens, 1)),
      count(when(col("n_tok") < 1, 1)),
      count(when(col("n_tok") > MaxTokens, 1)),
      count(when(col("source").isNotNull && !col("source").isin(Sources: _*), 1)),
      count(when(col("source").isNull || !col("source").isin(Sources: _*), 1)))
      .collect().map { r =>
        val k = r.getInt(0)
        def l(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
        val (below, above) = badTokens.getOrElse(k, (0L, 0L))
        k -> Map(
          "#/required" -> l(1),
          "#/properties/doc_id/format" -> l(2),
          "#/properties/tokens/items/minimum" -> below,
          "#/properties/tokens/items/maximum" -> above,
          "#/properties/tokens/minItems" -> l(3),
          "#/properties/tokens/maxItems" -> l(4),
          "#/properties/n_tok/minimum" -> l(5),
          "#/properties/n_tok/maximum" -> l(6),
          "#/properties/source/enum" -> l(7),
          "#/$dataset/referential/source" -> l(8),
          "#/$dataset/uniqueness/doc_id" -> uniquenessRows.getOrElse(k, 0L))
          .filter(_._2 > 0)
      }.toMap
  }

  /** Expected violations of a whole table: a batch job flags every row whose
    * non-null doc_id occurs more than once. */
  def expected(rows: DataFrame): Map[String, Long] = {
    val one = rows.withColumn("_g", lit(0))
    expectedBy(one, "_g", Map(0 -> duplicateRows(one, "_g").getOrElse(0, 0L)))(0)
  }

  /** Per group: rows whose non-null doc_id occurs more than once in it. */
  private def duplicateRows(rows: DataFrame, by: String): Map[Int, Long] =
    rows.filter(col("doc_id").isNotNull).groupBy(col(by), col("doc_id")).count()
      .filter(col("count") > 1).groupBy(by).agg(sum("count")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap

  /** Expected violations of each append (column `append`) validated in order
    * onto `base`. The incremental run flags a delta row once for a key
    * repeated inside its append and once more for a key already present in
    * the base or an earlier append. */
  def expectedPerAppend(appends: DataFrame, base: DataFrame): Map[Int, Map[String, Long]] = {
    val keyed = appends.select(col("append"), col("doc_id")).filter(col("doc_id").isNotNull)
    val firstSeen = base.select(col("doc_id"), lit(-1).as("first"))
      .unionByName(keyed.select(col("doc_id"), col("append").as("first")))
      .groupBy("doc_id").agg(min("first").as("first"))
    val inPrior = keyed.join(firstSeen, Seq("doc_id"))
      .filter(col("first") < col("append")).groupBy("append").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val inAppend = duplicateRows(appends, "append")
    val flagged = (inPrior.keySet ++ inAppend.keySet)
      .map(g => g -> (inPrior.getOrElse(g, 0L) + inAppend.getOrElse(g, 0L))).toMap
    expectedBy(appends, "append", flagged)
  }

  /** Expected figures are computed when the inputs are generated and kept
    * beside them (`_expected.tsv`), so a run only reads its outputs back. */
  def save(dir: String, rows: Long, expect: Map[String, Long]): Unit =
    java.nio.file.Files.writeString(new java.io.File(dir, "_expected.tsv").toPath,
      (expect + (RowsKey -> rows)).map { case (k, v) => s"$k\t$v\n" }.mkString)

  /** (input rows, expected violations per keyword location) */
  def load(dir: String): (Long, Map[String, Long]) = {
    val m = java.nio.file.Files.readAllLines(new java.io.File(dir, "_expected.tsv").toPath)
      .toArray(Array.empty[String]).map(_.split('\t')).map(a => a(0) -> a(1).toLong).toMap
    (m(RowsKey), m - RowsKey)
  }
  private val RowsKey = "rows"

  def actual(violations: DataFrame): Map[String, Long] =
    violations.groupBy("keywordLocation").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Mismatches between a job's outputs and the expected figures; empty
    * means the job passed. */
  def compare(spark: SparkSession, violationsDir: String, manifest: DataFrame,
              expect: Map[String, Long], totalRows: Long, partitions: Long): Seq[String] = {
    val viol = spark.read.parquet(violationsDir)
    val got = actual(viol)
    val keyErrs = (expect.keySet ++ got.keySet).toSeq.sorted.flatMap { k =>
      val (e, g) = (expect.getOrElse(k, 0L), got.getOrElse(k, 0L))
      if (e != g) Some(s"$k: expected $e, got $g") else None
    }
    val m = manifest.agg(sum("row_count"), countDistinct("partition_key")).head()
    val manErrs = Seq(
      (m.getLong(0) != totalRows) -> s"manifest rows ${m.getLong(0)} != $totalRows",
      (m.getLong(1) != partitions) -> s"manifest partitions ${m.getLong(1)} != $partitions")
      .collect { case (true, msg) => msg }
    keyErrs ++ manErrs
  }
}
