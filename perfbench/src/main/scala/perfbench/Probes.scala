package perfbench

import graft.functions.TDigestQuantiles
import graft.model.SchemaParser
import graft.row.RowValidator
import graft.run.{IncrementalValidation, ValidationPipeline}
import graft.snapshot.{AppendSnapshotStore, ManifestStore}
import graft.table.TableChecks
import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Janino compilations so far in this JVM (Spark's codegen metrics). The
  * compile-time histogram is a sampling reservoir, so `ms` is the count of
  * new compilations times the reservoir mean: an estimate. */
final case class Codegen(classes: Long, ms: Double) {
  def minus(o: Codegen): Codegen = Codegen(classes - o.classes, ms - o.ms)
}
object Codegen {
  def now(): Codegen = {
    val h = org.apache.spark.SparkInternals.codegenCompiles
    Codegen(h.getCount, h.getCount * h.getSnapshot.getMean)
  }
}

/** Per-layer probes: each calls one layer's public function from outside,
  * inside its own span, on the input of one job (batch: the table; standing:
  * the last append). The standing-table probes run on the workload's table
  * when it has one, else on a two-append side table cut from the input. */
final class Probes(spark: SparkSession, t: Tracer,
                   metrics: mutable.LinkedHashMap[String, (Double, String)],
                   runDir: File, baseline: DataFrame, dim: DataFrame) {
  private val cfg = Data.cfg
  private def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Run `f` in a span; returns its seconds and the span's Spark work. */
  private def probe[A](name: String)(f: => A): (Double, SparkWork, A) = {
    val r = t.span(name, "probe")(f)
    val s = t.named(name).last
    (s.seconds, t.inclusive(s), r)
  }

  /** `table`: the directory of the workload's standing table (`table/`
    * and `state/`), if it has one. */
  def run(input: DataFrame, table: Option[File]): Unit = {
    val reps = 200
    val (parseS, _, doc) = probe("model.parse")(
      (1 to reps).map(_ => SchemaParser.parse(cfg.schemaJson)).last)
    put("model.parse_ms", 1000 * parseS / reps, "ms")

    val (compileS, _, valid) = probe("compile.validity")(RowValidator.validity(input, doc))
    put("compile.compile_ms", 1000 * compileS, "ms")
    val tree = input.select(valid.as("v")).queryExecution.analyzed.expressions.head
    put("compile.expr_nodes", tree.collect { case e => e }.size.toDouble, "count")

    val planned = ValidationPipeline.run(spark, input, Some(dim), Some(baseline), cfg, "probe")
    val (planS, _, _) = probe("spark.plan") {
      planned.violations.queryExecution.executedPlan
      planned.manifest.queryExecution.executedPlan
    }
    put("spark.plan_ms", 1000 * planS, "ms")

    put("tokens.scan_s", probe("tokens.scan")(
      input.agg(sum(size(col("tokens")))).collect())._1, "s")
    put("tokens.scan_pruned_s", probe("tokens.scan_pruned")(
      input.agg(max("n_tok"), count("doc_id"), max("source")).collect())._1, "s")

    val (validS, validW, _) = probe("row.validity")(input.filter(!valid).count())
    put("row.validity_s", validS, "s")
    put("row.validity_cpu_s", validW.cpuNs / 1e9, "s")

    // the pipeline's digest shape: scalars + the full row of invalid rows only
    val digest = input.select(col("doc_id"), col("part"), spark_partition_id().as("_pid"),
      when(!valid, struct(input.columns.toIndexedSeq.map(col): _*)).as("_row")).cache()
    digest.count()
    val (extractS, _, violationRows) = probe("row.extract")(RowValidator.violationsFromPayload(
      digest, doc, "_row", "_pid", "doc_id", extraCols = Seq("part")).count())
    put("row.extract_s", extractS, "s")
    put("row.violation_rows", violationRows.toDouble, "count")
    digest.unpersist()

    val (uniqS, uniqW, _) = probe("table.uniqueness")(TableChecks.duplicatesSalted(
      input.filter(col("doc_id").isNotNull), "doc_id", cfg.saltBuckets).count())
    put("table.uniqueness_s", uniqS, "s")
    put("table.uniqueness_shuffle_bytes", uniqW.shuffleWriteBytes.toDouble, "bytes")
    put("table.ri_s", probe("table.ri")(
      TableChecks.referentialViolations(input, dim, "source", "source").count())._1, "s")
    put("table.stats_s", probe("table.stats")(input.groupBy("part").agg(count(lit(1)),
      avg(col("doc_id").isNull.cast("double")), approx_count_distinct(col("doc_id"), 0.02),
      min("n_tok"), max("n_tok"), TDigestQuantiles(col("n_tok"), Seq(0.5, 0.95, 0.99)))
      .collect())._1, "s")
    put("table.drift_s", probe("table.drift") {
      TableChecks.ksTest(input, baseline, "n_tok")
      TableChecks.chiSquaredTest(input, baseline, "source")
    }._1, "s")

    val violations = planned.violations // cached by the pipeline
    violations.count()
    val writeDir = new File(runDir, "probe-write")
    put("snapshot.violations_write_s", probe("snapshot.violations_write")(
      violations.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy(cfg.partCol).parquet(s"$writeDir/violations"))._1, "s")
    val manifest = planned.manifest.cache()
    manifest.count()
    put("snapshot.manifest_append_s", probe("snapshot.manifest_append")(
      new ManifestStore(spark, writeDir.toString).append(manifest))._1, "s")
    spark.catalog.clearCache()
    Data.deleteTree(writeDir)

    val dir = table.getOrElse(sideTable(input))
    val store = new AppendSnapshotStore(spark, s"$dir/table")
    val stateDir = s"$dir/state"
    val cur = store.currentSnapshot("seqs").get
    val (priorS, priorW, _) = probe("snapshot.prior_keys")(
      store.readBetween("seqs", 0L, cur - 1).select("doc_id")
        .join(store.readBetween("seqs", cur - 1, cur).select("doc_id").distinct(),
          Seq("doc_id"), "left_semi").distinct().count())
    put("snapshot.prior_keys_s", priorS, "s")
    put("snapshot.prior_keys_tasks", priorW.tasks.toDouble, "count")
    put("run.merge_manifest_s", probe("run.merge_manifest")(IncrementalValidation.validateDelta(
      spark, store, "seqs", Some(dim), Some(baseline), cfg, stateDir, "probe")
      .manifest.collect())._1, "s")
    put("run.state_batches", Option(new File(stateDir, "state").list())
      .fold(0)(_.count(_.startsWith("batch="))).toDouble, "count")
    put("snapshot.files_listed", Data.allFiles(new File(dir, "table")).toDouble, "count")
  }

  /** Two appends cut from the input, validated as a standing job; the second
    * append's commit and validation are the measured ones. */
  private def sideTable(input: DataFrame): File = {
    val dir = new File(runDir, "side")
    val store = new AppendSnapshotStore(spark, s"$dir/table")
    val state = s"$dir/state"
    def validate() = IncrementalValidation.validateDeltaAndCommit(
      spark, store, "seqs", Some(dim), Some(baseline), cfg, state, "side")
    store.commitAppend("seqs", input.filter(col("part") < 4), "part")
    validate()
    put("snapshot.commit_append_s", probe("snapshot.commitAppend")(store.commitAppend(
      "seqs", input.filter(col("part") >= 4 && col("part") < 6), "part"))._1, "s")
    put("run.validate_delta_s", probe("run.validateDeltaAndCommit")(validate())._1, "s")
    spark.catalog.clearCache()
    dir
  }
}
