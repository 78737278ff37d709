package perfbench

import graft.run.{IncrementalValidation, PipelineConfig}
import graft.snapshot.AppendSnapshotStore
import graft.tokens.TokenSeqs
import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Workload sizes and the generated inputs. Every table comes from
  * `TokenSeqs.synthesize`; a dataset directory is complete once its `_DONE`
  * marker exists, so an interrupted generation is redone, never read. */
object Data {
  val Partitions = 64
  val BatchRows = 40000L
  val BaselineSeed = 43L
  val StandingBaseSeed = 11L
  val StandingBaseRows = 30000L
  val AppendRows = 3000L
  val Appends = 5 // at most: one cold append and four warm ones

  val cfg: PipelineConfig = PipelineConfig(TokenSeqs.canonicalSchemaJson())

  def rate(workload: String): Double = workload match {
    case "batch_dirty" => 0.30
    case _ => 0.01
  }

  /** The canonical table with its 64 logical partitions. */
  def synth(spark: SparkSession, rows: Long, seed: Long, rate: Double): DataFrame =
    TokenSeqs.synthesize(spark, rows, seed, rate, numPartitions = 8)
      .withColumn("part", pmod(xxhash64(coalesce(col("doc_id"), lit(""))), lit(Partitions)))

  def dim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Checks.Sources.map(s => (s, s"$s documents")).toDF("source", "description")
  }

  final class Paths(work: String, workload: String, seed: Long) {
    val data = s"$work/data"
    val baseline = s"$data/baseline_${BatchRows}"
    val facts = s"$data/facts_${rate(workload)}_${BatchRows}_seed$seed"
    val standingBase = s"$data/standing_base_${StandingBaseRows}"
    val deltas = s"$data/deltas_${AppendRows}x${Appends}_seed$seed"
    def delta(i: Int) = s"$deltas/append=$i"
  }

  def done(dir: String): Boolean = new File(dir, "_DONE").exists()

  /** Build `dir` through a staging directory renamed into place. */
  private def build(dir: String)(fill: String => Unit): Unit = if (!done(dir)) {
    val staging = s"$dir.staging-${ProcessHandle.current().pid()}"
    deleteTree(new File(staging)); deleteTree(new File(dir))
    fill(staging)
    new File(staging, "_DONE").createNewFile()
    Files.move(new File(staging).toPath, new File(dir).toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  def ready(p: Paths, workload: String): Boolean = workload match {
    case "standing_appends" => done(p.baseline) && done(p.standingBase) && done(p.deltas)
    case _ => done(p.baseline) && done(p.facts)
  }

  def generate(spark: SparkSession, p: Paths, workload: String, seed: Long): Unit = {
    build(p.baseline)(d => synth(spark, BatchRows, BaselineSeed, 0.0).write.parquet(s"$d/t"))
    workload match {
      case "standing_appends" =>
        // a standing table that was already validated once; each run copies it
        build(p.standingBase) { d =>
          synth(spark, StandingBaseRows, StandingBaseSeed, 0.01).write.parquet(s"$d/facts")
          val store = new AppendSnapshotStore(spark, s"$d/table")
          store.commitAppend("seqs", spark.read.parquet(s"$d/facts"), "part")
          IncrementalValidation.validateDeltaAndCommit(spark, store, "seqs", Some(dim(spark)),
            Some(spark.read.parquet(s"${p.baseline}/t")), cfg, s"$d/state", "base")
        }
        build(p.deltas) { d =>
          (0 until Appends).map(i => synth(spark, AppendRows, seed * 1000 + i, 0.01)
              .withColumn("append", lit(i)))
            .reduce(_ unionByName _).write.partitionBy("append").parquet(d)
          val all = spark.read.parquet(d)
          val prior = spark.read.parquet(s"${p.standingBase}/facts")
          val expect = Checks.expectedPerAppend(all, prior)
          (0 until Appends).foreach(i => Checks.save(s"$d/append=$i", AppendRows, expect(i)))
        }
      case w =>
        build(p.facts) { d =>
          synth(spark, BatchRows, seed, rate(w)).write.parquet(s"$d/t")
          val facts = spark.read.parquet(s"$d/t")
          Checks.save(d, facts.count(), Checks.expected(facts))
        }
    }
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val stream = Files.walk(from)
    try stream.forEach { src =>
      val dst = to.resolve(from.relativize(src))
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst)
    } finally stream.close()
  }

  /** Data files (not markers or checksums) under `dir`. */
  def dataFiles(dir: File): Long =
    if (!dir.exists()) 0L
    else if (dir.isFile) (if (dir.getName.startsWith("part-")) 1L else 0L)
    else Option(dir.listFiles()).fold(0L)(_.map(dataFiles).sum)

  /** All files under `dir`, as a listing of the table would see them. */
  def allFiles(dir: File): Long =
    if (!dir.exists()) 0L
    else if (dir.isFile) 1L
    else Option(dir.listFiles()).fold(0L)(_.map(allFiles).sum)
}
