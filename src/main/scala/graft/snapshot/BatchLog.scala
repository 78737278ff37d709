package graft.snapshot

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.hadoop.fs.{FileSystem, Path}
import java.nio.charset.StandardCharsets.UTF_8

/** An append-only log of small parquet batches — the one commit mechanism
  * behind the run manifest, the incremental-validation state and the
  * streaming-dedup signature store.
  *
  * Layout under `root`:
  * {{{
  *   root/batch=<name>/part-*.parquet   a committed batch (one data file)
  *   root/batch=<name>/_<file>          optional side files, skipped by Spark readers
  *   root/_staging-<name>/              a batch being written; never read
  * }}}
  *
  * A batch becomes visible with ONE rename of its staged directory into the
  * `batch=` namespace, so a crashed writer leaves only an invisible staging
  * dir, never a partial batch. Publishing is if-absent: a writer that names
  * its batch after what determines the content (a snapshot id, a micro-batch
  * id) turns a replay into a no-op. Readers take explicit committed paths,
  * never a glob, so they cannot race a staging rename. One writer per log.
  */
final class BatchLog(spark: SparkSession, root: Path) {

  private def fs: FileSystem = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def path(name: String): Path = new Path(root, s"batch=$name")

  /** Names of the committed batches, without the `batch=` prefix. */
  def names: Seq[String] = {
    val f = fs
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("batch=")).map(_.stripPrefix("batch="))
  }

  def contains(name: String): Boolean = fs.exists(path(name))

  /** Commit `rows` as batch `name` in one file, with `sideFiles` (name →
    * text; names start with `_`) beside it — unless `name` is already
    * committed. */
  def publish(name: String, rows: DataFrame,
              sideFiles: Map[String, String] = Map.empty): Unit = {
    val f = fs
    val target = path(name)
    // Hadoop renames a directory INTO an existing target dir, so the
    // if-absent check must come before the rename, not from its result
    if (!f.exists(target)) {
      val staging = new Path(root, s"_staging-$name")
      if (f.exists(staging)) f.delete(staging, true) // a crashed writer's leftovers
      rows.coalesce(1).write.mode(SaveMode.ErrorIfExists).parquet(staging.toString)
      sideFiles.foreach { case (file, text) =>
        require(file.startsWith("_"), s"side file $file must be hidden from readers")
        val out = f.create(new Path(staging, file), false)
        try out.write(text.getBytes(UTF_8)) finally out.close()
      }
      if (!f.rename(staging, target))
        throw new java.io.IOException(s"batch commit rename failed: $target")
    }
  }

  /** Every committed batch, as one DataFrame read from explicit paths. */
  def readAll(): DataFrame = {
    val batchNames = names
    require(batchNames.nonEmpty, s"no committed batches under $root")
    spark.read.option("basePath", root.toString)
      .parquet(batchNames.map(path(_).toString): _*).drop("batch")
  }

  /** Side file `file` of batch `name`, if it has one. */
  def readText(name: String, file: String): Option[String] =
    BatchLog.readText(fs, new Path(path(name), file))
}

object BatchLog {
  def readText(f: FileSystem, p: Path): Option[String] =
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
    }
}
