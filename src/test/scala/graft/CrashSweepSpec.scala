package graft

import graft.run.{IncrementalValidation, PipelineConfig, ValidationPipeline}
import graft.snapshot.{AppendSnapshotStore, ManifestStore}
import graft.tokens.TokenSeqs
import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.io.File
import java.nio.file.Files

/** The local filesystem under the `crash:` scheme, dying on the k-th PUBLISH
  * step — a rename into a `batch=` dir or the creation of a `_commits/`
  * marker — by throwing before the step happens. Every other operation is
  * the plain local filesystem's, checksum files included. */
class CrashFS extends LocalFileSystem(new CrashFS.Raw) {

  override def rename(src: Path, dst: Path): Boolean = {
    if (dst.getName.startsWith("batch=")) CrashFS.step()
    super.rename(src, dst)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    if (f.getParent != null && f.getParent.getName == "_commits") CrashFS.step()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object CrashFS {
  /** The raw local filesystem answering to `crash:`. Its statuses carry
    * default permissions: the raw ones load theirs from a `file:` URI. */
  class Raw extends RawLocalFileSystem {
    override def getUri: java.net.URI = java.net.URI.create("crash:///")
    private def plain(s: FileStatus) = new FileStatus(s.getLen, s.isDirectory,
      s.getReplication, s.getBlockSize, s.getModificationTime, s.getPath)
    override def getFileStatus(f: Path): FileStatus = plain(super.getFileStatus(f))
    override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(plain)
  }

  private val steps = new java.util.concurrent.atomic.AtomicInteger()
  @volatile private var crashAt = 0

  def step(): Unit =
    if (steps.incrementAndGet() == crashAt) throw new java.io.IOException("injected crash")

  /** Run `f` dying on publish step `k` (0: never); returns the steps seen. */
  def armed[A](k: Int)(f: => A): Int = {
    steps.set(0); crashAt = k
    try f finally crashAt = 0
    steps.get()
  }
}

/** Crash-consistency sweep: for every publish step k of one commit, die at k,
  * rerun on the plain filesystem, and require exactly the result of a run
  * that never crashed. */
class CrashSweepSpec extends SparkSpec {

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.hadoopConfiguration.set("fs.crash.impl", classOf[CrashFS].getName)
  }

  private def tmp(): String = Files.createTempDirectory("graft-crash").toString
  private def copy(from: String): String = {
    val to = tmp()
    FileUtils.copyDirectory(new File(from), new File(to))
    to
  }

  private def dim: DataFrame = spark.createDataFrame(
    Seq(("web", ""), ("books", ""), ("code", ""), ("wiki", "")))
    .toDF("source", "description")

  private def gen(rows: Long, seed: Long, rate: Double): DataFrame =
    TokenSeqs.synthesize(spark, rows, seed, rate, numPartitions = 1)
      .withColumn("part", pmod(xxhash64(coalesce(col("doc_id"), lit(""))), lit(2)))

  private val cfg = PipelineConfig(TokenSeqs.canonicalSchemaJson())

  /** Rows as sorted strings; doubles rounded so sketch merges compare. */
  private def rows(df: DataFrame): Seq[String] = {
    def show(v: Any): String = v match {
      case d: Double => f"$d%.6g"
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => s"$k=${show(x)}" }.sorted.mkString("{", ",", "}")
      case r: Row => r.toSeq.map(show).mkString("[", ",", "]")
      case x => String.valueOf(x)
    }
    df.collect().map(show).toSeq.sorted
  }

  /** Manifest rows minus the per-attempt columns. */
  private def manifest(dir: String): Seq[String] =
    rows(new ManifestStore(spark, dir).readAll().drop("committed_at", "run_id", "batch"))

  /** For every publish step k of `once`: run it against a fresh copy of
    * `template` dying at k, then `recover` what the crash left — rerun on the
    * plain filesystem, after whatever else lands first — and require the
    * outcome `recover` reports after a run that never crashed. */
  private def sweep[A](template: String)(once: String => Unit)(recover: String => A): Unit = {
    val clean = copy(template)
    val n = CrashFS.armed(0)(once(s"crash://$clean"))
    assert(n > 0, "no publish step seen")
    val expected = recover(clean)
    for (k <- 1 to n) {
      val dir = copy(template)
      intercept[Exception](CrashFS.armed(k)(once(s"crash://$dir")))
      assert(recover(dir) == expected, s"crash at publish step $k of $n")
    }
  }

  /** Rerun `once` on the plain filesystem, then take its `outcome`. */
  private def rerun[A](once: String => Unit)(outcome: String => A)(dir: String): A = {
    once(s"file://$dir")
    outcome(dir)
  }

  private lazy val baseline = gen(200, 9L, 0.0)

  private def validate(root: String): Unit = {
    IncrementalValidation.validateDeltaAndCommit(spark,
      new AppendSnapshotStore(spark, s"$root/table"), "seqs", Some(dim),
      Some(baseline), cfg, s"$root/state", "run")
    spark.catalog.clearCache()
  }

  test("crash sweep: incremental commit (violations, drift counts, state, manifest)") {
    val template = tmp()
    val store = new AppendSnapshotStore(spark, s"$template/table")
    store.commitAppend("seqs", gen(200, 1L, 0.05), "part")
    validate(template)
    store.commitAppend("seqs", gen(200, 2L, 0.05), "part")

    sweep(template)(validate) { dir =>
      // rerun with no new snapshot, and on a copy, after another append: a
      // crash before the state batch makes that rerun validate snapshots 2
      // and 3 as one delta, so what the crashed run left must not count
      // twice. Quantiles are left out there: a t-digest merge depends on how
      // rows were grouped into deltas, every other metric is an exact merge.
      val later = copy(dir)
      validate(s"file://$dir")
      val st = s"$dir/state"
      val v = s"$st/violations/snap=2"
      val alone = (Some(v).filter(new File(_).exists).map(p => rows(spark.read.parquet(p))),
        manifest(st))
      new AppendSnapshotStore(spark, s"$later/table")
        .commitAppend("seqs", gen(200, 3L, 0.05), "part")
      validate(s"file://$later")
      val lst = s"$later/state"
      val after = (rows(spark.read.parquet(s"$lst/violations").drop("snap")),
        rows(new ManifestStore(spark, lst).readAll().filter(col("snapshot_id") === 3L)
          .withColumn("metrics", map_filter(col("metrics"), (k, _) => !k.rlike("^p[0-9]+_")))
          .drop("committed_at", "run_id", "batch")))
      (alone, after)
    }
  }

  test("crash sweep: batch pipeline commit (violations, manifest)") {
    val template = tmp()
    val facts = s"$template/facts"
    gen(200, 3L, 0.05).write.parquet(facts)

    def once(root: String): Unit = {
      ValidationPipeline.runAndCommit(spark, spark.read.parquet(facts), Some(dim), None,
        cfg, "run-b", s"$root/out")
      spark.catalog.clearCache()
    }
    sweep(template)(once)(rerun(once) { dir =>
      (rows(spark.read.parquet(s"$dir/out/violations")), manifest(s"$dir/out"))
    })
  }

  test("crash sweep: streaming near-dup micro-batch replay (corpus, signatures, pairs)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.table.Dedup
    def doc(id: Long, toks: Seq[Int]) = DedupDoc(id, toks.toArray, s"src${id % 2}")
    val base = Seq.range(1, 13)
    val seed = Seq(doc(1, base), doc(2, Seq.range(100, 112)))
    val batches = Seq(
      Seq(doc(10, base :+ 13), doc(11, Seq.range(200, 212))),
      Seq(doc(20, Seq.range(200, 212)), doc(21, base)))
    val template = tmp()
    new AppendSnapshotStore(spark, s"$template/table").commitAppend("docs", seed.toDF(), "source")
    Dedup.minhashSignatures(seed.toDF(), "doc_id", "tokens")
      .write.parquet(s"$template/sigs/batch=seed")

    // per copy: its input stream, how many batches it was fed, pairs emitted
    val fed = scala.collection.mutable.Map[String, (MemoryStream[DedupDoc], Int)]()
    val pairs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
    def once(root: String): Unit = {
      // feed the batches not fed yet; a restart from the checkpoint first
      // replays the micro-batch a crash cut short
      val dir = new Path(root).toUri.getPath
      val (input, done) = fed.getOrElse(dir, (MemoryStream[DedupDoc], 0))
      val q = graft.streaming.StreamingDedup.nearDupSink(
          input.toDF(), new AppendSnapshotStore(spark, s"$root/table"), "docs",
          s"$root/sigs", "doc_id", "tokens", "source", minJaccard = 0.5,
          onPairs = _.collect().foreach(r => pairs.add((dir, r.getLong(0), r.getLong(1)))))
        .option("checkpointLocation", s"$dir/ckpt").start()
      try {
        q.processAllAvailable()
        batches.zipWithIndex.drop(done).foreach { case (b, i) =>
          fed(dir) = (input, i + 1)
          input.addData(b: _*)
          q.processAllAvailable()
        }
      } finally q.stop()
    }
    sweep(template)(once)(rerun(once) { dir =>
      val got = pairs.toArray.collect { case (d, a, b) if d == dir => (a, b) }.toSet
      val corpus = new AppendSnapshotStore(spark, s"$dir/table").readAsOf("docs").count()
      val sigIds = spark.read.parquet(s"$dir/sigs").select("id").as[Long].collect().sorted.toSeq
      (got, corpus, sigIds)
    })
  }
}
