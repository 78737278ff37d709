package perfbench

import graft.run.{IncrementalValidation, ValidationPipeline}
import graft.snapshot.{AppendSnapshotStore, ManifestStore}
import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** One timed job (batch) or append (standing), as the caller sees it. */
final case class JobStats(wallS: Double, cpuS: Double, files: Long, cachedBytes: Long,
                          rows: Long, errors: Seq[String], span: Option[Span])

/** Benchmark entry point.
  *
  * {{{
  * Main gen --workload W --seed N --work DIR
  * Main run --workload W --seed N --seconds S --trace 0|1 --work DIR --cores C
  *          --result FILE --spans FILE
  * }}}
  *
  * `gen` builds the inputs of (workload, seed) under DIR/data in its own JVM,
  * so generation never warms the JVM that is measured. `run` is one closed
  * loop: one caller, and each job starts after the previous one returned. */
object Main {
  val Workloads = Seq("batch_clean", "batch_dirty", "standing_appends")

  def main(argv: Array[String]): Unit = {
    val mode = argv.head
    val args = argv.tail.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = args("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = args("seed").toLong
    val work = new File(args("work")).getAbsolutePath
    val cores = args.getOrElse("cores", "1").toInt
    val paths = new Data.Paths(work, workload, seed)
    mode match {
      case "gen" if Data.ready(paths, workload) =>
      case "gen" =>
        val spark = session(cores, work)
        val (s, _) = timed(Data.generate(spark, paths, workload, seed))
        spark.stop()
        val f = new java.io.PrintWriter(genFile(work, workload, seed))
        try f.println(s) finally f.close()
      case "run" =>
        require(Data.ready(paths, workload), s"inputs of $workload seed $seed are missing")
        val result = new Run(workload, seed, args("seconds").toInt, args("trace") == "1",
          work, cores, paths).execute(args("spans"))
        val f = new java.io.PrintWriter(args("result"))
        try f.println(result) finally f.close()
    }
  }

  private def genFile(work: String, workload: String, seed: Long) =
    s"$work/data/gen_${workload}_seed$seed.txt"

  /** Seconds the `gen` step took to build this (workload, seed)'s inputs. */
  def readGenSeconds(work: String, workload: String, seed: Long): Double = {
    val f = new File(genFile(work, workload, seed))
    if (!f.exists()) 0.0
    else { val src = scala.io.Source.fromFile(f); try src.mkString.trim.toDouble finally src.close() }
  }

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def processCpuS: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def storageBytes(spark: SparkSession): (Long, Long) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.map(_.memSize).sum, infos.map(_.diskSize).sum)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def timed[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime(); val r = f; ((System.nanoTime() - t0) / 1e9, r)
  }
}

/** One measured run of a workload. */
final class Run(workload: String, seed: Long, seconds: Int, trace: Boolean,
                work: String, cores: Int, paths: Data.Paths) {
  import Main._

  private val cfg = Data.cfg
  private val standing = workload == "standing_appends"
  private val runDir = new File(s"$work/runs/${ProcessHandle.current().pid()}")
  private var spark: SparkSession = _
  private var tracer: Option[Tracer] = None
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  // inputs, (re)bound by every set-up
  private var baseline: DataFrame = _
  private var dim: DataFrame = _
  private var facts: DataFrame = _            // batch input
  private var store: AppendSnapshotStore = _  // standing table
  private def stateDir = s"$runDir/standing/state"

  /** Session start, input load and (standing) a fresh copy of the base. */
  private def setUp(): Unit = {
    if (spark != null) spark.stop()
    spark = session(cores, work)
    baseline = spark.read.parquet(s"${paths.baseline}/t")
    dim = Data.dim(spark)
    if (standing) {
      val dst = new File(runDir, "standing")
      Data.deleteTree(dst)
      Data.copyTree(new File(paths.standingBase).toPath, dst.toPath)
      store = new AppendSnapshotStore(spark, s"$dst/table")
    } else facts = spark.read.parquet(s"${paths.facts}/t")
  }

  private def span[A](name: String, request: String)(f: => A): A =
    tracer.fold(f)(_.span(name, request)(f))

  // ------------------------------------------------------------------ checks

  private lazy val (batchRows, batchExpect) = Checks.load(paths.facts)

  private def delta(i: Int): DataFrame = spark.read.parquet(paths.delta(i))

  // --------------------------------------------------------------------- jobs

  /** Job `i`: a full validation job (batch) or append `i` (standing), timed
    * from the call to its return, then checked and cleaned up untimed. */
  private def job(i: Int, traced: Boolean): JobStats = {
    val saved = tracer
    if (!traced) tracer = None
    val request = s"job-$i"
    val before = Data.dataFiles(runDir)
    val input = if (standing) delta(i) else facts
    val cpu0 = processCpuS
    val t0 = System.nanoTime()
    var root: Option[Span] = None
    val out = s"$runDir/batch/job-$i" // batch output; standing writes beside its table
    span("job", request) {
      root = tracer.map(_.named("job").last)
      if (standing) {
        span("snapshot.commitAppend", request)(store.commitAppend("seqs", input, "part"))
        span("run.validateDeltaAndCommit", request)(IncrementalValidation.validateDeltaAndCommit(
          spark, store, "seqs", Some(dim), Some(baseline), cfg, stateDir, request))
      } else span("pipeline.runAndCommit", request)(ValidationPipeline.runAndCommit(
        spark, input, Some(dim), Some(baseline), cfg, request, out))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = processCpuS - cpu0
    tracer = saved
    val files = Data.dataFiles(runDir) - before
    // the pipeline keeps its digest and violation set cached and returns no
    // handle to them: record what is still held, then clear it
    val (mem, disk) = storageBytes(spark)
    if (tracer.nonEmpty) { put("run.digest_mem_bytes", mem, "bytes"); put("run.digest_disk_bytes", disk, "bytes") }
    spark.catalog.clearCache()
    val tCheck = System.nanoTime()
    val errors = try {
      if (standing) {
        val snap = store.currentSnapshot("seqs").get
        Checks.compare(spark, s"$stateDir/violations/snap=$snap",
          new ManifestStore(spark, stateDir).readAll().filter(col("run_id") === request),
          Checks.load(paths.delta(i))._2, Data.StandingBaseRows + (i + 1) * Data.AppendRows, Data.Partitions)
      } else {
        val e = Checks.compare(spark, s"$out/violations", new ManifestStore(spark, out).readAll(),
          batchExpect, batchRows, Data.Partitions)
        Data.deleteTree(new File(out))
        e
      }
    } catch { case e: Exception => Seq(s"check failed: $e") }
    spark.catalog.clearCache()
    System.err.println(f"perfbench: $request wall $wall%.2f s, check ${(System.nanoTime() - tCheck) / 1e9}%.2f s")
    JobStats(wall, cpu, files, mem + disk, if (standing) Data.AppendRows else batchRows, errors, root)
  }

  // ---------------------------------------------------------------- the run

  def execute(spansFile: String): String = {
    Data.deleteTree(runDir)
    runDir.mkdirs()
    try body(spansFile) finally {
      if (spark != null) spark.stop()
      Data.deleteTree(runDir)
    }
  }

  private def body(spansFile: String): String = {
    val setups = (1 to 3).map(_ => timed(setUp())._1)
    System.err.println(s"perfbench: set-ups ${setups.map(x => f"$x%.2f").mkString(" ")} s")
    if (trace) tracer = Some(new Tracer(spark))
    val codegen0 = Codegen.now()
    val cold = job(0, traced = true)
    val codegen = Codegen.now().minus(codegen0)

    // warm loop: jobs (or appends) until `seconds` have passed, at least one
    // (two when traced); standing stops early when its appends run out
    val warm = mutable.ArrayBuffer.empty[JobStats]
    val minWarm = if (trace) 2 else 1
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while ((elapsed < seconds || warm.size < minWarm) &&
           !(standing && warm.size + 1 >= Data.Appends)) {
      val i = warm.size + 1
      // traced runs interleave traced and untraced jobs (T U U T ...) for the
      // tracing-overhead figure
      warm += job(i, traced = trace && (i % 4 == 1 || i % 4 == 0))
    }
    val all = cold +: warm.toSeq
    val failed = all.count(_.errors.nonEmpty)
    all.zipWithIndex.filter(_._1.errors.nonEmpty).foreach { case (j, k) =>
      System.err.println(s"job-$k failed its output check: ${j.errors.mkString("; ")}")
    }

    val walls = warm.map(_.wallS).toSeq
    val third = math.max(1, walls.size / 3)
    put("setup_s", median(setups), "s")
    put("rows_per_s", warm.head.rows / median(walls), "rows/s")
    put("job_cold_s", cold.wallS, "s")
    put("cpu_s_per_mrow", median(warm.map(j => j.cpuS / (j.rows / 1e6)).toSeq), "s/Mrow")
    put("files_written", median(warm.map(_.files.toDouble).toSeq), "count")
    put("job_s_p50", median(walls), "s")
    put("job_growth", median(walls.takeRight(third)) / median(walls.take(third)), "ratio")
    put("peak_rss_mb", peakRssMb, "MB")
    put("failed_share", failed.toDouble / all.size, "ratio")
    put("gen_s", Main.readGenSeconds(work, workload, seed), "s")
    put("run.cached_bytes_after", median(all.map(_.cachedBytes.toDouble)), "bytes")

    tracer.foreach { t =>
      val tracedJobs = warm.filter(_.span.nonEmpty).toSeq
      val untraced = warm.filter(_.span.isEmpty).toSeq
      val works = tracedJobs.map(j => t.inclusive(j.span.get))
      def med(f: SparkWork => Double) = median(works.map(f))
      put("trace.overhead_pct",
        100 * (median(tracedJobs.map(_.wallS)) / median(untraced.map(_.wallS)) - 1), "%")
      put("spark.codegen_classes", codegen.classes.toDouble, "count")
      put("spark.codegen_ms", codegen.ms, "ms")
      put("spark.jobs", med(_.jobs.toDouble), "count")
      put("spark.stages", med(_.stages.toDouble), "count")
      put("spark.tasks", med(_.tasks.toDouble), "count")
      put("spark.executor_cpu_s", med(_.cpuNs / 1e9), "s")
      put("spark.input_bytes", med(_.fileInputBytes.toDouble), "bytes")
      put("spark.shuffle_write_bytes", med(_.shuffleWriteBytes.toDouble), "bytes")
      put("spark.spill_bytes", med(_.spillBytes.toDouble), "bytes")
      put("spark.gc_s", med(_.gcMs / 1e3), "s")
      put("run.cache_read_bytes", med(_.cacheReadBytes.toDouble), "bytes")
      put("snapshot.bytes_written", med(_.outputBytes.toDouble), "bytes")
      if (standing) {
        put("snapshot.commit_append_s", median(t.named("snapshot.commitAppend").drop(1).map(_.seconds)), "s")
        put("run.validate_delta_s", median(t.named("run.validateDeltaAndCommit").drop(1).map(_.seconds)), "s")
      }
      new Probes(spark, t, metrics, runDir, baseline, dim).run(
        if (standing) delta(warm.size) else facts,
        if (standing) Some(new File(runDir, "standing")) else None)
      val f = new java.io.PrintWriter(spansFile)
      try f.print(t.toJson) finally f.close()
      t.close()
    }

    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": ${failed == 0}, "attempted": ${all.size}, "failed": $failed, "metrics": {$ms}}"""
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Driver-JVM high-water resident set (VmHWM). */
  private def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(
      _.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }
}
