package perfbench

import graft.model.{ExtractedTurn, Turn}
import graft.pipeline.{Pipeline, SnapshotStore}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark entry point: one workload, one seed, one JVM with `local[slots]`
  * task slots running one job at a time (a closed loop, single client).
  *
  * Untraced runs report the end-to-end metrics; `--trace 1` runs report
  * the per-layer metrics (see `Layers`). Every timed job's committed output
  * is read back and compared with the golden turns.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1
  *        --scratch DIR --out DIR --slots K --mem-total-mb M [--convs C]
  *
  * `--convs` overrides the workload's size; the build's training run uses
  * it to load every class on a tiny input.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    Bench.log("started")
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    require(Workloads.Names.contains(workload), s"unknown workload $workload")
    val convs = opts.get("convs").map(_.toLong).getOrElse(Workloads.nConvs(workload))
    val bench = new Bench(workload, opt("seed").toLong, convs, opt("seconds").toInt,
      opt("scratch"), opt("out"), opt("slots").toInt, opt("mem-total-mb").toLong)
    val code =
      try { bench.run(opt("trace") == "1"); 0 }
      catch { case e: Throwable => e.printStackTrace(); 3 }
      finally bench.stop()
    sys.exit(code)
  }
}

/** Result of one committed job: wall seconds, heap peak, host steal during
  * it, GC seconds, stored bytes, and the correctness check of its output.
  */
final case class JobRun(seconds: Double, heapMb: Double, stealPct: Double, gcS: Double,
    storedBytes: Long, check: CheckResult)

final class Bench(val workload: String, val seed: Long, convs: Long, seconds: Int, scratch: String,
    val outDir: String, val slots: Int, val memTotalMb: Long) {

  val SetupReps = 3
  /** Untimed jobs first: class loading, then the JIT. A job is mostly
    * driver-side planning, scheduling and commit work, whose code keeps
    * getting faster for about ten jobs; a job on a small slice costs about
    * as much, so the warm-up uses full jobs, as many as a run can afford.
    */
  val WarmupJobs = 2
  val MinTimedJobs = 4
  val Buckets = 8

  val goldenDir = s"$scratch/golden"
  val inputDir = s"$scratch/input"
  val input1Dir = s"$scratch/input1"
  val store1Dir = s"$scratch/store1"
  val reingest = workload == "reingest_delta"

  var spark: SparkSession = _
  var attempted = 0L
  var failed = 0L
  val checks = mutable.ArrayBuffer.empty[CheckResult]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]

  def session(taskSlots: Int): SparkSession = {
    if (spark != null) spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = SparkSession.builder()
      .master(s"local[$taskSlots]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", taskSlots.toString)
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(s"$scratch/checkpoint")
    spark
  }

  def stop(): Unit = if (spark != null) spark.stop()

  def turns(dir: String): Dataset[Turn] = {
    val s = spark
    import s.implicits._
    s.read.parquet(dir).as[Turn]
  }

  def storeExtracted(dir: String): Dataset[ExtractedTurn] = {
    val s = spark
    import s.implicits._
    new SnapshotStore(dir, Buckets).readExtracted(s).drop("bucket").as[ExtractedTurn]
  }

  /** Start the session, generate and write the input table, and for
    * `reingest_delta` commit snapshot 1. Returns wall seconds.
    */
  def setupOnce(): Double = {
    Seq(inputDir, input1Dir, store1Dir).foreach(Files2.delete)
    val t0 = System.nanoTime()
    session(slots)
    Workloads.golden(spark, workload, seed, convs).select(Workloads.TurnCols: _*)
      .repartition(slots).write.parquet(inputDir)
    if (reingest) {
      Workloads.snapshot1(spark, seed, convs).repartition(slots).write.parquet(input1Dir)
      new SnapshotStore(store1Dir, Buckets).process(spark, turns(input1Dir), "snap-1")
    }
    val sec = (System.nanoTime() - t0) / 1e9
    Bench.log(f"set-up done in $sec%.3f s")
    sec
  }

  /** The job users wait for: a first commit of the input into an empty
    * snapshot store, or for `reingest_delta` the incremental re-ingest of
    * snapshot 2 against the committed snapshot 1, written as Parquet.
    */
  def job(out: String): Unit =
    if (reingest)
      Pipeline.incrementalRun(spark, turns(input1Dir), storeExtracted(store1Dir), turns(inputDir))
        .write.parquet(out)
    else new SnapshotStore(out, Buckets).process(spark, turns(inputDir), "snap-1")

  def output(out: String): DataFrame =
    if (reingest) spark.read.parquet(out) else new SnapshotStore(out, Buckets).readExtracted(spark)

  /** Check a job's output against the golden turns and record the result. */
  private lazy val checker = new Check(spark, goldenDir)

  def check(out: DataFrame): CheckResult = {
    val c = checker(out)
    attempted += 1
    if (c.errors > 0) {
      failed += 1
      System.err.println(s"[perfbench] correctness FAILED: $c")
    }
    checks += c
    c
  }

  private var jobSeq = 0

  /** Run one job into a fresh directory, time it, check it; `wrap` lets a
    * traced run put the call inside a span. The output is deleted unless
    * `keep`.
    */
  def timedJob(wrap: (=> Unit) => Unit = f => f, keep: Boolean = false): (JobRun, String) = {
    jobSeq += 1
    val out = s"$scratch/out-$jobSeq"
    System.gc()
    val gc0 = Host.gcSeconds()
    val st0 = Host.cpuStat()
    Host.resetHeapPeak()
    val t0 = System.nanoTime()
    wrap(job(out))
    val sec = (System.nanoTime() - t0) / 1e9
    val heap = Host.heapPeakMb()
    val steal = Host.stealPct(st0, Host.cpuStat())
    val gc = Host.gcSeconds() - gc0
    Bench.log(f"job $jobSeq done in $sec%.3f s; heap pool peaks: ${Host.heapPeaks()}")
    val run = JobRun(sec, heap, steal, gc, Files2.bytes(out), check(output(out)))
    println(f"[perfbench] job $jobSeq: ${sec}%.3f s, heap peak ${heap}%.1f MB, steal ${steal}%.1f%%, ${run.check}")
    if (!keep) Files2.delete(out)
    (run, out)
  }

  def run(trace: Boolean): Unit = {
    val setups = (1 to SetupReps).map(_ => setupOnce())
    // the expectations the generator embeds, for the correctness gate:
    // bookkeeping of the benchmark, so outside the timed set-up
    Workloads.golden(spark, workload, seed, convs)
      .select(col("conv_id"), col("turn_idx"), col("kind"), col("expected_text"),
        col("expected_failure"), col("expected_spans"))
      .write.parquet(goldenDir)
    val profile = Profile(spark, goldenDir, inputDir)
    val inputBytes = profile.inputBytes
    val hostLine = f"""{"host":{"nproc":$slots,"mem_total_mb":$memTotalMb,"load_avg_1m":${Host.loadAvg()},"max_heap_mb":${Runtime.getRuntime.maxMemory / 1048576}}}"""
    println(hostLine)
    println(profile.json(workload, seed))
    Files2.write(s"$outDir/profile-$workload-seed$seed.json", profile.json(workload, seed) + "\n")

    if (trace) new Layers(this, profile).run()
    else {
      warmUp()
      val runs = mutable.ArrayBuffer.empty[JobRun]
      val loop0 = System.nanoTime()
      while (runs.length < MinTimedJobs || (System.nanoTime() - loop0) / 1e9 < seconds)
        runs += timedJob()._1
      metrics("turns_per_s") = (Stats.median(runs.map(profile.turns / _.seconds).toSeq), "turns/s")
      metrics("setup_s") = (Stats.median(setups), "s")
      metrics("stored_bytes_per_input_byte") =
        (Stats.median(runs.map(_.storedBytes.toDouble).toSeq) / inputBytes, "ratio")
      metrics("peak_heap_mb") = (runs.map(_.heapMb).max, "MB")
      println(f"[perfbench] ${runs.length} timed jobs, input ${profile.turns} turns / ${profile.convs} convs / $inputBytes bytes, steal median ${Stats.median(runs.map(_.stealPct).toSeq)}%.2f%%")
    }
    printResult()
  }

  def warmUp(): Unit = (1 to WarmupJobs).foreach(_ => timedJob())

  def turnErrorShare: Double = if (checks.isEmpty) 1.0 else checks.map(_.errorShare).max

  def printResult(): Unit = {
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null"
      else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
      else v.toString
    val ms = metrics.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
    val correct = failed == 0 && attempted > 0 && turnErrorShare == 0.0
    println(s"""PERFBENCH_RESULT {"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{${ms.mkString(",")}}}""")
  }
}

object Bench {
  private val t0 = System.nanoTime()

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f] $msg")
}

/** Exact counts of a workload's input, from its golden table. */
final case class Profile(turns: Long, convs: Long, byKind: Map[String, Long],
    longTurns: Long, plantedFailures: Long, inputBytes: Long) {
  def share(n: Long): Double = if (turns == 0) 0.0 else n.toDouble / turns
  def json(workload: String, seed: Long): String = {
    val kinds = Profile.Kinds.map(k => s""""$k":${byKind.getOrElse(k, 0L)}""").mkString(",")
    s"""{"profile":{"workload":"$workload","seed":$seed,"turns":$turns,"conversations":$convs,"turns_by_kind":{$kinds},"long_conversation_turn_share":${share(longTurns)},"planted_failure_share":${share(plantedFailures)},"input_bytes":$inputBytes}}"""
  }
}

object Profile {
  val Kinds = Seq("html", "pdfir", "markdown", "tool", "plain")

  def apply(spark: SparkSession, goldenDir: String, inputDir: String): Profile = {
    import org.apache.spark.sql.functions._
    val perConv = spark.read.parquet(goldenDir)
      .groupBy("conv_id")
      .agg(count(lit(1)).as("turns"), (count(col("expected_failure")).as("failures") +:
        Kinds.map(k => count(when(col("kind") === k, 1)).as(k))): _*)
    val isLong = col("turns") >= Pipeline.DefaultLongConvThreshold
    val r = perConv.agg(count(lit(1)), (sum("turns") +: sum("failures") +:
      sum(when(isLong, col("turns")).otherwise(0L)) +: Kinds.map(k => sum(k))): _*).head()
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    Profile(l(1), l(0), Kinds.zipWithIndex.map { case (k, i) => k -> l(4 + i) }.toMap,
      l(3), l(2), Files2.bytes(inputDir))
  }
}

object Files2 {
  private def walk(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Seq.empty
    else scala.util.Using.resource(Files.walk(p))(_.iterator().asScala.toVector)
  }

  /** On-disk bytes of the regular files under `dir`. */
  def bytes(dir: String): Long = walk(dir).filter(Files.isRegularFile(_)).map(Files.size).sum

  def files(dir: String): Long = walk(dir).count(Files.isRegularFile(_)).toLong

  def delete(dir: String): Unit = {
    require(dir.nonEmpty, "refusing to delete the working directory")
    walk(dir).sortBy(-_.getNameCount).foreach(Files.deleteIfExists)
  }

  def write(path: String, s: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))
  }
}
