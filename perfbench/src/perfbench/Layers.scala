package perfbench

import graft.extract.Extract
import graft.model.{ExtractedTurn, Turn}
import graft.pipeline.{Pipeline, SnapshotStore}
import graft.synth.Synth
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The traced run: per-layer metrics, each from timing a public call into
  * the layer inside a span, with a listener summing the task metrics of
  * the jobs the span launched. A layer call runs once untimed to warm it
  * (the store and the local[1] run excepted) before the reported call. A
  * layer's "self" time subtracts the scan it also performs.
  */
final class Layers(b: Bench, profile: Profile) {
  private val spark = b.spark
  import spark.implicits._

  private val tracer = new Tracer(() => b.spark.sparkContext, s"${b.workload}-seed${b.seed}")
  private val m = b.metrics
  /** Alternating pairs behind each overhead ratio. */
  private val OverheadPairs = 2

  private def put(name: String, value: Double, unit: String): Unit = m(name) = (value, unit)

  /** Warm call, then the measured call inside span `name`. */
  private def layer[T](name: String)(f: => T): (T, Double) = {
    tracer.span(s"$name.warm")(f)
    tracer.span(name)(f)
  }

  private def charSum(d: Dataset[Turn]): Dataset[Long] = d.mapPartitions { it =>
    var n = 0L
    it.foreach(t => n += (if (t.text == null) 0 else t.text.length))
    Iterator.single(n)
  }

  private def extractedCharSum(d: Dataset[ExtractedTurn]): Long = d.mapPartitions { it =>
    var n = 0L
    it.foreach(t => n += t.extracted_text.length + t.spans.length)
    Iterator.single(n)
  }.collect().sum

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec        => planNodes(q.plan)
    case r: ReusedExchangeExec    => r +: planNodes(r.child)
    case other                    => other +: other.children.flatMap(planNodes)
  }

  def run(): Unit = {
    val inputBytes = profile.inputBytes.toDouble
    val input = b.turns(b.inputDir)
    val prevInput = if (b.reingest) b.turns(b.input1Dir) else input

    // --- end-to-end job, untraced vs traced, alternating: tracing overhead,
    // GC and CPU busy share of the traced job
    b.warmUp()
    val plain = mutable.ArrayBuffer.empty[JobRun]
    val traced = mutable.ArrayBuffer.empty[JobRun]
    var kept = ""
    spark.sparkContext.addSparkListener(tracer.listener)
    for (i <- 1 to OverheadPairs) {
      spark.sparkContext.removeSparkListener(tracer.listener)
      plain += b.timedJob()._1
      spark.sparkContext.addSparkListener(tracer.listener)
      val (r, out) = b.timedJob(f => tracer.span("job")(f), keep = i == OverheadPairs)
      traced += r
      kept = out
    }
    val rate = (rs: Seq[JobRun]) => Stats.median(rs.map(profile.turns / _.seconds))
    put("trace.turns_per_s", rate(traced.toSeq), "turns/s")
    put("trace.overhead", 1.0 - rate(traced.toSeq) / rate(plain.toSeq), "share")
    put("jvm.gc_s", Stats.median(traced.map(_.gcS).toSeq), "s")
    val jobSums = tracer.sums("job")
    put("spark.cpu_busy_share",
      jobSums.cpuNs / 1e9 / (traced.map(_.seconds).sum * b.slots), "share")

    // --- scan: Parquet to Dataset[Turn], every field decoded
    val (_, scanS) = layer("scan")(charSum(b.turns(b.inputDir)).collect().sum)
    put("scan.s", scanS, "s")
    put("scan.bytes_read", tracer.fileBytes("scan").toDouble, "bytes")

    // --- salt: pre-aggregation, broadcast join, salt repartition, sort
    var saltedPlan: SparkPlan = null
    val (_, saltS) = layer("salt") {
      val d = charSum(Pipeline.salted(spark, b.turns(b.inputDir)))
      d.collect()
      saltedPlan = d.queryExecution.executedPlan
    }
    val salt = tracer.sums("salt")
    val nodes = planNodes(saltedPlan)
    put("salt.s", saltS - scanS, "s")
    put("salt.shuffle_write_bytes", salt.shuffleWrite.toDouble, "bytes")
    put("salt.shuffle_read_bytes", salt.shuffleRead.toDouble, "bytes")
    put("salt.spill_bytes", salt.spill.toDouble, "bytes")
    put("salt.fetch_wait_s", salt.fetchWaitMs / 1000.0, "s")
    put("salt.exchanges", nodes.count(_.isInstanceOf[ShuffleExchangeLike]).toDouble, "count")
    put("salt.broadcasts", nodes.count(_.isInstanceOf[BroadcastExchangeLike]).toDouble, "count")
    put("salt.task_max_over_median", tracer.taskSkew("salt"), "ratio")
    put("salt.long_turn_share", profile.share(profile.longTurns), "share")

    // --- extract: the fused map on unshuffled input, and per-kind rates of
    // Extract.turn on one thread
    val (_, extractS) = layer("extract")(Pipeline.extractStage(spark, b.turns(b.inputDir)).count())
    put("extract.s", extractS - scanS, "s")
    kindRates().foreach { case (k, r) => put(s"extract.$k.turns_per_s_thread", r, "turns/s") }
    val outStats = outputStats(b.output(kept))
    put("extract.chars_in", outStats("chars_in"), "chars")
    put("extract.chars_out", outStats("chars_out"), "chars")
    Seq("pdfir_parse", "md_fence", "tool_frame", "other").foreach { f =>
      put(s"extract.failures.$f", outStats(s"failure.$f"), "count")
    }
    Profile.Kinds.foreach { k =>
      put(s"extract.kind_share.$k", outStats(s"kind.$k") / outStats("turns"), "share")
    }

    // --- pipeline: count-only run, lineage overhead, scaling (below)
    def runCount() = Pipeline.run(spark, b.turns(b.inputDir)).count()
    def lineageCount() = {
      val (d, lineage) = Pipeline.runWithLineage(spark, b.turns(b.inputDir), "snap-1")
      d.count()
      lineage()
    }
    tracer.span("pipeline.run.warm")(runCount())
    tracer.span("pipeline.lineage.warm")(lineageCount())
    val runS = mutable.ArrayBuffer.empty[Double]
    val linS = mutable.ArrayBuffer.empty[Double]
    for (_ <- 1 to OverheadPairs) {
      runS += tracer.span("pipeline.run")(runCount())._2
      linS += tracer.span("pipeline.lineage")(lineageCount())._2
    }
    val runMedian = Stats.median(runS.toSeq)
    put("pipeline.run_s", runMedian, "s")
    put("pipeline.lineage_overhead", Stats.median(linS.toSeq) / runMedian, "ratio")

    // --- store: a first commit driven one batch per call (the resume path),
    // so each batch is timed; then a full-width read of the committed table
    val storeDir = s"${b.inputDir}-store"
    val batchS = mutable.ArrayBuffer.empty[Double]
    var more = true
    while (more) {
      val (ran, s) = tracer.span("store") {
        try new SnapshotStore(storeDir, b.Buckets)
          .process(spark, b.turns(b.inputDir), "snap-1", failAfterBatches = Some(1))
        catch {
          case e: RuntimeException if String.valueOf(e.getMessage).startsWith("simulated kill") => 1
        }
      }
      if (ran > 0) batchS += s
      more = ran > 0
    }
    b.check(b.storeExtracted(storeDir).toDF())
    val store = tracer.sums("store")
    put("store.s", batchS.sum, "s")
    put("store.batches", batchS.length.toDouble, "count")
    put("store.batch_s_max", batchS.max, "s")
    put("store.bytes_read_per_input_byte", tracer.fileBytes("store") / inputBytes, "ratio")
    put("store.bytes_written", store.bytesWritten.toDouble, "bytes")
    put("store.files_written", Files2.files(storeDir).toDouble, "count")
    put("store.read_s", layer("store.read")(extractedCharSum(b.storeExtracted(storeDir)))._2, "s")

    // --- diff: snapshot diff and incremental re-ingest. The commit
    // workloads re-ingest their own unchanged input against the store above.
    val prevStore = if (b.reingest) b.store1Dir else storeDir
    val (changed, diffS) = layer("diff")(Pipeline.changedTurnKeys(prevInput, input).count())
    put("diff.s", diffS, "s")
    put("diff.changed_rows", changed.toDouble, "count")
    put("diff.shuffle_bytes", tracer.sums("diff").shuffleWrite.toDouble, "bytes")
    val incOuts = mutable.ArrayBuffer.empty[String]
    val (_, incS) = layer("incremental") {
      incOuts += s"${b.inputDir}-incremental-${incOuts.length}"
      Pipeline.incrementalRun(spark, prevInput, b.storeExtracted(prevStore), input)
        .write.parquet(incOuts.last)
    }
    b.check(spark.read.parquet(incOuts.last))
    put("incremental.s", incS, "s")

    // --- scaling: the same count-only run at local[1]; ends the session
    // at local[slots], so it comes last
    b.session(1)
    val oneS = tracer.span("pipeline.run.local1")(Pipeline.run(b.spark, b.turns(b.inputDir)).count())._2
    put("pipeline.scaling_efficiency", oneS / runMedian / b.slots, "ratio")
    put("turn_error_share", b.turnErrorShare, "share")

    Files2.write(s"${b.outDir}/spans-${b.workload}-seed${b.seed}.json", tracer.json)
  }

  /** Single-thread rate of `Extract.turn` per payload kind, over a
    * driver-side sample of the default generator mix from this seed's
    * conversation range (the same sample whatever the workload).
    */
  private def kindRates(): Seq[(String, Double)] = {
    val perKind = 1500
    val byKind = mutable.Map.empty[String, mutable.ArrayBuffer[Turn]]
    var c = Workloads.base(b.seed)
    while (Profile.Kinds.exists(k => byKind.get(k).forall(_.length < perKind))) {
      Synth.convTurns(c).foreach { g =>
        val buf = byKind.getOrElseUpdate(g.kind, mutable.ArrayBuffer.empty[Turn])
        if (buf.length < perKind) buf += g.turn
      }
      c += 1
    }
    Profile.Kinds.map { k =>
      val sample = byKind(k).toArray
      sample.foreach(Extract.turn)
      var n = 0L
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 400000000L) {
        sample.foreach(Extract.turn)
        n += sample.length
      }
      k -> n / ((System.nanoTime() - t0) / 1e9)
    }
  }

  /** Turn, char, failure-class and kind counts of a committed output. */
  private def outputStats(out: org.apache.spark.sql.DataFrame): Map[String, Double] = {
    val known = Seq("pdfir_parse", "md_fence", "tool_frame")
    val failureClass = when(col("failure").isNull, lit(null))
      .when(col("failure").isin(known: _*), col("failure")).otherwise(lit("other"))
    val aggs = Seq(count(lit(1)).as("turns"),
      sum(col("n_chars_in").cast("long")).as("chars_in"),
      sum(length(col("extracted_text")).cast("long")).as("chars_out")) ++
      (known :+ "other").map(f => sum(when(failureClass === f, 1L).otherwise(0L)).as(s"failure.$f")) ++
      Profile.Kinds.map(k => sum(when(col("kind") === k, 1L).otherwise(0L)).as(s"kind.$k"))
    val r = out.agg(aggs.head, aggs.tail: _*).head()
    aggs.indices.map(i => r.schema.fieldNames(i) -> (if (r.isNullAt(i)) 0.0 else r.getLong(i).toDouble)).toMap
  }
}
