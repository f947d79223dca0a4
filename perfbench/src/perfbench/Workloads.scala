package perfbench

import graft.model.Turn
import graft.pipeline.Pipeline
import graft.synth.Synth
import graft.synth.Synth.GoldenTurn
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col

/** Input generation for the four workloads. Every turn comes from
  * `Synth.goldenTurn(conv, turn)`, a pure function of the conversation
  * index, so a workload is fully defined by its conversation-index range.
  * The seed picks a disjoint range: range `s` starts at
  * `(s mod 1000 + 1) * Stride`, a multiple of 101 so every range holds the
  * same share of the generator's long conversations.
  */
object Workloads {

  val Names = Seq("mixed_commit", "html_short", "hot_light", "reingest_delta")

  val Stride = 101L * 3000L

  /** Conversations per workload. The two listed in BENCHMARK.json hold
    * about 8 * 10^4 input turns, so a warm commit takes 2-3 s on 4 task
    * slots (more than half of it the job's fixed per-batch cost) and a run
    * stays near 40 s. The other two are run by hand and are larger.
    */
  def nConvs(workload: String): Long = workload match {
    case "mixed_commit"   => 101L * 40
    case "html_short"     => 101L * 270
    case "hot_light"      => 101L * 180
    case "reingest_delta" => 101L * 50
  }

  /** Turns per giant conversation of `hot_light`: about 2 * 10^5 light
    * turns make five of them.
    */
  val HotConvTurns = 40000

  def base(seed: Long): Long = (math.floorMod(seed, 1000L) + 1) * Stride

  /** The payload kind `Synth.goldenTurn` will assign, from the same two
    * draws it makes, without building the payload. Used only to skip
    * turns cheaply: every kept turn is generated and its real kind checked.
    */
  def cheapKind(c: Long, t: Int): String =
    if (Synth.draw(c, t, 0x01, 17) == 0) "plain"
    else DrawnKinds(Synth.draw(c, t, 0x02, 4))

  private val DrawnKinds = Array("html", "pdfir", "markdown", "tool")

  private val Light = Set("tool", "plain", "markdown")

  /** Delta classes of `reingest_delta`, one draw per snapshot-1 turn:
    * 1% deleted, 5% changed (text of another golden turn), 1% spawning an
    * appended turn, the rest unchanged.
    */
  private def deltaDraw(c: Long, t: Int): Int = Synth.draw(c, t, 0x5eed, 1000)

  /** Golden rows of a workload's (final) input snapshot. */
  def golden(spark: SparkSession, workload: String, seed: Long, n: Long): Dataset[GoldenTurn] = {
    import spark.implicits._
    val lo = base(seed)
    val convs = spark.range(lo, lo + n)
    workload match {
      case "mixed_commit" =>
        convs.flatMap(c => Synth.convTurns(c))
      case "html_short" =>
        convs.flatMap { c =>
          val n = Synth.convLen(c)
          if (n >= Pipeline.DefaultLongConvThreshold) Iterator.empty
          else (0 until n).iterator
            .filter(t => cheapKind(c, t) == "html")
            .map(t => Synth.goldenTurn(c, t))
            .filter(_.kind == "html")
        }
      case "hot_light" =>
        // dense global index over the light turns of the range, cut into
        // giant conversations of HotConvTurns turns each
        val counts = (lo until lo + n).map { c =>
          (0 until Synth.convLen(c)).count(t => Light(cheapKind(c, t))).toLong
        }
        val offsets = spark.sparkContext.broadcast(counts.scanLeft(0L)(_ + _).toArray)
        convs.flatMap { c =>
          var next = offsets.value((c - lo).toInt)
          (0 until Synth.convLen(c)).iterator
            .filter(t => Light(cheapKind(c, t)))
            .map { t =>
              val g = Synth.goldenTurn(c, t)
              val idx = next
              next += 1
              g.copy(conv_id = f"hot-$lo%09d-${idx / HotConvTurns}%03d",
                turn_idx = (idx % HotConvTurns).toInt)
            }
            .filter(g => Light(g.kind))
        }
      case "reingest_delta" =>
        convs.flatMap { c =>
          val n = Synth.convLen(c)
          (0 until n).iterator.flatMap { t =>
            val g = Synth.goldenTurn(c, t)
            val d = deltaDraw(c, t)
            if (d < 10) Iterator.empty
            else if (d < 60) {
              val donor = Synth.goldenTurn(c, t + 100000)
              Iterator.single(g.copy(text = donor.text, kind = donor.kind,
                expected_text = donor.expected_text,
                expected_failure = donor.expected_failure,
                expected_spans = donor.expected_spans))
            } else if (d < 70) Iterator(g, Synth.goldenTurn(c, n + t))
            else Iterator.single(g)
          }
        }
    }
  }

  /** Snapshot 1 of `reingest_delta`: the unmodified range. */
  def snapshot1(spark: SparkSession, seed: Long, n: Long): Dataset[Turn] = {
    import spark.implicits._
    val lo = base(seed)
    spark.range(lo, lo + n).flatMap(c => Synth.convTurns(c).map(_.turn))
  }

  val TurnCols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts").map(col)
}
