package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import graft.ConversionJob.JobReport
import graft.sinks.OrcSink

/** JVM side of the converter benchmark.
  *
  *  1. Stage: generate the workload's source from the seed under
  *     `--fixture` and write `expected.json` there (per-table row counts and
  *     the read-back result, computed from the generated frames). Every run
  *     stages, so every run's set-up starts from the same JVM state. The
  *     peak-RSS mark is reset afterwards so staging does not count as the
  *     workload's memory.
  *  2. Set up `Setups` times: a fresh session plus one warm-up conversion.
  *  3. Run a fixed number of timed operations (one `Cli.run` conversion
  *     plus the read-back query over its ORC), as many as `--seconds`
  *     holds at the workload's nominal pace. With `--trace 1` each
  *     iteration also runs a traced conversion and the per-module
  *     decomposition under spans and a job listener.
  *
  * Everything measured is written to `--out` as JSON when the run ends;
  * checking and metric derivation happen in `perfbench/run.py`. */
object Main {

  /** lineitem rows staged; the other tables follow TPC-H's ratios to it. */
  val LineitemRows = 30000L
  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3
  /** Read-back queries per operation; the operation's `readback_s` is their
    * median. */
  val Readbacks = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val w = Workload(a("workload"))
    val seed = a("seed").toLong
    val fixture = a("fixture")
    val work = a("work")
    write(s"$fixture/expected.json", Json(stage(w, seed, fixture, work)))
    // write the staged files back now, not when the kernel's 30 s dirty
    // expiry would flush them: in the middle of the timed operations
    new ProcessBuilder("sync").inheritIO().start().waitFor()
    System.gc()
    resetPeakRss()
    write(a("out"), Json(run(w, seed, fixture, work, a("seconds").toDouble, a("trace") == "1")))
  }

  private def write(path: String, text: String): Unit =
    Files.write(Paths.get(path), text.getBytes(StandardCharsets.UTF_8))

  /** The session `graft.Cli.main` builds when SPARK_MASTER and
    * SPARK_GRAFT_CPUS are unset: `local[*]`, 32 shuffle partitions, AQE on,
    * UTC. Keep the two in step. The UI is off so that a run opens no port,
    * and Spark's scratch and warehouse directories stay under `work`. */
  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[*]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def seconds[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def stage(w: Workload, seed: Long, fixture: String, work: String): Map[String, Any] = {
    val spark = session(work)
    try {
      val (info, secs) = seconds {
        IO.delete(new File(fixture))
        new File(fixture).mkdirs()
        val frames = Fixtures.frames(spark, seed, LineitemRows, w.staged)
        val bytes = w.stage(spark, frames, fixture, seed)
        val rows = frames.map { case (t, df) => t -> df.count() }
        val readback = Fixtures.readback(frames("lineitem"), frames("orders"), frames("customer"))
        (bytes, rows, readback)
      }
      val (bytes, rows, readback) = info
      Map("workload" -> w.name, "seed" -> seed, "lineitem_rows" -> LineitemRows,
        "stage_s" -> secs, "source_bytes" -> bytes, "rows" -> rows,
        "requested" -> w.requested, "missing" -> w.missing.toSeq, "readback" -> readback)
    } finally spark.stop()
  }

  /** One conversion through the product path, then the read-back query. */
  private def operation(spark: SparkSession, w: Workload, fixture: String,
                        out: String): Map[String, Any] = {
    IO.delete(new File(out))
    val res = mutable.LinkedHashMap.empty[String, Any]
    Try {
      val (report, convertS) = seconds(w.convert(spark, fixture, out))
      res ++= Seq("convert_s" -> convertS, "tables" -> tables(report))
      val reads = (1 to Readbacks).map(_ => seconds(readback(spark, out)))
      val rb = reads.head._1
      require(reads.forall(_._1 == rb), "read-back results differ between repeats")
      val readbackS = reads.map(_._2).sorted.apply(Readbacks / 2)
      val (files, bytes) = IO.orcFiles(new File(out))
      res ++= Seq("readback_s" -> readbackS, "readback" -> rb, "orc_files" -> files, "orc_bytes" -> bytes)
    } match {
      case Success(_) => ()
      case Failure(e) => res("error") = s"${e.getClass.getName}: ${e.getMessage}"
    }
    res.toMap
  }

  /** The read-back query over the ORC a conversion wrote, as a reader would. */
  private def readback(spark: SparkSession, out: String): Seq[String] =
    Fixtures.readback(OrcSink.read(spark, s"$out/lineitem"), OrcSink.read(spark, s"$out/orders"),
      OrcSink.read(spark, s"$out/customer"))

  private def tables(r: JobReport): Seq[Map[String, Any]] = r.results.map { t =>
    Map("table" -> t.table, "success" -> t.success, "rows" -> t.rows, "files" -> t.files,
      "attempts" -> t.attempts, "error" -> t.error)
  }

  def run(w: Workload, seed: Long, fixture: String, work: String, budgetS: Double,
          trace: Boolean): Map[String, Any] = {
    val out = s"$work/out"
    var spark: SparkSession = null
    // set-up: a fresh session plus one warm-up conversion, several times;
    // the previous session is stopped outside the timed block
    val setupS = (1 to Setups).map { _ =>
      if (spark != null) spark.stop()
      IO.delete(new File(out))
      seconds {
        spark = session(work)
        w.convert(spark, fixture, out)
      }._2
    }
    // the first read-backs compile and warm the query code; keep that out
    // of readback_s
    (1 to Readbacks).foreach(_ => readback(spark, out))
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val traceOut = mutable.LinkedHashMap.empty[String, Any]
    val timed = operations(w, budgetS)
    try {
      if (!trace) {
        (1 to timed).foreach(_ => ops += operation(spark, w, fixture, out))
      } else {
        val sc = spark.sparkContext
        val meter = new JobMeter
        val spans = new Spans(sc)
        val iterations = mutable.ArrayBuffer.empty[Map[String, Any]]
        (1 to math.max(1, timed / 3)).foreach { _ =>
          // untraced conversion first: the baseline for the tracing overhead
          val plain = operation(spark, w, fixture, out)
          ops += plain
          sc.addSparkListener(meter)
          val sleeps = new SleepMeter("graft.ConversionJob$", "convertOne")
          val rootId = spans.span("iteration") { root =>
            val traced = spans.span("convert") { s =>
              IO.delete(new File(out))
              val r = sleeps.during(Try(w.convert(spark, fixture, out)))
              val (files, bytes) = IO.orcFiles(new File(out))
              s.attrs ++= Seq("orc_files" -> files, "orc_bytes" -> bytes, "retry_sleep_s" -> sleeps.seconds)
              r.foreach(rep => s.attrs("tables") = tables(rep))
              r
            }
            val rb = spans.span("readback")(_ => Try(readback(spark, out)))
            ops += ((traced, rb) match {
              case (Success(rep), Success(lines)) => Map("traced" -> true, "tables" -> tables(rep), "readback" -> lines)
              case (t, r) => Map("traced" -> true, "error" -> (t.failed.toOption ++ r.failed.toOption).head.toString)
            })
            spans.span("layers")(_ => w.layers(spark, fixture, s"$work/out_layers", spans))
            root.id
          }
          PerfbenchBus.drain(sc)
          sc.removeSparkListener(meter)
          iterations += Map("root" -> rootId, "plain_convert_s" -> plain.getOrElse("convert_s", null))
        }
        traceOut ++= Seq("iterations" -> iterations.toSeq, "spans" -> spans.json, "jobs" -> meter.json)
      }
    } finally {
      spark.stop()
      JdbcTables.shutdown()
    }
    Map("workload" -> w.name, "seed" -> seed, "setup_s" -> setupS, "ops" -> ops.toSeq,
      "peak_rss_kb" -> peakRssKb, "trace" -> (if (trace) Some(traceOut.toMap) else None))
  }

  /** Timed operations in a run: as many as fit `budgetS` at the workload's
    * nominal pace, at least three. The count depends on `--seconds` only,
    * not on how fast the host runs them, so a run's median always covers
    * the same operations of the JIT's warm-up. A traced run makes a third
    * as many iterations, because each also runs the traced conversion and
    * the per-module decomposition. */
  private def operations(w: Workload, budgetS: Double): Int =
    math.max(3, math.round(budgetS / w.operationS).toInt)

  /** Restart VmHWM from the current RSS (Linux `clear_refs` mode 5). */
  private def resetPeakRss(): Unit =
    Try(Files.write(Paths.get("/proc/self/clear_refs"), "5".getBytes(StandardCharsets.US_ASCII)))

  /** VmHWM of this process. */
  private def peakRssKb: Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
}
