package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Cli
import graft.ConversionJob.JobReport
import graft.sinks.OrcSink
import graft.sources.{CsvSource, JdbcFixture, JdbcSource, SqlDumpFixture, SqlDumpSource}

/** One of the reference's three export paths. `convert` is the product
  * path a user runs (`Cli.run`); `layers` makes the same calls the product
  * makes, in the same order, one module at a time, each inside its own
  * span: the source call, the count pass behind the progress denominator,
  * `OrcSink.write`, a second `OrcSink.verify`. */
sealed abstract class Workload(val name: String) {
  /** Tables generated for this workload's source. */
  def staged: Seq[String]
  /** Nominal seconds of one operation (conversion plus read-back) on a
    * 4-vCPU host; sets how many timed operations `--seconds` holds. */
  def operationS: Double
  /** Tables the conversion request names, in request order. */
  def requested: Seq[String]
  /** Requested tables that do not exist in the source. */
  def missing: Set[String] = Set.empty
  /** Write the source under `dir`; returns its size in bytes (0 when not a file). */
  def stage(spark: SparkSession, frames: Map[String, DataFrame], dir: String, seed: Long): Long
  def convert(spark: SparkSession, dir: String, out: String): JobReport
  def layers(spark: SparkSession, dir: String, out: String, spans: Spans): Unit

  /** count -> write -> verify of one source frame, as ConversionJob runs them. */
  protected def countWriteVerify(spark: SparkSession, df: DataFrame, out: String,
                                 table: String, spans: Spans): Unit = {
    val rows = spans.span("conversionjob.count")(_ => df.count())
    val rep = spans.span("orcsink.write") { s =>
      val r = OrcSink.write(df, out, table, "snappy")
      s.attrs ++= Seq("files" -> r.files, "rows" -> r.rows)
      r
    }
    spans.span("orcsink.verify")(_ => OrcSink.verify(spark, rep.dir, table))
    require(rep.rows == rows, s"$table: wrote ${rep.rows} rows, counted $rows")
  }
}

object Workload {
  val all: Seq[Workload] = Seq(CsvDir, SqlDumpMulti, JdbcTables)
  def apply(name: String): Workload =
    all.find(_.name == name).getOrElse(sys.error(s"unknown workload $name (have ${all.map(_.name).mkString(", ")})"))
}

/** A directory of single-file CSVs, one per table, converted with the
  * reference's CSV argv contract. */
object CsvDir extends Workload("csv_dir") {
  val staged: Seq[String] = Fixtures.Tpch :+ "events"
  val operationS = 1.8
  // Cli lists a directory's CSV files sorted by name
  def requested: Seq[String] = staged.sorted

  def stage(spark: SparkSession, frames: Map[String, DataFrame], dir: String, seed: Long): Long = {
    new File(s"$dir/csv").mkdirs()
    IO.parMap(staged) { t =>
      Fixtures.writeCsvFile(frames(t), s"$dir/csv/$t.csv")
      new File(s"$dir/csv/$t.csv").length()
    }.sum
  }

  def convert(spark: SparkSession, dir: String, out: String): JobReport =
    Cli.run(spark, Seq("csv", s"$dir/csv", out, ",", "true", "snappy")).get

  def layers(spark: SparkSession, dir: String, out: String, spans: Spans): Unit =
    CsvSource.listInputs(spark, s"$dir/csv").foreach { f =>
      val table = CsvSource.baseName(f)
      spans.span("table", "table" -> table) { _ =>
        val df = spans.span("csvsource.read")(_ => CsvSource.read(spark, f, CsvSource.CsvOptions()))
        countWriteVerify(spark, df, out, table, spans)
      }
    }
}

/** One plain mysqldump file holding every TPC-H table, in seeded order. */
object SqlDumpMulti extends Workload("sqldump_multi") {
  val staged: Seq[String] = Fixtures.Tpch
  val operationS = 2.7
  // Cli converts a dump's tables sorted by name
  def requested: Seq[String] = staged.sorted

  def stage(spark: SparkSession, frames: Map[String, DataFrame], dir: String, seed: Long): Long = {
    val dump = Paths.get(s"$dir/dump.sql")
    val parts = IO.parMap(Fixtures.seededOrder(seed, staged)) { t =>
      val part = Paths.get(s"$dir/$t.sql")
      SqlDumpFixture.writeDump(frames(t), t, part.toString)
      part
    }
    parts.foreach { part =>
      Files.write(dump, Files.readAllBytes(part), StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      Files.delete(part)
    }
    Files.size(dump)
  }

  def convert(spark: SparkSession, dir: String, out: String): JobReport =
    Cli.run(spark, Seq("dump", s"$dir/dump.sql", out, "snappy", "all")).get

  def layers(spark: SparkSession, dir: String, out: String, spans: Spans): Unit = {
    val dfs = spans.span("sqldumpsource.parse")(_ => SqlDumpSource.parse(spark, s"$dir/dump.sql", Seq("all")))
    dfs.toSeq.sortBy(_._1).foreach { case (table, df) =>
      spans.span("table", "table" -> table)(_ => countWriteVerify(spark, df, out, table, spans))
    }
  }
}

/** An embedded Derby database reached through the `mysql` branch of the
  * CLI. The request also names a table that does not exist, the routine
  * typo the reference's comma-separated table selection invites. */
object JdbcTables extends Workload("jdbc_tables") {
  val staged: Seq[String] = Fixtures.Tpch
  val Typo = "lineitem_archive"
  override val missing: Set[String] = Set(Typo)
  val operationS = 4.8
  // A fixed order, the misspelt table last: with 4 table workers the
  // order sets the schedule, and so the wall time of the conversion.
  val requested: Seq[String] = staged :+ Typo

  private def conn(dir: String): JdbcSource.JdbcConn = JdbcSource.derby(s"$dir/db", create = false)

  def stage(spark: SparkSession, frames: Map[String, DataFrame], dir: String, seed: Long): Long = {
    val c = JdbcSource.derby(s"$dir/db")
    IO.parMap(Fixtures.seededOrder(seed, staged)) { t =>
      JdbcFixture.loadTable(frames(t), c, t, Fixtures.PrimaryKeys.get(t), batchSize = 2000)
    }
    // move Derby's dirty pages to the files now rather than during the run
    val cx = java.sql.DriverManager.getConnection(c.url)
    try cx.createStatement().execute("CALL SYSCS_UTIL.SYSCS_CHECKPOINT_DATABASE()") finally cx.close()
    0L
  }

  def convert(spark: SparkSession, dir: String, out: String): JobReport =
    Cli.run(spark, Seq("mysql", "localhost", "3306", "bench", "", "tpch", out, "snappy",
      requested.mkString(",")), connFor = _ => conn(dir)).get

  def layers(spark: SparkSession, dir: String, out: String, spans: Spans): Unit =
    requested.foreach { table =>
      spans.span("table", "table" -> table) { _ =>
        val df = spans.span("jdbcsource.read") { s =>
          val r = Try(JdbcSource.read(spark, conn(dir), table))
          r.foreach(d => s.attrs("partitions") = d.rdd.getNumPartitions)
          r.failed.foreach(e => s.attrs("error") = e.getClass.getSimpleName)
          r
        }
        df.foreach { d =>
          spans.span("jdbcsource.rowcount")(_ => JdbcSource.rowCount(conn(dir), table).get)
          countWriteVerify(spark, d, out, table, spans)
        }
      }
    }

  /** Close the embedded database so the next process boots it cleanly. */
  def shutdown(): Unit = Try(java.sql.DriverManager.getConnection("jdbc:derby:;shutdown=true"))
}

object IO {
  /** `f` over `xs` on a small thread pool, results in input order. */
  def parMap[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try xs.map(x => Future(f(x))).map(Await.result(_, Duration.Inf))
    finally pool.shutdown()
  }

  def delete(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  /** (count, total bytes) of the `.orc` files under `dir`. */
  def orcFiles(dir: File): (Int, Long) = {
    val fs = Option(dir.listFiles()).toSeq.flatten
    val here = fs.filter(f => f.isFile && f.getName.endsWith(".orc"))
    fs.filter(_.isDirectory).map(orcFiles).foldLeft((here.size, here.map(_.length).sum)) {
      case ((n, b), (n2, b2)) => (n + n2, b + b2)
    }
  }
}
