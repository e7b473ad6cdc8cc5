package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Benchmark JVM. `run.py` generates the inputs, launches this main and
  * turns the records it writes into metrics; this side only drives the
  * program's public API and records what it observed.
  *
  * Args: <workload> <seed> <seconds> <trace 0|1> <fixturesDir> <workDir>
  *       <fixtureSeconds> <outFile>
  *
  * The out file is JSON lines, one record per line (`"t"` = record type):
  * `setup`, `op` (one timed operation), `job` / `sql` (Spark listener
  * records, traced passes only), `probe` (a per-layer measurement taken
  * outside the timed operations), `check` (an output invariant) and `end`.
  * Records are kept in memory and written when the run ends.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, fixtures, work, fixtureS, outFile) = args
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // as in graft.Bench: the default 100-entry compiled-code cache is
      // smaller than one pass's fragments, so every pass would recompile
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.sql.warehouse.dir", Paths.get(work, "warehouse").toAbsolutePath.toString)
      .config("spark.local.dir", Paths.get(work, "spark-local").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val tracer = new JobTrace
    if (traceS == "1") spark.sparkContext.addSparkListener(tracer)
    val run = Run(spark, seedS.toLong, secondsS.toDouble, traceS == "1", tracer,
      fixtures, work)
    run.rec("setup", "session_s" -> sessionS, "fixture_s" -> fixtureS.toDouble,
      "cores" -> cores, "jvm" -> System.getProperty("java.vm.version"),
      "spark" -> spark.version)
    try workload match {
      case "ingest"    => Ingest.run(run)
      case "query-mix" => Queries.run(run)
      case "hashes"    => Queries.hashes(run)
      case other       => sys.error(s"unknown workload $other")
    } finally {
      tracer.drain(spark)
      tracer.records.foreach(run.out += _)
      run.rec("end", "heap_retained_mb" -> retainedHeapMb(), "peak_rss_mb" -> peakRssMb())
      Files.write(Paths.get(outFile), run.out.asJava)
      spark.stop()
    }
  }

  /** Heap the program still holds once the run is over (cached frames,
    * artifact stores, session state): heap used after full collections,
    * in MiB. */
  def retainedHeapMb(): Double = {
    // the pauses let Spark's ContextCleaner drop the blocks of RDDs the
    // first collections found unreachable, so the next ones free them too
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** The JVM's resident-set high-water mark (VmHWM), in MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}

/** One benchmark run's context: session, settings and the record buffer. */
final case class Run(spark: SparkSession, seed: Long, seconds: Double,
                     trace: Boolean, tracer: JobTrace, fixtures: String,
                     work: String) {
  val out = ArrayBuffer[String]()

  def rec(kind: String, fields: (String, Any)*): Unit =
    out += Json.obj(("t" -> kind) +: fields)

  /** Runs `f`, returning its result and its wall time in seconds. */
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Json {
  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  private def value(v: Any): String = v match {
    case null                   => "null"
    case s: String              => str(s)
    case b: Boolean             => b.toString
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double              => d.toString
    case n: Int                 => n.toString
    case n: Long                => n.toString
    case o: Option[_]           => o.map(value).getOrElse("null")
    case other                  => str(other.toString)
  }

  private def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c    => c.toString
  } + "\""
}
