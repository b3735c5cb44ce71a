package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Options passed by `benchmark/run.py`; every value is `--key value`. */
final case class Opts(workload: String, dir: String, seed: Long,
                      seconds: Double, trace: Boolean, out: String,
                      cpus: Int, stride: Int, rate: Double) {
  def master: String = s"local[$cpus]"
}

object Opts {
  def parse(args: Array[String]): Opts = {
    require(args.length % 2 == 0, s"expected --key value pairs: ${args.mkString(" ")}")
    val m = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(get("workload"), get("dir"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("out"), get("cpus").toInt, get("stride").toInt,
      get("rate").toDouble)
  }
}

/** Process-level probes: co-tenant CPU share, load average, peak RSS. */
object Proc {
  private def firstLine(path: String): String = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().next() finally src.close()
  }
  def loadavg1(): Double =
    scala.util.Try(firstLine("/proc/loadavg").trim.split("\\s+")(0).toDouble).getOrElse(-1.0)
  /** (total, busy) jiffies of the aggregate cpu line, as `graft.Bench` reads it. */
  def procStat(): (Long, Long) = scala.util.Try {
    val f = firstLine("/proc/stat").trim.split("\\s+").drop(1).map(_.toLong)
    (f.sum, f.sum - f(3) - (if (f.length > 4) f(4) else 0L))
  }.getOrElse((-1L, -1L))
  def processCpuNs(): Long = scala.util.Try {
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
  }.getOrElse(-1L)
  def vmHwmBytes(): Long = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).get
      .split("\\s+")(1).toLong * 1024 finally src.close()
  }.getOrElse(-1L)

  /** Co-tenant CPU share and 1-min load average between construction and `finish`. */
  final class Window {
    private val s0 = procStat(); private val c0 = processCpuNs()
    private val load0 = loadavg1()
    def finish(): Map[String, Double] = Map(
      "other_cpu_frac" -> graft.Bench.otherCpuFrac(s0, procStat(), c0, processCpuNs()),
      "load1_start" -> load0, "load1_end" -> loadavg1())
  }
}

object Session {
  /** The session every graft entry point uses (see `graft.Bench`), with
    * every scratch location pinned inside the run directory. */
  def start(o: Opts, master: String): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", master.stripPrefix("local[").stripSuffix("]"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.optimizer.excludedRules", graft.GraftExtensions.ExcludedOptimizerRules)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"${o.out}/warehouse")
      .config("spark.local.dir", s"${o.out}/spark-local")
      .config("spark.graft.standingIndex.path", s"${o.out}/standing-index")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Set-up warm-up: the JVM's first Spark jobs (JIT, code generation,
    * the parquet reader, shuffle, sort and window operators) on the
    * workload's documents table, so that this one-off cost lands in
    * set-up and not on whichever query happens to run first. */
  def warmUp(s: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    s.range(1000000L).selectExpr("sum(id)").collect()
    val d = s.read.parquet(s"$dir/documents.parquet")
    d.join(d.groupBy("lang").agg(count(lit(1)).as("n")), "lang")
      .withColumn("r", row_number().over(Window.partitionBy("lang").orderBy("doc_id")))
      .orderBy("doc_id").select("doc_id", "n", "r").collect()
  }
}

/** Benchmark harness entry point: runs one workload against the graft
  * engine's public functions and writes the raw observations to
  * `<out>/result.json`; `benchmark/run.py` checks them and derives the
  * metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val window = new Proc.Window
    val result = runWorkload(o)
    result("contention") = window.finish()
    result("rss_peak_bytes") = Proc.vmHwmBytes()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"${o.out}/result.json"), toJson(result))
  }

  def runWorkload(o: Opts): mutable.LinkedHashMap[String, Any] = o.workload match {
    case "sql_mix" | "curate_batch" => BatchMix.run(o)
    case "stream_curate" => StreamCurate.run(o)
    case w => throw new IllegalArgumentException(s"unknown workload: $w")
  }

  /** Seconds since this JVM started. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def toJson(v: Any): String =
    new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(v)
}

/** One fixed untraced run of every workload in a single JVM, which
  * `benchmark/run.py` starts once per engine jar with
  * `-XX:ArchiveClassesAtExit`: every measured run then maps the same
  * class-data archive, whatever workload or seed ran first. Options as for
  * `Main`; `--dir` holds the tables of sql_mix and stream_curate and
  * `--corpus` the corpus of curate_batch. */
object Train {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val corpus = args(args.indexOf("--corpus") + 1)
    for ((w, dir) <- Seq("sql_mix" -> o.dir, "curate_batch" -> corpus, "stream_curate" -> o.dir))
      Main.runWorkload(o.copy(workload = w, dir = dir, out = s"${o.out}/$w"))
  }
}
