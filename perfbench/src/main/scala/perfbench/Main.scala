package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What every workload is run with. `work` is a scratch directory inside
  * the benchmark's output directory.
  */
final case class RunEnv(seed: Long, cores: Int, work: Path)

/** One workload: `setup` builds its inputs and store from the seed (run
  * several times, timed); `measure` runs the timed loop for `seconds`
  * and returns the raw record the Python side turns into metrics.
  */
trait Workload {
  def setup(i: Int): Unit
  def measure(seconds: Double, trace: Trace): Map[String, Any]
}

object Workload {
  /** Whether a closed loop starts another operation: yes while the
    * deadline is still ahead by half the last operation's duration, so a
    * run measures its seconds give or take half an operation instead of
    * always overshooting by up to a whole one.
    */
  def another(deadline: Double, lastMs: Double): Boolean =
    Clock.ms() + lastMs / 2 < deadline

  private def files(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else scala.util.Using.resource(Files.walk(root))(_.iterator().asScala
      .filter(Files.isRegularFile(_)).toList)

  /** Bytes of every file under `root`. */
  def bytesUnder(root: Path): Long = files(root).map(Files.size).sum

  /** Parquet data files under `root` (hidden and metadata files excluded). */
  def parquetFiles(root: Path): Seq[Path] = files(root).filter { p =>
    val n = p.getFileName.toString
    n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
  }

  /** (name, bucket) partition directories of a GraftDb store. */
  def partitionsUnder(root: Path): Int = {
    val data = root.resolve("data")
    if (!Files.exists(data)) 0
    else scala.util.Using.resource(Files.list(data))(_.iterator().asScala.toList)
      .filter(_.getFileName.toString.startsWith("name="))
      .map(n => scala.util.Using.resource(Files.list(n))(_.iterator().asScala
        .count(_.getFileName.toString.startsWith("bucket="))))
      .sum
  }
}

/** Entry point: `--workload W --seed N --seconds S --trace 0|1 --out DIR`.
  * Writes DIR/result.json (and, traced, the span/job/SQL dumps); run.py
  * turns those into metrics. Spark runs `local[nproc]` with nproc
  * shuffle partitions.
  */
object Main {
  /** Set-ups per run; setup_s reports their median. */
  private val Setups = 3

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val out = Paths.get(o("out"))
    val cores = Runtime.getRuntime.availableProcessors()
    val work = Files.createDirectories(out.resolve("work"))

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    try {
      val env = RunEnv(seed, cores, work)
      val w: Workload = workload match {
        case "dashboard" => new Dashboard(spark, env)
        case "ingest" => new Ingest(spark, env)
        case "curate" => new Curate(spark, env)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val sessionS = (Clock.ms() - jvmStart) / 1000
      val setupS = (0 until Setups).map { i =>
        val t0 = Clock.ms()
        w.setup(i)
        (Clock.ms() - t0) / 1000
      }
      val trace = new Trace(spark, traced)
      val res = w.measure(seconds, trace)
      val counters = trace.dump(out)
      val record = res ++ Map(
        "workload" -> workload, "seed" -> seed, "traced" -> traced,
        "session_s" -> sessionS, "setup_s" -> setupS, "trace" -> counters,
        "env" -> Map(
          "nproc" -> cores,
          "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
          "jdk" -> System.getProperty("java.version"),
          "spark" -> spark.version,
          "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
          "seed" -> seed))
      Files.writeString(out.resolve("result.json"), Json(record))
    } finally spark.stop()
  }
}
