package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.tsdb.{GraftDb, VType}

/** `ingest`: writes beside reads through the embedded API. Each round
  * inserts 60 samples into each of 6 pre-loaded streams and flushes
  * each (one Parquet append per flush, no fsync), then reads the window
  * just written back; every 3 rounds the store is compacted, its stats
  * refreshed, and one aggregate read is served from the stats sidecar.
  * A run ends on such a maintenance boundary, so its throughput always
  * covers whole write + maintenance cycles.
  */
final class Ingest(spark: SparkSession, env: RunEnv) extends Workload {
  import Gen._

  private val PerStream = 60
  private val CompactEvery = 3
  private val history = ingestHistory(env.seed)
  private var root: java.nio.file.Path = _

  def setup(i: Int): Unit = {
    val gen = ingestHistory(env.seed)
    root = env.work.resolve(s"store-$i")
    val db = new GraftDb(spark, root.toString)
    import spark.implicits._
    gen.foreach { s =>
      db.createStream(s.selector, VType.F64)
      db.importFrame(s.selector, s.ts.zip(s.vs).toSeq.toDF("timestamp", "value"))
    }
    db.compact()
    db.refreshStats()
  }

  /** One pooled value of `promql` at `t` through a fresh engine. */
  private def readAt(db: GraftDb, promql: String, t: Long,
      fromStats: Boolean = false): Seq[Double] =
    db.engine(serveFromStats = fromStats).queryRange(promql, t, t, 1000L)
      .output.collect().toSeq.map(r => r.getAs[Number]("value").doubleValue)

  /** A few flushes and reads on a throwaway store, outside the timed loop. */
  private def warmUp(): Unit = {
    val db = new GraftDb(spark, env.work.resolve("store-warm").toString)
    db.createStream("""warm_metric{stream="w"}""", VType.F64)
    val ins = db.inserter("""warm_metric{stream="w"}""")
    (0 until 5).foreach { r =>
      (0 until PerStream).foreach(i => ins.insert(T0 + (r * PerStream + i) * 1000L, i.toDouble))
      ins.flush()
      readAt(db, "count_over_time(warm_metric[60s])", T0 + (r * PerStream + PerStream - 1) * 1000L)
    }
  }

  def measure(seconds: Double, trace: Trace): Map[String, Any] = {
    warmUp()
    if (trace.enabled) {
      // the untraced half runs on its own store copy of the same state
      val copy = env.work.resolve("store-untraced")
      copyTree(root, copy)
      val untraced = run(copy, seconds / 2, new Trace(spark, false))
      trace.start()
      val traced = run(root, seconds / 2, trace)
      val halves = Seq(untraced, traced)
      def sum(k: String) = halves.map(_(k).asInstanceOf[Number].longValue).sum
      traced ++ Map("untraced_ops" -> untraced("ops"),
        "attempted" -> sum("attempted"), "failed" -> sum("failed"),
        "failures" -> halves.flatMap(_("failures").asInstanceOf[Iterable[String]]).take(20))
    } else run(root, seconds, trace)
  }

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    scala.util.Using.resource(Files.walk(from)) { s =>
      s.forEach { p =>
        val q = to.resolve(from.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
      }
    }
  }

  private def run(store: java.nio.file.Path, seconds: Double, trace: Trace): Map[String, Any] = {
    val db = new GraftDb(spark, store.toString)
    val inserters = history.map(s => db.inserter(s.selector))
    val ops = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def timed[T](op: String, span: String, id: Long)(body: => T): T = {
      val t0 = Clock.ms()
      val r = trace.span(span, id)(body)
      ops.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += Clock.ms() - t0
      r
    }
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    def expect(what: String, got: Seq[Double], want: Double): Unit = {
      attempted += 1
      if (got.size != 1 || math.abs(got.head - want) > 1e-9 * math.max(1.0, want))
        failures += s"$what: got $got, want $want"
    }
    val counters = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def count(k: String, v: Double): Unit =
      counters.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    def filesPerPartition(): Double =
      Workload.parquetFiles(store.resolve("data")).size.toDouble /
        math.max(1, Workload.partitionsUnder(store))

    var written = history.map(_.vs.length.toLong).sum
    var writtenSum = history.map(_.vs.sum).sum
    var flushed = 0L
    var round = 0
    var op = 0L
    val t0 = Clock.ms()
    val deadline = t0 + seconds * 1000
    var storedBytes = 0L
    var storedSamples = 0L
    var cycleStart = t0
    var lastCycle = 0.0
    while (round % CompactEvery != 0 || Workload.another(deadline, lastCycle)) {
      val data = ingestRound(env.seed, round, PerStream)
      data.zip(inserters).foreach { case (s, ins) =>
        op += 1
        timed("insert", "tsdb.GraftDb.insert", op) {
          var i = 0
          while (i < s.ts.length) { ins.insert(s.ts(i), s.vs(i)); i += 1 }
        }
        val before = if (trace.enabled) Workload.parquetFiles(store.resolve("data")).size else 0
        timed("flush", "tsdb.GraftDb.flush", op)(ins.flush())
        if (trace.enabled)
          count("files_per_flush", Workload.parquetFiles(store.resolve("data")).size - before)
        flushed += s.ts.length
        attempted += 1
      }
      written += data.map(_.ts.length.toLong).sum
      writtenSum += data.map(_.vs.sum).sum
      // read-after-write: the window just written, pooled over streams
      val last = data.head.ts.last
      val (fn, want) =
        if (round % 2 == 0) ("count", data.map(_.ts.length.toDouble).sum)
        else ("sum", data.map(_.vs.sum).sum)
      op += 1
      val got = timed("fresh_read", "tsdb.GraftDb.read", op)(
        readAt(db, s"${fn}_over_time(ingest_metric[${PerStream}s])", last))
      expect(s"round $round ${fn}_over_time", got, want)
      round += 1
      if (round % CompactEvery == 0) {
        op += 1
        val beforeFiles = if (trace.enabled) {
          count("files_per_partition_before_compact", filesPerPartition())
          Workload.parquetFiles(store.resolve("data")).map(p => p -> java.nio.file.Files.size(p)).toMap
        } else Map.empty[java.nio.file.Path, Long]
        timed("compact", "tsdb.GraftDb.compact", op)(db.compact())
        if (trace.enabled) {
          count("files_per_partition_after_compact", filesPerPartition())
          val after = Workload.parquetFiles(store.resolve("data")).toSet
          count("compact_bytes_rewritten",
            beforeFiles.filter(kv => !after.contains(kv._1)).values.sum.toDouble)
        }
        timed("refresh_stats", "tsdb.GraftDb.refresh_stats", op)(db.refreshStats())
        op += 1
        val all = timed("stats_read", "tsdb.GraftDb.stats_read", op)(
          readAt(db, "sum_over_time(ingest_metric[1d])", T0 + 24 * HourMs - 1, fromStats = true))
        expect(s"round $round stats sum_over_time", all, writtenSum)
        lastCycle = Clock.ms() - cycleStart
        cycleStart = Clock.ms()
        if (round == CompactEvery) {
          // size after a fixed amount of writing and its maintenance,
          // so it does not depend on how many rounds the run fits
          storedBytes = Workload.bytesUnder(store)
          storedSamples = written
        }
      }
    }
    val wall = (Clock.ms() - t0) / 1000
    // final totals, outside the timed loop
    val end = T0 + 24 * HourMs - 1
    expect("final count", readAt(db, "count_over_time(ingest_metric[1d])", end), written.toDouble)
    expect("final sum", readAt(db, "sum_over_time(ingest_metric[1d])", end), writtenSum)
    Map("ops" -> ops, "items" -> flushed, "wall_s" -> wall,
      "attempted" -> attempted, "failed" -> failures.size,
      "failures" -> failures.take(20), "rounds" -> round,
      "result_rows" -> ops("fresh_read").size,
      "stored_bytes" -> storedBytes, "stored_items" -> storedSamples,
      "counters" -> counters,
      "partitions_on_disk" -> Workload.partitionsUnder(store),
      "phases" -> Map("run" -> Seq(t0, Clock.ms())))
  }
}
