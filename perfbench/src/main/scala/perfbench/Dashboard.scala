package perfbench

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.apache.spark.sql.types._

import graft.tsdb.{GraftDb, PromParser, VType}

/** `dashboard`: read-only PromQL over graft's Prometheus HTTP bridge,
  * sent by two closed-loop clients against a bulk-loaded, compacted
  * store. Every reply is checked against the generated samples after
  * the timed loop.
  */
final class Dashboard(spark: SparkSession, env: RunEnv) extends Workload {
  import Dashboard._
  import Gen._

  private val Clients = 2
  private val series = dashboardSeries(env.seed)
  private val queries = dashboardQueries(env.seed, 100 * Templates.size)
  private var root: java.nio.file.Path = _

  /** Build a fresh store: createStream registers the 108 streams, one
    * Spark job of the benchmark's own writes all their samples in the
    * store's partitioned layout (one file per (name, bucket) partition),
    * then compact(), which finds nothing to merge in that layout. So the
    * files the queries read, and their size, are the benchmark's, not
    * graft's write path. Per-stream importFrame would write 108 × 41
    * files and take minutes on 4 cores, and making compact rewrite all
    * 123 partitions takes ~30 s per set-up; `ingest` measures that
    * write path instead.
    */
  def setup(i: Int): Unit = {
    val gen = dashboardSeries(env.seed)
    root = env.work.resolve(s"store-$i")
    val db = new GraftDb(spark, root.toString)
    gen.foreach(s => db.createStream(s.selector, VType.F64))
    val rows = spark.sparkContext.parallelize(gen, env.cores).flatMap { s =>
      s.ts.indices.iterator.map(j => Row(s.name, s.labels, s.ts(j), s.vs(j), null))
    }
    spark.createDataFrame(rows, StructType(Seq(
        StructField("name", StringType), StructField("labels", MapType(StringType, StringType)),
        StructField("timestamp", LongType), StructField("value", DoubleType),
        StructField("lvalue", LongType))))
      .withColumn("bucket", col("timestamp") - pmod(col("timestamp"), lit(db.bucketWidthMs)))
      .repartition(col("name"), col("bucket"))
      .write.partitionBy("name", "bucket").parquet(db.dataPath)
    db.compact()
  }

  private def send(port: Int, q: Gen.Query): (Int, String) = {
    def enc(s: String) = URLEncoder.encode(s, StandardCharsets.UTF_8)
    val params =
      if (q.instant) s"query=${enc(q.promql)}&time=${q.end / 1000}"
      else s"query=${enc(q.promql)}&start=${q.start / 1000}&end=${q.end / 1000}" +
        s"&step=${q.step / 1000}"
    val path = if (q.instant) "/api/v1/query" else "/api/v1/query_range"
    val c = URI.create(s"http://127.0.0.1:$port$path?$params").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    try {
      val code = c.getResponseCode
      val in = if (code < 400) c.getInputStream else c.getErrorStream
      val body = if (in == null) "" else new String(in.readAllBytes(), StandardCharsets.UTF_8)
      (code, body)
    } finally c.disconnect()
  }

  /** Closed loop over whole blocks of the query list, one query per
    * template each: a client sends its next request only after reading
    * the previous reply, taking requests in order from block
    * `firstBlock` on. A block is started while the deadline is still
    * ahead by half the last block's duration, and a started block is
    * always finished, so every run measures the whole mix, however
    * fast the queries are.
    */
  private def loop(port: Int, seconds: Double, firstBlock: Int, trace: Trace): Seq[Reply] = {
    val block = Templates.size
    val deadline = Clock.ms() + seconds * 1000
    val lock = new Object
    var next = firstBlock * block
    var open = true
    var blockStart = 0.0
    def take(): Option[Int] = lock.synchronized {
      if (open && next % block == 0) {
        val now = Clock.ms()
        if (next > firstBlock * block && !Workload.another(deadline, now - blockStart))
          open = false
        else blockStart = now
      }
      if (!open) None else { next += 1; Some(next - 1) }
    }
    val replies = new java.util.concurrent.ConcurrentLinkedQueue[Reply]()
    val threads = (0 until Clients).map { _ =>
      new Thread(() => {
        var i = take()
        while (i.nonEmpty) {
          val q = queries(i.get % queries.size)
          val t0 = Clock.ms()
          val (code, body) =
            try trace.span("tools.Web.request", i.get)(send(port, q))
            catch { case e: Exception => (-1, String.valueOf(e)) }
          replies.add(Reply(q, Clock.ms() - t0, code, body, t0))
          i = take()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    replies.asScala.toSeq
  }

  def measure(seconds: Double, trace: Trace): Map[String, Any] = {
    val server = graft.tools.Web.start(spark, 0, Some(root.toString))
    try {
      val port = server.getAddress.getPort
      // warm-up, outside the timed loop, from the last block of the
      // list, which no run reaches
      queries.takeRight(Templates.size).take(3).foreach(send(port, _))
      // a traced run measures block 0 untraced, then block 3, which has
      // the same windows, traced
      val untraced =
        if (trace.enabled) loop(port, seconds / 2, 0, new Trace(spark, false))
        else Nil
      val t0 = Clock.ms()
      trace.start()
      val replies =
        if (trace.enabled) loop(port, seconds / 2, 3, trace) else loop(port, seconds, 0, trace)
      val httpEnd = Clock.ms()
      // client-busy seconds: each closed-loop client is never idle, so
      // completed / busy is the throughput without the end effect of
      // the last few long requests
      val wall = replies.map(_.ms).sum / Clients / 1000
      val replay = if (trace.enabled) replayLibrary(trace) else Map.empty
      val failures = mutable.ArrayBuffer.empty[String]
      var resultRows = 0L
      untraced.foreach(r => check(r).left.foreach(msg =>
        failures += s"${r.q.template} ${r.q.promql}: $msg"))
      replies.foreach { r =>
        check(r) match {
          case Left(msg) => failures += s"${r.q.template} ${r.q.promql}: $msg"
          case Right(rows) => resultRows += rows
        }
      }
      Map("ops" -> Map("query" -> replies.map(_.ms)),
        "untraced_ops" -> Map("query" -> untraced.map(_.ms)),
        "items" -> replies.size, "wall_s" -> wall,
        "attempted" -> (untraced.size + replies.size), "failed" -> failures.size,
        "failures" -> failures.take(20),
        "stored_bytes" -> Workload.bytesUnder(root),
        "stored_items" -> series.map(_.ts.length.toLong).sum,
        "result_rows" -> resultRows,
        "response_bytes" -> replies.map(_.body.length.toLong).sum,
        "requests" -> replies.map(r => Seq(r.start, r.start + r.ms)),
        "phases" -> Map("http" -> Seq(t0, httpEnd)),
        "partitions_on_disk" -> Workload.partitionsUnder(root)) ++ replay
    } finally server.stop(0)
  }

  /** Traced run only: each template once through the library, with a
    * span around every layer call (parse, open, engine, build, execute).
    */
  private def replayLibrary(trace: Trace): Map[String, Any] = {
    val t0 = Clock.ms()
    Templates.indices.foreach { i =>
      val q = queries(i)
      val op = 100000L + i
      trace.span("dashboard.replay", op) {
        val ast = trace.span("tsdb.PromParser.parse", op)(PromParser.parse(q.promql))
        val db = trace.span("tsdb.GraftDb.open", op) {
          val d = new GraftDb(spark, root.toString)
          d.streams()
          d
        }
        val engine = trace.span("tsdb.GraftDb.engine", op)(db.engine())
        val result = trace.span("tsdb.Engine.build", op) {
          // the sliding evaluator where it takes the shape, the
          // whole-range one otherwise
          val step = if (q.instant) 300000L else q.step
          try engine.queryRange(ast, q.start, q.end, step)
          catch {
            case _: IllegalArgumentException =>
              engine.query(ast, q.start - (if (q.instant) step else 0L), q.end)
          }
        }
        trace.span("tsdb.Engine.execute", op)(result.output.collect())
      }
    }
    Map("replay_queries" -> Templates.size,
      "phases_replay" -> Seq(t0, Clock.ms()))
  }

  // ---- output checks from generated truth ----

  private val mapper = new ObjectMapper()
  private val byName = series.groupBy(_.name)

  private def streams(name: String, f: Map[String, String] => Boolean) =
    byName(name).filter(s => f(s.labels))

  /** Samples of `ss` in (lo, hi]. */
  private def window(ss: Seq[Series], lo: Long, hi: Long): Seq[Double] =
    ss.flatMap { s =>
      val a = java.util.Arrays.binarySearch(s.ts, lo + 1)
      val b = java.util.Arrays.binarySearch(s.ts, hi + 1)
      val from = if (a >= 0) a else -a - 1
      val to = if (b >= 0) b else -b - 1
      s.vs.slice(from, to).toSeq
    }

  private def stat(fn: String, xs: Seq[Double]): Double = fn match {
    case "sum" => xs.sum
    case "count" => xs.size.toDouble
    case "max" => xs.max
  }

  private def labelsOf(n: JsonNode): Map[String, String] =
    n.get("metric").fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap

  /** (series labels → (ts ms → value)) of a success reply. */
  private def points(data: JsonNode): Map[Map[String, String], Map[Long, Double]] =
    data.get("result").elements().asScala.map { s =>
      val vals =
        if (s.has("values")) s.get("values").elements().asScala.toSeq
        else Seq(s.get("value"))
      labelsOf(s) -> vals.map(p =>
        math.round(p.get(0).asDouble * 1000) -> p.get(1).asText.toDouble).toMap
    }.toMap

  private def steps(q: Gen.Query): Seq[Long] =
    if (q.instant) Seq(q.end) else (q.start to q.end by q.step)

  private def close(a: Double, b: Double) =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  /** Expected (labels → ts → value) for the value-checked templates:
    * per-step window statistics over the generated samples. Steps whose
    * window holds no sample expect no point.
    */
  private def expected(q: Gen.Query): Option[Map[Map[String, String], Map[Long, Double]]] = {
    val sel = raw"""(\w+)_over_time\((\w+)\{job="(\w+)",instance="(\w+)",cohort="(\w+)"\}\[1h\]\)""".r
    val cnt = raw"""count_over_time\((\w+)\{job="(\w+)"\}\[1h\]\)""".r
    def grouped(name: String, key: String, width: Long) =
      streams(name, _ => true).groupBy(_.labels(key)).map { case (g, ss) =>
        Map(key -> g) -> steps(q).flatMap { t =>
          val xs = window(ss, t - width, t)
          if (xs.isEmpty) None else Some(t -> xs.sum)
        }.toMap
      }
    def pooled(ss: Seq[Series], fn: String, width: Long) =
      Map(Map.empty[String, String] -> steps(q).flatMap { t =>
        val xs = window(ss, t - width, t)
        if (xs.isEmpty) None else Some(t -> stat(fn, xs))
      }.toMap)
    q.template match {
      case "sum_by" => Some(grouped("cpu_usage", "job", q.step))
      case "instant_sum" => Some(grouped("cpu_usage", "cohort", 300000L))
      case "over_time" => q.promql match {
        case sel(fn, name, j, i, c) => Some(pooled(streams(name,
          _ == Map("job" -> j, "instance" -> i, "cohort" -> c)), fn, HourMs))
      }
      case "instant_count" => q.promql match {
        case cnt(name, j) => Some(pooled(streams(name, _("job") == j), "count", HourMs))
      }
      case _ => None
    }
  }

  /** Series-count bounds implied by the generated label sets. topk's
    * set of series is the union of each step's top 2 instances; a tie at
    * the cut widens the bound instead of guessing graft's tie order.
    */
  private def seriesCount(q: Gen.Query): (Int, Int) = q.template match {
    case "selector" | "rate" | "subquery" | "over_time" | "instant_count" => (1, 1)
    case "sum_by" => (Jobs.size, Jobs.size)
    case "instant_sum" => (Cohorts.size, Cohorts.size)
    case "limitk" => (2, 2)
    case "matched" => (Jobs.size * Instances.size, Jobs.size * Instances.size)
    case "topk" =>
      val groups = streams("cpu_usage", _ => true).groupBy(_.labels("instance")).toSeq
      val sure = mutable.Set.empty[String]
      val maybe = mutable.Set.empty[String]
      steps(q).foreach { t =>
        val sums = groups.map { case (g, ss) => g -> window(ss, t - q.step, t).sum }
          .sortBy(-_._2)
        val cut = sums(1)._2
        sums.filter(_._2 > cut).foreach(x => sure += x._1)
        val atCut = sums.filter(_._2 == cut)
        if (sums.count(_._2 >= cut) == 2) atCut.foreach(x => sure += x._1)
        sums.filter(_._2 >= cut).foreach(x => maybe += x._1)
      }
      (sure.size, maybe.size)
  }

  /** Left(reason) or Right(number of result points). */
  private def check(r: Reply): Either[String, Long] = {
    if (r.code != 200) return Left(s"HTTP ${r.code}: ${r.body.take(200)}")
    val js = try mapper.readTree(r.body) catch { case e: Exception => return Left(s"bad JSON: $e") }
    if (js.path("status").asText != "success") return Left(s"status ${js.path("status")}")
    val got = points(js.get("data"))
    val (lo, hi) = seriesCount(r.q)
    if (got.size < lo || got.size > hi)
      return Left(s"${got.size} series, expected $lo..$hi")
    expected(r.q).foreach { want =>
      val w = want.filter(_._2.nonEmpty)
      if (w.keySet != got.keySet) return Left(s"series ${got.keySet} != ${w.keySet}")
      w.foreach { case (k, pts) =>
        val g = got(k)
        if (g.keySet != pts.keySet)
          return Left(s"$k: steps ${g.keySet.toSeq.sorted.take(3)}.. != ${pts.keySet.toSeq.sorted.take(3)}..")
        pts.foreach { case (t, v) =>
          if (!close(g(t), v)) return Left(s"$k @ $t: ${g(t)} != $v")
        }
      }
    }
    Right(got.values.map(_.size.toLong).sum)
  }
}

object Dashboard {
  private final case class Reply(q: Gen.Query, ms: Double, code: Int,
      body: String, start: Double)
}
