package perfbench

import java.util.SplittableRandom

/** Seeded input generators for the three workloads. Every input graft
  * sees is built here from the workload seed alone, so the same seed
  * gives byte-identical inputs ([[digest]] hashes them for the tests).
  */
object Gen {

  /** 2023-11-14T00:00:00Z: start of every generated time range. */
  val T0: Long = 1699920000000L
  val HourMs: Long = 3600L * 1000L
  val MinMs: Long = 60L * 1000L

  private def rng(seed: Long, salt: Long) =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)

  /** One generated stream: name, label set, ascending timestamps and
    * integer-valued samples (sums over them are exact in f64).
    */
  final case class Series(name: String, labels: Map[String, String],
      ts: Array[Long], vs: Array[Double]) {
    def selector: String =
      name + labels.toSeq.sorted
        .map { case (k, v) => s"""$k="$v"""" }.mkString("{", ",", "}")
  }

  // ---- dashboard ----

  val Jobs = Seq("api", "db", "web")
  val Instances = (0 until 6).map(i => s"i$i")
  val Cohorts = Seq("a", "b")
  val Metrics = Seq("http_requests_total", "cpu_usage", "queue_depth")
  val DashSpanHours = 40
  val DashIntervalMs = 15000L

  /** 3 metric names × 3 jobs × 6 instances × 2 cohorts = 108 streams,
    * one sample every 15 s for 40 h (9,600 samples each, 1,036,800 in
    * all) starting at a seeded per-stream phase; with 1 h buckets the
    * store holds 3 × 41 (name, bucket) partitions.
    */
  def dashboardSeries(seed: Long): IndexedSeq[Series] = {
    val r = rng(seed, 1L)
    val n = (DashSpanHours * HourMs / DashIntervalMs).toInt
    for {
      name <- Metrics.toIndexedSeq
      job <- Jobs
      inst <- Instances
      cohort <- Cohorts
    } yield {
      val phase = r.nextLong(DashIntervalMs)
      val ts = Array.tabulate(n)(i => T0 + phase + i * DashIntervalMs)
      val vs = new Array[Double](n)
      var acc = 0L
      var i = 0
      while (i < n) {
        vs(i) = name match {
          case "http_requests_total" => acc += r.nextInt(20); acc.toDouble
          case "cpu_usage" => r.nextInt(1000).toDouble
          case _ => r.nextInt(50).toDouble
        }
        i += 1
      }
      Series(name, Map("job" -> job, "instance" -> inst, "cohort" -> cohort),
        ts, vs)
    }
  }

  /** One dashboard request. `instant` requests go to /api/v1/query at
    * `end`; range requests to /api/v1/query_range over [start, end].
    */
  final case class Query(template: String, promql: String, instant: Boolean,
      start: Long, end: Long, step: Long)

  /** The query templates, one per `Web.promEval` arm the dashboard
    * uses. Requests come in blocks of one query per template, so every
    * seed sends the same mix; the seed picks label values and the hour
    * each window ends at.
    */
  val Templates: IndexedSeq[String] = IndexedSeq(
    "selector", "rate", "sum_by", "over_time", "topk", "limitk",
    "matched", "subquery", "instant_sum", "instant_count")

  /** Windows: last 1h / 6h / 24h, each with a step giving 61-73 points. */
  val Windows: IndexedSeq[(Long, Long)] = IndexedSeq(
    (HourMs, MinMs), (6 * HourMs, 5 * MinMs), (24 * HourMs, 20 * MinMs))

  /** Request `i` is template `i % 10` of block `i / 10`; its window
    * shifts by one per template and per block, so every block mixes the
    * three windows and any 3 consecutive blocks hold every (template,
    * window) pair once.
    */
  def dashboardQueries(seed: Long, n: Int): IndexedSeq[Query] = {
    val r = rng(seed, 2L)
    (0 until n).map { i =>
      val t = Templates(i % Templates.size)
      val (win, step) = Windows((i % Templates.size + i / Templates.size) % Windows.size)
      // window ends on a whole hour 24..40 h after T0: a 24 h window
      // always lies inside the generated data
      val end = T0 + (24 + r.nextInt(DashSpanHours - 24 + 1)) * HourMs
      val job = Jobs(r.nextInt(Jobs.size))
      val inst = Instances(r.nextInt(Instances.size))
      val cohort = Cohorts(r.nextInt(Cohorts.size))
      val one = s"""{job="$job",instance="$inst",cohort="$cohort"}"""
      val fn = Seq("sum", "count", "max")(r.nextInt(3))
      def range(q: String) = Query(t, q, instant = false, end - win, end, step)
      def instant(q: String) = Query(t, q, instant = true, end, end, 0L)
      t match {
        case "selector" => range(s"cpu_usage$one")
        case "rate" => range(s"rate(http_requests_total$one[5m])")
        case "sum_by" => range("sum by (job) (cpu_usage)")
        case "over_time" => range(s"${fn}_over_time(queue_depth$one[1h])")
        case "topk" => range("topk(2, sum by (instance) (cpu_usage))")
        case "limitk" => range("limitk(2, sum by (instance) (queue_depth))")
        case "matched" => range("sum by (job, instance) (cpu_usage) / " +
          "on (job) group_left sum by (job) (queue_depth)")
        case "subquery" => range(
          s"max_over_time(rate(http_requests_total$one[5m])[1h:5m])")
        case "instant_sum" => instant("sum by (cohort) (cpu_usage)")
        case "instant_count" => instant(s"""count_over_time(queue_depth{job="$job"}[1h])""")
      }
    }
  }

  // ---- ingest ----

  val IngestStreams = 6
  val IngestHistoryHours = 3
  val IngestIntervalMs = 1000L

  /** 6 streams `ingest_metric{stream="sN"}`, each with 3 h of history
    * at a 10 s interval (1,080 samples each) ending where the live
    * rounds start.
    */
  def ingestHistory(seed: Long): IndexedSeq[Series] = {
    val r = rng(seed, 3L)
    val n = (IngestHistoryHours * HourMs / 10000L).toInt
    (0 until IngestStreams).map { s =>
      Series("ingest_metric", Map("stream" -> f"s$s%02d"),
        Array.tabulate(n)(i => T0 + i * 10000L),
        Array.fill(n)(r.nextInt(100).toDouble))
    }
  }

  /** Where live writes start: right after the history. */
  val IngestLiveStart: Long = T0 + IngestHistoryHours * HourMs

  /** Round `round` of live writes: per stream, `perStream` samples one
    * second apart continuing the stream, values drawn from a generator
    * keyed by (seed, round), so any round is reproducible on its own.
    */
  def ingestRound(seed: Long, round: Int, perStream: Int): IndexedSeq[Series] = {
    val r = rng(seed, 4L + round.toLong * 7919L)
    val t0 = IngestLiveStart + round.toLong * perStream * IngestIntervalMs
    (0 until IngestStreams).map { s =>
      Series("ingest_metric", Map("stream" -> f"s$s%02d"),
        Array.tabulate(perStream)(i => t0 + i * IngestIntervalMs),
        Array.fill(perStream)(r.nextInt(100).toDouble))
    }
  }

  // ---- curate ----

  final case class Doc(id: Long, text: String)

  /** A planted duplicate cluster: the member ids (original first). */
  final case class Cluster(exact: Boolean, ids: Seq[Long])

  val BaseDocs = 5000
  val PlantedClusters = 150

  /** 5,000 base documents of 40-120 words drawn from a seeded
    * 4,000-word vocabulary (letters only, so every document clears the
    * curation quality gate), plus 150 planted clusters: an original
    * base document and 1-3 copies, exact for half the clusters and
    * with 3% of words replaced for the other half.
    */
  def corpus(seed: Long): (IndexedSeq[Doc], IndexedSeq[Cluster]) = {
    val r = rng(seed, 5L)
    val vocab = IndexedSeq.fill(4000) {
      val len = 3 + r.nextInt(7)
      new String(Array.fill(len)(('a' + r.nextInt(26)).toChar))
    }
    val words = IndexedSeq.fill(BaseDocs)(
      IndexedSeq.fill(40 + r.nextInt(81))(vocab(r.nextInt(vocab.size))))
    val docs = IndexedSeq.newBuilder[Doc]
    words.zipWithIndex.foreach { case (w, i) => docs += Doc(i.toLong, w.mkString(" ")) }
    var next = BaseDocs.toLong
    val clusters = (0 until PlantedClusters).map { c =>
      val orig = (c * (BaseDocs / PlantedClusters)).toLong
      val exact = c % 2 == 0
      val copies = (1 + r.nextInt(3)).toLong
      val ids = (0L until copies).map { _ =>
        val w = words(orig.toInt)
        // a near copy replaces exactly 3% of the words (at least one),
        // which keeps every pair in the cluster above the 0.5 Jaccard
        // threshold on word 3-grams
        val edits = Iterator.continually(r.nextInt(w.size)).distinct
          .take(math.max(1, w.size * 3 / 100)).toSet
        val text =
          if (exact) w.mkString(" ")
          else w.indices.map(j => if (edits(j)) vocab(r.nextInt(vocab.size)) else w(j))
            .mkString(" ")
        docs += Doc(next, text)
        next += 1
        next - 1
      }
      Cluster(exact, orig +: ids)
    }
    (docs.result(), clusters)
  }

  /** SHA-256 over every generated input of one seed: the dashboard
    * series and first 200 queries, the ingest history and first 3
    * rounds, and the curation corpus with its cluster map.
    */
  def digest(seed: Long): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit = md.update(s.getBytes("UTF-8"))
    def putSeries(ss: Seq[Series]): Unit = ss.foreach { s =>
      put(s.selector)
      val b = java.nio.ByteBuffer.allocate(16 * s.ts.length)
      s.ts.indices.foreach { i => b.putLong(s.ts(i)); b.putDouble(s.vs(i)) }
      md.update(b.array())
    }
    putSeries(dashboardSeries(seed))
    dashboardQueries(seed, 200).foreach(q => put(q.toString))
    putSeries(ingestHistory(seed))
    (0 until 3).foreach(i => putSeries(ingestRound(seed, i, 60)))
    val (docs, clusters) = corpus(seed)
    docs.foreach(d => put(s"${d.id}\t${d.text}\n"))
    clusters.foreach(c => put(c.toString))
    md.digest().map("%02x".format(_)).mkString
  }
}
