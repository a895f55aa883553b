package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.dedup.Dedup
import graft.operators.{Curation, Packing, ShardWriter}

/** `curate`: one batch training-data chain per op over a seeded corpus
  * with planted duplicate clusters — shingle → pair search → curate
  * (with the pre-paid pairs) → pack → sharded write.
  */
final class Curate(spark: SparkSession, env: RunEnv) extends Workload {
  import Curate._
  import Gen._

  private val BinTokens = 2048L
  private val Shards = 8
  private val opts = Curation.Opts(binTokens = BinTokens)
  private val (docs, clusters) = corpus(env.seed)
  private var corpusPath: String = _

  /** Generate the corpus and write it as the chain's Parquet input. */
  def setup(i: Int): Unit = {
    import spark.implicits._
    val (gen, _) = corpus(env.seed)
    corpusPath = env.work.resolve(s"corpus-$i.parquet").toString
    gen.map(d => (d.id, d.text)).toDF("id", "text")
      .repartition(env.cores).write.parquet(corpusPath)
  }

  private def rows(df: DataFrame): Seq[Packed] =
    df.select(col("id"), col("n_tokens"), col("gcum"), col("bin"), col("bin_offset"))
      .collect().toSeq.map(r => Packed(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))

  /** One whole chain. Each stage is materialized inside its own span so
    * the traced run can time it; everything is released at the end.
    */
  private def chain(op: Long, trace: Trace): ChainOut = {
    val out = env.work.resolve(s"shards-$op")
    val persisted = mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = {
      persisted += df.persist(StorageLevel.MEMORY_AND_DISK)
      df
    }
    try trace.span("curate.chain", op) {
      val input = spark.read.parquet(corpusPath)
      val sh = trace.span("dedup.Dedup.shingle", op) {
        val s = keep(Dedup.shingleBase(input, "id", "text", opts.nGram))
        s.count(); s
      }
      val (pairs, nPairs) = trace.span("dedup.Dedup.pairs", op) {
        val p = keep(Dedup.jaccardPairsFromShingles(sh, opts.jaccardThreshold))
        (p, p.count())
      }
      val manifest = trace.span("operators.Curation.curate", op) {
        val m = keep(Curation.curate(input, "id", "text", opts,
          pairs = Some(Curation.PrepaidPairs(pairs, opts.jaccardThreshold, opts.nGram))))
        m.count(); m
      }
      val packed = trace.span("operators.Packing.pack", op) {
        val p = keep(Packing.pack(manifest.select("id", "n_tokens"), Seq(col("id")),
          "n_tokens", BinTokens))
        p.count(); p
      }
      val written = trace.span("operators.ShardWriter.write", op)(
        ShardWriter.writeSharded(packed, Seq(col("id")), Shards, out.toString).count())
      val files = Workload.parquetFiles(out)
      ChainOut(rows(manifest), rows(packed), nPairs, written, files.size,
        files.map(java.nio.file.Files.size).sum)
    } finally {
      persisted.foreach(_.unpersist(blocking = true))
      graft.engine.Caches.release()
    }
  }

  def measure(seconds: Double, trace: Trace): Map[String, Any] = {
    chain(0, new Trace(spark, false)) // warm-up, outside the timed loop
    val (untraced, untracedOuts, _) =
      if (trace.enabled) loop(seconds / 2, 1000, new Trace(spark, false))
      else (Nil, Nil, 0.0)
    trace.start()
    val (ms, outs, wall) = loop(if (trace.enabled) seconds / 2 else seconds, 1, trace)
    val checked = (untracedOuts ++ outs).map(check)
    val last = outs.last
    Map("ops" -> Map("chain" -> ms), "untraced_ops" -> Map("chain" -> untraced),
      "items" -> docs.size.toLong * outs.size, "wall_s" -> wall,
      "attempted" -> checked.size, "failed" -> checked.count(_.nonEmpty),
      "failures" -> checked.flatten.take(20),
      "stored_bytes" -> last.bytes, "stored_items" -> docs.size,
      "counters" -> Map("pairs_found" -> outs.map(_.pairs.toDouble),
        "survivors" -> outs.map(_.manifest.size.toDouble),
        "files_written" -> outs.map(_.files.toDouble)))
  }

  /** Chains for `seconds` (at least one; see [[Workload.another]]). */
  private def loop(seconds: Double, firstOp: Long, trace: Trace)
      : (Seq[Double], Seq[ChainOut], Double) = {
    val ms = mutable.ArrayBuffer.empty[Double]
    val outs = mutable.ArrayBuffer.empty[ChainOut]
    val t0 = Clock.ms()
    var op = firstOp
    while (outs.isEmpty || Workload.another(t0 + seconds * 1000, ms.last)) {
      val c0 = Clock.ms()
      outs += chain(op, trace)
      ms += Clock.ms() - c0
      op += 1
    }
    (ms.toSeq, outs.toSeq, (Clock.ms() - t0) / 1000)
  }

  // ---- output checks from generated truth ----

  private def check(o: ChainOut): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val survivors = o.manifest.map(_.id).toSet
    clusters.foreach { c =>
      val kept = c.ids.filter(survivors)
      if (kept.size > 1)
        errs += s"planted ${if (c.exact) "exact" else "near"} cluster ${c.ids} kept $kept"
    }
    val m = o.manifest.sortBy(_.id)
    m.sliding(2).foreach {
      case Seq(a, b) if b.gcum != a.gcum + a.nTokens || b.gcum < a.gcum =>
        errs += s"gcum not monotone at ${a.id} -> ${b.id}: ${a.gcum}+${a.nTokens} vs ${b.gcum}"
      case _ =>
    }
    m.headOption.filter(_.gcum != 0).foreach(h => errs += s"gcum starts at ${h.gcum}")
    val fill = mutable.HashMap.empty[Long, Long]
    m.foreach { p =>
      if (p.bin != p.gcum / BinTokens || p.binOffset != p.gcum % BinTokens)
        errs += s"doc ${p.id}: bin ${p.bin}/${p.binOffset} for gcum ${p.gcum}"
      var t = p.gcum
      while (t < p.gcum + p.nTokens) {
        val b = t / BinTokens
        val take = math.min(p.gcum + p.nTokens, (b + 1) * BinTokens) - t
        fill(b) = fill.getOrElse(b, 0L) + take
        t += take
      }
    }
    fill.filter(_._2 > BinTokens).foreach { case (b, n) => errs += s"bin $b holds $n tokens" }
    if (o.repacked.sortBy(_.id) != m) errs += "Packing.pack disagrees with the curated manifest"
    if (o.written != m.size) errs += s"wrote ${o.written} rows for ${m.size} survivors"
    errs.toSeq
  }
}

object Curate {
  private final case class Packed(id: Long, nTokens: Long, gcum: Long,
      bin: Long, binOffset: Long)

  private final case class ChainOut(manifest: Seq[Packed], repacked: Seq[Packed],
      pairs: Long, written: Long, files: Int, bytes: Long)
}
