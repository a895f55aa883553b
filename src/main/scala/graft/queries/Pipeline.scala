package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Graft.table
import graft.functions.TextFunctions._
import graft.dedup.Dedup
import graft.ann.Knn

/** Training-data pipeline operators over `documents` / `embeddings`:
  * exact + MinHash-LSH + SimHash + n-gram-Jaccard + embedding-cosine
  * dedup, brute-force and IVF-bucketed ANN, and text analysis (tokens,
  * language-ID heuristic, quality scoring, fingerprinting).
  *
  * The raw corpus has no duplicates, so the dedup queries run against a
  * deterministic *planted* corpus built identically on both sides: the
  * documents plus exact copies (dd01) or near-copies with an appended
  * marker (dd02-dd04) of every 10th/20th doc.
  */
object Pipeline {

  private val Marker = " graft dup marker"

  // The testdata parquet is a single row group, so the scan is ONE task
  // regardless of maxPartitionBytes — widen() restores parallelism for
  // the CPU-heavy text/vector passes (no-op on a normally-split source).
  private def docs(s: SparkSession, dir: String): DataFrame =
    graft.engine.Graft.widen(table(s, dir, "documents"))

  /** documents ∪ exact copies of every 10th doc (ids offset by 1e6). */
  private def corpusExact(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    d.select(col("doc_id"), col("text")).unionAll(
      d.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
  }

  private val CorpusExactSql =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
      |  WHERE doc_id % 10 = 0)""".stripMargin

  /** documents ∪ near-copies (marker appended) of every 20th doc. */
  private def corpusNear(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    d.select(col("doc_id"), col("text"), col("lang"), col("source")).unionAll(
      d.where(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(Marker)).as("text"),
          col("lang"), col("source")))
  }

  private val CorpusNearSql =
    s"""corpus AS (
       |  SELECT doc_id, text, lang, source FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, text || '$Marker' AS text,
       |         lang, source
       |  FROM documents WHERE doc_id % 20 = 0)""".stripMargin

  /** The corpus tokenize→shingle→md5 pass is the dominant cost of every
    * text-similarity query, and Spark cannot share work across
    * separately-planned queries — so dd02/dd03/dd04 (and tx04, whose
    * fingerprint is the min of the same hashes) all read this one
    * persisted (id, hs) table, computed once per (session, sf dir).
    */
  private val shingleCache =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  /** Process-unique tag for the writer gates' scratch dirs: two
    * concurrent bench/verify processes over the same dataset would
    * otherwise overwrite each other's shard output mid-read-back
    * (mode=overwrite deletes the dir first).
    */
  private val ProcTag = java.lang.Long.toHexString(ProcessHandle.current().pid())

  /** Shard format for the pp11/pp12 writer gates — "parquet" (default,
    * what the driver verifies) or "json"; the env override exists so the
    * SCALE_CHECK loop can time the JSON Lines path at scale without a
    * code fork. ShardWriterSpec pins jsonl/parquet result equality.
    */
  private val ShardFormat =
    sys.env.getOrElse("SPARK_GRAFT_SHARD_FORMAT", "parquet")

  /** Release every cache the library holds: the shared-pass tables
    * here (shingles, banded keys, IVF assignments) and the
    * plan-internal persists operators registered with
    * [[graft.engine.Caches]] (RangeRank/Dedup intermediates). Blocks
    * unpersist and entries are forgotten, so the next query recomputes.
    * The caches are session-lifetime by design — right for a
    * bench/driver process, a leak for a long-lived session — so
    * long-lived callers pair bursts of pipeline queries with a
    * `clearCaches()` after their terminal action.
    */
  def clearCaches(): Unit = {
    shingleCache.values.foreach(_.unpersist(blocking = false))
    shingleCache.clear()
    graft.engine.Caches.release()
  }

  /** Explicitly build — and time — every shared pass for (s, dir), in
    * dependency order, returning (passName, seconds) per pass. Bench
    * calls this up front so each shared cost appears as its OWN line
    * in BENCH.json and the per-query numbers measure only incremental
    * work — without it, whichever gate happens to run first fronts the
    * shared subplan and per-query times become pack-order-dependent
    * (the r8 accounting finding: dd04 fronting dd08's pair set, pp11's
    * 28s cold rerun). Idempotent: a pass already built times ~0.
    */
  def prewarmShared(s: SparkSession, dir: String): Seq[(String, Double)] = {
    def t(name: String)(f: => Any): (String, Double) = {
      val t0 = System.nanoTime(); f
      (name, (System.nanoTime() - t0) / 1e9)
    }
    Seq(
      t("near_shingles")(nearShingles(s, dir)),
      t("near_banded")(nearBanded(s, dir)),
      t("near_pairs")(nearPairs(s, dir)),
      t("triple_shingles")(tripleShingles(s, dir)),
      t("triple_components")(tripleComponents(s, dir)),
      t("curated")(curated(s, dir)),
      t("packed_spans")(packedSpans(s, dir)),
      t("ivf_assigned")(ivfAssigned(s, dir)),
      t("near_dup_index_build")(corpusIndex(s, dir)),
      t("embed_index_build")(embedIndex(s, dir)))
  }

  // Every shared cache is MATERIALIZED at creation (mat): several
  // gates consume row-filtered views of these frames on both sides of
  // a join, where a lazy persist gets computed once per side on first
  // use (the dd03 double-compute class, SCALE_CHECK.md) — and a
  // filtered view's storageLevel is NONE, so downstream guards cannot
  // see the persist.
  private def mat(df: DataFrame): DataFrame = { df.count(); df }

  private def nearShingles(s: SparkSession, dir: String): DataFrame =
    shingleCache.getOrElseUpdate(System.identityHashCode(s) + "|" + dir, {
      mat(Dedup.shingleBase(corpusNear(s, dir), "doc_id", "text", nGram = 3)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    })

  /** The MinHash signature+banding pass over [[nearShingles]], likewise
    * computed once per (session, sf dir): dd02's self-join and dd10's
    * cross-corpus probe both read it (banding is per-row, so dd10's two
    * sides are row-filters of this one table).
    */
  private def nearBanded(s: SparkSession, dir: String): DataFrame =
    shingleCache.getOrElseUpdate(System.identityHashCode(s) + "|b|" + dir, {
      mat(Dedup.bandedKeys(nearShingles(s, dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    })

  /** The full curate() output (doc_id, n_tokens, gcum, bin, bin_offset),
    * computed once per (session, sf dir): pp01 reports it directly and
    * pp09 re-orders its (doc_id, n_tokens) — curate is deterministic,
    * so sharing the materialized result is semantics-preserving, and
    * the quality + keep-one + sample chain is the dominant cost of
    * both gates (same principle as the shingle/banding caches).
    */
  private def curated(s: SparkSession, dir: String): DataFrame =
    shingleCache.getOrElseUpdate(System.identityHashCode(s) + "|cur|" + dir, {
      graft.operators.Curation.curate(
          corpusNear(s, dir).select(col("doc_id"), col("text")),
          "doc_id", "text",
          shingles = Some(nearShingles(s, dir)),
          // nearPairs is computed at threshold=0.5, nGram=3 — the
          // PrepaidPairs tag makes curate() verify that against its
          // Opts (which default to exactly these) instead of trusting
          // the comment
          pairs = Some(graft.operators.Curation.PrepaidPairs(
            nearPairs(s, dir), jaccardThreshold = 0.5, nGram = 3)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        .transform(mat)
    })

  /** The planted embedding corpus (originals + exact copies of every
    * 50th vector) ASSIGNED to IVF cells, computed once per (session,
    * sf dir): dd05's pair search, dd06's explicit-fit variant, and
    * dd14's keep-one all quantize the same corpus with the same k — a
    * shared fit is the same principle as the shingle/banding caches.
    * Columns: (vec_id, vec double[], cell).
    */
  private def ivfAssigned(s: SparkSession, dir: String): DataFrame =
    shingleCache.getOrElseUpdate(System.identityHashCode(s) + "|ivf|" + dir, {
      val e = graft.engine.Graft.widen(table(s, dir, "embeddings"))
      val planted = e.select(col("vec_id"), col("embedding")).unionAll(
        e.where(col("vec_id") % 50 === 0)
          .select((col("vec_id") + 1000000).as("vec_id"), col("embedding")))
        .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
      // one Lloyd step: dedup blocking only needs cells that co-assign
      // identical vectors and keep sizes ~targetCellSize — quantizer
      // quality beyond that buys recall (ANN's concern), not
      // completeness here. k self-sizes from the corpus count so the
      // within-cell pair join stays linear as the corpus grows (at
      // sf0.01/sf0.1 autoK resolves to the historical k=16).
      val m = graft.ann.IvfIndex.fit(planted, "vec_id", "vec",
        k = graft.ann.IvfIndex.autoK(planted.count()), iters = 1)
      graft.ann.IvfIndex.transform(planted, "vec", m)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        .transform(mat)
    })

  private val Marker2 = " graft dup marker two"

  /** corpusNear plus a SECOND near-copy (ids +2e6) of every 20th doc —
    * every planted cluster has 3 members, so cluster formation (dd07) has
    * something transitive to find. The second copies' shingles extend the
    * shared pass instead of recomputing the whole corpus.
    */
  private def tripleShingles(s: SparkSession, dir: String): DataFrame =
    shingleCache.getOrElseUpdate(System.identityHashCode(s) + "|3|" + dir, {
      val extra = docs(s, dir).where(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat(col("text"), lit(Marker2)).as("text"))
      nearShingles(s, dir)
        .unionAll(Dedup.shingleBase(extra, "doc_id", "text", nGram = 3))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        .transform(mat)
    })

  /** The seeded-shuffle packed training spans over [[curated]],
    * computed once per (session, sf dir): pp09 reports them, pp11
    * writes them to shards, pp12 materializes their content — three
    * gates, one identical shuffleOrder + packSpans chain (same sharing
    * principle as [[curated]]).
    */
  private def packedSpans(s: SparkSession, dir: String): DataFrame =
    shingleCache.getOrElseUpdate(System.identityHashCode(s) + "|spans|" + dir, {
      val ordered = graft.operators.Sampling.shuffleOrder(
        curated(s, dir).select(col("doc_id"), col("n_tokens")),
        col("doc_id"), seed = 7L)
      graft.operators.Packing.packSpans(ordered, Seq(col("pos")), "n_tokens", 256L)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        .transform(mat)
    })

  /** The exact-Jaccard near-dup pair set over [[nearShingles]],
    * computed once per (session, sf dir): dd04 reports it and dd08
    * runs keep-one over it — identical PPJoin searches (same sharing
    * principle as [[tripleComponents]]). One small row per pair.
    */
  private def nearPairs(s: SparkSession, dir: String): DataFrame =
    shingleCache.getOrElseUpdate(System.identityHashCode(s) + "|jp|" + dir, {
      Dedup.jaccardPairsFromShingles(nearShingles(s, dir), threshold = 0.5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        .transform(mat)
    })

  /** Connected components over the triple-corpus near-dup pair graph,
    * computed once per (session, sf dir): dd07 reports the labeling and
    * dd19 histograms it — byte-identical pair search + label
    * propagation, so sharing the materialized result is
    * semantics-preserving (same principle as [[curated]]). Output is
    * one small row per id in the edge set.
    */
  private def tripleComponents(s: SparkSession, dir: String): DataFrame =
    shingleCache.getOrElseUpdate(System.identityHashCode(s) + "|cc3|" + dir, {
      Dedup.components(
          Dedup.jaccardPairsFromShingles(tripleShingles(s, dir), threshold = 0.5))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        .transform(mat)
    })

  /** A [[graft.dedup.NearDupIndex]] of the corpus side (originals,
    * ids < 1e6) persisted ONCE per (session, sf dir) into a temp
    * directory: dd15's probe and dd16's incremental filter both read
    * the stored parquet. The build writes the corpus half of the one
    * shared shingle pass out rather than re-shingling.
    */
  private val indexPaths =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private def corpusIndex(s: SparkSession, dir: String): String =
    indexPaths.getOrElseUpdate(System.identityHashCode(s) + "|ndx|" + dir, {
      val path =
        java.nio.file.Files.createTempDirectory("graft_ndindex").toString
      graft.dedup.NearDupIndex.buildFromShingles(
        nearShingles(s, dir).where(col("id") < 1000000), path)
      path
    })

  /** A [[graft.ann.EmbedIndex]] of the ORIGINAL embeddings (no planted
    * copies) persisted once per (session, sf dir) — dd17's probe and
    * dd18's incremental filter read the stored quantizer + vectors.
    */
  private def embedIndex(s: SparkSession, dir: String): String =
    indexPaths.getOrElseUpdate(System.identityHashCode(s) + "|edx|" + dir, {
      val path =
        java.nio.file.Files.createTempDirectory("graft_embindex").toString
      graft.ann.EmbedIndex.build(
        graft.engine.Graft.widen(table(s, dir, "embeddings"))
          .select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", path)
      path
    })

  private val CorpusTripleSql =
    s"""corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, text || '$Marker' AS text
       |  FROM documents WHERE doc_id % 20 = 0
       |  UNION ALL
       |  SELECT doc_id + 2000000 AS doc_id, text || '$Marker2' AS text
       |  FROM documents WHERE doc_id % 20 = 0)""".stripMargin

  // ---- shared SQL fragments (DuckDB) mirroring TextFunctions ----

  private val ToksSql = "regexp_extract_all(text, '[^\\s]+')"

  /** word 3-gram shingles of a token list column named `toks`. */
  /** The quality -> keep-one -> sample CTE chain shared by the pp01 and
    * pp09 oracles (mirrors `Curation.curate` with default Opts; defined
    * ONCE so a curation-semantics change cannot silently update one
    * oracle and not the other). Expects a `corpus` CTE in scope; ends
    * at `samp (doc_id, n_tokens)`. Pre-stripped — safe to interpolate
    * into a stripMargin string.
    */
  private def curateSampSql: String =
    s"""t AS (SELECT doc_id, text, $ToksSql AS toks FROM corpus),
       |m AS (SELECT doc_id, toks,
       |  len(toks)::DOUBLE AS n_tokens,
       |  list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks)::DOUBLE AS avg_len,
       |  len(regexp_extract_all(text, '[0-9]'))::DOUBLE / length(text)::DOUBLE AS digits
       |  FROM t),
       |kept AS (SELECT doc_id, toks FROM m
       |  WHERE least(1.0, n_tokens / 200.0) * 0.5 + (1.0 - digits) * 0.3 +
       |        least(1.0, avg_len / 8.0) * 0.2 >= 0.55),
       |sh AS (SELECT doc_id AS id, ${hashesSql(shinglesSql("toks"))} AS shs
       |       FROM kept),
       |shn AS (SELECT id, shs FROM sh WHERE len(shs) > 0),
       |pairs AS (SELECT a.id AS id_a, b.id AS id_b
       |  FROM shn a JOIN shn b ON a.id < b.id
       |  WHERE len(a.shs) >= len(b.shs) * 0.5 AND len(b.shs) >= len(a.shs) * 0.5
       |    AND len(list_intersect(a.shs, b.shs))::DOUBLE /
       |        len(list_distinct(list_concat(a.shs, b.shs))) >= 0.5),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION ALL SELECT id_b, id_a FROM pairs),
       |reach(id, label) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id),
       |nonrep AS (SELECT id FROM (
       |  SELECT id, MIN(label) AS rep FROM reach GROUP BY id)
       |  WHERE rep != id),
       |keep1 AS (SELECT doc_id, toks FROM kept
       |  WHERE doc_id NOT IN (SELECT id FROM nonrep)),
       |samp AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens
       |  FROM keep1
       |  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
       |        % 10000 < 5000)""".stripMargin

  private def shinglesSql(toks: String): String =
    s"list_distinct(list_transform(range(1, greatest(len($toks) - 1, 1)), " +
      s"i -> array_to_string($toks[i:i+2], ' ')))"

  /** Mirrors TextFunctions.shingleHashes: 60-bit int per shingle from
    * the first 15 md5 hex digits, deduplicated.
    */
  private def hashesSql(shs: String): String =
    s"list_distinct(list_transform($shs, s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)))"

  /** Mirrors TextFunctions.minhashSig: k affine permutations over the
    * low 28 bits of the pre-materialized shingle hashes.
    */
  private def minhashSigSql(hs: String, k: Int): String = {
    import graft.functions.TextFunctions.{minhashA, minhashB, Mask28, MinhashPrime}
    (0 until k).map(j =>
      s"list_min(list_transform($hs, h -> ((h & $Mask28) * ${minhashA(j)} + ${minhashB(j)}) % $MinhashPrime))")
      .mkString("[", ", ", "]")
  }

  /** Mirrors Dedup's 60-bit SimHash over pre-materialized hashes (the
    * shingle hashes carry 60 meaningful bits).
    */
  private def simhashSql(hs: String): String =
    (0 until graft.dedup.Dedup.SimhashBits).map { i =>
      s"(CASE WHEN list_sum(list_transform($hs, h -> ((h >> $i) & 1) * 2 - 1)) >= 0 " +
        s"THEN CAST(${1L << i} AS BIGINT) ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** GPT-2-ish pretokenizer regex, minus the `\s+(?!\S)` lookahead
    * branch (RE2 cannot express it): contraction suffixes, then
    * optionally-space-prefixed letter / digit / other-symbol runs, then
    * whitespace runs. The whitespace class is spelled out because `\s`
    * differs between Java regex (includes \x0B) and RE2 (excludes it) —
    * an engine divergence a vertical tab in the corpus would trigger.
    */
  // private[graft]: PropertySpec pins TextKernels.bpeTokenCount equal
  // to regexp_count over this exact pattern
  private[graft] val BpeIshPattern =
    "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \\t\\n\\r\\f]+|[ \\t\\n\\r\\f]+"

  /** 16-token span planted for dd12's shared-substring detection. */
  private val Quote = "the quick brown fox jumps over the lazy dog " +
    "while the band plays on and on"

  /** Winnowing (k=8, w=4) in DuckDB, mirroring WinnowHash60 incl. the
    * tail rule — assumes a `corpus(doc_id, text)` CTE; yields
    * `x(doc_id, fp)`.
    */
  private val WinnowSql =
    s"""tk AS (SELECT doc_id, $ToksSql AS toks FROM corpus),
       |g AS (SELECT doc_id,
       |    list_transform(range(1, greatest(len(toks) - 7, 0) + 1),
       |      i -> CAST(('0x' || substr(md5(
       |             array_to_string(toks[i:i+7], ' ')), 1, 15)) AS BIGINT))
       |      AS grams
       |  FROM tk),
       |f AS (SELECT doc_id, CASE
       |    WHEN len(grams) >= 4 THEN list_distinct(
       |      list_transform(range(1, len(grams) - 2),
       |        i -> list_min(grams[i:i+3])))
       |    WHEN len(grams) > 0 THEN [list_min(grams)]
       |    ELSE [] END AS fps
       |  FROM g),
       |x AS (SELECT doc_id, unnest(fps) AS fp FROM f)""".stripMargin

  /** Gopher's stopword-presence rule set (Rae et al. 2021 §A1.1). */
  private val GopherStops =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  private val EnMarkers = Seq("the", "a", "and", "of", "to")
  private val DeMarkers = Seq("der", "die", "das", "und", "ist")
  private val FrMarkers = Seq("le", "la", "les", "et", "est")
  private val EsMarkers = Seq("el", "los", "las", "y", "es")
  private val ZhMarkers = Seq("的", "是", "在", "我", "了")

  private def markerSql(toks: String, words: Seq[String]): String =
    s"len(list_filter($toks, t -> t IN (" +
      words.map(w => s"'$w'").mkString(", ") + ")))"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- dedup family ----
    "dd01_exact" -> { (s, dir) =>
      Dedup.exactGroups(corpusExact(s, dir), "doc_id", "text")
        .orderBy("keep_id")
    },

    "dd02_minhash_lsh" -> { (s, dir) =>
      Dedup.minhashPairsFromBanded(nearBanded(s, dir), nearShingles(s, dir))
        .select(col("id_a"), col("id_b"), round(col("jac"), 6).as("jac"))
        .orderBy("id_a", "id_b")
    },

    // Candidates from pigeonhole banding on the fingerprint itself: every
    // pair within the Hamming radius is found — no content-heuristic
    // blocks, no unbounded block sizes. The oracle is the semantic spec
    // (all pairs with hamming <= 6), which the banding must reproduce.
    "dd03_simhash" -> { (s, dir) =>
      Dedup.simhashPairsFromShingles(nearShingles(s, dir), maxHamming = 6)
        .orderBy("id_a", "id_b")
    },

    // Candidates from PPJoin prefix filtering — same contract: the oracle
    // is the complete all-pairs spec, the prefix join must lose nothing.
    "dd04_ngram_jaccard" -> { (s, dir) =>
      nearPairs(s, dir)
        .select(col("id_a"), col("id_b"), round(col("jac"), 6).as("jac"))
        .orderBy("id_a", "id_b")
    },

    // The library's scale-default embedding near-dup path: IVF cells as
    // the candidate blocks (bounded at ~corpus/k rows with no reliance
    // on a metadata column). The oracle is the blocking-free all-pairs
    // spec — the cells must lose nothing at this threshold. Metadata
    // blocking (embeddingPairs with blockCols) stays as an explicit
    // opt-in, unit-tested equal to this path in DedupSpec.
    "dd05_embed_cosine" -> { (s, dir) =>
      Dedup.embeddingPairs(ivfAssigned(s, dir), "vec_id", "vec", Seq("cell"))
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
        .orderBy("id_a", "id_b")
    },

    // Cluster formation: pairs under-delete (near-dup similarity is not
    // transitive, the dedup policy is), so the kept set comes from
    // connected components over the pair graph — min reachable id as the
    // representative. The oracle recomputes reachability with a
    // recursive CTE over the same complete all-pairs spec.
    "dd07_dup_groups" -> { (s, dir) =>
      tripleComponents(s, dir).orderBy("id")
    },

    // The report every dedup run ships: the duplicate-cluster size
    // histogram (how many clusters of 2, of 3, ...) over the same
    // components output as dd07. Two shrinking aggregates on top of
    // the edge-list components — the histogram is at most
    // max-cluster-size rows.
    "dd19_cluster_sizes" -> { (s, dir) =>
      tripleComponents(s, dir)
        .groupBy(col("rep")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
        .orderBy("cluster_size")
    },

    // The end-to-end dedup surface: the corpus AFTER keep-one-per-cluster
    // — every doc whose cluster representative is another doc is dropped,
    // singletons (no near-dup) survive untouched. One anti-join over the
    // components output; the oracle recomputes the kept set from the
    // complete all-pairs spec + recursive reachability.
    "dd08_keep_one" -> { (s, dir) =>
      val reps = Dedup.components(nearPairs(s, dir))
      corpusNear(s, dir).select(col("doc_id"))
        .join(reps, col("doc_id") === col("id"), "left")
        .where(col("rep").isNull || col("rep") === col("doc_id"))
        .select("doc_id")
        .orderBy("doc_id")
    },

    // IVF cells as the dedup blocks: the k-means quantizer bounds every
    // block to ~corpus/k rows, where a pre-existing metadata column
    // (dd05's label) may be missing or skewed at 100 TB. Exact duplicates
    // always co-assign (argmin of identical vectors is deterministic) and
    // at this threshold only exact copies match (max non-copy cosine in
    // the testdata is ~0.51), so the complete blocking-free all-pairs
    // oracle still verifies the blocked result exactly.
    // dd06 deliberately does NOT read the shared ivfAssigned cache:
    // its contract is the explicit user-facing fit -> transform ->
    // pairs composition, paying its own quantizer fit.
    "dd06_embed_ivf" -> { (s, dir) =>
      val e = graft.engine.Graft.widen(table(s, dir, "embeddings"))
      val planted = e.select(col("vec_id"), col("embedding")).unionAll(
        e.where(col("vec_id") % 50 === 0)
          .select((col("vec_id") + 1000000).as("vec_id"), col("embedding")))
        .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
      // one Lloyd step: dedup blocking only needs cells that co-assign
      // identical vectors and keep sizes ~targetCellSize — quantizer
      // quality beyond that buys recall (ANN's concern), not
      // completeness here. k self-sizes from the corpus count so the
      // within-cell pair join stays linear as the corpus grows (at
      // sf0.01/sf0.1 autoK resolves to the historical k=16).
      val m = graft.ann.IvfIndex.fit(planted, "vec_id", "vec",
        k = graft.ann.IvfIndex.autoK(planted.count()), iters = 1)
      val assigned = graft.ann.IvfIndex.transform(planted, "vec", m)
      Dedup.embeddingPairs(assigned, "vec_id", "vec", Seq("cell"))
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
        .orderBy("id_a", "id_b")
    },

    // SEMANTIC keep-one: the dd08 composition over embedding-cosine
    // pairs instead of shingle-Jaccard — IVF-cell candidates →
    // connected components → anti keep-one, the end-to-end semantic
    // dedup surface. The oracle recomputes reachability from the
    // blocking-free all-pairs cosine spec with a recursive CTE, so the
    // cells must lose nothing at this threshold.
    "dd14_semantic_keep_one" -> { (s, dir) =>
      val assigned = ivfAssigned(s, dir)
      val pairs = Dedup.embeddingPairs(assigned, "vec_id", "vec", Seq("cell"))
      val reps = Dedup.components(pairs.select("id_a", "id_b"))
      assigned.select(col("vec_id"))
        .join(reps, col("vec_id") === col("id"), "left")
        .where(col("rep").isNull || col("rep") === col("vec_id"))
        .select("vec_id")
        .orderBy("vec_id")
    },

    // Corpus-level line dedup (boilerplate removal): lines shared by
    // >= 10 distinct docs are dropped, documents rebuilt from the
    // survivors in original order. The corpus plants a footer on every
    // doc and a promo line on every 3rd (both removed) plus a per-doc
    // ref line (kept); the original single-line text is unique per doc.
    // Rebuilt text compared by md5 to keep gate rows compact.
    "dd11_line_dedup" -> { (s, dir) =>
      val corpus = docs(s, dir).select(col("doc_id"), concat(
        col("text"),
        lit("\ngraft boilerplate footer"),
        when(col("doc_id") % 3 === 0, lit("\nsubscribe to graft updates"))
          .otherwise(lit("")),
        lit("\nref "), col("doc_id").cast("string")).as("text"))
      Dedup.dedupLines(corpus, "doc_id", "text", minDocs = 10)
        .select(col("doc_id"), col("n_lines"), col("n_kept"),
          md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    },

    // Shared-span detection via winnowing fingerprints — the scalable
    // analogue of exact-substring dedup: every span of >= w + k - 1 =
    // 11 shared tokens across documents is guaranteed to surface as a
    // shared fingerprint. A 16-token quote planted on every 7th doc is
    // what the gate must find; per-doc shared-fingerprint counts are
    // the dedup/provenance signal. Fingerprinting is row-local; the
    // frequency pass shuffles (id, 60-bit hash) pairs only.
    "dd12_substring_fps" -> { (s, dir) =>
      val corpus = docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" " + Quote)))
          .otherwise(col("text")).as("text"))
      // tracked: rerun-accounting honesty, same as tx08's tf table
      val fp = graft.engine.Caches.track(
        Dedup.winnowFingerprints(corpus, "doc_id", "text", k = 8, w = 4)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val shared = fp.groupBy("fp")
        .agg(countDistinct(col("doc_id")).as("nd"))
        .where(col("nd") >= 2).select("fp")
      val perDoc = fp.groupBy("doc_id").agg(count(lit(1)).as("n_fps"))
      val sharedPerDoc = fp.join(shared, Seq("fp"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      perDoc.join(sharedPerDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_fps"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"),
          (coalesce(col("n_shared"), lit(0L)) > 0).cast("int").as("has_shared"))
        .orderBy("doc_id")
    },

    // The shared-span PAIR surface over winnow fingerprints, with the
    // doc-frequency cap that keeps boilerplate from exploding the pair
    // join quadratically. The planting makes the cap load-bearing:
    // every 50th doc gets a 16-token quote whose EVERY token carries
    // the doc's cluster id (doc_id div 250 → five planted docs per
    // cluster), so quote fingerprints have doc-frequency 5 — kept,
    // yielding C(5,2) pairs per cluster — while anything
    // corpus-frequent would be dropped as dedupLines' job.
    "dd13_span_pairs" -> { (s, dir) =>
      val cid = expr("doc_id div 250").cast("string")
      val quote = array_join(transform(sequence(lit(0), lit(15)),
        i => concat(lit("sq"), i.cast("string"), lit("c"), cid)), " ")
      val corpus = docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 50 === 0, concat(col("text"), lit(" "), quote))
          .otherwise(col("text")).as("text"))
      Dedup.spanPairs(corpus, "doc_id", "text", k = 8, w = 4, maxDocFreq = 10)
        .orderBy("id_a", "id_b")
    },

    // ---- similarity search ----
    "ann01_brute_topk" -> { (s, dir) =>
      val e = table(s, dir, "embeddings")
      val q = e.where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      Knn.bruteTopK(e.where(col("vec_id") =!= 0), "vec_id", "embedding", q, 10)
        .select(col("vec_id"), round(col("sim"), 6).as("sim"))
    },

    "ann02_ivf_topk" -> { (s, dir) =>
      val e = table(s, dir, "embeddings")
      val row = e.where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"), col("label")).head()
      val q = row.getSeq[Double](0)
      val cell = row.getInt(1)
      Knn.ivfTopK(e.where(col("vec_id") =!= 0), "vec_id", "embedding", "label",
          q, Seq(cell), 5)
        .select(col("vec_id"), round(col("sim"), 6).as("sim"))
    },

    // Multi-probe IVF: scanning the 2 most promising cells instead of 1
    // trades a bounded extra scan for recall — the standard lever when
    // the quantizer splits a query's true neighbors across a cell
    // boundary. Probing stays a pruned scan (isin on the cell column =
    // partition pruning on a cell-partitioned table).
    "ann04_ivf_multiprobe" -> { (s, dir) =>
      val e = table(s, dir, "embeddings")
      val row = e.where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"), col("label")).head()
      val q = row.getSeq[Double](0)
      val cell = row.getInt(1)
      Knn.ivfTopK(e.where(col("vec_id") =!= 0), "vec_id", "embedding", "label",
          q, Seq(cell, (cell + 1) % 10), 5)
        .select(col("vec_id"), round(col("sim"), 6).as("sim"))
    },

    // Batch exact top-k: a whole batch of query vectors against the
    // corpus in ONE pass — the retrieval-eval / hard-negative-mining
    // primitive. The query batch broadcasts; per-query top-k runs
    // through the bounded-heap TopKByScore aggregate, so each partition
    // reduces to k pairs per query before the exchange and the n x q
    // similarity matrix never shuffles (a row_number window partitioned
    // by qid would serialize it through #queries reducers).
    "ann06_batch_topk" -> { (s, dir) =>
      val e = table(s, dir, "embeddings")
      val queries = e.where(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Knn.bruteTopKBatch(e.where(col("vec_id") >= 8), "vec_id", "embedding",
          queries, "qid", "qv", 5)
        .select(col("qid"), col("rank"), col("vec_id"),
          round(col("sim"), 6).as("sim"))
        .orderBy("qid", "rank")
    },

    // Product quantization + asymmetric distance search (Jégou et al.
    // 2011) — the memory compression billion-scale ANN runs on: 64 dims
    // → 8 one-byte codes (32x), search = 8 table lookups per row, never
    // decoding. Gate configuration is the oracle-reproducible one
    // (iters = 0: codebook = the first-k vectors' sub-slices, so DuckDB
    // can rebuild it); the TRAINED path (Lloyd steps per subspace) is
    // PqSpec's, with a measured recall floor. Encode is a compiled
    // kernel per subspace; ADC is element_at lookups (plain codegen, no
    // interpreted HOF) + the orderBy/limit heap.
    "ann07_pq_adc" -> { (s, dir) =>
      val e = table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
      val model = graft.ann.Pq.fit(e, "vec_id", "vec", m = 8, k = 4, iters = 0)
      val enc = graft.ann.Pq.encode(e.where(col("vec_id") =!= 0), "vec", model)
      val q = e.where(col("vec_id") === 0).select("vec").head().getSeq[Double](0)
      graft.ann.Pq.adcTopK(enc, "vec_id", model, q, 10)
        .select(col("vec_id"), round(col("adist"), 6).as("adist"))
    },

    // Batch ADC — retrieval-eval over compressed codes: two query
    // vectors answered in ONE codes scan (each query is m codegen
    // table-lookups per row; the bounded heap reduces each partition
    // to <=k pairs per query before the exchange). Same iters=0
    // oracle-reproducible codebook as ann07.
    "ann10_pq_adc_batch" -> { (s, dir) =>
      val e = table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
      val model = graft.ann.Pq.fit(e, "vec_id", "vec", m = 8, k = 4, iters = 0)
      val corpus = e.where(col("vec_id") > 1)
      val enc = graft.ann.Pq.encode(corpus, "vec", model)
      val qs = e.where(col("vec_id") <= 1)
        .select("vec_id", "vec").collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toSeq.sortBy(_._1)
      graft.ann.Pq.adcTopKBatch(enc, "vec_id", model, qs, topK = 5)
        .select(col("qid"), col("rank"), col("vec_id"),
          round(col("adist"), 6).as("adist"))
        .orderBy("qid", "rank")
    },

    // ADC shortlist + exact re-rank (Jégou 2011 §V-C, the production
    // IVFADC refinement): the codes scan picks a 5x-oversampled
    // shortlist by approximate distance, then ONLY the shortlist's raw
    // vectors (50 rows) are fetched for exact cosine ordering — raw-
    // vector work is shortlist-sized, never corpus-sized. Same
    // oracle-reproducible iters=0 codebook as ann07; the oracle
    // reruns the whole two-stage pipeline in SQL.
    "ann09_pq_rerank" -> { (s, dir) =>
      val e = table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
      val model = graft.ann.Pq.fit(e, "vec_id", "vec", m = 8, k = 4, iters = 0)
      val corpus = e.where(col("vec_id") =!= 0)
      val enc = graft.ann.Pq.encode(corpus, "vec", model)
      val q = e.where(col("vec_id") === 0).select("vec").head().getSeq[Double](0)
      graft.ann.Pq.adcRerankTopK(enc, corpus, "vec_id", "vec", model, q,
          topK = 10, oversample = 5)
        .select(col("vec_id"), round(col("sim"), 6).as("sim"))
    },

    // IVF-PQ composition (the billion-scale layout: coarse cells prune
    // the scan, PQ codes compress what remains) — ADC runs over ONLY
    // the probed cells' codes. `label` is the pre-assigned cell as in
    // ann02/ann04; the cell filter is row-local and commutes with the
    // (row-local) encode, so the gate filters first — in production the
    // codes table is written cell-partitioned and the probe is
    // partition pruning. Same oracle-reproducible iters=0 codebook as
    // ann07.
    "ann08_ivf_pq" -> { (s, dir) =>
      val e = table(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("vec"))
      val model = graft.ann.Pq.fit(e, "vec_id", "vec", m = 8, k = 4, iters = 0)
      val row = e.where(col("vec_id") === 0)
        .select(col("vec"), col("label")).head()
      val q = row.getSeq[Double](0)
      val cell = row.getInt(1)
      val probed = e.where(col("vec_id") =!= 0 &&
        col("label").isin(cell, (cell + 1) % 10))
      graft.ann.Pq.adcTopK(
          graft.ann.Pq.encode(probed, "vec", model), "vec_id", model, q, 10)
        .select(col("vec_id"), round(col("adist"), 6).as("adist"))
    },

    // Residual IVFADC (Jégou et al. 2011 §III — the production FAISS
    // IVF-PQ layout): PQ encodes vec − centroid(cell), so the code
    // budget spends its resolution on the residual ball; search ADCs
    // the probed cells' codes with per-cell tables built from the
    // query's residual against each cell (||q−(c+r̂)||² = ||(q−c)−r̂||²).
    // Both quantizers iters=0 so the DuckDB oracle rebuilds everything;
    // the PQ init draws from ids ≥ 4 (ids 0..3 ARE the coarse
    // centroids — their residuals are all-zero, a degenerate init).
    "ann11_ivfpq_residual" -> { (s, dir) =>
      val e = table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
      val coarse = graft.ann.IvfIndex.fit(e, "vec_id", "vec", k = 4, iters = 0)
      val assigned = graft.ann.IvfIndex.transform(e, "vec", coarse)
      val pq = graft.ann.Pq.fitResidual(
        assigned.where(col("vec_id") >= 4), "vec_id", "vec", "cell",
        coarse, m = 8, k = 4, iters = 0)
      val codes = graft.ann.Pq.encodeResidual(
        assigned.where(col("vec_id") =!= 0), "vec_id", "vec", "cell",
        coarse, pq)
      // the query IS coarse centroid 0 (iters=0), so its cell is 0
      val q = e.where(col("vec_id") === 0).head().getSeq[Double](1)
      graft.ann.Pq.ivfAdcResidualTopK(
          codes, "vec_id", coarse, pq, q, Seq(0, 1), 10)
        .select(col("vec_id"), round(col("adist"), 6).as("adist"))
    },

    // Symmetric int8 quantization of the embedding column — the 4x
    // storage/bandwidth reduction a 100 TB embedding store runs on:
    // per-vector scale = max |v| / 127, codes = floor(v * 127 / amax).
    // Row-local transform, no rounding-mode hazards (floor is exact and
    // engine-identical; the gate compares integer code aggregates).
    "ann05_quantize_int8" -> { (s, dir) =>
      // Staged projections on purpose: higher-order lambdas run
      // INTERPRETED per element, so `amax` must be a plain attribute
      // before it appears inside the codes lambda (inlining its
      // array_max tree there re-reduced the vector once PER ELEMENT —
      // O(dim^2)/row), and `codes` must be an attribute before its four
      // consumers (size/sum/min/max — inlined, the transform ran 4x/
      // row). CollapseProject keeps the stages: it never re-inlines a
      // non-cheap expression referenced more than once. Measured at
      // 30x: 8.6s -> ~2s, exponent back to ~linear-in-rows.
      graft.engine.Graft.widen(table(s, dir, "embeddings"))
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .select(col("vec_id"), col("v"),
          array_max(transform(col("v"), x => abs(x))).as("amax"))
        .select(col("vec_id"), col("amax"),
          when(col("amax") === 0.0, transform(col("v"), _ => lit(0L)))
            .otherwise(transform(col("v"),
              x => floor(x * 127.0 / col("amax")).cast("long"))).as("codes"))
        .select(col("vec_id"), round(col("amax"), 6).as("scale"),
          size(col("codes")).as("n_dims"),
          aggregate(col("codes"), lit(0L), (a, v) => a + v).as("code_sum"),
          array_min(col("codes")).as("code_min"),
          array_max(col("codes")).as("code_max"))
        .orderBy("vec_id")
    },

    // Per-label embedding centroids (the cluster-statistics primitive
    // IVF training and mixture audits share): element-wise sum via the
    // native `VectorSum` typed aggregate — ONE aggregate input row per
    // vector (the former posexplode shape multiplied input by dim),
    // map-side combined into one array per label per partition, never a
    // per-label vector collect; the mean + norm then fold dims row-
    // locally per label. Doubles throughout (float partial sums drift
    // between engines).
    "ann03_centroids" -> { (s, dir) =>
      val e = graft.engine.Graft.widen(table(s, dir, "embeddings"))
      val agg = e.groupBy("label")
        .agg(graft.functions.VectorAggregates.vecSum(
            col("embedding").cast("array<double>")).as("vsum"),
          count(lit(1)).as("n_vecs"))
      agg.select(col("label"), col("n_vecs"),
          round(sqrt(aggregate(col("vsum"), lit(0.0),
            (acc, x) => acc + (x / col("n_vecs")) * (x / col("n_vecs")))), 6)
            .as("centroid_norm"))
        .orderBy("label")
    },

    // ---- deterministic sampling (corpus curation) ----
    // Selection is keyed on a content hash, not Spark's seed+partition
    // sampling — the same rows survive any repartitioning or engine, and
    // the oracle can reproduce the exact set.
    "sp01_hash_sample" -> { (s, dir) =>
      graft.operators.Sampling.hashSample(
          docs(s, dir).select(col("doc_id"), col("lang")), col("doc_id"), 0.1)
        .orderBy("doc_id")
    },

    "sp02_stratified" -> { (s, dir) =>
      graft.operators.Sampling.stratifiedTopN(
          docs(s, dir).select(col("doc_id"), col("lang")),
          col("lang"), col("doc_id"), n = 5)
        .orderBy("doc_id")
    },

    // ---- text analysis ----
    // Quality-weighted deterministic downsampling: per-row keep
    // probability = the tx03 quality score, decided by hash bucket —
    // same layout-independence contract as sp01, row-local, no shuffle.
    "sp03_weighted" -> { (s, dir) =>
      graft.operators.Sampling.weightedSample(
          docs(s, dir).select(col("doc_id"), col("text")),
          col("doc_id"), qualityScore(col("text")))
        .select("doc_id")
        .orderBy("doc_id")
    },

    // Cross-modal curation join: documents linked to their embedding
    // rows (doc_id = vec_id at this corpus' layout), kept only when
    // BOTH modalities pass — text quality above threshold AND embedding
    // norm inside the healthy band (degenerate/exploding vectors are a
    // pipeline smell). One equi-join on the shared id; both filters are
    // row-local and push to their own scans.
    "pp05_joint_modality" -> { (s, dir) =>
      val d = docs(s, dir).select(col("doc_id"),
        round(qualityScore(col("text")), 6).as("quality"))
      val e = table(s, dir, "embeddings").select(col("vec_id"),
        round(graft.ann.Vectors.norm(col("embedding").cast("array<double>")), 6)
          .as("vnorm"))
      d.join(e, d("doc_id") === e("vec_id"))
        .where(col("quality") >= 0.5 && col("vnorm").between(0.5, 20.0))
        .select(col("doc_id"), col("quality"), col("vnorm"))
        .orderBy("doc_id")
    },

    // Deterministic train/val/test assignment: each doc's split is a
    // pure function of its content hash (80/10/10) — layout- and
    // engine-independent like every sampler here, so re-running the
    // pipeline never migrates a doc across splits (the leakage hazard
    // seed-based splitting has). Row-local, no shuffle.
    "sp04_splits" -> { (s, dir) =>
      val b = pmod(graft.operators.Sampling.keyHash(col("doc_id")), lit(10))
      docs(s, dir).select(col("doc_id"),
        when(b < 8, "train").when(b < 9, "val").otherwise("test").as("split"))
        .orderBy("doc_id")
    },

    // Epoch upsampling: sources with less material repeat more (epochs
    // = 1 + floor(20 * deficit vs the largest source), capped at 3) —
    // the mixture lever that pairs with pp03's downsampling. The policy
    // inputs are exact integer char masses, so both engines derive
    // bit-identical factors. Repeat factors come from the
    // metadata-sized source table and broadcast back; the copies are a
    // row-local explode(sequence), so output volume is exactly the
    // epoch-weighted budget and nothing shuffles by source.
    "pp04_epochs" -> { (s, dir) =>
      val counts = docs(s, dir).groupBy("source")
        .agg(sum("n_chars").as("chars"))
      val tot = counts.agg(max("chars").as("maxc"))
      val reps = counts.crossJoin(broadcast(tot))
        .select(col("source"),
          least(lit(3L), lit(1L) +
            floor((col("maxc") - col("chars")) * 20.0 / col("maxc"))
              .cast("long")).as("epochs"))
      docs(s, dir).select(col("doc_id"), col("source"))
        .join(broadcast(reps), Seq("source"))
        .select(col("doc_id"), col("source"),
          explode(sequence(lit(1L), col("epochs"))).as("epoch"))
        .orderBy("doc_id", "epoch")
    },

    "tx01_tokens" -> { (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), tokenCount(col("text")).as("n_tokens"))
        .orderBy("doc_id")
    },

    "tx02_langid" -> { (s, dir) =>
      // ONE compiled tokenize pass scores all five marker sets
      // (PropertySpec pins the kernel equal to the per-set filters)
      val h = graft.functions.TextKernels.markerHits(col("text"),
        Seq(EnMarkers, DeMarkers, FrMarkers, EsMarkers, ZhMarkers))
      val Seq(sEn, sDe, sFr, sEs, sZh) =
        (0 until 5).map(i => element_at(h, i + 1))
      // argmax with fixed preference order on ties — mirrors the oracle's
      // CASE chain exactly
      val pred =
        when(sEn >= sDe && sEn >= sFr && sEn >= sEs && sEn >= sZh, "en")
          .when(sDe >= sFr && sDe >= sEs && sDe >= sZh, "de")
          .when(sFr >= sEs && sFr >= sZh, "fr")
          .when(sEs >= sZh, "es")
          .otherwise("zh")
      docs(s, dir)
        .select(col("doc_id"), pred.as("lang_pred"))
        .orderBy("doc_id")
    },

    "tx03_quality" -> { (s, dir) =>
      val st = graft.functions.TextKernels.tokenStats(col("text"))
      val nTok = st.getField("n_tokens").cast("double")
      val avgLen = st.getField("sum_token_len").cast("double") / nTok
      val digits = size(regexp_extract_all(col("text"), lit("[0-9]"), lit(0)))
        .cast("double") / length(col("text")).cast("double")
      val stop = element_at(graft.functions.TextKernels.markerHits(
        col("text"), Seq(EnMarkers)), 1).cast("double") / nTok
      val score = qualityScore(col("text"))
      docs(s, dir).select(
        col("doc_id"),
        st.getField("n_tokens").as("n_tokens"),
        round(avgLen, 6).as("avg_token_len"),
        round(stop, 6).as("stopword_ratio"),
        round(digits, 6).as("digit_ratio"),
        round(score, 6).as("quality"))
        .orderBy("doc_id")
    },

    // Winnowing-lite fingerprint = min of the document's 60-bit shingle
    // hashes — the SAME hashes dd02-dd04 run on, so the md5 pass is paid
    // once for the whole text-similarity family (the originals' shingles
    // are the id < 1e6 slice of the planted corpus). Docs too short to
    // shingle fall back to a 60-bit hash of the whole text.
    "tx04_fingerprint" -> { (s, dir) =>
      val fps = nearShingles(s, dir).where(col("id") < 1000000)
        .select(col("id").as("doc_id"), array_min(col("hs")).as("minh"))
      docs(s, dir).select(col("doc_id"), col("text"))
        .join(fps, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("minh"),
            conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long")).as("fp"))
        .orderBy("doc_id")
    },

    // TF-IDF relevance: per-document top-3 terms. The doc-frequency
    // table is vocabulary-sized (equi-joined on term — broadcast when
    // the vocab fits, shuffle otherwise), term counts are map-side
    // combined, and the per-doc top-k window partitions by doc_id — no
    // global movement beyond the term shuffle. Ranking is integer-only
    // (tf desc, df asc, term asc) so engines can't disagree on float
    // ties; the tf*ln(N/df) score itself is a rounded output column.
    "tx08_tfidf" -> { (s, dir) =>
      val d = docs(s, dir)
      // persisted: tf feeds both the doc-frequency aggregate and the
      // join back — without it the tokenize+term shuffle runs twice
      // (self-join sides share no exchange under AQE; measured cliff)
      // tracked so a bench rerun recomputes instead of silently reading
      // this gate's first-pass cache (rerun-accounting honesty)
      val tf = graft.engine.Caches.track(
        d.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = d.agg(count(lit(1)).as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id")
        .orderBy(col("tf").desc, col("df").asc, col("term").asc)
      tf.join(dfreq, "term" :: Nil)
        .crossJoin(n)
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"), col("rank"),
          round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6)
            .as("score"))
        .orderBy("doc_id", "rank")
    },

    // Train/eval contamination audit: fraction of each training doc's
    // shingles that appear anywhere in the held-out set (every 25th doc
    // plays the benchmark). The eval shingle universe is the small side
    // — broadcast in the typical corpus≫benchmark regime, a plain hash
    // equi-join otherwise; per-doc hit counts are map-side combined.
    // Counts are integers, reusing the one corpus-wide shingle pass.
    "dd09_contamination" -> { (s, dir) =>
      val sh = nearShingles(s, dir).where(col("id") < 1000000)
      val evalHashes = sh.where(col("id") % 25 === 0)
        .select(explode(col("hs")).as("h")).distinct()
      val train = sh.where(col("id") % 25 =!= 0)
      val hits = train.select(col("id"), explode(col("hs")).as("h"))
        .join(evalHashes, "h" :: Nil)
        .groupBy("id").agg(count(lit(1)).as("n_hit"))
      train.select(col("id").as("doc_id"), size(col("hs")).as("n_shingles"))
        .join(hits.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          round(coalesce(col("n_hit"), lit(0L)).cast("double") /
            col("n_shingles"), 6).as("contamination"))
        .orderBy("doc_id")
    },

    // Cross-corpus near-dup search: the planted copies (ids >= 1e6)
    // play the held-out probe set, searched against the originals — the
    // near-dup decontamination primitive (dd09 is shingle-overlap;
    // this finds whole near-duplicate documents across datasets). Both
    // sides read the one shared shingle pass.
    "dd10_cross_neardup" -> { (s, dir) =>
      val sh = nearShingles(s, dir)
      val banded = nearBanded(s, dir)
      Dedup.minhashPairsAcrossFromBanded(
          banded.where(col("id") >= 1000000),
          banded.where(col("id") < 1000000),
          sh.where(col("id") >= 1000000), sh.where(col("id") < 1000000))
        .select(col("probe_id"), col("corpus_id"),
          round(col("jac"), 6).as("jac"))
        .orderBy("probe_id", "corpus_id")
    },

    // dd10's search against a PERSISTED index: the corpus' shingle/band
    // tables are written to parquet once (the build is inside the timed
    // gate) and the probe batch joins the STORED tables — the
    // incremental form of cross-corpus dedup. At 100 TB the corpus pass
    // is paid once at build, appends cost only the delta, and a probe
    // scans (never shuffles) the index. Persistence is semantically
    // invisible, so the result — and the oracle SQL — are exactly
    // dd10's.
    "dd15_index_probe" -> { (s, dir) =>
      graft.dedup.NearDupIndex.probePairs(
          corpusNear(s, dir).where(col("doc_id") >= 1000000)
            .select(col("doc_id"), col("text")),
          "doc_id", "text", corpusIndex(s, dir))
        .select(col("probe_id"), col("corpus_id"),
          round(col("jac"), 6).as("jac"))
        .orderBy("probe_id", "corpus_id")
    },

    // The incremental-ingest filter over the same stored index: a delta
    // of near-copies (ids +1e6, all of which duplicate indexed docs)
    // plus synthetic novel docs (ids +3e6) is reduced to what it
    // actually contributes — the novel docs survive, the near-copies
    // drop. This is the daily-batch entry point: dedupAgainst(delta)
    // then append(survivors).
    "dd16_index_dedup" -> { (s, dir) =>
      val novel = docs(s, dir).where(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 3000000).as("doc_id"),
          concat_ws(" ", lit("novel"), lit("doc"),
            col("doc_id").cast("string"), lit("alpha"), lit("beta"),
            lit("gamma")).as("text"))
      val delta = corpusNear(s, dir).where(col("doc_id") >= 1000000)
        .select(col("doc_id"), col("text")).unionAll(novel)
      graft.dedup.NearDupIndex
        .dedupAgainst(delta, "doc_id", "text", corpusIndex(s, dir))
        .select(col("doc_id"), md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    },

    // The embedding-side persisted index (EmbedIndex): quantizer +
    // cell-assigned vectors stored once; a probe batch assigns itself
    // row-locally with the STORED centroids and equi-joins the stored
    // table on cell. Persistence AND the IVF blocking must both be
    // invisible at this threshold, so the oracle is the blocking-free
    // probe x corpus all-pairs cosine spec (dd05's contract,
    // incremental form).
    "dd17_embed_index_probe" -> { (s, dir) =>
      val probe = graft.engine.Graft.widen(table(s, dir, "embeddings"))
        .where(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
      graft.ann.EmbedIndex
        .probePairs(probe, "vec_id", "embedding", embedIndex(s, dir))
        .select(col("probe_id"), col("corpus_id"),
          round(col("cos"), 6).as("cos"))
        .orderBy("probe_id", "corpus_id")
    },

    // The incremental semantic-ingest filter over the same stored
    // index: a delta of exact copies (+1e6, all of which duplicate
    // indexed vectors) plus novel vectors (+3e6, negations — cosine -1
    // to their source, far from everything) reduces to what it
    // contributes: the novel rows survive, the copies drop.
    "dd18_embed_index_dedup" -> { (s, dir) =>
      val e = graft.engine.Graft.widen(table(s, dir, "embeddings"))
      val probe = e.where(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"),
          col("embedding").cast("array<double>").as("embedding"))
        .unionAll(e.where(col("vec_id") % 50 === 10)
          .select((col("vec_id") + 3000000).as("vec_id"),
            transform(col("embedding").cast("array<double>"), x => -x)
              .as("embedding")))
      graft.ann.EmbedIndex
        .dedupAgainst(probe, "vec_id", "embedding", embedIndex(s, dir))
        .select(col("vec_id"))
        .orderBy("vec_id")
    },

    // The end-to-end curation pipeline in ONE composed query — quality
    // gate -> near-dup keep-one (complete prefix-filter candidates +
    // connected components) -> deterministic hash sample -> sequence
    // packing — emitting the packed training manifest (doc, tokens,
    // global offset, bin). Every stage is an operator verified alone
    // elsewhere; this gate proves they compose, against one SQL oracle
    // that rebuilds the whole pipeline with a recursive CTE.
    "pp01_curation" -> { (s, dir) =>
      curated(s, dir)
        .select(col("doc_id"), col("n_tokens"), col("gcum"), col("bin"))
        .orderBy("doc_id")
    },

    // The capstone composition: curated keep-one corpus -> seeded
    // training-order shuffle -> writer-ready packed spans. One gate
    // pins the whole "corpus in, ordered context blocks out" path:
    // curate's kept/sampled set (pp01's machinery, shared shingle
    // pass), a deterministic permutation of it (pp07's two-pass rank),
    // and the (doc, block) span rows in THAT order (sq02's explode).
    "pp09_training_order" -> { (s, dir) =>
      packedSpans(s, dir)
        .select(col("doc_id"), col("pos"), col("bin"),
          col("span_start"), col("span_len"))
        .orderBy("doc_id", "bin")
    },

    // The training-file writer round trip: pp09's span rows are
    // actually WRITTEN to N=8 shard directories (deterministic
    // contiguous ranges of the training stream — ShardWriter, shard
    // boundaries a pure function of the data) and READ BACK; the gate
    // compares the read-back rows + their (shard, offset) addresses
    // against the oracle's re-derivation. Equality proves the
    // round-trip reproduces the training order row-for-row,
    // independent of file-split configuration (maxRecordsPerFile, AQE
    // coalescing) — the "corpus in, training files out" last mile.
    "pp11_shard_writeback" -> { (s, dir) =>
      val spans = packedSpans(s, dir)
        .select(col("doc_id"), col("pos"), col("bin"),
          col("span_start"), col("span_len"))
      val out = s"${sys.props("java.io.tmpdir")}/graft_pp11_" +
        java.lang.Integer.toHexString(dir.hashCode) + s"_$ProcTag"
      graft.operators.ShardWriter
        .writeSharded(spans, Seq(col("bin"), col("pos")), 8, out,
          format = ShardFormat)
        .select(col("doc_id"), col("pos"), col("bin"), col("span_start"),
          col("span_len"), col("shard").cast("long").as("shard"),
          col("offset"))
        .orderBy("offset")
    },

    // The CONTENT-carrying writer round trip: pp11 proves the span
    // ADDRESSES survive the shard write; pp12 proves the span TEXT
    // does — `Packing.spanContent` slices each block's token range
    // back out of the source documents, the shards carry the actual
    // training text, and the oracle re-derives every block's content
    // with DuckDB list slicing. Concatenating content in (shard,
    // offset) order IS the packed token stream.
    "pp12_span_content" -> { (s, dir) =>
      val spans = packedSpans(s, dir)
      val content = graft.operators.Packing.spanContent(
        spans, corpusNear(s, dir), "doc_id", "text", tokens)
      val out = s"${sys.props("java.io.tmpdir")}/graft_pp12_" +
        java.lang.Integer.toHexString(dir.hashCode) + s"_$ProcTag"
      graft.operators.ShardWriter
        .writeSharded(
          content.select(col("doc_id"), col("pos"), col("bin"),
            col("span_start"), col("span_len"), col("content")),
          Seq(col("bin"), col("pos")), 8, out, format = ShardFormat)
        .select(col("doc_id"), col("bin"), col("content"),
          col("shard").cast("long").as("shard"), col("offset"))
        .orderBy("offset")
    },

    // Per-source token-budget capping: each source contributes documents
    // in doc_id order until its token budget is exhausted (the corpus
    // mixture-control step before packing). The per-group prefix sum is
    // RangeRank.groupedCumSum — a Window.partitionBy(source) here would
    // cap parallelism at the SOURCE CARDINALITY (the q32 cliff, and
    // sources are a handful at any corpus size); the grouped two-pass
    // lets one source span many partitions. PlanAuditSpec pins the shape.
    "pp02_token_budget" -> { (s, dir) =>
      // persisted NARROW (24B/row): groupedCumSum's range exchange
      // samples boundaries by executing its child a second time — a
      // cache of (id, source, count) makes the tokenizer kernel run
      // once instead of twice (tracked; spills at scale)
      val t = graft.engine.Caches.track(docs(s, dir)
        .select(col("doc_id"), col("source"),
          tokenCount(col("text")).cast("long").as("n_tokens"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      graft.operators.RangeRank
        .groupedCumSum(t, Seq("source"), Seq(col("doc_id")), "n_tokens")
        .where(col("gcum") + col("n_tokens") <= 800)
        .select(col("doc_id"), col("source"), col("n_tokens"), col("gcum"))
        .orderBy("doc_id")
    },

    // Temperature-weighted domain mixing: each source's take count is
    // ∝ sqrt(its char mass) — the α=0.5 dampening that keeps big
    // sources from drowning small ones — applied to a 40%-of-corpus
    // target. The allocation math runs on the metadata-sized source
    // table and broadcasts back; the per-source rank is groupedCumSum
    // with weight 1 (gcum = rank-1), ordered by content hash — so the
    // selection is layout-independent AND parallelism is independent of
    // source cardinality (sources are a handful at any corpus size; a
    // Window.partitionBy(source) here is the q32 cliff).
    "pp03_domain_mix" -> { (s, dir) =>
      val d = docs(s, dir).select(col("doc_id"), col("source"), col("n_chars"))
      val w = d.groupBy("source")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"))
        .select(col("source"), col("n"),
          sqrt(col("chars").cast("double")).as("sw"))
      val tot = w.agg(sum("n").as("tn"), sum("sw").as("tsw"))
      val take = w.crossJoin(broadcast(tot))
        .select(col("source"),
          floor(floor(col("tn") * 0.4) * col("sw") / col("tsw"))
            .cast("long").as("n_take"))
      val ranked = graft.operators.RangeRank.groupedCumSum(
        d.select(col("doc_id"), col("source"), lit(1L).as("one"),
          graft.operators.Sampling.keyHash(col("doc_id")).as("h")),
        Seq("source"), Seq(col("h"), col("doc_id")), "one")
      ranked.join(broadcast(take), Seq("source"))
        .where(col("gcum") < col("n_take"))
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    },

    // PII scrubbing: emails / IPv4s / phone numbers planted into every
    // 10th doc (deterministically, mirrored in the oracle) are redacted
    // by RE2-safe regex replacement — row-local column math, no shuffle.
    // Scrubbed text compared by md5; redaction counts are the audit
    // signal a pipeline logs.
    "tx11_pii_scrub" -> { (s, dir) =>
      val planted = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com via 10.0.0."), (col("doc_id") % 256).cast("string"),
        lit(" or 555-867-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      val corpus = docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 10 === 0, planted)
          .otherwise(col("text")).as("text"))
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ip = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
      val phone = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
      val scrubbed = regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), lit(email), lit("<EMAIL>")),
          lit(ip), lit("<IP>")),
        lit(phone), lit("<PHONE>"))
      corpus.select(col("doc_id"),
        (regexp_count(col("text"), lit(email)) +
          regexp_count(col("text"), lit(ip)) +
          regexp_count(col("text"), lit(phone))).cast("int").as("n_redacted"),
        md5(scrubbed).as("scrub_md5"))
        .orderBy("doc_id")
    },

    // Token-distribution Shannon entropy per document — the
    // compressibility / repetition signal (low entropy = degenerate or
    // templated text). Two map-side-combined aggregates: (doc, token)
    // counts then the per-doc -Σ p·log2 p reduction; the shuffle
    // carries token counts, never text.
    "tx13_token_entropy" -> { (s, dir) =>
      val tok = docs(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      val counts = tok.groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      val tot = counts.groupBy("doc_id")
        .agg(sum("c").as("n"), count(lit(1)).as("n_distinct"))
      counts.join(tot, Seq("doc_id"))
        .groupBy(col("doc_id"), col("n"), col("n_distinct"))
        // + 0.0 normalizes the IEEE -0.0 a single-distinct-token doc
        // would produce (entropy = -sum(0)) — both engines' ROUND
        // preserve the sign bit, and the driver's hash compare would
        // see -0.0 vs 0.0 as different values
        .agg(round(-sum((col("c") / col("n")) * log2(col("c") / col("n")))
            + 0.0, 6)
          .as("entropy_bits"))
        .select(col("doc_id"), col("n").as("n_tokens"), col("n_distinct"),
          col("entropy_bits"))
        .orderBy("doc_id")
    },

    // Model-based quality filtering as column math: a logistic
    // classifier over row-local text features (the fastText/CCNet-style
    // filtering step), scored entirely inside codegen — weights are
    // fixed literals standing in for trained ones; inference at 100 TB
    // is then a pure scan, no UDF, no model server. The keep decision
    // compares z against 0 (continuous), never a rounded probability.
    "tx14_quality_logreg" -> { (s, dir) =>
      val st = graft.functions.TextKernels.tokenStats(col("text"))
      val n = st.getField("n_tokens").cast("double")
      val f1 = least(lit(1.0), n / 200.0)
      val f2 = st.getField("n_alpha_tokens").cast("double") / n
      val f3 = element_at(graft.functions.TextKernels.markerHits(
        col("text"), Seq(EnMarkers)), 1).cast("double") / n
      val f4 = size(regexp_extract_all(col("text"), lit("[0-9]"), lit(0)))
        .cast("double") / length(col("text")).cast("double")
      val z = f1 * 2.0 + f2 * 1.5 + f3 * 3.0 + f4 * -4.0 - 1.2
      docs(s, dir).where(n > 0).select(col("doc_id"),
        round(lit(1.0) / (lit(1.0) + exp(-z)), 6).as("p_keep"),
        (z >= 0).cast("int").as("keep"))
        .orderBy("doc_id")
    },

    // The FIT side of tx14's scorer: full-batch logistic-regression
    // gradient descent where each iteration evaluates the current
    // weights as plan literals (row-local sigmoid, whole-stage
    // codegen) and reduces to a (dim+2)-scalar map-side-combined
    // aggregate — at 100 TB training is `iters` scans, nothing
    // collected but the weight vector. Features are tx14's, the label
    // a deterministic length rule; the gate pins the entire
    // 3-iteration trajectory (weights + pre-update log-loss) against
    // a chained-CTE oracle.
    "tx15_logreg_fit" -> { (s, dir) =>
      import s.implicits._
      val st = graft.functions.TextKernels.tokenStats(col("text"))
      val n = st.getField("n_tokens").cast("double")
      val f1 = least(lit(1.0), n / 200.0)
      val f2 = st.getField("n_alpha_tokens").cast("double") / n
      val f3 = element_at(graft.functions.TextKernels.markerHits(
        col("text"), Seq(EnMarkers)), 1).cast("double") / n
      val f4 = size(regexp_extract_all(col("text"), lit("[0-9]"), lit(0)))
        .cast("double") / length(col("text")).cast("double")
      val feats = graft.engine.Caches.track(docs(s, dir).where(n > 0)
        .select(f1.as("f1"), f2.as("f2"), f3.as("f3"), f4.as("f4"),
          (length(col("text")) > 300).cast("double").as("y"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val steps = graft.operators.Train.fitLogreg(
        feats, Seq("f1", "f2", "f3", "f4"), "y", iters = 3, lr = 1.0)
      steps.map(x => (x.iter, x.bias, x.weights(0), x.weights(1),
          x.weights(2), x.weights(3), x.lossPre))
        .toDF("iter", "bias", "w1", "w2", "w3", "w4", "loss_pre")
        .select(col("iter"), round(col("bias"), 6).as("bias"),
          round(col("w1"), 6).as("w1"), round(col("w2"), 6).as("w2"),
          round(col("w3"), 6).as("w3"), round(col("w4"), 6).as("w4"),
          round(col("loss_pre"), 6).as("loss_pre"))
        .orderBy("iter")
    },

    // LM-based filtering, the third classic quality filter (CCNet
    // trains a small LM and drops perplexity outliers): an in-engine
    // bigram model with add-1 smoothing, trained on the corpus by one
    // map-side-combined count and applied by a bigram-keyed join +
    // per-doc average. The model is vocabulary-bound, the corpus is
    // never collected; V rides the plan as a literal.
    "tx16_bigram_ppl" -> { (s, dir) =>
      // pre-filter on the cheap token-count kernel: a filter on
      // size(toks) pushes below the Project and tokenizes every row
      // TWICE (no cross-operator subexpression elimination); the
      // count test is equivalent to size(tokens(text)) >= 2
      val d = docs(s, dir)
        .where(graft.functions.TextKernels.tokenCount(col("text")) >= 2)
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokens(col("text")).as("toks"))
      graft.operators.NgramLm.fitScorePerplexity(d, "doc_id", "toks")
        .select(col("doc_id"), col("n_bigrams"),
          round(col("ppl"), 6).as("ppl"))
        .orderBy("doc_id")
    },

    // Stupid Backoff trigram scoring (Brants et al. 2007) — the LM
    // smoothing DESIGNED for distributed counting: three raw count
    // tables, no discounting state. The probe appends each doc's
    // opening bigram plus a novel token: the original positions hit
    // the seen-trigram branch, the appended (last, t1, t2) position
    // usually backs off to the seen (t1, t2) bigram (it can be a real
    // corpus trigram for periodic text — the oracle agrees either
    // way; NgramLmSpec pins each branch by hand), and the novel token
    // always lands on the unigram floor.
    "tx19_stupid_backoff" -> { (s, dir) =>
      // cheap token-count pre-filter (not size(toks) — see tx16): the
      // persist then materializes with ONE tokenize per row, not two
      val d = graft.engine.Caches.track(docs(s, dir)
        .where(graft.functions.TextKernels.tokenCount(col("text")) >= 3)
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokens(col("text")).as("toks"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val m = graft.operators.NgramLm.fitTrigram(d, "toks")
      val probe = d.select(col("doc_id"),
        concat(col("toks"), slice(col("toks"), 1, 2),
          array(lit("graftzz"))).as("toks"))
      graft.operators.NgramLm.stupidBackoff(probe, "doc_id", "toks", m)
        .select(col("doc_id"), col("n_trigrams"),
          round(col("mean_log_s"), 6).as("mean_log_s"))
        .orderBy("doc_id")
    },

    // Vocabulary coverage / OOV-rate audit — what a tokenizer change is
    // judged by. The vocab is the corpus top-k tokens (count desc,
    // token asc — deterministic under ties, both engines); per-doc OOV
    // counts come from a broadcast anti-membership join, so the corpus
    // shuffles once on doc_id and the vocab is plan-literal-sized.
    // k = 16 of the synthetic corpus's 31 token types, so the gate has
    // real OOV mass to check (a production call passes k = 32000).
    "tx20_vocab_coverage" -> { (s, dir) =>
      // persisted NARROW — the (doc_id, toks array) projection BEFORE
      // explode: the vocabulary aggregate and the membership-join probe
      // side each explode from the cached arrays, so the tokenizer
      // kernel runs once while the cache stays one row per doc. (r15
      // persisted the exploded one-row-per-token table instead — wider
      // than the corpus; cache write+read cost a measured 21% on the
      // gate. Tracked for rerun honesty.)
      val tokArr = graft.engine.Caches.track(docs(s, dir)
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokens(col("text")).as("toks"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val toks = tokArr.select(col("doc_id"),
        explode(col("toks")).as("tok"))
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok").asc).limit(16)
        .select(col("tok"), lit(1).as("in_v"))
      toks.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          count(when(col("in_v").isNull, 1)).as("n_oov"))
        .withColumn("oov_rate",
          round(col("n_oov").cast("double") / col("n_tokens"), 6))
        .orderBy("doc_id")
    },

    // Good-Turing count-of-counts over the TRIGRAM type table (the
    // sparse-count regime GT smoothing exists for — this corpus's 16k
    // trigram types are mostly singletons): N_r = how many types occur
    // exactly r times, and the adjusted count r* = (r+1) N_{r+1} / N_r
    // — the foundation of GT/Katz smoothing and the standard
    // singleton-mass health check. Two type-bound aggregates; the lead
    // window orders a table of at most max-frequency rows
    // (metadata-sized).
    "tx21_count_of_counts" -> { (s, dir) =>
      val t = graft.functions.TextFunctions.tokens(col("text"))
      val len = greatest(size(t) - 2, lit(0))
      val freqs = docs(s, dir)
        .select(explode(arrays_zip(
          slice(t, lit(1), len).as("w1"),
          slice(t, lit(2), len).as("w2"),
          slice(t, lit(3), len).as("w3"))).as("tg"))
        .select(concat_ws(" ", col("tg.w1"), col("tg.w2"), col("tg.w3"))
          .as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
      val nr = freqs.groupBy(col("c").as("r"))
        .agg(count(lit(1)).as("n_r"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("r"))
      nr.withColumn("_next",
          when(lead(col("r"), 1).over(w) === col("r") + 1,
            lead(col("n_r"), 1).over(w)))
        .where(col("r") <= 5)
        .select(col("r"), col("n_r"),
          round((col("r") + 1) * col("_next").cast("double") / col("n_r"), 6)
            .as("r_star"))
        .orderBy("r")
    },

    // WITHIN-document repeated-line removal (C4/Gopher boilerplate
    // rule) — first occurrence kept, order preserved, as a row-local
    // fold (no shuffle; cross-document frequency is dd11's job). The
    // corpus plants a line twice plus a doc-unique line.
    "tx17_line_dedup_within" -> { (s, dir) =>
      val withDups = docs(s, dir).select(col("doc_id"),
        concat(col("text"), lit("\ngraft dup line\nunique "),
          col("doc_id").cast("string"),
          lit("\ngraft dup line\ngraft dup line")).as("text"))
      val cleaned = graft.functions.TextFunctions.dedupLinesWithin(col("text"))
      withDups.select(col("doc_id"),
        size(split(col("text"), "\n")).cast("long").as("n_lines"),
        size(split(cleaned, "\n")).cast("long").as("n_kept"),
        md5(cleaned).as("text_md5"))
        .orderBy("doc_id")
    },

    // Tag-stripping text extraction (the format-extraction step of an
    // HTML crawl pipeline): drop tags, decode the five predefined
    // entities one level (amp last), collapse whitespace — pure
    // row-local column math, so extraction at 100 TB is a scan.
    "tx18_html_strip" -> { (s, dir) =>
      val page = concat(lit("<html><head><title>d"),
        col("doc_id").cast("string"),
        lit("</title></head><body><h1>T&amp;C</h1><p>"), col("text"),
        lit("</p><a href=\"x?a=1&amp;b=2\">link &lt;here&gt;</a>" +
          "&#39;q&quot; </body></html>"))
      val t = graft.functions.TextFunctions.stripHtml(page)
      docs(s, dir).select(col("doc_id"), md5(t).as("text_md5"),
        length(t).cast("long").as("n_chars"))
        .orderBy("doc_id")
    },

    // Canonical text normalization — the pre-dedup key transform
    // (lowercase + a FIXED accent-fold table + whitespace collapse).
    // The fold table is a literal so the normalized bytes are
    // engine- and version-independent (ICU locale folding would make
    // dedup keys drift across engines); the gate exercises it on a
    // mixed-case whitespace-mangled wrapper of the corpus text, the
    // spec pins the accent rows.
    "tx22_normalize" -> { (s, dir) =>
      val mangled = concat(upper(substring(col("text"), 1, 40)),
        lit("  \t"), col("text"), lit(" \n "))
      val t = graft.functions.TextFunctions.normalizeText(mangled)
      docs(s, dir).select(col("doc_id"), md5(t).as("norm_md5"),
        length(t).cast("long").as("n_chars"))
        .orderBy("doc_id")
    },

    // DSIR-style data selection (Xie et al. 2023) reduced to engine
    // primitives: importance log-weight = mean ln P_target - mean ln
    // P_raw under two bigram LMs — the target model trained on a
    // 2-source slice, the raw model on the whole corpus. Both models
    // are vocab-bound; every per-doc number is a map-side-combined
    // average; the actual resampling step is sp03's weighted sampler
    // on exp(logw). Non-target documents exercise the OOV smoothing
    // paths for real.
    "pp06_dsir_logratio" -> { (s, dir) =>
      // cheap token-count pre-filter (not size(toks) — see tx16)
      val d = docs(s, dir)
        .where(graft.functions.TextKernels.tokenCount(col("text")) >= 2)
        .select(col("doc_id"), col("source"),
          graft.functions.TextFunctions.tokens(col("text")).as("toks"))
      graft.operators.NgramLm.dsirLogRatio(d, "doc_id", "toks",
          col("source").isin("src0", "src1"))
        .select(col("doc_id"), round(col("dsir_logw"), 6).as("dsir_logw"))
        .orderBy("doc_id")
    },

    // Deterministic seeded corpus shuffle — the training-order
    // permutation every run needs to reproduce. Position comes from the
    // two-pass RangeRank (global-order work touches #partitions rows);
    // the oracle's ROW_NUMBER over the same (seed:key) hash must agree
    // rank-for-rank, which also pins that the permutation is a pure
    // function of (seed, key), never of layout.
    "pp07_shuffle_order" -> { (s, dir) =>
      graft.operators.Sampling.shuffleOrder(
          docs(s, dir).select(col("doc_id")), col("doc_id"), seed = 42L)
        .orderBy("doc_id")
    },

    // Temperature-flattened domain mixture (tau = 0.5): small sources
    // upweighted toward n^tau shares, rates clamped at 1, membership
    // decided by the stable hash bucket — one metadata-sized rate
    // table, then a row-local filter. The floor(rate*buckets) cutoff
    // sits on a double derived from a cross-domain SUM(pow), the same
    // engine-order boundary class pp03 accepts (flip probability
    // ~2^-40 per domain; the decimal-cast hardening in the gotchas
    // note applies if it ever fires).
    "pp08_temperature_mix" -> { (s, dir) =>
      graft.operators.Sampling.temperatureMix(
          docs(s, dir).select(col("doc_id"), col("source")),
          col("source"), col("doc_id"), tau = 0.5, targetFraction = 0.3)
        .orderBy("doc_id")
    },

    // UniMax epoch-capped uniform mixing (Chung et al. 2023) — the
    // published fairer alternative to pp08's temperature heuristic:
    // budget splits uniformly across languages, no language repeats
    // past maxEpochs. At this corpus the four tail languages saturate
    // at exactly 2 epochs and `en` lands at a fractional rate — both
    // water-filling regimes in one gate. Epochs > 1 REPLICATE with a
    // 1-based epoch index; the fractional copy is the stable hash test,
    // so the realized corpus is layout- and engine-independent.
    "pp13_unimax" -> { (s, dir) =>
      graft.operators.Sampling.unimax(
          docs(s, dir).select(col("doc_id"), col("lang")),
          col("lang"), col("doc_id"), budgetRows = 900L, maxEpochs = 2.0)
        .orderBy("doc_id", "epoch")
    },

    // The DATA CARD: per-(source, lang) corpus statistics — doc and
    // token volumes, char volume, mean quality — the report every
    // pipeline run publishes beside the shards. One scan, row-local
    // kernels (the tx01/tx03 columns), one group exchange; the mean
    // rides integer micros with floor division (the ts20 convention:
    // exact under any partitioning, no f64 summation-order hazard).
    //
    // q_micros is PURE INTEGER arithmetic end to end: with nt tokens,
    // sl summed token length, nd digits, ll chars, the tx03 quality
    // formula times 1e6 is the rational
    //   N/D = (min(500000, 2500·nt)·ll·nt + 300000·(ll−nd)·nt
    //          + min(200000·ll·nt, 25000·sl·ll)) / (ll·nt)
    // and round-half-up is (2N + D) div 2D — bit-exact on any engine,
    // no double qualityScore in the path (a 1-ULP f64 divergence used
    // to flip the rounded micros by ±1; now nothing to diverge).
    // Magnitudes: N ≤ 1e6·ll·nt ≈ 1e17 for a 1M-char doc — BIGINT-safe.
    "pp14_data_card" -> { (s, dir) =>
      val st = graft.functions.TextKernels.tokenStats(col("text"))
      docs(s, dir)
        .select(col("source"), col("lang"), col("n_chars"),
          st.getField("n_tokens").cast("long").as("nt"),
          st.getField("sum_token_len").cast("long").as("sl"),
          size(regexp_extract_all(col("text"), lit("[0-9]"), lit(0)))
            .cast("long").as("nd"),
          length(col("text")).cast("long").as("ll"))
        .withColumn("q_micros", expr(
          """CASE WHEN nt > 0 AND ll > 0 THEN
            |  (2 * (least(500000, 2500 * nt) * ll * nt
            |        + 300000 * (ll - nd) * nt
            |        + CASE WHEN sl >= 8 * nt THEN 200000 * ll * nt
            |               ELSE 25000 * sl * ll END)
            |   + ll * nt) div (2 * ll * nt)
            |ELSE 0 END""".stripMargin))
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("nt").as("total_tokens"),
          sum("n_chars").as("total_chars"),
          expr("sum(q_micros) div count(1)").as("mean_quality_micros"))
        .orderBy("source", "lang")
    },

    // Cluster-balanced subsampling: quantize the corpus embeddings
    // (iters=0 so the DuckDB oracle rebuilds the same centroids — the
    // ann07 convention), then cap every semantic cluster at 40 docs,
    // kept subset chosen by the stable content hash. The
    // diversity-flattening sampler cluster-dedup pipelines run after
    // assignment: head topics stop drowning the mixture, tail topics
    // pass through whole.
    "pp15_cluster_balance" -> { (s, dir) =>
      val e = table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
      val m = graft.ann.IvfIndex.fit(e, "vec_id", "vec", k = 8, iters = 0)
      val assigned = graft.ann.IvfIndex.transform(e, "vec", m)
      graft.operators.Sampling.clusterCap(assigned, col("vec_id"), "cell", 40)
        .select(col("vec_id"), col("cell"))
        .orderBy(col("vec_id"))
    },

    // Training-objective prep: T5-style span corruption, re-designed
    // block-deterministic — one content-hash-offset 3-token span masked
    // per 16-token block (~19% density), sentinel-numbered input/target
    // pair per doc. Row-local end to end; bit-identical on any layout.
    "pp10_span_corrupt" -> { (s, dir) =>
      val t = docs(s, dir).select(col("doc_id"), tokens(col("text")).as("toks"))
      graft.operators.Masking.spanCorrupt(t, "doc_id", "toks",
          block = 16, span = 3, seed = "span")
        .select(col("doc_id"), col("n_masked"), col("masked_input"),
          col("targets"))
        .orderBy("doc_id")
    },

    // Gopher-style quality rules (Rae et al. 2021 §A1.1): word-count
    // bounds, mean word length, symbol-to-word ratio, alphabetic-word
    // fraction, stopword presence — each rule a flag plus the combined
    // pass bit. Pure row-local column math over one tokenize pass; the
    // flags are what a curation pipeline filters and audits on.
    "tx12_gopher_quality" -> { (s, dir) =>
      val t = tokens(col("text"))
      val st = graft.functions.TextKernels.tokenStats(col("text"))
      val nw = st.getField("n_tokens")
      val meanLen = st.getField("sum_token_len").cast("double") /
        nw.cast("double")
      val alphaFrac = st.getField("n_alpha_tokens").cast("double") /
        nw.cast("double")
      val symRatio = (regexp_count(col("text"), lit("#")) +
        regexp_count(col("text"), lit("\\.\\.\\."))).cast("double") /
        nw.cast("double")
      val stops = size(array_intersect(
        array_distinct(transform(t, x => lower(x))),
        array(GopherStops.map(lit): _*)))
      val fWords = nw >= 50 && nw <= 100000
      val fMeanLen = meanLen >= 3.0 && meanLen <= 10.0
      val fSym = symRatio < 0.1
      val fAlpha = alphaFrac > 0.8
      val fStop = stops >= 2
      docs(s, dir).where(nw > 0).select(col("doc_id"),
        nw.cast("int").as("n_words"),
        fWords.cast("int").as("f_words"),
        fMeanLen.cast("int").as("f_mean_len"),
        fSym.cast("int").as("f_symbols"),
        fAlpha.cast("int").as("f_alpha"),
        fStop.cast("int").as("f_stopwords"),
        (fWords && fMeanLen && fSym && fAlpha && fStop).cast("int")
          .as("pass"))
        .orderBy("doc_id")
    },

    // BPE-style subword-boundary token counting: a GPT-2-like pretoken
    // pattern (contraction suffixes, space-prefixed letter/digit/symbol
    // runs, whitespace runs) simplified to drop the trailing-whitespace
    // lookahead — RE2 (DuckDB) has no lookahead, and the simplified
    // pattern is engine-identical. Row-local; the ratio to whitespace
    // tokens is the fertility signal curation uses.
    "tx10_bpe_tokens" -> { (s, dir) =>
      // compiled scanner, not the regex engine: the alternation pattern
      // costs java.util.regex a state machine per char; the kernel is
      // pinned equal to regexp_count(BpeIshPattern) by PropertySpec
      val n = graft.functions.TextKernels.bpeTokenCount(col("text"))
        .cast("int")
      val w = tokenCount(col("text"))
      docs(s, dir).select(
        col("doc_id"), n.as("n_bpe_tokens"), w.as("n_ws_tokens"),
        when(w > 0, round(n.cast("double") / w, 6)).otherwise(0.0)
          .as("fertility"))
        .orderBy("doc_id")
    },

    // Context-window chunking: fixed-size token chunks with overlap
    // (50-token windows, stride 40), row-local — the split step before
    // packing/tokenization in a training pipeline. Chunk text compared
    // by md5 to keep gate rows compact.
    "tx09_token_chunks" -> { (s, dir) =>
      // toks materialized in its own Project (two consumers below keep
      // it from collapsing) so the tokenize regex runs once per doc;
      // chunk token counts are integer math, not a re-tokenize pass
      docs(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"), size(col("toks")).as("n"),
          posexplode(tokenChunks(col("toks"), 50, 40))
            .as(Seq("chunk_idx", "chunk")))
        .select(col("doc_id"), col("chunk_idx"),
          least(lit(50), col("n") - col("chunk_idx") * 40).as("n_chunk_tokens"),
          md5(col("chunk")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")
    },

    // Sequence packing (concat-and-cut): documents laid end-to-end in
    // doc_id order, 2048-token bins; each doc gets the bin where its
    // first token lands + the offset inside it. The global prefix sum
    // is the two-pass RangeRank.globalCumSum — no single-partition
    // window; the oracle recomputes it with a plain SQL window.
    "sq01_packing" -> { (s, dir) =>
      val t = docs(s, dir).select(col("doc_id"),
        tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.operators.Packing.pack(t, Seq(col("doc_id")), "n_tokens", 2048L)
        .select(col("doc_id"), col("n_tokens"), col("gcum"),
          col("bin"), col("bin_offset"))
        .orderBy("doc_id")
    },

    // Concat-and-cut span decomposition: the (doc, block) rows a
    // training-sequence writer materializes — docs straddling a block
    // boundary emit one row per covered block with the token range
    // contributed. Row-local explode after the two-pass prefix sum;
    // per-doc output bounded by n_tokens/capacity + 1.
    "sq02_pack_spans" -> { (s, dir) =>
      val t = docs(s, dir).select(col("doc_id"),
        tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.operators.Packing.packSpans(t, Seq(col("doc_id")), "n_tokens", 512L)
        .select(col("doc_id"), col("bin"), col("span_start"), col("span_len"))
        .orderBy("doc_id", "bin")
    },

    // Packing-efficiency report: per-block span count, whole/head/tail/
    // mid fragment mix, filled tokens, fill ratio — the fragmentation
    // (cross-document attention leakage) cost of concat-and-cut, one
    // map-side-combined aggregate over sq02's span rows.
    "sq03_pack_report" -> { (s, dir) =>
      val t = docs(s, dir).select(col("doc_id"),
        tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.operators.Packing.packReport(t, Seq(col("doc_id")), "n_tokens", 512L)
        .orderBy("bin")
    },

    // ---- multimodal (opaque payload) plumbing ----
    "mm01_meta" -> { (s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        octet_length(col("text")).as("n_bytes"),
        md5(col("text")).as("digest"),
        when(substring(col("text"), 1, 1) === "{", "application/json")
          .otherwise("text/plain").as("kind"))
        .orderBy("doc_id")
    },

    // Corpus-wide bigram frequency (raw counts — shingles NOT deduped).
    // The shuffle key is the 64-bit hash of the bigram, not the bigram
    // string: map-side combine then ships (hash, exemplar, partial count)
    // once per distinct bigram per partition, and the sort/exchange
    // compares 8-byte keys instead of full text bigrams — same trick the
    // shingle passes use. min() (not first()) keeps the exemplar
    // deterministic; a 64-bit collision would need ~4B distinct bigrams
    // (birthday bound) to reach even 50% likelihood corpus-wide.
    "tx05_top_bigrams" -> { (s, dir) =>
      // count on the (w1, w2) PAIR and render the bigram string only
      // per DISTINCT pair after the aggregate: the former shape
      // (explode wordShingles -> group by the concatenated string)
      // built one string per bigram OCCURRENCE — corpus-token-many
      // concat allocations whose only consumer was the group key.
      // Exact pair grouping also retires the old (hash, bigram)
      // collision-guard key outright. Identical output: concat_ws over
      // the same tokens, same (n desc, bigram) order.
      val t = tokens(col("text"))
      val len = greatest(size(t) - 1, lit(0))
      docs(s, dir)
        .select(explode(arrays_zip(
          slice(t, lit(1), len).as("w1"),
          slice(t, lit(2), len).as("w2"))).as("bg"))
        .groupBy(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        .agg(count(lit(1)).as("n"))
        .select(concat_ws(" ", col("w1"), col("w2")).as("bigram"), col("n"))
        .orderBy(col("n").desc, col("bigram"))
        .limit(20)
    },

    // Intra-document repetition: 1 - distinct/total word trigrams — the
    // standard boilerplate / degenerate-generation signal. Both counts
    // are pure column math (the distinct count reuses the ShingleHash60
    // kernel), no explode, no shuffle.
    "tx06_repetition" -> { (s, dir) =>
      val total = greatest(tokenCount(col("text")) - 2, lit(0))
      val distinctSh =
        size(graft.functions.ShingleHash.shingleHashes60(col("text"), 3))
      docs(s, dir).select(
        col("doc_id"),
        total.cast("int").as("n_trigrams"),
        when(total > 0,
          round(lit(1.0) - distinctSh.cast("double") / total, 6))
          .otherwise(0.0).as("repetition"))
        .orderBy("doc_id")
    },

    // Pattern scrubbing counts (PII-adjacent curation signal): emails,
    // URLs, long digit runs. Conservative ASCII regexes that behave
    // identically under Java regex (Spark) and RE2 (DuckDB oracle).
    "tx07_patterns" -> { (s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        regexp_count(col("text"),
          lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"))
          .cast("int").as("n_emails"),
        regexp_count(col("text"), lit("https?://[^\\s]+"))
          .cast("int").as("n_urls"),
        regexp_count(col("text"), lit("[0-9]{6,}"))
          .cast("int").as("n_digit_runs"))
        .orderBy("doc_id")
    },

    // Chunk sampling through the Multimodal operator: every 3rd 16-byte
    // chunk of the payload, joined for portable comparison.
    "mm03_chunks" -> { (s, dir) =>
      val payload = docs(s, dir)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      graft.multimodal.Multimodal
        .sampleChunks(payload, "payload", chunkBytes = 16, stride = 3)
        .select(col("doc_id"),
          array_join(transform(col("sampled_chunks"),
            c => decode(c, "UTF-8")), "|").as("sampled"))
        .orderBy("doc_id")
    },

    "mm02_framesample" -> { (s, dir) =>
      val sample = array_join(
        transform(sequence(lit(1), length(col("text")), lit(7)),
          i => col("text").substr(i, lit(1))), "")
      docs(s, dir).select(col("doc_id"), sample.as("sampled"))
        .orderBy("doc_id")
    },

    // Byte-distribution features over the opaque payload (ByteStats
    // kernel): integer-exact content signals — occupied histogram bins,
    // Simpson collision sum, dominant byte.
    "mm04_bytestats" -> { (s, dir) =>
      val payload = docs(s, dir)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      graft.multimodal.Multimodal.byteStats(payload, "payload")
        .select(col("doc_id"),
          col("byte_stats.n_bytes").as("n_bytes"),
          col("byte_stats.n_distinct_bytes").as("n_distinct_bytes"),
          col("byte_stats.byte_collision_sum").as("byte_collision_sum"),
          col("byte_stats.top_byte").as("top_byte"))
        .orderBy("doc_id")
    },

    // MP4 container-metadata walk (graft.multimodal.Mp4): each doc gets
    // a synthetic-but-VALID ISO BMFF payload whose header fields derive
    // from the doc itself (duration = byte length, dims from doc_id,
    // mvhd/tkhd version alternating by parity — both layouts stay
    // exercised), built forward by Mp4.buildFixture and parsed back by
    // the box walk; the oracle predicts every field arithmetically.
    // Row-local byte arithmetic per payload, no decode, no shuffle.
    "mm05_mp4_meta" -> { (s, dir) =>
      import s.implicits._
      docs(s, dir)
        .select(col("doc_id"),
          octet_length(encode(col("text"), "UTF-8")).cast("long").as("n"))
        .as[(Long, Long)]
        .mapPartitions(_.map { case (id, n) =>
          val bytes = graft.multimodal.Mp4.buildFixture(
            brand = "isom", timescale = 1000L, durationTicks = n,
            tracks = Seq(("vide", (id % 640 + 16).toInt, (id % 360 + 9).toInt),
              ("soun", 0, 0)),
            v1 = n % 2 == 1)
          val m = graft.multimodal.Mp4.meta(bytes)
          val vid = m.tracks.find(_.handler == "vide").get
          // durationSec is ticks/1000.0 — one IEEE division on both
          // sides, so no rounding needed for the hash compare
          (id, m.brand, m.timescale, m.durationTicks, m.durationSec,
            m.tracks.size, m.tracks.map(_.handler).mkString(","),
            vid.width, vid.height)
        })
        .toDF("doc_id", "brand", "timescale", "duration_ticks",
          "duration_sec", "n_tracks", "handlers", "video_w", "video_h")
        .orderBy("doc_id")
    },

    // WebP container walk (RIFF chunks; graft.multimodal.Containers):
    // variant cycles lossy/lossless/extended by doc_id so all three
    // dimension encodings (14-bit VP8, 14-bit-packed VP8L, 24-bit
    // VP8X) stay exercised; the flag columns mirror which variants
    // can carry them (lossy: neither; lossless: alpha only)
    "mm06_webp_meta" -> { (s, dir) =>
      import s.implicits._
      docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val variant = (id % 3) match {
            case 0 => "lossy"; case 1 => "lossless"; case _ => "extended"
          }
          val bytes = graft.multimodal.Containers.buildWebPFixture(
            variant, (id % 500 + 8).toInt, (id % 300 + 8).toInt,
            alpha = id % 2 == 1, animation = id % 5 == 0)
          val m = graft.multimodal.Containers.webpMeta(bytes)
          (id, m.variant, m.width, m.height, m.alpha, m.animation)
        })
        .toDF("doc_id", "variant", "width", "height", "alpha", "animation")
        .orderBy("doc_id")
    },

    // FLAC STREAMINFO walk: rate/channels/depth/total-samples packed
    // bitfields read back; duration is one IEEE division on both sides
    "mm07_flac_meta" -> { (s, dir) =>
      import s.implicits._
      docs(s, dir)
        .select(col("doc_id"),
          octet_length(encode(col("text"), "UTF-8")).cast("long").as("n"))
        .as[(Long, Long)]
        .mapPartitions(_.map { case (id, n) =>
          val rate = (8000 + (id % 8) * 4000).toInt
          val bytes = graft.multimodal.Containers.buildFlacFixture(
            rate, (id % 2 + 1).toInt, 16, n * 100)
          val m = graft.multimodal.Containers.flacMeta(bytes)
          (id, m.sampleRate, m.channels, m.bitsPerSample, m.totalSamples,
            m.durationSec)
        })
        .toDF("doc_id", "sample_rate", "channels", "bits_per_sample",
          "total_samples", "duration_sec")
        .orderBy("doc_id")
    },

    // QUARANTINE container walk (round 13): every 7th payload is
    // truncated mid-header, and Mp4.extractQuarantine keeps the row
    // with an `err` column instead of aborting the pass — the mode a
    // 100 TB curation run needs (one bad upload must not kill it; the
    // loud walk stays for fixtures). Clean rows carry the same
    // arithmetically-predicted fields as mm05; corrupt rows surface
    // ok=false with -1 dims.
    "mm08_mp4_quarantine" -> { (s, dir) =>
      import s.implicits._
      val media = docs(s, dir)
        .select(col("doc_id"),
          octet_length(encode(col("text"), "UTF-8")).cast("long").as("n"))
        .as[(Long, Long)]
        .mapPartitions(_.map { case (id, n) =>
          val full = graft.multimodal.Mp4.buildFixture(
            brand = "isom", timescale = 1000L, durationTicks = n,
            tracks = Seq(("vide",
              (id % 640 + 16).toInt, (id % 360 + 9).toInt)),
            v1 = false)
          graft.multimodal.Multimodal.MediaRow(id,
            if (id % 7 == 0) full.take(12) else full,
            graft.multimodal.Multimodal.MediaMeta("mp4", 0, 0,
              full.length.toLong))
        })
      graft.multimodal.Mp4.extractQuarantine(media)
        .select(col("id").as("doc_id"), col("err").isNull.as("ok"),
          coalesce(col("video_width"), lit(-1)).as("video_w"),
          coalesce(col("video_height"), lit(-1)).as("video_h"))
        .orderBy("doc_id")
    },

    // FLAC sample DECODE (round 15): the full bitstream decoder behind
    // the codec seam, run distributed — per doc a deterministic PCM
    // signal is FLAC-encoded (the subframe type rotates through
    // verbatim/fixed1-4/lpc1 so every predictor path executes at
    // corpus scale) and decoded back; the oracle predicts the decoded
    // stats arithmetically because decode must be EXACT, not
    // approximate. Row-local byte work, no shuffle until the sort.
    "mm09_flac_decode" -> { (s, dir) =>
      import s.implicits._
      docs(s, dir)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val n = (id % 24 + 8).toInt
          val samples = Array.tabulate(n)(i =>
            (((id * 31 + i * 7) % 65536) - 32768).toInt)
          val mode = (id % 6) match {
            case 0 => "verbatim"
            case 1 => "fixed1"
            case 2 => "fixed2"
            case 3 => "fixed3"
            case 4 => "fixed4"
            case _ => "lpc1"
          }
          val bytes = graft.multimodal.Flac.buildFixture(
            Array(samples), 32, mode)
          val dec = graft.multimodal.Flac.decode(bytes)
          (id, dec.length.toLong, dec.foldLeft(0L)(_ + _),
            dec.head.toInt, dec.last.toInt)
        })
        .toDF("doc_id", "n_samples", "sum_samples", "first_s", "last_s")
        .orderBy("doc_id")
    },

    // WebP VP8L decode across the distributed seam (round 15): per-doc
    // lossless fixtures (the rotating-strategy convention of mm09)
    // encoded at corpus scale and decoded back; the oracle reconstructs
    // the decoded pixel stats arithmetically because VP8L decode must
    // be EXACT. The mode rotation walks every transform family —
    // plain literals, subtract-green, color cache, three predictor
    // modes (L, Average2(L,T), ClampAddSubtractFull), the cross-channel
    // color transform, meta prefix groups (when the canvas is wide
    // enough for both), and color indexing — all of which must
    // reconstruct the same pixels. Row-local byte work, no shuffle
    // until the sort.
    "mm10_webp_decode" -> { (s, dir) =>
      import s.implicits._
      docs(s, dir)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val w = (id % 5 + 2).toInt
          val h = (id % 3 + 2).toInt
          val px = Array.tabulate(w * h) { i =>
            val r = ((id * 31 + i * 7) % 256).toInt
            val g = ((id * 17 + i * 13) % 256).toInt
            val b = ((id * 23 + i * 29) % 256).toInt
            0xff000000 | (r << 16) | (g << 8) | b
          }
          val mode = (id % 9) match {
            case 0 => "literal"
            case 1 => "subgreen"
            case 2 => "cache"
            case 3 => "predictor1"
            case 4 => "predictor7"
            case 5 => "predictor12"
            case 6 => "colortx"
            case 7 if w > 4 => "meta" // both groups non-empty
            case _ => "palette"
          }
          val bytes = graft.multimodal.Webp.buildFixture(px, w, h, mode)
          val (dw, dh, dec) = graft.multimodal.Webp.decode(bytes)
          def rgb(v: Int) =
            ((v >> 16) & 0xff) + ((v >> 8) & 0xff) + (v & 0xff)
          (id, dw, dh, dec.foldLeft(0L)((a, v) => a + rgb(v)),
            rgb(dec.head), rgb(dec.last))
        })
        .toDF("doc_id", "w", "h", "sum_rgb", "first_rgb", "last_rgb")
        .orderBy("doc_id")
    },

    // MP4 sample-table statistics across the distributed seam (round
    // 15): per-doc fixtures carrying real stbl tables (stts/stsz/stss
    // + mdhd) at corpus scale, walked back by Mp4.sampleStats — the
    // per-sample size/timing/keyframe signal a video-curation pipeline
    // computes without any codec (bitrate, keyframe cadence,
    // sample-count sanity). The oracle reconstructs every stat
    // arithmetically because the walk is exact container math.
    // Row-local byte work, no shuffle until the sort.
    "mm11_mp4_samples" -> { (s, dir) =>
      import s.implicits._
      docs(s, dir)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val n = (id % 20 + 5).toInt
          val delta = (id % 7 + 1) * 100
          val sizes = Seq.tabulate(n)(i => (id * 13 + i * 17) % 1000 + 100)
          val bytes = graft.multimodal.Mp4.buildFixture(
            "isom", 30000, n * delta, Seq(("vide", 640, 360)),
            sampleSizes = Seq(sizes), sampleDelta = delta, syncEvery = 5)
          val st = graft.multimodal.Mp4.sampleStats(bytes) match {
            case one :: Nil => one
            case other => sys.error(s"expected one track, got $other")
          }
          (id, st.nSamples, st.totalBytes, st.maxSize, st.durationTicks,
            st.nSync)
        })
        .toDF("doc_id", "n_samples", "total_bytes", "max_size",
          "duration_ticks", "n_sync")
        .orderBy("doc_id")
    },

    // keyframe byte-range extraction (round 15): Mp4.syncSamples
    // resolves every sync sample's ABSOLUTE byte range through the
    // stsc/stco chunk math, and the gate READS those payload bytes —
    // summing what it finds — so the oracle equality proves the
    // offsets land on the actual sample data, not just that the
    // arithmetic is self-consistent. This is the IO shape of keyframe
    // extraction at 100 TB: read exactly the sync ranges, skip the
    // rest. Row-local, no shuffle until the sort.
    "mm12_mp4_keyframes" -> { (s, dir) =>
      import s.implicits._
      docs(s, dir)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val n = (id % 20 + 5).toInt
          val delta = (id % 7 + 1) * 100
          val sizes = Seq.tabulate(n)(i => (id * 13 + i * 17) % 1000 + 100)
          val bytes = graft.multimodal.Mp4.buildFixture(
            "isom", 30000, n * delta, Seq(("vide", 640, 360)),
            sampleSizes = Seq(sizes), sampleDelta = delta, syncEvery = 5,
            samplesPerChunk = 3,
            sampleFill = (_, si, _) => ((id + si * 13) % 256).toInt)
          val syncs = graft.multimodal.Mp4.syncSamples(bytes) match {
            case one :: Nil => one.syncs
            case other => sys.error(s"expected one track, got $other")
          }
          var byteSum = 0L
          var syncBytes = 0L
          syncs.foreach { ss =>
            var p = ss.offset
            while (p < ss.offset + ss.size) {
              byteSum += bytes(p.toInt) & 0xff
              p += 1
            }
            syncBytes += ss.size
          }
          (id, syncs.size.toLong, syncBytes, byteSum)
        })
        .toDF("doc_id", "n_sync", "sync_bytes", "byte_sum")
        .orderBy("doc_id")
    },

    // animated WebP across the distributed seam (round 15): per-doc
    // VP8X+ANIM+ANMF fixtures whose frames carry rotating VP8L
    // strategies, decoded back frame by frame through the same VP8L
    // core as mm10 — the frame-sample shape for animated images
    // (frame count, total duration, per-frame pixel stats). Decode is
    // exact, so the oracle reconstructs everything arithmetically.
    // Row-local, no shuffle until the sort.
    "mm13_webp_anim" -> { (s, dir) =>
      import s.implicits._
      docs(s, dir)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val nf = (id % 3 + 2).toInt
          val fw = (id % 4 + 2).toInt
          val frames = (0 until nf).map { j =>
            val fh = ((id + j) % 3 + 2).toInt
            val px = Array.tabulate(fw * fh) { i =>
              val r = ((id * 31 + j * 11 + i * 7) % 256).toInt
              val g = ((id * 17 + j * 5 + i * 13) % 256).toInt
              val b = ((id * 23 + j * 3 + i * 29) % 256).toInt
              0xff000000 | (r << 16) | (g << 8) | b
            }
            val dur = ((id % 9 + 1) * 10 + j).toInt
            (2 * (j % 3), 2 * (j % 2), dur, px, fw, fh)
          }
          val mode = (id % 3) match {
            case 0 => "literal"
            case 1 => "subgreen"
            case _ => "predictor7"
          }
          val bytes = graft.multimodal.Webp.buildAnimFixture(
            16, 16, frames, mode)
          val (cw, ch, dec) = graft.multimodal.Webp.decodeFrames(bytes)
          require(cw == 16 && ch == 16, s"canvas $cw x $ch")
          def rgb(v: Int) =
            ((v >> 16) & 0xff) + ((v >> 8) & 0xff) + (v & 0xff)
          (id, dec.size.toLong,
            dec.map(_.durationMs.toLong).sum,
            dec.map(_.px.foldLeft(0L)((a, v) => a + rgb(v))).sum)
        })
        .toDF("doc_id", "n_frames", "total_dur", "sum_rgb")
        .orderBy("doc_id")
    },

    // FLAC VORBIS_COMMENT tags across the distributed seam (round 15):
    // the TEXT metadata an audio-curation pipeline filters on (title /
    // language / track), parsed from per-doc fixtures carrying a real
    // little-endian comment block. The oracle reconstructs the strings
    // because the walk is exact. Row-local, no shuffle until the sort.
    "mm14_flac_tags" -> { (s, dir) =>
      import s.implicits._
      docs(s, dir)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val lang = (id % 3) match {
            case 0 => "en"; case 1 => "fr"; case _ => "de"
          }
          val bytes = graft.multimodal.Containers.buildFlacFixture(
            8000, 1, 16, 64, vendor = "graft",
            tags = Seq("title" -> s"doc$id", "LANGUAGE" -> lang,
              "TrackNumber" -> (id % 20).toString))
          val (vendor, tags) = graft.multimodal.Containers.flacTags(bytes)
          val m = tags.toMap // keys already uppercased by the walk
          (id, vendor, tags.size.toLong, m("TITLE"), m("LANGUAGE"),
            m("TRACKNUMBER"))
        })
        .toDF("doc_id", "vendor", "n_tags", "title", "language", "track")
        .orderBy("doc_id")
    }
  )

  val oracle: Map[String, String] = Map(
    "dd01_exact" ->
      s"""WITH $CorpusExactSql
         |SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id,
         |       COUNT(*) AS n_dups
         |FROM corpus GROUP BY md5(text) HAVING COUNT(*) > 1
         |ORDER BY keep_id""".stripMargin,

    "dd02_minhash_lsh" ->
      s"""WITH $CorpusNearSql,
         |tk AS (SELECT doc_id AS id, $ToksSql AS toks, text FROM corpus),
         |sh AS (SELECT id, ${hashesSql(shinglesSql("toks"))} AS shs FROM tk),
         |sig AS (SELECT id, shs, ${minhashSigSql("shs", 16)} AS sig
         |        FROM sh WHERE len(shs) > 0),
         |banded AS (SELECT id, shs, b,
         |    md5(sig[b*4+1]::VARCHAR || '|' || sig[b*4+2]::VARCHAR || '|' ||
         |        sig[b*4+3]::VARCHAR || '|' || sig[b*4+4]::VARCHAR) AS key
         |  FROM sig CROSS JOIN range(0, 4) t(b)),
         |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM banded a JOIN banded b ON a.b = b.b AND a.key = b.key
         |  WHERE a.id < b.id),
         |pairs AS (SELECT id_a, id_b,
         |    len(list_intersect(sa.shs, sb.shs))::DOUBLE /
         |    len(list_distinct(list_concat(sa.shs, sb.shs))) AS jac
         |  FROM cand JOIN sh sa ON cand.id_a = sa.id
         |            JOIN sh sb ON cand.id_b = sb.id)
         |SELECT id_a, id_b, ROUND(jac, 6) AS jac FROM pairs
         |WHERE jac >= 0.6 ORDER BY id_a, id_b""".stripMargin,

    // The oracle is the SEMANTIC spec — a complete all-pairs Hamming join
    // with no blocking — which the Spark-side pigeonhole banding must
    // reproduce exactly (banding is complete for the radius).
    "dd03_simhash" ->
      s"""WITH $CorpusNearSql,
         |tk AS (SELECT doc_id AS id, $ToksSql AS toks FROM corpus),
         |sh AS (SELECT id, ${hashesSql(shinglesSql("toks"))} AS shs FROM tk),
         |fp AS (SELECT id, ${simhashSql("shs")} AS fp FROM sh
         |       WHERE len(shs) > 0)
         |SELECT a.id AS id_a, b.id AS id_b,
         |       CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
         |FROM fp a JOIN fp b ON a.id < b.id
         |WHERE bit_count(xor(a.fp, b.fp)) <= 6
         |ORDER BY id_a, id_b""".stripMargin,

    // Complete all-pairs Jaccard spec; Spark's prefix filter must match.
    "dd04_ngram_jaccard" ->
      s"""WITH $CorpusNearSql,
         |tk AS (SELECT doc_id AS id, $ToksSql AS toks FROM corpus),
         |sh AS (SELECT id, ${hashesSql(shinglesSql("toks"))} AS shs FROM tk),
         |pairs AS (SELECT a.id AS id_a, b.id AS id_b,
         |    len(list_intersect(a.shs, b.shs))::DOUBLE /
         |    len(list_distinct(list_concat(a.shs, b.shs))) AS jac
         |  FROM sh a JOIN sh b
         |    ON a.id < b.id
         |  WHERE len(a.shs) > 0 AND len(b.shs) > 0
         |    AND len(a.shs) >= len(b.shs) * 0.5 AND len(b.shs) >= len(a.shs) * 0.5)
         |SELECT id_a, id_b, ROUND(jac, 6) AS jac FROM pairs
         |WHERE jac >= 0.5 ORDER BY id_a, id_b""".stripMargin,

    "dd05_embed_cosine" ->
      """WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000 AS vec_id, embedding
        |  FROM embeddings WHERE vec_id % 50 = 0),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM corpus)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  ROUND(list_cosine_similarity(a.vec, b.vec), 6) AS cos
        |FROM v a JOIN v b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.vec, b.vec) >= 0.995
        |ORDER BY id_a, id_b""".stripMargin,

    "dd07_dup_groups" ->
      s"""WITH RECURSIVE $CorpusTripleSql,
         |tk AS (SELECT doc_id AS id, $ToksSql AS toks FROM corpus),
         |sh AS (SELECT id, ${hashesSql(shinglesSql("toks"))} AS shs FROM tk),
         |pairs AS (SELECT a.id AS id_a, b.id AS id_b
         |  FROM sh a JOIN sh b ON a.id < b.id
         |  WHERE len(a.shs) > 0 AND len(b.shs) > 0
         |    AND len(a.shs) >= len(b.shs) * 0.5 AND len(b.shs) >= len(a.shs) * 0.5
         |    AND len(list_intersect(a.shs, b.shs))::DOUBLE /
         |        len(list_distinct(list_concat(a.shs, b.shs))) >= 0.5),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION ALL SELECT id_b, id_a FROM pairs),
         |reach(id, label) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id)
         |SELECT id, MIN(label) AS rep FROM reach GROUP BY id
         |ORDER BY id""".stripMargin,

    "dd19_cluster_sizes" ->
      s"""WITH RECURSIVE $CorpusTripleSql,
         |tk AS (SELECT doc_id AS id, $ToksSql AS toks FROM corpus),
         |sh AS (SELECT id, ${hashesSql(shinglesSql("toks"))} AS shs FROM tk),
         |pairs AS (SELECT a.id AS id_a, b.id AS id_b
         |  FROM sh a JOIN sh b ON a.id < b.id
         |  WHERE len(a.shs) > 0 AND len(b.shs) > 0
         |    AND len(a.shs) >= len(b.shs) * 0.5 AND len(b.shs) >= len(a.shs) * 0.5
         |    AND len(list_intersect(a.shs, b.shs))::DOUBLE /
         |        len(list_distinct(list_concat(a.shs, b.shs))) >= 0.5),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION ALL SELECT id_b, id_a FROM pairs),
         |reach(id, label) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id),
         |comp AS (SELECT id, MIN(label) AS rep FROM reach GROUP BY id),
         |cs AS (SELECT rep, CAST(COUNT(*) AS BIGINT) AS cluster_size
         |       FROM comp GROUP BY rep)
         |SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
         |FROM cs GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,

    "dd08_keep_one" ->
      s"""WITH RECURSIVE $CorpusNearSql,
         |tk AS (SELECT doc_id AS id, $ToksSql AS toks FROM corpus),
         |sh AS (SELECT id, ${hashesSql(shinglesSql("toks"))} AS shs FROM tk),
         |pairs AS (SELECT a.id AS id_a, b.id AS id_b
         |  FROM sh a JOIN sh b ON a.id < b.id
         |  WHERE len(a.shs) > 0 AND len(b.shs) > 0
         |    AND len(a.shs) >= len(b.shs) * 0.5 AND len(b.shs) >= len(a.shs) * 0.5
         |    AND len(list_intersect(a.shs, b.shs))::DOUBLE /
         |        len(list_distinct(list_concat(a.shs, b.shs))) >= 0.5),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION ALL SELECT id_b, id_a FROM pairs),
         |reach(id, label) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id),
         |nonrep AS (SELECT id FROM (
         |  SELECT id, MIN(label) AS rep FROM reach GROUP BY id)
         |  WHERE rep != id)
         |SELECT doc_id FROM corpus
         |WHERE doc_id NOT IN (SELECT id FROM nonrep)
         |ORDER BY doc_id""".stripMargin,

    "dd06_embed_ivf" ->
      """WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000 AS vec_id, embedding
        |  FROM embeddings WHERE vec_id % 50 = 0),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM corpus)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  ROUND(list_cosine_similarity(a.vec, b.vec), 6) AS cos
        |FROM v a JOIN v b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.vec, b.vec) >= 0.995
        |ORDER BY id_a, id_b""".stripMargin,

    "ann01_brute_topk" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
        |           WHERE vec_id = 0)
        |SELECT vec_id,
        |  ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), 6) AS sim
        |FROM embeddings CROSS JOIN q WHERE vec_id != 0
        |ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv) DESC,
        |         vec_id
        |LIMIT 10""".stripMargin,

    "ann02_ivf_topk" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv, label AS qlabel
        |           FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id,
        |  ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), 6) AS sim
        |FROM embeddings CROSS JOIN q
        |WHERE vec_id != 0 AND label = qlabel
        |ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv) DESC,
        |         vec_id
        |LIMIT 5""".stripMargin,

    "dd13_span_pairs" ->
      s"""WITH corpus AS (SELECT doc_id,
         |    CASE WHEN doc_id % 50 = 0 THEN text || ' ' ||
         |      array_to_string(list_transform(range(0, 16),
         |        i -> 'sq' || i || 'c' || (doc_id // 250)), ' ')
         |    ELSE text END AS text
         |  FROM documents),
         |$WinnowSql,
         |kept AS (SELECT fp FROM x GROUP BY fp
         |         HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 10),
         |xf AS (SELECT doc_id, fp FROM x
         |       WHERE fp IN (SELECT fp FROM kept))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(COUNT(*) AS BIGINT) AS n_shared_fps
         |FROM xf a JOIN xf b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY id_a, id_b
         |ORDER BY id_a, id_b""".stripMargin,

    "ann06_batch_topk" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings WHERE vec_id >= 8),
        |s AS (SELECT qid, vec_id,
        |        list_cosine_similarity(v, qv) AS sim FROM c CROSS JOIN q),
        |r AS (SELECT qid, vec_id, sim,
        |        row_number() OVER (PARTITION BY qid
        |                           ORDER BY sim DESC, vec_id) AS rank
        |      FROM s)
        |SELECT qid, CAST(rank AS INT) AS rank, vec_id, ROUND(sim, 6) AS sim
        |FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    // ann11: rebuild BOTH iters=0 quantizers — coarse centroids = the 4
    // smallest-vec_id vectors; PQ centroids = the residual sub-slices
    // of ids 4..7 (code j = vec_id - 4); encode = per-(vec,subspace)
    // argmin with ties to the smaller code; per-probed-cell query
    // tables from the query's residual; ADC over cells {0,1}.
    "ann11_ivfpq_residual" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
        |           FROM embeddings),
        |cc AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
        |         vec AS cv
        |       FROM v ORDER BY vec_id LIMIT 4),
        |dc AS (SELECT v.vec_id, cc.cell,
        |         list_sum(list_transform(range(1, 65),
        |           i -> (v.vec[i] - cc.cv[i]) * (v.vec[i] - cc.cv[i]))) AS d2
        |       FROM v, cc),
        |asg AS (SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        |    FROM dc) WHERE rn = 1),
        |res AS (SELECT v.vec_id, asg.cell,
        |          list_transform(range(1, 65), i -> v.vec[i] - cc.cv[i]) AS rv
        |        FROM v JOIN asg USING (vec_id) JOIN cc ON asg.cell = cc.cell),
        |m AS (SELECT unnest(range(0, 8)) AS s),
        |pc AS (SELECT m.s, CAST(r.vec_id - 4 AS INT) AS j,
        |         list_slice(r.rv, m.s*8+1, m.s*8+8) AS cv
        |       FROM res r, m WHERE r.vec_id >= 4 AND r.vec_id < 8),
        |parts AS (SELECT res.vec_id, res.cell, m.s,
        |            list_slice(res.rv, m.s*8+1, m.s*8+8) AS sv
        |          FROM res, m WHERE res.vec_id != 0),
        |d AS (SELECT parts.vec_id, parts.cell, parts.s, pc.j,
        |        list_sum(list_transform(range(1, 9),
        |          i -> (parts.sv[i] - pc.cv[i]) * (parts.sv[i] - pc.cv[i]))) AS d2
        |      FROM parts JOIN pc ON parts.s = pc.s),
        |codes AS (SELECT vec_id, cell, s, j AS code FROM (
        |    SELECT vec_id, cell, s, j,
        |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, j) AS rn
        |    FROM d) WHERE rn = 1),
        |qr AS (SELECT cc.cell, m.s,
        |         list_slice(list_transform(range(1, 65),
        |           i -> q.vec[i] - cc.cv[i]), m.s*8+1, m.s*8+8) AS qv
        |       FROM v q, cc, m WHERE q.vec_id = 0 AND cc.cell IN (0, 1)),
        |tab AS (SELECT qr.cell, qr.s, pc.j,
        |          list_sum(list_transform(range(1, 9),
        |            i -> (qr.qv[i] - pc.cv[i]) * (qr.qv[i] - pc.cv[i]))) AS qd
        |        FROM qr JOIN pc ON qr.s = pc.s),
        |adc AS (SELECT codes.vec_id, SUM(tab.qd) AS adist
        |        FROM codes JOIN tab ON codes.cell = tab.cell
        |          AND codes.s = tab.s AND codes.code = tab.j
        |        WHERE codes.cell IN (0, 1)
        |        GROUP BY codes.vec_id)
        |SELECT vec_id, ROUND(adist, 6) AS adist FROM adc
        |ORDER BY adist, vec_id LIMIT 10""".stripMargin,

    "ann07_pq_adc" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
        |           FROM embeddings),
        |m AS (SELECT unnest(range(0, 8)) AS s),
        |cent AS (SELECT m.s, c.vec_id AS j,
        |           list_slice(c.vec, m.s*8+1, m.s*8+8) AS cv
        |         FROM v c, m WHERE c.vec_id < 4),
        |parts AS (SELECT p.vec_id, m.s,
        |            list_slice(p.vec, m.s*8+1, m.s*8+8) AS sv
        |          FROM v p, m WHERE p.vec_id != 0),
        |d AS (SELECT parts.vec_id, parts.s, cent.j,
        |        list_sum(list_transform(range(1, 9),
        |          i -> (parts.sv[i] - cent.cv[i]) * (parts.sv[i] - cent.cv[i]))) AS d2
        |      FROM parts JOIN cent ON parts.s = cent.s),
        |codes AS (SELECT vec_id, s, j AS code FROM (
        |    SELECT vec_id, s, j,
        |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, j) AS rn
        |    FROM d) WHERE rn = 1),
        |q AS (SELECT m.s, list_slice(vec, m.s*8+1, m.s*8+8) AS qv
        |      FROM v, m WHERE vec_id = 0),
        |tab AS (SELECT q.s, cent.j,
        |          list_sum(list_transform(range(1, 9),
        |            i -> (q.qv[i] - cent.cv[i]) * (q.qv[i] - cent.cv[i]))) AS qd
        |        FROM q JOIN cent ON q.s = cent.s),
        |adc AS (SELECT codes.vec_id, SUM(tab.qd) AS adist
        |        FROM codes JOIN tab ON codes.s = tab.s AND codes.code = tab.j
        |        GROUP BY codes.vec_id)
        |SELECT vec_id, ROUND(adist, 6) AS adist FROM adc
        |ORDER BY adc.adist, vec_id LIMIT 10""".stripMargin,

    "ann10_pq_adc_batch" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
        |           FROM embeddings),
        |m AS (SELECT unnest(range(0, 8)) AS s),
        |cent AS (SELECT m.s, c.vec_id AS j,
        |           list_slice(c.vec, m.s*8+1, m.s*8+8) AS cv
        |         FROM v c, m WHERE c.vec_id < 4),
        |parts AS (SELECT p.vec_id, m.s,
        |            list_slice(p.vec, m.s*8+1, m.s*8+8) AS sv
        |          FROM v p, m WHERE p.vec_id > 1),
        |d AS (SELECT parts.vec_id, parts.s, cent.j,
        |        list_sum(list_transform(range(1, 9),
        |          i -> (parts.sv[i] - cent.cv[i]) * (parts.sv[i] - cent.cv[i]))) AS d2
        |      FROM parts JOIN cent ON parts.s = cent.s),
        |codes AS (SELECT vec_id, s, j AS code FROM (
        |    SELECT vec_id, s, j,
        |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, j) AS rn
        |    FROM d) WHERE rn = 1),
        |q AS (SELECT vec_id AS qid, m.s, list_slice(vec, m.s*8+1, m.s*8+8) AS qv
        |      FROM v, m WHERE vec_id <= 1),
        |tab AS (SELECT q.qid, q.s, cent.j,
        |          list_sum(list_transform(range(1, 9),
        |            i -> (q.qv[i] - cent.cv[i]) * (q.qv[i] - cent.cv[i]))) AS qd
        |        FROM q JOIN cent ON q.s = cent.s),
        |adc AS (SELECT tab.qid, codes.vec_id, SUM(tab.qd) AS adist
        |        FROM codes JOIN tab ON codes.s = tab.s AND codes.code = tab.j
        |        GROUP BY tab.qid, codes.vec_id),
        |r AS (SELECT qid, vec_id, adist,
        |        row_number() OVER (PARTITION BY qid ORDER BY adist, vec_id) AS rank
        |      FROM adc)
        |SELECT qid, CAST(rank AS INT) AS rank, vec_id,
        |  ROUND(adist, 6) AS adist
        |FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,

    "ann09_pq_rerank" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
        |           FROM embeddings),
        |m AS (SELECT unnest(range(0, 8)) AS s),
        |cent AS (SELECT m.s, c.vec_id AS j,
        |           list_slice(c.vec, m.s*8+1, m.s*8+8) AS cv
        |         FROM v c, m WHERE c.vec_id < 4),
        |parts AS (SELECT p.vec_id, m.s,
        |            list_slice(p.vec, m.s*8+1, m.s*8+8) AS sv
        |          FROM v p, m WHERE p.vec_id != 0),
        |d AS (SELECT parts.vec_id, parts.s, cent.j,
        |        list_sum(list_transform(range(1, 9),
        |          i -> (parts.sv[i] - cent.cv[i]) * (parts.sv[i] - cent.cv[i]))) AS d2
        |      FROM parts JOIN cent ON parts.s = cent.s),
        |codes AS (SELECT vec_id, s, j AS code FROM (
        |    SELECT vec_id, s, j,
        |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, j) AS rn
        |    FROM d) WHERE rn = 1),
        |q AS (SELECT m.s, list_slice(vec, m.s*8+1, m.s*8+8) AS qv
        |      FROM v, m WHERE vec_id = 0),
        |tab AS (SELECT q.s, cent.j,
        |          list_sum(list_transform(range(1, 9),
        |            i -> (q.qv[i] - cent.cv[i]) * (q.qv[i] - cent.cv[i]))) AS qd
        |        FROM q JOIN cent ON q.s = cent.s),
        |adc AS (SELECT codes.vec_id, SUM(tab.qd) AS adist
        |        FROM codes JOIN tab ON codes.s = tab.s AND codes.code = tab.j
        |        GROUP BY codes.vec_id),
        |short AS (SELECT vec_id FROM adc ORDER BY adist, vec_id LIMIT 50),
        |qfull AS (SELECT vec AS qv FROM v WHERE vec_id = 0),
        |rer AS (SELECT sh.vec_id,
        |          list_cosine_similarity(p.vec, qfull.qv) AS sim
        |        FROM short sh JOIN v p ON p.vec_id = sh.vec_id, qfull)
        |SELECT vec_id, ROUND(sim, 6) AS sim FROM rer
        |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,

    "ann08_ivf_pq" ->
      """WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec
        |           FROM embeddings),
        |m AS (SELECT unnest(range(0, 8)) AS s),
        |cent AS (SELECT m.s, c.vec_id AS j,
        |           list_slice(c.vec, m.s*8+1, m.s*8+8) AS cv
        |         FROM v c, m WHERE c.vec_id < 4),
        |q0 AS (SELECT vec, label AS qlabel FROM v WHERE vec_id = 0),
        |parts AS (SELECT p.vec_id, m.s,
        |            list_slice(p.vec, m.s*8+1, m.s*8+8) AS sv
        |          FROM v p, m, q0
        |          WHERE p.vec_id != 0
        |            AND p.label IN (q0.qlabel, (q0.qlabel + 1) % 10)),
        |d AS (SELECT parts.vec_id, parts.s, cent.j,
        |        list_sum(list_transform(range(1, 9),
        |          i -> (parts.sv[i] - cent.cv[i]) * (parts.sv[i] - cent.cv[i]))) AS d2
        |      FROM parts JOIN cent ON parts.s = cent.s),
        |codes AS (SELECT vec_id, s, j AS code FROM (
        |    SELECT vec_id, s, j,
        |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, j) AS rn
        |    FROM d) WHERE rn = 1),
        |q AS (SELECT m.s, list_slice(q0.vec, m.s*8+1, m.s*8+8) AS qv
        |      FROM q0, m),
        |tab AS (SELECT q.s, cent.j,
        |          list_sum(list_transform(range(1, 9),
        |            i -> (q.qv[i] - cent.cv[i]) * (q.qv[i] - cent.cv[i]))) AS qd
        |        FROM q JOIN cent ON q.s = cent.s),
        |adc AS (SELECT codes.vec_id, SUM(tab.qd) AS adist
        |        FROM codes JOIN tab ON codes.s = tab.s AND codes.code = tab.j
        |        GROUP BY codes.vec_id)
        |SELECT vec_id, ROUND(adist, 6) AS adist FROM adc
        |ORDER BY adc.adist, vec_id LIMIT 10""".stripMargin,

    "ann05_quantize_int8" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
        |           FROM embeddings),
        |m AS (SELECT vec_id, vec,
        |    list_max(list_transform(vec, x -> abs(x))) AS amax FROM v),
        |c AS (SELECT vec_id, amax,
        |    CASE WHEN amax = 0 THEN list_transform(vec, x -> CAST(0 AS BIGINT))
        |    ELSE list_transform(vec,
        |      x -> CAST(floor(x * 127.0 / amax) AS BIGINT)) END AS codes
        |  FROM m)
        |SELECT vec_id, ROUND(amax, 6) AS scale,
        |  CAST(len(codes) AS INT) AS n_dims,
        |  CAST(list_sum(codes) AS BIGINT) AS code_sum,
        |  CAST(list_min(codes) AS BIGINT) AS code_min,
        |  CAST(list_max(codes) AS BIGINT) AS code_max
        |FROM c ORDER BY vec_id""".stripMargin,

    "ann04_ivf_multiprobe" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv, label AS qlabel
        |           FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id,
        |  ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), 6) AS sim
        |FROM embeddings CROSS JOIN q
        |WHERE vec_id != 0 AND label IN (qlabel, (qlabel + 1) % 10)
        |ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv) DESC,
        |         vec_id
        |LIMIT 5""".stripMargin,

    "ann03_centroids" ->
      """WITH x AS (SELECT label,
        |    unnest(CAST(embedding AS DOUBLE[])) AS v,
        |    generate_subscripts(embedding, 1) AS dim
        |  FROM embeddings),
        |m AS (SELECT label, dim, AVG(v) AS a FROM x GROUP BY label, dim),
        |n AS (SELECT label, COUNT(*) AS n_vecs FROM embeddings GROUP BY label)
        |SELECT label, n_vecs, ROUND(sqrt(SUM(a * a)), 6) AS centroid_norm
        |FROM m JOIN n USING (label)
        |GROUP BY label, n_vecs ORDER BY label""".stripMargin,

    "sp01_hash_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |      % 10000 < 1000
        |ORDER BY doc_id""".stripMargin,

    "sp02_stratified" ->
      """WITH ranked AS (
        |  SELECT doc_id, lang,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY
        |      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
        |      doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, lang FROM ranked WHERE rn <= 5
        |ORDER BY doc_id""".stripMargin,

    "sp03_weighted" ->
      s"""WITH t AS (SELECT doc_id, text, $ToksSql AS toks FROM documents),
         |m AS (SELECT doc_id,
         |  len(toks)::DOUBLE AS n_tokens,
         |  list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks)::DOUBLE AS avg_len,
         |  len(regexp_extract_all(text, '[0-9]'))::DOUBLE / length(text)::DOUBLE AS digits
         |  FROM t),
         |w AS (SELECT doc_id,
         |  least(1.0, n_tokens / 200.0) * 0.5 + (1.0 - digits) * 0.3 +
         |  least(1.0, avg_len / 8.0) * 0.2 AS score
         |  FROM m)
         |SELECT doc_id FROM w
         |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
         |      % 10000 < round(greatest(0.0, least(score, 1.0)) * 10000)
         |ORDER BY doc_id""".stripMargin,

    "pp05_joint_modality" ->
      s"""WITH t AS (SELECT doc_id, text, $ToksSql AS toks FROM documents),
         |m AS (SELECT doc_id,
         |    len(toks)::DOUBLE AS n_tokens,
         |    list_sum(list_transform(toks, x -> length(x)))::DOUBLE
         |      / len(toks)::DOUBLE AS avg_len,
         |    len(regexp_extract_all(text, '[0-9]'))::DOUBLE
         |      / length(text)::DOUBLE AS digits
         |  FROM t),
         |q AS (SELECT doc_id, ROUND(
         |    least(1.0, n_tokens / 200.0) * 0.5 + (1.0 - digits) * 0.3 +
         |    least(1.0, avg_len / 8.0) * 0.2, 6) AS quality FROM m),
         |v AS (SELECT vec_id, ROUND(sqrt(list_sum(list_transform(
         |    CAST(embedding AS DOUBLE[]), x -> x * x))), 6) AS vnorm
         |  FROM embeddings)
         |SELECT doc_id, quality, vnorm
         |FROM q JOIN v ON doc_id = vec_id
         |WHERE quality >= 0.5 AND vnorm BETWEEN 0.5 AND 20.0
         |ORDER BY doc_id""".stripMargin,

    "sp04_splits" ->
      """SELECT doc_id,
        |  CASE WHEN h < 8 THEN 'train' WHEN h < 9 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |             AS BIGINT) % 10 AS h
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "pp04_epochs" ->
      """WITH c AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS chars
        |           FROM documents GROUP BY source),
        |t AS (SELECT MAX(chars) AS maxc FROM c),
        |r AS (SELECT source,
        |    least(3, 1 + CAST(floor((maxc - chars) * 20.0 / maxc) AS BIGINT))
        |      AS epochs
        |  FROM c CROSS JOIN t)
        |SELECT doc_id, d.source,
        |  CAST(unnest(range(1, epochs + 1)) AS BIGINT) AS epoch
        |FROM documents d JOIN r ON d.source = r.source
        |ORDER BY doc_id, epoch""".stripMargin,

    "tx01_tokens" ->
      s"""SELECT doc_id, CAST(len($ToksSql) AS INT) AS n_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,

    "tx02_langid" -> {
      val t = ToksSql
      val scoreCases = Seq(
        ("en", EnMarkers), ("de", DeMarkers), ("fr", FrMarkers),
        ("es", EsMarkers), ("zh", ZhMarkers))
      val withScores = scoreCases.map { case (l, ws) =>
        s"${markerSql(t, ws)} AS s_$l"
      }.mkString(", ")
      s"""WITH sc AS (SELECT doc_id, $withScores FROM documents)
         |SELECT doc_id,
         |  CASE
         |    WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_zh THEN 'en'
         |    WHEN s_de >= s_fr AND s_de >= s_es AND s_de >= s_zh THEN 'de'
         |    WHEN s_fr >= s_es AND s_fr >= s_zh THEN 'fr'
         |    WHEN s_es >= s_zh THEN 'es'
         |    ELSE 'zh' END AS lang_pred
         |FROM sc ORDER BY doc_id""".stripMargin
    },

    // pp15: rebuild the iters=0 quantizer (centroids = the 8
    // smallest-vec_id vectors, cell id in vec_id order), argmin
    // assignment with ties to the smaller cell, then the shared
    // md5-hash rank capped at 40 per cell.
    "pp15_cluster_balance" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
        |           FROM embeddings),
        |cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
        |           vec AS cv
        |         FROM v ORDER BY vec_id LIMIT 8),
        |d AS (SELECT v.vec_id, cent.cell,
        |        list_sum(list_transform(range(1, 65),
        |          i -> (v.vec[i] - cent.cv[i]) * (v.vec[i] - cent.cv[i]))) AS d2
        |      FROM v, cent),
        |asg AS (SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
        |    FROM d) WHERE rn = 1),
        |r AS (SELECT vec_id, cell, row_number() OVER (PARTITION BY cell
        |        ORDER BY CAST(('0x'||substr(md5(CAST(vec_id AS VARCHAR)),
        |                       1, 15)) AS BIGINT), vec_id) AS rn
        |      FROM asg)
        |SELECT vec_id, CAST(cell AS INT) AS cell FROM r
        |WHERE rn <= 40 ORDER BY vec_id""".stripMargin,

    "pp14_data_card" ->
      s"""WITH t AS (SELECT source, lang, n_chars, text, $ToksSql AS toks
         |           FROM documents),
         |m AS (SELECT source, lang, n_chars,
         |  CAST(len(toks) AS BIGINT) AS nt,
         |  CAST(COALESCE(list_sum(list_transform(toks, x -> length(x))), 0) AS BIGINT) AS sl,
         |  CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS nd,
         |  CAST(length(text) AS BIGINT) AS ll
         |  FROM t),
         |q AS (SELECT source, lang, n_chars, nt AS n_tokens,
         |  CASE WHEN nt > 0 AND ll > 0 THEN
         |    CAST((2 * (LEAST(500000, 2500 * nt) * ll * nt
         |          + 300000 * (ll - nd) * nt
         |          + CASE WHEN sl >= 8 * nt THEN 200000 * ll * nt
         |                 ELSE 25000 * sl * ll END)
         |     + ll * nt) // (2 * ll * nt) AS BIGINT)
         |  ELSE 0 END AS q_micros
         |  FROM m)
         |SELECT source, lang, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         |  CAST(SUM(q_micros) // COUNT(*) AS BIGINT) AS mean_quality_micros
         |FROM q GROUP BY source, lang ORDER BY source, lang""".stripMargin,

    "tx03_quality" ->
      s"""WITH t AS (SELECT doc_id, text, $ToksSql AS toks FROM documents),
         |m AS (SELECT doc_id,
         |  CAST(len(toks) AS INT) AS n_tokens,
         |  list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks) AS avg_token_len,
         |  ${markerSql("toks", EnMarkers)}::DOUBLE / len(toks) AS stopword_ratio,
         |  len(regexp_extract_all(text, '[0-9]'))::DOUBLE / length(text) AS digit_ratio
         |  FROM t)
         |SELECT doc_id, n_tokens,
         |  ROUND(avg_token_len, 6) AS avg_token_len,
         |  ROUND(stopword_ratio, 6) AS stopword_ratio,
         |  ROUND(digit_ratio, 6) AS digit_ratio,
         |  ROUND(least(1.0, n_tokens / 200.0) * 0.5 + (1.0 - digit_ratio) * 0.3 +
         |        least(1.0, avg_token_len / 8.0) * 0.2, 6) AS quality
         |FROM m ORDER BY doc_id""".stripMargin,

    "tx04_fingerprint" ->
      s"""WITH t AS (SELECT doc_id, text, $ToksSql AS toks FROM documents),
         |s AS (SELECT doc_id, text,
         |      ${hashesSql(shinglesSql("toks"))} AS shs FROM t)
         |SELECT doc_id,
         |  COALESCE(list_min(shs),
         |           CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)) AS fp
         |FROM s ORDER BY doc_id""".stripMargin,

    "tx05_top_bigrams" ->
      s"""WITH t AS (SELECT $ToksSql AS toks FROM documents),
         |b AS (SELECT unnest(list_transform(range(1, greatest(len(toks), 1)),
         |        i -> array_to_string(toks[i:i+1], ' '))) AS bigram FROM t)
         |SELECT bigram, COUNT(*) AS n FROM b
         |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin,

    "tx06_repetition" ->
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |m AS (SELECT doc_id,
         |  greatest(len(toks) - 2, 0) AS total,
         |  len(${hashesSql(shinglesSql("toks"))}) AS dist
         |  FROM t)
         |SELECT doc_id, CAST(total AS INT) AS n_trigrams,
         |  CASE WHEN total > 0
         |       THEN ROUND(1.0 - dist::DOUBLE / total, 6)
         |       ELSE 0.0 END AS repetition
         |FROM m ORDER BY doc_id""".stripMargin,

    "tx07_patterns" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS INT) AS n_urls,
        |  CAST(len(regexp_extract_all(text, '[0-9]{6,}')) AS INT) AS n_digit_runs
        |FROM documents ORDER BY doc_id""".stripMargin,

    "tx08_tfidf" ->
      s"""WITH tok AS (SELECT doc_id, unnest($ToksSql) AS term FROM documents),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
         |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |ranked AS (SELECT doc_id, term, tf, df,
         |    tf * ln(n_docs::DOUBLE / df) AS score,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id
         |      ORDER BY tf DESC, df ASC, term ASC) AS rnk
         |  FROM tf JOIN dfreq USING (term) CROSS JOIN n)
         |SELECT doc_id, term, tf, df, CAST(rnk AS INT) AS rank,
         |  ROUND(score, 6) AS score
         |FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rank""".stripMargin,

    "dd09_contamination" ->
      s"""WITH t AS (SELECT doc_id AS id, $ToksSql AS toks FROM documents),
         |sh AS (SELECT id, ${hashesSql(shinglesSql("toks"))} AS shs FROM t),
         |ne AS (SELECT id, shs FROM sh WHERE len(shs) > 0),
         |evh AS (SELECT DISTINCT unnest(shs) AS h FROM ne WHERE id % 25 = 0),
         |tr AS (SELECT id, shs FROM ne WHERE id % 25 != 0),
         |x AS (SELECT id, unnest(shs) AS h FROM tr),
         |hit AS (SELECT id, COUNT(*) AS n_hit
         |        FROM x JOIN evh USING (h) GROUP BY id)
         |SELECT tr.id AS doc_id, CAST(len(tr.shs) AS INT) AS n_shingles,
         |  COALESCE(hit.n_hit, 0) AS n_hit,
         |  ROUND(COALESCE(hit.n_hit, 0)::DOUBLE / len(tr.shs), 6) AS contamination
         |FROM tr LEFT JOIN hit ON tr.id = hit.id
         |ORDER BY doc_id""".stripMargin,

    "dd10_cross_neardup" ->
      s"""WITH $CorpusNearSql,
         |tk AS (SELECT doc_id AS id, $ToksSql AS toks FROM corpus),
         |sh AS (SELECT id, ${hashesSql(shinglesSql("toks"))} AS shs FROM tk),
         |sig AS (SELECT id, shs, ${minhashSigSql("shs", 16)} AS sig
         |        FROM sh WHERE len(shs) > 0),
         |banded AS (SELECT id, shs, b,
         |    md5(sig[b*4+1]::VARCHAR || '|' || sig[b*4+2]::VARCHAR || '|' ||
         |        sig[b*4+3]::VARCHAR || '|' || sig[b*4+4]::VARCHAR) AS key
         |  FROM sig CROSS JOIN range(0, 4) t(b)),
         |cand AS (SELECT DISTINCT a.id AS probe_id, b.id AS corpus_id
         |  FROM banded a JOIN banded b ON a.b = b.b AND a.key = b.key
         |  WHERE a.id >= 1000000 AND b.id < 1000000),
         |pairs AS (SELECT probe_id, corpus_id,
         |    len(list_intersect(sa.shs, sb.shs))::DOUBLE /
         |    len(list_distinct(list_concat(sa.shs, sb.shs))) AS jac
         |  FROM cand JOIN sh sa ON cand.probe_id = sa.id
         |            JOIN sh sb ON cand.corpus_id = sb.id)
         |SELECT probe_id, corpus_id, ROUND(jac, 6) AS jac FROM pairs
         |WHERE jac >= 0.6 ORDER BY probe_id, corpus_id""".stripMargin,

    // Persistence is semantically invisible: dd15 must return exactly
    // the direct cross-corpus result, so its oracle IS dd10's.
    "dd15_index_probe" ->
      s"""WITH $CorpusNearSql,
         |tk AS (SELECT doc_id AS id, $ToksSql AS toks FROM corpus),
         |sh AS (SELECT id, ${hashesSql(shinglesSql("toks"))} AS shs FROM tk),
         |sig AS (SELECT id, shs, ${minhashSigSql("shs", 16)} AS sig
         |        FROM sh WHERE len(shs) > 0),
         |banded AS (SELECT id, shs, b,
         |    md5(sig[b*4+1]::VARCHAR || '|' || sig[b*4+2]::VARCHAR || '|' ||
         |        sig[b*4+3]::VARCHAR || '|' || sig[b*4+4]::VARCHAR) AS key
         |  FROM sig CROSS JOIN range(0, 4) t(b)),
         |cand AS (SELECT DISTINCT a.id AS probe_id, b.id AS corpus_id
         |  FROM banded a JOIN banded b ON a.b = b.b AND a.key = b.key
         |  WHERE a.id >= 1000000 AND b.id < 1000000),
         |pairs AS (SELECT probe_id, corpus_id,
         |    len(list_intersect(sa.shs, sb.shs))::DOUBLE /
         |    len(list_distinct(list_concat(sa.shs, sb.shs))) AS jac
         |  FROM cand JOIN sh sa ON cand.probe_id = sa.id
         |            JOIN sh sb ON cand.corpus_id = sb.id)
         |SELECT probe_id, corpus_id, ROUND(jac, 6) AS jac FROM pairs
         |WHERE jac >= 0.6 ORDER BY probe_id, corpus_id""".stripMargin,

    "dd16_index_dedup" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id, text || '$Marker' AS text
         |  FROM documents WHERE doc_id % 20 = 0
         |  UNION ALL
         |  SELECT doc_id + 3000000 AS doc_id,
         |    'novel doc ' || CAST(doc_id AS VARCHAR) ||
         |    ' alpha beta gamma' AS text
         |  FROM documents WHERE doc_id % 20 = 0),
         |tk AS (SELECT doc_id AS id, $ToksSql AS toks FROM corpus),
         |sh AS (SELECT id, ${hashesSql(shinglesSql("toks"))} AS shs FROM tk),
         |sig AS (SELECT id, shs, ${minhashSigSql("shs", 16)} AS sig
         |        FROM sh WHERE len(shs) > 0),
         |banded AS (SELECT id, b,
         |    md5(sig[b*4+1]::VARCHAR || '|' || sig[b*4+2]::VARCHAR || '|' ||
         |        sig[b*4+3]::VARCHAR || '|' || sig[b*4+4]::VARCHAR) AS key
         |  FROM sig CROSS JOIN range(0, 4) t(b)),
         |cand AS (SELECT DISTINCT a.id AS probe_id, b.id AS corpus_id
         |  FROM banded a JOIN banded b ON a.b = b.b AND a.key = b.key
         |  WHERE a.id >= 1000000 AND b.id < 1000000),
         |pairs AS (SELECT probe_id,
         |    len(list_intersect(sa.shs, sb.shs))::DOUBLE /
         |    len(list_distinct(list_concat(sa.shs, sb.shs))) AS jac
         |  FROM cand JOIN sh sa ON cand.probe_id = sa.id
         |            JOIN sh sb ON cand.corpus_id = sb.id),
         |matched AS (SELECT DISTINCT probe_id FROM pairs WHERE jac >= 0.6)
         |SELECT doc_id, md5(text) AS text_md5 FROM corpus
         |WHERE doc_id >= 1000000
         |  AND doc_id NOT IN (SELECT probe_id FROM matched)
         |ORDER BY doc_id""".stripMargin,

    // The stored embed index must equal the blocking-free probe x
    // corpus all-pairs cosine spec (cells and persistence invisible).
    "dd17_embed_index_probe" ->
      """WITH corpus AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
        |  FROM embeddings),
        |probe AS (
        |  SELECT vec_id + 1000000 AS vec_id,
        |    CAST(embedding AS DOUBLE[]) AS vec
        |  FROM embeddings WHERE vec_id % 50 = 0)
        |SELECT p.vec_id AS probe_id, c.vec_id AS corpus_id,
        |  ROUND(list_cosine_similarity(p.vec, c.vec), 6) AS cos
        |FROM probe p JOIN corpus c
        |  ON list_cosine_similarity(p.vec, c.vec) >= 0.995
        |ORDER BY probe_id, corpus_id""".stripMargin,

    "dd18_embed_index_dedup" ->
      """WITH corpus AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec
        |  FROM embeddings),
        |probe AS (
        |  SELECT vec_id + 1000000 AS vec_id,
        |    CAST(embedding AS DOUBLE[]) AS vec
        |  FROM embeddings WHERE vec_id % 50 = 0
        |  UNION ALL
        |  SELECT vec_id + 3000000 AS vec_id,
        |    list_transform(CAST(embedding AS DOUBLE[]), x -> -x) AS vec
        |  FROM embeddings WHERE vec_id % 50 = 10)
        |SELECT p.vec_id AS vec_id FROM probe p
        |WHERE NOT EXISTS (SELECT 1 FROM corpus c
        |  WHERE list_cosine_similarity(p.vec, c.vec) >= 0.995)
        |ORDER BY vec_id""".stripMargin,

    "dd11_line_dedup" ->
      """WITH corpus AS (SELECT doc_id,
        |    text || chr(10) || 'graft boilerplate footer' ||
        |    CASE WHEN doc_id % 3 = 0
        |         THEN chr(10) || 'subscribe to graft updates' ELSE '' END ||
        |    chr(10) || 'ref ' || CAST(doc_id AS VARCHAR) AS text
        |  FROM documents),
        |lines AS (SELECT doc_id,
        |    unnest(string_split(text, chr(10))) AS line,
        |    generate_subscripts(string_split(text, chr(10)), 1) AS pos
        |  FROM corpus),
        |boiler AS (SELECT line FROM lines
        |  GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 10),
        |kept AS (SELECT doc_id, line, pos FROM lines
        |  WHERE line NOT IN (SELECT line FROM boiler)),
        |reb AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |    string_agg(line, chr(10) ORDER BY pos) AS text
        |  FROM kept GROUP BY doc_id),
        |tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines
        |  FROM lines GROUP BY doc_id)
        |SELECT t.doc_id, t.n_lines,
        |  CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
        |  md5(COALESCE(r.text, '')) AS text_md5
        |FROM tot t LEFT JOIN reb r USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "dd14_semantic_keep_one" ->
      """WITH RECURSIVE v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[])
        |  FROM embeddings WHERE vec_id % 50 = 0),
        |pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM v a JOIN v b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.vec, b.vec) >= 0.995),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(id, label) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id),
        |nonrep AS (SELECT id FROM (
        |  SELECT id, MIN(label) AS rep FROM reach GROUP BY id)
        |  WHERE rep != id)
        |SELECT vec_id FROM v
        |WHERE vec_id NOT IN (SELECT id FROM nonrep)
        |ORDER BY vec_id""".stripMargin,

    "dd12_substring_fps" ->
      s"""WITH corpus AS (SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 0 THEN text || ' $Quote'
         |         ELSE text END AS text
         |  FROM documents),
         |$WinnowSql,
         |sh AS (SELECT fp FROM x GROUP BY fp
         |       HAVING COUNT(DISTINCT doc_id) >= 2),
         |pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fps
         |       FROM x GROUP BY doc_id),
         |sd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
         |       FROM x WHERE fp IN (SELECT fp FROM sh) GROUP BY doc_id)
         |SELECT pd.doc_id, pd.n_fps,
         |  CAST(COALESCE(sd.n_shared, 0) AS BIGINT) AS n_shared,
         |  CAST(COALESCE(sd.n_shared, 0) > 0 AS INT) AS has_shared
         |FROM pd LEFT JOIN sd USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "pp01_curation" ->
      s"""WITH RECURSIVE $CorpusNearSql,
         |$curateSampSql,
         |cum AS (SELECT doc_id, n_tokens,
         |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    AS gcum
         |  FROM samp)
         |SELECT doc_id, n_tokens, gcum, gcum // 2048 AS bin
         |FROM cum ORDER BY doc_id""".stripMargin,

    "pp09_training_order" ->
      s"""WITH RECURSIVE $CorpusNearSql,
         |$curateSampSql,
         |ord AS (SELECT doc_id, n_tokens,
         |  ROW_NUMBER() OVER (ORDER BY
         |    CAST(('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15))
         |         AS BIGINT),
         |    doc_id) AS pos
         |  FROM samp),
         |c AS (SELECT doc_id, pos, n_tokens AS n,
         |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY pos
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    AS g
         |  FROM ord WHERE n_tokens >= 1),
         |b AS (SELECT doc_id, pos, n, g,
         |    unnest(generate_series(g // 256, (g + n - 1) // 256)) AS bin
         |  FROM c)
         |SELECT doc_id, CAST(pos AS BIGINT) AS pos, CAST(bin AS BIGINT) AS bin,
         |  CAST(GREATEST(0, bin * 256 - g) AS BIGINT) AS span_start,
         |  CAST(LEAST(n, (bin + 1) * 256 - g) -
         |    GREATEST(0, bin * 256 - g) AS BIGINT) AS span_len
         |FROM b ORDER BY doc_id, bin""".stripMargin,

    "pp11_shard_writeback" ->
      s"""WITH RECURSIVE $CorpusNearSql,
         |$curateSampSql,
         |ord AS (SELECT doc_id, n_tokens,
         |  ROW_NUMBER() OVER (ORDER BY
         |    CAST(('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15))
         |         AS BIGINT),
         |    doc_id) AS pos
         |  FROM samp),
         |c AS (SELECT doc_id, pos, n_tokens AS n,
         |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY pos
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    AS g
         |  FROM ord WHERE n_tokens >= 1),
         |b AS (SELECT doc_id, pos, n, g,
         |    unnest(generate_series(g // 256, (g + n - 1) // 256)) AS bin
         |  FROM c),
         |sp AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         |  CAST(bin AS BIGINT) AS bin,
         |  CAST(GREATEST(0, bin * 256 - g) AS BIGINT) AS span_start,
         |  CAST(LEAST(n, (bin + 1) * 256 - g) -
         |    GREATEST(0, bin * 256 - g) AS BIGINT) AS span_len
         |  FROM b),
         |o AS (SELECT *, ROW_NUMBER() OVER (ORDER BY bin, pos) - 1 AS rk,
         |    COUNT(*) OVER () AS total FROM sp)
         |SELECT doc_id, pos, bin, span_start, span_len,
         |  CAST((rk * 8) // total AS BIGINT) AS shard,
         |  CAST(rk AS BIGINT) AS "offset"
         |FROM o ORDER BY rk""".stripMargin,

    "pp12_span_content" ->
      s"""WITH RECURSIVE $CorpusNearSql,
         |$curateSampSql,
         |ord AS (SELECT doc_id, n_tokens,
         |  ROW_NUMBER() OVER (ORDER BY
         |    CAST(('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15))
         |         AS BIGINT),
         |    doc_id) AS pos
         |  FROM samp),
         |c AS (SELECT doc_id, pos, n_tokens AS n,
         |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY pos
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    AS g
         |  FROM ord WHERE n_tokens >= 1),
         |b AS (SELECT doc_id, pos, n, g,
         |    unnest(generate_series(g // 256, (g + n - 1) // 256)) AS bin
         |  FROM c),
         |sp AS (SELECT doc_id, pos, CAST(bin AS BIGINT) AS bin,
         |  CAST(GREATEST(0, bin * 256 - g) AS BIGINT) AS span_start,
         |  CAST(LEAST(n, (bin + 1) * 256 - g) -
         |    GREATEST(0, bin * 256 - g) AS BIGINT) AS span_len
         |  FROM b),
         |sc AS (SELECT sp.doc_id, sp.pos, sp.bin,
         |  array_to_string(list_slice(t.toks, sp.span_start + 1,
         |    sp.span_start + sp.span_len), ' ') AS content
         |  FROM sp JOIN t USING (doc_id)),
         |o AS (SELECT *, ROW_NUMBER() OVER (ORDER BY bin, pos) - 1 AS rk,
         |    COUNT(*) OVER () AS total FROM sc)
         |SELECT doc_id, bin, content,
         |  CAST((rk * 8) // total AS BIGINT) AS shard,
         |  CAST(rk AS BIGINT) AS "offset"
         |FROM o ORDER BY rk""".stripMargin,

    "pp02_token_budget" ->
      s"""WITH t AS (SELECT doc_id, source,
         |    CAST(len($ToksSql) AS BIGINT) AS n_tokens
         |  FROM documents),
         |c AS (SELECT doc_id, source, n_tokens,
         |  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source
         |    ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    AS gcum
         |  FROM t)
         |SELECT doc_id, source, n_tokens, gcum FROM c
         |WHERE gcum + n_tokens <= 800 ORDER BY doc_id""".stripMargin,

    "pp03_domain_mix" ->
      """WITH s AS (SELECT source, COUNT(*) AS n, SUM(n_chars) AS chars
        |           FROM documents GROUP BY source),
        |w AS (SELECT source, n, sqrt(CAST(chars AS DOUBLE)) AS sw FROM s),
        |t AS (SELECT SUM(n) AS tn, SUM(sw) AS tsw FROM w),
        |tk AS (SELECT source,
        |    CAST(floor(floor(tn * 0.4) * sw / tsw) AS BIGINT) AS n_take
        |  FROM w CROSS JOIN t),
        |r AS (SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY
        |      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |           AS BIGINT),
        |      doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, source FROM r JOIN tk USING (source)
        |WHERE rn <= n_take ORDER BY doc_id""".stripMargin,

    "tx11_pii_scrub" ->
      """WITH corpus AS (SELECT doc_id,
        |  CASE WHEN doc_id % 10 = 0 THEN
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |    '@example.com via 10.0.0.' || CAST(doc_id % 256 AS VARCHAR) ||
        |    ' or 555-867-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |  ELSE text END AS text FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) +
        |    len(regexp_extract_all(text,
        |      '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) +
        |    len(regexp_extract_all(text,
        |      '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b')) AS INT) AS n_redacted,
        |  md5(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
        |    '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g')) AS scrub_md5
        |FROM corpus ORDER BY doc_id""".stripMargin,

    "tx14_quality_logreg" -> {
      val stops = EnMarkers.map(w => s"'$w'").mkString(", ")
      s"""WITH t AS (SELECT doc_id, text, $ToksSql AS toks FROM documents),
         |m AS (SELECT doc_id,
         |    least(1.0, len(toks) / 200.0) AS f1,
         |    len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
         |      / len(toks) AS f2,
         |    len(list_filter(toks, x -> x IN ($stops)))::DOUBLE
         |      / len(toks) AS f3,
         |    len(regexp_extract_all(text, '[0-9]'))::DOUBLE
         |      / length(text) AS f4
         |  FROM t WHERE len(toks) > 0),
         |z AS (SELECT doc_id,
         |    f1 * 2.0 + f2 * 1.5 + f3 * 3.0 + f4 * -4.0 - 1.2 AS z FROM m)
         |SELECT doc_id, ROUND(1.0 / (1.0 + exp(-z)), 6) AS p_keep,
         |  CAST(z >= 0 AS INT) AS keep
         |FROM z ORDER BY doc_id""".stripMargin
    },

    // Chained-CTE gradient descent: i0 = zero weights; g_t = the
    // gradient/loss aggregate at i_{t-1}; i_t = the update. The
    // trajectory row for iter t pairs i_t's weights with g_t's loss.
    "tx15_logreg_fit" -> {
      val stops = EnMarkers.map(w => s"'$w'").mkString(", ")
      def g(i: Int) =
        s"""g$i AS (SELECT AVG(p - y) AS gb, AVG((p - y) * f1) AS g1,
           |    AVG((p - y) * f2) AS g2, AVG((p - y) * f3) AS g3,
           |    AVG((p - y) * f4) AS g4,
           |    AVG(-(y * ln(p) + (1 - y) * ln(1 - p))) AS loss
           |  FROM (SELECT m.*,
           |      1.0 / (1.0 + exp(-(b + w1*f1 + w2*f2 + w3*f3 + w4*f4))) AS p
           |    FROM m, i${i - 1}))""".stripMargin
      def it(i: Int) =
        s"""i$i AS (SELECT b - gb AS b, w1 - g1 AS w1, w2 - g2 AS w2,
           |    w3 - g3 AS w3, w4 - g4 AS w4 FROM i${i - 1}, g$i)""".stripMargin
      def row(i: Int) =
        s"""SELECT $i AS iter, ROUND(b, 6) AS bias, ROUND(w1, 6) AS w1,
           |  ROUND(w2, 6) AS w2, ROUND(w3, 6) AS w3, ROUND(w4, 6) AS w4,
           |  ROUND((SELECT loss FROM g$i), 6) AS loss_pre FROM i$i""".stripMargin
      s"""WITH t AS (SELECT doc_id, text, $ToksSql AS toks FROM documents),
         |m AS (SELECT
         |    least(1.0, len(toks) / 200.0) AS f1,
         |    len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
         |      / len(toks) AS f2,
         |    len(list_filter(toks, x -> x IN ($stops)))::DOUBLE
         |      / len(toks) AS f3,
         |    len(regexp_extract_all(text, '[0-9]'))::DOUBLE
         |      / length(text) AS f4,
         |    CAST(length(text) > 300 AS DOUBLE) AS y
         |  FROM t WHERE len(toks) > 0),
         |i0 AS (SELECT 0.0 AS b, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3, 0.0 AS w4),
         |${g(1)}, ${it(1)}, ${g(2)}, ${it(2)}, ${g(3)}, ${it(3)}
         |${row(1)} UNION ALL ${row(2)} UNION ALL ${row(3)}
         |ORDER BY iter""".stripMargin
    },

    // Trained and scored on the same corpus, so every scored bigram is
    // in the counts (the engine still LEFT-joins for generality).
    "tx16_bigram_ppl" ->
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents
         |           WHERE len($ToksSql) >= 2),
         |bg AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
         |       FROM (SELECT doc_id, toks,
         |               unnest(generate_series(1, len(toks) - 1)) AS i
         |             FROM t)),
         |cnt AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY w1, w2),
         |ctx AS (SELECT w1, SUM(c) AS c1 FROM cnt GROUP BY w1),
         |v AS (SELECT COUNT(DISTINCT tok) AS v
         |      FROM (SELECT unnest(toks) AS tok FROM t)),
         |sc AS (SELECT bg.doc_id,
         |    ln((cnt.c + 1.0) / (ctx.c1 + 1.0 * (SELECT v FROM v))) AS lp
         |  FROM bg JOIN cnt USING (w1, w2) JOIN ctx USING (w1))
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |  ROUND(exp(-AVG(lp)), 6) AS ppl
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "tx19_stupid_backoff" ->
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents
         |           WHERE len($ToksSql) >= 3),
         |tg AS (SELECT toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3
         |       FROM (SELECT toks,
         |               unnest(generate_series(1, len(toks) - 2)) AS i
         |             FROM t)),
         |c3 AS (SELECT w1, w2, w3, COUNT(*) AS c FROM tg GROUP BY w1, w2, w3),
         |bgp AS (SELECT toks[i] AS w1, toks[i + 1] AS w2
         |        FROM (SELECT toks,
         |                unnest(generate_series(1, len(toks) - 1)) AS i
         |              FROM t)),
         |c2 AS (SELECT w1, w2, COUNT(*) AS c FROM bgp GROUP BY w1, w2),
         |c1 AS (SELECT w, COUNT(*) AS c
         |       FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
         |nn AS (SELECT CAST(SUM(len(toks)) AS BIGINT) AS n FROM t),
         |probe AS (SELECT doc_id,
         |    toks || toks[1:2] || ['graftzz'] AS toks FROM t),
         |ptg AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2,
         |          toks[i + 2] AS w3
         |        FROM (SELECT doc_id, toks,
         |                unnest(generate_series(1, len(toks) - 2)) AS i
         |              FROM probe)),
         |j AS (SELECT ptg.doc_id, t3.c AS c3v, b12.c AS c12, b23.c AS c23,
         |        u2.c AS c2v, u3.c AS c3u
         |  FROM ptg LEFT JOIN c3 t3 USING (w1, w2, w3)
         |    LEFT JOIN c2 b12 ON ptg.w1 = b12.w1 AND ptg.w2 = b12.w2
         |    LEFT JOIN c2 b23 ON ptg.w2 = b23.w1 AND ptg.w3 = b23.w2
         |    LEFT JOIN c1 u2 ON ptg.w2 = u2.w
         |    LEFT JOIN c1 u3 ON ptg.w3 = u3.w),
         |s AS (SELECT doc_id, ln(CASE
         |    WHEN COALESCE(c3v, 0) > 0 THEN c3v::DOUBLE / c12
         |    WHEN COALESCE(c23, 0) > 0 THEN 0.4 * (c23::DOUBLE / c2v)
         |    ELSE 0.4 * 0.4 * (GREATEST(COALESCE(c3u, 0), 1)::DOUBLE /
         |      (SELECT n FROM nn)) END) AS ls FROM j)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
         |  ROUND(AVG(ls), 6) AS mean_log_s
         |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "tx20_vocab_coverage" ->
      s"""WITH toks AS (SELECT doc_id, unnest($ToksSql) AS tok FROM documents),
         |vocab AS (SELECT tok FROM (SELECT tok, COUNT(*) AS c FROM toks
         |            GROUP BY tok ORDER BY c DESC, tok ASC LIMIT 16)),
         |j AS (SELECT t.doc_id, v.tok AS vt FROM toks t
         |      LEFT JOIN vocab v ON t.tok = v.tok)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |  CAST(COUNT(CASE WHEN vt IS NULL THEN 1 END) AS BIGINT) AS n_oov,
         |  ROUND(COUNT(CASE WHEN vt IS NULL THEN 1 END)::DOUBLE / COUNT(*), 6)
         |    AS oov_rate
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "tx21_count_of_counts" ->
      s"""WITH t AS (SELECT $ToksSql AS toks FROM documents),
         |tg AS (SELECT toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
         |         AS tok
         |       FROM (SELECT toks,
         |               unnest(generate_series(1, len(toks) - 2)) AS i
         |             FROM t)),
         |f AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
         |      FROM tg GROUP BY tok),
         |nr AS (SELECT c AS r, CAST(COUNT(*) AS BIGINT) AS n_r
         |       FROM f GROUP BY c),
         |x AS (SELECT r, n_r,
         |        CASE WHEN lead(r, 1) OVER (ORDER BY r) = r + 1
         |             THEN lead(n_r, 1) OVER (ORDER BY r) END AS nxt
         |      FROM nr)
         |SELECT r, n_r, ROUND((r + 1) * nxt::DOUBLE / n_r, 6) AS r_star
         |FROM x WHERE r <= 5 ORDER BY r""".stripMargin,

    // Relational formulation of keep-first-occurrence: min position
    // per (doc, line), re-aggregated in position order. The engine's
    // row-local fold must agree exactly.
    "tx17_line_dedup_within" ->
      """WITH corpus AS (SELECT doc_id,
        |    text || chr(10) || 'graft dup line' || chr(10) || 'unique ' ||
        |    CAST(doc_id AS VARCHAR) || chr(10) || 'graft dup line' ||
        |    chr(10) || 'graft dup line' AS text FROM documents),
        |ls AS (SELECT doc_id, lns[i] AS l, i
        |       FROM (SELECT doc_id, string_split(text, chr(10)) AS lns,
        |               unnest(generate_series(1,
        |                 len(string_split(text, chr(10))))) AS i
        |             FROM corpus)),
        |f AS (SELECT doc_id, l, MIN(i) AS fi FROM ls GROUP BY doc_id, l),
        |k AS (SELECT doc_id, string_agg(l, chr(10) ORDER BY fi) AS cleaned,
        |        CAST(COUNT(*) AS BIGINT) AS n_kept FROM f GROUP BY doc_id)
        |SELECT c.doc_id,
        |  CAST(len(string_split(c.text, chr(10))) AS BIGINT) AS n_lines,
        |  k.n_kept, md5(k.cleaned) AS text_md5
        |FROM corpus c JOIN k USING (doc_id) ORDER BY doc_id""".stripMargin,

    "tx18_html_strip" ->
      """WITH page AS (SELECT doc_id,
        |    '<html><head><title>d' || CAST(doc_id AS VARCHAR) ||
        |    '</title></head><body><h1>T&amp;C</h1><p>' || text ||
        |    '</p><a href="x?a=1&amp;b=2">link &lt;here&gt;</a>' ||
        |    '&#39;q&quot; </body></html>' AS h
        |  FROM documents),
        |s1 AS (SELECT doc_id, regexp_replace(h, '<[^>]*>', ' ', 'g') AS t
        |       FROM page),
        |s2 AS (SELECT doc_id, replace(replace(replace(replace(replace(t,
        |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |    '&#39;', chr(39)), '&amp;', '&') AS t FROM s1),
        |s3 AS (SELECT doc_id, trim(regexp_replace(t, '\s+', ' ', 'g')) AS t
        |       FROM s2)
        |SELECT doc_id, md5(t) AS text_md5, CAST(length(t) AS BIGINT) AS n_chars
        |FROM s3 ORDER BY doc_id""".stripMargin,

    // Mirrors TextFunctions.normalizeText (lower + fixed accent
    // translate + whitespace collapse) on the same mangled wrapper.
    // The corpus is ASCII, so the translate is a no-op here — the
    // accent table itself is pinned by TextChunkSpec goldens.
    "tx22_normalize" ->
      """WITH m AS (SELECT doc_id,
        |    upper(substr(text, 1, 40)) || '  ' || chr(9) || text ||
        |    ' ' || chr(10) || ' ' AS t
        |  FROM documents),
        |n AS (SELECT doc_id,
        |    trim(regexp_replace(lower(t), '\s+', ' ', 'g')) AS t FROM m)
        |SELECT doc_id, md5(t) AS norm_md5, CAST(length(t) AS BIGINT) AS n_chars
        |FROM n ORDER BY doc_id""".stripMargin,

    // Two LMs over the same bigram table: raw (all docs, inner joins —
    // self-trained, everything seen) and target (2-source slice, LEFT
    // joins + COALESCE mirroring the engine's smoothing of unseen
    // bigrams/contexts).
    "pp06_dsir_logratio" ->
      s"""WITH t AS (SELECT doc_id, source, $ToksSql AS toks FROM documents
         |           WHERE len($ToksSql) >= 2),
         |bg AS (SELECT doc_id, source, toks[i] AS w1, toks[i + 1] AS w2
         |       FROM (SELECT doc_id, source, toks,
         |               unnest(generate_series(1, len(toks) - 1)) AS i
         |             FROM t)),
         |cr AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY w1, w2),
         |xr AS (SELECT w1, SUM(c) AS c1 FROM cr GROUP BY w1),
         |vr AS (SELECT COUNT(DISTINCT tok) AS v
         |       FROM (SELECT unnest(toks) AS tok FROM t)),
         |ct AS (SELECT w1, w2, COUNT(*) AS c FROM bg
         |       WHERE source IN ('src0', 'src1') GROUP BY w1, w2),
         |xt AS (SELECT w1, SUM(c) AS c1 FROM ct GROUP BY w1),
         |vt AS (SELECT COUNT(DISTINCT tok) AS v
         |       FROM (SELECT unnest(toks) AS tok FROM t
         |             WHERE source IN ('src0', 'src1'))),
         |s AS (SELECT bg.doc_id,
         |    ln((cr.c + 1.0) / (xr.c1 + 1.0 * (SELECT v FROM vr))) AS lpr,
         |    ln((COALESCE(ct.c, 0) + 1.0) /
         |       (COALESCE(xt.c1, 0) + 1.0 * (SELECT v FROM vt))) AS lpt
         |  FROM bg JOIN cr USING (w1, w2) JOIN xr USING (w1)
         |    LEFT JOIN ct USING (w1, w2) LEFT JOIN xt USING (w1))
         |SELECT doc_id, ROUND(AVG(lpt) - AVG(lpr), 6) AS dsir_logw
         |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "pp07_shuffle_order" ->
      """SELECT doc_id, ROW_NUMBER() OVER (ORDER BY
        |    CAST(('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |         AS BIGINT),
        |    doc_id) AS pos
        |FROM documents ORDER BY doc_id""".stripMargin,

    "pp08_temperature_mix" ->
      """WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
        |t AS (SELECT CAST(SUM(n) AS DOUBLE) AS tn,
        |        SUM(pow(CAST(n AS DOUBLE), 0.5)) AS tp FROM c),
        |r AS (SELECT source,
        |    LEAST(1.0, 0.3 * tn * pow(CAST(n AS DOUBLE), 0.5) /
        |      (tp * CAST(n AS DOUBLE))) AS rate
        |  FROM c CROSS JOIN t)
        |SELECT doc_id, source FROM documents JOIN r USING (source)
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |        AS BIGINT) % 10000 < floor(rate * 10000)
        |ORDER BY doc_id""".stripMargin,

    // Mirrors Sampling.unimax(budget=900, maxEpochs=2): water-filling
    // over the per-lang counts (prefix saturates at cap, rest split the
    // remainder), then floor(rate) copies + the fractional hash test.
    // 2e0/900e0 literals keep DuckDB in DOUBLE (2.0 would be DECIMAL and
    // drift from Spark's f64 at the comparison boundaries).
    "pp13_unimax" ->
      """WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
        |s AS (SELECT lang, n, 2e0 * n AS cap,
        |        row_number() OVER (ORDER BY 2e0 * n, lang) AS i,
        |        SUM(2e0 * n) OVER (ORDER BY 2e0 * n, lang
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
        |        (SELECT COUNT(*) FROM c) AS k
        |      FROM c),
        |m AS (SELECT COALESCE(MAX(CASE WHEN cap * (k - i + 1) <= 900e0 - (p - cap)
        |                THEN i END), 0) AS m,
        |        COALESCE(SUM(CASE WHEN cap * (k - i + 1) <= 900e0 - (p - cap)
        |                THEN cap END), 0e0) AS pm
        |      FROM s),
        |r AS (SELECT lang,
        |        (CASE WHEN i <= m THEN cap
        |              ELSE (900e0 - pm) / (k - m) END) / n AS rate
        |      FROM s CROSS JOIN m),
        |d AS (SELECT doc_id, lang,
        |        CAST(FLOOR(rate) AS BIGINT) +
        |          CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |                 AS BIGINT) % 10000 < FLOOR((rate - FLOOR(rate)) * 10000)
        |               THEN 1 ELSE 0 END AS copies
        |      FROM documents JOIN r USING (lang))
        |SELECT doc_id, lang,
        |  CAST(unnest(generate_series(1, copies)) AS BIGINT) AS epoch
        |FROM d WHERE copies >= 1 ORDER BY doc_id, epoch""".stripMargin,

    // Mirrors Masking.spanCorrupt(block=16, span=3, seed="span"):
    // offs[k+1] is the masked-span offset in block k, NULL for a tail
    // block shorter than the span (which passes through unmasked).
    "pp10_span_corrupt" ->
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |c AS (SELECT doc_id, toks, len(toks) AS n,
         |      (len(toks) + 15) // 16 AS nb FROM t),
         |m AS (SELECT doc_id, toks, n,
         |    list_transform(range(0, nb), k ->
         |      CASE WHEN least(16, n - k * 16) >= 3 THEN
         |        CAST(('0x' || substr(md5('span:' || CAST(doc_id AS VARCHAR)
         |          || ':' || CAST(k AS VARCHAR)), 1, 15)) AS BIGINT)
         |        % (least(16, n - k * 16) - 2)
         |      ELSE NULL END) AS offs
         |  FROM c)
         |SELECT doc_id,
         |  CAST(3 * len(list_filter(offs, o -> o IS NOT NULL)) AS INT)
         |    AS n_masked,
         |  array_to_string(flatten(list_transform(range(0, len(offs)), k ->
         |    CASE WHEN offs[k + 1] IS NULL
         |    THEN toks[k * 16 + 1 : k * 16 + least(16, n - k * 16)]
         |    ELSE toks[k * 16 + 1 : k * 16 + offs[k + 1]]
         |      || ['<extra_id_' || CAST(k AS VARCHAR) || '>']
         |      || toks[k * 16 + offs[k + 1] + 4 : k * 16 + least(16, n - k * 16)]
         |    END)), ' ') AS masked_input,
         |  array_to_string(flatten(list_transform(range(0, len(offs)), k ->
         |    CASE WHEN offs[k + 1] IS NULL THEN []
         |    ELSE ['<extra_id_' || CAST(k AS VARCHAR) || '>']
         |      || toks[k * 16 + offs[k + 1] + 1 : k * 16 + offs[k + 1] + 3]
         |    END)), ' ') AS targets
         |FROM m ORDER BY doc_id""".stripMargin,

    "tx13_token_entropy" ->
      s"""WITH x AS (SELECT doc_id, unnest($ToksSql) AS tok FROM documents),
         |c AS (SELECT doc_id, tok, COUNT(*) AS c FROM x GROUP BY doc_id, tok),
         |t AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
         |        CAST(COUNT(*) AS BIGINT) AS n_distinct
         |      FROM c GROUP BY doc_id)
         |SELECT c.doc_id, t.n AS n_tokens, t.n_distinct,
         |  ROUND(-SUM((c::DOUBLE / n) * log2(c::DOUBLE / n)) + 0.0, 6)
         |    AS entropy_bits
         |FROM c JOIN t USING (doc_id)
         |GROUP BY c.doc_id, t.n, t.n_distinct
         |ORDER BY doc_id""".stripMargin,

    "tx12_gopher_quality" -> {
      val stops = GopherStops.map(w => s"'$w'").mkString(", ")
      s"""WITH t AS (SELECT doc_id, text, $ToksSql AS toks FROM documents),
         |m AS (SELECT doc_id, len(toks) AS nw,
         |    list_sum(list_transform(toks, x -> length(x)))::DOUBLE
         |      / len(toks) AS mean_len,
         |    len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
         |      / len(toks) AS alpha_frac,
         |    (len(regexp_extract_all(text, '#')) +
         |     len(regexp_extract_all(text, '\\.\\.\\.')))::DOUBLE
         |      / len(toks) AS sym_ratio,
         |    len(list_intersect(list_distinct(list_transform(toks,
         |        x -> lower(x))), [$stops])) AS stops
         |  FROM t WHERE len(toks) > 0),
         |f AS (SELECT doc_id, nw,
         |    (nw >= 50 AND nw <= 100000) AS f_words,
         |    (mean_len >= 3.0 AND mean_len <= 10.0) AS f_mean_len,
         |    (sym_ratio < 0.1) AS f_symbols,
         |    (alpha_frac > 0.8) AS f_alpha,
         |    (stops >= 2) AS f_stopwords
         |  FROM m)
         |SELECT doc_id, CAST(nw AS INT) AS n_words,
         |  CAST(f_words AS INT) AS f_words,
         |  CAST(f_mean_len AS INT) AS f_mean_len,
         |  CAST(f_symbols AS INT) AS f_symbols,
         |  CAST(f_alpha AS INT) AS f_alpha,
         |  CAST(f_stopwords AS INT) AS f_stopwords,
         |  CAST(f_words AND f_mean_len AND f_symbols AND f_alpha
         |       AND f_stopwords AS INT) AS pass
         |FROM f ORDER BY doc_id""".stripMargin
    },

    "tx10_bpe_tokens" -> {
      val pat = BpeIshPattern.replace("'", "''")
      s"""WITH m AS (SELECT doc_id,
         |    CAST(len(regexp_extract_all(text, '$pat')) AS INT) AS n_bpe_tokens,
         |    CAST(len($ToksSql) AS INT) AS n_ws_tokens
         |  FROM documents)
         |SELECT doc_id, n_bpe_tokens, n_ws_tokens,
         |  CASE WHEN n_ws_tokens > 0
         |       THEN ROUND(n_bpe_tokens::DOUBLE / n_ws_tokens, 6)
         |       ELSE 0.0 END AS fertility
         |FROM m ORDER BY doc_id""".stripMargin
    },

    "tx09_token_chunks" ->
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |e AS (SELECT doc_id, toks, len(toks) AS n,
         |    unnest(range(0, CAST(greatest(len(toks) - 10, 1) AS BIGINT), 40)) AS s
         |  FROM t WHERE len(toks) > 0)
         |SELECT doc_id, CAST(s // 40 AS INT) AS chunk_idx,
         |  CAST(least(50, n - s) AS INT) AS n_chunk_tokens,
         |  md5(array_to_string(list_transform(range(s, least(s + 50, n)),
         |    j -> toks[CAST(j + 1 AS INT)]), ' ')) AS chunk_md5
         |FROM e ORDER BY doc_id, chunk_idx""".stripMargin,

    "sq01_packing" ->
      s"""WITH t AS (SELECT doc_id, CAST(len($ToksSql) AS BIGINT) AS n_tokens
         |           FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS gcum
         |  FROM t)
         |SELECT doc_id, n_tokens, gcum, gcum // 2048 AS bin,
         |  gcum % 2048 AS bin_offset
         |FROM c ORDER BY doc_id""".stripMargin,

    "sq02_pack_spans" ->
      s"""WITH t AS (SELECT doc_id, CAST(len($ToksSql) AS BIGINT) AS n
         |           FROM documents WHERE len($ToksSql) >= 1),
         |c AS (SELECT doc_id, n,
         |    CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS g
         |  FROM t),
         |b AS (SELECT doc_id, n, g,
         |    unnest(generate_series(g // 512, (g + n - 1) // 512)) AS bin
         |  FROM c)
         |SELECT doc_id, CAST(bin AS BIGINT) AS bin,
         |  CAST(GREATEST(0, bin * 512 - g) AS BIGINT) AS span_start,
         |  CAST(LEAST(n, (bin + 1) * 512 - g) -
         |    GREATEST(0, bin * 512 - g) AS BIGINT) AS span_len
         |FROM b ORDER BY doc_id, bin""".stripMargin,

    "sq03_pack_report" ->
      s"""WITH t AS (SELECT doc_id, CAST(len($ToksSql) AS BIGINT) AS n
         |           FROM documents WHERE len($ToksSql) >= 1),
         |c AS (SELECT doc_id, n,
         |    CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS g
         |  FROM t),
         |b AS (SELECT doc_id, n, g,
         |    unnest(generate_series(g // 512, (g + n - 1) // 512)) AS bin
         |  FROM c),
         |sp AS (SELECT n, CAST(bin AS BIGINT) AS bin,
         |    GREATEST(0, bin * 512 - g) AS span_start,
         |    LEAST(n, (bin + 1) * 512 - g) - GREATEST(0, bin * 512 - g)
         |      AS span_len
         |  FROM b)
         |SELECT bin, COUNT(*) AS n_spans,
         |  CAST(SUM(CASE WHEN span_len = n THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_whole,
         |  CAST(SUM(CASE WHEN span_start = 0 AND span_len < n THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_head,
         |  CAST(SUM(CASE WHEN span_start > 0 AND span_start + span_len = n
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_tail,
         |  CAST(SUM(CASE WHEN span_start > 0 AND span_start + span_len < n
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_mid,
         |  CAST(SUM(span_len) AS BIGINT) AS filled,
         |  CAST(SUM(span_len) AS DOUBLE) / 512 AS fill_ratio
         |FROM sp GROUP BY bin ORDER BY bin""".stripMargin,

    "mm01_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |  md5(text) AS digest,
        |  CASE WHEN substr(text, 1, 1) = '{' THEN 'application/json'
        |       ELSE 'text/plain' END AS kind
        |FROM documents ORDER BY doc_id""".stripMargin,

    "mm03_chunks" ->
      """SELECT doc_id,
        |  array_to_string(list_transform(
        |    range(0, CAST(ceil(length(text) / 16.0) AS BIGINT), 3),
        |    i -> substr(text, CAST(i * 16 + 1 AS INT), 16)), '|') AS sampled
        |FROM documents ORDER BY doc_id""".stripMargin,

    "mm02_framesample" ->
      """SELECT doc_id,
        |  array_to_string(list_transform(range(1, length(text) + 1, 7),
        |    i -> substr(text, i, 1)), '') AS sampled
        |FROM documents ORDER BY doc_id""".stripMargin,

    // bytes reconstructed bit-by-bit (DuckDB has no byte accessor on
    // BLOB): byte i = sum_k get_bit(blob::BIT, 8i+k) << (7-k)
    "mm04_bytestats" -> {
      val byteExpr = (0 until 8)
        .map(k => s"get_bit(bl, (i*8+$k)::INT) * ${1 << (7 - k)}")
        .mkString(" + ")
      s"""WITH b AS (SELECT doc_id, encode(text)::BIT AS bl,
         |                  octet_length(encode(text)) AS n FROM documents),
         |bytes AS (SELECT doc_id, n,
         |    unnest(list_transform(range(0, n), i -> $byteExpr)) AS v
         |  FROM b),
         |cnt AS (SELECT doc_id, ANY_VALUE(n) AS n, v, COUNT(*) AS c
         |  FROM bytes GROUP BY doc_id, v),
         |agg AS (SELECT doc_id, CAST(ANY_VALUE(n) AS BIGINT) AS n_bytes,
         |    CAST(COUNT(*) AS INT) AS n_distinct_bytes,
         |    CAST(SUM(c * c) AS BIGINT) AS byte_collision_sum,
         |    MAX(c) AS mc
         |  FROM cnt GROUP BY doc_id)
         |SELECT agg.doc_id, n_bytes, n_distinct_bytes, byte_collision_sum,
         |  CAST(MIN(cnt.v) AS INT) AS top_byte
         |FROM agg JOIN cnt ON agg.doc_id = cnt.doc_id AND cnt.c = agg.mc
         |GROUP BY agg.doc_id, n_bytes, n_distinct_bytes, byte_collision_sum
         |ORDER BY agg.doc_id""".stripMargin
    },

    // the oracle predicts what the builder wrote and the walk must
    // read back — every field is a pure function of the doc row
    "mm05_mp4_meta" ->
      """SELECT doc_id, 'isom' AS brand, CAST(1000 AS BIGINT) AS timescale,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS duration_ticks,
        |  octet_length(encode(text)) / 1000.0 AS duration_sec,
        |  CAST(2 AS INT) AS n_tracks, 'vide,soun' AS handlers,
        |  CAST(doc_id % 640 + 16 AS INT) AS video_w,
        |  CAST(doc_id % 360 + 9 AS INT) AS video_h
        |FROM documents ORDER BY doc_id""".stripMargin,

    "mm06_webp_meta" ->
      """SELECT doc_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'lossy' WHEN 1 THEN 'lossless'
        |       ELSE 'extended' END AS variant,
        |  CAST(doc_id % 500 + 8 AS INT) AS width,
        |  CAST(doc_id % 300 + 8 AS INT) AS height,
        |  (doc_id % 2 = 1 AND doc_id % 3 <> 0) AS alpha,
        |  (doc_id % 5 = 0 AND doc_id % 3 = 2) AS animation
        |FROM documents ORDER BY doc_id""".stripMargin,

    "mm07_flac_meta" ->
      """SELECT doc_id,
        |  CAST(8000 + (doc_id % 8) * 4000 AS INT) AS sample_rate,
        |  CAST(doc_id % 2 + 1 AS INT) AS channels,
        |  CAST(16 AS INT) AS bits_per_sample,
        |  CAST(octet_length(encode(text)) * 100 AS BIGINT) AS total_samples,
        |  (octet_length(encode(text)) * 100)
        |    / CAST(8000 + (doc_id % 8) * 4000 AS DOUBLE) AS duration_sec
        |FROM documents ORDER BY doc_id""".stripMargin,

    "mm08_mp4_quarantine" ->
      """SELECT doc_id, (doc_id % 7 <> 0) AS ok,
        |  CASE WHEN doc_id % 7 = 0 THEN -1
        |       ELSE CAST(doc_id % 640 + 16 AS INT) END AS video_w,
        |  CASE WHEN doc_id % 7 = 0 THEN -1
        |       ELSE CAST(doc_id % 360 + 9 AS INT) END AS video_h
        |FROM documents ORDER BY doc_id""".stripMargin,

    // decode is exact, so the oracle reconstructs the signal the gate
    // encoded and demands the decoded stats match bit-for-bit
    "mm09_flac_decode" ->
      """SELECT doc_id,
        |  CAST(doc_id % 24 + 8 AS BIGINT) AS n_samples,
        |  CAST(list_aggregate(list_transform(range(0, doc_id % 24 + 8),
        |    i -> ((doc_id * 31 + i * 7) % 65536) - 32768), 'sum')
        |    AS BIGINT) AS sum_samples,
        |  CAST((doc_id * 31 % 65536) - 32768 AS INT) AS first_s,
        |  CAST(((doc_id * 31 + (doc_id % 24 + 7) * 7) % 65536) - 32768
        |    AS INT) AS last_s
        |FROM documents ORDER BY doc_id""".stripMargin,

    // VP8L decode is exact, so the oracle reconstructs the pixel
    // channels the gate encoded and demands the decoded stats match
    // bit-for-bit (the mm09 convention for images)
    "mm10_webp_decode" ->
      """SELECT doc_id,
        |  CAST(doc_id % 5 + 2 AS INT) AS w,
        |  CAST(doc_id % 3 + 2 AS INT) AS h,
        |  CAST(list_aggregate(list_transform(
        |    range(0, (doc_id % 5 + 2) * (doc_id % 3 + 2)),
        |    i -> (doc_id * 31 + i * 7) % 256 + (doc_id * 17 + i * 13) % 256
        |       + (doc_id * 23 + i * 29) % 256), 'sum') AS BIGINT) AS sum_rgb,
        |  CAST(doc_id * 31 % 256 + doc_id * 17 % 256 + doc_id * 23 % 256
        |    AS INT) AS first_rgb,
        |  CAST((doc_id * 31 + ((doc_id % 5 + 2) * (doc_id % 3 + 2) - 1) * 7) % 256
        |     + (doc_id * 17 + ((doc_id % 5 + 2) * (doc_id % 3 + 2) - 1) * 13) % 256
        |     + (doc_id * 23 + ((doc_id % 5 + 2) * (doc_id % 3 + 2) - 1) * 29) % 256
        |    AS INT) AS last_rgb
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the sample-table walk is exact container math, so the oracle
    // reconstructs sizes/deltas/keyframe cadence arithmetically
    "mm11_mp4_samples" ->
      """SELECT doc_id,
        |  CAST(doc_id % 20 + 5 AS BIGINT) AS n_samples,
        |  CAST(list_aggregate(list_transform(range(0, doc_id % 20 + 5),
        |    i -> (doc_id * 13 + i * 17) % 1000 + 100), 'sum')
        |    AS BIGINT) AS total_bytes,
        |  CAST(list_aggregate(list_transform(range(0, doc_id % 20 + 5),
        |    i -> (doc_id * 13 + i * 17) % 1000 + 100), 'max')
        |    AS BIGINT) AS max_size,
        |  CAST((doc_id % 20 + 5) * (doc_id % 7 + 1) * 100 AS BIGINT)
        |    AS duration_ticks,
        |  CAST((doc_id % 20 + 5 + 4) // 5 AS BIGINT) AS n_sync
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the gate reads the resolved byte ranges out of the payload, so
    // this oracle equality proves the stsc/stco offsets land on the
    // actual sample data
    "mm12_mp4_keyframes" ->
      """SELECT doc_id,
        |  CAST((doc_id % 20 + 5 + 4) // 5 AS BIGINT) AS n_sync,
        |  CAST(list_aggregate(list_transform(
        |    range(0, doc_id % 20 + 5, 5),
        |    i -> (doc_id * 13 + i * 17) % 1000 + 100), 'sum')
        |    AS BIGINT) AS sync_bytes,
        |  CAST(list_aggregate(list_transform(
        |    range(0, doc_id % 20 + 5, 5),
        |    i -> ((doc_id * 13 + i * 17) % 1000 + 100)
        |       * ((doc_id + i * 13) % 256)), 'sum')
        |    AS BIGINT) AS byte_sum
        |FROM documents ORDER BY doc_id""".stripMargin,

    // animated decode is exact, so the oracle reconstructs the frame
    // pixel channels the gate encoded (nested per-frame/per-pixel)
    "mm13_webp_anim" ->
      """SELECT doc_id,
        |  CAST(doc_id % 3 + 2 AS BIGINT) AS n_frames,
        |  CAST(list_aggregate(list_transform(range(0, doc_id % 3 + 2),
        |    j -> (doc_id % 9 + 1) * 10 + j), 'sum') AS BIGINT) AS total_dur,
        |  CAST(list_aggregate(list_transform(range(0, doc_id % 3 + 2),
        |    j -> list_aggregate(list_transform(
        |      range(0, (doc_id % 4 + 2) * ((doc_id + j) % 3 + 2)),
        |      i -> (doc_id * 31 + j * 11 + i * 7) % 256
        |         + (doc_id * 17 + j * 5 + i * 13) % 256
        |         + (doc_id * 23 + j * 3 + i * 29) % 256), 'sum')),
        |    'sum') AS BIGINT) AS sum_rgb
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the tag walk is exact, so the oracle reconstructs the strings
    "mm14_flac_tags" ->
      """SELECT doc_id,
        |  'graft' AS vendor,
        |  CAST(3 AS BIGINT) AS n_tags,
        |  'doc' || CAST(doc_id AS VARCHAR) AS title,
        |  CASE doc_id % 3 WHEN 0 THEN 'en' WHEN 1 THEN 'fr'
        |    ELSE 'de' END AS language,
        |  CAST(doc_id % 20 AS VARCHAR) AS track
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
