package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.TextFunctions._

/** Deduplication operators for training-data pipelines, designed around
  * Spark's shuffle model:
  *
  *  - exact:    one hash-shuffle on md5(text) — the minimum possible.
  *  - minhash:  signatures computed row-wise (no shuffle), candidates via
  *              an equi-join on LSH band keys (shuffle on band buckets —
  *              tiny vs. the corpus), verification row-wise on the pair.
  *  - simhash:  row-wise fingerprints; candidates from pigeonhole banding
  *              on the fingerprint itself (complete for the Hamming
  *              radius), verified by bit_count(xor) <= radius.
  *  - jaccard:  candidates from PPJoin-style prefix filtering (complete
  *              for the threshold), verified by exact set-Jaccard.
  *
  * At 100 TB the only all-to-all movement in any of these is the
  * candidate join keyed on band/segment/prefix buckets, whose cardinality
  * is data (near-dup) bound, not corpus^2 bound — and unlike content
  * heuristics (language, source, first token) the keys are derived from
  * the similarity structure, so candidate generation loses NO pairs.
  * Skewed buckets (e.g. boilerplate shingles) are AQE-skew-join split.
  *
  * Self-joined intermediates (the shingle-hash pass) persist at
  * MEMORY_AND_DISK: Spark's exchange reuse does not deduplicate the two
  * sides of a self-join here (the build side broadcasts, the streamed
  * side has no exchange), so without a persist the md5 pass runs once
  * per side — measured ~2x at sf0.1. Same pattern Spark MLlib uses for
  * reused training intermediates; spills to executor disk at scale.
  */
object Dedup {

  /** Exact duplicate groups: (group_key = md5 of text, representative =
    * min id, n_dups). Returns only groups with >1 member.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))
      .where(col("n_dups") > 1)

  /** MinHash+LSH near-duplicate pairs with exact Jaccard verification.
    * k = bands * rowsPerBand signature size.
    *
    * Execution shape: shingle hashes EXPLODE to (id, h) rows and the k
    * permutation minimums are plain `min` aggregates over the id
    * shuffle. The per-row alternative (k `array_min(transform(...))`
    * lambdas in one Project) builds an expression tree large enough to
    * knock the stage out of whole-stage codegen — measured 25x slower at
    * sf0.1 — and the aggregate shape is also the one that scales: the
    * shuffle is (id, h) pairs, map-side-combined, never corpus^2.
    */
  def minhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, rowsPerBand: Int = 4, nGram: Int = 3,
      threshold: Double = 0.6): DataFrame =
    minhashPairsFromShingles(
      graft.engine.Caches.track(
        shingleBase(df, idCol, textCol, nGram).persist(StorageLevel.MEMORY_AND_DISK)),
      bands, rowsPerBand, threshold)

  /** The corpus-wide tokenize → shingle → hash pass every text-similarity
    * operator starts from: (id, hs = sorted distinct 60-bit shingle
    * hashes), empty-shingle docs dropped. Callers that run several dedup
    * operators over ONE corpus should compute this once, persist it, and
    * use the `FromShingles` variants — the md5 pass is the dominant cost
    * and Spark will not share it across separately-planned queries.
    */
  def shingleBase(df: DataFrame, idCol: String, textCol: String,
      nGram: Int = 3): DataFrame =
    // The empty-shingle filter tests token count, not size(hs): a
    // filter on the projected hs pushes below the Project and evaluates
    // the shingle-hash kernel TWICE per row (Filter + Project — no
    // cross-operator subexpression elimination), and `hs nonempty ⟺
    // tokens >= nGram` exactly. tokenCount is the cheap one-pass kernel
    // (no arrays, no md5), so the expensive kernel runs once. (r15 §1.2
    // per-task work; measured ~2x on the shared shingle passes.)
    df.where(graft.functions.TextKernels.tokenCount(col(textCol)) >= nGram)
      .select(col(idCol).as("id"),
        graft.functions.ShingleHash.shingleHashes60(col(textCol), nGram).as("hs"))

  /** (id, band_idx, band_key) LSH table for a shingle base: signatures
    * via the explode+agg shape (see minhashPairs), band keys as md5 of
    * each rowsPerBand signature slice.
    *
    * Public because banding is per-row: callers running SEVERAL minhash
    * queries over one corpus (self-join + cross-corpus probes) should
    * compute this once, persist it, and pass row-filtered views to the
    * `FromBanded` variants — `bandedKeys(sh.where(p))` ≡
    * `bandedKeys(sh).where(p)`, and the signature aggregate is the
    * dominant cost of every minhash query.
    */
  def bandedKeys(base: DataFrame, bands: Int = 4, rowsPerBand: Int = 4): DataFrame = {
    val k = bands * rowsPerBand
    // Signatures are the row-local MinhashSig60 kernel: the former
    // explode + k-min aggregate shuffled every (id, hash) pair; the
    // per-row lambda alternative fell out of whole-stage codegen
    // (measured 25x slower in round 1). The compiled kernel is
    // row-local AND codegen-resident — no exchange before banding.
    //
    // Empty-shingle rows are dropped here, not just in shingleBase:
    // MinhashSig60 gives every empty `hs` the identical MaxValue-filled
    // signature, so ALL such rows would collide in EVERY band — C(n,2)
    // candidate pairs from rows that can never be near-duplicates. The
    // filter is row-local and keeps the no-blowup invariant for callers
    // that build `base` themselves.
    val sigs = base.where(size(col("hs")) > 0).select(col("id"),
      graft.functions.ShingleHash.minhashSig60(col("hs"), k).as("sig"))
    val bandCols = (0 until bands).map { b =>
      md5(concat_ws("|",
        (0 until rowsPerBand).map(i =>
          element_at(col("sig"), b * rowsPerBand + i + 1).cast("string")): _*))
    }
    sigs.select(col("id"),
      posexplode(array(bandCols: _*)).as(Seq("band_idx", "band_key")))
  }

  /** minhashPairs over a pre-computed (id, hs) shingle table. The caller
    * owns persistence of `base` (it is read three times: signature pass +
    * both sides of the verify join).
    */
  def minhashPairsFromShingles(
      base: DataFrame, bands: Int = 4, rowsPerBand: Int = 4,
      threshold: Double = 0.6): DataFrame =
    minhashPairsFromBanded(bandedKeys(base, bands, rowsPerBand), base, threshold)

  /** [[minhashPairsFromShingles]] over a pre-computed (and typically
    * persisted) [[bandedKeys]] table — the variant that shares ONE
    * signature pass across several minhash queries.
    */
  def minhashPairsFromBanded(
      banded: DataFrame, base: DataFrame, threshold: Double = 0.6): DataFrame = {
    // a caller-persisted banded table must be MATERIALIZED before the
    // self-join — a lazy persist gets computed inside both sides' scan
    // stages on first use (the dd03 double-compute class, SCALE_CHECK.md);
    // an unpersisted one is left alone (a count would add a full pass
    // without caching anything)
    if (banded.storageLevel != StorageLevel.NONE) banded.count()
    val cand = banded.select(col("band_idx"), col("band_key"), col("id").as("id_a"))
      .join(banded.select(col("band_idx"), col("band_key"), col("id").as("id_b")),
        Seq("band_idx", "band_key"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    cand
      .join(base.select(col("id").as("id_a"), col("hs").as("shs_a")), "id_a" :: Nil)
      .join(base.select(col("id").as("id_b"), col("hs").as("shs_b")), "id_b" :: Nil)
      .select(col("id_a"), col("id_b"),
        jaccardSorted(col("shs_a"), col("shs_b")).as("jac"))
      .where(col("jac") >= threshold)
  }

  /** CROSS-corpus MinHash near-duplicate pairs: every (probe, corpus)
    * pair with jac >= threshold whose signatures collide in some band —
    * the near-dup decontamination primitive (held-out docs searched
    * against the training corpus), and the general "find my matches in
    * that other dataset" similarity join. Candidates equi-join ACROSS
    * the two banded tables, so movement is band-bucket-bound on both
    * sides; the probe side is typically the small one and broadcasts.
    * Callers own persistence of both shingle tables (each is read
    * twice: banding + verify).
    */
  def minhashPairsAcrossFromShingles(
      probe: DataFrame, corpus: DataFrame, bands: Int = 4,
      rowsPerBand: Int = 4, threshold: Double = 0.6): DataFrame =
    minhashPairsAcrossFromBanded(
      bandedKeys(probe, bands, rowsPerBand),
      bandedKeys(corpus, bands, rowsPerBand), probe, corpus, threshold)

  /** [[minhashPairsAcrossFromShingles]] over pre-computed banded tables
    * — when probe and corpus are row-filters of ONE dataset, band the
    * whole dataset once and pass filtered views of it here.
    */
  def minhashPairsAcrossFromBanded(
      bandedProbe: DataFrame, bandedCorpus: DataFrame,
      probe: DataFrame, corpus: DataFrame,
      threshold: Double = 0.6): DataFrame = {
    val cand = bandedProbe
      .select(col("band_idx"), col("band_key"), col("id").as("probe_id"))
      .join(bandedCorpus
          .select(col("band_idx"), col("band_key"), col("id").as("corpus_id")),
        Seq("band_idx", "band_key"))
      .select("probe_id", "corpus_id")
      .distinct()
    cand
      .join(probe.select(col("id").as("probe_id"), col("hs").as("shs_a")),
        "probe_id" :: Nil)
      .join(corpus.select(col("id").as("corpus_id"), col("hs").as("shs_b")),
        "corpus_id" :: Nil)
      .select(col("probe_id"), col("corpus_id"),
        jaccardSorted(col("shs_a"), col("shs_b")).as("jac"))
      .where(col("jac") >= threshold)
  }

  /** SimHash fingerprint width: the shingle hashes are 60-bit (15 md5 hex
    * digits), so bits 60+ of any fingerprint would be degenerate.
    */
  val SimhashBits = 60

  /** Near-equal-width contiguous bit segments: (offset, width) per
    * segment, widths differing by at most 1.
    */
  private[graft] def segmentBounds(bits: Int, nSeg: Int): Seq[(Int, Int)] = {
    val base = bits / nSeg
    val extra = bits % nSeg
    val widths = Seq.tabulate(nSeg)(i => if (i < extra) base + 1 else base)
    widths.scanLeft(0)(_ + _).zip(widths)
  }

  /** SimHash near-duplicate pairs: ALL pairs with
    * hamming(simhash60) <= maxHamming, found without an all-pairs join.
    *
    * Candidate generation is multi-index pigeonhole banding on the
    * fingerprint itself: split the 60 bits into m = maxHamming +
    * comboWidth contiguous segments. A pair within the radius has
    * errors in at most maxHamming segments, leaving >= comboWidth
    * segments where the two fingerprints agree EXACTLY — so the pair
    * shares at least one of the C(m, comboWidth) packed
    * comboWidth-segment keys, and an equi-join on (combo index, packed
    * value) is a complete candidate generator. Unlike blocking on
    * content heuristics (language, source, first token), the blocks
    * derive from the similarity structure: no in-radius pair can be
    * missed.
    *
    * Candidate-volume math (the honest part): for NON-duplicate, near
    * random fingerprint pairs, each combo key collides with probability
    * ~2^-(comboWidth*60/m), so expected spurious candidates are about
    * C(m, comboWidth) * n^2 / 2^(comboWidth*60/m) — still quadratic in
    * n for any fixed key width. comboWidth is the lever: at radius 6,
    * comboWidth=1 gives 7 keys of ~8.5 bits (candidate rate ~2%),
    * comboWidth=2 gives 28 keys of ~15 bits (~1e-3), comboWidth=3 gives
    * 84 keys of ~20 bits (~8e-5). Scale rule: pick comboWidth so the
    * packed key width comboWidth*60/(maxHamming+comboWidth) stays >=
    * log2(n) - that keeps expected bucket size O(1) and the join
    * data-bound. Past comboWidth's reach (very large n at a wide
    * radius), the fingerprint itself must widen — the 60-bit budget is
    * the binding constraint, not the banding.
    *
    * Fingerprints use the same explode+aggregate shape as minhashPairs
    * (and for the same codegen/scale reasons): 60 `sum` bit-vote
    * aggregates over the exploded (id, h) rows, fingerprint assembled
    * from the votes.
    */
  def simhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 6, nGram: Int = 3): DataFrame =
    simhashPairsFromShingles(shingleBase(df, idCol, textCol, nGram), maxHamming)

  /** Smallest comboWidth whose packed key width
    * comboWidth*60/(maxHamming+comboWidth) reaches log2(n) — the
    * documented scale rule that keeps expected candidate-bucket size
    * O(1). Floor 2 (the small-corpus default); capped where segments
    * hit 1 bit, past which the 60-bit fingerprint budget, not the
    * banding, is the binding constraint.
    */
  private[graft] def autoComboWidth(n: Long, maxHamming: Int): Int = {
    val need = math.log(math.max(2L, n).toDouble) / math.log(2.0)
    val maxC = SimhashBits - maxHamming
    (2 to maxC)
      .find(c => c.toDouble * SimhashBits / (maxHamming + c) >= need)
      .getOrElse(maxC)
  }

  /** simhashPairs over a pre-computed (id, hs) shingle table.
    * comboWidth <= 0 (the default) self-sizes from the corpus count per
    * the scale rule above — the count is a cache read of the persisted
    * fingerprint table the self-join needs materialized anyway.
    */
  def simhashPairsFromShingles(base: DataFrame, maxHamming: Int = 6,
      comboWidth: Int = 0): DataFrame = {
    require(maxHamming + math.max(1, comboWidth) <= SimhashBits,
      s"invalid comboWidth $comboWidth for radius $maxHamming")
    // Fingerprints are the row-local Simhash60 kernel — the former
    // explode + 60-sum vote aggregate shuffled every (id, hash) pair
    // to compute what is a pure function of the row's own array.
    // The banded table self-joins: persist the fingerprints so the
    // pass runs once, not once per join side (exchange reuse does not
    // cover broadcast self-joins — measured in round 1).
    val fp = graft.engine.Caches.track(base.select(col("id"),
        graft.functions.ShingleHash.simhash60(col("hs")).as("fp"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    val cw = if (comboWidth >= 1) comboWidth
      else autoComboWidth(fp.count(), maxHamming)
    // The banded table is PERSISTED and materialized before the
    // self-join: Spark does not reuse the exchange across the two
    // (alias-renamed) sides, so the un-persisted shape recomputed the
    // C(m,cw)-row explode AND shuffled it once PER SIDE — measured at
    // 30x (157,500 docs, comboWidth 3, 13.2M band rows): 15.8s
    // end-to-end vs 3.3s for the identical join over the materialized
    // table (the Dd03AB A/B in SCALE_CHECK.md; pair sets identical). A
    // groupBy+collect_list bucket enumeration measured the same 3.0s
    // but buffers a whole same-key bucket in one array — an
    // identical-fingerprint crawl cluster would OOM an executor where
    // the SMJ's buffered match group spills; the join keeps the
    // graceful-degradation property. The persist is linear in the band
    // rows (the same volume the join was already shuffling) and
    // releases via Caches.
    val banded = graft.engine.Caches.track(
      simhashBanded(fp, maxHamming, cw).persist(StorageLevel.MEMORY_AND_DISK))
    banded.count()
    val l = banded.select(col("seg_idx"), col("seg_val"),
      col("id").as("id_a"), col("fp").as("fp_a"))
    val r = banded.select(col("seg_idx"), col("seg_val"),
      col("id").as("id_b"), col("fp").as("fp_b"))
    l.join(r, Seq("seg_idx", "seg_val"))
      .where(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .where(col("hamming") <= maxHamming)
      // a pair within radius can agree on several segments
      .select("id_a", "id_b", "hamming")
      .distinct()
  }

  /** The banded combo-key table of a fingerprint frame (id, fp) —
    * C(maxHamming + comboWidth, comboWidth) rows per doc, each carrying
    * a packed combo key.
    * Any comboWidth segment widths sum to <= 60 bits, so a packed
    * combo key always fits one long.
    */
  private[graft] def simhashBanded(fp: DataFrame, maxHamming: Int,
      cw: Int): DataFrame = {
    val bounds = segmentBounds(SimhashBits, maxHamming + cw)
    val segCols = bounds.indices.combinations(cw).toSeq.zipWithIndex.map {
      case (idxs, ci) =>
        val packed = idxs.map { i =>
          val (off, w) = bounds(i)
          (shiftrightunsigned(col("fp"), off).bitwiseAND((1L << w) - 1), w)
        }.reduceLeft[(Column, Int)] { case ((acc, aw), (v, w)) =>
          (shiftleft(acc, w).bitwiseOR(v), aw + w)
        }._1
        struct(lit(ci).as("seg_idx"), packed.as("seg_val"))
    }
    fp.select(col("id"), col("fp"),
        explode(array(segCols: _*)).as("seg"))
      .select(col("id"), col("fp"),
        col("seg.seg_idx").as("seg_idx"), col("seg.seg_val").as("seg_val"))
  }

  /** Exact n-gram-set Jaccard pairs: ALL pairs with jac >= threshold,
    * found via PPJoin-style prefix filtering instead of an all-pairs or
    * heuristic-block join.
    */
  def jaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      nGram: Int = 3, threshold: Double = 0.5): DataFrame =
    jaccardPairsFromShingles(
      graft.engine.Caches.track(
        shingleBase(df, idCol, textCol, nGram).persist(StorageLevel.MEMORY_AND_DISK)),
      threshold)

  /** jaccardPairs over a pre-computed (id, hs) shingle table (sorted
    * distinct hashes — shingleBase output). Caller owns persistence.
    *
    * Candidate generation is the AllPairs/PPJoin prefix filter (see
    * [[jaccardPrefixes]] for the canonical df ordering and the
    * completeness argument); candidates are data-bound, never corpus^2.
    * Verification is INLINE in the prefix self-join — see the body
    * comment for the shuffle model and the measured 30x comparison
    * against the former pair-keyed array-attach shape.
    */
  def jaccardPairsFromShingles(sh: DataFrame, threshold: Double = 0.5): DataFrame = {
    // Inline PPJoin verify (the paper's shape): the hs array rides the
    // prefix rows, so the one prefix self-join produces candidate rows
    // WITH both arrays already in place — the exact-Jaccard merge runs
    // row-local on the join output, and the only distinct is over
    // SURVIVORS (0.4% of candidates on the 30x planted corpus). The
    // previous shape (narrow candidates -> distinct over millions ->
    // two array-attach joins keyed by pair ids) moved one full array
    // per pair through an extra exchange and shuffled the candidate
    // table twice more (distinct + first join); measured at 30x that
    // stack was 16-21s of the 25-31s wall. Here the arrays cross ONE
    // exchange (the h-keyed self-join), position/size filters drop rows
    // before the merge-count evaluates, and no pair-keyed shuffle ever
    // carries an array. The self-join is left to sort-merge: a
    // shuffle-hash build of the array-bearing side needs the whole
    // partition resident (measured OOM at 30x under the 8g bench heap
    // with 32 concurrent builds), while SMJ spills gracefully at any
    // partition size — the same property that keeps it safe when a
    // cluster-side partition count misjudges the data.
    // `sh` feeds BOTH the prefix subplan and the array-attach join
    // below, inside prefH's first materialization job — a lazily
    // persisted shingle table would be computed twice there (the dd03
    // class); materialize it first when the caller persisted it
    if (sh.storageLevel != StorageLevel.NONE) sh.count()
    val prefH = graft.engine.Caches.track(
      jaccardPrefixes(sh, threshold)
        .join(sh, "id" :: Nil)
        .persist(StorageLevel.MEMORY_AND_DISK))
    // materialize BEFORE the self-join: with a lazy persist, the first
    // job computes the table inside BOTH sides' scan stages and only
    // the block-manager race dedupes the work (the UNpersisted variant
    // of this pattern measured a full 2x in the dd03 banded join —
    // SCALE_CHECK.md). A/B at 30x showed parity for this already-persisted
    // table, so the count is insurance that the single pass is
    // guaranteed by construction, not by cache-population timing.
    prefH.count()
    prefH.select(col("h"), col("id").as("id_a"), col("sz").as("sz_a"),
        col("p").as("p_a"), col("hs").as("shs_a"))
      .join(prefH.select(col("h"), col("id").as("id_b"), col("sz").as("sz_b"),
        col("p").as("p_b"), col("hs").as("shs_b")), "h" :: Nil)
      .where(col("id_a") < col("id_b"))
      .where(col("sz_a").cast("double") >= col("sz_b") * threshold &&
        col("sz_b").cast("double") >= col("sz_a") * threshold)
      .where(least(col("sz_a") - col("p_a"), col("sz_b") - col("p_b"))
        .cast("double") >=
        (col("sz_a") + col("sz_b")) * (threshold / (1.0 + threshold)))
      .select(col("id_a"), col("id_b"),
        jaccardSorted(col("shs_a"), col("shs_b")).as("jac"))
      .where(col("jac") >= threshold)
      .distinct()
  }

  /** The complete PPJoin candidate set for `jaccardPairsFromShingles`:
    * prefix filter + POSITION filter + size-ratio filter, all row-local
    * on the joined prefix rows before the dedup.
    *
    * Elements are canonically ordered by ASCENDING document frequency
    * (h as tie-break) before prefixes are taken — the classic AllPairs/
    * PPJoin ordering. Completeness only needs SOME global total order
    * shared by both sides (two sets with jac >= t must share an element
    * within their first |X| - ceil(t*|X|) + 1 elements under it); df
    * order additionally makes each prefix hold the doc's RAREST
    * elements, so a prefix bucket's size is bounded by the df of a
    * rare element instead of a common trigram's. Measured on the 30×
    * planted corpus this cut candidates 6.97M -> (see SCALE_CHECK)
    * while the verified pair set is identical — it was the array-
    * carrying verify join over those 6.97M that went disk-bound.
    * The df aggregate is one element-level groupBy with map-side
    * combine over `sh` itself; ranks come from one id-partitioned
    * window over the element table. The prefix table is persisted for
    * the duration of the self-join (both sides read it) and released
    * by [[graft.engine.Caches]].
    *
    * Position filter (Xiao et al. 2008): a shared prefix element at
    * 0-based positions (pa, pb) in the canonical order bounds the
    * overlap by 1 + min(|A|-pa-1, |B|-pb-1); jac >= t requires overlap
    * >= t/(1+t) · (|A|+|B|), so rows whose bound falls short are
    * dropped. Completeness: for the FIRST shared element (in canonical
    * order) of a truly-matching pair the bound >= the true overlap, so
    * at least one row survives (later shared elements may be
    * over-filtered; the distinct ORs survivors). The size-ratio filter
    * (t <= min/max size) rides the same rows, so the verify join no
    * longer needs it.
    */
  private[graft] def jaccardCandidates(
      sh: DataFrame, threshold: Double): DataFrame =
    jaccardCandidatesFromPrefixes(
      graft.engine.Caches.track(
        jaccardPrefixes(sh, threshold).persist(StorageLevel.MEMORY_AND_DISK)),
      threshold)

  /** The PPJoin prefix table (h, id, sz, p): each doc's first
    * |X| - ceil(t*|X|) + 1 elements under the canonical ascending-df
    * order, with 0-based canonical position p. Both sides of the
    * candidate self-join read this table — callers persist it.
    */
  private[graft] def jaccardPrefixes(
      sh: DataFrame, threshold: Double): DataFrame = {
    val el = sh.select(col("id"), size(col("hs")).as("sz"),
      explode(col("hs")).as("h"))
    val dfreq = el.groupBy("h").agg(count(lit(1)).as("df"))
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("df"), col("h"))
    // df side is 16B/row — a shuffle-hash build is a few MB per
    // partition at any corpus size (distinct-shingle count scales with
    // the corpus but so does the partition count), while sort-merge
    // would sort the full element table a second time
    el.join(dfreq.hint("shuffle_hash"), "h" :: Nil)
      .withColumn("p", row_number().over(rankW) - 1)
      .where(col("p") < (col("sz") -
        ceil(col("sz").cast("double") * threshold) + 1).cast("int"))
      .select("h", "id", "sz", "p")
  }

  /** The prefix self-join + position/size-ratio filters + distinct over
    * a (persisted) prefix table — see [[jaccardPrefixes]].
    */
  private[graft] def jaccardCandidatesFromPrefixes(
      pref: DataFrame, threshold: Double): DataFrame = {
    pref.select(col("h"), col("id").as("id_a"),
        col("sz").as("sz_a"), col("p").as("p_a"))
      .join(pref.select(col("h"), col("id").as("id_b"),
        col("sz").as("sz_b"), col("p").as("p_b")), "h" :: Nil)
      .where(col("id_a") < col("id_b"))
      .where(col("sz_a").cast("double") >= col("sz_b") * threshold &&
        col("sz_b").cast("double") >= col("sz_a") * threshold)
      // the bound 1 + min(|A|-pa-1, |B|-pb-1) simplifies to
      // min(sz_a - p_a, sz_b - p_b) with 0-based positions
      .where(least(col("sz_a") - col("p_a"), col("sz_b") - col("p_b"))
        .cast("double") >=
        (col("sz_a") + col("sz_b")) * (threshold / (1.0 + threshold)))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Connected components over the near-dup pair graph: every node gets
    * the MINIMUM id reachable through the pairs — the cluster
    * representative for keep-one-per-cluster dedup (pairs alone
    * under-delete: near-dup similarity is not transitive, but the
    * dedup policy is).
    *
    * Label propagation: labels start as self; each round every node
    * takes the min of its own and its neighbors' labels; converges in
    * O(cluster diameter) rounds — near-dup clusters are shallow, and
    * `maxIters` bounds the worst case. Each round is one equi-join plus
    * one map-side-combined min-aggregate, shuffling only the (data-bound)
    * edge list. Labels are checkpointed per round — iterative plans
    * otherwise grow lineage exponentially. By default the checkpoint is
    * `localCheckpoint` (executor-local blocks: fast, but an executor
    * loss kills the job); cluster jobs pass `checkpointDir` to switch
    * every round to a RELIABLE `checkpoint()` on shared storage, so a
    * 20-round propagation survives executor failure instead of
    * restarting from scratch.
    *
    * Returns (id, rep) for every id that appears in `pairs`.
    */
  def components(pairs: DataFrame, maxIters: Int = 20,
      failOnNonConvergence: Boolean = true,
      checkpointDir: Option[String] = None): DataFrame = {
    checkpointDir.foreach(pairs.sparkSession.sparkContext.setCheckpointDir)
    def ckpt(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(eager = true)
      else df.localCheckpoint(eager = true)
    // Lazy variant for the loop body: the convergence count() below is
    // the materializing action (count touches EVERY partition, so the
    // checkpoint is fully realized — an isEmpty/take(1) probe would
    // not be enough), collapsing each round from two jobs (eager
    // checkpoint + probe) to one.
    def ckptLazy(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(eager = false)
      else df.localCheckpoint(eager = false)
    // Ids keep their original type: min/least propagation only needs an
    // ordering, which every Spark atomic type has (a long cast here
    // would silently null out string-id corpora).
    // both directions from ONE pass over `pairs` — a unionAll of two
    // selects would execute the (expensive) pair-generation subplan
    // twice when this persist materializes
    // persisted PRE-PARTITIONED on dst: the per-round neighbor join
    // keys edges by dst every iteration, and a cache that already
    // reports hashpartitioning(dst) lets each round shuffle only the
    // (cluster-membership-sized) labels side instead of re-exchanging
    // the edge table O(diameter) times
    val edges = pairs
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = ckpt(edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst"), "dst" :: Nil)
        .groupBy(col("src").as("id"))
        .agg(min(col("label")).as("nlabel"))
      // `changed` rides along instead of a second labels join; the
      // lazy checkpoint truncates the iterative lineage and the
      // convergence count is the action that materializes it — one job
      // per round. Superseded label RDDs lose their last reference
      // here and the ContextCleaner reclaims their blocks.
      val next = ckptLazy(labels.join(neighborMin, "id" :: Nil)
        .select(col("id"), least(col("label"), col("nlabel")).as("label"),
          (col("nlabel") < col("label")).as("changed")))
      converged = next.where(col("changed")).count() == 0L
      labels = next.drop("changed")
      iter += 1
    }
    edges.unpersist()
    if (!converged) {
      val msg = s"components() did not converge in $maxIters rounds — " +
        "a cluster's diameter exceeds maxIters and its representatives " +
        "are NOT cluster minima; raise maxIters (rounds are O(diameter))"
      if (failOnNonConvergence) throw new IllegalStateException(msg)
      else org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
    }
    labels.select(col("id"), col("label").as("rep"))
  }

  /** Embedding near-duplicate pairs by cosine, blocked by IVF cells —
    * the scale-default candidate provider. The k-means quantizer bounds
    * every block to ~corpus/k rows regardless of metadata quality, and
    * identical vectors always co-assign (argmin over the same centroid
    * distances), so exact/near-exact duplicate recall does not depend on
    * a metadata column existing, being populated, or being unskewed at
    * 100 TB. Prefer this; `embeddingPairs(blockCols)` is the explicit
    * opt-in for corpora with a known-good, known-bounded blocking key.
    */
  def embeddingPairsIvf(
      df: DataFrame, idCol: String, vecCol: String,
      k: Int = 0, iters: Int = 1, threshold: Double = 0.995): DataFrame = {
    val v = df.select(col(idCol).as(idCol),
      col(vecCol).cast("array<double>").as("vec"))
    // one Lloyd step by default: dedup blocking only needs cells that
    // co-assign identical vectors and keep sizes ~targetCellSize —
    // quantizer quality beyond that buys recall (ANN's concern), not
    // completeness. k <= 0 (the default) self-sizes the cell count from
    // the corpus so the within-cell pair join stays LINEAR in corpus
    // size; a fixed k would make it quadratic at scale.
    val kk = if (k > 0) k else graft.ann.IvfIndex.autoK(v.count())
    val m = graft.ann.IvfIndex.fit(v, idCol, "vec", k = kk, iters = iters)
    // embeddingPairs persists + materializes the (unpersisted) cell
    // assignment before its self-join — see the policy there
    embeddingPairs(graft.ann.IvfIndex.transform(v, "vec", m),
      idCol, "vec", Seq("cell"), threshold)
  }

  /** Winnowing fingerprints (Schleimer et al., MOSS) — the scalable
    * stand-in for exact-substring dedup (Lee et al. 2021 use suffix
    * arrays; a distributed corpus can't): hash every k-token shingle at
    * every position, then keep the MINIMUM hash of each w-wide window of
    * consecutive shingle hashes. Any shared span of at least w + k - 1
    * tokens between two documents is GUARANTEED to share a fingerprint;
    * document pairs sharing no span that long almost never collide.
    *
    * Returns (idCol, fp) exploded — one row per distinct fingerprint per
    * document, ready for a frequency aggregate or pair join.
    *
    * Scale shape: fingerprinting is row-local column math (~|tokens|×w
    * comparisons per doc); the output is |tokens|/w-ish rows per doc
    * (winnowing's density bound), hashed 60-bit — the shuffle carries
    * (id, long) pairs only. All hashes are the md5-prefix basis shared
    * with the DuckDB oracles.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be positive, got k=$k w=$w")
    // One compiled pass (WinnowHash60): tokenize → positional k-gram
    // hashes → sliding-window min → distinct. The declarative
    // formulation (transform over slice + array_min) evaluates its
    // nested lambdas interpreted with O(n·k) array copies — measured
    // 25s vs sub-second at sf0.1. Docs under k tokens emit nothing; a
    // doc with fewer than w grams emits its single min-gram
    // fingerprint (MOSS's tail rule). Hash basis is the md5-60 one the
    // DuckDB oracles reproduce.
    df.select(col(idCol),
      explode(graft.functions.ShingleHash
        .winnowHashes60(col(textCol), k, w)).as("fp"))
  }

  /** Document pairs ranked by shared winnowing fingerprints — the
    * decision surface of shared-span dedup: (id_a, id_b, n_shared_fps)
    * for every pair sharing at least one KEPT fingerprint.
    *
    * The scale-critical policy is `maxDocFreq`: a fingerprint shared by
    * f documents generates C(f,2) pairs, so corpus-wide boilerplate
    * (footers, license headers) would blow the pair join up
    * quadratically. Fingerprints with document frequency above the cap
    * are dropped BEFORE pairing — bounding every fingerprint bucket to
    * C(maxDocFreq,2) pairs — on the grounds that corpus-frequent spans
    * are [[dedupLines]]' job, not pairwise dedup's. The frequency table
    * is an aggregate over (id, fp) rows, consumed as a join side, never
    * collected.
    */
  def spanPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4, maxDocFreq: Int = 10): DataFrame = {
    val fp = graft.engine.Caches.track(
      winnowFingerprints(df, idCol, textCol, k, w)
        .persist(StorageLevel.MEMORY_AND_DISK))
    val kept = fp.groupBy("fp")
      .agg(countDistinct(col(idCol)).as("df"))
      .where(col("df") >= 2 && col("df") <= maxDocFreq)
      .select("fp")
    // persist + materialize the kept-fingerprint rows before the
    // self-join: unpersisted, the df-cap semi-join (one shuffle agg
    // over fp) would run once per join side (the dd03 class, SCALE_CHECK.md)
    val f = graft.engine.Caches.track(
      fp.join(kept, Seq("fp"), "left_semi")
        .persist(StorageLevel.MEMORY_AND_DISK))
    f.count()
    f.select(col("fp"), col(idCol).as("id_a"))
      .join(f.select(col("fp"), col(idCol).as("id_b")), Seq("fp"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared_fps"))
  }

  /** Corpus-level LINE deduplication (the boilerplate-removal pass of
    * CCNet/RefinedWeb-style curation): drop every line that appears in
    * at least `minDocs` DISTINCT documents, and reassemble each document
    * from its surviving lines in original order.
    *
    * Returns (idCol, n_lines, n_kept, textCol) — textCol is the rebuilt
    * text ('' when every line was boilerplate).
    *
    * Scale shape: two shuffles, both on high-cardinality keys — the
    * line-frequency aggregate keyed on a 128-bit line hash (the shuffle
    * carries the hash, never the line text) and the per-document
    * reassembly keyed on the doc id. The boilerplate set is consumed as
    * the build side of an anti-join, never collected; per-doc
    * reassembly state is bounded by the document's own line count.
    */
  def dedupLines(df: DataFrame, idCol: String, textCol: String,
      minDocs: Long): DataFrame = {
    // read twice (frequency agg + the flagged rebuild) — the totals and
    // the rebuild share ONE aggregate: a left join tags each line with
    // its boilerplate membership and collect_list's null-skipping drops
    // tagged lines from the rebuilt text while count(*) still sees them.
    // The previous shape (anti-join rebuild + separate per-doc totals +
    // join of the two) read `lines` three times and shuffled it twice
    // more; output is row-identical (all-boiler docs: n_kept = 0 and
    // array_join over an empty list = "", matching the old coalesce).
    val lines = graft.engine.Caches.track(df
      .select(col(idCol), posexplode(split(col(textCol), "\n"))
        .as(Seq("pos", "line")))
      .withColumn("lh", md5(col("line")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val boiler = lines.groupBy(col("lh"))
      .agg(countDistinct(col(idCol)).as("nd"))
      .where(col("nd") >= minDocs)
      .select(col("lh"), lit(1).as("_boiler"))
    lines.join(boiler, Seq("lh"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines"),
        count(when(col("_boiler").isNull, 1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("_boiler").isNull,
            struct(col("pos"), col("line"))))),
          x => x.getField("line")), "\n").as(textCol))
      .select(col(idCol), col("n_lines"), col("n_kept"), col(textCol))
  }

  /** Embedding near-duplicate pairs by cosine within `blockCols` cells
    * (candidate restriction by a caller-supplied metadata key). At
    * corpus scale prefer [[embeddingPairsIvf]]: a metadata block is only
    * safe when the caller can bound its size and trust its population.
    */
  def embeddingPairs(
      df: DataFrame, idCol: String, vecCol: String,
      blockCols: Seq[String], threshold: Double = 0.995): DataFrame = {
    // Both join sides read `df`; an unpersisted input (e.g. an IVF
    // transform — k distance computations per row) would run once per
    // side, and even a lazily-persisted one races its cache population
    // (the dd03 double-compute class, SCALE_CHECK.md). Persist if the caller
    // didn't, and materialize either way.
    val src =
      if (df.storageLevel == StorageLevel.NONE)
        graft.engine.Caches.track(df.persist(StorageLevel.MEMORY_AND_DISK))
      else df
    src.count()
    // Norms are computed once per row before the pair join — recomputing
    // them inside cosine would triple the per-pair flops.
    val v = src.select(col(idCol).as("id"),
      struct(blockCols.map(col): _*).as("blk"),
      col(vecCol).cast("array<double>").as("vec"))
      .withColumn("nrm", graft.ann.Vectors.norm(col("vec")))
    val l = v.select(col("blk"), col("id").as("id_a"), col("vec").as("vec_a"),
      col("nrm").as("nrm_a"))
    val r = v.select(col("blk"), col("id").as("id_b"), col("vec").as("vec_b"),
      col("nrm").as("nrm_b"))
    l.join(r, "blk" :: Nil)
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (graft.ann.Vectors.dot(col("vec_a"), col("vec_b")) /
          (col("nrm_a") * col("nrm_b"))).as("cos"))
      .where(col("cos") >= threshold)
  }
}
