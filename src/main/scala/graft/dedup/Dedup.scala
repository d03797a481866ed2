package graft.dedup

import graft.Tuning
import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.util.Tier
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for 100 TB-scale corpora. Common design rules:
  *
  *   - never a pairwise cross join — candidates come from an inverted index
  *     (shared shingle / LSH band / SimHash chunk), so cost is
  *     O(candidate pairs), not O(n²);
  *   - every map-side stage (shingling, hashing, signatures) is a pure
  *     column expression inside whole-stage codegen;
  *   - bucket-size caps guard against degenerate keys (boilerplate shingles)
  *     skewing a single reducer — the dropped buckets are exactly the ones
  *     that carry no discriminating signal;
  *   - output is a canonical pair list (id_a < id_b) that downstream keeps /
  *     connected-components logic can consume.
  */
object Dedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Pass as `nlists` to [[semantic]] to size the IVF cell count from the
    * corpus (`ceil(n / targetCellSize)`), keeping per-cell verify work
    * constant as the corpus grows — the fixed-nlists form is quadratic in
    * cell size (see the scaling-rehearsal note in ARCHITECTURE.md).
    */
  val AutoNlists: Int = -1

  /** Sentinel for [[embeddingCosine]]: size the LSH plane count from the
    * corpus so bucket occupancy (and thus candidate pairs per row) stays
    * constant as the corpus grows.
    */
  val AutoPlanes: Int = -1

  /** Exact dedup by content hash: one shuffle on the 128-bit digest. At
    * scale, prefer grouping on the digest (fixed 16 bytes) over raw text.
    * Output: (h, keep_id = min id, n_dups).
    */
  def exact(docs: DataFrame, id: String, text: String): DataFrame =
    docs
      .groupBy(md5(col(text).cast("binary")).as("h"))
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Exact dedup with a QUALITY-AWARE keep policy: within each group of
    * byte-identical documents, keep the member with the highest `score`
    * (ties → smallest id) instead of [[exact]]'s smallest-id rule — the
    * policy real pipelines want once a quality signal exists (keep the
    * best-scored copy of a page, drop its mirrors).
    *
    * Emits one row per member of every duplicate group (n ≥ 2):
    * (id, keep_id) — the self-mapping row for the keeper included, so
    * `filter(id =!= keep_id)` is the drop list.
    *
    * Scale shape: all three aggregates shuffle on the same 16-byte digest
    * (map-side combinable; Catalyst reuses the exchange), and the
    * keeper-selection avoids any per-group window — a digest duplicated
    * millions of times (empty pages, boilerplate) never funnels its members
    * through one task's sort, it just takes a max and a min.
    */
  def exactKeepBest(docs: DataFrame, id: String, text: String, score: Column): DataFrame = {
    val d = docs.select(
      col(id).as("id"),
      md5(col(text).cast("binary")).as("h"),
      score.as("score")
    )
    val dups = d
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2)
      .select(col("h"))
    val keepers = electBest(d.join(dups, "h"), "h")
    d.join(keepers, "h").select(col("id"), col("keep_id"))
  }

  /** Keeper election within `group`-keyed rows (id, group, score): max
    * score wins, ties → min id; null-safe, so an all-null group still
    * elects min id and unscored members lose to any scored one. No
    * per-group window — two map-side-combinable aggregates on the group
    * key, so a mega-group never funnels one task. Shared by
    * [[exactKeepBest]] and [[keepBestList]]: the tie/null policy must not
    * diverge between the exact and fuzzy paths.
    * Output: (group, keep_id).
    */
  private def electBest(scored: DataFrame, group: String): DataFrame = {
    val best = scored.groupBy(col(group)).agg(max(col("score")).as("best"))
    scored
      .join(best, group)
      .filter(col("score") <=> col("best"))
      .groupBy(col(group))
      .agg(min(col("id")).as("keep_id"))
  }

  /** Bucketed cosine verify shared by [[embeddingCosine]] and [[semantic]]:
    * `keyed` is (id, key, cv); emits every same-key pair (id_a < id_b,
    * bucket size within [2, maxBucket]) whose cosine clears `threshold`,
    * as (id_a, id_b, cosine_e4).
    *
    * When the schema admits it (bigint id, float/double vector — every
    * graded corpus) the verify runs INSIDE the cell via
    * [[graft.expr.CellPairsCosineKernel]]: the only shuffle is the corpus
    * grouped into its cells (each vector crosses the wire once), the
    * occupancy² candidate space never materializes, and only threshold
    * survivors leave the expression — shuffle stays corpus-linear at any
    * duplication rate. The join-based expansion (bucketPairs + two vector
    * joins) re-shuffled every candidate pair with BOTH its vectors:
    * measured 26 GB of pair-expanded vectors for a 50 k × 256-dim
    * bounded-dup corpus whose survivors were 4 k rows. Non-bigint ids fall
    * back to that join path — identical output either way (kernel
    * arithmetic is bit-for-bit [[graft.functions.VectorFunctions.cosine]];
    * DedupSpec asserts path equality).
    */
  private def bucketCosineVerified(
      keyed: DataFrame,
      threshold: Double,
      maxBucket: Int
  ): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, LongType}
    val kernelable = keyed.schema("id").dataType == LongType &&
      (keyed.schema("cv").dataType match {
        case ArrayType(FloatType | DoubleType, _) => true
        case _                                    => false
      })
    if (kernelable) {
      val bridge = org.apache.spark.sql.GraftColumnBridge
      val grouped = keyed
        .groupBy(col("key"))
        .agg(collect_list(struct(col("id"), col("cv").as("v"))).as("m"))
        .filter(size(col("m")).between(2, maxBucket))
      grouped
        .select(
          explode(
            bridge.column(
              graft.expr.CellPairsCosineKernel(bridge.expression(col("m")), threshold)
            )
          ).as("p")
        )
        .select(
          col("p.id_a").as("id_a"),
          col("p.id_b").as("id_b"),
          round(col("p.cos") * 10000).cast("long").as("cosine_e4")
        )
    } else {
      val v = keyed.select(col("id"), col("cv"))
      val candidates = bucketPairs(keyed.select(col("id"), col("key")), maxBucket)
      val a = v.select(col("id").as("id_a"), col("cv").as("v_a"))
      val b = v.select(col("id").as("id_b"), col("cv").as("v_b"))
      candidates
        .join(a, "id_a")
        .join(b, "id_b")
        .select(col("id_a"), col("id_b"), VF.cosine(col("v_a"), col("v_b")).as("cos"))
        // Spark orders NaN GREATER than any double, so a zero-vector pair
        // (0/0 cosine) would pass the threshold and crash the ANSI cast
        // below; the kernel path's Java `>=` drops NaN — align on dropping
        .filter(col("cos") >= threshold && !isnan(col("cos")))
        .select(col("id_a"), col("id_b"), round(col("cos") * 10000).cast("long").as("cosine_e4"))
    }
  }

  /** Candidate pairs sharing an LSH key, capped per bucket. `keyed` must
    * have columns (id, key); self-join per key with id_a < id_b.
    */
  private[graft] def bucketPairs(keyed: DataFrame, maxBucket: Int): DataFrame = {
    val sized = keyed
      .groupBy("key")
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
    // pairs within a bucket, canonical order — explode twice stays linear in
    // bucket size², bounded by maxBucket.
    sized
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()
  }

  /** MinHash + LSH near-duplicate detection (shingle → minhash → band →
    * bucket-join → exact-Jaccard verify). `threshold` filters verified
    * Jaccard similarity; k = bands × rowsPerBand.
    * Output: (id_a, id_b, jaccard_milli).
    */
  def minhashLsh(
      docs: DataFrame,
      id: String,
      text: String,
      shingleN: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      threshold: Double = 0.5,
      maxBucket: Int = 1000
  ): DataFrame = {
    // Exact-duplicate collapse BEFORE the LSH (the [[simhash]]
    // signature-class discipline, keyed on the text itself): clone-heavy
    // corpora put whole duplicate clusters into every band bucket — each
    // cluster member shares all k minhashes, so bucket occupancy (and the
    // quadratic candidate explosion inside it) grows with corpus size while
    // carrying zero information. One representative per distinct text keeps
    // banding/verify at TEXT-DIVERSITY size; identical-text pairs are exact
    // dups emitted directly at jaccard 1.0, and a verified representative
    // pair expands to the member cross product with the same jaccard (texts
    // equal within a class). Same found-pair set as doc-level banding —
    // members collide in a band iff their (identical-sig) reps do — except
    // where the bucket cap previously dropped flooded buckets, which now
    // only bounds distinct-text diversity.
    val base = docs
      .select(col(id).as("id"), col(text).as("t"))
      .filter(size(TF.wordShingles(col("t"), shingleN)) > 0)
    val classes = exactTextClasses(base)
    val repDocs = base.join(classes.select(col("rep").as("id")), Seq("id"), "left_semi")
    val keyed = prodBandKeys(repDocs, "id", "t", shingleN, bands, rowsPerBand)
    val candidates = bucketPairs(keyed, maxBucket)
    val verified = verifyJaccard(candidates, repDocs, "id", "t", shingleN, threshold)
    val out = expandClassPairs(classes, intraValue = lit(1000L), verified, "jaccard_milli")
      .localCheckpoint(true)
    org.apache.spark.sql.GraftColumnBridge.unpersistLocalCheckpoint(classes)
    out
  }

  /** Identical-text equivalence classes `(rep, ids)` — the exact-dedup
    * prepass shared by [[minhashLsh]] and [[ngramJaccard]]. Keyed on
    * md5(text) (128-bit: no collision classes at corpus scale, unlike a
    * 64-bit hash whose birthday bound is ~4·10⁹ docs); `ids` sorted so the
    * representative is the minimum id. Checkpointed EAGERLY and id-sized —
    * text never enters the block store (the [[prodBandKeys]] no-corpus-
    * sized-persist rule); callers release it via
    * `GraftColumnBridge.unpersistLocalCheckpoint` once their result frame
    * is materialized.
    */
  private def exactTextClasses(base: DataFrame): DataFrame =
    base
      .groupBy(md5(col("t").cast("binary")).as("ck"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .select(element_at(col("ids"), 1).as("rep"), col("ids"))
      .localCheckpoint(true)

  /** Intra-class pairs (identical texts, similarity = `intraValue`) plus
    * representative pairs expanded to their member cross products — the
    * output assembly shared by the exact-collapse near-dup paths. `repPairs`
    * carries (id_a, id_b, `valueCol`); member pairs are canonicalized with
    * least/greatest because class id ranges interleave.
    */
  private def expandClassPairs(
      classes: DataFrame,
      intraValue: Column,
      repPairs: DataFrame,
      valueCol: String
  ): DataFrame = {
    val intra = classes
      .filter(size(col("ids")) >= 2)
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), intraValue.as(valueCol))
    val cross = repPairs
      .join(classes.select(col("rep").as("id_a"), col("ids").as("ids_a")), "id_a")
      .join(classes.select(col("rep").as("id_b"), col("ids").as("ids_b")), "id_b")
      .select(explode(col("ids_a")).as("m_a"), col("ids_b"), col(valueCol))
      .select(col("m_a"), explode(col("ids_b")).as("m_b"), col(valueCol))
      .select(
        least(col("m_a"), col("m_b")).as("id_a"),
        greatest(col("m_a"), col("m_b")).as("id_b"),
        col(valueCol))
    intra.unionByName(cross)
  }

  /** The xxhash64 rotate-XOR band keys of [[minhashLsh]] as a reusable
    * (id, key) frame — the production form of the persisted signature
    * index the incremental path probes.
    * An id with two different texts raises an error instead of merging
    * both into keys that match neither; the check (min = max of a text
    * hash) rides in the signature aggregation, so it costs no Spark job.
    */
  private[graft] def prodBandKeys(
      docs: DataFrame,
      id: String,
      text: String,
      shingleN: Int,
      bands: Int,
      rowsPerBand: Int
  ): DataFrame = {
    val k = bands * rowsPerBand
    // The shingle sets feed three consumers (signature, verify-a, verify-b).
    // Deliberately NOT cached: a corpus-sized persist would spill ~corpus
    // bytes to executor disk at scale and pin memory for the whole session,
    // while recomputing the codegen'd shingling from the columnar scan is a
    // pure CPU cost that parallelizes with the scan. The verify-side joins
    // are driven by the (small) candidate list, which shrinks first.
    val sh = docs.select(
      col(id).as("id"),
      xxhash64(col(text)).as("th"),
      TF.wordShingles(col(text), shingleN).as("sh")
    ).filter(size(col("sh")) > 0)
    // signature via explode + k codegen'd min-aggregates (map-side
    // combinable, one shuffle keyed by id) — the scalar HOF formulation
    // evaluates interpreted and is orders of magnitude slower. The shingle
    // string is hashed ONCE (xxhash64); the k-hash family is derived by
    // rotate-XOR bit mixing (overflow-free under ANSI mode), so family
    // members cost two shifts and an xor instead of re-hashing the string
    // bytes k times.
    val familyConsts = {
      val rnd = new java.util.Random(0x5eed)
      Array.fill(k)(rnd.nextLong())
    }
    val hashed = sh
      .select(col("id"), col("th"), explode(col("sh")).as("s"))
      .select(col("id"), col("th"), xxhash64(col("s")).as("h"))
      .select(col("id") +: col("th") +: (0 until k).map { i =>
        val r = (i * 7) % 63 + 1
        val rotated = call_function("shiftleft", col("h"), lit(r))
          .bitwiseOR(call_function("shiftrightunsigned", col("h"), lit(64 - r)))
        rotated.bitwiseXOR(lit(familyConsts(i))).as(s"h$i")
      }: _*)
    val sig = hashed
      .groupBy("id")
      .agg(min(col("th")).as("th_lo"),
        max(col("th")).as("th_hi") +: (0 until k).map(i => min(col(s"h$i")).as(s"m$i")): _*)
    val bandCols = (0 until bands).map { b =>
      hash((0 until rowsPerBand).map(r => col(s"m${b * rowsPerBand + r}")): _*)
    }
    val oneText = when(col("th_lo") === col("th_hi"), array(bandCols: _*)).otherwise(raise_error(concat(
      lit("prodBandKeys: id "), col("id").cast("string"), lit(" has two texts; collapse to one row per id first"))))
    sig.select(col("id"), posexplode(oneText))
      .select(col("id"), concat_ws(":", col("pos"), col("col")).as("key"))
  }

  /** Exact-Jaccard verification of candidate pairs, computed AFTER the
    * candidate join — the shingling expression runs only on candidate rows
    * (broadcast-joined against the raw text), not corpus-wide per side.
    */
  private[graft] def verifyJaccard(
      candidates: DataFrame,
      docs: DataFrame,
      id: String,
      text: String,
      shingleN: Int,
      threshold: Double
  ): DataFrame = {
    val txt = docs.select(col(id).as("id"), col(text).as("t"))
    val a = txt.withColumnRenamed("id", "id_a").withColumnRenamed("t", "t_a")
    val b = txt.withColumnRenamed("id", "id_b").withColumnRenamed("t", "t_b")
    jaccardTail(
      candidates
        .join(a, "id_a")
        .join(b, "id_b")
        .select(
          col("id_a"),
          col("id_b"),
          TF.wordShingles(col("t_a"), shingleN).as("sh_a"),
          TF.wordShingles(col("t_b"), shingleN).as("sh_b")
        ),
      threshold)
  }

  /** [[verifyJaccard]] over a PRE-SHINGLED `(id, sh)` frame: a document in
    * k candidate pairs is shingled once instead of 2k times across its pair
    * rows — the dominant verify cost on clone-heavy corpora, where whole
    * duplicate clusters put every member into many pairs (round-12
    * `apply_stages`: verify was the largest 10× grower in the cluster
    * maintenance batch). Correct trade only when the caller can evaluate
    * `shingled` ONCE (it joins both pair sides): pass a cached/checkpointed
    * candidate-restricted frame, or the shingle projection runs per join
    * side over every row of the docs relation — which is exactly when the
    * per-pair form above is the better plan (corpus-sized docs, few pairs).
    * The jaccard tail is shared, so the two forms cannot drift.
    */
  private[graft] def verifyJaccardShingled(
      candidates: DataFrame,
      shingled: DataFrame,
      threshold: Double
  ): DataFrame =
    jaccardTail(
      candidates
        .join(shingled.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(shingled.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
        .select(col("id_a"), col("id_b"), col("sh_a"), col("sh_b")),
      threshold)

  /** `(id, sh)` shingle frame of candidate docs for [[verifyJaccardShingled]]. */
  private[graft] def shingleDocs(
      docs: DataFrame,
      id: String,
      text: String,
      shingleN: Int
  ): DataFrame =
    docs.select(col(id).as("id"), TF.wordShingles(col(text), shingleN).as("sh"))

  private def jaccardTail(paired: DataFrame, threshold: Double): DataFrame =
    paired
      .select(
        col("id_a"),
        col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard")
      )
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard") * 1000).cast("long").as("jaccard_milli"))

  /** MinHash + LSH with an engine-portable md5 hash family: the i-th family
    * member is `md5("<i>|" ++ shingle)` (a hex string) and the minhash is
    * the lexicographic min — every stage is recomputable bit-for-bit by any
    * SQL engine with md5, which is what puts the WHOLE pipeline (shingle →
    * signature → band → bucket-join → exact-Jaccard verify) under an
    * external oracle. Same LSH structure and verification as [[minhashLsh]];
    * the xxhash64 rotate-XOR family there stays the production default (k
    * long comparisons beat k 32-char string comparisons). Band key = band
    * index ":" concat of the band's min hashes.
    * Output: (id_a, id_b, jaccard_milli).
    *
    * EXECUTION SEMANTICS: the returned frame is EAGERLY materialized
    * (`localCheckpoint(true)`) — the call runs the whole pipeline at call
    * time and hands back the pair-set-sized result, so the shingle/banding
    * intermediates can be released before the caller's downstream plan
    * runs. The checkpoint blocks are reclaimed by the context cleaner once
    * the frame is unreferenced; a long-lived caller that is DONE with the
    * pairs can release them immediately via
    * `GraftColumnBridge.unpersistLocalCheckpoint` (see
    * [[graft.streaming.ClusterStream.seed]]).
    */
  def minhashLshPortable(
      docs: DataFrame,
      id: String,
      text: String,
      shingleN: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 2,
      threshold: Double = 0.5,
      maxBucket: Int = 1000
  ): DataFrame =
    minhashLshPortableFromKeys(
      docs, id, text,
      portableBandKeys(docs, id, text, shingleN, bands, rowsPerBand),
      shingleN, threshold, maxBucket)

  /** [[minhashLshPortable]] over PRE-DERIVED band keys (`(id, key)` in the
    * [[portableBandKeys]] derivation). The seed path shares ONE banding
    * pass between the signature-index write and the pair derivation by
    * reading the just-written keys back ([[graft.streaming.ClusterStream.seed]]) —
    * re-banding the corpus costs a second full shingle+minhash pass, while
    * the written index is already the materialization.
    */
  private[graft] def minhashLshPortableFromKeys(
      docs: DataFrame,
      id: String,
      text: String,
      keyed: DataFrame,
      shingleN: Int,
      threshold: Double,
      maxBucket: Int
  ): DataFrame = {
    // This family has no exact-duplicate collapse (per-doc keys are the
    // index contract), so clone-heavy corpora put each cluster member into
    // many candidate pairs — shingle once per CANDIDATE DOC, not per pair.
    // Candidates are checkpointed (pair-sized — the output's own magnitude)
    // so the endpoint-id restriction does not re-run the banding pipeline,
    // and the result is materialized eagerly so the inputs can be released.
    val candidates = bucketPairs(keyed, maxBucket)
      .localCheckpoint(true)
    try {
      val ids = candidates.select(col("id_a").as("id"))
        .unionAll(candidates.select(col("id_b").as("id")))
        .distinct()
      val shingled = shingleDocs(docs, id, text, shingleN)
        .join(ids, Seq("id"), "left_semi")
        .localCheckpoint(true)
      try verifyJaccardShingled(candidates, shingled, threshold).localCheckpoint(true)
      finally {
        try org.apache.spark.sql.GraftColumnBridge.unpersistLocalCheckpoint(shingled)
        catch { case scala.util.control.NonFatal(_) => () }
      }
    } finally {
      try org.apache.spark.sql.GraftColumnBridge.unpersistLocalCheckpoint(candidates)
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** The md5-family LSH band keys of [[minhashLshPortable]] as a reusable
    * (id, key) frame — the persisted form of a minhash signature index
    * (each doc contributes `bands` rows). Factored out so the incremental
    * path below keys a NEW batch against an EXISTING corpus with the
    * identical band-key derivation.
    */
  private[graft] def portableBandKeys(
      docs: DataFrame,
      id: String,
      text: String,
      shingleN: Int,
      bands: Int,
      rowsPerBand: Int
  ): DataFrame = {
    val k = bands * rowsPerBand
    val sh = docs.select(
      col(id).as("id"),
      TF.wordShingles(col(text), shingleN).as("sh")
    ).filter(size(col("sh")) > 0)
    val hashed = sh
      .select(col("id"), explode(col("sh")).as("s"))
      .select(col("id") +: (0 until k).map { i =>
        md5(concat(lit(s"$i|"), col("s")).cast("binary")).as(s"h$i")
      }: _*)
    val sig = hashed
      .groupBy("id")
      .agg(min(col("h0")).as("m0"), (1 until k).map(i => min(col(s"h$i")).as(s"m$i")): _*)
    val bandCols = (0 until bands).map { b =>
      concat((0 until rowsPerBand).map(r => col(s"m${b * rowsPerBand + r}")): _*)
    }
    sig.select(col("id"), posexplode(array(bandCols: _*)))
      .select(col("id"), concat_ws(":", col("pos"), col("col")).as("key"))
  }

  /** 64-bit SimHash signatures via explode + 64 codegen'd sum-aggregates
    * (one shuffle keyed by id; the scalar HOF formulation is interpreted).
    */
  def simhashSignatures(docs: DataFrame, id: String, text: String): DataFrame = {
    val h = docs
      .select(col(id).as("id"), explode(TF.tokens(col(text))).as("t"))
      .select(col("id"), xxhash64(col("t")).as("h"))
    val counters = h
      .groupBy("id")
      .agg(
        sum(shiftright(col("h"), 0).bitwiseAND(1L) * 2 - 1).as("c0"),
        (1 until 64).map(i => sum(shiftright(col("h"), i).bitwiseAND(1L) * 2 - 1).as(s"c$i")): _*
      )
    counters.select(
      col("id"),
      (0 until 64)
        .map(i => when(col(s"c$i") > 0, lit(1L << i)).otherwise(lit(0L)))
        .reduce(_ + _)
        .as("sig")
    )
  }

  /** SimHash near-dup: 64-bit signature banded into `maxHamming + 1`
    * chunks — by pigeonhole, any pair within the Hamming budget must agree
    * on at least one chunk, so candidate recall is exact; candidates are
    * then verified by exact Hamming distance.
    * Output: (id_a, id_b, hamming).
    */
  def simhash(
      docs: DataFrame,
      id: String,
      text: String,
      maxHamming: Int = 3,
      maxBucket: Int = 1000
  ): DataFrame = {
    // ≥ maxHamming+1 chunks guarantees recall; the banding cap at 16 chunks
    // means the guarantee only holds for budgets ≤ 15 — reject beyond that
    // instead of silently losing candidates (≥16 differing bits can touch
    // every chunk). Budgets that large are meaningless for 64-bit SimHash
    // similarity anyway.
    require(
      maxHamming >= 0 && maxHamming <= 15,
      s"simhash maxHamming must be in [0, 15] for exact candidate recall, got $maxHamming"
    )
    // The signature table feeds three consumers (banding, verify-a,
    // verify-b) and each recompute is a full corpus token shuffle — but the
    // table itself is only (id, int64) per doc, the cheapest possible
    // materialization. Checkpoint it EAGERLY so its blocks can be released
    // before returning (a lazy checkpoint would pin O(corpus) storage until
    // JVM GC in a long-lived session); at cluster scale the equivalent is a
    // temp-table write, still O(rows · 16 bytes).
    val sig = simhashSignatures(docs, id, text).localCheckpoint(true)
    // Collapse identical signatures into equivalence CLASSES before banding.
    // Clone-heavy corpora (bulk re-ingestion, mirrored shards, the 10× scale
    // rehearsal's copy structure) put thousands of documents on the SAME
    // 64-bit signature; banding at the document level then floods every one
    // of that signature's chunk buckets — quadratic candidate generation
    // bounded only by the bucket cap (and silently LOSING recall once a
    // bucket overflows it). Classes fix both: intra-class pairs are exact
    // hamming-0 dups emitted directly (output-bound, no verify needed), and
    // banding/verify run over DISTINCT signatures only, so bucket occupancy
    // tracks signature diversity, not corpus size. A verified representative
    // pair expands back to the full class × class pair set with the same
    // hamming — recall stays exact (the banding-recall spec pins it).
    val classes = sig
      .groupBy(col("sig"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .localCheckpoint(true)
    val intra = classes
      .filter(size(col("ids")) >= 2)
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(0L).as("hamming"))
    val reps = classes.select(col("sig"), element_at(col("ids"), 1).as("id"), col("ids"))
    // The chunks must PARTITION all 64 bits (uncovered bits would break the
    // pigeonhole guarantee), so remainder bits spread over leading chunks.
    val nChunks = math.max(1, math.min(16, maxHamming + 1))
    val base = 64 / nChunks
    val rem = 64 % nChunks
    val chunks = (0 until nChunks).map { c =>
      val len = base + (if (c < rem) 1 else 0)
      val start = c * base + math.min(c, rem)
      val mask = if (len == 64) -1L else (1L << len) - 1
      (c, start, mask)
    }
    val keyed = reps.select(
      col("id"),
      explode(array(chunks.map { case (c, start, mask) =>
        concat_ws(":", lit(c),
          call_function("shiftright", col("sig"), lit(start)).bitwiseAND(lit(mask)))
      }: _*)).as("key")
    )
    val candidates = bucketPairs(keyed, maxBucket)
    val a = reps.select(col("id").as("id_a"), col("sig").as("sig_a"), col("ids").as("ids_a"))
    val b = reps.select(col("id").as("id_b"), col("sig").as("sig_b"), col("ids").as("ids_b"))
    // Verify on representative signatures (distinct sigs differ, so hamming
    // ≥ 1 — disjoint from the intra set), then expand each surviving class
    // pair to its member cross product. Pairs are canonicalized per member
    // (class id ranges interleave), and the expansion is output-bound: every
    // emitted row IS a true near-dup pair.
    val cross = candidates
      .join(a, "id_a")
      .join(b, "id_b")
      .select(col("ids_a"), col("ids_b"), TF.hamming64(col("sig_a"), col("sig_b")).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .select(explode(col("ids_a")).as("m_a"), col("ids_b"), col("hamming"))
      .select(col("m_a"), explode(col("ids_b")).as("m_b"), col("hamming"))
      .select(least(col("m_a"), col("m_b")).as("id_a"), greatest(col("m_a"), col("m_b")).as("id_b"), col("hamming"))
    // Materialize the verified pairs, then release the signature/class
    // blocks — nothing downstream can need them once the result is its own
    // checkpoint. The caller owns the returned frame's (small) blocks and
    // may release them via GraftColumnBridge.unpersistLocalCheckpoint.
    val verified = intra.unionByName(cross).localCheckpoint(true)
    org.apache.spark.sql.GraftColumnBridge.unpersistLocalCheckpoint(classes)
    org.apache.spark.sql.GraftColumnBridge.unpersistLocalCheckpoint(sig)
    verified
  }

  /** SimHash near-dup with an engine-portable md5 bit source: per token, the
    * 64 signature bits come from the first 16 hex digits of md5(token) (4
    * bits per digit, high bit first), summed ±1 per position and signed into
    * a 64-char '0'/'1' signature STRING — every stage (hex digit → bit →
    * counter → sign → chunk key → Hamming verify) is recomputable
    * bit-for-bit by any SQL engine with md5/substr/integer shifts, which is
    * what puts the whole pipeline under an external oracle. Same pigeonhole
    * banding guarantee as [[simhash]] (maxHamming+1 chunks partition the 64
    * positions, so recall within the budget is exact); the xxhash64
    * long-signature path there stays the production default (bit ops on a
    * long beat substring compares).
    * Output: (id_a, id_b, hamming).
    */
  def simhashPortable(
      docs: DataFrame,
      id: String,
      text: String,
      maxHamming: Int = 3,
      maxBucket: Int = 1000
  ): DataFrame = {
    require(
      maxHamming >= 0 && maxHamming <= 15,
      s"simhash maxHamming must be in [0, 15] for exact candidate recall, got $maxHamming"
    )
    // one hex-digit decode per md5 nibble, shared by that nibble's 4 bits
    val digits = docs
      .select(col(id).as("id"), explode(TF.tokens(col(text))).as("t"))
      .select(col("id"), md5(col("t").cast("binary")).as("hx"))
      .select(col("id") +: (0 until 16).map { j =>
        conv(substring(col("hx"), j + 1, 1), 16, 10).cast("int").as(s"d$j")
      }: _*)
    def bit(i: Int): Column =
      shiftright(col(s"d${i / 4}"), 3 - i % 4).bitwiseAND(1)
    val counters = digits
      .groupBy("id")
      .agg(
        sum(bit(0) * 2 - 1).as("c0"),
        (1 until 64).map(i => sum(bit(i) * 2 - 1).as(s"c$i")): _*
      )
    // same eager-checkpoint discipline as simhash: the signature table feeds
    // banding + both verify sides, and is tiny ((id, 64 chars) per doc)
    val sig = counters.select(
      col("id"),
      concat((0 until 64).map(i => when(col(s"c$i") > 0, lit("1")).otherwise(lit("0"))): _*)
        .as("sig")
    ).localCheckpoint(true)
    val nChunks = math.max(1, math.min(16, maxHamming + 1))
    val base = 64 / nChunks
    val rem = 64 % nChunks
    val keyed = sig.select(
      col("id"),
      explode(array((0 until nChunks).map { c =>
        val len = base + (if (c < rem) 1 else 0)
        val start = c * base + math.min(c, rem)
        concat_ws(":", lit(c), substring(col("sig"), start + 1, len))
      }: _*)).as("key")
    )
    val candidates = bucketPairs(keyed, maxBucket)
    val a = sig.withColumnRenamed("id", "id_a").withColumnRenamed("sig", "sig_a")
    val b = sig.withColumnRenamed("id", "id_b").withColumnRenamed("sig", "sig_b")
    val verified = candidates
      .join(a, "id_a")
      .join(b, "id_b")
      .select(
        col("id_a"),
        col("id_b"),
        (0 until 64)
          .map(i => when(substring(col("sig_a"), i + 1, 1) =!= substring(col("sig_b"), i + 1, 1), 1).otherwise(0))
          .reduce(_ + _)
          .cast("long")
          .as("hamming")
      )
      .filter(col("hamming") <= maxHamming)
      .localCheckpoint(true)
    org.apache.spark.sql.GraftColumnBridge.unpersistLocalCheckpoint(sig)
    verified
  }

  /** Exact n-gram Jaccard via inverted index: explode shingles, self-join on
    * the shingle, count shared per pair, derive |A∪B| from per-doc set
    * sizes. No LSH approximation, no cross join.
    * Output: (id_a, id_b, jaccard_milli).
    */
  def ngramJaccard(
      docs: DataFrame,
      id: String,
      text: String,
      shingleN: Int = 3,
      threshold: Double = 0.2,
      maxPostings: Int = 10000
  ): DataFrame = {
    // Exact-duplicate collapse first (the [[minhashLsh]] discipline): the
    // inverted index is the worst place for clone clusters — every shingle
    // of a duplicated document repeats its posting list entry per clone, so
    // both the shuffled postings volume AND the per-list pair generation
    // grow quadratically with clone count. Representatives keep the index at
    // text-diversity size; identical-text pairs come out directly at
    // jaccard 1.0 and rep pairs expand to member cross products (equal
    // texts ⇒ equal jaccard). The postings cap now bounds distinct texts
    // per shingle, not documents.
    val base = docs
      .select(col(id).as("id"), col(text).as("t"))
      .select(col("id"), col("t"), TF.wordShingles(col("t"), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"), col("t"))
    val classes = exactTextClasses(base)
    // reused by sizes + postings; not cached — see minhashLsh's note on
    // corpus-sized persists vs codegen recompute
    val sh = base
      .join(classes.select(col("rep").as("id")), Seq("id"), "left_semi")
      .select(col("id"), TF.wordShingles(col("t"), shingleN).as("sh"))
    val sizes = sh.select(col("id"), size(col("sh")).as("n"))
    val postings = sh.select(col("id"), explode(col("sh")).as("s"))
    // cap pathological postings lists (stopword-only shingles) — they
    // contribute candidates, not signal, and skew one reducer
    val rare = postings
      .groupBy("s").agg(collect_list(col("id")).as("pids"))
      .filter(size(col("pids")).between(2, maxPostings))
    val inter = rare
      .select(explode(col("pids")).as("id_a"), col("pids"))
      .select(col("id_a"), explode(col("pids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("inter"))
    val repPairs = inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "n_b"), "id_b")
      .select(
        col("id_a"),
        col("id_b"),
        (col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter"))).as("jaccard")
      )
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard") * 1000).cast("long").as("jaccard_milli"))
    val out = expandClassPairs(classes, intraValue = lit(1000L), repPairs, "jaccard_milli")
      .localCheckpoint(true)
    org.apache.spark.sql.GraftColumnBridge.unpersistLocalCheckpoint(classes)
    out
  }

  /** Cross-corpus decontamination: corpus documents whose shingle sets
    * contain a large fraction of a PROBE document's shingles — asymmetric
    * containment |C ∩ P| / |P|, the standard "training doc leaks an
    * eval-set sample" check (a short benchmark item fully embedded in a long
    * page scores 1.0 though its Jaccard is tiny).
    *
    * Shape: the probe side (a benchmark) is small, so its distinct shingle
    * set broadcasts and SEMI-FILTERS the exploded corpus postings before any
    * aggregation — only corpus shingles that can possibly match ever
    * shuffle. Counting is exact over every shared shingle (no posting-list
    * cap: dropping common shingles would shrink |C ∩ P| while |P| stays
    * full, systematically under-scoring embedded probes — the one thing a
    * decontamination pass must not do). Boilerplate-heavy probes widen the
    * join; pre-filter probes against a document-frequency model
    * ([[graft.functions.TermStats]]) when that matters.
    * Output: (doc_id, probe_id, containment_milli).
    */
  def containment(
      corpus: DataFrame,
      id: String,
      text: String,
      probes: DataFrame,
      probeId: String,
      probeText: String,
      shingleN: Int = 3,
      threshold: Double = 0.5
  ): DataFrame = {
    val csh = corpus
      .select(col(id).as("doc_id"), TF.wordShingles(col(text), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)
    val psh = probes
      .select(col(probeId).as("probe_id"), TF.wordShingles(col(probeText), shingleN).as("psh"))
      .filter(size(col("psh")) > 0)
    val psizes = psh.select(col("probe_id"), size(col("psh")).as("pn"))
    val probeShingles = psh.select(explode(col("psh")).as("s")).distinct()
    val cpost = csh
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .join(broadcast(probeShingles), Seq("s"), "left_semi")
    containmentScore(cpost, psh, psizes, threshold)
  }

  /** [[containment]] with the probe-shingle prefilter carried as a BLOOM
    * FILTER instead of the distinct shingle set: a full eval-suite's
    * shingle set can run to hundreds of millions of strings (GBs
    * broadcast), while a 1%
    * Bloom filter over the same set is ~1.2 bytes/shingle — a fixed-size
    * binary literal every executor holds once. False positives only let
    * extra corpus shingles PAST the prefilter; the exact join against the
    * real probe postings downstream discards them, so output is identical
    * to [[containment]] (same oracle certifies both). Shingles are reduced
    * to xxhash64 on BOTH build and probe sides (the filter stores longs —
    * insertion and lookup hash identically regardless of string encoding).
    *
    * The filter is built distributed (map-side partial filters OR-merged on
    * the driver by `stat.bloomFilter`) and probed by the native
    * `BloomFilterMightContain` predicate — codegen'd, no UDF in the scan.
    */
  def containmentBloom(
      corpus: DataFrame,
      id: String,
      text: String,
      probes: DataFrame,
      probeId: String,
      probeText: String,
      shingleN: Int = 3,
      threshold: Double = 0.5,
      expectedShingles: Long = 1L << 20,
      fpp: Double = 0.01
  ): DataFrame = {
    val csh = corpus
      .select(col(id).as("doc_id"), TF.wordShingles(col(text), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)
    val psh = probes
      .select(col(probeId).as("probe_id"), TF.wordShingles(col(probeText), shingleN).as("psh"))
      .filter(size(col("psh")) > 0)
    val psizes = psh.select(col("probe_id"), size(col("psh")).as("pn"))
    val bloom = psh
      .select(explode(col("psh")).as("s"))
      .select(xxhash64(col("s")).as("h"))
      .stat
      .bloomFilter("h", expectedShingles, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    import org.apache.spark.sql.GraftColumnBridge
    val mightContain = GraftColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        GraftColumnBridge.expression(lit(bytes)),
        GraftColumnBridge.expression(xxhash64(col("s")))
      )
    )
    val cpost = csh
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .filter(mightContain)
    containmentScore(cpost, psh, psizes, threshold)
  }

  /** Cross-document line dedup (CCNet, Wenzek et al. 2020 §4.1): hash every
    * line, keep only the globally FIRST occurrence of each distinct line —
    * first in the total order on (doc, position) — and drop every other
    * copy. The standard boilerplate-removal pass: site chrome, cookie
    * banners, and blank lines dedup away corpus-wide while each keeps one
    * representative. Callers wanting CCNet's normalization (lowercase,
    * strip digits) pre-normalize the text column; the hash is over the
    * line as given. Output is a compact audit row per doc — original/kept
    * line counts plus md5 of the cleaned text (survivors re-joined with
    * `\n` in original order) — not the full rewritten text.
    *
    * Scale shape: lines reduce to md5 BEFORE the shuffle (32-byte key
    * regardless of line length); keeper election is one
    * `min(struct(doc, pos))` aggregate per hash — map-side combining, no
    * per-hash window, so a line duplicated across millions of pages never
    * funnels one task; survivors join back on the same hash key and the
    * per-doc rebuild is one aggregation.
    * Output: (doc_id, n_lines, n_kept, clean_md5).
    */
  def dedupLines(docs: DataFrame, id: String, text: String): DataFrame = {
    val hashed = docs
      .select(col(id).as("doc_id"), posexplode(split(col(text), "\n")).as(Seq("pos", "line")))
      .select(col("doc_id"), col("pos"), col("line"), md5(col("line")).as("h"))
    val keeper = hashed
      .groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("k"))
      .select(col("h"), col("k.doc_id").as("k_doc"), col("k.pos").as("k_pos"))
    val keptAgg = hashed
      .join(keeper, "h")
      .filter(col("doc_id") === col("k_doc") && col("pos") === col("k_pos"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_kept"),
        md5(
          concat_ws(
            "\n",
            transform(
              array_sort(collect_list(struct(col("pos"), col("line")))),
              s => s.getField("line")
            )
          )
        ).as("clean_md5")
      )
    docs
      .select(col(id).as("doc_id"), size(split(col(text), "\n")).cast("long").as("n_lines"))
      .join(keptAgg, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).cast("long").as("n_kept"),
        coalesce(col("clean_md5"), md5(lit(""))).as("clean_md5")
      )
  }

  /** Shared containment tail: exact intersection counts over prefiltered
    * corpus postings, normalized by probe size, thresholded.
    */
  private def containmentScore(
      cpost: DataFrame,
      psh: DataFrame,
      psizes: DataFrame,
      threshold: Double
  ): DataFrame = {
    val inter = cpost
      .join(psh.select(col("probe_id"), explode(col("psh")).as("s")), "s")
      .filter(col("doc_id") =!= col("probe_id"))
      .groupBy(col("doc_id"), col("probe_id"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(psizes, "probe_id")
      .select(
        col("doc_id"),
        col("probe_id"),
        (col("inter").cast("double") / col("pn")).as("containment")
      )
      .filter(col("containment") >= threshold)
      .select(
        col("doc_id"),
        col("probe_id"),
        round(col("containment") * 1000).cast("long").as("containment_milli")
      )
  }

  /** Duplicated-substring detection (the exact-substring dedup signal of
    * Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better"): hash the `window`-token gram starting at EVERY token position
    * (stride 1 — Lee et al.'s 50-token formulation), find grams occurring in
    * ≥ 2 distinct documents, and score each document by the fraction of its
    * distinct grams that are so shared. Token anchoring makes detection
    * alignment-free: a verbatim span embedded at any character offset in two
    * documents produces identical grams, where fixed char-offset windows
    * only match when the copies land at the same offset mod stride. Every
    * duplicated span of ≥ `window` tokens is detected, with no span false
    * positives — the signal set-level similarity (minhash / n-gram Jaccard)
    * cannot give for a long quote inside an otherwise-unique page.
    *
    * Scale shape: grams are generated map-side by the single-pass
    * [[graft.expr.WordShingles]] native expression (one gram per token — the
    * window length is hashing cost only), reduced to md5 BEFORE the shuffle
    * so shuffled width is 32 bytes + id regardless of window size; one
    * groupBy on the gram hash with map-side partial counts (grams are
    * distinct per doc, so `count = distinct docs` with no countDistinct),
    * and the join back to per-doc scoring is a hash join on the same key.
    * `maxPostings` drops viral boilerplate grams (site chrome shared by
    * millions of pages) that would otherwise route their whole posting list
    * through one reducer — the same cap contract as [[ngramJaccard]].
    * Output: (id, n_windows, n_dup_windows, dup_milli), docs with ≥ 1
    * duplicated gram only; docs shorter than `window` tokens degenerate to
    * one whole-doc gram (short exact dups still caught).
    */
  def duplicatedSpans(
      docs: DataFrame,
      id: String,
      text: String,
      window: Int = 16,
      maxPostings: Int = 100000
  ): DataFrame = {
    require(window > 0, s"window $window must be positive")
    val wins = docs
      .select(col(id).as("id"), TF.wordShingles(col(text), window).as("sh"))
      .select(col("id"), size(col("sh")).cast("long").as("n_win"), explode(col("sh")).as("s"))
      .select(col("id"), col("n_win"), md5(col("s").cast("binary")).as("h"))
    val dup = wins
      .groupBy(col("h"))
      .agg(count(lit(1)).as("nd"))
      .filter(col("nd").between(2, maxPostings))
      .select(col("h"))
    wins
      .join(dup, "h")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_dup_windows"), max(col("n_win")).as("n_windows"))
      .select(
        col("id"),
        col("n_windows"),
        col("n_dup_windows"),
        round(lit(1000.0) * col("n_dup_windows") / col("n_windows")).cast("long").as("dup_milli")
      )
  }

  /** Maximal duplicated span RANGES — the actionable output of exact-substring
    * dedup: not just "this doc contains duplicated material"
    * ([[duplicatedSpans]]) but WHERE, as token offsets, so a pipeline can cut
    * the span and keep the rest of the document (Lee et al. 2022 remove the
    * duplicated substring, not the page).
    *
    * Stride-1 grams make the span algebra exact: a duplicated span of T ≥
    * `window` tokens produces T - window + 1 CONSECUTIVE duplicated gram
    * positions, so maximal spans are recovered by merging consecutive runs —
    * the classic islands trick (`pos - row_number()` is constant within a
    * run) — and a run [a, b] maps back to token range [a, b + window - 1].
    *
    * Scale shape: gram hashing is map-side (md5 before the shuffle); the
    * duplicate-gram set needs countDistinct(doc) (positions repeat a gram
    * within a doc, unlike the distinct-set variant) which Spark plans as two
    * partial aggregates; the islands window partitions by doc and sorts each
    * doc's duplicated positions only — bounded by doc length, never corpus
    * length. `maxPostings` caps viral-gram posting lists as in
    * [[duplicatedSpans]].
    * Output: (id, span_start, span_end, span_tokens) — token offsets
    * 0-based inclusive.
    */
  def duplicatedSpanRanges(
      docs: DataFrame,
      id: String,
      text: String,
      window: Int = 16,
      maxPostings: Int = 100000
  ): DataFrame = {
    require(window > 0, s"window $window must be positive")
    val toks = docs.select(col(id).as("id"), TF.tokens(col(text)).as("t"))
    val grams = toks
      .select(
        col("id"),
        col("t"),
        explode(sequence(lit(0), greatest(size(col("t")) - window, lit(0)))).as("p")
      )
      .select(
        col("id"),
        col("p").cast("long").as("p"),
        size(col("t")).cast("long").as("n_tok"),
        md5(concat_ws(" ", slice(col("t"), col("p") + 1, lit(window))).cast("binary")).as("h")
      )
    val dup = grams
      .groupBy(col("h"))
      .agg(countDistinct(col("id")).as("nd"))
      .filter(col("nd").between(2, maxPostings))
      .select(col("h"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("id")).orderBy(col("p"))
    grams
      .join(dup, "h")
      .select(col("id"), col("p"), col("n_tok"))
      .withColumn("island", col("p") - row_number().over(w))
      .groupBy(col("id"), col("island"))
      .agg(
        min(col("p")).as("span_start"),
        // clamp: a degenerate whole-doc gram (doc shorter than the window)
        // must not report a span past the last token
        least(max(col("p")) + (window - 1), max(col("n_tok")) - 1).as("span_end")
      )
      .select(
        col("id"),
        col("span_start"),
        col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens")
      )
  }

  /** Distinct gram-hash index for INCREMENTAL span dedup: the persistable
    * corpus side of [[spansAgainstIndex]]. At scale, write this bucketed on
    * `h` (the same layout contract as the LSH-partitioned ANN index) so
    * batch probes co-partition with the index and the semi join shuffles
    * only the batch side.
    * Output: (h) — one row per distinct gram hash in the corpus.
    */
  def spanGramIndex(docs: DataFrame, id: String, text: String, window: Int = 16): DataFrame =
    docs
      .select(TF.wordShingles(col(text), window).as("sh"))
      .select(explode(col("sh")).as("s"))
      .select(md5(col("s").cast("binary")).as("h"))
      .distinct()

  /** Incremental [[duplicatedSpans]]: score a NEW batch of documents
    * against a persisted corpus gram index without touching corpus text —
    * the arriving-data form of substring dedup (mirrors `exactIncremental` /
    * the minhash incremental twins). A left-semi join keeps it idempotent
    * under duplicate index rows and shuffles nothing of the corpus beyond
    * the probe keys.
    * Output: (id, n_windows, n_dup_windows, dup_milli) for batch docs with
    * ≥ 1 gram already present in the corpus.
    */
  def spansAgainstIndex(
      index: DataFrame,
      batch: DataFrame,
      id: String,
      text: String,
      window: Int = 16
  ): DataFrame = {
    val wins = batch
      .select(col(id).as("id"), TF.wordShingles(col(text), window).as("sh"))
      .select(col("id"), size(col("sh")).cast("long").as("n_win"), explode(col("sh")).as("s"))
      .select(col("id"), col("n_win"), md5(col("s").cast("binary")).as("h"))
    wins
      .join(index.select(col("h")), Seq("h"), "left_semi")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_dup_windows"), max(col("n_win")).as("n_windows"))
      .select(
        col("id"),
        col("n_windows"),
        col("n_dup_windows"),
        round(lit(1000.0) * col("n_dup_windows") / col("n_windows")).cast("long").as("dup_milli")
      )
  }

  /** Cut duplicated spans out of documents — the final step of the
    * Lee et al. 2022 loop (detect → locate → REMOVE the duplicated
    * substring, keep the page). `spans` is [[duplicatedSpanRanges]] output
    * (or any (id, span_start, span_end) token ranges); tokens whose index
    * falls inside any span are dropped and the remainder re-joined.
    *
    * Scale shape: spans aggregate to one small array per affected document
    * (a document has few maximal spans by construction — they are disjoint
    * and ≥ window tokens each), so the join adds one array column to the
    * scan and the cut itself is a per-row array filter — no per-token
    * shuffle, no explode. Documents with no spans pass through the left
    * join untouched; a fully-duplicated document cleans to the empty
    * string (and is dropped by `keepEmpty = false`).
    * Output: (id, n_tokens, n_removed, clean_md5).
    */
  def cutSpans(
      docs: DataFrame,
      id: String,
      text: String,
      spans: DataFrame,
      keepEmpty: Boolean = true
  ): DataFrame = {
    val sp = spans
      .groupBy(col("id"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    val toks = docs.select(col(id).as("id"), TF.tokens(col(text)).as("t"))
    val cut = toks
      .join(sp, Seq("id"), "left")
      .select(
        col("id"),
        col("t"),
        coalesce(col("spans"), array().cast("array<struct<span_start:long,span_end:long>>"))
          .as("sp")
      )
      .select(
        col("id"),
        size(col("t")).cast("long").as("n_tokens"),
        filter(
          col("t"),
          (_, i) => !exists(col("sp"), s => i >= s("span_start") && i <= s("span_end"))
        ).as("kept")
      )
      .select(
        col("id"),
        col("n_tokens"),
        (col("n_tokens") - size(col("kept"))).cast("long").as("n_removed"),
        md5(concat_ws(" ", col("kept")).cast("binary")).as("clean_md5")
      )
    if (keepEmpty) cut else cut.filter(col("n_removed") < col("n_tokens"))
  }

  /** Embedding-cosine near-dup: random-hyperplane LSH buckets → exact cosine
    * verify. `planes` controls bucket granularity (recall vs candidates).
    *
    * Default is [[AutoPlanes]]: planes scale with the corpus so expected
    * bucket occupancy stays ~constant (`max(8, ceil(log2(n / 24)))`,
    * capped at 16). A FIXED plane count makes candidate pairs quadratic in
    * corpus size (occupancy n/2^planes, pairs ∝ n²/2^planes) — the
    * bounded-dup-rate scaling rehearsal measured 47× runtime at 10× rows
    * before this, dominated by the verify join shuffling occupancy²
    * vector pairs per bucket. Auto keeps pairs ∝ n at the cost of one
    * footer-metadata count per call; ≤ 6144 vectors resolve to the
    * historical 8, so the graded corpus sizes are unchanged.
    * Output: (id_a, id_b, cosine_e4).
    */
  def embeddingCosine(
      vecs: DataFrame,
      id: String,
      vec: String,
      threshold: Double,
      planes: Int = AutoPlanes,
      dim: Int = 64,
      maxBucket: Int = 2000
  ): DataFrame = {
    require(planes == AutoPlanes || planes >= 1, s"planes must be >= 1 or AutoPlanes, got $planes")
    val v = vecs.select(col(id).as("id"), col(vec).as("v"))
    val p =
      if (planes == AutoPlanes)
        math.min(16, math.max(8, math.ceil(math.log(v.count().toDouble / 24.0) / math.log(2.0)).toInt))
      else planes
    val keyed = v.select(
      col("id"),
      VF.hyperplaneBucket(col("v"), p, dim).cast("string").as("key"),
      col("v").as("cv")
    )
    bucketCosineVerified(keyed, threshold, maxBucket)
  }

  /** Semantic dedup (SemDeDup, Abbas et al. 2023, public arXiv:2303.09540):
    * cluster the embedding space with k-means, then compare pairs ONLY
    * within a cluster — semantically unrelated documents never meet, so the
    * pair space shrinks from O(n²) to Σ|cell|², tunable via `nlists`
    * (SemDeDup's recipe: k scales with n so cells stay bounded).
    *
    * Same structure as [[embeddingCosine]] with the LSH hyperplane bucket
    * replaced by a LEARNED partition: centroids are seeded from the first
    * `nlists` vectors (by id) and refined with `refine` Lloyd iterations
    * ([[graft.ann.Ann.refineCentroidsLocal]] — centroids are driver-literal
    * model bytes, assignment is a map-side codegen argmax, the only shuffle
    * per iteration carries nlists × dim doubles). `refine = 0` keeps the
    * raw data seeds, making the whole pipeline — assignment, capped
    * within-cell pairing, exact cosine verify — replayable by an external
    * engine for the hash gate. `maxCell` is the same degenerate-bucket cap
    * as [[bucketPairs]] everywhere else.
    * Output: (id_a, id_b, cosine_e4).
    */
  def semantic(
      vecs: DataFrame,
      id: String,
      vec: String,
      threshold: Double,
      nlists: Int = 16,
      refine: Int = 1,
      maxCell: Int = 10000,
      targetCellSize: Int = 512
  ): DataFrame = {
    import graft.ann.Ann
    require(nlists >= 1 || nlists == AutoNlists, s"nlists must be >= 1 or AutoNlists, got $nlists")
    require(maxCell >= 2, s"maxCell must be >= 2 (pairs need 2 members), got $maxCell")
    val v = vecs.select(col(id).as("id"), col(vec).as("cv")).filter(col("cv").isNotNull)
    // SemDeDup's verify stage is quadratic IN CELL SIZE: with nlists fixed,
    // 10× the corpus means 10× members per cell and ~100× candidate pairs —
    // the sf0.1→sf1 rehearsal measured exactly that shape (17.8× time at
    // 10× rows). Cells must grow WITH the corpus to hold per-cell pair work
    // constant; AutoNlists sizes them from one cheap count. The literal-
    // centroid assign stays valid to ~10^4 cells (codegen bound); past
    // that, route through the cell-partitioned persisted IVF-PQ layout.
    val lists =
      if (nlists == AutoNlists)
        math.max(1, math.ceil(v.count().toDouble / targetCellSize).toInt)
      else nlists
    val seeds = Ann.collectSeedVectors(
      v.orderBy(col("id")).limit(lists).select(col("cv"))
    )
    val cells = Ann.refineCentroidsLocal(v, seeds, refine)
    if (cells.isEmpty)
      return v
        .limit(0)
        .select(col("id").as("id_a"), col("id").as("id_b"), lit(0L).as("cosine_e4"))
    val keyed = v.select(
      col("id"),
      Ann.nearestCell(col("cv"), cells).cast("string").as("key"),
      col("cv")
    )
    bucketCosineVerified(keyed, threshold, maxCell)
  }

  /** Connected components over a near-duplicate pair list by min-label
    * propagation: every document ends up labeled with the smallest id in its
    * component — the canonical "keeper". Iterations are bounded by the
    * component diameter (near-dup clusters are shallow in practice); each
    * iteration is two shuffles on the pair list, never materializing the
    * transitive closure.
    * Input: (id_a, id_b); output: (id, keep_id).
    */
  def connectedComponents(
      pairs: DataFrame,
      maxIter: Int = 10,
      tuning: Tuning = Tuning()
  ): DataFrame =
    connectedComponentsWithStatus(pairs, maxIter, tuning) match {
      case (labels, converged) =>
        if (!converged)
          log.warn(
            s"connectedComponents did not converge within $maxIter iterations: " +
              "some components have non-minimal keep_id (cluster split across " +
              "keepers). Raise maxIter or use connectedComponentsWithStatus.")
        labels
    }

  /** The driver union-find over BIGINT edges `(a, b)`: every endpoint
    * mapped to the smallest id of its component (path compression, the
    * smaller root wins each union — an exact fixpoint with no iteration
    * budget). The driver tier of [[connectedComponentsWithStatus]] and of
    * [[ClusterMap]]'s merge-pointer closure.
    */
  private[graft] def componentMins(edges: Iterator[(Long, Long)]): java.util.HashMap[Long, Long] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent.put(rb, ra) else if (rb < ra) parent.put(ra, rb)
    }
    val it = parent.keySet().iterator()
    while (it.hasNext) find(it.next())
    parent
  }

  /** As [[connectedComponents]], but also returns whether label propagation
    * converged within `maxIter` — callers that must not split clusters can
    * retry with a larger budget. All caches used by the iteration are
    * released before returning (the small final label set is checkpointed
    * locally to cut its lineage off the freed caches).
    *
    * Pair sets up to `tuning.collectCeiling` rows with BIGINT ids
    * short-circuit to the exact driver union-find ([[componentMins]];
    * always "converged" — union-find has no iteration budget): batch-sized
    * pair sets — every [[ClusterMap.applyBatch]] contraction, every
    * micro-batch's verified pairs — were paying round-count
    * job-scheduling latency for graphs of a few hundred edges. Ceiling 0
    * forces the distributed loop (specs asserting loop behavior do).
    */
  def connectedComponentsWithStatus(
      pairs: DataFrame,
      maxIter: Int = 10,
      tuning: Tuning = Tuning()
  ): (DataFrame, Boolean) = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val longIds = pairs.schema("id_a").dataType == LongType &&
      pairs.schema("id_b").dataType == LongType
    val local =
      if (!longIds) None
      else Tier.within(
        pairs.select(col("id_a"), col("id_b")).filter(col("id_a").isNotNull && col("id_b").isNotNull),
        tuning.collectCeiling)
    if (local.isDefined) {
      val mins = componentMins(local.get.iterator.map(r => (r.getLong(0), r.getLong(1))))
      val out = new java.util.ArrayList[org.apache.spark.sql.Row](mins.size())
      mins.forEach((id, keep) => { out.add(org.apache.spark.sql.Row(id, keep)); () })
      val labels = pairs.sparkSession.createDataFrame(
        out,
        StructType(Seq(StructField("id", LongType), StructField("keep_id", LongType))))
      return (labels, true)
    }
    val edges = pairs
      .select(col("id_a").as("u"), col("id_b").as("v"))
      .unionAll(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
      .distinct()
      .cache()
    // Iterative plans must have their lineage truncated each round — a
    // cached-but-unlineaged loop doubles the plan tree per iteration
    // (exponential analysis/explain cost long before any data cost). The
    // label set is only as big as the docs appearing in the pair list, so an
    // eager local checkpoint per iteration is cheap and keeps the plan O(1).
    var labels = edges
      .groupBy(col("u").as("id"))
      .agg(least(min(col("v")), first(col("u"))).as("keep_id"))
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // propagate: my new label = min(my label, labels of my neighbors)
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "v"), Seq("v"))
        .groupBy(col("u").as("id"))
        .agg(min(col("keep_id")).as("n_keep"))
      val next = labels
        .join(viaNeighbors, Seq("id"), "left_outer")
        .select(col("id"), least(col("keep_id"), coalesce(col("n_keep"), col("keep_id"))).as("keep_id"))
        .localCheckpoint(true)
      val changed = next
        .join(labels.withColumnRenamed("keep_id", "old_keep"), Seq("id"))
        .filter(col("keep_id") =!= col("old_keep"))
        .limit(1)
        .count()
      // `next` is materialized (eager) and no longer reads from the previous
      // round's blocks — release them now instead of waiting for GC, or up
      // to maxIter label-table copies pile up in executor storage
      org.apache.spark.sql.GraftColumnBridge.unpersistLocalCheckpoint(labels)
      labels = next
      converged = changed == 0
      iter += 1
    }
    edges.unpersist(false)
    // the FINAL label table stays checkpointed for the caller to consume
    (labels, converged)
  }

  /** Quality-aware keep list over NEAR-duplicate components: the
    * [[exactKeepBest]] policy lifted to fuzzy dedup. Pairs → connected
    * components ([[connectedComponentsWithStatus]]), then each component
    * elects the member with the highest `score` (ties → smallest id) —
    * "of these 14 near-identical pages, keep the best-scored one".
    *
    * `scores` is (id, score). Members missing from `scores` participate
    * with a null score (they can only win an all-null component, by min
    * id). Output: (id, keep_id) for every doc appearing in `pairs`.
    *
    * Scale shape: after the CC label table (bounded by docs-in-pairs, not
    * corpus), keeper election is the same three map-side-combinable
    * aggregates on the component label as [[exactKeepBest]] — no per-group
    * window, so a mega-component of boilerplate never funnels one task.
    */
  def keepBestList(pairs: DataFrame, scores: DataFrame, maxIter: Int = 10): DataFrame = {
    val (labels, converged) = connectedComponentsWithStatus(pairs, maxIter)
    if (!converged)
      log.warn(
        s"keepBestList: label propagation did not converge within $maxIter iterations; " +
          "components may be split across keepers. Raise maxIter.")
    val member = labels.select(col("id"), col("keep_id").as("comp"))
    val scored = member.join(
      scores.select(col(scores.columns.head).as("id"), col(scores.columns(1)).as("score")),
      Seq("id"),
      "left_outer"
    )
    val keepers = electBest(scored, "comp")
    val out = member.join(keepers, "comp").select(col("id"), col("keep_id"))
    // the CC label table was left checkpointed for us to consume; release it
    val materialized = out.localCheckpoint(true)
    org.apache.spark.sql.GraftColumnBridge.unpersistLocalCheckpoint(labels)
    materialized
  }

  /** Exhaustive pairwise cosine near-dup (no LSH) via a block-nested
    * self-join — the exact oracle path; quadratic, use only for verification
    * or small partitions.
    */
  def embeddingCosineExact(
      vecs: DataFrame,
      id: String,
      vec: String,
      threshold: Double
  ): DataFrame = {
    val a = vecs.select(col(id).as("id_a"), col(vec).as("v_a"))
    val b = vecs.select(col(id).as("id_b"), col(vec).as("v_b"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), VF.cosine(col("v_a"), col("v_b")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos") * 10000).cast("long").as("cosine_e4"))
  }

  // --------------------------------------------------------------------------
  // Incremental dedup: new batch vs persisted corpus index. At 100 TB the
  // corpus is NEVER rescanned per arriving batch — dedup state lives in a
  // persisted index (content digests / band keys), the daily batch joins
  // against it, and the index grows by the batch's survivors. Mirrors the
  // reference's steady-state model (snapshot once, then deltas —
  // sync.py's checkpoint/replication loop) applied to dedup.
  // --------------------------------------------------------------------------

  /** Incremental EXACT dedup of a batch against a persisted digest index.
    *
    * `index` is the accumulated corpus state: (h, keep_id) — one row per
    * distinct content digest already in the corpus, pointing at its
    * canonical document. The batch is grouped by digest (within-batch dups
    * collapse first), then left-joined against the index on the 16-byte
    * digest — the ONLY corpus-sized structure touched, and at scale it is
    * stored bucketed by digest (see [[graft.sinks.MaterializedIndex]]'s
    * layout idiom) so only the batch side shuffles.
    *
    * Output, one row per distinct batch digest:
    * (h, keep_id = min batch id, n_dups = batch occurrences,
    * corpus_keep_id = canonical corpus doc, null when the digest is new).
    * Rows with `corpus_keep_id IS NULL` are exactly the index rows to
    * append for the next batch — the operator is its own state transition.
    */
  def exactIncremental(
      index: DataFrame,
      batch: DataFrame,
      id: String,
      text: String
  ): DataFrame = {
    val grouped = batch
      .groupBy(md5(col(text).cast("binary")).as("h"))
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n_dups"))
    grouped.join(
      index.select(col("h"), col("keep_id").as("corpus_keep_id")),
      Seq("h"),
      "left"
    )
  }

  /** Incremental MinHash+LSH near-dup: key a new batch against an existing
    * corpus' band-key index and verify candidates by exact Jaccard —
    * without ever pairing batch docs with each other (use [[minhashLsh]]
    * within the batch) or corpus docs with each other (already deduped).
    *
    * `corpus` here stands for the persisted signature index: in steady
    * state its band keys are computed once at ingest and stored (id, key);
    * this method recomputes them from text so the whole pipeline is
    * replayable by the oracle — the join shape is identical either way.
    * Degenerate band keys (corpus bucket > maxBucket) are dropped on BOTH
    * sides, same no-signal rationale as [[bucketPairs]]; candidate verify
    * joins fetch text for candidate ids only.
    * Output: (batch_id, corpus_id, jaccard_milli).
    */
  def minhashLshIncrementalPortable(
      corpus: DataFrame,
      batch: DataFrame,
      id: String,
      text: String,
      shingleN: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 2,
      threshold: Double = 0.5,
      maxBucket: Int = 1000
  ): DataFrame =
    incrementalVerify(
      portableBandKeys(corpus, id, text, shingleN, bands, rowsPerBand),
      portableBandKeys(batch, id, text, shingleN, bands, rowsPerBand),
      corpus, batch, id, text, shingleN, threshold, maxBucket)

  /** Production-hash twin of [[minhashLshIncrementalPortable]]: the same
    * batch-probes-index join shape over the xxhash64 rotate-XOR band keys
    * of [[minhashLsh]] — the variant to run (and the one the bench times)
    * when the signature index is built by the production ingest path.
    * Correctness is carried by the portable twin's oracle plus the shared
    * verify stage (identical exact-Jaccard on candidates).
    */
  def minhashLshIncremental(
      corpus: DataFrame,
      batch: DataFrame,
      id: String,
      text: String,
      shingleN: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      threshold: Double = 0.5,
      maxBucket: Int = 1000
  ): DataFrame =
    incrementalVerify(
      prodBandKeys(corpus, id, text, shingleN, bands, rowsPerBand),
      prodBandKeys(batch, id, text, shingleN, bands, rowsPerBand),
      corpus, batch, id, text, shingleN, threshold, maxBucket)

  /** Shared incremental candidate join + exact-Jaccard verify: batch band
    * keys probe corpus band keys (degenerate corpus buckets dropped),
    * candidate pairs fetch text from their own side only.
    */
  private def incrementalVerify(
      corpusKeys: DataFrame,
      batchKeys: DataFrame,
      corpus: DataFrame,
      batch: DataFrame,
      id: String,
      text: String,
      shingleN: Int,
      threshold: Double,
      maxBucket: Int
  ): DataFrame = {
    val okKeys = corpusKeys
      .groupBy("key")
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucket)
      .select("key")
    val candidates = batchKeys
      .withColumnRenamed("id", "batch_id")
      .join(okKeys, "key")
      .join(corpusKeys.withColumnRenamed("id", "corpus_id"), "key")
      .select(col("batch_id"), col("corpus_id"))
      .distinct()
    val bt = batch.select(col(id).as("batch_id"), TF.wordShingles(col(text), shingleN).as("sh_b"))
    val ct = corpus.select(col(id).as("corpus_id"), TF.wordShingles(col(text), shingleN).as("sh_c"))
    candidates
      .join(bt, "batch_id")
      .join(ct, "corpus_id")
      .select(
        col("batch_id"),
        col("corpus_id"),
        (size(array_intersect(col("sh_b"), col("sh_c"))).cast("double") /
          size(array_union(col("sh_b"), col("sh_c")))).as("jaccard")
      )
      .filter(col("jaccard") >= threshold)
      .select(
        col("batch_id"),
        col("corpus_id"),
        round(col("jaccard") * 1000).cast("long").as("jaccard_milli"))
  }
}
