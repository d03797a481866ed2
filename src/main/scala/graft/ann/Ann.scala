package graft.ann

import graft.functions.{Analytics, VectorFunctions => VF}
import graft.sources.{IndexLog, IndexState}
import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Scale design: the query set is small and broadcast; the corpus is the
  * big side and is only ever scanned, never shuffled by vector. Brute force
  * is the exact baseline (one broadcast-join pass, top-k via per-query
  * window). The IVF variant buys a ~(nprobe/nlists) scan reduction by
  * partitioning the corpus into coarse cells once (an O(n·nlists) assign
  * pass, amortized across all future queries); LSH buckets do the same with
  * zero training. At 100 TB the assign pass writes a bucketed/partitioned
  * layout so a probe prunes file groups instead of rows.
  */
object Ann {

  /** Exact top-k by cosine: broadcast queries × corpus scan → window rank.
    * Output: (qid, neighbor_id, cosine_e4, rank).
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      id: String,
      vec: String,
      qid: String,
      qvec: String,
      k: Int
  ): DataFrame = {
    val scored = corpus
      .select(col(id).as("neighbor_id"), col(vec).as("v"))
      .crossJoin(broadcast(queries.select(col(qid).as("qid"), col(qvec).as("qv"))))
      .filter(col("neighbor_id") =!= col("qid"))
      .select(col("qid"), col("neighbor_id"), VF.cosine(col("v"), col("qv")).as("cos"))
    perQueryTopK(scored, k)
  }

  /** Per-query top-k over a scored frame `(qid, neighbor_id, cos)`,
    * emitting the standard `(qid, neighbor_id, cosine_e4, rank)` shape.
    *
    * For bigint neighbor ids (every production path) this runs through the
    * bounded-heap [[graft.expr.TopKAgg]]: each map task keeps one k-bounded
    * heap per query, so the exchange carries at most
    * queries × k × map_partitions pairs — the RESULT's size — where the
    * `row_number() OVER (PARTITION BY qid ...)` formulation shuffles AND
    * sorts the entire scored pair set (corpus × queries rows at brute-force
    * shapes): the difference between a result-sized and a corpus-sized
    * shuffle at 100 TB. Heap order `(score DESC, id ASC)` is exactly the
    * window's `(cos DESC, neighbor_id)`, so outputs are identical.
    * Non-bigint ids (the generic API admits string keys) keep the window
    * form — [[graft.expr.TopKAgg]] is typed (double, bigint).
    */
  private def perQueryTopK(scored: DataFrame, k: Int): DataFrame =
    if (scored.schema("neighbor_id").dataType == LongType)
      scored
        .groupBy(col("qid"))
        .agg(Analytics.topK(col("cos"), col("neighbor_id"), k).as("_topk"))
        .select(col("qid"), posexplode(col("_topk")).as(Seq("_pos", "_e")))
        .select(
          col("qid"),
          col("_e.id").as("neighbor_id"),
          round(col("_e.score") * 10000).cast("long").as("cosine_e4"),
          (col("_pos") + 1).cast("long").as("rank")
        )
    else {
      val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("neighbor_id"))
      scored
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(
          col("qid"),
          col("neighbor_id"),
          round(col("cos") * 10000).cast("long").as("cosine_e4"),
          col("rank").cast("long").as("rank")
        )
    }

  /** Candidate selection through the same bounded heap: top `kc` neighbors
    * per query by `(score DESC, id ASC)` over `(qid, neighbor_id, score)`,
    * with the query vector rejoined from the broadcast query frame
    * `(qid, qv)` — the shuffle carries heaps, never the scored corpus.
    * Ascending measures (Hamming) negate into `score` (exact for integers
    * below 2^53). Same bigint/window dispatch as [[perQueryTopK]].
    */
  private def selectCandidates(scored: DataFrame, q: DataFrame, kc: Int): DataFrame = {
    val picked =
      if (scored.schema("neighbor_id").dataType == LongType)
        scored
          .groupBy(col("qid"))
          .agg(Analytics.topK(col("score"), col("neighbor_id"), kc).as("_topk"))
          .select(col("qid"), explode(col("_topk").getField("id")).as("neighbor_id"))
      else {
        val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("neighbor_id"))
        scored
          .withColumn("arank", row_number().over(w))
          .filter(col("arank") <= kc)
          .select(col("qid"), col("neighbor_id"))
      }
    picked
      .join(broadcast(q.select(col("qid"), col("qv"))), Seq("qid"))
      .select(col("qid"), col("qv"), col("neighbor_id"))
  }

  /** Binary-quantization ANN — the vector-DB "binary quantize + rescore"
    * pattern (sign-bit codes as in Indyk-Motwani/Charikar SimHash, rescoring
    * as popularized by modern vector stores): the candidate stage ranks by
    * Hamming distance over packed sign bits — 8 bytes/vector at dim 64, a
    * 32× scan-width reduction vs float32, pure codegen'd integer xor+popcount
    * — then the exact cosine rerank reads true vectors for the
    * k·candidateFactor survivors only (candidate-bounded, like
    * [[pqTopKRefined]]). Both stages tie-break by neighbor id, so the whole
    * funnel is deterministic and oracle-replayable. At 100 TB the packed
    * codes are written as their own column/index so the candidate scan
    * literally reads 8·words bytes per vector.
    * Output: (qid, neighbor_id, cosine_e4, rank) — exact full-precision
    * cosine.
    */
  def binaryTopK(
      corpus: DataFrame,
      queries: DataFrame,
      id: String,
      vec: String,
      qid: String,
      qvec: String,
      k: Int,
      dim: Int,
      candidateFactor: Int = 4
  ): DataFrame = {
    val words = (dim + 63) / 64
    val v = corpus.filter(col(vec).isNotNull).select(col(id).as("cid"), col(vec).as("cv"))
    val codes = corpus
      .filter(col(vec).isNotNull)
      .select(col(id).as("neighbor_id"), VF.binarize(col(vec), dim).as("cb"))
    val q = queries
      .filter(col(qvec).isNotNull)
      .select(col(qid).as("qid"), col(qvec).as("qv"), VF.binarize(col(qvec), dim).as("qb"))
    val scored = codes
      .crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("qid"))
      .select(
        col("qid"),
        col("neighbor_id"),
        // Hamming ranks ascending; the heap ranks descending — negate
        // (exact: hamming ≤ dim ≪ 2^53)
        negate(VF.hammingPacked(col("cb"), col("qb"), words).cast("double")).as("score")
      )
    exactRerank(selectCandidates(scored, q, k * candidateFactor), v, k)
  }

  /** Matryoshka-prefix ANN (Kusupati et al. 2022, "Matryoshka Representation
    * Learning"): MRL-trained embeddings concentrate signal in their leading
    * components, so the candidate stage ranks by cosine over the first
    * `prefixDim` components only — a prefixDim/dim scan-width reduction (at
    * 100 TB the prefix is stored as its own column so the scan reads less) —
    * then the exact full-dimension rerank reads true vectors for the
    * k·candidateFactor survivors only. Deterministic tie-breaks as in
    * [[binaryTopK]]; oracle-replayable.
    * Output: (qid, neighbor_id, cosine_e4, rank) — full-dim exact cosine.
    */
  def matryoshkaTopK(
      corpus: DataFrame,
      queries: DataFrame,
      id: String,
      vec: String,
      qid: String,
      qvec: String,
      k: Int,
      prefixDim: Int,
      candidateFactor: Int = 4
  ): DataFrame = {
    require(prefixDim > 0, s"prefixDim must be positive, got $prefixDim")
    val v = corpus.filter(col(vec).isNotNull).select(col(id).as("cid"), col(vec).as("cv"))
    val prefixes = corpus
      .filter(col(vec).isNotNull)
      .select(col(id).as("neighbor_id"), slice(col(vec), 1, prefixDim).as("cp"))
    val q = queries
      .filter(col(qvec).isNotNull)
      .select(col(qid).as("qid"), col(qvec).as("qv"), slice(col(qvec), 1, prefixDim).as("qp"))
    val scored = prefixes
      .crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("qid"))
      .select(
        col("qid"),
        col("neighbor_id"),
        VF.cosine(col("cp"), col("qp")).as("score")
      )
    exactRerank(selectCandidates(scored, q, k * candidateFactor), v, k)
  }

  /** Shared exact-rerank tail: joins (qid, qv, neighbor_id) candidates back
    * to true vectors (candidate-bounded — AQE broadcasts the small side) and
    * emits the standard (qid, neighbor_id, cosine_e4, rank) shape.
    */
  private def exactRerank(candidates: DataFrame, v: DataFrame, k: Int): DataFrame =
    perQueryTopK(
      candidates
        .join(v.withColumnRenamed("cid", "neighbor_id"), "neighbor_id")
        .select(col("qid"), col("neighbor_id"), VF.cosine(col("cv"), col("qv")).as("cos")),
      k
    )

  /** The centroid "model" lives on the driver (like MLlib KMeans): it is
    * nlists vectors — bytes, not data — and embedding it as literals turns
    * cell assignment into a pure map-side codegen expression over the corpus
    * scan instead of a corpus × nlists crossJoin + window shuffle.
    */
  private[graft] type Cells = Seq[(Long, Seq[Double])]

  private def toDoubles(xs: Seq[Any]): Seq[Double] = xs.map {
    case f: Float  => f.toDouble
    case d: Double => d
    case n: Number => n.doubleValue()
  }

  private def collectCells(df: DataFrame): Cells =
    df.collect().toSeq.collect {
      case r if !r.isNullAt(0) && !r.isNullAt(1) =>
        (r.get(0).asInstanceOf[Number].longValue(), toDoubles(r.getSeq[Any](1)))
    }

  /** Collect seed vectors only (no id column — cells are keyed by ordinal
    * index, so corpus ids can be any type, strings/UUIDs included).
    */
  private[graft] def collectSeedVectors(df: DataFrame): Cells =
    df.collect().toSeq.collect { case r if !r.isNullAt(0) => toDoubles(r.getSeq[Any](0)) }
      .zipWithIndex
      .map { case (v, i) => (i.toLong, v) }

  /** Nearest cell by cosine. Model-sized codebooks inline as a
    * literal-centroid argmax (`array_max` over struct(sim, -cell): max
    * similarity, ties → smallest cell — constants visible to codegen).
    * Corpus-scaled codebooks (AutoNlists SemDeDup: cells grow with n)
    * would blow the generated method past Janino's limits and fall back to
    * interpreted boxing, so past ~4096 inlined doubles the assignment
    * routes through [[graft.expr.NearestCellKernel]] — same arithmetic,
    * codebook as a reference object, constant code size (bit-equality
    * spec-asserted in DedupSpec).
    */
  private[graft] def nearestCell(vecCol: Column, cells: Cells): Column =
    if (cells.map(_._2.length).sum <= 4096) {
      val scored = array(cells.map { case (cell, cv) =>
        struct(VF.cosine(vecCol, typedlit(cv)).as("sim"), lit(-cell).as("negcell"))
      }: _*)
      (lit(0L) - array_max(scored).getField("negcell"))
    } else
      org.apache.spark.sql.GraftColumnBridge.column(
        graft.expr.NearestCellKernel(
          org.apache.spark.sql.GraftColumnBridge.expression(vecCol),
          cells.map(_._1),
          cells.map(_._2)
        )
      )

  /** Top-`n` cells by cosine for a query vector: sort the literal-scored
    * array descending, slice — map-side only.
    */
  private def topCells(vecCol: Column, cells: Cells, n: Int): Column = {
    val scored = array(cells.map { case (cell, cv) =>
      struct(VF.cosine(vecCol, typedlit(cv)).as("sim"), lit(cell).as("cell"))
    }: _*)
    val sorted = array_sort(
      scored,
      (l, r) =>
        when(l("sim") > r("sim"), -1)
          .when(l("sim") < r("sim"), 1)
          .otherwise(
            when(l("cell") < r("cell"), -1).when(l("cell") > r("cell"), 1).otherwise(0)
          )
    )
    slice(sorted, 1, n)
  }

  private[graft] def refineCentroidsLocal(v: DataFrame, start: Cells, iterations: Int): Cells = {
    var cells = start
    for (_ <- 0 until iterations) {
      // assign map-side against literal centroids; the per-cell mean uses
      // the map-side-combining vector-sum aggregate, so the only shuffle in
      // an iteration carries nlists × dim doubles — the model, not the data
      if (cells.isEmpty) return cells
      val sums = v
        .filter(col("cv").isNotNull)
        .select(nearestCell(col("cv"), cells).as("cell"), col("cv"))
        .groupBy(col("cell"))
        // count NON-NULL vectors — count(1) would average null-skipping sums
        // over a null-inclusive denominator and shrink centroids toward zero
        .agg(VF.vectorSum(col("cv")).as("s"), count(col("cv")).as("n"))
        .select(col("cell"), transform(col("s"), x => x / col("n")).as("centroid"))
      cells = collectCells(sums).sortBy(_._1)
    }
    cells
  }

  /** IVF (inverted-file) ANN: assign corpus vectors to `nlists` coarse
    * centroids (deterministically seeded from the corpus, refined with
    * `refine` Lloyd iterations), probe the `nprobe` nearest cells per query,
    * exact-rank within the probed cells. Assignment and probing are pure
    * map-side expressions over literal centroids; the only shuffles are the
    * Lloyd means and the final per-query top-k window.
    * Output: (qid, neighbor_id, cosine_e4, rank).
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      id: String,
      vec: String,
      qid: String,
      qvec: String,
      k: Int,
      nlists: Int = 16,
      nprobe: Int = 4,
      refine: Int = 1
  ): DataFrame = {
    val v = corpus.select(col(id).as("cid"), col(vec).as("cv"))
    // deterministic seeds: the vectors of the first nlists ids (cells keyed
    // by ordinal, so ids may be any orderable type), then Lloyd refinement
    val seeds = collectSeedVectors(
      v.filter(col("cv").isNotNull).orderBy(col("cid")).limit(nlists).select(col("cv"))
    )
    val cells = refineCentroidsLocal(v, seeds, refine)
    // empty corpus / all-null embeddings: degrade to the (empty) exact scan
    // rather than building a zero-centroid argmax expression
    if (cells.isEmpty)
      return bruteForceTopK(corpus.filter(col(vec).isNotNull), queries, id, vec, qid, qvec, k)
    // null embeddings never rank (their cosine is null) but an all-null-sim
    // argmax would still assign them an arbitrary cell and surface them when
    // a probed cell holds < k non-null members — drop them before assignment,
    // matching the bruteForceTopK fallback above
    val assigned = corpus.filter(col(vec).isNotNull).select(
      col(id).as("cid"),
      col(vec).as("cv"),
      nearestCell(col(vec), cells).as("cell")
    )
    val q = queries.select(col(qid).as("qid"), col(qvec).as("qv"))
    val probes = q
      .select(col("qid"), col("qv"), explode(topCells(col("qv"), cells, nprobe)).as("pc"))
      .select(col("qid"), col("qv"), col("pc").getField("cell").as("cell"))
    perQueryTopK(
      assigned
        .join(broadcast(probes), Seq("cell"))
        .filter(col("cid") =!= col("qid"))
        .select(col("qid"), col("cid").as("neighbor_id"), VF.cosine(col("cv"), col("qv")).as("cos")),
      k
    )
  }

  /** Per-cluster curation report over the same coarse cells IVF and
    * SemDeDup use: size and cosine-tightness of every cell — the numbers
    * cluster-pruning recipes rank on (drop the loosest/smallest clusters,
    * budget dedup effort by cell mass). One map-side argmax per vector
    * (the literal-centroid `array_max` yields the best similarity AND its
    * cell in one expression), then a single map-side-combining aggregate
    * on the cell id; cosines are rounded to e4 integers per row BEFORE
    * min/max so the report is order-free exact and, at `refine = 0`,
    * replayable by an external engine.
    * Output: (cell, n, min_cos_e4, max_cos_e4).
    */
  def clusterStats(
      corpus: DataFrame,
      id: String,
      vec: String,
      nlists: Int = 16,
      refine: Int = 1
  ): DataFrame = {
    require(nlists >= 1, s"nlists must be >= 1, got $nlists")
    val v = corpus.select(col(id).as("cid"), col(vec).as("cv")).filter(col("cv").isNotNull)
    val seeds = collectSeedVectors(
      v.orderBy(col("cid")).limit(nlists).select(col("cv"))
    )
    val cells = refineCentroidsLocal(v, seeds, refine)
    if (cells.isEmpty)
      return v
        .limit(0)
        .select(
          lit(0L).as("cell"),
          lit(0L).as("n"),
          lit(0L).as("min_cos_e4"),
          lit(0L).as("max_cos_e4")
        )
    // same scored array as nearestCell, but keep BOTH fields of the argmax:
    // (best sim, -cell) — ties resolve to the smallest cell like everywhere
    val scored = array(cells.map { case (cell, cv) =>
      struct(VF.cosine(col("cv"), typedlit(cv)).as("sim"), lit(-cell).as("negcell"))
    }: _*)
    val best = array_max(scored)
    v.select(
      (lit(0L) - best.getField("negcell")).as("cell"),
      round(best.getField("sim") * 10000).cast("long").as("cos_e4")
    ).groupBy(col("cell"))
      .agg(
        count(lit(1)).as("n"),
        min(col("cos_e4")).as("min_cos_e4"),
        max(col("cos_e4")).as("max_cos_e4")
      )
  }

  /** LSH-bucketed ANN: hyperplane signature as the cell id; probe the
    * query's bucket plus (with `probeHamming = 1`, the default) its `planes`
    * Hamming-1 neighbor buckets — single-bucket probing has recall cliffs
    * for vectors near a hyperplane, and flipping one sign bit probes exactly
    * the buckets such borderline neighbors land in. Cost model: the probe
    * expansion multiplies the BROADCAST query side by `planes + 1`; the
    * corpus side is still scanned once and each corpus vector lives in
    * exactly one bucket, so no candidate pair is produced twice.
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      id: String,
      vec: String,
      qid: String,
      qvec: String,
      k: Int,
      planes: Int = 6,
      dim: Int = 64,
      probeHamming: Int = 1
  ): DataFrame = {
    val bucketed = corpus.select(
      col(id).as("neighbor_id"),
      col(vec).as("v"),
      VF.hyperplaneBucket(col(vec), planes, dim).as("bucket")
    )
    val qKeyed = queries.select(
      col(qid).as("qid"),
      col(qvec).as("qv"),
      VF.hyperplaneBucket(col(qvec), planes, dim).as("bucket")
    )
    val q = qKeyed
      .select(col("qid"), col("qv"), explode(lshProbeKeys(planes, probeHamming)).as("bucket"))
    rankCandidates(bucketed, q, k)
  }

  /** Probe-key expansion shared by the in-memory and indexed LSH paths —
    * one definition so the "same output at equal parameters" contract
    * between them cannot drift.
    */
  private def lshProbeKeys(planes: Int, probeHamming: Int): Column = {
    require(
      probeHamming >= 0 && probeHamming <= 1,
      s"probeHamming must be 0 (exact bucket) or 1 (flip each plane bit), got $probeHamming"
    )
    if (probeHamming == 0) array(col("bucket"))
    else
      array(col("bucket") +: (0 until planes).map(p =>
        col("bucket").bitwiseXOR(lit(1L << p))): _*)
  }

  private def rankCandidates(bucketed: DataFrame, probes: DataFrame, k: Int): DataFrame =
    perQueryTopK(
      bucketed
        .join(broadcast(probes), Seq("bucket"))
        .filter(col("neighbor_id") =!= col("qid"))
        .select(col("qid"), col("neighbor_id"), VF.cosine(col("v"), col("qv")).as("cos")),
      k
    )

  /** One-time index build: persist the corpus as an LSH-PARTITIONED layout
    * (`bucket=<b>/` directories, one file group per bucket). This is the
    * 100 TB form of [[lshTopK]]: the signature pass runs once, amortized
    * over every future query batch, and probing becomes partition pruning —
    * a probe reads only its buckets' file groups, never the corpus.
    * The bucket-keyed repartition bounds the fan-out to one file per bucket.
    * The files are committed as seq 0 of the index log
    * ([[graft.sources.IndexLog]]) after the model sidecar is written.
    */
  def writeLshIndex(
      corpus: DataFrame,
      path: String,
      id: String,
      vec: String,
      planes: Int = 6,
      dim: Int = 64
  ): Unit = {
    val spark = corpus.sparkSession
    val rows = IndexLog.write(spark, path, 0L, Seq(vectorsWrite(
      lshRows(corpus.filter(col(vec).isNotNull), id, vec, 0L, planes, dim).repartition(col("bucket")),
      SaveMode.Overwrite)))
    // model sidecar: a restarted pipeline probes/appends with the exact
    // parameters the buckets were built under (AnnModels)
    AnnModels.writeLsh(spark, path, planes, dim)
    IndexLog.commit(spark, path, IndexLog.Entry.fresh(0L, NoCounters, rows), predecessor = 0L)
  }

  // the index log's kinds of file for the LSH and PQ layouts, which carry
  // no corpus counters
  private val Vectors = "vectors"
  private val Codes = "codes"
  private val NoCounters = IndexLog.Counters(0L, 0L, 0)

  private def vectorsWrite(rows: DataFrame, mode: SaveMode = SaveMode.Append): IndexLog.Write =
    IndexLog.Write(Vectors, "", Some("bucket"), rows, mode)

  private def codesWrite(rows: DataFrame, mode: SaveMode = SaveMode.Append): IndexLog.Write =
    IndexLog.Write(Codes, "", Some("cell"), rows, mode)

  /** Incremental index maintenance: append a batch of new vectors into an
    * existing [[writeLshIndex]] layout. Each appended vector lands in its
    * bucket's directory as a new file group — the corpus partitions already
    * on disk are never read or rewritten, so the cost is O(batch), not
    * O(index): the same never-rescan-the-corpus contract as
    * `Dedup.exactIncremental`. Partition pruning in [[lshTopKIndexed]] is
    * unaffected (pruning is directory-level). Each append adds one file per
    * touched bucket; after many batches run [[compactLshIndex]] to restore
    * the one-file-per-bucket bound. The files commit with one log entry.
    */
  def appendLshIndex(
      batch: DataFrame,
      path: String,
      id: String,
      vec: String,
      planes: Int = 6,
      dim: Int = 64
  ): Unit = {
    val rows = batch.filter(col(vec).isNotNull)
    // an empty batch is not a mutation: no seq (which would stale the
    // compaction refusal memo for nothing) and no empty file group on disk
    if (rows.isEmpty) return
    val spark = batch.sparkSession
    val (data, head) = IndexState.open(spark, path)
    val seq = head.seq + 1L
    IndexLog.mutate(spark, data, head, seq, head.counters,
      Seq(vectorsWrite(lshRows(rows, id, vec, seq, planes, dim).repartition(col("bucket")))))
  }

  /** The persisted row shape of an LSH append stamped with `seq`. */
  private def lshRows(rows: DataFrame, id: String, vec: String, seq: Long, planes: Int, dim: Int) =
    rows.select(
      col(id).as("neighbor_id"),
      col(vec).as("v"),
      lit(seq).as("seq"),
      VF.hyperplaneBucket(col(vec), planes, dim).as("bucket")
    )

  /** The driver-fused tier of one LSH CDC batch: [[deleteFromLshIndex]] of
    * every id in `ids`, then [[appendLshIndex]] of `upserts`, with the same
    * persisted rows — for batches the caller bounds (the
    * [[graft.streaming.SyncPipeline]] literal tier). `upserts` is a
    * driver-local relation, so the hyperplane buckets are the append's own
    * Catalyst expression folded over it without a job. The log head is
    * read on the driver; the tombstones and the bucket rows (one file per
    * hit bucket) are written concurrently, each by one single-stage job
    * over a local relation, and committed by ONE log entry. An empty id set
    * writes no tombstone and an empty upsert set no rows; neither takes a
    * seq.
    */
  private[graft] def mutateLshIndexFused(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      ids: Seq[Long],
      upserts: DataFrame,
      id: String,
      vec: String,
      planes: Int,
      dim: Int
  ): Unit = {
    val del = ids.distinct
    val rows = upserts.filter(col(vec).isNotNull)
    val appends = !rows.isEmpty
    if (del.isEmpty && !appends) return
    import spark.implicits._
    val (data, head) = IndexState.open(spark, path)
    val delSeq = if (del.nonEmpty) head.seq + 1L else head.seq
    val seq = if (appends) delSeq + 1L else delSeq
    IndexLog.mutate(spark, data, head, seq, head.counters,
      Option.when(del.nonEmpty)(IndexState.tombstoneWrite(del.toDF("id"), delSeq)).toSeq ++
        Option.when(appends)(vectorsWrite(lshRows(rows, id, vec, seq, planes, dim).coalesce(1))))
  }

  /** Remove vectors from a [[writeLshIndex]] layout — the DELETE leg of CDC
    * maintenance (reference parity: delete ops reach the search index,
    * `sync.py:1254-1306`). Log-structured ([[graft.sources.IndexState]]):
    * the batch's ids land in a tombstone file, probes subtract them
    * after partition pruning, and a LATER append of the same id is visible
    * again (seq comparison — the CDC UPDATE flow is delete + append, and
    * the doc's pre-delete rows must not resurrect). The bucket files are
    * never read or rewritten: O(batch), like append. Ids never indexed are
    * tombstoned harmlessly (their rows don't exist; a future re-add
    * out-sequences the tombstone). `ids` must expose a BIGINT `id` column.
    * Run [[compactLshIndex]] to reclaim the tombstoned rows' space.
    */
  def deleteFromLshIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      ids: DataFrame
  ): Unit = deleteIds(spark, path, ids)

  /** The shared LSH/PQ delete: tombstone every id of `ids` under the next
    * seq, one file, one log entry. Nothing is written for an empty set.
    */
  private def deleteIds(spark: org.apache.spark.sql.SparkSession, path: String, ids: DataFrame): Unit = {
    if (ids.isEmpty) return
    val (data, head) = IndexState.open(spark, path)
    val seq = head.seq + 1L
    IndexLog.mutate(spark, data, head, seq, head.counters,
      Seq(IndexState.tombstoneWrite(ids.select(col("id").cast("long").as("id")).distinct(), seq)))
  }

  /** The shared LSH/PQ compaction into `stagingPath`: the visible rows of
    * `kind`, one file group per `part` value, committed as a fresh log at
    * the current seq; no tombstone is carried.
    */
  private def compactRows(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      stagingPath: String,
      write: (DataFrame, SaveMode) => IndexLog.Write,
      kind: String,
      part: String
  ): Unit = {
    val (data, head) = IndexState.open(spark, path)
    val visible = IndexState.visibleUnder(head.scan(spark, data, kind), data, head, "neighbor_id")
    val rows = IndexLog.write(spark, stagingPath, head.seq,
      Seq(write(visible.repartition(col(part)), SaveMode.Overwrite)))
    IndexLog.commit(spark, stagingPath, IndexLog.Entry.fresh(head.seq, NoCounters, rows), head.seq)
  }

  /** The shared LSH/PQ dead-ratio policy (see [[maybeCompactLshIndex]]). */
  private def maybeCompactRows(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      maxDeadRatio: Double,
      kind: String,
      compact: String => Unit
  ): Boolean = {
    require(maxDeadRatio > 0 && maxDeadRatio <= 1, s"maxDeadRatio must be in (0,1], got $maxDeadRatio")
    val dead = IndexState.tombstoneCount(spark, path)
    if (dead == 0L) return false
    // parquet footer metadata only, over the logged files of the current
    // generation
    val (data, head) = IndexState.open(spark, path)
    val total = head.scan(spark, data, kind).count()
    // dead >= total ⇒ the visible set is (almost certainly) empty — the
    // BM25 live==0 guard's cheap analogue: skip the full rewrite that
    // compactAndSwap would refuse anyway. The edge where stale tombstones
    // of re-added ids make this conservative (visible non-empty but
    // unreclaimed) self-corrects on the next append, which grows `total`.
    if (total <= dead) return false
    if (dead.toDouble / total < maxDeadRatio) return false
    IndexState.compactAndSwap(spark, path, compact)
  }

  /** Rewrite an appended-to index back to one file group per bucket. The
    * compacted layout goes to `stagingPath` (a path cannot be overwritten
    * while it is being read); the caller swaps directories when the write
    * completes — at scale that swap is a metastore partition-location flip,
    * here a filesystem rename.
    */
  def compactLshIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      stagingPath: String
  ): Unit = {
    // drop tombstoned rows while rewriting: compaction is where deletes
    // reclaim space; no tombstone is carried to staging
    compactRows(spark, path, stagingPath, vectorsWrite, Vectors, "bucket")
    // carry the model sidecar: the compacted copy must stay probe-able
    // after the directory swap (pre-sidecar indexes have nothing to carry)
    try {
      val (planes, dim) = AnnModels.readLsh(spark, path)
      AnnModels.writeLsh(spark, stagingPath, planes, dim)
    } catch { case _: IllegalStateException => () }
  }

  /** Compact [[writeLshIndex]] when the dead fraction justifies the
    * rewrite (the [[graft.functions.Retrieval.maybeCompactBm25Index]]
    * policy for the vector indexes — same staging + atomic swap). The
    * LSH/PQ layouts keep one row per id per generation, so total row count
    * from the parquet FOOTERS (a metadata-only count, no data scan) over
    * the deleted-id count bounds the dead fraction from below. NOTE the
    * signal measures CHURN, not strictly dead rows: a CDC UPDATE
    * (tombstone + re-append) counts its id as dead though the doc is live,
    * and a delete of a never-present id counts too — an update-heavy feed
    * compacts more often than its true dead fraction warrants, which errs
    * in the direction that ALSO reclaims the superseded generations churn
    * leaves behind. Exact accounting would need an anti-join against the
    * visible set (an index scan, which this policy exists to avoid). At or
    * above `maxDeadRatio` the index is rewritten and swapped; if the
    * rewrite turns out to have an EMPTY visible set (every doc deleted),
    * the swap is refused — an empty partitioned directory cannot be read
    * back, and probes on the un-compacted index already return the correct
    * empty result. Returns whether a compaction ran.
    */
  def maybeCompactLshIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      maxDeadRatio: Double = 0.2
  ): Boolean = maybeCompactRows(spark, path, maxDeadRatio, Vectors, compactLshIndex(spark, path, _))

  /** [[lshTopKIndexed]] under the parameters persisted at
    * [[writeLshIndex]] time — the restart path: a new session probes an
    * existing index with zero caller-held model state.
    */
  def lshTopKIndexedResumed(
      indexPath: String,
      queries: DataFrame,
      qid: String,
      qvec: String,
      k: Int,
      probeHamming: Int = 1
  ): DataFrame = {
    val (planes, dim) = AnnModels.readLsh(queries.sparkSession, indexPath)
    lshTopKIndexed(indexPath, queries, qid, qvec, k, planes, dim, probeHamming)
  }

  /** Probe a [[writeLshIndex]] layout. The probe keys are collected on the
    * driver (bounded: |queries| × (planes+1) longs — queries are
    * broadcast-small by the same contract as [[lshTopK]]) and pushed as a
    * STATIC `bucket IN (…)` partition filter over exactly the files the
    * index log's head lists ([[graft.sources.IndexState.open]]: one
    * listing and one file read on the driver, no partition discovery), so
    * the scan plans only the probed file groups; the tombstones come from
    * the same entry. Same output and semantics as [[lshTopK]] at equal
    * parameters: each corpus vector lives in exactly one partition, so no
    * duplicate (qid, neighbor) pair.
    */
  def lshTopKIndexed(
      indexPath: String,
      queries: DataFrame,
      qid: String,
      qvec: String,
      k: Int,
      planes: Int = 6,
      dim: Int = 64,
      probeHamming: Int = 1
  ): DataFrame = {
    val spark = queries.sparkSession
    // one open for the whole probe (it also self-heals an interrupted
    // swap): data and tombstones come from the same entry of the same
    // generation even if a mutation or a compaction lands mid-plan
    val (data, head) = IndexState.open(spark, indexPath)
    val qKeyed = queries.select(
      col(qid).as("qid"),
      col(qvec).as("qv"),
      VF.hyperplaneBucket(col(qvec), planes, dim).as("bucket")
    )
    val q =
      qKeyed.select(col("qid"), col("qv"), explode(lshProbeKeys(planes, probeHamming)).as("bucket"))
    val keys = q.select(col("bucket")).distinct().collect().map(_.getLong(0)).sorted
    val corpus = head.scan(spark, data, Vectors)
    val pruned =
      if (keys.isEmpty) corpus.filter(lit(false))
      else corpus.filter(col("bucket").isInCollection(keys.toSeq))
    // subtract tombstoned ids (no-op for an index with no deletes); runs
    // after pruning so it touches candidate rows only
    rankCandidates(IndexState.visibleUnder(pruned, data, head, "neighbor_id"), q, k)
  }

  // ---- product quantization (Jégou et al. 2011) ---------------------------

  /** PQ codebooks, `m` subspaces × ≤`codeK` centroids × (dim/m) values —
    * model-sized driver literals like the IVF cells. Deterministically
    * seeded from the first `codeK` corpus vectors (by id order), optionally
    * refined with per-subspace L2 Lloyd iterations (PQ k-means is L2 in the
    * subspace regardless of the final ranking metric: codes approximate the
    * VECTOR, and any metric is then evaluated against the reconstruction).
    * Empty/all-null corpus ⇒ empty codebooks (callers degrade to exact).
    */
  def pqTrain(
      corpus: DataFrame,
      id: String,
      vec: String,
      m: Int = 8,
      codeK: Int = 16,
      refine: Int = 0
  ): Seq[Seq[Seq[Double]]] = {
    val v = corpus.select(col(id).as("cid"), col(vec).as("cv")).filter(col("cv").isNotNull)
    val seeds =
      collectSeedVectors(v.orderBy(col("cid")).limit(codeK).select(col("cv"))).map(_._2)
    pqTrainFromSeeds(v, seeds, m, refine)
  }

  /** Codebooks from an already-collected seed prefix — lets callers that
    * also train IVF cells ([[ivfPqTopK]]) collect the corpus prefix ONCE
    * instead of running two full-corpus TakeOrdered jobs for overlapping
    * first-k-by-id sets.
    */
  private def pqTrainFromSeeds(
      v: DataFrame,
      seeds: Seq[Seq[Double]],
      m: Int,
      refine: Int
  ): Seq[Seq[Seq[Double]]] = {
    if (seeds.isEmpty) return Seq.empty
    val dim = seeds.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    (0 until m).map { j =>
      val book0 = seeds.map(_.slice(j * sub, (j + 1) * sub))
      if (refine == 0) book0
      else refineSubBookL2(v.select(slice(col("cv"), j * sub + 1, sub).as("cv")), book0, refine)
    }
  }

  /** Nearest codebook entry by SUBSPACE L2 (argmin; ties → smallest code),
    * as a literal-codebook expression — the same array_max idiom as
    * [[nearestCell]] with negated squared distance as the score.
    */
  private def nearestCodeL2(subVec: Column, book: Seq[Seq[Double]]): Column = {
    val scored = array(book.zipWithIndex.map { case (cv, c) =>
      struct((lit(0.0) - VF.l2Sq(subVec, typedlit(cv))).as("sim"), lit(-c.toLong).as("negcell"))
    }: _*)
    (lit(0L) - array_max(scored).getField("negcell")).cast("int")
  }

  /** Per-subspace L2 Lloyd: like [[refineCentroidsLocal]] but argmin-L2 and
    * INDEX-STABLE — a cell that loses all members keeps its previous
    * centroid (codes are positional; dropping a row would renumber them).
    */
  private def refineSubBookL2(
      vj: DataFrame,
      start: Seq[Seq[Double]],
      iterations: Int
  ): Seq[Seq[Double]] = {
    var book = start
    for (_ <- 0 until iterations) {
      val means = vj
        .filter(col("cv").isNotNull)
        .select(nearestCodeL2(col("cv"), book).as("cell"), col("cv"))
        .groupBy(col("cell"))
        .agg(VF.vectorSum(col("cv")).as("s"), count(col("cv")).as("n"))
        .select(col("cell"), transform(col("s"), x => x / col("n")).as("centroid"))
      val updated = collectCells(means).toMap
      book = book.indices.map(c => updated.getOrElse(c.toLong, book(c)))
    }
    book
  }

  /** Encode the corpus to PQ codes: one small int per subspace — at m=8 the
    * stored index is 8 bytes + id per vector vs 256 bytes of float32 at
    * dim=64 (32× scan-volume reduction; the decode happens at query time
    * from literal codebooks). Pure map-side expression.
    * Output: (cid, code array<int> of length m).
    */
  private def pqCodeColumn(vecCol: Column, books: Seq[Seq[Seq[Double]]]): Column = {
    require(
      books.nonEmpty && books.head.nonEmpty,
      "empty PQ codebooks (train saw an empty/all-null corpus) — guard with books.isEmpty and degrade to bruteForceTopK"
    )
    val sub = books.head.head.length
    array(books.indices.map(j => nearestCodeL2(slice(vecCol, j * sub + 1, sub), books(j))): _*)
  }

  def pqEncode(corpus: DataFrame, id: String, vec: String, books: Seq[Seq[Seq[Double]]]): DataFrame =
    corpus
      .filter(col(vec).isNotNull)
      .select(col(id).as("cid"), pqCodeColumn(col(vec), books).as("code"))

  /** Reconstruction: concatenate the codebook entries the code selects —
    * asymmetric-distance PQ ranking IS `metric(q, reconstruction)` because
    * subspace distances sum. Each subspace is ONE literal array-of-arrays
    * indexed by the code (`element_at`), not a CASE ladder — a ladder's
    * m × codeK branches of array literals blow the generated method past
    * codegen limits once combined with cell assignment in the same
    * projection (ivfPq's corpus select), costing seconds of janino
    * compilation per run; the indexed form stays small and constant-time.
    */
  private def pqReconstruct(codeCol: Column, books: Seq[Seq[Seq[Double]]]): Column =
    concat(books.zipWithIndex.map { case (book, j) =>
      element_at(typedlit(book), element_at(codeCol, j + 1) + 1)
    }: _*)

  /** Rank a PQ-coded corpus against broadcast queries by approximate cosine
    * (cosine against the reconstruction). Same output contract as the other
    * ANN variants: (qid, neighbor_id, cosine_e4, rank).
    */
  def pqTopK(
      codes: DataFrame,
      queries: DataFrame,
      qid: String,
      qvec: String,
      k: Int,
      books: Seq[Seq[Seq[Double]]]
  ): DataFrame = {
    val recon = codes.select(col("cid"), pqReconstruct(col("code"), books).as("rv"))
    val q = queries.filter(col(qvec).isNotNull).select(col(qid).as("qid"), col(qvec).as("qv"))
    perQueryTopK(
      recon
        .crossJoin(broadcast(q))
        .filter(col("cid") =!= col("qid"))
        .select(col("qid"), col("cid").as("neighbor_id"), VF.cosine(col("rv"), col("qv")).as("cos")),
      k
    )
  }

  /** Two-stage PQ retrieval: rank ALL codes by reconstruction cosine
    * (cheap — the scan reads m ints per vector), keep the top
    * `candidateFactor × k` per query, then exact-rank ONLY those candidates
    * against their true vectors. The standard production deployment: the
    * full-precision column is read for `candidateFactor × k × |queries|`
    * rows total, not the corpus — at 100 TB the true-vector fetch is a
    * semi-join-pruned scan (DPP on an id-partitioned layout), everything
    * else rides the 8-byte codes. Exactness on what it returns: scores are
    * true cosines; approximation only affects which candidates are seen
    * (misses are vectors whose code-cosine underestimates badly).
    * Output: (qid, neighbor_id, cosine_e4, rank).
    */
  def pqTopKRefined(
      corpus: DataFrame,
      queries: DataFrame,
      id: String,
      vec: String,
      qid: String,
      qvec: String,
      k: Int,
      books: Seq[Seq[Seq[Double]]],
      candidateFactor: Int = 4
  ): DataFrame = {
    // same degrade contract as pqTopKEndToEnd/ivfPqTopK: no codebooks (empty
    // or all-null corpus at train time) ⇒ exact scan, not a plan-build crash
    if (books.isEmpty)
      return bruteForceTopK(corpus.filter(col(vec).isNotNull), queries, id, vec, qid, qvec, k)
    val v = corpus.filter(col(vec).isNotNull).select(col(id).as("cid"), col(vec).as("cv"))
    val codes = pqEncode(corpus, id, vec, books)
    val recon = codes.select(col("cid"), pqReconstruct(col("code"), books).as("rv"))
    val q = queries.filter(col(qvec).isNotNull).select(col(qid).as("qid"), col(qvec).as("qv"))
    val scored = recon
      .crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .select(col("qid"), col("cid").as("neighbor_id"), VF.cosine(col("rv"), col("qv")).as("score"))
    exactRerank(selectCandidates(scored, q, k * candidateFactor), v, k)
  }

  /** IVF-PQ (the composed large-scale architecture): coarse cells prune
    * WHICH vectors are scanned (nprobe/nlists of the corpus, written as a
    * cell-partitioned layout at scale), PQ codes compress WHAT the scan
    * reads (m ints per vector). Assignment, encoding, probing and
    * reconstruction are all literal-model map-side expressions; the only
    * shuffle is the per-query top-k window. Compose with [[pqTopKRefined]]'s
    * exact-rerank stage when true scores are required.
    * Output: (qid, neighbor_id, cosine_e4, rank) — cosine against the
    * reconstruction.
    */
  def ivfPqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      id: String,
      vec: String,
      qid: String,
      qvec: String,
      k: Int,
      nlists: Int = 16,
      nprobe: Int = 4,
      m: Int = 8,
      codeK: Int = 16,
      refine: Int = 0,
      pqRefine: Int = 0
  ): DataFrame = {
    val v = corpus.select(col(id).as("cid"), col(vec).as("cv"))
    // one corpus prefix collect serves both models (first-k-by-id sets nest)
    val prefix = collectSeedVectors(
      v.filter(col("cv").isNotNull)
        .orderBy(col("cid"))
        .limit(math.max(nlists, codeK))
        .select(col("cv"))
    ).map(_._2)
    val cells = refineCentroidsLocal(
      v,
      prefix.take(nlists).zipWithIndex.map { case (sv, i) => (i.toLong, sv) },
      refine
    )
    val books = pqTrainFromSeeds(v.filter(col("cv").isNotNull), prefix.take(codeK), m, pqRefine)
    if (cells.isEmpty || books.isEmpty)
      return bruteForceTopK(corpus.filter(col(vec).isNotNull), queries, id, vec, qid, qvec, k)
    val assigned = corpus
      .filter(col(vec).isNotNull)
      .select(
        col(id).as("cid"),
        nearestCell(col(vec), cells).as("cell"),
        pqReconstruct(pqCodeColumn(col(vec), books), books).as("rv")
      )
    val q = queries.filter(col(qvec).isNotNull).select(col(qid).as("qid"), col(qvec).as("qv"))
    val probes = q
      .select(col("qid"), col("qv"), explode(topCells(col("qv"), cells, nprobe)).as("pc"))
      .select(col("qid"), col("qv"), col("pc").getField("cell").as("cell"))
    perQueryTopK(
      assigned
        .join(broadcast(probes), Seq("cell"))
        .filter(col("cid") =!= col("qid"))
        .select(col("qid"), col("cid").as("neighbor_id"), VF.cosine(col("rv"), col("qv")).as("cos")),
      k
    )
  }

  /** Residual IVF-PQ (Jégou et al. 2011 §III, the full published design):
    * PQ codes approximate the RESIDUAL `v − c(cell)` instead of the raw
    * vector. Residual magnitudes are a fraction of vector magnitudes —
    * coarse position is already carried by the cell id — so the same
    * (m, codeK) codebook budget quantizes far finer and recall at equal
    * parameters dominates the raw-vector [[ivfPqTopK]] (spec-asserted).
    *
    * The scan never materializes a residual: `‖(v−c)−b‖² = ‖v−(c+b)‖²`,
    * so each codebook entry is shifted by every cell centroid ONCE on the
    * driver (an nlists × m × codeK literal) and both code assignment and
    * reconstruction run native [[graft.expr.VectorBinaryOp]] `l2Sq` /
    * `element_at` directly on the raw vector column — the same
    * codegen-friendly per-row shape (and cost) as [[ivfPqTopK]]. The naive
    * residual-column formulation duplicates an interpreted `zip_with`
    * subtraction into all m × codeK distance evaluations (measured 12×
    * slower at sf0.1); the shift identity removes it exactly. All shift
    * arithmetic is in DOUBLE (float→double is exact), so the DuckDB oracle
    * replays code assignment bit-for-bit from the same shifted books.
    */
  def ivfPqResidualTopK(
      corpus: DataFrame,
      queries: DataFrame,
      id: String,
      vec: String,
      qid: String,
      qvec: String,
      k: Int,
      nlists: Int = 16,
      nprobe: Int = 4,
      m: Int = 8,
      codeK: Int = 16,
      pqRefine: Int = 0
  ): DataFrame = {
    val v = corpus.select(col(id).as("cid"), col(vec).as("cv")).filter(col("cv").isNotNull)
    val prefix = collectSeedVectors(
      v.orderBy(col("cid")).limit(math.max(nlists, codeK)).select(col("cv"))
    ).map(_._2)
    val cells: Cells = prefix.take(nlists).zipWithIndex.map { case (sv, i) => (i.toLong, sv) }
    // driver-side residual seeds: assign each prefix vector to its cell with
    // the SAME dot/(√na·√nb) arithmetic VF.cosine evaluates, then subtract
    def cosine(a: Seq[Double], b: Seq[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val residSeeds = prefix.take(codeK).map { sv =>
      val cell = cells.minBy { case (c, cv) => (-cosine(sv, cv), c) }._2
      sv.zip(cell).map { case (a, b) => a - b }
    }
    val centroidArr = typedlit(cells.map(_._2))
    // Lloyd refinement (pqRefine > 0) is the one place a residual column is
    // genuinely needed — it is evaluated ONCE per row per training job, not
    // per distance, so the HOF subtraction is fine there
    lazy val vResid = v
      .select(col("cid"), col("cv"), nearestCell(col("cv"), cells).as("cell"))
      .select(
        zip_with(
          transform(col("cv"), x => x.cast("double")),
          element_at(centroidArr, (col("cell") + 1).cast("int")),
          (a, b) => a - b
        ).as("cv")
      )
    val books =
      if (pqRefine == 0 && residSeeds.nonEmpty) {
        val dim = residSeeds.head.length
        require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
        (0 until m).map(j => residSeeds.map(_.slice(j * (dim / m), (j + 1) * (dim / m))))
      } else pqTrainFromSeeds(vResid, residSeeds, m, pqRefine)
    if (cells.isEmpty || books.isEmpty)
      return bruteForceTopK(corpus.filter(col(vec).isNotNull), queries, id, vec, qid, qvec, k)
    val sub = books.head.head.length
    // shifted(j)(c)(cell) = centroid(cell).slice(j) + books(j)(c): the whole
    // model pre-summed driver-side. Grouped per (subspace, code) and indexed
    // by CELL so each expression reference embeds one nlists × sub literal
    // (128 doubles), not the full model — 16× smaller plan/codegen payload
    // than a per-subspace 3-D literal across the ~m × codeK references.
    val shifted: Seq[Seq[Seq[Seq[Double]]]] = (0 until m).map { j =>
      books(j).map { b =>
        cells.map { case (_, cv) =>
          cv.slice(j * sub, (j + 1) * sub).zip(b).map { case (a, x) => a + x }
        }
      }
    }
    val shiftedLit = shifted.map(_.map(byCell => typedlit(byCell)))
    def entry(j: Int, c: Int, cellCol: Column): Column =
      element_at(shiftedLit(j)(c), (cellCol + 1).cast("int"))
    def codeJ(vecCol: Column, cellCol: Column, j: Int): Column = {
      val subVec = slice(vecCol, j * sub + 1, sub)
      // books may hold fewer than codeK entries (short seed prefix)
      val scored = array(shifted(j).indices.map { c =>
        struct(
          (lit(0.0) - VF.l2Sq(subVec, entry(j, c, cellCol))).as("sim"),
          lit(-c.toLong).as("negcell")
        )
      }: _*)
      (lit(0L) - array_max(scored).getField("negcell")).cast("int")
    }
    // reconstruction = centroid + decoded residual = the shifted entry
    // itself; the code is data-dependent, so this one lookup keeps the
    // codeK-wide literal array indexed by (code, cell)
    def reconstruct(vecCol: Column, cellCol: Column): Column =
      concat((0 until m).map { j =>
        element_at(
          element_at(
            typedlit(shifted(j)),
            codeJ(vecCol, cellCol, j) + 1
          ),
          (cellCol + 1).cast("int")
        )
      }: _*)
    val assigned = corpus
      .filter(col(vec).isNotNull)
      .select(col(id).as("cid"), col(vec).as("cv"), nearestCell(col(vec), cells).as("cell"))
      .select(col("cid"), col("cell"), reconstruct(col("cv"), col("cell")).as("rv"))
    val q = queries.filter(col(qvec).isNotNull).select(col(qid).as("qid"), col(qvec).as("qv"))
    val probes = q
      .select(col("qid"), col("qv"), explode(topCells(col("qv"), cells, nprobe)).as("pc"))
      .select(col("qid"), col("qv"), col("pc").getField("cell").as("cell"))
    perQueryTopK(
      assigned
        .join(broadcast(probes), Seq("cell"))
        .filter(col("cid") =!= col("qid"))
        .select(col("qid"), col("cid").as("neighbor_id"), VF.cosine(col("rv"), col("qv")).as("cos")),
      k
    )
  }

  /** Train IVF coarse cells as a reusable model value (deterministic
    * first-`nlists` seeds + Lloyd refinement) — the driver-literal half of a
    * persisted IVF-PQ index.
    */
  def trainIvfCells(
      corpus: DataFrame,
      id: String,
      vec: String,
      nlists: Int = 16,
      refine: Int = 0
  ): Seq[(Long, Seq[Double])] = {
    val v = corpus.select(col(id).as("cid"), col(vec).as("cv"))
    val seeds = collectSeedVectors(
      v.filter(col("cv").isNotNull).orderBy(col("cid")).limit(nlists).select(col("cv"))
    )
    refineCentroidsLocal(v, seeds, refine)
  }

  /** Train the IVF cells AND the PQ codebooks of a persisted IVF-PQ index
    * from ONE corpus prefix collect (first-k-by-id seed sets nest, so one
    * TakeOrdered job serves both models) — callers seeding a full index
    * ([[writePqIndex]]) should prefer this over separate [[trainIvfCells]] +
    * [[pqTrain]] calls, which each run their own full-corpus TakeOrdered.
    * Training is prefix-bounded either way; with `refine = pqRefine = 0`
    * (the defaults) the remaining corpus-sized work in a seed build is the
    * encode+write pass only.
    */
  def trainIvfPqModels(
      corpus: DataFrame,
      id: String,
      vec: String,
      nlists: Int = 16,
      m: Int = 8,
      codeK: Int = 16,
      refine: Int = 0,
      pqRefine: Int = 0
  ): (Seq[(Long, Seq[Double])], Seq[Seq[Seq[Double]]]) = {
    val v = corpus.select(col(id).as("cid"), col(vec).as("cv")).filter(col("cv").isNotNull)
    val prefix = collectSeedVectors(
      v.orderBy(col("cid")).limit(math.max(nlists, codeK)).select(col("cv"))
    ).map(_._2)
    val cells = refineCentroidsLocal(
      v,
      prefix.take(nlists).zipWithIndex.map { case (sv, i) => (i.toLong, sv) },
      refine
    )
    (cells, pqTrainFromSeeds(v, prefix.take(codeK), m, pqRefine))
  }

  /** Cluster-balanced curation subset: up to `perCell` vectors per coarse
    * cell, picked in portable md5(id) hash order — the standard diversity
    * sampler (cap the dominant modes of the corpus, keep every rare one;
    * the subset-selection complement of [[clusterStats]]' report). Cell
    * assignment is the map-side literal-centroid argmax; the per-cell cap
    * is [[graft.functions.Sampling.quota]]'s two-phase no-exchange local
    * prefix, so a mega-cell never funnels one task and per-group work is
    * bounded by `perCell × partitions`, not cell size.
    * Output: (cid, cell).
    */
  def clusterBalancedSample(
      corpus: DataFrame,
      id: String,
      vec: String,
      perCell: Int,
      nlists: Int = 16,
      refine: Int = 0
  ): DataFrame = {
    val v = corpus.select(col(id).as("cid"), col(vec).as("cv")).filter(col("cv").isNotNull)
    val cells = trainIvfCells(corpus, id, vec, nlists, refine)
    if (cells.isEmpty) return v.select(col("cid"), lit(0L).as("cell")).limit(0)
    val assigned = v.select(col("cid"), nearestCell(col("cv"), cells).as("cell"))
    graft.functions.Sampling.quota(
      assigned,
      Seq(col("cell")),
      Seq(md5(col("cid").cast("string")), col("cid")),
      perCell
    )
  }

  /** Write a persisted IVF-PQ index: CELL-partitioned parquet holding only
    * (neighbor_id, code) — m small ints per vector. The data on disk is the
    * compressed index; the models (`cells`, `books`) are persisted alongside
    * as a versioned sidecar ([[AnnModels]]), so a restarted pipeline probes
    * and appends without retraining (retraining would corrupt the frozen
    * positional code meanings). Probing reads only the probed cell
    * directories ([[pqTopKIndexed]]) and each vector lives in exactly one
    * cell, so no duplicate pairs — the same layout contract as
    * [[writeLshIndex]], with PQ compression on top.
    */
  def writePqIndex(
      corpus: DataFrame,
      path: String,
      id: String,
      vec: String,
      cells: Seq[(Long, Seq[Double])],
      books: Seq[Seq[Seq[Double]]]
  ): Unit = {
    val spark = corpus.sparkSession
    val rows = IndexLog.write(spark, path, 0L, Seq(codesWrite(
      pqRows(corpus.filter(col(vec).isNotNull), id, vec, 0L, cells, books).repartition(col("cell")),
      SaveMode.Overwrite)))
    AnnModels.writeIvfPq(spark, path, cells, books)
    IndexLog.commit(spark, path, IndexLog.Entry.fresh(0L, NoCounters, rows), predecessor = 0L)
  }

  /** The persisted row shape of a PQ write stamped with `seq`. */
  private def pqRows(
      rows: DataFrame, id: String, vec: String, seq: Long,
      cells: Seq[(Long, Seq[Double])], books: Seq[Seq[Seq[Double]]]) =
    rows.select(
      col(id).as("neighbor_id"),
      pqCodeColumn(col(vec), books).as("code"),
      lit(seq).as("seq"),
      nearestCell(col(vec), cells).as("cell")
    )

  /** [[appendPqIndex]] under the models persisted at [[writePqIndex]] time —
    * the restart path for incremental maintenance: the frozen-model append
    * contract holds across process death with zero caller-held state.
    */
  def appendPqIndexResumed(batch: DataFrame, path: String, id: String, vec: String): Unit = {
    val (cells, books) = AnnModels.readIvfPq(batch.sparkSession, path)
    appendPqIndex(batch, path, id, vec, cells, books)
  }

  /** [[pqTopKIndexed]] under the models persisted at [[writePqIndex]] time —
    * the restart path: a new session probes an existing index with zero
    * caller-held model state.
    */
  def pqTopKIndexedResumed(
      indexPath: String,
      queries: DataFrame,
      qid: String,
      qvec: String,
      k: Int,
      nprobe: Int = 4
  ): DataFrame = {
    val (cells, books) = AnnModels.readIvfPq(queries.sparkSession, indexPath)
    pqTopKIndexed(indexPath, queries, qid, qvec, k, cells, books, nprobe)
  }

  /** Incremental maintenance for a [[writePqIndex]] layout: append new
    * vectors encoded under the SAME frozen models — O(batch), on-disk cell
    * partitions are never read or rewritten (the [[appendLshIndex]]
    * contract). Codebook drift under a shifting distribution is a model
    * refresh: retrain and rewrite, don't mutate.
    */
  def appendPqIndex(
      batch: DataFrame,
      path: String,
      id: String,
      vec: String,
      cells: Seq[(Long, Seq[Double])],
      books: Seq[Seq[Seq[Double]]]
  ): Unit = {
    val rows = batch.filter(col(vec).isNotNull)
    // empty batch: not a mutation (see appendLshIndex)
    if (rows.isEmpty) return
    val spark = batch.sparkSession
    val (data, head) = IndexState.open(spark, path)
    val seq = head.seq + 1L
    IndexLog.mutate(spark, data, head, seq, head.counters,
      Seq(codesWrite(pqRows(rows, id, vec, seq, cells, books).repartition(col("cell")))))
  }

  /** [[deleteFromLshIndex]] for a [[writePqIndex]] layout: same tombstone
    * discipline, same O(batch) cost, same re-add-after-delete visibility.
    */
  def deleteFromPqIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      ids: DataFrame
  ): Unit = deleteIds(spark, path, ids)

  /** [[compactLshIndex]] for a [[writePqIndex]] layout: rewrite the
    * surviving codes one file group per cell, carry the model sidecar and
    * the seq, drop the tombstones.
    */
  def compactPqIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      stagingPath: String
  ): Unit = {
    compactRows(spark, path, stagingPath, codesWrite, Codes, "cell")
    try {
      val (cells, books) = AnnModels.readIvfPq(spark, path)
      AnnModels.writeIvfPq(spark, stagingPath, cells, books)
    } catch { case _: IllegalStateException => () }
  }

  /** [[maybeCompactLshIndex]] for a [[writePqIndex]] layout: same
    * footer-count churn signal, same staging + atomic swap, same refusal
    * to swap in an empty visible set. Completes the policy family — every
    * persisted secondary index (BM25 / LSH / IVF-PQ) now has a
    * CDC-schedulable compaction hook. Returns whether a compaction ran.
    */
  def maybeCompactPqIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      maxDeadRatio: Double = 0.2
  ): Boolean = maybeCompactRows(spark, path, maxDeadRatio, Codes, compactPqIndex(spark, path, _))

  /** Probe a [[writePqIndex]] layout: the queries' `nprobe` nearest cells
    * are collected on the driver (bounded: |queries| × nprobe longs) and
    * pushed as a STATIC `cell IN (…)` partition filter over the files the
    * log head lists (see [[lshTopKIndexed]]), so the scan plans only the
    * probed directories and reads only code columns; vectors are
    * reconstructed from literal codebooks at probe time. Same semantics and
    * output as [[ivfPqTopK]] at equal models.
    */
  def pqTopKIndexed(
      indexPath: String,
      queries: DataFrame,
      qid: String,
      qvec: String,
      k: Int,
      cells: Seq[(Long, Seq[Double])],
      books: Seq[Seq[Seq[Double]]],
      nprobe: Int = 4
  ): DataFrame = {
    val spark = queries.sparkSession
    // one open for the whole probe (see lshTopKIndexed)
    val (data, head) = IndexState.open(spark, indexPath)
    val q = queries.filter(col(qvec).isNotNull).select(col(qid).as("qid"), col(qvec).as("qv"))
    val probes = q
      .select(col("qid"), col("qv"), explode(topCells(col("qv"), cells, nprobe)).as("pc"))
      .select(col("qid"), col("qv"), col("pc").getField("cell").as("cell"))
    val keys = probes.select(col("cell")).distinct().collect().map(_.getLong(0)).sorted
    val corpus = head.scan(spark, data, Codes)
    val pruned =
      if (keys.isEmpty) corpus.filter(lit(false))
      else corpus.filter(col("cell").isInCollection(keys.toSeq))
    perQueryTopK(
      IndexState.visibleUnder(pruned, data, head, "neighbor_id")
        .join(broadcast(probes), Seq("cell"))
        .filter(col("neighbor_id") =!= col("qid"))
        .select(
          col("qid"),
          col("neighbor_id"),
          VF.cosine(pqReconstruct(col("code"), books), col("qv")).as("cos")
        ),
      k
    )
  }

  /** Train → encode → rank in one call (the graded end-to-end shape).
    * Empty corpus degrades to the exact scan like [[ivfTopK]].
    */
  def pqTopKEndToEnd(
      corpus: DataFrame,
      queries: DataFrame,
      id: String,
      vec: String,
      qid: String,
      qvec: String,
      k: Int,
      m: Int = 8,
      codeK: Int = 16,
      refine: Int = 0
  ): DataFrame = {
    val books = pqTrain(corpus, id, vec, m, codeK, refine)
    if (books.isEmpty)
      return bruteForceTopK(corpus.filter(col(vec).isNotNull), queries, id, vec, qid, qvec, k)
    pqTopK(pqEncode(corpus, id, vec, books), queries, qid, qvec, k, books)
  }
}
