package graft.dedup

import graft.{SparkSpec, Tuning, TwoTier}
import graft.ann.Ann
import org.apache.spark.sql.functions._

/** Dedup + ANN semantics on planted duplicates: LSH candidates must contain
  * the true near-dups (recall), verification must match exact measures.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again tomorrow"), // near-dup of 1
    (3L, "completely different content about spark catalyst optimizer internals"),
    (4L, "the quick brown fox jumps over the lazy dog again and again today"), // exact dup of 1
    (5L, "unrelated text mentioning streaming watermarks and checkpoints only")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts") {
    val out = Dedup.exact(docs, "doc_id", "text").collect()
    val dupGroup = out.find(_.getAs[Long]("n_dups") == 2L)
    assert(dupGroup.isDefined && dupGroup.get.getAs[Long]("keep_id") == 1L)
    assert(out.length == 4) // 5 docs, one pair collapsed
  }

  test("minhash LSH finds planted near-duplicates and the exact dup") {
    val pairs = Dedup
      .minhashLsh(docs, "doc_id", "text", threshold = 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(pairs.contains((1L, 4L))) // exact dup: jaccard 1.0
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L))) // near-dups
    assert(!pairs.exists { case (a, b) => Set(a, b).contains(3L) })
  }

  test("minhash jaccard matches exact ngram jaccard for surviving pairs") {
    val mh = Dedup.minhashLsh(docs, "doc_id", "text", threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val ex = Dedup.ngramJaccard(docs, "doc_id", "text", threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // every LSH-found pair's verified jaccard equals the inverted-index exact value
    mh.foreach { case (pair, jac) => assert(ex(pair) == jac, s"pair $pair") }
  }

  test("portable md5 minhash: finds the planted dups, verify matches exact jaccard") {
    val mh = Dedup.minhashLshPortable(docs, "doc_id", "text", threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val ex = Dedup.ngramJaccard(docs, "doc_id", "text", threshold = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // identical docs share every band → always found; verified value is exact
    assert(mh.contains((1L, 4L)) && mh((1L, 4L)) == 1000L)
    mh.foreach { case (pair, jac) => assert(ex(pair) == jac, s"pair $pair") }
  }

  test("portable md5 simhash: identical docs at hamming 0, distinct docs absent") {
    val pairs = Dedup.simhashPortable(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((1L, 4L)) == 0L)
    assert(!pairs.exists { case ((a, b), _) => Set(a, b).contains(3L) })
  }

  test("simhash: identical docs at hamming 0, near-dups close, distinct far") {
    val pairs = Dedup.simhash(docs, "doc_id", "text", maxHamming = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((1L, 4L)) == 0L)
    assert(pairs.get((1L, 2L)).forall(_ <= 12L))
    assert(!pairs.contains((3L, 5L)))
  }

  test("embedding LSH near-dup has full recall vs exact at moderate planes") {
    val vecs = (0 until 40).map { i =>
      val base = Array.tabulate(16)(j => math.sin(i * 17 + j).toFloat)
      (i.toLong, base)
    } ++ Seq((100L, Array.tabulate(16)(j => math.sin(17 + j).toFloat + 0.001f))) // near-dup of id 1
    val df = vecs.toDF("vec_id", "embedding")
    val exact = Dedup.embeddingCosineExact(df, "vec_id", "embedding", 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingCosine(df, "vec_id", "embedding", 0.95, planes = 4, dim = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.contains((1L, 100L)))
    // LSH with few planes must still catch the ~identical pair
    assert(lsh.contains((1L, 100L)))
    assert(lsh.subsetOf(exact)) // verification step removes false positives
  }

  test("nearestCell kernel form equals the literal form bit-for-bit past the codegen dispatch") {
    import graft.ann.Ann
    // 50 cells x 128 dims = 6400 codebook doubles: crosses the 4096-literal
    // dispatch, so Dedup.semantic/Ann assignment routes through
    // NearestCellKernel — which must agree with the literal argmax exactly,
    // including ties (duplicate centroids) and the NaN (zero-vector) edge
    def mkVec(i: Long, d: Int) =
      Array.tabulate(d)(j => (math.sin(i * 13 + j * 7) + 0.3 * math.cos(i.toDouble + j)).toFloat)
    val cells: Seq[(Long, Seq[Double])] =
      (0L until 50L).map(c => c -> mkVec(c * 7 + 1, 128).map(_.toDouble).toSeq) :+
        (50L -> mkVec(8, 128).map(_.toDouble).toSeq) // duplicate of cell 1 -> tie
    val vecs = ((0L until 300L).map(i => (i, mkVec(i, 128))) :+
      (999L, Array.fill(128)(0.0f))).toDF("vec_id", "embedding")
    // literal form, built directly (what nearestCell emits under the dispatch)
    import org.apache.spark.sql.functions.{array, array_max, lit, struct, typedlit}
    val scored = array(cells.map { case (cell, cv) =>
      struct(graft.functions.VectorFunctions.cosine(col("embedding"), typedlit(cv)).as("sim"),
        lit(-cell).as("negcell"))
    }: _*)
    val literal = vecs
      .select(col("vec_id"), (lit(0L) - array_max(scored).getField("negcell")).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kernel = vecs
      .select(col("vec_id"), Ann.nearestCell(col("embedding"), cells).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kernel == literal)
    assert(kernel.values.toSet.size > 10, "assignment actually spreads over cells")
  }

  test("in-cell cosine verify equals the join-based verify, incl. caps, nulls, NaN") {
    // three tight clusters (pairs above threshold), a zero vector (NaN
    // cosine -> dropped by both paths), a null vector (null cosine in the
    // join path -> dropped), float elements
    def base(c: Int) = Array.tabulate(24)(j => math.sin(c * 31 + j).toFloat)
    val rows: Seq[(Long, Array[Float])] =
      (0 until 60).map { i =>
        val b = base(i % 3)
        (i.toLong, b.zipWithIndex.map { case (x, j) => if (j == 7) x + 0.002f * (i / 3) else x })
      } ++ Seq(
        (200L, Array.fill(24)(0.0f)),
        (201L, null.asInstanceOf[Array[Float]])
      )
    val df = rows.toDF("vec_id", "embedding")
    val intIds = df.select(col("vec_id").cast("int").as("vec_id"), col("embedding"))
    for (cap <- Seq(2000, 12)) { // 12 < cluster-bucket occupancy: cap drop must agree
      val kernelOut = Dedup
        .embeddingCosine(df, "vec_id", "embedding", 0.9, planes = 3, dim = 24, maxBucket = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // an int id routes bucketCosineVerified down the legacy join path
      val joinOut = Dedup
        .embeddingCosine(intIds, "vec_id", "embedding", 0.9, planes = 3, dim = 24, maxBucket = cap)
        .collect().map(r => (r.getInt(0).toLong, r.getInt(1).toLong, r.getLong(2))).toSet
      assert(kernelOut == joinOut, s"cap=$cap")
      if (cap == 2000) assert(kernelOut.size > 100, "clusters actually verified")
    }
    val semKernel = Dedup.semantic(df, "vec_id", "embedding", 0.9, nlists = 4, refine = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val semJoin = Dedup.semantic(intIds, "vec_id", "embedding", 0.9, nlists = 4, refine = 0)
      .collect().map(r => (r.getInt(0).toLong, r.getInt(1).toLong, r.getLong(2))).toSet
    assert(semKernel == semJoin && semKernel.nonEmpty)
  }

  test("CellPairsCosineKernel cos is bit-for-bit VectorFunctions.cosine, ragged included") {
    val bridge = org.apache.spark.sql.GraftColumnBridge
    def mk(i: Int, d: Int) = Array.tabulate(d)(j => (math.sin(i * 13 + j) * 0.7).toFloat)
    // one 12-length vector among 24s exercises the min-length truncation path
    val members = (0 until 15).map(i => (i.toLong, mk(i, if (i == 4) 12 else 24)))
    val mdf = members.toDF("id", "v")
    val kc = mdf
      .agg(collect_list(struct(col("id"), col("v"))).as("m"))
      .select(explode(bridge.column(
        graft.expr.CellPairsCosineKernel(bridge.expression(col("m")), -2.0))).as("p"))
      .select(col("p.id_a"), col("p.id_b"), col("p.cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val a = members.toDF("id_a", "v_a")
    val b = members.toDF("id_b", "v_b")
    val jc = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.VectorFunctions.cosine(col("v_a"), col("v_b")).as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(kc.keySet == jc.keySet)
    kc.foreach { case (k, v) =>
      assert(java.lang.Double.doubleToLongBits(v) == java.lang.Double.doubleToLongBits(jc(k)), k)
    }
  }

  test("exactKeepBest keeps the highest-scored copy, ties fall to min id") {
    val scored = Seq(
      (1L, "same text", 10L), (2L, "same text", 30L), (3L, "same text", 30L), // 2 wins (tie w/ 3)
      (4L, "other text", 5L), (5L, "other text", 5L), // tie → 4
      (6L, "unique text", 99L) // no group → absent
    ).toDF("doc_id", "text", "score")
    val out = Dedup.exactKeepBest(scored, "doc_id", "text", col("score"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 4L, 5L -> 4L))
    // null scores: a group of nulls still elects min id; mixed group ignores nulls
    val nulls = Seq(
      (1L, "a", None), (2L, "a", None),
      (3L, "b", Some(1L)), (4L, "b", None)
    ).toDF("doc_id", "text", "score")
    val out2 = Dedup.exactKeepBest(nulls, "doc_id", "text", col("score"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out2 == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
  }

  test("semantic dedup: no false positives vs exact, full recall on tight clusters") {
    // 4 tight clusters of 10 vectors each: near-dup pairs live inside a
    // cluster, so any sane cell assignment keeps them together
    val vecs = (0 until 40).map { i =>
      val c = i % 4
      val base = Array.tabulate(16)(j => math.cos(c * 31 + j).toFloat)
      base(i / 4 % 16) += 0.02f * (i / 4)
      (i.toLong, base)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val exact = Dedup.embeddingCosineExact(df, "vec_id", "embedding", 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    for (refine <- Seq(0, 2)) {
      val sem = Dedup.semantic(df, "vec_id", "embedding", 0.99, nlists = 4, refine = refine)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(sem.subsetOf(exact), s"refine=$refine: verify must kill false positives")
      assert(sem == exact, s"refine=$refine: tight clusters must not be split")
    }
    // degenerate inputs: empty corpus and all-null embeddings return empty
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Dedup.semantic(empty, "vec_id", "embedding", 0.5).count() == 0)
    val nulls = Seq((1L, null: Array[Float]), (2L, null: Array[Float]))
      .toDF("vec_id", "embedding")
    assert(Dedup.semantic(nulls, "vec_id", "embedding", 0.5).count() == 0)
    // AutoNlists sizes cells from the corpus: 40 vectors / target 10 = 4
    // cells — identical result to the explicit nlists=4 run
    val auto = Dedup.semantic(df, "vec_id", "embedding", 0.99,
      nlists = Dedup.AutoNlists, refine = 0, targetCellSize = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == exact)
  }

  test("minhash/ngram clone clusters survive tiny caps (exact-text collapse)") {
    // 12 exact clones + 1 near-dup + 2 distinct docs, caps far below the
    // cluster size. The collapse bands/indexes one representative per
    // distinct text, so the caps (which now bound distinct texts) never see
    // the cluster: all 66 intra pairs surface at jaccard 1.0, and the
    // near-dup pairs REP-expand to every cluster member with one shared
    // verified jaccard.
    val cloneText = "the same replicated document body shared by every copy of it here"
    val clones = (1L to 12L).map(i => (i, cloneText))
    val extra = Seq(
      (50L, "the same replicated document body shared by every copy of it there"), // near-dup
      (100L, "completely different content about catalyst optimizer rules"),
      (101L, "another unrelated body mentioning watermarks and state stores"))
    val df = (clones ++ extra).toDF("doc_id", "text")
    val expectedIntra = (for { a <- 1L to 12L; b <- (a + 1) to 12L } yield (a, b)).toSet
    for (pairsDf <- Seq(
        Dedup.minhashLsh(df, "doc_id", "text", threshold = 0.5, maxBucket = 5),
        Dedup.ngramJaccard(df, "doc_id", "text", threshold = 0.5, maxPostings = 5))) {
      val pairs = pairsDf.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val intra = pairs.keySet.filter(p => p._1 <= 12L && p._2 <= 12L)
      assert(intra == expectedIntra)
      intra.foreach(p => assert(pairs(p) == 1000L, s"intra pair $p"))
      // near-dup 50 pairs with EVERY clone, all at the same verified jaccard
      val nearDup = pairs.filter { case ((a, b), _) => b == 50L && a <= 12L }
      assert(nearDup.keySet.map(_._1) == (1L to 12L).toSet)
      assert(nearDup.values.toSet.size == 1)
      assert(nearDup.values.head < 1000L && nearDup.values.head >= 500L)
    }
  }

  test("simhash clone clusters survive a tiny bucket cap (signature-class collapse)") {
    // 12 exact clones + 2 distinct docs. Before the class collapse, the 12
    // identical signatures flooded every chunk bucket past maxBucket=10 and
    // the whole cluster was SILENTLY dropped; classes band one
    // representative per signature, so the cap (which bounds distinct
    // signatures per bucket, not documents) never sees the cluster and all
    // 66 hamming-0 pairs come back.
    val clones = (1L to 12L).map(i => (i, "the same replicated document body shared by every copy here"))
    val extra = Seq(
      (100L, "completely different content about catalyst optimizer rules"),
      (101L, "another unrelated body mentioning watermarks and state stores"))
    val df = (clones ++ extra).toDF("doc_id", "text")
    val pairs = Dedup.simhash(df, "doc_id", "text", maxHamming = 3, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val expected = (for { a <- 1L to 12L; b <- (a + 1) to 12L } yield (a, b)).toSet
    assert(pairs.keySet.filter(p => p._1 <= 12L && p._2 <= 12L) == expected)
    assert(pairs.filter(p => p._1._1 <= 12L && p._1._2 <= 12L).values.forall(_ == 0L))
  }

  test("simhash banding recall is exact vs exhaustive hamming pairs") {
    val sigs = Dedup.simhashSignatures(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    for (budget <- Seq(3, 8, 12)) {
      val exhaustive = (for {
        (a, sa) <- sigs; (b, sb) <- sigs
        if a < b && java.lang.Long.bitCount(sa ^ sb) <= budget
      } yield (a, b)).toSet
      val banded = Dedup.simhash(docs, "doc_id", "text", maxHamming = budget)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(banded == exhaustive, s"budget $budget")
    }
  }

  test("containment decontamination: embedded probe scores 1.0 though jaccard is tiny") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and then runs far away into the woods tonight"),
      (2L, "completely unrelated text about databases and distributed query engines at scale"),
      (3L, "short filler words here")
    ).toDF("doc_id", "text")
    // probe = a fragment fully embedded in doc 1
    val probes = Seq((100L, "quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val hits = Dedup.containment(corpus, "doc_id", "text", probes, "doc_id", "text", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(hits.toSeq == Seq((1L, 100L, 1000L))) // full containment, only doc 1
  }

  test("connected components label every member with the component min (keep list)") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connected components report non-convergence on a deep chain (distributed loop)") {
    // a 12-node path has diameter 11 > maxIter=2 propagation rounds;
    // ceiling 0 forces the distributed loop whose budget is under test
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (_, convergedShallow) =
      Dedup.connectedComponentsWithStatus(chain, maxIter = 2, TwoTier.Distributed)
    assert(!convergedShallow)
    val (labels, converged) =
      Dedup.connectedComponentsWithStatus(chain, maxIter = 20, TwoTier.Distributed)
    assert(converged)
    assert(labels.collect().forall(_.getLong(1) == 1L))
    // the driver-side union-find (default path for batch-sized pair sets)
    // needs no iteration budget: exact fixpoint even at maxIter = 2
    val (fast, fastConverged) = Dedup.connectedComponentsWithStatus(chain, maxIter = 2)
    assert(fastConverged)
    assert(fast.collect().forall(_.getLong(1) == 1L))
  }

  test("driver-side and distributed CC agree on random graphs") {
    for (seed <- Seq(7, 23)) {
      val rnd = new scala.util.Random(seed)
      val pairs = Vector.fill(60)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter(p => p._1 != p._2).distinct.toDF("id_a", "id_b")
      def asMap(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      TwoTier.assertSame(
        tuning => Map("labels" -> asMap(Dedup.connectedComponentsWithStatus(pairs, 40, tuning)._1)),
        s"seed $seed: union-find != distributed min-label")
    }
  }

  test("seed-ceiling driver CC equals the distributed loop above the batch ceiling") {
    // the seed/rebuild contraction class: a pair set ABOVE the 65 536 batch
    // ceiling (so the default path would take the distributed loop) but
    // within Tuning.SeedCcPairs — 100k random edges over 30k nodes, driver
    // union-find (the seed-scale ceiling) vs distributed min-label must
    // agree exactly
    val rnd = new scala.util.Random(41)
    val edges = Vector.fill(100000)((rnd.nextInt(30000).toLong, rnd.nextInt(30000).toLong))
      .filter(p => p._1 != p._2)
    assert(edges.size > Tuning().collectCeiling && edges.size <= Tuning.SeedCcPairs)
    val pairs = edges.toDF("id_a", "id_b").repartition(8)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fast = TwoTier.assertSame(
      { tuning =>
        val (labels, converged) = Dedup.connectedComponentsWithStatus(pairs, maxIter = 40, tuning.seedScale)
        Map("labels" -> asMap(labels), "converged" -> converged)
      },
      "seed-ceiling union-find != distributed min-label")
    assert(fast("converged") == true)
  }

  test("corpus-cleaning composition: near-dup pairs → components → keep-filtered corpus") {
    import graft.functions.{TextFunctions => TF}
    // exact + near dups planted; pipeline keeps one representative per component
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text", threshold = 0.5)
    val keep = Dedup.connectedComponents(pairs)
    val cleaned = docs
      .join(keep, docs("doc_id") === keep("id"), "left_outer")
      .filter(col("keep_id").isNull || col("keep_id") === col("doc_id"))
      .select(
        col("doc_id"),
        TF.langId(col("text")).as("lang"),
        TF.meanWordLenC(col("text")).as("quality")
      )
    val kept = cleaned.collect().map(_.getLong(0)).toSet
    // docs 1,2,4 collapse to one component (keeper 1); 3 and 5 untouched
    assert(kept == Set(1L, 3L, 5L))
  }

  test("keepBestList: each near-dup component keeps its best-scored member") {
    // components: {1,2,3} (chain), {5,6}; 9 appears only in scores (ignored)
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val scores = Seq((1L, 10L), (2L, 99L), (3L, 50L), (6L, 7L), (9L, 1000L))
      .toDF("doc_id", "quality")
    val out = Dedup.keepBestList(pairs, scores)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // component {1,2,3}: 2 has the best score; {5,6}: 5 is unscored (null),
    // so 6 wins on the only non-null score
    assert(out == Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 5L -> 6L, 6L -> 6L))
    // all-null component: min id wins
    val noScores = Seq((7L, 0L)).toDF("doc_id", "quality")
    val out2 = Dedup.keepBestList(Seq((1L, 2L)).toDF("id_a", "id_b"), noScores)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out2 == Map(1L -> 1L, 2L -> 1L))
  }

  test("clusterStats: sizes partition the corpus, tightness brackets hold") {
    // 4 tight clusters of 10; seeds 0..3 land one per cluster
    val vecs = (0 until 40).map { i =>
      val c = i % 4
      val base = Array.tabulate(16)(j => math.cos(c * 31 + j).toFloat)
      base(i / 4 % 16) += 0.02f * (i / 4)
      (i.toLong, base)
    }
    val df = vecs.toDF("vec_id", "embedding")
    for (refine <- Seq(0, 2)) {
      val rows = graft.ann.Ann.clusterStats(df, "vec_id", "embedding", nlists = 4, refine = refine)
        .collect()
      assert(rows.map(_.getAs[Long]("n")).sum == 40, s"refine=$refine: sizes must partition")
      assert(rows.map(_.getAs[Long]("cell")).toSet.subsetOf((0L until 4L).toSet))
      rows.foreach { r =>
        assert(r.getAs[Long]("min_cos_e4") <= r.getAs[Long]("max_cos_e4"))
        assert(r.getAs[Long]("min_cos_e4") >= 9000L,
          s"refine=$refine: tight clusters must stay tight, got $r")
      }
      // one cell per planted cluster, 10 members each
      assert(rows.length == 4 && rows.forall(_.getAs[Long]("n") == 10L), s"refine=$refine")
    }
    // null embeddings excluded; empty corpus → empty report
    val withNull = (vecs :+ (100L, null: Array[Float])).toDF("vec_id", "embedding")
    assert(graft.ann.Ann.clusterStats(withNull, "vec_id", "embedding", nlists = 4)
      .agg(sum(col("n"))).collect()(0).getLong(0) == 40)
    val empty = df.filter(lit(false))
    assert(graft.ann.Ann.clusterStats(empty, "vec_id", "embedding").count() == 0)
  }

  test("IVF supports string ids, null embeddings, and empty corpora") {
    import graft.ann.Ann
    val vecs = (0 until 30).map { i =>
      (s"doc-$i", if (i == 7) null else Array.tabulate(8)(j => (math.cos(i % 3 * 5 + j)).toFloat))
    }.toDF("sid", "embedding")
    val q = vecs.filter(col("sid") === "doc-0")
    val out = Ann.ivfTopK(vecs, q, "sid", "embedding", "sid", "embedding", 3, nlists = 4, nprobe = 2)
      .collect()
    assert(out.nonEmpty && out.forall(_.getString(0) == "doc-0"))
    // empty corpus degrades to an empty result, same schema
    val empty = vecs.filter(lit(false))
    assert(Ann.ivfTopK(empty, q, "sid", "embedding", "sid", "embedding", 3).collect().isEmpty)
  }

  test("IVF and LSH ANN recall vs brute force on clustered vectors") {
    val vecs = (0 until 60).map { i =>
      val c = i % 3
      (i.toLong, Array.tabulate(16)(j => (math.cos(c * 5 + j) + 0.01 * math.sin(i * 13 + j)).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 2)
    val bf = Ann.bruteForceTopK(df, queries, "vec_id", "embedding", "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Ann.ivfTopK(df, queries, "vec_id", "embedding", "vec_id", "embedding", 5,
        nlists = 6, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // clustered data: probing half the cells should recover most true neighbors
    val recall = (bf intersect ivf).size.toDouble / bf.size
    assert(recall >= 0.6, s"IVF recall $recall")
  }

  test("int8 quantization: bounded round-trip error, scale-invariant cosine, high ANN recall") {
    import graft.functions.{VectorFunctions => VF}
    val vecs = (0 until 60).map { i =>
      val c = i % 3
      (i.toLong, Array.tabulate(16)(j => (math.cos(c * 5 + j) + 0.01 * math.sin(i * 13 + j)).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    // round-trip error per element is at most scale/2
    val err = df.select(
      VF.quantizeInt8(col("embedding")).getField("scale").as("scale"),
      zip_with(
        VF.dequantizeInt8(VF.quantizeInt8(col("embedding"))),
        transform(col("embedding"), x => x.cast("double")),
        (a, b) => abs(a - b)
      ).as("errs")
    )
    assert(err.collect().forall { r =>
      val half = r.getDouble(0) / 2 + 1e-12
      r.getSeq[Double](1).forall(_ <= half)
    })
    // quantized cosine tracks exact cosine closely (codes keep direction)
    val pairs = df.as("a").crossJoin(df.as("b")).filter(col("a.vec_id") < col("b.vec_id")).limit(200)
      .select(
        VF.cosine(col("a.embedding"), col("b.embedding")).as("exact"),
        VF.cosine(
          VF.quantizeInt8(col("a.embedding")).getField("q"),
          VF.quantizeInt8(col("b.embedding")).getField("q")
        ).as("quant")
      )
    assert(pairs.collect().forall(r => math.abs(r.getDouble(0) - r.getDouble(1)) < 0.02))
    // top-k over codes recovers the exact top-k almost entirely
    val queries = df.filter(col("vec_id") < 3)
    val bf = Ann.bruteForceTopK(df, queries, "vec_id", "embedding", "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val codes = df.select(col("vec_id"), VF.quantizeInt8(col("embedding")).getField("q").as("embedding"))
    val q8 = Ann.bruteForceTopK(
        codes, codes.filter(col("vec_id") < 3), "vec_id", "embedding", "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf intersect q8).size.toDouble / bf.size
    assert(recall >= 0.8, s"quantized ANN recall $recall")
  }

  test("binary ANN: packed hamming matches direct sign count, wide funnel is exact, recall tracks brute force") {
    import graft.functions.{VectorFunctions => VF}
    val vecs = (0 until 60).map { i =>
      val c = i % 3
      (i.toLong, Array.tabulate(16)(j => (math.cos(c * 5 + j) + 0.01 * math.sin(i * 13 + j)).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    // packed popcount-xor hamming == direct per-component sign disagreement
    val agree = df.as("a").crossJoin(df.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id")).limit(150)
      .select(
        VF.hammingPacked(
          VF.binarize(col("a.embedding"), 16), VF.binarize(col("b.embedding"), 16), 1).as("packed"),
        size(filter(
          zip_with(col("a.embedding"), col("b.embedding"), (x, y) => (x >= 0) =!= (y >= 0)),
          b => b)).cast("long").as("direct"))
      .collect()
    assert(agree.nonEmpty && agree.forall(r => r.getLong(0) == r.getLong(1)))
    // word-boundary coverage: a 70-dim vector packs into 2 words and still
    // matches the direct count
    val wide = (0 until 20).map { i =>
      (i.toLong, Array.tabulate(70)(j => math.sin(i * 7 + j * 3).toFloat))
    }.toDF("vec_id", "embedding")
    val agree70 = wide.as("a").crossJoin(wide.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(
        VF.hammingPacked(
          VF.binarize(col("a.embedding"), 70), VF.binarize(col("b.embedding"), 70), 2).as("packed"),
        size(filter(
          zip_with(col("a.embedding"), col("b.embedding"), (x, y) => (x >= 0) =!= (y >= 0)),
          b => b)).cast("long").as("direct"))
      .collect()
    assert(agree70.nonEmpty && agree70.forall(r => r.getLong(0) == r.getLong(1)))
    // a funnel wide enough to admit the whole corpus IS brute force
    val queries = df.filter(col("vec_id") < 3)
    val bf = Ann.bruteForceTopK(df, queries, "vec_id", "embedding", "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val wideFunnel = Ann.binaryTopK(
        df, queries, "vec_id", "embedding", "vec_id", "embedding", 5, dim = 16,
        candidateFactor = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(wideFunnel == bf, "wide binary funnel must equal exact brute force")
    // the default narrow funnel still recovers most true neighbors
    val narrow = Ann.binaryTopK(
        df, queries, "vec_id", "embedding", "vec_id", "embedding", 5, dim = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf.map(t => (t._1, t._2)) intersect narrow).size.toDouble / bf.size
    assert(recall >= 0.5, s"binary ANN recall $recall")
  }

  test("matryoshka ANN: prefix=dim funnel is exactly brute force, half-prefix recall is high on clustered data") {
    val vecs = (0 until 60).map { i =>
      val c = i % 3
      (i.toLong, Array.tabulate(16)(j => (math.cos(c * 5 + j) + 0.01 * math.sin(i * 13 + j)).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 3)
    val bf = Ann.bruteForceTopK(df, queries, "vec_id", "embedding", "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // prefixDim = dim ranks candidates by the true cosine with the same id
    // tie-break, so even the tightest funnel (candidateFactor = 1) is exact
    val full = Ann.matryoshkaTopK(
        df, queries, "vec_id", "embedding", "vec_id", "embedding", 5, prefixDim = 16,
        candidateFactor = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(full == bf, "prefix=dim matryoshka funnel must equal exact brute force")
    // leading half of the components keeps the cluster structure
    val half = Ann.matryoshkaTopK(
        df, queries, "vec_id", "embedding", "vec_id", "embedding", 5, prefixDim = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf.map(t => (t._1, t._2)) intersect half).size.toDouble / bf.size
    assert(recall >= 0.6, s"matryoshka half-prefix recall $recall")
  }

  test("LSH multi-probe (Hamming-1) recall beats single-bucket vs brute force") {
    // clustered vectors with per-vector jitter: cluster members near a
    // hyperplane land one sign-bit apart, which is exactly the recall cliff
    // multi-probe exists to cover
    val vecs = (0 until 80).map { i =>
      val c = i % 4
      (i.toLong, Array.tabulate(16)(j => (math.cos(c * 3 + j) + 0.05 * math.sin(i * 17 + j)).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 4)
    def pairs(d: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      d.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = pairs(
      Ann.bruteForceTopK(df, queries, "vec_id", "embedding", "vec_id", "embedding", 5))
    val single = Ann.lshTopK(df, queries, "vec_id", "embedding", "vec_id", "embedding", 5,
      planes = 6, dim = 16, probeHamming = 0)
    val multi = Ann.lshTopK(df, queries, "vec_id", "embedding", "vec_id", "embedding", 5,
      planes = 6, dim = 16, probeHamming = 1)
    val recall0 = (bf intersect pairs(single)).size.toDouble / bf.size
    val recall1 = (bf intersect pairs(multi)).size.toDouble / bf.size
    assert(recall1 >= recall0, s"multi-probe recall $recall1 < single-bucket $recall0")
    assert(recall1 >= 0.5, s"multi-probe recall $recall1")
    // the corpus-in-one-bucket + distinct-probe-keys design means no
    // (qid, neighbor) candidate pair is ever produced twice
    val rows = multi.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == rows.distinct.length, "duplicate (qid, neighbor) pair emitted")
  }

  test("LSH index layout: partition-pruned probing matches the in-memory plan") {
    val vecs = (0 until 80).map { i =>
      val c = i % 4
      (i.toLong, Array.tabulate(16)(j => (math.cos(c * 3 + j) + 0.05 * math.sin(i * 17 + j)).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 4)
    val dir = graft.util.TempDirs.scratch("ann-lsh-index").toString
    Ann.writeLshIndex(df, dir, "vec_id", "embedding", planes = 6, dim = 16)
    val indexed = Ann.lshTopKIndexed(dir, queries, "vec_id", "embedding", 5, planes = 6, dim = 16)
    val direct = Ann.lshTopK(
      df, queries, "vec_id", "embedding", "vec_id", "embedding", 5, planes = 6, dim = 16)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(rows(indexed) == rows(direct))
    // the probe keys reach the scan as a STATIC partition filter — at 100 TB
    // this is what turns probing into reading only the probed file groups
    val p = indexed.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("bucket"), p)
    graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
  }

  test("LSH index append + compact: incremental batches match a full rebuild") {
    val mk = (range: Range) => range.map { i =>
      val c = i % 4
      (i.toLong, Array.tabulate(16)(j => (math.cos(c * 3 + j) + 0.05 * math.sin(i * 17 + j)).toFloat))
    }
    val base = mk(0 until 60).toDF("vec_id", "embedding")
    val batch = mk(60 until 90).toDF("vec_id", "embedding")
    val all = base.union(batch)
    val queries = base.filter(col("vec_id") < 4)
    val dir = graft.util.TempDirs.scratch("ann-lsh-append").toString
    Ann.writeLshIndex(base, dir, "vec_id", "embedding", planes = 6, dim = 16)
    Ann.appendLshIndex(batch, dir, "vec_id", "embedding", planes = 6, dim = 16)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val appended =
      Ann.lshTopKIndexed(dir, queries, "vec_id", "embedding", 5, planes = 6, dim = 16)
    val rebuilt = Ann.lshTopK(
      all, queries, "vec_id", "embedding", "vec_id", "embedding", 5, planes = 6, dim = 16)
    assert(rows(appended) == rows(rebuilt))
    // compaction restores one file group per bucket and preserves results
    val staged = graft.util.TempDirs.scratch("ann-lsh-compact").toString
    Ann.compactLshIndex(spark, dir, staged)
    val compacted =
      Ann.lshTopKIndexed(staged, queries, "vec_id", "embedding", 5, planes = 6, dim = 16)
    assert(rows(compacted) == rows(rebuilt))
    val bucketDirs = new java.io.File(staged).listFiles().filter(_.getName.startsWith("bucket="))
    assert(bucketDirs.nonEmpty)
    bucketDirs.foreach { b =>
      val files = b.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"bucket ${b.getName} has ${files.length} file groups")
    }
    graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
    graft.util.TempDirs.delete(java.nio.file.Paths.get(staged))
  }

  test("LSH index deletes: tombstoned ids vanish, re-add resurrects, compact reclaims") {
    val mk = (range: Range) => range.map { i =>
      val c = i % 4
      (i.toLong, Array.tabulate(16)(j => (math.cos(c * 3 + j) + 0.05 * math.sin(i * 17 + j)).toFloat))
    }
    val all = mk(0 until 90).toDF("vec_id", "embedding")
    val queries = all.filter(col("vec_id").isin(1L, 2L, 3L))
    val dir = graft.util.TempDirs.scratch("ann-lsh-delete").toString
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    def probe(p: String) =
      Ann.lshTopKIndexed(p, queries, "vec_id", "embedding", 5, planes = 6, dim = 16)
    Ann.writeLshIndex(all, dir, "vec_id", "embedding", planes = 6, dim = 16)
    // delete ids that ARE currently retrieved, so exclusion is observable
    val deletedIds = rows(probe(dir)).map(_._2).toSeq.sorted.take(3)
    assert(deletedIds.nonEmpty)
    Ann.deleteFromLshIndex(spark, dir, deletedIds.toDF("id"))
    val afterDelete = rows(probe(dir))
    assert(!afterDelete.exists(r => deletedIds.contains(r._2)), "deleted ids still retrievable")
    // probe equals an index rebuilt WITHOUT the deleted vectors (ranks shift
    // up into the freed slots — deletes must not just mask rows post-rank)
    val survivors = all.filter(!col("vec_id").isin(deletedIds: _*))
    val rebuiltDir = graft.util.TempDirs.scratch("ann-lsh-delete-rebuild").toString
    Ann.writeLshIndex(survivors, rebuiltDir, "vec_id", "embedding", planes = 6, dim = 16)
    assert(afterDelete == rows(probe(rebuiltDir)))
    // double-delete is a no-op
    Ann.deleteFromLshIndex(spark, dir, Seq(deletedIds.head).toDF("id"))
    assert(rows(probe(dir)) == afterDelete)
    // re-add one deleted id: append out-sequences the tombstone, and the
    // pre-delete row of that id must NOT come back as a duplicate
    val readd = all.filter(col("vec_id") === deletedIds.head)
    Ann.appendLshIndex(readd, dir, "vec_id", "embedding", planes = 6, dim = 16)
    val afterReadd = rows(probe(dir))
    val readdRebuild = graft.util.TempDirs.scratch("ann-lsh-readd-rebuild").toString
    Ann.writeLshIndex(survivors.union(readd), readdRebuild, "vec_id", "embedding", planes = 6, dim = 16)
    assert(afterReadd == rows(probe(readdRebuild)))
    val pairs = probe(dir).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length == pairs.distinct.length, "duplicate (qid, neighbor) pair after re-add")
    // compaction drops the tombstoned rows physically and clears tombstones
    val staged = graft.util.TempDirs.scratch("ann-lsh-delete-compact").toString
    Ann.compactLshIndex(spark, dir, staged)
    assert(rows(probe(staged)) == afterReadd)
    assert(!new java.io.File(s"$staged/_graft_tombstones").exists())
    val stagedIds = spark.read.parquet(staged).select("neighbor_id")
      .collect().map(_.getLong(0))
    deletedIds.tail.foreach(d => assert(!stagedIds.contains(d), s"id $d not reclaimed"))
    assert(stagedIds.count(_ == deletedIds.head) == 1,
      "re-added id must survive compaction exactly once")
    Seq(dir, rebuiltDir, readdRebuild, staged)
      .foreach(p => graft.util.TempDirs.delete(java.nio.file.Paths.get(p)))
  }

  test("LSH auto-compaction: dead-ratio policy fires, swaps in place, probes unchanged") {
    val mk = (range: Range) => range.map { i =>
      val c = i % 4
      (i.toLong, Array.tabulate(16)(j => (math.cos(c * 3 + j) + 0.05 * math.sin(i * 17 + j)).toFloat))
    }
    val all = mk(0 until 60).toDF("vec_id", "embedding")
    val queries = all.filter(col("vec_id").isin(1L, 2L))
    val dir = graft.util.TempDirs.scratch("ann-lsh-autocompact").toString
    def rows(p: String) =
      Ann.lshTopKIndexed(p, queries, "vec_id", "embedding", 5, planes = 6, dim = 16)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    Ann.writeLshIndex(all, dir, "vec_id", "embedding", planes = 6, dim = 16)
    assert(!Ann.maybeCompactLshIndex(spark, dir, maxDeadRatio = 0.1), "no deletes: no-op")
    // 6 of 60 dead = 0.1 of footer rows: below 0.2, at 0.1
    Ann.deleteFromLshIndex(spark, dir, (0L until 6L).toDF("id"))
    val before = rows(dir)
    assert(!Ann.maybeCompactLshIndex(spark, dir, maxDeadRatio = 0.2))
    assert(new java.io.File(s"$dir/_graft_tombstones").exists())
    assert(Ann.maybeCompactLshIndex(spark, dir, maxDeadRatio = 0.1))
    assert(rows(dir) == before)
    assert(!graft.sources.IndexState.hasTombstones(spark, dir))
    assert(!new java.io.File(dir + ".graft_compact").exists())
    assert(!new java.io.File(dir + ".graft_trash").exists())
    // the swapped index still carries the model sidecar (restart probe path)
    // and accepts further mutations
    Ann.appendLshIndex(mk(100 until 103).toDF("vec_id", "embedding"), dir, "vec_id", "embedding",
      planes = 6, dim = 16)
    assert(rows(dir).nonEmpty)
    graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
  }

  test("IVF-PQ index deletes: probe excludes tombstones, compact reclaims, models carried") {
    val mk = (range: Range) => range.map { i =>
      val c = i % 4
      (i.toLong, Array.tabulate(16)(j => (math.cos(c * 3 + j) + 0.05 * math.sin(i * 17 + j)).toFloat))
    }
    val all = mk(0 until 90).toDF("vec_id", "embedding")
    val queries = all.filter(col("vec_id").isin(1L, 2L, 3L))
    val cells = Ann.trainIvfCells(all, "vec_id", "embedding", nlists = 4)
    val books = Ann.pqTrain(all, "vec_id", "embedding", m = 4, codeK = 8)
    val dir = graft.util.TempDirs.scratch("ann-pq-delete").toString
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def probe(p: String) =
      Ann.pqTopKIndexed(p, queries, "vec_id", "embedding", 5, cells, books, nprobe = 4)
    Ann.writePqIndex(all, dir, "vec_id", "embedding", cells, books)
    val deletedIds = rows(probe(dir)).map(_._2).take(3).toSeq
    assert(deletedIds.nonEmpty)
    Ann.deleteFromPqIndex(spark, dir, deletedIds.toDF("id"))
    val afterDelete = rows(probe(dir))
    assert(afterDelete.forall(r => !deletedIds.contains(r._2)))
    // equals a rebuild over the survivors under the SAME frozen models
    val survivors = all.filter(!col("vec_id").isin(deletedIds: _*))
    val rebuiltDir = graft.util.TempDirs.scratch("ann-pq-delete-rebuild").toString
    Ann.writePqIndex(survivors, rebuiltDir, "vec_id", "embedding", cells, books)
    assert(afterDelete == rows(probe(rebuiltDir)))
    // compaction reclaims and stays probe-able with zero caller state
    val staged = graft.util.TempDirs.scratch("ann-pq-delete-compact").toString
    Ann.compactPqIndex(spark, dir, staged)
    assert(!new java.io.File(s"$staged/_graft_tombstones").exists())
    assert(rows(Ann.pqTopKIndexedResumed(staged, queries, "vec_id", "embedding", 5, nprobe = 4))
      == afterDelete)
    val stagedIds = spark.read.parquet(staged).select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(deletedIds.forall(!stagedIds.contains(_)))
    Seq(dir, rebuiltDir, staged)
      .foreach(p => graft.util.TempDirs.delete(java.nio.file.Paths.get(p)))
  }

  test("LSH probe expansion yields a candidate superset of exact-bucket probing") {
    // with k >= corpus size the top-k result IS the candidate set, so the
    // Hamming-1 expansion must return a superset of the exact-bucket pairs
    val vecs = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(8)(j => (math.sin(i * 7 + j * 3) + 0.1 * i).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 3)
    def cand(probe: Int): Set[(Long, Long)] =
      Ann.lshTopK(df, queries, "vec_id", "embedding", "vec_id", "embedding", 40,
          planes = 5, dim = 8, probeHamming = probe)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = cand(0)
    val expanded = cand(1)
    assert(exact.subsetOf(expanded),
      s"probeHamming=1 lost ${(exact -- expanded).size} exact-bucket candidates")
    assert(expanded.size >= exact.size)
  }

  test("incremental exact dedup: batch digests resolve against the corpus index") {
    val corpus = Seq(
      (10L, "alpha beta gamma"),
      (11L, "delta epsilon zeta"),
      (12L, "alpha beta gamma") // corpus-internal dup, index keeps min id
    ).toDF("doc_id", "text")
    val batch = Seq(
      (20L, "alpha beta gamma"), // dup of corpus 10
      (21L, "alpha beta gamma"), // same digest, within-batch dup of 20
      (22L, "brand new content"), // new
      (23L, "delta epsilon zeta") // dup of corpus 11
    ).toDF("doc_id", "text")
    val index = Dedup.exact(corpus, "doc_id", "text").select(col("h"), col("keep_id"))
    val out = Dedup.exactIncremental(index, batch, "doc_id", "text")
      .collect()
      .map(r => r.getAs[Long]("keep_id") ->
        (r.getAs[Long]("n_dups"), Option(r.getAs[Any]("corpus_keep_id"))))
      .toMap
    assert(out(20L) == (2L, Some(10L))) // batch pair collapsed onto corpus canonical
    assert(out(22L) == (1L, None)) // the only index row to append
    assert(out(23L) == (1L, Some(11L)))
    assert(out.size == 3) // one row per distinct batch digest
    // state transition: appending the new digests makes a rerun find nothing new
    val newRows = Dedup.exactIncremental(index, batch, "doc_id", "text")
      .filter(col("corpus_keep_id").isNull)
      .select(col("h"), col("keep_id"))
    val rerun = Dedup.exactIncremental(index.union(newRows), batch, "doc_id", "text")
    assert(rerun.filter(col("corpus_keep_id").isNull).count() == 0)
  }

  test("incremental minhash: batch-vs-corpus pairs only, verify matches exact jaccard") {
    val corpus = docs // ids 1-5
    val batch = Seq(
      (6L, "the quick brown fox jumps over the lazy dog again and again today"), // dup of 1/4
      (7L, "totally novel sentence with no overlap whatsoever in any shingle")
    ).toDF("doc_id", "text")
    val out = Dedup
      .minhashLshIncrementalPortable(corpus, batch, "doc_id", "text", threshold = 0.2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // the planted dup is found against BOTH corpus copies, at jaccard 1.0
    assert(out((6L, 1L)) == 1000L && out((6L, 4L)) == 1000L)
    // near-dup of doc 2 verifies to the same value the full self-dedup computes
    val full = Dedup
      .minhashLshPortable(corpus.union(batch), "doc_id", "text", threshold = 0.2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    out.foreach { case ((b, c), jac) =>
      assert(full((b min c, b max c)) == jac, s"pair ($b,$c)")
    }
    // batch doc 7 pairs with nothing; no corpus-corpus or batch-batch pairs
    assert(!out.keys.exists(_._1 == 7L))
    assert(out.keys.forall { case (b, c) => b >= 6L && c <= 5L })
    // production xxhash64 twin: same planted dups, same verified values on
    // shared pairs (verify stage is common; only the band-key family differs)
    val prod = Dedup
      .minhashLshIncremental(corpus, batch, "doc_id", "text", threshold = 0.2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(prod((6L, 1L)) == 1000L && prod((6L, 4L)) == 1000L)
    prod.keySet.intersect(out.keySet).foreach(p => assert(prod(p) == out(p), s"pair $p"))
    assert(prod.keys.forall { case (b, c) => b >= 6L && c <= 5L })
  }

  test("PQ ANN: codes compress to m ints, recall tracks brute force, Lloyd refine helps") {
    import graft.ann.Ann
    val vecs = (0 until 60).map { i =>
      val c = i % 3
      (i.toLong, Array.tabulate(16)(j => (math.cos(c * 5 + j) + 0.01 * math.sin(i * 13 + j)).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 2)
    val books = Ann.pqTrain(df, "vec_id", "embedding", m = 4, codeK = 8)
    assert(books.length == 4 && books.forall(b => b.length == 8 && b.forall(_.length == 4)))
    val codes = Ann.pqEncode(df, "vec_id", "embedding", books)
    assert(codes.collect().forall { r =>
      val cs = r.getSeq[Int](1)
      cs.length == 4 && cs.forall(c => c >= 0 && c < 8)
    })
    val bf = Ann
      .bruteForceTopK(df, queries, "vec_id", "embedding", "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(refine: Int): Double = {
      val pq = Ann
        .pqTopKEndToEnd(df, queries, "vec_id", "embedding", "vec_id", "embedding", 5,
          m = 4, codeK = 8, refine = refine)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (bf intersect pq).size.toDouble / bf.size
    }
    // 3 tight clusters, 8 codes per 4-dim subspace: seed codebooks are
    // coarse (first-8 seeds repeat clusters) but usable
    val r0 = recallAt(0)
    assert(r0 >= 0.4, s"PQ refine=0 recall $r0")
    // Lloyd-refined codebooks collapse each cluster's reconstruction onto
    // its centroid, so exact top-k membership inside a 20-member cluster is
    // tie-broken by id (recall@5 vs exact ranking is the wrong metric) —
    // the PQ guarantee is cluster-level: every neighbor returned must be
    // from the query's cluster
    val pq2 = Ann
      .pqTopKEndToEnd(df, queries, "vec_id", "embedding", "vec_id", "embedding", 5,
        m = 4, codeK = 8, refine = 2)
      .collect()
    assert(pq2.length == 10, "5 neighbors per query")
    assert(
      pq2.forall(r => r.getLong(1) % 3 == r.getLong(0) % 3),
      "refined-PQ neighbors must come from the query's cluster"
    )
    // empty corpus degrades to the exact (empty) scan, same schema
    val empty = df.filter(lit(false))
    assert(
      Ann.pqTopKEndToEnd(empty, queries, "vec_id", "embedding", "vec_id", "embedding", 3)
        .collect().isEmpty
    )
    // two-stage rerank: scores are TRUE cosines (match brute force exactly
    // for every neighbor both return) and recall ≥ the code-only ranking
    val bfScores = Ann
      .bruteForceTopK(df, queries, "vec_id", "embedding", "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val rr = Ann
      .pqTopKRefined(df, queries, "vec_id", "embedding", "vec_id", "embedding", 5, books)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    rr.keySet.intersect(bfScores.keySet).foreach { p =>
      assert(rr(p) == bfScores(p), s"rerank score for $p must be the exact cosine")
    }
    val rrRecall = rr.keySet.intersect(bfScores.keySet).size.toDouble / bfScores.size
    assert(rrRecall >= r0, s"rerank recall $rrRecall below code-only $r0")
    // IVF-PQ composition: probing under a pruned cell set still returns
    // k in-cluster neighbors per query (clusters are well separated here)
    val ivfpq = Ann
      .ivfPqTopK(df, queries, "vec_id", "embedding", "vec_id", "embedding", 5,
        nlists = 6, nprobe = 3, m = 4, codeK = 8)
      .collect()
    assert(ivfpq.length == 10, "5 neighbors per query through the probed cells")
    assert(
      ivfpq.forall(r => r.getLong(1) % 3 == r.getLong(0) % 3),
      "IVF-PQ neighbors must come from the query's cluster"
    )
    // empty corpus falls back to the exact scan
    assert(
      Ann.ivfPqTopK(empty, queries, "vec_id", "embedding", "vec_id", "embedding", 3)
        .collect().isEmpty
    )
  }

  test("persisted IVF-PQ index: partition-pruned probe matches the in-memory plan") {
    import graft.ann.Ann
    val vecs = (0 until 60).map { i =>
      val c = i % 3
      (i.toLong, Array.tabulate(16)(j => (math.cos(c * 5 + j) + 0.01 * math.sin(i * 13 + j)).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 2)
    val cells = Ann.trainIvfCells(df, "vec_id", "embedding", nlists = 6)
    val books = Ann.pqTrain(df, "vec_id", "embedding", m = 4, codeK = 8)
    val dir = graft.util.TempDirs.scratch("ann-pq-index").toString
    Ann.writePqIndex(df, dir, "vec_id", "embedding", cells, books)
    val indexed =
      Ann.pqTopKIndexed(dir, queries, "vec_id", "embedding", 5, cells, books, nprobe = 3)
    val direct = Ann.ivfPqTopK(df, queries, "vec_id", "embedding", "vec_id", "embedding", 5,
      nlists = 6, nprobe = 3, m = 4, codeK = 8)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(rows(indexed) == rows(direct))
    // probe keys reach the scan as a static partition filter over `cell`,
    // and the scan reads codes, not vectors
    val p = indexed.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("cell"), p)
    assert(!p.contains("embedding"), "indexed probe must not read a vector column")
    // incremental append under the frozen models == a full rebuild
    val more = (60 until 90).map { i =>
      val c = i % 3
      (i.toLong, Array.tabulate(16)(j => (math.cos(c * 5 + j) + 0.01 * math.sin(i * 13 + j)).toFloat))
    }.toDF("vec_id", "embedding")
    Ann.appendPqIndex(more, dir, "vec_id", "embedding", cells, books)
    val appended =
      Ann.pqTopKIndexed(dir, queries, "vec_id", "embedding", 5, cells, books, nprobe = 3)
    val all = df.union(more)
    val rebuiltDir = graft.util.TempDirs.scratch("ann-pq-rebuild").toString
    Ann.writePqIndex(all, rebuiltDir, "vec_id", "embedding", cells, books)
    val rebuilt =
      Ann.pqTopKIndexed(rebuiltDir, queries, "vec_id", "embedding", 5, cells, books, nprobe = 3)
    assert(rows(appended) == rows(rebuilt))
    graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
    graft.util.TempDirs.delete(java.nio.file.Paths.get(rebuiltDir))
  }

  test("ANN model persistence: a restarted session probes and appends with no caller state") {
    import graft.ann.{Ann, AnnModels}
    val mk = (range: Range) => range.map { i =>
      val c = i % 3
      (i.toLong, Array.tabulate(16)(j => (math.cos(c * 5 + j) + 0.01 * math.sin(i * 13 + j)).toFloat))
    }
    val df = mk(0 until 60).toDF("vec_id", "embedding")
    val cells = Ann.trainIvfCells(df, "vec_id", "embedding", nlists = 6)
    val books = Ann.pqTrain(df, "vec_id", "embedding", m = 4, codeK = 8)
    val dir = graft.util.TempDirs.scratch("ann-model-restart").toString
    Ann.writePqIndex(df, dir, "vec_id", "embedding", cells, books)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    // "kill" the pipeline: a FRESH session holds no cells/books — everything
    // must come back from the on-disk sidecar, bit-exact
    val restarted = spark.newSession()
    import restarted.implicits.{localSeqToDatasetHolder => _}
    val (loadedCells, loadedBooks) = AnnModels.readIvfPq(restarted, dir)
    assert(loadedCells == cells, "IVF cells must round-trip exactly")
    assert(loadedBooks == books, "PQ codebooks must round-trip exactly")

    val queriesNew = restarted.createDataFrame(mk(0 until 2)).toDF("vec_id", "embedding")
    val resumed = Ann.pqTopKIndexedResumed(dir, queriesNew, "vec_id", "embedding", 5, nprobe = 3)
    val inMemory = Ann.pqTopKIndexed(dir, queriesNew, "vec_id", "embedding", 5, cells, books, nprobe = 3)
    assert(rows(resumed) == rows(inMemory), "restart probe must equal the in-memory run")

    // frozen-model append from the restarted session == full rebuild
    val more = restarted.createDataFrame(mk(60 until 90)).toDF("vec_id", "embedding")
    Ann.appendPqIndexResumed(more, dir, "vec_id", "embedding")
    val appended = Ann.pqTopKIndexedResumed(dir, queriesNew, "vec_id", "embedding", 5, nprobe = 3)
    val rebuiltDir = graft.util.TempDirs.scratch("ann-model-rebuild").toString
    val all = restarted.createDataFrame(mk(0 until 90)).toDF("vec_id", "embedding")
    Ann.writePqIndex(all, rebuiltDir, "vec_id", "embedding", cells, books)
    val rebuilt = Ann.pqTopKIndexedResumed(rebuiltDir, queriesNew, "vec_id", "embedding", 5, nprobe = 3)
    assert(rows(appended) == rows(rebuilt), "resumed append must equal a full rebuild")

    // LSH sidecar: restart probe under persisted (planes, dim); compaction
    // carries the sidecar; kind mismatches fail loudly
    val lshDir = graft.util.TempDirs.scratch("ann-lsh-model").toString
    Ann.writeLshIndex(df, lshDir, "vec_id", "embedding", planes = 6, dim = 16)
    assert(AnnModels.readLsh(restarted, lshDir) == ((6, 16)))
    val lshResumed = Ann.lshTopKIndexedResumed(lshDir, queriesNew, "vec_id", "embedding", 5)
    val lshDirect = Ann.lshTopKIndexed(lshDir, queriesNew, "vec_id", "embedding", 5, planes = 6, dim = 16)
    assert(rows(lshResumed) == rows(lshDirect))
    val staged = graft.util.TempDirs.scratch("ann-lsh-model-compact").toString
    Ann.compactLshIndex(restarted, lshDir, staged)
    assert(AnnModels.readLsh(restarted, staged) == ((6, 16)), "compaction must carry the sidecar")
    intercept[IllegalArgumentException](AnnModels.readLsh(restarted, dir)) // ivfpq, not lsh
    intercept[IllegalStateException](AnnModels.readIvfPq(restarted, staged + "/nope"))

    Seq(dir, rebuiltDir, lshDir, staged)
      .foreach(d => graft.util.TempDirs.delete(java.nio.file.Paths.get(d)))
  }

  test("clusterBalancedSample: per-cell caps bind, small cells keep everything") {
    // 3 tight clusters of very different sizes: 40 / 8 / 2 members
    val vecs = (0 until 50).map { i =>
      val c = if (i < 40) 0 else if (i < 48) 1 else 2
      (i.toLong, Array.tabulate(16)(j => (math.cos(c * 3 + j) + 0.02 * math.sin(i * 17 + j)).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val out = Ann.clusterBalancedSample(df, "vec_id", "embedding", perCell = 5, nlists = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val perCell = out.groupBy(_._2).view.mapValues(_.length).toMap
    // no cell exceeds the cap; the dominant mode is capped at exactly 5
    assert(perCell.values.forall(_ <= 5), perCell.toString)
    assert(out.length < 50, "the cap must actually drop rows")
    // assignment agreement: each sampled id keeps its clusterStats cell size
    // bracket — i.e. sampled rows are a subset of the corpus ids
    assert(out.map(_._1).toSet.subsetOf(vecs.map(_._1).toSet))
    // determinism: same inputs, same sample
    val again = Ann.clusterBalancedSample(df, "vec_id", "embedding", perCell = 5, nlists = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSet == again.toSet)
  }

  test("dedupLines: first (doc,pos) occurrence wins corpus-wide, cleaned hash matches") {
    val docs = Seq(
      (1L, "header\nunique one\nfooter"),
      (2L, "header\nunique two\nfooter"),
      (3L, "unique three\nheader")
    ).toDF("doc_id", "text")
    def m(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val out = Dedup.dedupLines(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // doc 1 holds the first occurrence of header and footer: keeps all 3
    assert(out(1L) == ((3L, 3L, m("header\nunique one\nfooter"))))
    // doc 2 loses header and footer to doc 1
    assert(out(2L) == ((3L, 1L, m("unique two"))))
    // doc 3 loses header (doc 1 pos 0 precedes doc 3 pos 1 in total order)
    assert(out(3L) == ((2L, 1L, m("unique three"))))
    // a doc that is pure boilerplate reduces to zero lines + empty-text hash
    val withPure = docs.union(Seq((4L, "header\nfooter")).toDF("doc_id", "text"))
    val out2 = Dedup.dedupLines(withPure, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(out2(4L) == ((0L, m(""))))
  }

  test("residual IVF-PQ: recall >= raw-vector IVF-PQ at equal (m, codeK) budget") {
    // clustered vectors: residual magnitudes (jitter scale) are far below
    // vector magnitudes, which is precisely the regime residual coding wins
    val vecs = (0 until 120).map { i =>
      val c = i % 4
      (i.toLong, Array.tabulate(16)(j => (math.cos(c * 3 + j) + 0.08 * math.sin(i * 17 + j)).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 4)
    def pairs(d: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      d.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = pairs(
      Ann.bruteForceTopK(df, queries, "vec_id", "embedding", "vec_id", "embedding", 10))
    // nprobe = nlists probes every cell, so recall differences come ONLY
    // from code fidelity (raw-vector codes vs residual codes)
    val raw = pairs(Ann.ivfPqTopK(df, queries, "vec_id", "embedding", "vec_id", "embedding", 10,
      nlists = 4, nprobe = 4, m = 8, codeK = 8))
    val res = pairs(Ann.ivfPqResidualTopK(
      df, queries, "vec_id", "embedding", "vec_id", "embedding", 10,
      nlists = 4, nprobe = 4, m = 8, codeK = 8))
    val rRaw = (bf intersect raw).size.toDouble / bf.size
    val rRes = (bf intersect res).size.toDouble / bf.size
    assert(rRes >= rRaw, s"residual recall $rRes < raw-vector recall $rRaw")
    assert(rRes >= 0.6, s"residual recall $rRes")
  }

  test("per-pair and pre-shingled Jaccard verify agree on arbitrary corpora") {
    // the two forms share jaccardTail by construction; this pins the one
    // part that CAN drift — the shingle derivation feeding each side —
    // across degenerate texts (empty, single-word, heavy repeats) and
    // arbitrary candidate sets including self-pairs and dangling ids
    import org.scalacheck.Gen
    def samples[A](g: Gen[A], n: Int): Seq[A] = {
      val p0 = Gen.Parameters.default
      (0 until n).flatMap(i => g.apply(p0, org.scalacheck.rng.Seed(1207L + i)))
    }
    val word = Gen.oneOf("alpha", "bravo", "charlie", "delta", "echo", "foxtrot")
    val text = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    val corpusGen = Gen.choose(2, 10).flatMap(n => Gen.listOfN(n, text))
    samples(corpusGen, 12).foreach { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
      val n = texts.length.toLong
      val candGen = Gen.listOf(for {
        a <- Gen.choose(0L, n + 1) // n+1: dangling ids with no doc row
        b <- Gen.choose(0L, n + 1)
      } yield (a, b))
      val cands = samples(candGen, 1).head match {
        case Nil => Seq((0L, 1L))
        case cs  => cs
      }
      val candDf = cands.toDF("id_a", "id_b")
      def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val perPair = rows(Dedup.verifyJaccard(candDf, docs, "id", "t", 3, 0.3))
      val preShingled = rows(Dedup.verifyJaccardShingled(
        candDf, Dedup.shingleDocs(docs, "id", "t", 3), 0.3))
      assert(perPair == preShingled,
        s"forms disagree on corpus=$texts cands=$cands: $perPair vs $preShingled")
    }
  }
}
