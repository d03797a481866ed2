package graft.sources

import graft.SparkSpec
import graft.ann.Ann
import graft.functions.Retrieval
import org.apache.spark.sql.functions._

/** Degenerate-feed behavior of the persisted-index mutation state: a feed
  * that deletes EVERY live document must not brick the index (an empty
  * visible set cannot be written as a readable partitioned parquet
  * directory, so the policy refuses the swap).
  */
class IndexStateSpec extends SparkSpec {
  import spark.implicits._

  private def gone(p: String) = !new java.io.File(p).exists()

  test("BM25 delete-everything feed: compaction refused, index stays probe-able, revives on append") {
    val docs = Seq(
      (1L, "spark spark spark"),
      (2L, "spark filler filler"),
      (3L, "window join window")
    ).toDF("doc_id", "text")
    val dir = graft.util.TempDirs.scratch("idxstate-deleteall-bm25").toString
    def rows(qtext: String) = Retrieval
      .bm25TopKIndexedBatch(dir, Seq((100L, qtext)).toDF("qid", "qtext"), "qid", "qtext", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    Retrieval.writeBm25Index(docs, "doc_id", "text", dir, buckets = 8)
    Retrieval.deleteFromBm25Index(spark, dir, Seq(1L, 2L, 3L).toDF("id"))
    // live == 0: the ratio says compact (1.0) but the policy must refuse —
    // swapping in an empty partitioned directory would brick every later read
    assert(!Retrieval.maybeCompactBm25Index(spark, dir, maxDeadRatio = 0.2))
    assert(new java.io.File(s"$dir/${IndexState.TombstoneDir}").exists())
    assert(rows("spark filler window").isEmpty, "fully-deleted index answers empty, not an error")
    // the next append revives the index, and NOW the policy may compact
    Retrieval.appendBm25Index(Seq((10L, "fresh spark doc")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    val revived = rows("fresh spark")
    assert(revived.map(_._2) == Set(10L))
    assert(Retrieval.maybeCompactBm25Index(spark, dir, maxDeadRatio = 0.2))
    assert(!IndexState.hasTombstones(spark, dir))
    assert(rows("fresh spark") == revived)
    graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
  }

  test("LSH delete-everything feed: empty-staging swap refused, index stays probe-able") {
    def mkVec(i: Long) =
      Array.tabulate(16)(j => (math.cos((i % 4) * 3 + j) + 0.05 * math.sin(i * 17 + j)).toFloat)
    val vecs = (0L until 6L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
    val dir = graft.util.TempDirs.scratch("idxstate-deleteall-lsh").toString
    def rows(queries: org.apache.spark.sql.DataFrame) = Ann
      .lshTopKIndexed(dir, queries, "vec_id", "embedding", 5, planes = 6, dim = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Ann.writeLshIndex(vecs, dir, "vec_id", "embedding", planes = 6, dim = 16)
    Ann.deleteFromLshIndex(spark, dir, (0L until 6L).toDF("id"))
    // every row is dead: compaction must detect the empty rewrite and refuse
    assert(!Ann.maybeCompactLshIndex(spark, dir, maxDeadRatio = 0.1))
    assert(new java.io.File(s"$dir/${IndexState.TombstoneDir}").exists())
    assert(gone(dir + IndexState.StagingSuffix), "refused staging must be cleaned up")
    assert(rows(vecs).isEmpty, "fully-deleted index answers empty, not an error")
    // revive with fresh vectors; the policy can compact again
    val fresh = (8L until 16L).map(i => (i, mkVec(i))).toDF("vec_id", "embedding")
    Ann.appendLshIndex(fresh, dir, "vec_id", "embedding", planes = 6, dim = 16)
    val revived = rows(fresh)
    assert(revived.nonEmpty && revived.forall(_._2 >= 8L))
    assert(Ann.maybeCompactLshIndex(spark, dir, maxDeadRatio = 0.1))
    assert(!IndexState.hasTombstones(spark, dir))
    assert(rows(fresh) == revived)
    graft.util.TempDirs.delete(java.nio.file.Paths.get(dir))
  }
}
