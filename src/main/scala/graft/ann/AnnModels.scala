package graft.ann

import org.apache.spark.sql.SparkSession

/** Versioned on-disk persistence for the driver-sized ANN model values —
  * IVF coarse cells, PQ codebooks, LSH hyperplane parameters — written as a
  * sidecar INSIDE the index directory.
  *
  * Closes the restart hole in the persisted-index story: `writePqIndex`
  * persists the codes but the models were in-driver `Seq`s the caller had
  * to persist "however it stores model bytes" — so a pipeline restart could
  * not re-probe an existing index without retraining (and retraining breaks
  * the frozen-model append contract: new seeds ⇒ new code meanings ⇒ a
  * corrupt mixed index). The reference persists every bit of resumable
  * state (checkpoint file `pgsync/sync.py:1581-1656`, ctid resume
  * `bin/parallel_sync:66-97`); this is the ANN analogue.
  *
  * Layout (all under `<indexPath>/_graft_model/` — the underscore prefix
  * makes the sidecar invisible to the parquet scan of the index root, the
  * same convention as `_SUCCESS`/`_metadata`):
  *
  *   - `meta/`  — one row: (format, version, kind, planes, dim, m)
  *   - `cells/` — (cell BIGINT, centroid ARRAY<DOUBLE>)   [ivfpq]
  *   - `books/` — (j INT, c INT, v ARRAY<DOUBLE>)         [ivfpq]
  *
  * Parquet, not JSON: exact IEEE-754 round-trip of centroid/codebook values
  * (a decimal detour could move an argmin tie), and the reader is the same
  * `spark.read.parquet` the index itself uses — no hand-rolled parser. The
  * files are driver-sized (nlists + m·codeK rows), so read cost is
  * negligible against any probe.
  */
object AnnModels {

  val Format = "graft-ann-model"
  val Version = 1

  private def modelDir(indexPath: String) = s"$indexPath/_graft_model"

  // sidecar row shapes: public ONLY because Dataset encoder codegen must
  // construct/access them from generated classes — `private` here makes
  // every sidecar read/write pay a failed Janino compile and fall back to
  // the interpreted projection path (observed as 128 CodeGenerator errors
  // per test-suite run before this was widened)
  case class MetaRow(
      format: String,
      version: Int,
      kind: String,
      planes: Int,
      dim: Int,
      m: Int
  )
  case class CellRow(cell: Long, centroid: Seq[Double])
  case class BookRow(j: Int, c: Int, v: Seq[Double])

  /** Persist the IVF cells + PQ codebooks next to a [[Ann.writePqIndex]]
    * layout. Overwrites any prior sidecar (a model refresh rewrites the
    * index too — models and codes must stay paired).
    */
  def writeIvfPq(
      spark: SparkSession,
      indexPath: String,
      cells: Seq[(Long, Seq[Double])],
      books: Seq[Seq[Seq[Double]]]
  ): Unit = {
    import spark.implicits._
    val m = modelDir(indexPath)
    Seq(MetaRow(Format, Version, "ivfpq", -1, -1, books.length)).toDS
      .coalesce(1).write.mode("overwrite").parquet(s"$m/meta")
    cells.map { case (c, v) => CellRow(c, v) }.toDS
      .coalesce(1).write.mode("overwrite").parquet(s"$m/cells")
    books.zipWithIndex
      .flatMap { case (book, j) => book.zipWithIndex.map { case (v, c) => BookRow(j, c, v) } }
      .toDS
      .coalesce(1).write.mode("overwrite").parquet(s"$m/books")
  }

  /** Load the models back; position-stable (cells by id, books by (j, c) —
    * codes are positional, order is meaning).
    */
  def readIvfPq(
      spark: SparkSession,
      indexPath: String
  ): (Seq[(Long, Seq[Double])], Seq[Seq[Seq[Double]]]) = {
    import spark.implicits._
    requireKind(spark, indexPath, "ivfpq")
    val cells = spark.read.parquet(s"${modelDir(indexPath)}/cells").as[CellRow]
      .collect().sortBy(_.cell).map(r => (r.cell, r.centroid)).toSeq
    val books = spark.read.parquet(s"${modelDir(indexPath)}/books").as[BookRow]
      .collect().groupBy(_.j).toSeq.sortBy(_._1)
      .map { case (_, rows) => rows.sortBy(_.c).map(_.v.toSeq).toSeq }
    (cells, books)
  }

  /** Persist the LSH hyperplane parameters next to a [[Ann.writeLshIndex]]
    * layout. The hyperplanes themselves are deterministic from (planes,
    * dim), so the parameters ARE the model — but an index probed with the
    * wrong parameters silently returns garbage buckets, which is exactly
    * what a sidecar prevents.
    */
  def writeLsh(spark: SparkSession, indexPath: String, planes: Int, dim: Int): Unit = {
    import spark.implicits._
    Seq(MetaRow(Format, Version, "lsh", planes, dim, -1)).toDS
      .coalesce(1).write.mode("overwrite").parquet(s"${modelDir(indexPath)}/meta")
  }

  /** Load (planes, dim) for an LSH index. */
  def readLsh(spark: SparkSession, indexPath: String): (Int, Int) = {
    val meta = requireKind(spark, indexPath, "lsh")
    (meta.planes, meta.dim)
  }

  /** Meta rows already read, keyed by the meta directory's files (path and
    * modification time): a model is written once per build, so a
    * streaming batch that re-reads it pays one driver-side listing instead
    * of a Spark job, and a rebuild's new files miss the memo.
    */
  private val metaRead = new java.util.concurrent.ConcurrentHashMap[Seq[(String, Long)], MetaRow]()

  private def requireKind(spark: SparkSession, indexPath: String, kind: String): MetaRow = {
    import spark.implicits._
    val dir = new org.apache.hadoop.fs.Path(s"${modelDir(indexPath)}/meta")
    val files =
      try dir.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(dir).toSeq
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
        .map(st => st.getPath.toString -> st.getModificationTime).sorted
      catch { case _: java.io.FileNotFoundException => Nil }
    val metas = Option(metaRead.get(files)).map(Array(_)).getOrElse {
      // explicit schema: no footer-inference job per model read
      try spark.read.schema(org.apache.spark.sql.Encoders.product[MetaRow].schema)
        .parquet(dir.toString).as[MetaRow].collect()
      catch {
        case e: Exception =>
          throw new IllegalStateException(
            s"index at $indexPath has no model sidecar (_graft_model/meta) — " +
              s"written by an older writer? Re-write the index or pass models explicitly",
            e
          )
      }
    }
    require(metas.length == 1, s"corrupt model sidecar at $indexPath: ${metas.length} meta rows")
    val meta = metas.head
    if (files.nonEmpty) metaRead.put(files, meta)
    require(
      meta.format == Format && meta.version == Version,
      s"unsupported model sidecar ${meta.format} v${meta.version} at $indexPath " +
        s"(this reader supports $Format v$Version)"
    )
    require(
      meta.kind == kind,
      s"index at $indexPath holds a ${meta.kind} model, expected $kind"
    )
    meta
  }
}
