package graft.cdc

import graft.assemble.DocAssembler
import graft.catalog.{Catalog, JoinSpec}
import graft.schema.Node
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Batch incremental-maintenance engine: given a DataFrame of row-level
  * changes, compute which root documents are affected, re-assemble exactly
  * those, and emit index/delete operations.
  *
  * Reference behavior (`pgsync/sync.py:1054-1343`): per-op handlers walk FKs
  * up the tree for inserts, query the search index's `_meta` for
  * updates/deletes (J5), chunk the resulting filters (`FILTER_CHUNK_SIZE`
  * 5 000, `sync.py:1443-1493`) and re-run the assembly query per chunk.
  *
  * Spark-first redesign:
  *   - affected-root resolution = ONE lineage-table hash join on the
  *     batch's key values ∪ an FK walk-up join chain — no chunking, no
  *     65 536-term cap, no sink round-trip.
  *   - re-assembly = the same single [[DocAssembler]] plan with the root
  *     scan semi-joined to the affected id set (broadcast — a batch of
  *     changes is small relative to the tables).
  *   - op derivation = recompute-and-diff: affected ids present in the
  *     re-assembled output are upserts, absent ones are deletes. This
  *     subsumes the reference's special cases — PK-change UPDATE emitting a
  *     delete of the old `_id` (`sync.py:1194-1225`), root DELETE
  *     (`sync.py:1254-1306`), TRUNCATE (`sync.py:1308-1343`) — because doc
  *     state depends only on current source state, not event order, and
  *     upserts by `_id` are idempotent (the reference's own delivery
  *     guarantee, `sync.py:1947-1983`).
  *
  * @param inSetThreshold affected-id count above which scan restriction
  *   switches from literal IN filters to broadcast semi-joins
  * @param rangeBracket when true, oversized affected sets ALSO bracket each
  *   restricted scan with a pushed min/max range on the key (computed once
  *   per key type per batch). A large win when change batches cluster in a
  *   key range over a huge sorted/partitioned table (row groups prune), a
  *   cost when they span the full key space (the bench's synthetic batches
  *   do, hence default off — enable for key-clustered production feeds).
  * @param partitionPrune per-table partition layout specs
  *   ([[Layout.keyPartitionedWrite]] key ranges or
  *   [[Layout.hashBucketedWrite]] hash buckets — the latter covers uuid/text
  *   and composite keys): when a payload table is directory-partitioned by a
  *   key expression, reassembly derives the partition values the
  *   affected-key set touches and pushes them as a STATIC partition filter,
  *   so the payload re-read lists and scans ONLY the touched directories.
  *   This is the layout answer to the scan-bounded incremental floor:
  *   without it an oversized affected set re-reads the root/child/dim tables
  *   whole (scan-only but corpus-sized); with it the re-read is bounded by
  *   the batch's key spread, independent of corpus size. Supported table
  *   positions — the root, root-keyed children (partitioned by the FK, same
  *   key domain), single-hop one_to_one dims (partitioned by their PK;
  *   touched values derived from the pruned root rows' FK column), and
  *   many-to-many far sides behind a root-keyed through table (partitioned
  *   by the join key; touched values derived from the pruned THROUGH scan's
  *   far-FK column) — are validated at construction, along with a sampled
  *   layout-consistency check that the directory values really are the
  *   layout expression of the assumed key column(s).
  * @param layoutRoot directory whose per-table `_graft_layout` sidecars are
  *   auto-discovered into prune specs (table = child directory name, the
  *   convention every call site uses). Discovered specs are accepted only
  *   when the sidecar's key columns ARE the table's tree-position key and
  *   every construction-time constraint holds — a layout partitioned on a
  *   non-key column is silently left unpruned rather than failing the
  *   engine, because discovery is opportunistic; explicit `partitionPrune`
  *   entries stay strict AND win over discovered ones.
  * @param partitionIdCollectCap affected-id count up to which touched
  *   partitions are derived from one bounded driver collect of the cached
  *   affected set; larger sets fall back to one distinct job per distinct
  *   prune spec (tunable like `inSetThreshold`, chiefly so tests can reach
  *   the fallback at small batch sizes)
  */
final class IncrementalEngine(
    root: Node,
    catalog: Catalog,
    load: String => DataFrame,
    inSetThreshold: Int = 1000,
    rangeBracket: Boolean = false,
    partitionPrune: Map[String, IncrementalEngine.PartitionPrune] = Map.empty,
    layoutRoot: Option[String] = None,
    partitionIdCollectCap: Int = 65536
) {

  private val rootPks = DocAssembler.primaryKeys(root, catalog)

  /** One FK hop toward the root: rows of `fromTable` (key cols `fromCols`)
    * match rows of `toTable` on `toCols`.
    */
  private final case class Hop(
      fromTable: String,
      fromCols: Seq[String],
      toTable: String,
      toCols: Seq[String]
  )

  /** table → chains of hops up to the root (a table may appear at several
    * tree positions; each position contributes a chain).
    */
  private val chains: Map[String, Seq[List[Hop]]] = {
    val acc = scala.collection.mutable.Map.empty[String, Vector[List[Hop]]].withDefaultValue(Vector.empty)
    def visit(node: Node, chainToRoot: List[Hop]): Unit =
      DocAssembler.resolveChildSpecs(node, catalog).foreach {
        case (c, parentLeg, Some((through, childLeg))) =>
          val throughChain =
            Hop(through, parentLeg.childColumns, node.table, parentLeg.parentColumns) :: chainToRoot
          val childChain =
            Hop(c.table, childLeg.childColumns, through, childLeg.parentColumns) :: throughChain
          acc(through) = acc(through) :+ throughChain
          acc(c.table) = acc(c.table) :+ childChain
          visit(c, childChain)
        case (c, s, None) =>
          val childChain = Hop(c.table, s.childColumns, node.table, s.parentColumns) :: chainToRoot
          acc(c.table) = acc(c.table) :+ childChain
          visit(c, childChain)
      }
    visit(root, Nil)
    acc.toMap
  }

  /** Every (table, pk) pair in the tree, for lineage-key extraction. */
  private val treePks: Seq[(String, Seq[String])] = {
    def tables(n: Node): Seq[String] =
      n.table +: n.children.flatMap(c =>
        c.relationship.get.throughTables ++ tables(c)
      )
    tables(root).distinct.map(t => t -> catalog.primaryKeys(t))
  }

  private var lastBatchCache: Option[DataFrame] = None
  private var lastDocsCache: Option[DataFrame] = None
  private var lastAffectedCache: Option[DataFrame] = None

  private def rootIdExpr: Column =
    concat_ws(DocAssembler.IdDelimiter, rootPks.map(p => col(p).cast(StringType)): _*)

  private def jsonVals(payload: Column, cols: Seq[String]): Seq[Column] =
    cols.map(c => get_json_object(payload, s"$$.$c"))

  /** Affected root `_id`s for a batch of changes (columns per
    * [[Changes.schema]]), given the current lineage side-table.
    */
  def affectedRoots(rawChanges: DataFrame, lineage: DataFrame): DataFrame = {
    val spark = rawChanges.sparkSession
    import spark.implicits._

    // The batch is referenced by many resolution branches (root ids, lineage
    // keys per (table, pk), one walk-up per chain) — cache it once instead
    // of recomputing the feed per branch. The previous batch's cache is
    // released here, bounding a long-running stream to one live batch cache
    // (micro-batches are sequential). SAME-FRAME GUARD: the cache manager is
    // keyed by plan, so when the incoming frame IS the previous batch (a
    // redelivered/replayed batch, or a bench re-processing one frame),
    // unpersisting "the previous batch" would drop this frame's own
    // still-valid cache and re-materialize its plan — possibly a
    // corpus-derived scan — inside the caller's timed window.
    lastBatchCache match {
      case Some(prev)
          if (prev eq rawChanges) ||
            prev.queryExecution.analyzed.sameResult(rawChanges.queryExecution.analyzed) =>
        ()
      case other => other.foreach(_.unpersist())
    }
    val changes = rawChanges.cache()
    lastBatchCache = Some(changes)

    // One small job up front: which tables (and truncates) does this batch
    // actually touch? Branches for untouched tables are pruned from the
    // plan entirely — a batch rarely spans the whole tree, and each avoided
    // branch is an avoided scan+shuffle.
    val touched: Map[(String, Boolean), Long] = changes
      .groupBy(col("tbl"), (col("tg_op") === Changes.Truncate).as("tr"))
      .count()
      .collect()
      .map(r => (r.getString(0), r.getBoolean(1)) -> r.getLong(2))
      .toMap
    def touches(table: String): Boolean = touched.contains((table, false))

    var parts = Vector.empty[DataFrame]

    // Both payload halves matter (old covers DELETE and the old half of a
    // PK-change UPDATE), so every branch reads `explode(array(new, old))` —
    // one pass over the batch per branch instead of one per payload.
    val bothPayloads = explode(array(col("new"), col("old"))).as("__p")

    // 1. Root-table changes: pk values straight from the payloads.
    if (touches(root.table)) {
      val vals = jsonVals(col("__p"), rootPks)
      val allPresent = vals.map(_.isNotNull).reduce(_ && _)
      parts :+= changes
        .filter(col("tbl") === root.table && col("tg_op") =!= Changes.Truncate)
        .select(bothPayloads)
        .select(when(allPresent, concat_ws(DocAssembler.IdDelimiter, vals: _*)).as("_id"))
        .filter(col("_id").isNotNull)
    }

    // 2. Lineage resolution: child/through pk values → root ids (replaces
    //    the reference's ES `_meta` terms search, sync.py:835-1052). A
    //    change row resolves to the roots whose lineage holds EVERY one of
    //    its pk values — the reference's per-payload AND of `terms` filters
    //    — so a lineitem (X, k) hits order X, not every order with a k-th
    //    line. All values go through one broadcast lineage join; a key's
    //    per-column matches are then joined on root_id and semi-joined on
    //    the rows' key tuples.
    val keyTables = treePks.filter { case (t, pks) => t != root.table && pks.nonEmpty && touches(t) }
    if (keyTables.nonEmpty) {
      def keyTuples(t: String, pks: Seq[String]): DataFrame =
        changes
          .filter(col("tbl") === t && col("tg_op") =!= Changes.Truncate)
          .select(bothPayloads)
          .select(jsonVals(col("__p"), pks).zipWithIndex.map { case (c, i) => c.as(s"__v$i") }: _*)
          .na.drop("any")
      val keys = keyTables
        .flatMap { case (t, pks) =>
          pks.zipWithIndex.map { case (pk, i) =>
            keyTuples(t, pks).select(lit(t).as("tbl"), lit(pk).as("pk"), col(s"__v$i").as("value"))
          }
        }
        .reduce(_ unionAll _)
      // pre-filter the (large) lineage side by the tables this batch touches
      // — an ordinary pushed predicate, so a tbl-sorted/partitioned lineage
      // layout prunes row groups before the join
      val matched = lineage
        .filter(col("tbl").isin(keyTables.map(_._1): _*))
        .join(broadcast(keys.distinct()), Seq("tbl", "pk", "value"))
      keyTables.foreach { case (t, pks) =>
        val perColumn = pks.indices.map { i =>
          matched
            .filter(col("tbl") === t && col("pk") === pks(i))
            .select(col("root_id"), col("value").as(s"__v$i"))
        }
        // a single-column key is matched whole by the lineage join already
        val roots =
          if (pks.size == 1) perColumn.head
          else
            perColumn
              .reduce(_.join(_, "root_id"))
              .join(broadcast(keyTuples(t, pks).distinct()), pks.indices.map(i => s"__v$i"), "left_semi")
        parts :+= roots.select(col("root_id").as("_id"))
      }
    }

    // 3. FK walk-up for rows not yet in any doc's lineage (inserts; also the
    //    new half of an FK-change UPDATE) — sync.py:1054-1167 semantics as a
    //    broadcast join chain instead of per-payload queries. Dedup happens
    //    once per hop (just before the broadcast, where it shrinks the build
    //    side and caps fan-in amplification); the last hop's output is
    //    deduped by the final union-distinct instead of its own shuffle.
    for {
      (t, tableChains) <- chains.toSeq if touches(t)
      chain <- tableChains
    } {
      val head = chain.head
      var cur = changes
        .filter(col("tbl") === t && col("tg_op") =!= Changes.Truncate)
        .select(bothPayloads)
        .select(jsonVals(col("__p"), head.fromCols).zipWithIndex.map { case (c, i) =>
          c.as(s"__v$i")
        }: _*)
        .na.drop("any")
      chain.zipWithIndex.foreach { case (hop, hi) =>
        val nextCols: Seq[String] =
          chain.lift(hi + 1).map(_.fromCols).getOrElse(rootPks)
        val parent = load(hop.toTable)
          .select((hop.toCols ++ nextCols).distinct.map(col): _*)
        val deduped = cur.distinct()
        val cond = hop.toCols.zipWithIndex
          .map { case (c, i) => parent(c).cast(StringType) === deduped(s"__v$i") }
          .reduce(_ && _)
        cur = parent
          .join(broadcast(deduped), cond)
          .select(nextCols.zipWithIndex.map { case (c, i) =>
            col(c).cast(StringType).as(s"__v$i")
          }: _*)
      }
      parts :+= cur.select(
        concat_ws(DocAssembler.IdDelimiter, rootPks.indices.map(i => col(s"__v$i")): _*).as("_id")
      )
    }

    // 4. TRUNCATE fan-out (sync.py:1308-1343): root truncate touches every
    //    doc; child truncate touches every doc whose lineage mentions it.
    val truncated = touched.keys.collect { case (t, true) => t }
    truncated.foreach { t =>
      parts :+=
        (if (t == root.table) lineage.select(col("root_id").as("_id")).distinct()
         else
           lineage
             .filter(col("tbl") === t)
             .select(col("root_id").as("_id"))
             .distinct())
    }

    parts
      .reduceOption(_ unionAll _)
      .map(_.distinct())
      .getOrElse(spark.emptyDataset[String].toDF("_id"))
  }

  /** Tables one FK hop from the root whose join columns ARE the root PKs
    * (and every tree position of the table qualifies identically): their
    * scans can be semi-joined on the affected ids directly. This pushes the
    * affected-set filter BELOW the child `groupBy(fk).agg(collect_list)` —
    * without it, the one_to_many aggregate materializes arrays for every
    * group in the table before the root join prunes them, which is the
    * difference between O(batch) and O(table) per micro-batch.
    */
  private val rootKeyedChildCols: Map[String, Seq[String]] =
    chains.toSeq.flatMap { case (t, cs) =>
      val rootKeyed = cs.map {
        case hop :: Nil if hop.toTable == root.table && hop.toCols == rootPks =>
          Some(hop.fromCols)
        case _ => None
      }
      if (rootKeyed.forall(_.isDefined) && rootKeyed.flatten.distinct.size == 1)
        Some(t -> rootKeyed.head.get)
      else None
    }.toMap

  /** Single-hop one_to_one dims: tables whose EVERY tree position is one
    * direct single-column hop to the root that is NOT on the root PK
    * (customer via `orders.o_custkey = customer.c_custkey`). Their affected
    * key set is not the root id set but the restricted root rows' FK values,
    * so partition pruning for them derives from a batch-sized probe of the
    * (already pruned) root scan. Value: (FK column on the root, key column
    * on the dim).
    */
  private val rootDimCols: Map[String, (String, String)] =
    chains.toSeq.flatMap { case (t, cs) =>
      val dims = cs.map {
        case hop :: Nil
            if hop.toTable == root.table && hop.toCols != rootPks &&
              hop.toCols.size == 1 && hop.fromCols.size == 1 =>
          Some((hop.toCols.head, hop.fromCols.head))
        case _ => None
      }
      if (dims.forall(_.isDefined) && dims.flatten.distinct.size == 1)
        Some(t -> dims.head.get)
      else None
    }.toMap

  /** Tables two single-column hops from the root — one hop to a root-keyed
    * mid table, one from the mid table to the root on the root PKs. Their
    * touched-partition set derives from the RESTRICTED mid-table scan's
    * far-side FK values (the dim pattern one hop further out): every far row
    * a pruned mid row references keeps its partition by construction, and
    * the join does row exactness. This is one shape with two instances:
    * the many-to-many far side behind a through table (part↔supplier
    * through lineitem — at 100 TB the through table is often the biggest
    * table in the tree, so this is the J4/q_through answer to the same scan
    * floor the root-keyed path closes) AND the nested one_to_one dim of a
    * root-keyed child (orders→lineitem→part; PlanSpec pins both). Value:
    * (mid table, far-side FK column ON the mid table, key column on the far
    * table).
    */
  private val throughFarCols: Map[String, (String, String, String)] =
    chains.toSeq.flatMap { case (t, cs) =>
      val fars = cs.map {
        case farHop :: rootHop :: Nil
            if rootHop.toTable == root.table && rootHop.toCols == rootPks &&
              farHop.toTable == rootHop.fromTable &&
              farHop.fromCols.size == 1 && farHop.toCols.size == 1 &&
              rootKeyedChildCols.contains(farHop.toTable) =>
          Some((farHop.toTable, farHop.toCols.head, farHop.fromCols.head))
        case _ => None
      }
      if (fars.forall(_.isDefined) && fars.flatten.distinct.size == 1)
        Some(t -> fars.head.get)
      else None
    }.toMap

  /** The key column(s) the prune derivation assumes the table's layout is
    * partitioned on at its tree position — the root PKs, a child's root FK
    * columns, a dim's PK, or a far side's join key. `None` when no position
    * supports pruning the table.
    */
  private def positionKeyCols(t: String): Option[Seq[String]] =
    if (t == root.table) Some(rootPks)
    else
      rootKeyedChildCols
        .get(t)
        .orElse(rootDimCols.get(t).map(d => Seq(d._2)))
        .orElse(throughFarCols.get(t).map(f => Seq(f._3)))

  private lazy val rootKeyDts: Seq[org.apache.spark.sql.types.DataType] =
    rootPks.map(p => load(root.table).schema(p).dataType)

  /** Whether a root `_id` string can be AMBIGUOUS to parse back into key
    * values: a composite key with a string component whose VALUE contains
    * the id delimiter splits into more parts than the key arity, and the
    * true split is unknowable from the id alone. Single keys are never
    * split, and non-string components cannot contain the delimiter, so only
    * this shape is affected. Both touched-bucket derivations consult this to
    * fall back to the unpruned scan rather than hash a mis-split tuple.
    */
  private lazy val rootKeyDelimiterAmbiguous: Boolean =
    rootPks.size > 1 && rootKeyDts.contains(org.apache.spark.sql.types.StringType)

  /** Why `pp` cannot prune `t`, or `None` if it can. One predicate serving
    * both the strict explicit-spec validation (objection → construction
    * failure) and opportunistic sidecar discovery (objection → table left
    * unpruned).
    */
  private def pruneObjection(t: String, pp: IncrementalEngine.PartitionPrune): Option[String] =
    positionKeyCols(t) match {
      case None =>
        Some(
          "only the root, root-keyed children, single-hop one_to_one dims, " +
            "and many-to-many far sides behind a root-keyed through table " +
            "support affected-set partition pruning"
        )
      case Some(keyCols) =>
        // the frame the engine actually scans must carry both the key and
        // the directory column — load(t) serving a FLAT copy of a table
        // whose layout directory has a sidecar is a legitimate deployment
        // shape (partial layout adoption), and discovery must leave it
        // unpruned rather than crash the sample guard on a missing column
        val fields = load(t).schema.fieldNames.toSet
        val absent = (keyCols :+ pp.partCol).filterNot(fields.contains)
        if (absent.nonEmpty)
          Some(
            s"load($t) has no column(s) ${absent.mkString(", ")} — the frame " +
              "the engine scans is not the partitioned layout the spec describes"
          )
        else
          pp match {
          case _: IncrementalEngine.KeyRangePrune =>
            // key ranges need ONE integral key: touched partitions are
            // floor(key / width), and the affected ids must cast back to it
            if (rootPks.size != 1)
              Some(
                "key-range pruning requires a single-column root primary key " +
                  "(the affected ids must cast back to the partitioning key); " +
                  "hash-bucket the layout instead (Layout.hashBucketedWrite)"
              )
            else {
              val dt = load(t).schema(keyCols.head).dataType
              if (
                dt == org.apache.spark.sql.types.LongType ||
                dt == org.apache.spark.sql.types.IntegerType ||
                dt == org.apache.spark.sql.types.ShortType
              ) None
              else
                Some(
                  s"key column ${keyCols.head} must be integral for key-range " +
                    s"pruning, got $dt; hash-bucket the layout instead " +
                    "(Layout.hashBucketedWrite)"
                )
            }
          case _: IncrementalEngine.HashBucketPrune =>
            val dts = keyCols.map(c => load(t).schema(c).dataType)
            dts.find(!IncrementalEngine.PartitionPrune.supportedHashKeyType(_)) match {
              case Some(bad) =>
                Some(s"hash-bucket pruning supports long/int/short/string keys, got $bad")
              case None if t == root.table || rootKeyedChildCols.contains(t) =>
                // root-id domain: the derivation parses `_id` strings back to
                // the ROOT PK dtypes and hashes those values — the layout key
                // dtypes must be exactly that domain
                if (dts != rootKeyDts)
                  Some(
                    s"layout key dtypes $dts must equal the root primary-key " +
                      s"dtypes $rootKeyDts (the affected ids are parsed back " +
                      "in the root key domain)"
                  )
                else None
              case None =>
                // dim/far positions: the probe column the touched-bucket
                // derivation hashes must carry the same dtype the layout
                // hashed (xxhash64 of 42L and "42" differ)
                val probeDt = rootDimCols
                  .get(t)
                  .map { case (rootFk, _) => load(root.table).schema(rootFk).dataType }
                  .getOrElse {
                    val (through, throughFarFk, _) = throughFarCols(t)
                    load(through).schema(throughFarFk).dataType
                  }
                if (probeDt != dts.head)
                  Some(
                    s"probe column dtype $probeDt must equal the layout key " +
                      s"dtype ${dts.head}"
                  )
                else None
            }
        }
    }

  /** Rows sampled per pruned table by the construction-time layout check —
    * one `limit` job reading from one partition directory, where a layout
    * written on a DIFFERENT column than the tree position's key fails
    * immediately (within a directory the wrong key is ~uniform over the full
    * key space, so floor(key/width) == partValue only by coincidence).
    */
  private val LayoutSampleRows = 256

  /** Layout-consistency guard: the prune spec names only the directory
    * column and the layout parameter — nothing structural ties the DIRECTORY
    * values to the key column(s) the derivation assumes (a layout written on
    * l_partkey probed with root orderkeys passes every schema check and
    * silently drops rows). Sample rows of the table and return why the
    * directory value != the layout expression of the assumed key column(s),
    * or `None` if the sample is consistent — cheap, eager, and independent
    * of how the layout was produced (covers hand-built layouts a
    * [[graft.sources.Layout.layoutSpec]] sidecar could not vouch for). Like
    * [[pruneObjection]], one predicate serves both the strict explicit-spec
    * validation and opportunistic discovery; call only after
    * [[pruneObjection]] passes (it assumes the columns exist).
    */
  private def sampleObjection(
      t: String,
      pp: IncrementalEngine.PartitionPrune
  ): Option[String] = {
    val keyCols = positionKeyCols(t).get
    pp match {
      case kr: IncrementalEngine.KeyRangePrune =>
        val keyCol = keyCols.head
        val sample = load(t)
          .select(
            col(keyCol).cast(org.apache.spark.sql.types.LongType).as("__k"),
            col(kr.partCol).cast(org.apache.spark.sql.types.LongType).as("__p")
          )
          .limit(LayoutSampleRows)
          .collect()
        sample.iterator.flatMap { r =>
          val ok =
            if (r.isNullAt(0) || r.isNullAt(1)) r.isNullAt(0) && r.isNullAt(1)
            else kr.ofLong(r.getLong(0)) == r.getLong(1)
          if (ok) None
          else
            Some(
              s"sampled row has ${kr.partCol}=${if (r.isNullAt(1)) "null" else r.getLong(1)} " +
                s"but floor($keyCol/${kr.width})=${if (r.isNullAt(0)) "null" else kr.ofLong(r.getLong(0))} — " +
                s"the layout is not partitioned by floor($keyCol / ${kr.width}); pruning it on " +
                s"$keyCol would silently drop rows (re-write with Layout.keyPartitionedWrite on $keyCol, " +
                "or fix the width)"
            )
        }.nextOption()
      case hb: IncrementalEngine.HashBucketPrune =>
        val dts = keyCols.map(c => load(t).schema(c).dataType)
        val sample = load(t)
          .select(
            keyCols.map(col) :+
              col(hb.partCol).cast(org.apache.spark.sql.types.LongType).as("__p"): _*
          )
          .limit(LayoutSampleRows)
          .collect()
        sample.iterator.flatMap { r =>
          val vals: Seq[Any] = keyCols.indices.map(i => if (r.isNullAt(i)) null else r.get(i))
          val expect = hb.ofValues(vals, dts)
          if (!r.isNullAt(keyCols.size) && r.getLong(keyCols.size) == expect) None
          else
            Some(
              s"sampled row has ${hb.partCol}=" +
                s"${if (r.isNullAt(keyCols.size)) "null" else r.getLong(keyCols.size)} but " +
                s"pmod(xxhash64(${keyCols.mkString(", ")}), ${hb.nBuckets})=$expect — the " +
                s"layout is not hash-bucketed by (${keyCols.mkString(", ")}); pruning it " +
                "would silently drop rows (re-write with Layout.hashBucketedWrite on these " +
                "key columns, or fix the bucket count)"
            )
        }.nextOption()
    }
  }

  // Sidecar auto-discovery (opt-in via layoutRoot): accept a discovered
  // layout only when its RECORDED key columns are the tree position's key
  // and every constraint the explicit path enforces holds — INCLUDING the
  // sampled construction-time consistency check. Discovery is opportunistic,
  // so a non-conforming layout (wrong position, missing columns in the
  // frame load() serves, stale sidecar over re-written data) leaves its
  // table unpruned instead of failing the engine. Tables with an explicit
  // spec are skipped — the explicit entry overrides and is validated
  // strictly below.
  private val discoveredPrune: Map[String, IncrementalEngine.PartitionPrune] =
    layoutRoot.fold(Map.empty[String, IncrementalEngine.PartitionPrune]) { dir =>
      val spark = load(root.table).sparkSession
      graft.sources.Layout
        .discoverLayouts(spark, dir)
        .filterNot { case (t, _) => partitionPrune.contains(t) }
        .flatMap { case (t, lay) =>
          val layKeyCols = lay match {
            case graft.sources.Layout.KeyRangeLayout(k, _, _)    => Seq(k)
            case graft.sources.Layout.HashBucketLayout(ks, _, _) => ks
          }
          val pp = IncrementalEngine.PartitionPrune.fromLayout(lay)
          if (
            positionKeyCols(t).contains(layKeyCols) &&
            pruneObjection(t, pp).isEmpty && sampleObjection(t, pp).isEmpty
          )
            Some(t -> pp)
          else None
        }
    }

  /** Effective prune specs: discovered sidecars, overridden by explicit
    * entries.
    */
  private val prune: Map[String, IncrementalEngine.PartitionPrune] =
    discoveredPrune ++ partitionPrune

  // Explicit partition-prune specs are validated eagerly AND strictly: a
  // typo'd table, an unsupported tree position, or a layout whose sampled
  // directory values contradict the spec must fail at engine construction,
  // not silently scan unpruned (or worse, prune the wrong rows) per batch.
  partitionPrune.foreach { case (t, pp) =>
    pruneObjection(t, pp)
      .orElse(sampleObjection(t, pp))
      .foreach(msg => require(false, s"partitionPrune($t): $msg"))
  }

  /** Ceiling on literal partition values pushed as a static filter. A batch
    * touching more partitions than this spans most of the corpus anyway, so
    * the filter would prune little while bloating the plan — fall back to
    * the unpruned scan.
    */
  private val PartitionLiteralCap = 4096

  /** Affected-id count up to which touched partitions are derived from ONE
    * driver collect of the cached affected set (≈0.5 MB — the engine's
    * bounded-collect ceiling class) instead of one distinct job per pruned
    * table. Constructor-tunable (like `inSetThreshold`) so the distinct-job
    * fallback is reachable at test batch sizes.
    */
  private val PartitionIdCollectCap = partitionIdCollectCap

  /** Above `inSetThreshold` affected ids, fall back from literal IN-set scan
    * filters to broadcast semi-joins. Small sets profit from row-group
    * pruning at the scan; large literal lists cost more in plan
    * construction/optimization than the pruning returns (measured: a 7.5k-
    * value In tripled the batch latency vs the broadcast join).
    */
  private val InSetThreshold = inSetThreshold

  /** Re-assemble the documents for the given affected root ids: the same
    * single [[DocAssembler]] plan with the ROOT scan — and every root-keyed
    * child scan — restricted to the id set.
    *
    * For batch-sized id sets the restriction is a literal `isin` (Catalyst
    * compiles it to `InSet` and pushes it INTO the parquet scan —
    * `PushedFilters: [In(pk, …)]` — so row groups whose min/max exclude the
    * ids are never read; asserted in PlanSpec). Oversized sets fall back to
    * a broadcast semi-join. Composite PKs use the `_id` concat expression.
    */
  def reassemble(affected: DataFrame): DataFrame = {
    val ids: Option[Array[String]] = {
      val collected = affected.select(col("_id")).limit(InSetThreshold + 1).collect()
      if (collected.length > InSetThreshold) None
      else Some(collected.map(_.getString(0)))
    }

    // min/max of the affected ids, memoized per key type — restrict() runs
    // for the root scan AND each root-keyed child scan, and each agg is an
    // eager job over the affected-id plan
    val rangeMemo = scala.collection.mutable.Map.empty[
      org.apache.spark.sql.types.DataType, Option[(Any, Any)]]
    def keyRange(dt: org.apache.spark.sql.types.DataType): Option[(Any, Any)] =
      rangeMemo.getOrElseUpdate(dt, {
        val r = affected
          .select(col("_id").cast(dt).as("__k"))
          .agg(min(col("__k")), max(col("__k")))
          .collect().head
        if (r.isNullAt(0)) None else Some((r.get(0), r.get(1)))
      })

    // Touched partition values per pruned table, memoized per batch,
    // derived DRIVER-SIDE from one bounded id collect. The driver expression
    // mirrors the write side EXACTLY — key ranges via
    // [[IncrementalEngine.KeyRangePrune.ofLong]] (floor of a DOUBLE division,
    // Spark's `/` on integral inputs, exact for EVERY long including
    // |key| ≥ 2^53 where floorDiv disagrees), hash buckets via Spark's own
    // interpreted XxHash64Function over the id parsed back to the root PK
    // dtypes — so driver- and write-side partition values agree for every
    // supported key: the affected set is batch-sized by construction, so up
    // to the established bounded-collect ceiling (65 536 ids ≈ 0.5 MB) ONE
    // collect of the already-cached set serves every pruned table —
    // per-table distributed distinct jobs measured as most of the
    // partitioned path's per-batch overhead at sf0.1. Larger sets fall back
    // to one tiny distinct job per distinct spec. `Some(vals)` → static
    // partition filter; `None` → unpruned scan (cap exceeded — the batch
    // spans most of the corpus anyway).
    lazy val idsForPartVals: Option[Array[String]] = ids.orElse {
      val c = affected.select(col("_id")).limit(PartitionIdCollectCap + 1).collect()
      if (c.length > PartitionIdCollectCap) None else Some(c.map(_.getString(0)))
    }
    // the affected `_id` cast back to the typed root-key domain, for the
    // distributed fallback (composite ids split on the delimiter first)
    def idKeyExprs: Seq[Column] =
      if (rootPks.size == 1) Seq(col("_id").cast(rootKeyDts.head))
      else {
        val parts =
          split(col("_id"), java.util.regex.Pattern.quote(DocAssembler.IdDelimiter))
        rootKeyDts.zipWithIndex.map { case (dt, i) => parts.getItem(i).cast(dt) }
      }
    val partValsMemo = scala.collection.mutable.Map.empty[String, Option[Seq[Long]]]
    def affectedPartVals(table: String, pp: IncrementalEngine.PartitionPrune): Option[Seq[Long]] =
      partValsMemo.getOrElseUpdate(
        table, {
          val vals: Option[Seq[Long]] = (pp, idsForPartVals) match {
            case (kr: IncrementalEngine.KeyRangePrune, Some(vs)) =>
              Some(
                vs.toSeq
                  .flatMap(v => scala.util.Try(kr.ofLong(v.toLong)).toOption)
                  .distinct
              )
            case (hb: IncrementalEngine.HashBucketPrune, Some(vs)) =>
              val parsed =
                vs.toSeq.map(v => hb.ofIdString(v, rootKeyDts, DocAssembler.IdDelimiter))
              // at a delimiter-ambiguous key domain a failed parse may BE a
              // real root row whose string key value contains the delimiter —
              // its true bucket is unknowable from the id, so pruning on the
              // parseable subset would skip that row's directory and emit a
              // spurious delete; the whole batch falls back to the unpruned
              // scan instead. At every other domain a failed parse matches no
              // root row, so dropping it is exact.
              if (rootKeyDelimiterAmbiguous && parsed.contains(None)) None
              else Some(parsed.flatten.distinct)
            case (_, None) =>
              // distributed twin of the driver parse: at a delimiter-ambiguous
              // domain a mis-arity id maps to sentinel -1 (partValue is a pmod,
              // never negative) and poisons the derivation the same way
              val pv = {
                val base = pp.partValue(idKeyExprs)
                if (!rootKeyDelimiterAmbiguous) base
                else {
                  val parts = split(
                    col("_id"),
                    java.util.regex.Pattern.quote(DocAssembler.IdDelimiter),
                    -1
                  )
                  when(size(parts) === lit(rootPks.size), base).otherwise(lit(-1L))
                }
              }
              val collected = affected
                .select(pv.as("__p"))
                .filter(col("__p").isNotNull)
                .distinct()
                .limit(PartitionLiteralCap + 1)
                .collect()
                .map(_.getLong(0))
                .toSeq
              if (collected.contains(-1L)) None else Some(collected)
          }
          vals.filter(_.size <= PartitionLiteralCap)
        }
      )
    def partFilter(
        base: DataFrame,
        pp: IncrementalEngine.PartitionPrune,
        vals: Option[Seq[Long]]
    ): DataFrame =
      // references ONLY the directory column, so Catalyst plants it as a
      // static PartitionFilters entry: untouched directories are skipped at
      // file-listing time, before any footer or row group is read
      vals.fold(base)(vs =>
        base.filter(col(pp.partCol).cast(org.apache.spark.sql.types.LongType).isin(vs: _*))
      )

    def restrict(base: DataFrame, keyCol: String, table: String): DataFrame = {
      // structural guard (not just call-site discipline): dim and
      // through-far tables derive their touched partitions from probe
      // columns in THEIR key domain — affectedPartVals here would
      // floor/hash ROOT ids by the wrong spec and memoize the wrong values
      val prunedBase = prune.get(table) match {
        case Some(pp) if !rootDimCols.contains(table) && !throughFarCols.contains(table) =>
          partFilter(base, pp, affectedPartVals(table, pp))
        case _ => base
      }
      val dt = prunedBase.schema(keyCol).dataType
      ids match {
        case Some(vals) =>
          val lits: Seq[Any] = dt match {
            case org.apache.spark.sql.types.LongType    => vals.map(_.toLong).toSeq
            case org.apache.spark.sql.types.IntegerType => vals.map(_.toInt).toSeq
            case org.apache.spark.sql.types.ShortType   => vals.map(_.toShort).toSeq
            case _                                      => vals.toSeq
          }
          prunedBase.filter(col(keyCol).isin(lits: _*))
        case None =>
          // oversized sets: broadcast semi-join; optionally bracketed by a
          // pushable min/max range on the key (see `rangeBracket`).
          val typed = affected.select(col("_id").cast(dt).as(keyCol))
          val ranged =
            if (!rangeBracket) prunedBase
            else keyRange(dt).fold(prunedBase) { case (lo, hi) =>
              prunedBase.filter(col(keyCol).between(lit(lo), lit(hi)))
            }
          ranged.join(broadcast(typed), Seq(keyCol), "left_semi")
      }
    }

    // The root restriction is applied at the ROOT POSITION ONLY (via
    // rootScanFilter) — restricting every load of root.table would also
    // filter self-referencing child scans of the same table and drop their
    // rows. Root-keyed child tables are restricted via load: their filter is
    // correct at every tree position by construction (rootKeyedChildCols
    // only admits tables whose every chain is the same root-keyed hop).
    // Composite-PK roots take the partition filter (hash-bucket layouts
    // accept composite keys) plus the `_id`-concat semi-join.
    val rootRestrict: DataFrame => DataFrame = base =>
      if (rootPks.size == 1) restrict(base, rootPks.head, root.table)
      else {
        val pruned = prune
          .get(root.table)
          .fold(base)(pp => partFilter(base, pp, affectedPartVals(root.table, pp)))
        pruned.join(broadcast(affected), rootIdExpr === col("_id"), "left_semi")
      }

    // Pruned dims derive their touched partitions from the RESTRICTED root
    // rows' FK values — the root partition filter above bounds this probe to
    // the touched root directories, so it is one batch-sized job per batch.
    // full-schema restrict (the root partition filter needs the directory
    // column); Catalyst prunes the read down to pk+fk via the projection in
    // dimPartVals
    lazy val dimKeySource: DataFrame = rootRestrict(load(root.table))
    def dimPartVals(t: String, pp: IncrementalEngine.PartitionPrune, rootFk: String): Option[Seq[Long]] =
      partValsMemo.getOrElseUpdate(
        t, {
          val vals = dimKeySource
            .select(pp.partValue(Seq(col(rootFk))).as("__p"))
            .filter(col("__p").isNotNull)
            .distinct()
            .limit(PartitionLiteralCap + 1)
            .collect()
            .map(_.getLong(0))
            .toSeq
          if (vals.size > PartitionLiteralCap) None else Some(vals)
        }
      )

    // Pruned many-to-many far sides derive their touched partitions from the
    // RESTRICTED through scan's far-FK values — the dim pattern one hop
    // further out. The through restriction (its own partition filter plus
    // the affected-id isin/semi-join) bounds the probe to the batch's
    // through rows, so this too is one batch-sized job per batch. At a
    // composite-PK root the row restriction would need a concat probe — the
    // partition filter alone still bounds the probe to the batch's buckets,
    // and any superset of the affected through rows keeps the far-side
    // derivation exact.
    val throughSourceMemo = scala.collection.mutable.Map.empty[String, DataFrame]
    def throughKeySource(through: String): DataFrame =
      throughSourceMemo.getOrElseUpdate(
        through,
        if (rootPks.size == 1)
          restrict(load(through), rootKeyedChildCols(through).head, through)
        else
          prune
            .get(through)
            .fold(load(through))(pp =>
              partFilter(load(through), pp, affectedPartVals(through, pp))
            )
      )
    def farPartVals(
        t: String,
        pp: IncrementalEngine.PartitionPrune,
        through: String,
        throughFarFk: String
    ): Option[Seq[Long]] =
      partValsMemo.getOrElseUpdate(
        t, {
          val vals = throughKeySource(through)
            .select(pp.partValue(Seq(col(throughFarFk))).as("__p"))
            .filter(col("__p").isNotNull)
            .distinct()
            .limit(PartitionLiteralCap + 1)
            .collect()
            .map(_.getLong(0))
            .toSeq
          if (vals.size > PartitionLiteralCap) None else Some(vals)
        }
      )

    val filteredLoad: String => DataFrame = t =>
      prune.get(t).flatMap(pp => rootDimCols.get(t).map((pp, _))) match {
        // pruned dim: partition filter only — row exactness is the LEFT
        // join's job; every FK value of a restricted root row keeps its dim
        // row by construction of the touched-partition set
        case Some((pp, (rootFk, _))) if t != root.table =>
          partFilter(load(t), pp, dimPartVals(t, pp, rootFk))
        // pruned many-to-many far side: partition filter only (same
        // exactness contract as dims, probed from the restricted through
        // scan instead of the root scan)
        case _ if t != root.table && prune.contains(t) && throughFarCols.contains(t) =>
          val pp = prune(t)
          val (through, throughFarFk, _) = throughFarCols(t)
          partFilter(load(t), pp, farPartVals(t, pp, through, throughFarFk))
        case _ =>
          rootKeyedChildCols.get(t) match {
            // t == root.table means a self-referencing child scan: the root
            // position is handled by rootScanFilter, and the child scan must
            // stay unfiltered (its rows belong to other roots' documents)
            case Some(fkCols) if t != root.table && rootPks.size == 1 && fkCols.size == 1 =>
              restrict(load(t), fkCols.head, t)
            // composite-keyed root-keyed child at a hash-bucket layout:
            // partition filter only — exactness is the assembler join's job
            // (a child row with an unaffected FK never meets a restricted
            // root row), and the affected ids' buckets keep every affected
            // FK's rows by construction
            case Some(_) if t != root.table && prune.contains(t) =>
              val pp = prune(t)
              partFilter(load(t), pp, affectedPartVals(t, pp))
            case _ => load(t)
          }
      }
    DocAssembler.assemble(root, filteredLoad, catalog, rootScanFilter = rootRestrict)
  }

  /** Re-assemble affected docs and emit ops: (`op` index|delete, `_id`,
    * `doc` JSON). `delete` ids are affected ids whose root row no longer
    * exists (covers root DELETE, PK-change old ids, TRUNCATE).
    */
  def process(changes: DataFrame, lineage: DataFrame): DataFrame = {
    lastAffectedCache.foreach(_.unpersist())
    val affected = affectedRoots(changes, lineage).cache()
    lastAffectedCache = Some(affected)
    val structured = reassemble(affected)
    val payload = structured.columns.filterNot(_ == DocAssembler.IdColumn).map(col).toIndexedSeq
    // cached: feeds both the index ops and the delete anti-join — without
    // this the whole re-assembly plan executes twice; previous batch's
    // cache released (same bounded-lifetime discipline as the batch cache)
    lastDocsCache.foreach(_.unpersist())
    val docs = structured.select(
      col(DocAssembler.IdColumn),
      to_json(struct(payload: _*)).as("doc")
    ).cache()
    lastDocsCache = Some(docs)
    val indexOps = docs.select(lit("index").as("op"), col("_id"), col("doc"))
    val deleteOps = affected
      .join(docs, Seq("_id"), "left_anti")
      .select(lit("delete").as("op"), col("_id"), lit(null).cast(StringType).as("doc"))
    indexOps.unionAll(deleteOps)
  }
}

object IncrementalEngine {

  /** Engine tuning bundle for the user-facing sync surfaces
    * ([[graft.GraftSync]] / [[graft.streaming.StreamSync]]): the same knobs
    * the engine constructor takes, so a deployment at a key-partitioned
    * layout gets affected-set partition pruning through the facade instead
    * of only through a hand-built engine.
    *
    * @param layoutRoot directory whose per-table `_graft_layout` sidecars
    *   ([[graft.sources.Layout]] writes) are auto-discovered into prune
    *   specs — the zero-wiring configuration: a deployment cannot prune a
    *   SUBSET of its tables by forgetting a hand-built spec. Explicit
    *   `partitionPrune` entries win over discovered ones.
    */
  final case class Tuning(
      inSetThreshold: Int = 1000,
      rangeBracket: Boolean = false,
      partitionPrune: Map[String, PartitionPrune] = Map.empty,
      layoutRoot: Option[String] = None,
      partitionIdCollectCap: Int = 65536
  )

  /** Partition layout of one payload table, for affected-set partition
    * pruning. Two concrete layouts — fixed-width key ranges
    * ([[graft.sources.Layout.keyPartitionedWrite]]) and hash buckets
    * ([[graft.sources.Layout.hashBucketedWrite]]) — rather than a generic
    * key→partition function, so the literal-id fast path can compute touched
    * partitions driver-side with no job.
    */
  sealed trait PartitionPrune {
    def partCol: String

    /** Partition value of the tree position's typed key column(s), in layout
      * key order — MUST match the write-side directory expression.
      */
    def partValue(keys: Seq[Column]): Column
  }

  object PartitionPrune {

    /** Back-compat constructor: a bare `(partCol, width)` spec is a
      * key-range layout.
      */
    def apply(partCol: String, width: Long): KeyRangePrune =
      KeyRangePrune(partCol, width)

    /** Prune spec for a sidecar-described layout. */
    def fromLayout(l: graft.sources.Layout.TableLayout): PartitionPrune = l match {
      case graft.sources.Layout.KeyRangeLayout(_, w, pc)   => KeyRangePrune(pc, w)
      case graft.sources.Layout.HashBucketLayout(_, n, pc) => HashBucketPrune(pc, n)
    }

    /** Key dtypes whose driver-side hash mirrors the Spark expression
      * exactly (the xxhash64 input width differs per type, so the set is
      * explicit rather than "anything castable").
      */
    def supportedHashKeyType(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
          org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.StringType =>
        true
      case _ => false
    }
  }

  /** Key-range partition layout: directory column `partCol = floor(key /
    * width)`. Single integral key; prefer it when churn is key-clustered
    * (adjacent keys share directories, so a clustered batch touches a
    * constant few).
    */
  final case class KeyRangePrune(partCol: String, width: Long) extends PartitionPrune {
    require(width > 0, "partition width must be positive")

    /** The partition value a key falls in — MUST match the write-side
      * expression in [[graft.sources.Layout.keyPartitionedWrite]].
      */
    def of(key: Column): Column =
      floor(key.cast(org.apache.spark.sql.types.LongType) / width)

    override def partValue(keys: Seq[Column]): Column = {
      require(keys.size == 1, "key-range layouts have a single key column")
      of(keys.head)
    }

    /** Driver-side twin of [[of]]: Spark's `/` on integral inputs is DOUBLE
      * division, so the exact mirror is floor of a double quotient — NOT
      * `Math.floorDiv`, which disagrees with the write expression for
      * |key| ≥ 2^53 and would derive a filter that misses the directory the
      * row was actually written to.
      */
    def ofLong(key: Long): Long =
      Math.floor(key.toDouble / width.toDouble).toLong
  }

  /** Hash-bucket partition layout: directory column `partCol =
    * pmod(xxhash64(key cols…), nBuckets)`. Prunes ANY key shape — uuid/text
    * keys (pgsync special-cases uuid filters, `querybuilder.py:81-98`) and
    * composite primary keys (`sync.py:885-896`) included — with the same
    * bounded driver derivation as key ranges: the driver-side mirror is
    * Spark's own interpreted `XxHash64Function` (the implementation the
    * codegen'd write expression is pinned against in Spark itself), so
    * driver- and write-side bucket values agree for every supported key.
    */
  final case class HashBucketPrune(partCol: String, nBuckets: Int) extends PartitionPrune {
    require(nBuckets > 0, "bucket count must be positive")

    override def partValue(keys: Seq[Column]): Column =
      pmod(xxhash64(keys: _*), lit(nBuckets.toLong))

    /** Driver-side twin of [[partValue]] over EXTERNAL row values (String /
      * boxed integrals, in layout key order; nulls skipped exactly like the
      * Spark expression skips null children). Seed 42 is
      * `functions.xxhash64`'s fixed seed.
      */
    def ofValues(
        vals: Seq[Any],
        dts: Seq[org.apache.spark.sql.types.DataType]
    ): Long = {
      var h = 42L
      vals.zip(dts).foreach { case (v, dt) =>
        if (v != null) {
          // normalize by the DECLARED dtype, never the runtime box: the hash
          // width is the dtype's (an Int hashes 4 bytes, a Long 8), and
          // Scala's weak-lub widening can hand a caller's Int over in a Long
          // box — trusting the box would silently hash the wrong width
          val cv: Any = dt match {
            case org.apache.spark.sql.types.StringType =>
              org.apache.spark.unsafe.types.UTF8String.fromString(v.asInstanceOf[String])
            case org.apache.spark.sql.types.LongType    => v.asInstanceOf[Number].longValue()
            case org.apache.spark.sql.types.IntegerType => v.asInstanceOf[Number].intValue()
            case org.apache.spark.sql.types.ShortType   => v.asInstanceOf[Number].shortValue()
            case other =>
              throw new IllegalArgumentException(s"unsupported hash key dtype $other")
          }
          h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(cv, dt, h)
        }
      }
      val m = h % nBuckets
      if (m < 0) m + nBuckets else m
    }

    /** Bucket of a root `_id` string: split on the id delimiter, parse each
      * part back to its root-PK dtype (the value the write side hashed —
      * hashing the STRING "42" and the LONG 42 differ), hash. `None` for ids
      * that cannot be parsed in this domain (wrong arity, unparseable part).
      * At non-string and single-key domains a `None` id matches no root row,
      * so deriving no partition for it is exact; at a COMPOSITE key with a
      * string component, a wrong-arity id may be a real key whose string
      * value contains the delimiter — the caller must fall back to the
      * unpruned scan, never drop the id (the engine's `affectedPartVals`
      * does exactly that).
      */
    def ofIdString(
        id: String,
        dts: Seq[org.apache.spark.sql.types.DataType],
        delimiter: String
    ): Option[Long] = {
      val parts =
        if (dts.size == 1) Array(id)
        else id.split(java.util.regex.Pattern.quote(delimiter), -1)
      if (parts.length != dts.size) None
      else
        try {
          val vals: Seq[Any] = parts.toSeq.zip(dts).map {
            case (s, org.apache.spark.sql.types.LongType)    => java.lang.Long.valueOf(s)
            case (s, org.apache.spark.sql.types.IntegerType) => java.lang.Integer.valueOf(s)
            case (s, org.apache.spark.sql.types.ShortType)   => java.lang.Short.valueOf(s)
            case (s, _)                                      => s
          }
          Some(ofValues(vals, dts))
        } catch { case _: NumberFormatException => None }
    }
  }
}
