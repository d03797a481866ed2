package graft

import graft.cdc.IncrementalEngine.PartitionPrune

/** The tier ceilings and partition-prune specs of every two-tier operator:
  * the one bundle [[GraftSync]], [[graft.streaming.StreamSync]],
  * [[graft.streaming.SyncPipeline]] (and through it every consumer),
  * [[graft.cdc.IncrementalEngine]], [[graft.streaming.ClusterStream]],
  * [[graft.dedup.ClusterMap]] and [[graft.dedup.Dedup.connectedComponents]]
  * take. Each tier choice is one [[graft.util.Tier.within]] probe against a
  * ceiling here; a ceiling of 0 forces the distributed tier without a job.
  *
  * @param inSetThreshold id count up to which a change batch's ids are a
  *   literal `isin` pushed into the source scans
  *   ([[graft.cdc.IncrementalEngine.reassemble]],
  *   [[graft.streaming.SyncPipeline.changeRows]], the cluster stream's
  *   candidate-text lookup) and a pipeline batch runs its consumers'
  *   driver-fused tier; larger sets take a broadcast semi-join. Small sets
  *   profit from row-group pruning at the scan; large literal lists cost
  *   more in plan construction and optimization than the pruning returns
  *   (measured: a 7 500-value `In` tripled the batch latency against the
  *   broadcast join).
  * @param collectCeiling row count up to which a batch-sized intermediate
  *   is collected once and resolved on the driver: the touched partitions
  *   of the engine's affected set (else one distinct job per prune spec),
  *   the cluster map's endpoint set and merge-pointer closure (else the
  *   distributed resolve and the pointer-doubling loop, two jobs per chain
  *   depth), and the connected-components pair set (else the min-label
  *   loop, two shuffles per propagation round). 65 536 ids or id pairs are
  *   about 0.5–1 MB on the driver. Micro-batch sets stay far below it,
  *   where job-scheduling latency, not data, was the measured cost (an
  *   11.5 s incremental-cluster query was mostly the pointer loop's
  *   jobs); corpus-scale sets take the distributed tier.
  * @param partitionPrune per-table partition layout specs
  *   ([[graft.sources.Layout.keyPartitionedWrite]] key ranges or
  *   [[graft.sources.Layout.hashBucketedWrite]] hash buckets — the latter
  *   covers uuid/text and composite keys): when a payload table is
  *   directory-partitioned by a key expression, reassembly derives the
  *   partition values the affected-key set touches and pushes them as a
  *   STATIC partition filter, so the payload re-read lists and scans ONLY
  *   the touched directories. This is the layout answer to the
  *   scan-bounded incremental floor: without it an oversized affected set
  *   re-reads the root/child/dim tables whole (scan-only but
  *   corpus-sized); with it the re-read is bounded by the batch's key
  *   spread, independent of corpus size. Supported table positions — the
  *   root, root-keyed children (partitioned by the FK, same key domain),
  *   single-hop one_to_one dims (partitioned by their PK; touched values
  *   derived from the pruned root rows' FK column), and many-to-many far
  *   sides behind a root-keyed through table (partitioned by the join
  *   key; touched values derived from the pruned THROUGH scan's far-FK
  *   column) — are validated at engine construction, along with a sampled
  *   layout-consistency check that the directory values really are the
  *   layout expression of the assumed key column(s).
  * @param layoutRoot directory whose per-table `_graft_layout` sidecars
  *   ([[graft.sources.Layout]] writes) are auto-discovered into prune
  *   specs (table = child directory name) — the zero-wiring
  *   configuration: a deployment cannot prune a SUBSET of its tables by
  *   forgetting a hand-built spec. Discovered specs are accepted only when
  *   the sidecar's key columns ARE the table's tree-position key and every
  *   construction-time constraint holds — a layout partitioned on a
  *   non-key column is silently left unpruned rather than failing the
  *   engine, because discovery is opportunistic; explicit
  *   `partitionPrune` entries stay strict AND win over discovered ones.
  */
final case class Tuning(
    inSetThreshold: Int = 1000,
    collectCeiling: Int = 65536,
    partitionPrune: Map[String, PartitionPrune] = Map.empty,
    layoutRoot: Option[String] = None
) {

  /** This tuning for a seed-shaped contraction (a cluster-map seed or
    * rebuild): the collect ceiling raised to [[Tuning.SeedCcPairs]],
    * unless a ceiling of 0 forces the distributed tier.
    */
  def seedScale: Tuning =
    if (collectCeiling <= 0) this else copy(collectCeiling = math.max(collectCeiling, Tuning.SeedCcPairs))
}

object Tuning {

  /** The seed-scale union-find ceiling ([[Tuning.seedScale]]). A
    * from-scratch seed or rebuild contracts a whole corpus' pair set at
    * once; the distributed min-label loop is round-latency-bound there —
    * each propagation round costs two fixed-latency shuffles regardless of
    * data, and a 10× corpus grows the pair set past the collect ceiling
    * while its components stay shallow (measured: seed merge/cc
    * 0.04 s → 2.34 s at 10×, the one superlinear seed stage). A million
    * (id_a, id_b) rows collect at about 50 MB: a deliberate one-per-seed
    * exception to the collect ceiling. At true corpus scale the pair set
    * outgrows this too, and the distributed loop is then data-bound, the
    * right tool there.
    */
  val SeedCcPairs: Int = 1 << 20

  /** Touched partition values of one pruned table pushed as a static
    * partition filter, at most. A batch touching more partitions than this
    * spans most of the corpus anyway, so the filter would prune little
    * while bloating the plan: the scan stays unpruned.
    */
  val PartitionLiteralCap: Int = 4096
}
