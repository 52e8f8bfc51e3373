"""Graph operators for corpus curation: connected components over
candidate-duplicate pairs.

The dedup family (operators/dedup.py) emits PAIRS (id_a, id_b, score); a
real pipeline needs CLUSTERS — "these 2,600 documents are all the same
boilerplate page" — so it can keep one canonical representative per
component and drop the rest. That is connected components over the pair
graph.

Scale design (pyspark_guide.md "iterative algorithms"): min-label
propagation expressed as DataFrame joins.  Each round is one
shuffle-join (labels ⋈ edges) + one partial-aggregated groupBy min —
both keyed on the node id, so AQE coalesces and the partitioning is
reused between rounds.  Rounds needed = graph diameter; near-duplicate
clusters are hub-shaped (a popular page and its copies), so diameter is
small (2-4) regardless of corpus size.  Each round materializes only
(node, label) pairs — never the text — and `localCheckpoint` truncates
the lineage so round N's plan does not replay rounds 1..N-1.  The
convergence probe is a driver-side limit(1)-count of CHANGED labels
(the previous label rides through the min-aggregate, so the compare is
exact for any orderable id type — including string doc ids), not a
collect of data rows.

Reference behavior note: the reference engine has no graph surface at
all (its dedup story ends at unique keys); this operator exists for the
100 TB training-data pipeline, same status as dedup/similarity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from cloudfabric_eventsourcing_spark import commit


#: target edge rows per partition for the slim (n, m) adjacency frame —
#: two ids per row, so 2M rows is ~50-100 MB (guide §2.2's partition
#: band).  The checkpointed adjacency inherits the pair build's
#: partition count, which at small inputs leaves dozens of near-empty
#: partitions whose per-task overhead dominates every loop round.
_EDGE_ROWS_PER_PARTITION = 2_000_000

#: broadcast the label frame into the propagation join while it has at
#: most this many rows (~16 bytes/row -> tens of MB, far under the 8 GB
#: / 512M-row broadcast cap).  Above it, the joins fall back to the
#: shuffle path — node counts are unbounded at 100 TB even when the
#: edge set fits.
_LABEL_BROADCAST_MAX_ROWS = 4_000_000


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components of the undirected graph given by `edges`.

    Returns (node, component) where `component` is the MINIMUM node id
    reachable from `node` — a deterministic canonical representative
    (the oracle-checkable convention: DuckDB's recursive transitive
    closure produces the same labels).

    Min-label propagation with pointer jumping: every node starts
    labeled with itself; each round a node adopts the smallest label
    among itself and its neighbors, then compresses by adopting its
    LABEL's label (label values are always member ids, so the label
    frame indexes itself).  The jump doubles label reach per round —
    O(log diameter) rounds instead of O(diameter) — and its self-join
    runs over the n-row label frame, not the edge frame, so it costs a
    sliver of the propagation join it halves.  Measured on the sf0.1
    verified-pair graph (965k edges / 2.9k nodes, chain-shaped dup
    families): 8 -> 5 rounds, 1.35x wall, identical labels.
    Convergence: a round with no propagation change implies per-
    component-uniform labels (any a~b with label(a)<label(b) would have
    changed b), and the min node always keeps its own id, so uniform =
    min; the jump is then also the identity, making the probe exact.
    """
    # undirected: each edge in both directions, slim columns. No
    # distinct(): duplicate adjacency rows cannot change a MIN aggregate,
    # so the dedup shuffle would be pure cost.
    fwd = edges.select(F.col(src).alias("n"), F.col(dst).alias("m"))
    rev = edges.select(F.col(dst).alias("n"), F.col(src).alias("m"))
    adj = fwd.unionByName(rev).localCheckpoint(eager=True)
    # right-size the checkpointed adjacency (r15: the inherited pair
    # partitioning left the 32-thread loop rounds scheduling dozens of
    # near-empty tasks per job — p13 ran 2.2x SLOWER at 32 cores than
    # at 8).  Derived from the edge count, never from the local core
    # count, so the same code right-sizes a 10^11-edge graph.
    n_adj = adj.count()
    want = max(1, min(adj.rdd.getNumPartitions(),
                      -(-n_adj // _EDGE_ROWS_PER_PARTITION)))
    if want < adj.rdd.getNumPartitions():
        adj = adj.coalesce(want).localCheckpoint(eager=True)

    labels = (
        adj.select("n")
        .distinct()
        .withColumn("component", F.col("n"))
        .localCheckpoint(eager=True)
    )
    # broadcast the (node, label) side of both loop joins while it is
    # provably small (guide §3.1; the count is one cheap job over the
    # checkpointed frame).  Labels never grow, so one decision holds
    # for every round; big graphs keep the shuffle path.
    bcast = labels.count() <= _LABEL_BROADCAST_MAX_ROWS

    # Convergence probe: each node's PREVIOUS label rides through the
    # same min-aggregate (tagged union + min-over-own-rows), so change
    # detection is an exact per-node compare on the new frame — works
    # for string/any orderable ids and costs no extra join or shuffle.
    # (A sum-of-labels probe would be cheaper still, but F.sum is NULL
    # on non-numeric ids — silently "converging" after one round — and
    # int64 wraparound is a remote false-converge risk.)
    for _ in range(max_iter):
        # label each node with the min over: its own label and every
        # neighbor's label.  One join + one combinable min.
        neighbor_labels = (
            adj.join(F.broadcast(labels) if bcast else labels, on="n")
            .select(F.col("m").alias("n"), "component")
            .withColumn("__own", F.lit(False))
        )
        merged = (
            labels.withColumn("__own", F.lit(True))
            .unionByName(neighbor_labels)
            .groupBy("n")
            .agg(
                F.min("component").alias("component"),
                F.min(
                    F.when(F.col("__own"), F.col("component"))
                ).alias("__prev"),
            )
        )
        # pointer jump: adopt the component's own component.  Inner
        # join is safe — every label value is a node id present in
        # `labels` (labels originate from node ids and only ever move
        # between member ids).  Planned ON TOP of `merged` and
        # checkpointed ONCE (r15: the former merged-then-jump pair of
        # checkpoints was a third driver-synchronous job per round;
        # the propagation exchange is reused between the probe and
        # build sides, so fusing costs no recompute).
        parent = merged.select(
            F.col("n").alias("component"), F.col("component").alias("__pc")
        )
        jumped = (
            merged.join(F.broadcast(parent) if bcast else parent, "component")
            .select(
                "n",
                F.col("__pc").alias("component"),
                F.col("component").alias("__mid"),
                "__prev",
            )
            .localCheckpoint(eager=True)
        )
        labels = jumped.select("n", "component")
        # limit(1) short-circuits: the driver learns "any change?" from
        # at most one row, not a full count (reads the checkpointed
        # `jumped`, so this probe re-runs no joins).  __mid is the
        # pre-jump label — the same compare the two-checkpoint form
        # probed on `merged`.
        changed = (
            jumped.where(F.col("__mid") != F.col("__prev"))
            .limit(1)
            .count()
        )
        if changed == 0:
            break
    return labels.select(F.col("n").alias("node"), "component")


def duplicate_clusters(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Cluster ids for near-duplicate PAIRS (e.g. minhash_lsh_pairs
    output): (doc_id, cluster_id), cluster_id = min doc id of the
    component.  Docs not in any pair are unique and intentionally
    absent — callers keep them as-is."""
    cc = connected_components(pairs, src=src, dst=dst)
    return cc.select(F.col("node").alias("doc_id"), F.col("component").alias("cluster_id"))


def incremental_components(
    labels: DataFrame,
    new_edges: DataFrame,
    node_col: str = "node",
    component_col: str = "component",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Merge NEW edges into existing component labels without
    recomputing the corpus: returns the full updated (node, component)
    frame, equal to ``connected_components(old_edges UNION new_edges)``
    whenever ``labels`` was correct for the old edges.

    The scale contract (what makes this the 100 TB shape): all graph
    work runs on the BATCH-sized side.  New edge endpoints map to their
    current components (absent nodes are their own component); edges
    whose endpoints already share a component vanish; what remains is a
    component-level merge graph bounded by the batch's edge count, on
    which the ordinary connected_components runs.  The resulting merge
    map (old component -> new component) is broadcast into one
    map-side relabel join over the corpus labels — the corpus is never
    shuffled, and only components actually touched by the batch change.

    Correctness sketch: component labels are min member ids, so the
    merge graph's min-label CC assigns every merged group the min over
    all its members' mins = the global min member id — exactly what a
    full recompute assigns.  A new node with a smaller id than an
    existing component's min relabels that whole component (the full
    recompute would too).
    """
    merge_map, new_rows = _merge_plan(
        labels, new_edges, node_col, component_col, src, dst
    )
    # batch-bounded by construction: safe to broadcast against a corpus-
    # sized labels frame (the relabel is then map-side, zero shuffle)
    updated = (
        labels.join(
            F.broadcast(merge_map),
            labels[component_col] == F.col("__old_c"),
            "left",
        )
        .select(
            F.col(node_col),
            F.coalesce("__new_c", F.col(component_col)).alias(component_col),
        )
    )
    return updated.unionByName(new_rows)


def _merge_plan(
    labels: DataFrame,
    new_edges: DataFrame,
    node_col: str,
    component_col: str,
    src: str,
    dst: str,
) -> tuple[DataFrame, DataFrame]:
    """Shared batch-sized half of the incremental merge: returns
    (merge_map: (__old_c, __new_c) for every touched component, and
    new_rows: (node, component) for endpoints absent from ``labels``,
    already resolved through the merge map).  Both frames are bounded
    by the batch's edge count, never the corpus."""
    lab_a = labels.select(
        F.col(node_col).alias("__a"), F.col(component_col).alias("__ca")
    )
    lab_b = labels.select(
        F.col(node_col).alias("__b"), F.col(component_col).alias("__cb")
    )
    mapped = (
        new_edges.select(F.col(src).alias("__a"), F.col(dst).alias("__b"))
        .join(lab_a, "__a", "left")
        .join(lab_b, "__b", "left")
        .select(
            "__a",
            "__b",
            F.coalesce("__ca", F.col("__a")).alias("__ea"),
            F.coalesce("__cb", F.col("__b")).alias("__eb"),
        )
        .localCheckpoint(eager=True)  # reused for merge graph AND new rows
    )
    comp_edges = (
        mapped.select("__ea", "__eb").where(F.col("__ea") != F.col("__eb"))
    )
    merge_map = connected_components(comp_edges, src="__ea", dst="__eb").select(
        F.col("node").alias("__old_c"), F.col("component").alias("__new_c")
    )
    endpoints = (
        mapped.select(F.col("__a").alias("__n"), F.col("__ea").alias("__c0"))
        .unionByName(
            mapped.select(F.col("__b").alias("__n"), F.col("__eb").alias("__c0"))
        )
        .dropDuplicates(["__n"])
    )
    new_rows = (
        endpoints.join(
            labels.select(F.col(node_col).alias("__n")), "__n", "left_anti"
        )
        .join(F.broadcast(merge_map), F.col("__c0") == F.col("__old_c"), "left")
        .select(
            F.col("__n").alias(node_col),
            F.coalesce("__new_c", F.col("__c0")).alias(component_col),
        )
    )
    return merge_map, new_rows


# ---------------------------------------------------------------------------
# Persisted cluster index (incremental duplicate-family maintenance)
#
# The persisted sibling of incremental_components, completing the index
# family (MinHash index, cosine-LSH index, IVF index -> cluster index):
# duplicate-family labels maintained ONLINE as pair batches arrive, with
# per-batch I/O proportional to the BATCH, never the corpus.
#
# Layout:
#   path/labels/   base (node, component) parquet — rewritten only by
#                  save and compact, never by appends
#   path/nodes/    appended per batch: rows for nodes first seen in that
#                  batch (labels as of that append)
#   path/remap/    appended per batch: (old_c, new_c) component merges
#
# Read path resolves labels by FOLDING the remap journal with the same
# connected_components operator (successive merges compose exactly like
# union-find: the transitive closure's min is the final label), then one
# broadcast relabel join — so a corpus-sized labels file is read once
# and never shuffled.  The journal is bounded by total merges since the
# last compaction; compact_cluster_index materializes resolved labels
# and clears it.
#
# Delivery contract: appends are at-least-once idempotent.  A replayed
# batch re-appends the same remap edges (duplicates cannot change a
# min-closure) and the same node rows (the read path keeps one row per
# node).  remap is written BEFORE nodes, so a crash between the two
# leaves only already-merged components visible; the batch retry
# restores the missing node rows.
# ---------------------------------------------------------------------------

def save_cluster_index(
    labels: DataFrame,
    path: str,
    node_col: str = "node",
    component_col: str = "component",
) -> None:
    """Initialize (or reset) the persisted cluster index from a full
    labels frame (e.g. connected_components of the initial corpus)."""
    labels.select(
        F.col(node_col).alias("node"), F.col(component_col).alias("component")
    ).write.mode("overwrite").parquet(f"{path}/labels")


def load_cluster_labels(spark, path: str) -> DataFrame:
    """Resolved (node, component) view: base + appended nodes, relabeled
    through the min-closure of the remap journal.

    Broadcast bound: the folded relabel map has at most one row per
    REMAP JOURNAL ENTRY, and each entry is one component merge — so its
    size is bounded by total merges since the last compaction, never by
    corpus size (a corpus can only merge components it has, and each
    merge retires one).  At ~16 B/row, even 10M accumulated merges
    broadcast in ~160 MB; compaction (compact_cluster_index) resets the
    journal to zero, and the measured default cadence is in PLANS.md
    (Round-8 journal-depth study)."""
    from pyspark.errors import AnalysisException

    # a compaction crash between its renames leaves labels/ missing, and
    # the next append's cold start would install an EMPTY base over a
    # real corpus
    commit.recover_swap_dir(spark, f"{path}/labels")
    base = spark.read.parquet(f"{path}/labels")
    try:
        nodes = spark.read.parquet(f"{path}/nodes")
        base = base.unionByName(nodes)
    except AnalysisException:
        pass  # no appends yet
    try:
        remap = spark.read.parquet(f"{path}/remap")
    except AnalysisException:
        return base.dropDuplicates(["node"])
    folded = connected_components(remap, src="old_c", dst="new_c").select(
        F.col("node").alias("__old_c"), F.col("component").alias("__final_c")
    )
    return (
        base.join(
            F.broadcast(folded), base["component"] == F.col("__old_c"), "left"
        )
        .select(
            "node",
            F.coalesce("__final_c", F.col("component")).alias("component"),
        )
        .dropDuplicates(["node"])
    )


def append_cluster_pairs(
    spark,
    path: str,
    new_edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> dict:
    """Fold one batch of new duplicate pairs into the index.  Writes
    ONLY batch-sized files (merges + first-seen nodes); the base labels
    are untouched.  Returns {"merges": n, "new_nodes": n}.  A missing
    index cold-starts: an empty base (typed from the edges' id column)
    is written first, so a curation stream needs no separate init."""
    from pyspark.errors import AnalysisException
    from pyspark.sql import types as T

    try:
        labels = load_cluster_labels(spark, path)
    except AnalysisException:
        idt = new_edges.schema[src].dataType
        empty = spark.createDataFrame(
            [],
            T.StructType(
                [T.StructField("node", idt), T.StructField("component", idt)]
            ),
        )
        empty.write.mode("overwrite").parquet(f"{path}/labels")
        labels = empty
    merge_map, new_rows = _merge_plan(
        labels, new_edges, "node", "component", src, dst
    )
    real_merges = (
        merge_map.where(F.col("__old_c") != F.col("__new_c"))
        .select(
            F.col("__old_c").alias("old_c"), F.col("__new_c").alias("new_c")
        )
        .localCheckpoint(eager=True)
    )
    new_rows = new_rows.localCheckpoint(eager=True)
    n_merges = real_merges.count()
    n_new = new_rows.count()
    # remap BEFORE nodes (see delivery contract above)
    if n_merges:
        real_merges.write.mode("append").parquet(f"{path}/remap")
    if n_new:
        new_rows.write.mode("append").parquet(f"{path}/nodes")
    return {"merges": n_merges, "new_nodes": n_new}


def compact_cluster_index(spark, path: str) -> None:
    """Materialize the resolved labels as the new base and clear the
    journal.  Crash-safe by construction: resolved labels replace labels/
    through `commit.swap_dir` (never an empty/partial base — a crash
    between its renames is repaired by the next load_cluster_labels);
    re-applying a not-yet-deleted journal to already-resolved labels is
    the identity (the old component ids no longer appear), and leftover
    node rows duplicate resolved rows, which the read path drops.
    Concurrency: run from the ingest loop's serialization point (e.g.
    between curate_stream batches — foreachBatch serializes), not
    concurrently with an append: an append landing between the resolve
    and the journal clear would be erased with it."""
    # eager checkpoint materializes BEFORE the files it reads are moved;
    # load_cluster_labels ran recover_swap_dir, as swap_dir requires
    resolved = load_cluster_labels(spark, path).localCheckpoint(eager=True)
    commit.swap_dir(spark, f"{path}/labels", resolved)
    P, fs = commit.hadoop_fs(spark, path)
    # nodes BEFORE remap: a leftover node row still resolves through the
    # journal to the same final label as its resolved base duplicate,
    # whereas the reverse order could leave a stale node row with no
    # journal to resolve it (dropDuplicates might then keep the stale
    # label) — every crash point in this order is idempotent
    for sub in ("nodes", "remap"):
        sub_path = P(f"{path}/{sub}")
        if fs.exists(sub_path):
            fs.delete(sub_path, True)
