"""Cross-conversation entity canonicalization via connected components.

Not present in the reference (its linking is per-document,
``entity_fishing.py:70-110``); required by the north rule: coreferent
entities must merge *across* conversations. Graph: bipartite
alias-surface <-> kb-id edges from the link table; components computed
with iterative DataFrame min-label propagation PLUS pointer jumping
(label-through-label shortcutting — the same distance-doubling idea as
large-star/small-star), so convergence is O(log diameter): shallow
alias graphs converge in 2-4 rounds and even a pathological 10^3-link
chain needs ~11. Iterations are bounded, convergence is *measured*
(non-convergence raises — an unconverged label table is silently
wrong), not assumed.

A graph of at most ``local_threshold`` edges never enters that loop: one
bounded ``limit(n+1)`` collect reads it as Arrow, a driver union-find
labels it, and the labels go back to Spark as one Arrow table. That is
one action where the loop runs several jobs per iteration, and it is
the path the pipeline's alias graph takes.

Scale notes (the distributed loop): each iteration is one shuffle on
the node id; lineage is cut with an eager ``localCheckpoint`` EVERY
iteration. Anything laxer is catastrophic: ``comp_{i+1}`` references
``comp_i`` twice (once in the neighbor-min join, once in the update
join), so an uncheckpointed plan doubles in size per iteration — 3
deferred iterations re-execute the base plan 8x and each duplicated
join spawns its own broadcast-build job (measured: 67 s for a 10-node
graph with checkpoint-every-3 vs ~4 s with per-iteration checkpoints at
sf0.1/local[32]). Per-iteration materialization is O(V) rows — the same
discipline GraphFrames uses. A hub alias ("user" linked everywhere)
creates a giant star — harmless for min-propagation (depth 2); the
skew-sensitive part is the *join back*, handled by AQE skew join.
Demonstrated beyond toy size by ``tests/test_canonicalize_scale.py`` /
``tools/bench_cc_scale.py`` (10^6-edge hub graph).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    max_iterations: int = 25,
    stats: dict | None = None,
    shortcut: bool = True,
    local_threshold: int = 65536,
) -> DataFrame:
    """edges(src string, dst string) -> (node string, component string).

    Component id = lexicographic min node id in the component.
    Deterministic. Each iteration does (1) neighbor-min propagation and
    (2, when ``shortcut``) pointer jumping — re-mapping each node's
    label through the label table (``c(v) <- c(c(v))``), which doubles
    the propagated distance per round. Propagation alone is O(diameter)
    rounds (fine for shallow alias graphs, catastrophic for a 10^3-link
    chain); with shortcutting the bound is O(log diameter), so the
    default ``max_iterations=25`` covers diameters past 10^6 — the
    documented bound. A loop that exhausts ``max_iterations`` without
    converging returns WRONG labels, so it raises instead.

    Small-graph fast path: the edge list is collected once, as Arrow,
    with ``limit(local_threshold + 1).toArrow()``. When that returns at
    most ``local_threshold`` edges, the graph is union-found on the
    driver (same semantics: min label per component) and the labels go
    back as an Arrow table; no row is pickled either way. That collect
    is the path's only action; the distributed loop runs 5-6 tiny jobs
    PER ITERATION (two checkpoints, a convergence count, the join
    builds). A larger graph has paid one short-circuited scan of at
    most ``local_threshold + 1`` rows (a few MB, far under any sane
    ``maxResultSize``); only then is the edge list checkpointed for the
    loop. Pass ``local_threshold=0`` to force the distributed loop (the
    scale tests pin its iteration bounds and non-convergence error).

    When a ``stats`` dict is passed, ``stats["iterations"]`` records the
    number of rounds actually run (scale tests pin this against the
    graph diameter; the local path records 0 with ``mode="local"``).
    """
    edges = edges.select("src", "dst")
    if local_threshold:
        bounded = edges.limit(local_threshold + 1).toArrow()
        if bounded.num_rows <= local_threshold:
            return _connected_components_local(edges.sparkSession, bounded, stats)
    # materialize the edge list once — its lineage may contain the whole
    # upstream extraction pipeline, which must not be recomputed on
    # every iteration's join
    edges = edges.localCheckpoint(eager=True)
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    nodes = sym.select(F.col("src").alias("node")).distinct()
    comp = nodes.withColumn("component", F.col("node"))

    iterations_run = 0
    converged = False
    for _iteration in range(max_iterations):
        iterations_run += 1
        neighbor_min = (
            sym.join(comp, sym.src == comp.node)
            .groupBy(F.col("dst").alias("node2"))
            .agg(F.min("component").alias("neighbor_component"))
        )
        updated = comp.join(
            neighbor_min, comp.node == F.col("node2"), "left"
        ).select(
            "node",
            "component",
            F.least(
                F.col("component"),
                F.coalesce(F.col("neighbor_component"), F.col("component")),
            ).alias("new_component"),
        )
        # Eager checkpoint per step: cuts the comp-referenced-twice
        # plan doubling (see module docstring) and stores the blocks, so
        # the self-join below and the convergence scan are cheap local
        # reads, not recomputes. One extra no-op iteration runs past
        # convergence.
        updated = updated.localCheckpoint(eager=True)
        if shortcut:
            # pointer jumping: labels are node ids, so the label table
            # maps them too — c(v) <- min(c(v), c(c(v))) halves every
            # node's distance to its component's min each round
            label_of = updated.select(
                F.col("node").alias("label_node"),
                F.col("new_component").alias("label_comp"),
            )
            updated = updated.join(
                label_of,
                updated.new_component == label_of.label_node,
                "left",
            ).select(
                "node",
                "component",
                F.least(
                    F.col("new_component"),
                    F.coalesce(F.col("label_comp"), F.col("new_component")),
                ).alias("new_component"),
            )
            updated = updated.localCheckpoint(eager=True)
        changed = (
            updated.filter(F.col("new_component") != F.col("component"))
            .limit(1)
            .count()
        )
        comp = updated.select(
            "node", F.col("new_component").alias("component")
        )
        if changed == 0:
            converged = True
            break
    if stats is not None:
        stats["iterations"] = iterations_run
        stats["converged"] = converged
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            f"iterations; with shortcut={shortcut} that covers diameters "
            f"up to ~{'2**' + str(max_iterations) if shortcut else max_iterations}"
            f" — raise max_iterations (an unconverged label table is "
            f"silently wrong, so this is an error, not a warning)"
        )
    return comp


def _connected_components_local(
    spark: SparkSession, edges: pa.Table, stats: dict | None
) -> DataFrame:
    """Driver-side union-find over a small collected edge list —
    byte-identical output contract to the distributed loop: (node,
    component) with component = lexicographic min node id. Only
    reachable through ``connected_components``' bounded size probe."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for src, dst in zip(edges["src"].to_pylist(), edges["dst"].to_pylist()):
        for node in (src, dst):
            if node not in parent:
                parent[node] = node
        ra, rb = find(src), find(dst)
        if ra != rb:
            parent[ra] = rb
    component_min: dict[str, str] = {}
    for node in parent:
        root = find(node)
        cur = component_min.get(root)
        if cur is None or node < cur:
            component_min[root] = node
    nodes = sorted(parent)
    if stats is not None:
        stats["iterations"] = 0
        stats["converged"] = True
        stats["mode"] = "local"
    labels = pa.table(
        {
            "node": pa.array(nodes, pa.string()),
            "component": pa.array(
                [component_min[find(node)] for node in nodes], pa.string()
            ),
        }
    )
    return spark.createDataFrame(labels)


def canonicalize(link_table: DataFrame) -> DataFrame:
    """link table (ment_norm, ment_label, kb_id nullable) -> mapping
    (ment_norm, ment_label, canonical_id).

    Nodes: ``a:<type>:<norm>`` for surfaces, ``k:<kb_id>`` for KB ids.
    Surfaces sharing a KB id (directly or transitively through shared
    ids/aliases) get one canonical id; unlinked surfaces canonicalize to
    themselves.
    """
    surface_id = F.concat(F.lit("a:"), "ment_label", F.lit(":"), "ment_norm")
    edges = (
        link_table.filter(F.col("kb_id").isNotNull())
        .select(surface_id.alias("src"), F.concat(F.lit("k:"), "kb_id").alias("dst"))
        .distinct()
    )
    # only surfaces labelled with another node reach the join: a KB node
    # never matches a surface, and a surface that is its own component's
    # min is the coalesce below
    moved = connected_components(edges).filter(
        F.col("node").startswith("a:") & (F.col("node") != F.col("component"))
    )
    # one row per surface: ``moved`` has at most one row per node
    surfaces = link_table.select("ment_norm", "ment_label").distinct()
    return surfaces.join(moved, surface_id == moved.node, "left").select(
        "ment_norm",
        "ment_label",
        F.coalesce(F.col("component"), surface_id).alias("canonical_id"),
    )


def resolve_canonical_ids(
    triples: DataFrame, canonical_map: DataFrame
) -> DataFrame:
    """Resolve every triple's subject/object surface to its canonical
    node id (falling back to a deterministic per-surface id when the
    surface never linked) — the shared step under the node/edge
    materialization and any evidence-level aggregation (edge temporal
    extents, conflict audits) that needs resolved ids but not the
    deduplicated tables.
    """
    with_subj = triples.withColumn(
        "subj_norm", F.lower(F.col("subj_text"))
    ).withColumn("obj_norm", F.lower(F.col("obj_text")))
    return resolve_canonical_ids_normed(with_subj, canonical_map)


def resolve_canonical_ids_normed(
    normed: DataFrame, canonical_map: DataFrame
) -> DataFrame:
    """``resolve_canonical_ids`` over a table that already carries
    (subj_norm, subj_type, obj_norm, obj_type) — the shared core, also
    consumed directly by aggregate-before-resolve callers
    (``materialize_graph``) whose input rows are pre-collapsed tuples
    rather than raw triples."""
    # No broadcast hint: the canonical map is the full distinct surface
    # vocabulary — data-sized, a driver-OOM at 10^12 turns if forced to
    # broadcast. AQE picks broadcast when the map is actually small and
    # falls back to a (skew-handled) shuffle join when it isn't; for
    # co-located repeats, bucket both sides on the norm key upstream.
    # Both joins read the map under one unrenamed projection, so their
    # build sides are one plan and a broadcast is built once, then reused.
    id_map = canonical_map.select("ment_norm", "ment_label", "canonical_id")
    resolved = normed.alias("t")
    for side in ("subj", "obj"):
        norm, kind = F.col(f"t.{side}_norm"), F.col(f"t.{side}_type")
        resolved = (
            resolved.join(
                id_map.alias("m"),
                (norm == F.col("m.ment_norm")) & (kind == F.col("m.ment_label")),
                "left",
            )
            .select(
                "t.*",
                F.coalesce(
                    F.col("m.canonical_id"),
                    F.concat(F.lit("a:"), kind, F.lit(":"), norm),
                ).alias(f"{side}_id"),
            )
            .alias("t")
        )
    return resolved


def materialize_graph(
    triples: DataFrame, canonical_map: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Triples + canonical map -> deduplicated (nodes, edges) tables.

    nodes(canonical_id, label, surface_forms); edges(subj_id, pred,
    obj_id, n_evidence) — n_evidence aggregates duplicate assertions
    instead of dropping them silently.

    Aggregate-before-resolve (round-6): evidence rows are first counted
    on the surface-NORM key (subj_norm, subj_type, pred, obj_norm,
    obj_type) — a partial-aggregatable hash agg that collapses the
    evidence table to its distinct assertion tuples BEFORE anything is
    joined or shuffled wide. Rows with equal norm tuples always resolve
    to the same canonical ids (the map joins on exactly those keys), so
    resolving the collapsed table and summing the carried counts yields
    the identical edges/nodes tables while the resolve joins and the
    final aggregations see distinct-tuple cardinality instead of
    evidence cardinality (7.5M evidence rows -> a few hundred tuples on
    the bench corpus).
    """
    counts = (
        triples.groupBy(
            F.lower(F.col("subj_text")).alias("subj_norm"),
            "subj_type",
            "pred",
            F.lower(F.col("obj_text")).alias("obj_norm"),
            "obj_type",
        ).agg(F.count("*").alias("n_evidence"))
    )
    resolved = resolve_canonical_ids_normed(counts, canonical_map)
    edges = (
        resolved.groupBy("subj_id", "pred", "obj_id")
        .agg(F.sum("n_evidence").alias("n_evidence"))
    )
    # both endpoints of one resolved row, exploded rather than a union of
    # two scans: each scan would prune the other side's id from its map
    # join, and the two pruned build sides would be two broadcasts
    endpoints = F.explode(
        F.array(
            *(
                F.struct(
                    F.col(f"{side}_id").alias("canonical_id"),
                    F.col(f"{side}_type").alias("label"),
                    F.col(f"{side}_norm").alias("surface"),
                )
                for side in ("subj", "obj")
            )
        )
    )
    nodes = (
        resolved.select(endpoints.alias("node"))
        .select("node.*")
        .groupBy("canonical_id", "label")
        .agg(F.array_sort(F.collect_set("surface")).alias("surface_forms"))
    )
    return nodes, edges
