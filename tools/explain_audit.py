"""Plan audit: verify that the physical plans have the properties the
engine is designed around — parquet filter pushdown + column pruning,
broadcast joins for dims, partial (map-side) aggregation, and no
unexpected shuffles in the extraction chain.

Usage: python tools/explain_audit.py [sf_dir]
Prints one PASS/FAIL line per assertion plus the offending plan on FAIL.
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# CoNLL-2003 layout: word POS chunk IOB1-NER, blank line between sentences
CONLL_SAMPLE = """-DOCSTART- -X- -X- O

EU NNP I-NP I-ORG
rejects VBZ I-VP O
German JJ I-NP I-MISC
call NN I-NP O
. . O O

Peter NNP I-NP I-PER
Blackburn NNP I-NP I-PER

BRUSSELS NNP I-NP I-LOC
1996-08-22 CD I-NP O
"""


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark.sql import functions as F

    from sherlock_spark.session import get_spark
    from sherlock_spark.queries import (
        q_kg_triples,
        q_rel_pricing_summary,
        q_rel_region_revenue,
        _transcripts,
    )
    from sherlock_spark.operators.ner import annotate_mentions
    from sherlock_spark.operators.rc import extract_triples
    from sherlock_spark.model_stub import DEFAULT_NER_LEXICON, DEFAULT_RC_LABELS

    spark = get_spark("explain_audit", cores=8)
    failures = []

    def check(name: str, ok: bool, plan: str) -> None:
        print(f"{'PASS' if ok else 'FAIL'} {name}")
        if not ok:
            failures.append(name)
            print(plan[:4000])

    # 1. filter pushdown + column pruning reach the lineitem scan
    plan = plan_of(q_rel_pricing_summary(spark, sf_dir))
    check(
        "pricing_summary: parquet PushedFilters on l_shipdate",
        re.search(r"PushedFilters: \[.*l_shipdate", plan) is not None,
        plan,
    )
    check(
        "pricing_summary: ReadSchema prunes to used columns (no l_orderkey)",
        "l_orderkey" not in re.search(r"ReadSchema: [^\n]*", plan).group(0),
        plan,
    )
    check(
        "pricing_summary: partial aggregation (map-side combine)",
        "partial_" in plan or "HashAggregate" in plan,
        plan,
    )

    # 2. dimension joins broadcast
    plan = plan_of(q_rel_region_revenue(spark, sf_dir))
    check(
        "region_revenue: nation/region joined via BroadcastHashJoin",
        plan.count("BroadcastHashJoin") >= 2,
        plan,
    )

    # 3. extraction chain (round-6 inference-cache shape): the NER
    #    stage is materialized once (checkpointed turns -> ExistingRDD
    #    scans), the model UDF runs over the DISTINCT model keys only
    #    (partial map-side dedup -> hash exchange on the four keys),
    #    and predictions broadcast-join back onto the narrow pair
    #    explode — the quadratic pair table itself is never shuffled.
    plan = plan_of(q_kg_triples(spark, sf_dir))
    n_arrow = plan.count("ArrowEvalPython")
    check(
        f"kg_triples: model UDF evaluates the distinct-key side only — "
        f"exactly one ArrowEvalPython in the query plan (got {n_arrow}; "
        f"the NER stage ran once at checkpoint construction)",
        n_arrow == 1,
        plan,
    )
    check(
        "kg_triples: distinct model keys via partial aggregation + hash "
        "exchange on the four model keys",
        re.search(
            r"Exchange hashpartitioning\([^\n]*subj_type[^\n]*obj_type", plan
        )
        is not None,
        plan,
    )
    check(
        "kg_triples: predictions join back as a broadcast (the pair "
        "explode side is never shuffled)",
        "BroadcastHashJoin" in plan
        and "RoundRobinPartitioning" not in plan,
        plan,
    )
    check(
        "kg_triples: pair probe reads the checkpointed NER output "
        "(ExistingRDD scan under the explode)",
        "ExistingRDD" in plan and "Generate explode" in plan,
        plan,
    )
    check(
        "kg_triples: no row-at-a-time Python (BatchEvalPython)",
        "BatchEvalPython" not in plan,
        plan,
    )

    # 4. no-max-length path must not invoke the prefix UDF at all
    annotated = annotate_mentions(
        spark, _transcripts(spark, sf_dir), DEFAULT_NER_LEXICON
    )
    plan = plan_of(
        extract_triples(
            spark, annotated, DEFAULT_RC_LABELS, None,
            entity_handling="mark_entity", max_length=None,
        )
    )
    n_arrow = plan.count("ArrowEvalPython")
    check(
        f"extract(max_length=None): exactly 2 Arrow UDF evals — fused "
        f"NER+span-decode, model (got {n_arrow})",
        n_arrow == 2,
        plan,
    )

    # 5. stage-registry reuse: a REPEAT construction of the canonical-
    #    edge query must read checkpointed stage output — no Python UDF
    #    stage anywhere in its plan (the model/CC work ran once, at
    #    first construction). This pins the structural fix for round-2's
    #    per-invocation re-execution, independent of wall-clock.
    from sherlock_spark.queries import q_kg_canonical_edges

    q_kg_canonical_edges(spark, sf_dir).count()  # materialize stages
    plan = plan_of(q_kg_canonical_edges(spark, sf_dir))
    check(
        "kg_canonical_edges (repeat construction): no Python UDF stages "
        "— reads checkpointed stages",
        "ArrowEvalPython" not in plan
        and "BatchEvalPython" not in plan
        and "ExistingRDD" in plan,
        plan,
    )

    # 6. per-pair path (the kg_triples_dedup_inputs gate runs with the
    #    inference cache off, against kg_triples' oracle): the model is
    #    fed through the one round-robin exchange, with no distinct-key
    #    hash exchange — check 3 pins the cached shape on kg_triples
    from sherlock_spark.queries import q_kg_triples_dedup_inputs

    plan = plan_of(q_kg_triples_dedup_inputs(spark, sf_dir))
    check(
        "kg_triples_dedup_inputs: per-pair model exchange, no hash "
        "exchange on the model keys",
        "RoundRobinPartitioning" in plan
        and re.search(r"hashpartitioning\([^\n]*subj_type[^\n]*obj_type", plan)
        is None,
        plan,
    )
    check(
        "kg_triples_dedup_inputs: no row-at-a-time Python",
        "BatchEvalPython" not in plan,
        plan,
    )

    # 7. CoNLL reader scale shape: the sentence-grouping window is
    #    partitioned per input file — no single-partition global sort —
    #    and the IOB1 decode is Arrow-batched, not row-at-a-time Python.
    #    Both are plan shape, so a few written sentences stand in for a
    #    CoNLL-2003 corpus.
    from sherlock_spark.sources.conll import read_conll2003

    with tempfile.TemporaryDirectory(prefix="explain_audit_conll_") as conll_dir:
        with open(os.path.join(conll_dir, "conll.txt"), "w") as handle:
            handle.write(CONLL_SAMPLE)
        plan = plan_of(read_conll2003(spark, conll_dir))
    check(
        "conll reader: no single-partition Exchange (per-file window)",
        "Exchange SinglePartition" not in plan,
        plan,
    )
    check(
        "conll reader: IOB1 decode is Arrow-batched (no BatchEvalPython)",
        "BatchEvalPython" not in plan,
        plan,
    )

    # 8. round-4 additions: graph analytics + text pipeline stay JVM-side
    #    with scale-safe shapes
    from sherlock_spark.queries import (
        q_kg_degree,
        q_pipeline_clean_corpus,
        q_text_tfidf_topk,
    )

    # degree_stats operator shape in isolation (q_kg_degree's full plan
    # also contains materialize_graph's canonical-resolve joins upstream
    # — correct, but not what this check pins): unpivot = Union, ONE
    # aggregation boundary, no self-join
    from sherlock_spark.functions.graph import degree_stats

    edges_df = spark.createDataFrame(
        [("a", "p", "b", 1)],
        "subj_id string, pred string, obj_id string, n_evidence long",
    )
    plan = plan_of(degree_stats(edges_df))
    check(
        "degree_stats: unpivot + aggregate, no join",
        "Join" not in plan and "Union" in plan,
        plan,
    )
    check(
        "degree_stats: map-side partial aggregation",
        plan.count("HashAggregate") >= 2,
        plan,
    )
    plan = plan_of(q_kg_degree(spark, sf_dir))
    check(
        "kg_degree: no Python stages (JVM aggregation over staged edges)",
        "BatchEvalPython" not in plan,
        plan,
    )

    plan = plan_of(q_text_tfidf_topk(spark, sf_dir))
    check(
        "tfidf: window partitioned per document (never global)",
        re.search(r"windowspecdefinition\(doc_id", plan) is not None,
        plan,
    )
    check(
        "tfidf: top-k pushed to partial WindowGroupLimit (map-side)",
        re.search(r"WindowGroupLimit .*Partial", plan) is not None,
        plan,
    )
    check(
        "tfidf: only the scalar corpus-count exchanges to one partition",
        plan.count("Exchange SinglePartition") <= 1,
        plan,
    )
    check(
        "tfidf: all-JVM (no Python rows, no BatchEvalPython)",
        "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan,
        plan,
    )

    plan = plan_of(q_pipeline_clean_corpus(spark, sf_dir))
    check(
        "clean_corpus: no row-at-a-time Python in the composition",
        "BatchEvalPython" not in plan,
        plan,
    )

    # 9. round-4b additions: decontamination broadcast shape,
    #    sampling's shuffle-free map-side plan, as-of join sweep shape
    from sherlock_spark.queries import (
        q_rel_events_asof,
        q_text_decontaminate,
        q_text_sample_stratified,
    )

    plan = plan_of(q_text_decontaminate(spark, sf_dir))
    check(
        "decontaminate: benchmark shingles broadcast (semi-join, never "
        "a shuffled corpus join)",
        re.search(r"BroadcastHashJoin [^\n]*LeftSemi", plan) is not None,
        plan,
    )
    plan = plan_of(q_text_sample_stratified(spark, sf_dir))
    check(
        "stratified_sample: pure map-side (no Exchange, no Python)",
        "Exchange" not in plan
        and "BatchEvalPython" not in plan
        and "ArrowEvalPython" not in plan,
        plan,
    )
    check(
        "stratified_sample: md5 filter pushed into the scan's data "
        "filters (scan-level row skip)",
        "Filter" in plan,
        plan,
    )
    plan = plan_of(q_rel_events_asof(spark, sf_dir))
    check(
        "asof: union-and-sweep — no join operator anywhere in the plan",
        "Join" not in plan,
        plan,
    )
    check(
        "asof: one window over the key (the single sweep pass)",
        plan.count("Window") == 1
        and re.search(r"windowspecdefinition\(_k", plan) is not None,
        plan,
    )

    # 10. round-4c additions: interval join is a hash equi-join (the
    #     whole point of the bucket decomposition — Spark would otherwise
    #     plan the containment predicate as a broadcast nested loop),
    #     and the k-core peel stays join-bounded (semi-joins per round).
    from sherlock_spark.queries import q_rel_events_in_sessions

    plan = plan_of(q_rel_events_in_sessions(spark, sf_dir))
    check(
        "events_in_sessions: containment via hash equi-join on "
        "(key, bucket) — no nested loop, no cartesian product",
        ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
         or "BroadcastHashJoin" in plan)
        and "BroadcastNestedLoopJoin" not in plan
        and "CartesianProduct" not in plan,
        plan,
    )
    check(
        "events_in_sessions: all-JVM (no Python stages)",
        "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan,
        plan,
    )

    # 11. round-4d additions: repetition stats, packing, quantiles,
    #     label outliers, KG conflicts / edge spans
    from sherlock_spark.queries import (
        q_emb_label_outliers,
        q_kg_conflicts,
        q_kg_edge_spans,
        q_text_length_quantiles,
        q_text_pack_chunks,
        q_text_repetition,
    )

    plan = plan_of(q_text_repetition(spark, sf_dir))
    check(
        "text_repetition: all-JVM n-gram counting (no Python stages)",
        "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan,
        plan,
    )
    check(
        "text_repetition: top-gram window partitioned per document",
        re.search(r"windowspecdefinition\(doc_id", plan) is not None
        and "Exchange SinglePartition" not in plan,
        plan,
    )

    plan = plan_of(q_text_pack_chunks(spark, sf_dir))
    n_exchange = len(re.findall(r"Exchange ", plan))
    check(
        f"pack_chunks: exactly one exchange — the bucket window's hash "
        f"partitioning (got {n_exchange})",
        n_exchange == 1 and "hashpartitioning(bucket" in plan,
        plan,
    )
    check(
        "pack_chunks: all-JVM prefix-sum arithmetic",
        "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan,
        plan,
    )

    plan = plan_of(q_text_length_quantiles(spark, sf_dir))
    check(
        "length_quantiles: partial (map-side) percentile aggregation",
        "partial_percentile" in plan,
        plan,
    )

    plan = plan_of(q_emb_label_outliers(spark, sf_dir))
    check(
        "emb_label_outliers: centroid table broadcast into the join "
        "back (never a shuffled join on the exploded components)",
        "BroadcastHashJoin" in plan,
        plan,
    )
    check(
        "emb_label_outliers: bottom-k window partitioned per label",
        re.search(r"windowspecdefinition\(label", plan) is not None,
        plan,
    )

    # constructed after the canonical-edges materialization above, so
    # both must read checkpointed stages — no model UDF re-run
    plan = plan_of(q_kg_conflicts(spark, sf_dir))
    check(
        "kg_conflicts: one aggregation pass — no window, no Python, "
        "reads checkpointed stages",
        "Window" not in plan
        and "BatchEvalPython" not in plan
        and "ArrowEvalPython" not in plan,
        plan,
    )
    plan = plan_of(q_kg_edge_spans(spark, sf_dir))
    check(
        "kg_edge_spans: reads checkpointed stages (no Python UDF stages)",
        "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan,
        plan,
    )
    from sherlock_spark.queries import q_kg_type_matrix

    plan = plan_of(q_kg_type_matrix(spark, sf_dir))
    check(
        "kg_type_matrix: one aggregation over checkpointed stages "
        "(no window, no Python)",
        "Window" not in plan
        and "BatchEvalPython" not in plan
        and "ArrowEvalPython" not in plan,
        plan,
    )
    from sherlock_spark.queries import q_kg_conv_stats

    plan = plan_of(q_kg_conv_stats(spark, sf_dir))
    check(
        "kg_conv_stats: aggregations + conv_id join over checkpointed "
        "stages (no Python)",
        "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan,
        plan,
    )
    from sherlock_spark.queries import q_text_vocab_topk

    plan = plan_of(q_text_vocab_topk(spark, sf_dir))
    check(
        "vocab_topk: global top-k via TakeOrderedAndProject — never a "
        "full sort of the vocabulary",
        "TakeOrderedAndProject" in plan and "Sort " not in plan,
        plan,
    )

    # 12. round-4e additions: every pairing/funnel stays on equi-joins,
    #     the prefix filter's rank window is per-document
    from sherlock_spark.queries import (
        q_dedup_prefix_filter,
        q_kg_cooccurrence_pmi,
        q_rel_events_funnel,
    )

    # the scalar corpus-count cross join (one broadcast row, same shape
    # as TF-IDF's N) is the only nested-loop allowed anywhere
    for qname, qfn, scalar_joins in (
        ("events_funnel", q_rel_events_funnel, 0),
        ("cooccurrence_pmi", q_kg_cooccurrence_pmi, 1),
        ("prefix_filter", q_dedup_prefix_filter, 0),
    ):
        plan = plan_of(qfn(spark, sf_dir))
        check(
            f"{qname}: equi-joins only (nested loops: "
            f"{scalar_joins} single-row scalar broadcast allowed), "
            "no cartesian product, no Python",
            "CartesianProduct" not in plan
            and plan.count("BroadcastNestedLoopJoin") <= scalar_joins
            and "BatchEvalPython" not in plan,
            plan,
        )
    plan = plan_of(q_dedup_prefix_filter(spark, sf_dir))
    check(
        "prefix_filter: rarity-rank window partitioned per document",
        re.search(r"windowspecdefinition\(doc_id", plan) is not None,
        plan,
    )

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
