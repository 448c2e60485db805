"""Mention-pair enumeration + binary relation classification stage.

Reference semantics: pair enumeration ``binary_rc.py:290-325`` (gold
relations win, else ordered permutations within a sentence), feature
conversion ``binary_rc.py:378-493`` (entity marking + subword
tokenization + cutoff detection), model decode
``transformers_binary_rc.py:42-49`` (argmax, drop ``no_relation``), and
the guid join-back ``transformers_binary_rc.py:59-69`` — which is a
no-op here because pairs never leave their source row's partition.

Spark shape, one path for all four entity-handling strategies. Pair
enumeration explodes tiny row-local (h, t) index structs (quadratic-
per-turn blowup bounded by ``max_mentions`` with the overflow
*counted*, never silently dropped — SURVEY.md §4); per-pair fields are
O(1) lookups into once-per-turn ``ments``/``ment_texts`` arrays.
Feature-conversion bookkeeping (entity-cutoff and truncation flags) is
prefix-sum arithmetic over per-turn subword piece counts (the
marking_fast.py closed forms) and runs JVM-side as column expressions.
The piece counts come from one per-turn pandas UDF: per word, plus per
mention label for the strategies that insert ``[HEAD=T]``/``[TAIL=T]``
masks. The per-pair Arrow transfer carries only four scalar strings.
One round-robin exchange over turns, one task per core, sits between
the per-turn work and pair construction + the model stage (spreads the
turns and keeps one Python stage per task pipeline); on the per-pair
path it is the extraction's only exchange. Every RC model call — here
and in the pretrained and AllenNLP seams of ``features.py`` — runs
through ``rc_model_udf``: one iterator pandas UDF body over the
per-worker model seam (``executor.executor_model``), with one forward
per distinct model key in each Arrow batch (perfbench dense_pairs: 576
distinct keys among 235,290 model rows).
"""

from __future__ import annotations

import json
from functools import lru_cache, partial
from typing import Callable, Iterator, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sherlock_spark.executor import executor_model
from sherlock_spark.model_stub import StubRcModel
from sherlock_spark.text.bert_like import BertLikeTokenizer
from sherlock_spark.text.marking import ENTITY_HANDLING_STRATEGIES
from sherlock_spark.text.marking_fast import piece_prefix_sums
from sherlock_spark.udfcache import config_hash, memoized_udf

# the model UDF input, in forward_pairs order
MODEL_KEYS = ["subj_type", "obj_type", "subj_text", "obj_text"]

MODEL_RESULT_TYPE = T.StructType(
    [
        T.StructField("label", T.StringType()),
        T.StructField("logits", T.MapType(T.StringType(), T.DoubleType())),
        T.StructField("model_loads", T.IntegerType()),
    ]
)

# largest ``max_mentions`` whose pair-index literal is built (see
# pair_index_array)
MAX_MENTIONS_CEILING = 32

def pair_index_array(max_mentions: int):
    """Constant ordered-pair index table: element ``m+1`` (1-based) is
    the array of ``(h, t)`` index structs for a turn with ``m`` capped
    mentions — ``[(0,1),(0,2),..,(1,0),..]``, every ordered pair with
    ``h != t``, in the same nested-loop order the old higher-order
    construction produced.

    Why a literal: the previous shape built the pair array per row with
    ``transform``/``filter``/``flatten`` — higher-order functions are
    CodegenFallback in Spark, so every row paid an interpreted
    expression walk (measured at sf1: 15.2 s first evaluation while C2
    warmed the interpreter, ~0.45 s steady vs ~0.12 s for this lookup).
    ``max_mentions`` is a plan-time constant, so the whole table
    (sum of m²-m entries, 1,360 structs at the default 16) constant-
    folds into ONE Literal and the per-row work collapses to an O(1)
    ``element_at``.

    Handed over as ONE JSON string under ``from_json``, which the
    optimizer folds to that Literal: two expression nodes to analyze.
    Nested ``F.lit``/``F.struct``/``F.array`` Columns cost ~4,000 py4j
    round trips (6-9 s per query build), and the same table as SQL text
    is ~7,000 nodes that every analysis walks until folded (0.2 s per
    ``extract_triples`` build warm, 0.9 s cold). ``from_json`` reads
    the fields back nullable: ``head_idx``/``tail_idx`` are nullable.

    The table holds (M+1)·M·(M-1)/3 structs: 1,360 at 16, 10,912 at
    ``MAX_MENTIONS_CEILING`` = 32, 87,360 at 64. A cap above the
    ceiling raises ``ValueError`` before any literal is built.
    """
    if max_mentions > MAX_MENTIONS_CEILING:
        raise ValueError(
            f"max_mentions={max_mentions} is above the ceiling "
            f"MAX_MENTIONS_CEILING={MAX_MENTIONS_CEILING}: the pair-index "
            f"literal grows as max_mentions**3."
        )
    return F.from_json(
        F.lit(_pair_index_json(max_mentions)), "array<array<struct<h:int,t:int>>>"
    )


@lru_cache(maxsize=None)
def _pair_index_json(max_mentions: int) -> str:
    tables = [
        [{"h": h, "t": t} for h in range(m) for t in range(m) if h != t]
        for m in range(max_mentions + 1)
    ]
    return json.dumps(tables, separators=(",", ":"))


def _pair_slots(max_mentions: int) -> tuple[Column, Column, Column]:
    """(ments_overflow, capped mention count, pair-index array) for the
    row's ``ments``: the slot of the constant pair-index table for the
    turn's capped mention count. A NULL ``ments`` counts as no mentions
    — zero pairs, no overflow (``least`` alone skips the NULL and would
    pick the full ``max_mentions`` slot)."""
    n = F.greatest(F.size("ments"), F.lit(0))
    capped = F.least(n, F.lit(max_mentions))
    pairs = F.element_at(pair_index_array(max_mentions), capped + 1)
    return n > F.lit(max_mentions), capped, pairs


def enumerate_pairs(annotated: DataFrame, max_mentions: int = 16) -> DataFrame:
    """Ordered mention pairs within each turn (one turn = one sentence,
    mirroring the sentence-restricted search space, binary_rc.py:307-313).

    Row-local: one ``element_at`` into the constant pair-index table
    (``pair_index_array``) and one ``explode`` — Catalyst keeps this in
    the same stage as the upstream scan, no shuffle. Turns with more
    than ``max_mentions`` mentions contribute pairs only over the first
    ``max_mentions`` (array order = position = mention identity) and
    are flagged in ``ments_overflow`` for the metrics sink.
    """
    overflow, _, pairs = _pair_slots(max_mentions)
    return (
        annotated.withColumn("ments_overflow", overflow)
        .withColumn("pair", F.explode(pairs))
        .withColumn("head_idx", F.col("pair.h"))
        .withColumn("tail_idx", F.col("pair.t"))
        .drop("pair")
    )


def rc_model_udf(
    spark: SparkSession,
    model_key: str,
    load: Callable[[], object],
    add_logits: bool = False,
):
    """The RC model forward as an iterator pandas UDF:
    (subj_type, obj_type, subj_text, obj_text) ->
    struct<label, logits, model_loads>.

    ``load()`` runs on the worker the first time ``model_key`` is used
    there (see ``executor_model``) and returns any object with
    ``labels`` and ``forward_pairs(pairs) -> ndarray[n, n_labels]``: the
    stub from its config, a SparkFiles bundle, an AllenNLP archive.
    Decode = argmax over the vocabulary, exactly the reference
    (``transformers_binary_rc.py:42-46``); ``add_logits`` attaches the
    named score map. ``model_loads`` is the worker's load count for the
    key (1 after warmup, whatever the task count). Feature bookkeeping
    lives JVM-side (native_marking_flags), so the Arrow transfer is four
    flat strings per pair. Each Arrow batch runs one forward over its
    DISTINCT keys (NULLs included) and maps the results back to its rows
    by index: the model is a pure function of the four fields, so the
    output is unchanged, and the memory is the batch's.
    """

    def build():
        @F.pandas_udf(MODEL_RESULT_TYPE)
        def forward(
            batches: Iterator[Tuple[pd.Series, pd.Series, pd.Series, pd.Series]]
        ) -> Iterator[pd.DataFrame]:
            model, loads = executor_model(model_key, load)
            labels = np.array(model.labels, dtype=object)
            for st, ot, sx, ox in batches:
                distinct: dict[tuple, int] = {}
                keys = zip(st, ot, sx, ox)
                rows = [distinct.setdefault(k, len(distinct)) for k in keys]
                scores = model.forward_pairs(list(distinct))
                logits_col = [None] * len(rows)
                if add_logits:
                    logits = [dict(zip(labels, row.tolist())) for row in scores]
                    logits_col = [logits[i] for i in rows]
                yield pd.DataFrame(
                    {
                        "label": labels[scores.argmax(axis=1)][rows],
                        "logits": logits_col,
                        "model_loads": [loads] * len(rows),
                    }
                )

        # the forward IS deterministic, but Catalyst duplicates
        # deterministic UDFs when pushing the no_relation filter through
        # the projection — two full model evaluations per pair; the
        # standard fix is to opt out of expression duplication
        return forward.asNondeterministic()

    return memoized_udf(spark, f"rc-model:{model_key}:{add_logits}", build)


class PieceCounter:
    """Worker-side subword piece counts for the marking flags, memoized
    per word and per mention label. The tokenizer always knows the four
    boundary markers (the reference's additional-token setup always
    includes them, tacred.py:151-152) plus ``additional_tokens``."""

    def __init__(self, additional_tokens: list[str]) -> None:
        self.tokenizer = BertLikeTokenizer(do_lower_case=True)
        self.tokenizer.add_tokens(
            ["[HEAD_START]", "[HEAD_END]", "[TAIL_START]", "[TAIL_END]"]
            + list(additional_tokens)
        )
        self._words: dict[str, int] = {}
        self._labels: dict[str, tuple[int, int]] = {}

    def prefix(self, words) -> list[int]:
        """Piece-count prefix sums of one turn, length len(words)+1; a
        NULL turn counts as empty."""
        counts = self._words
        row_counts = []
        for word in words if words is not None else ():
            count = counts.get(word)
            if count is None:
                count = counts[word] = len(self.tokenizer.tokenize(word))
            row_counts.append(count)
        return piece_prefix_sums(row_counts)

    def masks(self, labels) -> tuple[list[int], list[int]]:
        """Piece counts of the ``[HEAD=T]`` and ``[TAIL=T]`` masks, per
        mention label (1 when the mask is an additional token)."""
        heads, tails = [], []
        for label in labels if labels is not None else ():
            pieces = self._labels.get(label)
            if pieces is None:
                pieces = self._labels[label] = (
                    len(self.tokenizer.tokenize(f"[HEAD={label}]".lower())),
                    len(self.tokenizer.tokenize(f"[TAIL={label}]".lower())),
                )
            heads.append(pieces[0])
            tails.append(pieces[1])
        return heads, tails


PIECES_TYPE = T.StructType(
    [
        T.StructField("prefix", T.ArrayType(T.IntegerType())),
        T.StructField("head_masks", T.ArrayType(T.IntegerType())),
        T.StructField("tail_masks", T.ArrayType(T.IntegerType())),
    ]
)


def piece_prefix_udf(
    spark: SparkSession,
    additional_tokens: Optional[list[str]] = None,
    with_masks: bool = False,
):
    """Per-turn pandas UDF: words -> subword piece-count prefix sums
    (array<int>, length len(words)+1). Runs once per turn, O(words),
    with a per-worker word -> count memo.

    ``with_masks`` (the strategies that insert ``[HEAD=T]``/``[TAIL=T]``
    masks): (words, mention labels) -> struct<prefix, head_masks,
    tail_masks>, the mask piece counts per mention, memoized per label.
    """
    tokens = list(additional_tokens or [])
    key = "piece-counter:" + config_hash(tokens)
    load = partial(PieceCounter, tokens)

    def build():
        if with_masks:

            @F.pandas_udf(PIECES_TYPE)
            def pieces(
                batches: Iterator[Tuple[pd.Series, pd.Series]]
            ) -> Iterator[pd.DataFrame]:
                counter, _ = executor_model(key, load)
                for words_s, labels_s in batches:
                    masks = [counter.masks(labels) for labels in labels_s]
                    yield pd.DataFrame(
                        {
                            "prefix": [counter.prefix(w) for w in words_s],
                            "head_masks": [heads for heads, _ in masks],
                            "tail_masks": [tails for _, tails in masks],
                        }
                    )

            # one evaluation per turn although three fields are read
            return pieces.asNondeterministic()

        @F.pandas_udf(T.ArrayType(T.IntegerType()))
        def prefix(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
            counter, _ = executor_model(key, load)
            for series in batches:
                yield pd.Series([counter.prefix(words) for words in series])

        return prefix

    return memoized_udf(spark, f"{key}:{with_masks}", build)


def native_marking_flags(
    entity_handling: str,
    max_length: Optional[int],
    n: Column,
    prefix: Column,
    head: Column,
    tail: Column,
    head_mask: Optional[Column] = None,
    tail_mask: Optional[Column] = None,
) -> tuple[Column, Column]:
    """(cutoff, truncated) as Column expressions — the marking_fast.py
    closed forms for all four strategies, JVM-side.

    ``n`` is the turn's word count, ``prefix`` its piece-count prefix
    sums, ``head``/``tail`` the mention structs, and ``head_mask``/
    ``tail_mask`` the ``[HEAD=T]``/``[TAIL=T]`` piece counts (read by
    every strategy except mark_entity). Parity with ``marking_flags``
    is pinned by tests/test_rc_single_path.py.
    """
    if max_length is None:
        return F.lit(False), F.lit(False)
    limit = F.lit(max_length)
    special = F.lit(2)  # [CLS] + [SEP] (num_special_tokens_to_add)

    def at(index: Column) -> Column:
        """pieces of words[0:index]"""
        return F.element_at(prefix, index + 1)

    total = at(n)
    hs, he, ts, te = head["start"], head["end"], tail["start"], tail["end"]
    if entity_handling.startswith("mark_entity"):
        # one-piece markers at each boundary; a boundary at index n
        # emits none (the reference loop never visits it)
        bounds = (hs, ts, he, te)
        n_markers = sum((idx < n).cast("int") for idx in bounds)
        if entity_handling == "mark_entity_append_ner":
            # last check after appending [SEP] [HEAD=T] [SEP] [TAIL=T]
            last = total + n_markers + F.lit(2) + head_mask + tail_mask
            return last + special > limit, last > limit
        # last check right after the last marker: the words before it
        # plus every marker (NULL when no boundary fires -> no cutoff)
        last = at(F.greatest(*[F.when(idx < n, idx) for idx in bounds]))
        return (
            F.coalesce(last + n_markers + special > limit, F.lit(False)),
            total + n_markers > limit,
        )

    # mask strategies: a mask replaces the entity words and is inserted
    # at the entity start only (never at index n)
    head_live, tail_live = hs < n, ts < n
    masks = F.when(head_live, head_mask).otherwise(0) + F.when(
        tail_live, tail_mask
    ).otherwise(0)
    if entity_handling == "mask_entity_append_text":
        # the appended [SEP] head words [SEP] tail words bring back every
        # masked word exactly once (overlap words go to head only)
        last = total + masks + F.lit(2)
        return last + special > limit, last > limit

    def span(lo: Column, hi: Column, index: Column) -> Column:
        """pieces of words[lo:hi] clipped to [0, index); 0 if empty"""
        lo = F.least(lo, index)
        return at(F.greatest(F.least(hi, index), lo)) - at(lo)

    def covered(index: Column) -> Column:
        """entity pieces before ``index``: the UNION of the spans (the
        reference's if/elif gives a word inside both to head only)"""
        return (
            span(hs, he, index)
            + span(ts, te, index)
            - span(F.greatest(hs, ts), F.least(he, te), index)
        )

    # mask_entity: last check right after the last mask insertion
    last_start = F.greatest(F.when(head_live, hs), F.when(tail_live, ts))
    last = at(last_start) - covered(last_start) + masks
    return (
        F.coalesce(last + special > limit, F.lit(False)),
        total - covered(n) + masks > limit,
    )


def extract_triples(
    spark: SparkSession,
    annotated: DataFrame,
    labels: list[str],
    rule_map: Optional[dict[tuple[str, str], str]] = None,
    additional_tokens: Optional[list[str]] = None,
    entity_handling: str = "mark_entity",
    max_length: Optional[int] = 128,
    max_mentions: int = 16,
    ignore_no_relation: bool = True,
    add_logits: bool = False,
    dedup_model_inputs: bool = False,
) -> DataFrame:
    """annotated (conv_id, turn_idx, words, ments, ...) -> triples table.

    Output: (conv_id, turn_idx, head_idx, tail_idx, subj_text,
    subj_type, pred, obj_text, obj_type, ments_overflow[, logits]).

    One path for every ``entity_handling`` strategy: the per-turn piece
    counts (``piece_prefix_udf``, only when ``max_length`` is set), the
    pair explode, the cutoff/truncation flags as column expressions
    (``native_marking_flags``; cutoff pairs never reach the model, as
    in the reference, binary_rc.py:202-204) and the stub model through
    ``rc_model_udf``.

    ``dedup_model_inputs`` (inference caching): the model UDF already
    forwards each Arrow batch's distinct (subj_type, obj_type,
    subj_text, obj_text) keys once; the knob makes the distinct GLOBAL
    and sends only the distinct keys through Arrow, joining
    predictions back — results are identical (the model is a pure
    function of those four fields). A deliberate knob, off by default:
    it pays when keys repeat across batches (agent transcripts
    re-asking the same questions, boilerplate); on high-cardinality
    corpora the extra distinct shuffle buys nothing. The join back is
    AQE-managed (the prediction table broadcasts when small).
    """
    if entity_handling not in ENTITY_HANDLING_STRATEGIES:
        raise ValueError(f"Unknown entity handling '{entity_handling}'.")
    # one pair-index literal per call: its slot lookup re-resolves
    # against the capped ``ments`` below, where the capped count is
    # the same
    overflow, capped, idx_pairs = _pair_slots(max_mentions)
    with_masks = max_length is not None and entity_handling != "mark_entity"

    # Pair construction in two small steps:
    #
    # 1. Per turn, compute the capped mention slice and the
    #    per-mention surface texts ONCE (O(m) word slices), then
    #    explode an array of tiny (h, t) index structs.
    # 2. Per exploded pair row, derive all fields (texts, types,
    #    marking flags) with O(1) element_at lookups into the
    #    carried per-turn arrays.
    #
    # Two designs were measured and rejected at sf0.1/local[32]:
    # computing pair texts inside the pair array slots rebuilds
    # concat_ws(slice(words, ...)) per slot — O(m²) string work per
    # turn; and building full 8-field pair structs inside the array
    # expands the Generate expression to max_mentions² slots × ~40
    # expression nodes, a CodegenFallback tree so large that a fresh
    # JVM spends ~90-130 s just warming it (interpreted eval + JIT).
    # Index-only explode keeps the Generate expression O(1)-sized
    # and the per-row projection whole-stage-codegen-friendly. The
    # carried arrays are small (≤ max_mentions entries, pruned of
    # ``words``), so the explode stays ~100 B x pairs.
    turns = annotated.select("conv_id", "turn_idx", "words", "ments")
    if max_length is not None:
        counts = piece_prefix_udf(spark, additional_tokens, with_masks)
        words = F.col("words")
        turns = turns.withColumn(
            "pieces",
            counts(words, F.col("ments.label")) if with_masks else counts(words),
        )

    capped_ments = F.slice(F.col("ments"), F.lit(1), capped)
    ment_texts = F.transform(
        capped_ments,
        lambda ment: F.concat_ws(
            " ",
            F.slice(
                F.col("words"), ment["start"] + 1, ment["end"] - ment["start"]
            ),
        ),
    )

    turns = turns.select(
        "conv_id",
        "turn_idx",
        # overflow is counted, never silently dropped (metrics sink
        # contract) — same flag the enumerate_pairs path carries
        overflow.alias("ments_overflow"),
        capped_ments.alias("ments"),
        ment_texts.alias("ment_texts"),
        *(
            ["pieces", F.size("words").alias("n_words")]
            if max_length is not None
            else []
        ),
    )
    if dedup_model_inputs:
        # The NER UDF output feeds BOTH the distinct-keys branch
        # (building preds) and the probe side of the join back —
        # materialize it once so the model-annotation stage
        # upstream runs once, not twice. Checkpoint the per-TURN
        # table, not the exploded pairs: pairs are quadratic in
        # per-turn mention count (9.3M rows at sf1 vs 50k turns),
        # so materializing them costs more than the model forwards
        # it saves (measured: the round-5 shape, which checkpointed
        # the pair table, ran ~2.5x slower than the per-pair path
        # at sf1). Re-running the index explode per branch is pure
        # JVM projection work over the checkpointed turns; the
        # expensive Python stage runs exactly once.
        # localCheckpoint, NOT persist(): persist registers the plan
        # in the session CacheManager, which holds it for the
        # session's lifetime unless explicitly unpersisted — every
        # invocation would pin another cached DataFrame in executor
        # memory. Checkpoint blocks are owned by the RDD and
        # reclaimed by the ContextCleaner when the returned
        # DataFrame goes out of scope. Eager: this runs the
        # upstream job at construction time (same contract as the
        # stage registry).
        turns = turns.localCheckpoint(eager=True)

    # The per-pair path's one exchange: round-robin over TURNS, between
    # the per-turn piece-count UDF and pair construction + the model.
    # It keeps one Python stage per task (NER UDF -> explode -> RC UDF in
    # one task runs 2 Python workers in lockstep: 80 s vs 38 s at
    # sf0.1/local[32]); equal turns per task even out the quadratic pair
    # counts (at most max_mentions*(max_mentions-1) per turn); and 1,500
    # turn rows cross it on perfbench dense_pairs instead of 234k pairs
    # (warm triples stage ~2.5 -> ~2.1 s on 4 vCPU). One task per core,
    # one wave: each extra model task pays its own Python worker hand-off
    # (RC layer alone, 234k pairs, 4 vCPU, min/median of 3: 16 tasks
    # 4.14/4.31 s, 8 tasks 3.27/3.38 s, 4 tasks 2.80/3.04 s, 1 task
    # 4.04/4.43 s).
    n_parts = spark.sparkContext.defaultParallelism
    if not dedup_model_inputs:
        turns = turns.repartition(n_parts)

    # O(1) lookup into the constant-folded pair-index literal (see
    # pair_index_array): the old per-row transform/filter/flatten
    # construction was CodegenFallback — interpreted on every row
    # and the single biggest first-evaluation JIT hog of the whole
    # query (15.2 s at sf1). An empty slot (m < 2) explodes to no
    # rows. ``ments`` is already capped here.
    exploded = turns.withColumn("pair", F.explode(idx_pairs))

    h, t = F.col("pair.h"), F.col("pair.t")
    head = F.element_at(F.col("ments"), h + 1)
    tail = F.element_at(F.col("ments"), t + 1)
    head_mask = tail_mask = None
    if with_masks:
        head_mask = F.element_at(F.col("pieces.head_masks"), h + 1)
        tail_mask = F.element_at(F.col("pieces.tail_masks"), t + 1)
    cutoff, truncated = native_marking_flags(
        entity_handling,
        max_length,
        F.col("n_words"),
        F.col("pieces.prefix") if with_masks else F.col("pieces"),
        head,
        tail,
        head_mask,
        tail_mask,
    )

    pairs = exploded.select(
        "conv_id",
        "turn_idx",
        "ments_overflow",
        h.alias("head_idx"),
        t.alias("tail_idx"),
        F.element_at("ment_texts", h + 1).alias("subj_text"),
        head["label"].alias("subj_type"),
        F.element_at("ment_texts", t + 1).alias("obj_text"),
        tail["label"].alias("obj_type"),
        cutoff.alias("cutoff"),
        truncated.alias("truncated"),
    ).filter(~F.col("cutoff"))

    model = rc_model_udf(
        spark,
        "stub:" + config_hash(list(labels), rule_map),
        partial(StubRcModel, list(labels), rule_map),
        add_logits,
    )
    if dedup_model_inputs:
        # dropDuplicates FIRST (partial, map-side dedup collapses
        # each scan partition to its distinct keys before anything
        # moves: aggregate before you shuffle), THEN hash-
        # repartition the distinct keys so the model stage spreads
        # over the cluster when the distinct-key table is large.
        # The round-5 shape repartitioned the full pair table by
        # the model keys before deduping — a full-width shuffle of
        # the quadratic pair table that the partial aggregation
        # makes unnecessary.
        # (A turn-level pre-dedup — canonical sorted (label, text)
        # profiles deduped before the pair explode — was measured
        # and REJECTED: distinct on an array<struct> key has no
        # codegen fast path (1.1-1.4 s vs 0.7-0.9 s for this shape
        # at sf1), and the opaque array expressions wreck the size
        # estimates the planner needs to broadcast `preds`. The
        # exploded distinct below is partial-aggregated map-side,
        # so each scan task ships only its distinct keys.)
        keys = (
            pairs.select(*MODEL_KEYS)
            .dropDuplicates()
            .repartition(n_parts, *MODEL_KEYS)
        )
        preds = keys.withColumn("rc", model(*[F.col(k) for k in MODEL_KEYS]))
        # null-safe join keys: a NULL in any key column must match
        # its own prediction row exactly like the per-pair path
        # feeds it through the UDF — a plain equi-join would drop
        # it. Aliased (preds derives from pairs — a self-join).
        left = pairs.alias("p")
        right = preds.alias("d")
        cond = [F.col(f"p.{k}").eqNullSafe(F.col(f"d.{k}")) for k in MODEL_KEYS]
        classified = left.join(right, cond, "left").select(
            *[F.col(f"p.{c}") for c in pairs.columns], F.col("d.rc")
        )
    else:
        classified = pairs.withColumn("rc", model(*[F.col(k) for k in MODEL_KEYS]))
    result = classified.filter(F.col("rc.label").isNotNull())
    if ignore_no_relation:
        result = result.filter(F.col("rc.label") != "no_relation")
    return result.select(
        "conv_id",
        "turn_idx",
        "head_idx",
        "tail_idx",
        "subj_text",
        "subj_type",
        F.col("rc.label").alias("pred"),
        "obj_text",
        "obj_type",
        "ments_overflow",
        *([F.col("rc.logits").alias("logits")] if add_logits else []),
    )
