"""Tokenization + NER tagging + span decoding stages.

Reference lifecycle (SURVEY.md §3.1): per-turn text -> word tokens with
char offsets -> BIO tags from the token-classification model -> mention
spans. Spark shape: the word split is a Catalyst expression; offsets and
the model forward + BIO span decode are ONE iterator pandas UDF with an
executor-global singleton model (one load per Python worker, never per
row — reference one-time-load analogue, ``spacy.py:17,24-55``).

Why fused: chaining a second pandas UDF onto the tag UDF's output forces
a second Arrow round-trip per stage (measured 1.6 s -> 41 s at sf0.1 for
5k turns); tags never need to surface as a column except for debugging,
so the default path decodes spans inside the same Python stage. The
two-stage path (``ner_tags_udf`` + ``bio_to_mentions``) is kept for
parity tests and debugging.

All UDFs are marked ``asNondeterministic()``: they ARE deterministic,
but Catalyst duplicates deterministic expressions when collapsing
projections / pushing filters, which re-runs the whole Python stage once
per referencing expression — the standard opt-out keeps exactly one
ArrowEvalPython evaluation per row.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql import types as T

from sherlock_spark.model_stub import StubNerModel
from sherlock_spark.text.spans import bio_tags_to_spans, spans_to_exclusive_sorted
from sherlock_spark.udfcache import config_hash, memoized_udf

_MODEL_CACHE: dict[str, StubNerModel] = {}

# explicit DataType (not DDL string): keeps UDF construction independent
# of an active SparkSession at import time
MENTS_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("start", T.IntegerType()),
            T.StructField("end", T.IntegerType()),
            T.StructField("label", T.StringType()),
        ]
    )
)

TOKENS_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("start", T.IntegerType()),
            T.StructField("end", T.IntegerType()),
            T.StructField("lemma", T.StringType()),
        ]
    )
)


def _executor_model(cache_key: str, broadcast) -> StubNerModel:
    """Lazy per-worker singleton; survives tasks because
    ``spark.python.worker.reuse`` is on (session.py). The key is the
    *content hash* of the lexicon captured driver-side, so the same
    configuration maps to one model per worker no matter how many UDF
    instances or sessions reference it.
    """
    model = _MODEL_CACHE.get(cache_key)
    if model is None:
        model = StubNerModel(broadcast.value)
        _MODEL_CACHE[cache_key] = model
    return model


def words_column(text: Column = None) -> Column:
    """Whitespace word split. The transcript invariant is that ``text``
    is the space-join of its tokens (tacred.py:196), so a literal
    single-space split reconstructs them exactly. A NULL ``text`` (the
    transcript schema allows it) has no words.
    """
    words = F.split(text if text is not None else F.col("text"), " ")
    return F.coalesce(words, F.array().cast("array<string>"))


def _word_offsets(words) -> list[tuple[int, int, str]]:
    """Char offsets from cumulative token lengths (+1 per joining
    space) — tacred.py:214-231 semantics, O(n) per row.
    """
    out = []
    pos = 0
    for word in words:
        end = pos + len(word)
        out.append((pos, end, word))
        pos = end + 1
    return out


@F.pandas_udf(TOKENS_TYPE)
def _tokens_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    for series in batches:
        yield pd.Series([_word_offsets(words) for words in series])


tokens_udf = _tokens_udf.asNondeterministic()


def with_tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add ``words`` and offset-bearing ``tokens`` columns — the
    tokenizer stage (tacred.py:196-231).

    The offset scan is a vectorized pandas UDF, O(n) per row. (A pure
    Catalyst ``aggregate``+``array_append`` construction exists but
    copies the accumulator array per element — O(n²) struct copies per
    row, ruinous for long documents.)
    """
    return df.withColumn("words", words_column(F.col(text_col))).withColumn(
        "tokens", tokens_udf(F.col("words"))
    )


def ner_tags_udf(spark: SparkSession, lexicon: dict[str, str] | None = None):
    """Iterator pandas UDF: array<string> words -> array<string> BIO tags.

    Debug/parity path — the production pipeline uses ``ner_ments_udf``
    which decodes spans in the same Python stage. The model argmax decode
    happens inside ``predict_tags`` — one vectorized call per Arrow batch
    (reference batching: ``transformers_annotator.py:60-63,93-108``).
    """
    lex = StubNerModel(lexicon).lexicon if lexicon is None else lexicon
    cache_key = "ner-tags:" + config_hash(lex)

    def build():
        broadcast = spark.sparkContext.broadcast(lex)

        @F.pandas_udf(T.ArrayType(T.StringType()))
        def tag(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
            model = _executor_model(cache_key, broadcast)
            for series in batches:
                token_lists = [list(words) for words in series]
                yield pd.Series(model.predict_tags(token_lists))

        return tag.asNondeterministic()

    return memoized_udf(spark, cache_key, build)


@F.pandas_udf(MENTS_TYPE)
def bio_to_mentions(tag_series: pd.Series) -> pd.Series:
    """BIO tags -> mention spans, end exclusive, sorted by start —
    allennlp-exact semantics (utils.py:128-167) via the shared codec.
    Debug/parity path; see ``ner_ments_udf``.
    """
    out = []
    for tags in tag_series:
        spans = spans_to_exclusive_sorted(bio_tags_to_spans(list(tags)))
        out.append(
            [(span["start"], span["end"], span["label"]) for span in spans]
        )
    return pd.Series(out)


def ner_ments_udf(spark: SparkSession, lexicon: dict[str, str] | None = None):
    """Fused iterator pandas UDF: turn ``text`` -> mention spans.

    One Python stage for tokenization (a literal single-space split —
    the transcript invariant is that ``text`` is the space-join of its
    tokens, so Python's ``str.split(" ")`` reconstructs exactly the
    ``words_column`` array), model forward (argmax decode inside
    ``predict_tags``, reference ``transformers_token_clf.py:29-40``) AND
    BIO -> span decode (``utils.py:128-167`` semantics via the shared
    codec) — the reference's annotator does both in one pass too
    (``transformers_token_clf.py:29-40``), so a second Arrow hop would be
    pure engine overhead.

    Input is the raw ``text`` column, NOT the pre-split ``words`` array:
    an Arrow string column is one contiguous buffer + offsets, while
    list<string> carries per-element offsets and null bitmaps — sending
    text moves the same bytes with a fraction of the serialization
    overhead, and the in-Python split costs less than the transfer
    saved (guide §4.1: control how many columns cross, and how).

    A NULL ``text`` has no words and no mentions, like ``words_column``.
    """
    lex = StubNerModel(lexicon).lexicon if lexicon is None else lexicon
    cache_key = "ner-ments-text:" + config_hash(lex)

    def build():
        broadcast = spark.sparkContext.broadcast(lex)

        @F.pandas_udf(MENTS_TYPE)
        def ments(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
            model = _executor_model(cache_key, broadcast)
            for series in batches:
                token_lists = [
                    [] if text is None else text.split(" ") for text in series
                ]
                tag_lists = model.predict_tags(token_lists)
                yield pd.Series(
                    [
                        [
                            (span["start"], span["end"], span["label"])
                            for span in spans_to_exclusive_sorted(
                                bio_tags_to_spans(tags)
                            )
                        ]
                        for tags in tag_lists
                    ]
                )

        return ments.asNondeterministic()

    return memoized_udf(spark, cache_key, build)


def annotate_mentions(
    spark: SparkSession,
    transcripts: DataFrame,
    lexicon: dict[str, str] | None = None,
    keep_bio: bool = False,
) -> DataFrame:
    """Transcript turns -> turns + words + ments.

    One narrow stage: no shuffle is introduced; rows stay wherever the
    scan/repartition put them (conv_id clustering preserved). ``tokens``
    (char offsets) is NOT added here — mentions are token-index
    intervals, so downstream linking/RC never reads char offsets; use
    ``with_tokens`` where they are needed (kg_tokenize).

    ``keep_bio=True`` runs the two-stage debug path and surfaces the
    ``bio`` tag column (second Arrow round-trip — slow, test-only).
    """
    df = transcripts.withColumn("words", words_column())
    if keep_bio:
        tagger = ner_tags_udf(spark, lexicon)
        df = df.withColumn("bio", tagger(F.col("words")))
        return df.withColumn("ments", bio_to_mentions(F.col("bio")))
    fused = ner_ments_udf(spark, lexicon)
    # the fused UDF re-splits text in Python (cheaper Arrow transfer
    # than shipping the words array); `words` stays a JVM column for
    # downstream consumers (surface slicing, token counts)
    return df.withColumn("ments", fused(F.col("text")))
