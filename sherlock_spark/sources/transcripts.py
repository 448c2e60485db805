"""Transcript table sources (the north-rule primary input).

Schema: ``(conv_id string, turn_idx int, role string, text string,
tool string, ts timestamp)`` — BASELINE.json input_hint. Two
deterministic generators:

- ``synth_transcripts_from_fixtures`` — fixture sentences from the
  reference TACRED test data replicated across conversations, plus one
  long-tail conversation to exercise skew handling (FIXTURES.md §1).
  Fully distributed: built from ``spark.range`` + column expressions.
  With ``sentences=None`` (the default) it reads ``FIXTURE_TACRED``, a
  file of the reference sherlock fixture tree that lies outside this
  repository; pass ``sentences=`` to run it without that tree.
- ``transcripts_from_documents`` — derives a transcript table from the
  driver's ``documents`` parquet with pure SQL-expressible arithmetic,
  so every downstream KG stage has an exact DuckDB oracle.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sherlock_spark.text.ptb import convert_ptb_token

FIXTURE_TACRED = "/root/reference/tests/fixtures/datasets/tacred.json"
_EPOCH = "2026-01-01 00:00:00"
ROLES = ["user", "assistant", "tool"]


def fixture_sentences(path: str = FIXTURE_TACRED) -> list[str]:
    """The three reference fixture sentences, PTB-normalized and
    whitespace-joined — the per-turn text-equality invariant anchors to
    these exact strings (tacred.py:196).
    """
    with open(path) as handle:
        examples = json.load(handle)
    return [
        " ".join(convert_ptb_token(token) for token in example["token"])
        for example in examples
    ]


def synth_transcripts_from_fixtures(
    spark: SparkSession,
    n_convs: int = 20,
    turns_per_conv: int = 10,
    skew_conv_turns: int = 0,
    sentences: list[str] | None = None,
) -> DataFrame:
    """Deterministic synthetic transcripts.

    ``sentence = sentences[(conv_seq + turn_idx) % len(sentences)]``;
    conversation ``conv-<k>``; optional hot conversation ``conv-hot``
    with ``skew_conv_turns`` turns (>=100x median exercises salting).
    """
    if sentences is None:
        sentences = fixture_sentences()
    sentence_array = F.array(*[F.lit(sentence) for sentence in sentences])
    role_array = F.array(*[F.lit(role) for role in ROLES])

    base = spark.range(n_convs * turns_per_conv).select(
        (F.col("id") % n_convs).alias("conv_seq"),
        (F.col("id") / n_convs).cast("int").alias("turn_idx"),
    )
    if skew_conv_turns > 0:
        hot = spark.range(skew_conv_turns).select(
            F.lit(-1).cast("long").alias("conv_seq"),
            F.col("id").cast("int").alias("turn_idx"),
        )
        base = base.unionByName(hot)

    sentence_idx = (
        (F.abs(F.col("conv_seq")) + F.col("turn_idx")) % F.lit(len(sentences))
    ).cast("int")
    role_idx = (F.col("turn_idx") % F.lit(len(ROLES))).cast("int")

    return base.select(
        F.when(F.col("conv_seq") < 0, F.lit("conv-hot"))
        .otherwise(F.concat(F.lit("conv-"), F.col("conv_seq")))
        .alias("conv_id"),
        F.col("turn_idx"),
        F.element_at(role_array, role_idx + 1).alias("role"),
        F.element_at(sentence_array, sentence_idx + 1).alias("text"),
        F.when(
            F.element_at(role_array, role_idx + 1) == "tool", F.lit("search")
        ).alias("tool"),
        (
            F.to_timestamp(F.lit(_EPOCH))
            + F.make_interval(mins=F.col("turn_idx"))
        ).alias("ts"),
    )


def transcripts_from_documents(
    documents: DataFrame, n_convs: int = 100
) -> DataFrame:
    """documents(doc_id, text, ...) -> transcripts, pure arithmetic.

    Oracle (DuckDB) equivalent of every column is plain ANSI SQL — see
    ``transcripts_from_documents_sql``.
    """
    return documents.select(
        F.concat(F.lit("c"), (F.col("doc_id") % n_convs)).alias("conv_id"),
        F.floor(F.col("doc_id") / n_convs).cast("int").alias("turn_idx"),
        F.element_at(
            F.array(*[F.lit(role) for role in ROLES]),
            (F.col("doc_id") % 3).cast("int") + 1,
        ).alias("role"),
        F.col("text"),
        F.when((F.col("doc_id") % 3) == 2, F.lit("search")).alias("tool"),
        (
            F.to_timestamp(F.lit(_EPOCH))
            + F.make_interval(secs=F.col("doc_id") * 60)
        ).alias("ts"),
    )


def transcripts_from_documents_sql(n_convs: int = 100) -> str:
    """DuckDB fragment mirroring ``transcripts_from_documents`` (select
    from a registered ``documents`` view).
    """
    return f"""
        SELECT 'c' || CAST(doc_id % {n_convs} AS VARCHAR) AS conv_id,
               CAST(doc_id // {n_convs} AS INT) AS turn_idx,
               CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'user'
                    WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
               text
        FROM documents
    """

