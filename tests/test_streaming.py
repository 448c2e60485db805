"""Structured Streaming extraction: backlog processing, incremental
batches without duplicates, and windowed aggregation."""

import os

import pytest

from fixture_text import synth_transcripts
from sherlock_spark.model_stub import (
    FIXTURE_NER_LEXICON,
    FIXTURE_RC_LABELS,
    FIXTURE_RC_RULES,
)
from sherlock_spark.streaming import stream_extract_triples, stream_triple_rates


def test_streaming_extraction_incremental(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    output_dir = str(tmp_path / "out")
    checkpoint_dir = str(tmp_path / "ckpt")

    batch1 = synth_transcripts(spark, n_convs=3, turns_per_conv=2)
    batch1.write.mode("append").parquet(input_dir)

    query = stream_extract_triples(
        spark, input_dir, output_dir, checkpoint_dir,
        ner_lexicon=FIXTURE_NER_LEXICON,
        rc_labels=FIXTURE_RC_LABELS,
        rc_rule_map=FIXTURE_RC_RULES,
    )
    query.awaitTermination(120)

    first = spark.read.parquet(output_dir)
    n_first = first.count()
    assert n_first > 0
    assert set(first.columns) >= {"conv_id", "turn_idx", "subj_text", "pred", "obj_text"}

    # second wave of files: new conversations; rerun with the same
    # checkpoint — only the new files are processed, no duplicates
    batch2 = (
        synth_transcripts(spark, n_convs=3, turns_per_conv=2)
        .selectExpr(
            "concat('new-', conv_id) as conv_id", "turn_idx", "role",
            "text", "tool", "ts",
        )
    )
    batch2.write.mode("append").parquet(input_dir)

    query2 = stream_extract_triples(
        spark, input_dir, output_dir, checkpoint_dir,
        ner_lexicon=FIXTURE_NER_LEXICON,
        rc_labels=FIXTURE_RC_LABELS,
        rc_rule_map=FIXTURE_RC_RULES,
    )
    query2.awaitTermination(120)

    result = spark.read.parquet(output_dir)
    assert result.count() == 2 * n_first
    dups = (
        result.groupBy("conv_id", "turn_idx", "head_idx", "tail_idx")
        .count()
        .filter("count > 1")
        .count()
    )
    assert dups == 0


def test_streaming_windowed_rates(spark, tmp_path):
    input_dir = str(tmp_path / "in2")
    checkpoint_dir = str(tmp_path / "ckpt2")
    out_dir = str(tmp_path / "rates")

    synth_transcripts(spark, n_convs=2, turns_per_conv=12).write.mode(
        "append"
    ).parquet(input_dir)

    rates = stream_triple_rates(
        spark, input_dir, checkpoint_dir, ner_lexicon=FIXTURE_NER_LEXICON
    )
    query = (
        rates.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)
    # append mode emits only watermark-closed windows; with availableNow
    # over a finite backlog the final windows stay open, so assert the
    # aggregation ran and the schema is right (rows may be 0)
    result = spark.read.parquet(out_dir)
    assert set(result.columns) == {"window_start", "conv_id", "n_mentions", "n_turns"}


def test_stateful_conversation_summaries(spark, tmp_path):
    """applyInPandasWithState: per-conversation state closed by
    event-time timeout (gap of silence), emitted once, state dropped."""
    import pandas as pd

    input_dir = tmp_path / "in"
    input_dir.mkdir()
    base = pd.Timestamp("2026-01-01 00:00:00")

    def write_batch(name, conv_id, start, n_turns):
        rows = [
            {
                "conv_id": conv_id,
                "turn_idx": i,
                "role": "user",
                "text": "spark joins the stream with a window",
                "tool": None,
                "ts": start + pd.Timedelta(minutes=i),
            }
            for i in range(n_turns)
        ]
        from sherlock_spark.schemas import TRANSCRIPT

        spark.createDataFrame(
            pd.DataFrame(rows), schema=TRANSCRIPT
        ).coalesce(1).write.parquet(str(input_dir / name))

    # conv-a at t0, conv-b 3h later (closes a), conv-c 6h later (closes b)
    write_batch("b1", "conv-a", base, 3)
    write_batch("b2", "conv-b", base + pd.Timedelta(hours=3), 2)
    write_batch("b3", "conv-c", base + pd.Timedelta(hours=6), 1)

    from sherlock_spark.streaming.stream import stream_conversation_summaries

    out = stream_conversation_summaries(
        spark,
        str(input_dir / "*"),
        gap="30 minutes",
        watermark="10 minutes",
        max_files_per_trigger=1,
    )
    query = (
        out.writeStream.format("memory")
        .queryName("conv_summaries")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(300)
    rows = {r.conv_id: r for r in spark.sql("select * from conv_summaries").collect()}
    # conv-a and conv-b are closed by later batches; conv-c stays open
    assert set(rows) == {"conv-a", "conv-b"}
    a = rows["conv-a"]
    assert a.n_turns == 3
    # "spark", "joins"? lexicon words: spark, stream, window (join != joins)
    assert a.n_mentions == 9  # 3 lexicon hits x 3 turns
    assert a.first_ts == base.to_pydatetime()
    assert a.last_ts == (base + pd.Timedelta(minutes=2)).to_pydatetime()
    assert rows["conv-b"].n_turns == 2
