"""O3 annotator hook: executor-singleton contract + spaCy-shaped output
(reference sherlock/annotators/spacy.py:122-178 interface parity).
"""

from pyspark.sql import functions as F

from fixture_text import synth_transcripts
from sherlock_spark.operators.annotator_hook import (
    WhitespaceLexiconAnnotator,
    annotate_with,
)


def test_singleton_and_output_shape(spark):
    lexicon = {"chairman": "TITLE", "paris": "CITY"}

    # local factory -> pickled by value; the heavy object itself is
    # package code, constructed on the worker (the required contract)
    def factory(**options):
        return WhitespaceLexiconAnnotator(lexicon, weight_mb=options["weight_mb"])

    transcripts = synth_transcripts(spark, n_convs=6, turns_per_conv=4)
    out = annotate_with(
        spark,
        transcripts.repartition(8),  # more tasks than workers
        factory,
        {"weight_mb": 8},
        with_load_counter=True,
    )
    rows = out.collect()
    assert len(rows) == 24
    # singleton: every task in a reused worker sees load count 1
    assert max(r.annotator_loads for r in rows) == 1

    by_label = [m for r in rows for m in r.ments]
    assert by_label and all(m.label in {"TITLE", "CITY"} for m in by_label)
    # char offsets slice back to the token (spacy annotator invariant)
    for row in rows[:5]:
        for token in row.tokens:
            assert row.text[token.start : token.end] == token.lemma
        assert row.sents[0].start == 0

    # the ments output is consumable by the downstream pair/RC stages
    n_pairs = out.select(F.size("ments").alias("m")).agg(
        F.sum(F.col("m") * (F.col("m") - 1))
    ).collect()[0][0]
    assert n_pairs >= 0


def test_load_count_is_per_annotator(spark):
    """Each annotator reports its own loads, not every load the worker
    made: two lexicons on the same workers read 1 each."""
    transcripts = synth_transcripts(spark, n_convs=4, turns_per_conv=2)
    for lexicon in ({"paris": "CITY"}, {"chairman": "TITLE"}):
        out = annotate_with(
            spark,
            transcripts.repartition(4),
            WhitespaceLexiconAnnotator,
            {"lexicon": lexicon},
            with_load_counter=True,
        )
        assert {r.annotator_loads for r in out.collect()} == {1}


def test_backfill_entity_types(spark):
    """O14 (utils.py:114-125): first non-O token tag inside each entity
    span becomes its type; untagged spans keep the existing value."""
    from sherlock_spark.operators.annotator_hook import backfill_entity_types

    df = spark.createDataFrame(
        [
            ("x1", ["Douglas", "visited", "Paris", "today"],
             "per:places_of_residence", [[0, 1], [2, 3]], [None, None]),
            ("x2", ["nothing", "tagged", "here", "now"],
             "no_relation", [[0, 1], [2, 3]], ["KEEP", None]),
        ],
        "id string, tokens array<string>, label string,"
        " entities array<array<int>>, type array<string>",
    )
    lexicon = {"douglas": "PERSON", "paris": "CITY"}

    def factory(**options):
        return WhitespaceLexiconAnnotator(lexicon)

    out = {r.id: r for r in backfill_entity_types(spark, df, factory).collect()}
    assert list(out["x1"].type) == ["PERSON", "CITY"]
    assert list(out["x1"].tokens) == ["Douglas", "visited", "Paris", "today"]
    assert list(out["x2"].type) == ["KEEP", None]
