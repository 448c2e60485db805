"""CoNLL-2003 reader as a distributed line-group scan.

Parity target: ``sherlock/dataset_readers/conll_2003.py:107-173``
(SURVEY.md §2.1 S3): sentences are runs of lines delimited by blank
lines or ``-DOCSTART-``; each line is ``token pos chunk ner``; guids are
``{basename}-{n}`` starting at 1; mentions decoded from IOB1 tags with
seqeval semantics, end made exclusive.

Spark shape: ``spark.read.text`` preserves no global order, so we
recover it with ``monotonically_increasing_id`` (valid because
``text`` reads line-ranges in file order within partitions and a file's
splits get partition ids ordered by offset), then assign sentence
groups with a running conditional-sum window PARTITIONED PER FILE
(``input_file_name``). Line numbering, sentence grouping, and guid
numbering are all per-file in the format's own semantics (guids restart
at 1 per basename), so the per-file window loses nothing and the reader
scales with the number of input files — a directory of N corpus shards
runs N-wide with no single-partition exchange. The IOB1 decode is an
Arrow-batched pandas UDF sharing ``get_entities_conll`` with the
pure-Python codec.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sherlock_spark.text.spans import get_entities_conll


_MENTS_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("start", T.IntegerType(), False),
            T.StructField("end", T.IntegerType(), False),
            T.StructField("label", T.StringType(), True),
        ]
    )
)


@F.pandas_udf(_MENTS_SCHEMA)
def _iob1_mentions(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """seqeval-exact IOB1 decode (conll_2003.py:170-172), end exclusive.

    Arrow-batched; the decode itself is the shared pure-Python codec
    (one short tag list per row — the per-row cost is trivial, the
    batching removes the per-row serialization of a plain F.udf).
    """
    for series in batches:
        out = []
        for ner_tags in series:
            if ner_tags is None:
                out.append([])
            else:
                out.append(
                    [
                        {"start": start, "end": end + 1, "label": label}
                        for label, start, end in get_entities_conll(
                            list(ner_tags)
                        )
                    ]
                )
        yield pd.Series(out)


def read_conll2003(spark: SparkSession, file_path: str) -> DataFrame:
    """CoNLL file (or directory of files) -> document rows
    (guid, text, tokens, sents, ments). Each input file is an
    independent unit: its own line order, sentence numbering, and guid
    prefix (the file's basename) — so the whole reader parallelizes
    per file."""
    lines = spark.read.text(file_path).select(
        F.col("value"),
        F.input_file_name().alias("fname"),
        F.monotonically_increasing_id().alias("line_id"),
    )

    is_break = F.col("value").startswith("-DOCSTART-") | (
        F.trim(F.col("value")) == ""
    )
    # running sum per FILE — parallelism = number of input files; never
    # a single-partition global window
    window = Window.partitionBy("fname").orderBy("line_id")
    grouped = lines.withColumn(
        "group_id", F.sum(F.when(is_break, 1).otherwise(0)).over(window)
    ).filter(~is_break)

    sentences = (
        grouped.withColumn("parts", F.split(F.col("value"), " "))
        .groupBy("fname", "group_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("line_id"), F.col("parts")))
            ).alias("rows")
        )
        .select(
            "fname",
            "group_id",
            F.transform(F.col("rows"), lambda r: r["parts"][0]).alias("words"),
            F.transform(
                F.col("rows"),
                lambda r: F.when(
                    F.size(r["parts"]) > 1, F.element_at(r["parts"], -1)
                ),
            ).alias("ner"),
        )
    )

    # guid index n starts at 1 in file order (conll_2003.py:121,131-136),
    # numbered per file; the guid prefix is the file's own basename
    # (input_file_name returns a URL-encoded URI — strip the path, then
    # decode)
    guid_window = Window.partitionBy("fname").orderBy("group_id")
    sentences = sentences.withColumn(
        "n", F.row_number().over(guid_window)
    ).withColumn(
        "split", F.url_decode(F.regexp_extract("fname", "([^/]+)$", 1))
    )

    offsets = F.aggregate(
        F.col("words"),
        F.struct(
            F.lit(0).alias("pos"),
            F.expr(
                "cast(array() as array<struct<start:int,end:int,lemma:string>>)"
            ).alias("offs"),
        ),
        lambda acc, token: F.struct(
            (acc["pos"] + F.length(token) + F.lit(1)).alias("pos"),
            F.array_append(
                acc["offs"],
                F.struct(
                    acc["pos"].cast("int").alias("start"),
                    (acc["pos"] + F.length(token)).cast("int").alias("end"),
                    token.alias("lemma"),
                ),
            ).alias("offs"),
        ),
        lambda acc: acc["offs"],
    )

    return sentences.select(
        F.concat(F.col("split"), F.lit("-"), F.col("n")).alias("guid"),
        F.concat_ws(" ", F.col("words")).alias("text"),
        F.transform(
            offsets,
            lambda off, i: F.struct(
                off["start"].alias("start"),
                off["end"].alias("end"),
                off["lemma"].alias("lemma"),
                F.col("ner")[i].alias("ent_type"),
            ),
        ).alias("tokens"),
        F.array(
            F.struct(
                F.lit(0).alias("start"),
                F.size("words").cast("int").alias("end"),
                F.lit(None).cast("string").alias("label"),
            )
        ).alias("sents"),
        _iob1_mentions(F.col("ner")).alias("ments"),
    )

