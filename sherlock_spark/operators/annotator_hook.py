"""Pluggable heavy-annotator stage (O3, the spaCy-annotator shape).

Reference: ``sherlock/annotators/spacy.py:122-178`` — a batch NLP
pipeline (tokenize/tag/parse/sentencize + NER) applied per document,
with a module-level model cache keyed by construction options
(``spacy.py:17,24-55``) so the expensive load happens once per process
(here the key also folds in the factory's serialized identity, since
unlike the reference the factory is arbitrary user code).

spaCy itself is not in this container; this module provides the
*interface* as production code: ``annotate_with`` runs any user-supplied
annotator through ``mapInPandas`` under the executor-singleton contract:

- ``factory(**options)`` is called at most once per Python worker per
  distinct (factory, options) key — the reference's model cache;
- the annotator exposes ``pipe(texts: list[str]) -> list[dict]`` where
  each dict has ``tokens`` (start, end, lemma, pos, tag, dep, dep_head,
  ent_type tuples), ``sents`` and ``ments`` ((start, end, label)
  tuples) — the Document fields the spaCy annotator fills
  (``spacy.py:145-165``);
- batches are Arrow batches — the ``spacy.pipe`` batching analogue;
- weights/config must arrive via the factory's own loading (SparkFiles,
  package data, ...), never pickled per row.

A real spaCy deployment plugs in as
``annotate_with(spark, df, lambda **o: SpacyBridge(spacy.load(o["model"])),
{"model": "en_core_web_sm"})`` with a ~10-line bridge.
"""

from __future__ import annotations

import hashlib
import json
from functools import partial
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sherlock_spark.executor import executor_model

TOKEN_FIELDS = T.StructType(
    [
        T.StructField("start", T.IntegerType()),
        T.StructField("end", T.IntegerType()),
        T.StructField("lemma", T.StringType()),
        T.StructField("pos", T.StringType()),
        T.StructField("tag", T.StringType()),
        T.StructField("dep", T.StringType()),
        T.StructField("dep_head", T.IntegerType()),
        T.StructField("ent_type", T.StringType()),
    ]
)
SPAN_FIELDS = T.StructType(
    [
        T.StructField("start", T.IntegerType()),
        T.StructField("end", T.IntegerType()),
        T.StructField("label", T.StringType()),
    ]
)


class WhitespaceLexiconAnnotator:
    """Reference implementation of the annotator contract (and the
    deterministic spaCy stand-in used in tests): whitespace tokens with
    char offsets, one full-width sentence, lexicon NER — plus an opaque
    weight blob allocated at construction, standing in for the heavy
    model load the singleton contract exists for.
    """

    def __init__(self, lexicon: dict[str, str], weight_mb: int = 0):
        self.lexicon = lexicon
        self.weights = bytearray(weight_mb * 1024 * 1024)

    def pipe(self, texts: list[str]):
        for text in texts:
            tokens, ments = [], []
            pos = 0
            words = text.split(" ")
            for i, word in enumerate(words):
                end = pos + len(word)
                label = self.lexicon.get(word.lower())
                tokens.append((pos, end, word, None, None, None, None, label))
                if label:
                    ments.append((i, i + 1, label))
                pos = end + 1
            yield {
                "tokens": tokens,
                "sents": [(0, len(words), None)],
                "ments": ments,
            }


def annotate_with(
    spark: SparkSession,
    df: DataFrame,
    factory: Callable,
    options: dict | None = None,
    text_col: str = "text",
    with_load_counter: bool = False,
) -> DataFrame:
    """Append ``tokens``/``sents``/``ments`` columns produced by a
    factory-built annotator. Narrow (no shuffle); one Python stage.

    ``factory`` must be picklable by cloudpickle (top-level or local
    function); heavyweight state belongs INSIDE the object it returns,
    constructed on the worker, not captured in the closure.
    """
    options = dict(options or {})
    # Key = factory IDENTITY (serialized bytes, so two same-named
    # closures capturing different state — e.g. different lexicons —
    # get distinct cache slots) + options. cloudpickle is what ships
    # the factory to the worker anyway, so its byte stream is exactly
    # the identity the worker will execute.
    from pyspark import cloudpickle

    try:
        factory_id = hashlib.md5(cloudpickle.dumps(factory)).hexdigest()
    except Exception:
        factory_id = repr(factory)
    cache_key = (
        f"{getattr(factory, '__module__', '?')}."
        f"{getattr(factory, '__qualname__', repr(factory))}"
        f":{factory_id}"
        f":{json.dumps(options, sort_keys=True, default=str)}"
    )

    extra = [
        T.StructField("tokens", T.ArrayType(TOKEN_FIELDS)),
        T.StructField("sents", T.ArrayType(SPAN_FIELDS)),
        T.StructField("ments", T.ArrayType(SPAN_FIELDS)),
    ]
    if with_load_counter:
        extra.append(T.StructField("annotator_loads", T.IntegerType()))
    out_schema = T.StructType(list(df.schema.fields) + extra)

    process = _make_process(cache_key, factory, options, text_col, with_load_counter)
    return df.mapInPandas(process, out_schema)


def _make_process(cache_key, factory, options, text_col, with_load_counter):
    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per-worker singleton, keyed by (factory identity, options) — the
        # reference model cache (``spacy.py:17,24-55``)
        annotator, loads = executor_model(cache_key, partial(factory, **options))
        for pdf in batches:
            annotations = list(annotator.pipe(pdf[text_col].tolist()))
            pdf = pdf.copy()
            pdf["tokens"] = [a["tokens"] for a in annotations]
            pdf["sents"] = [a.get("sents", []) for a in annotations]
            pdf["ments"] = [a.get("ments", []) for a in annotations]
            if with_load_counter:
                pdf["annotator_loads"] = loads
            yield pdf

    return process


def backfill_entity_types(
    spark: SparkSession,
    df: DataFrame,
    factory: Callable,
    options: dict | None = None,
) -> DataFrame:
    """O14 (``utils.py:114-125`` predict_entity_type): fill a missing or
    incomplete ``type`` column of DFKI-shaped rows by running the
    pluggable annotator over the (space-joined) tokens and taking the
    FIRST non-O token entity type inside each entity span; spans with no
    tagged token keep their existing value (or NULL).

    The annotator sees exactly the example's tokens because the text is
    their space-join (the whitespace-tokenizer invariant), so token
    indices line up 1:1.
    """
    # the hook emits its own annotated ``tokens`` struct column — move
    # the example's plain token strings aside to avoid the name clash
    with_text = df.withColumnRenamed("tokens", "_orig_tokens").withColumn(
        "_bf_text", F.concat_ws(" ", F.col("_orig_tokens"))
    )
    annotated = annotate_with(
        spark, with_text, factory, options, text_col="_bf_text"
    )

    def span_type(idx: int):
        span = F.col("entities")[idx]
        tagged = F.filter(
            F.slice(
                F.col("tokens"),
                span[0] + 1,
                span[1] - span[0],
            ),
            lambda t: t["ent_type"].isNotNull() & (t["ent_type"] != "O"),
        )
        first = F.get(tagged, 0)["ent_type"]  # NULL-safe on empty arrays
        # strip a BIO prefix when the annotator emits tagged spans
        clean = F.when(
            first.rlike("^[BI]-"), F.substring(first, 3, 2147483647)
        ).otherwise(first)
        existing = (
            F.col("type")[idx]
            if "type" in df.columns
            else F.lit(None).cast("string")
        )
        return F.coalesce(clean, existing)

    return annotated.select(
        *[c for c in df.columns if c not in ("tokens", "type")],
        F.col("_orig_tokens").alias("tokens"),
        F.array(span_type(0), span_type(1)).alias("type"),
    )
