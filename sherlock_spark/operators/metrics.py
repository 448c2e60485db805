"""Evaluation metrics as DataFrame aggregations.

- RC: micro precision/recall/F1 excluding the negative label —
  reference ``sherlock/metrics/f1_score.py:5-26`` (sklearn micro with
  label 0 = ``no_relation`` excluded, wired at
  ``run_binary_relation_clf.py:375``).
- Pair overflow: the ``max_mentions`` cap, counted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def triple_prf(pred: DataFrame, gold: DataFrame) -> dict[str, float]:
    """Exact-match micro P/R/F1 between two triples tables.

    Both tables must already exclude the negative label (the pipeline
    drops ``no_relation`` like the reference annotator). Match key:
    (conv_id, turn_idx, subj_text, pred, obj_text).
    """
    key = ["conv_id", "turn_idx", "subj_text", "pred", "obj_text"]
    n_pred = pred.count()
    n_gold = gold.count()
    n_match = pred.select(key).distinct().join(
        gold.select(key).distinct(), on=key, how="inner"
    ).count()
    precision = n_match / n_pred if n_pred else 0.0
    recall = n_match / n_gold if n_gold else 0.0
    f1 = (
        2 * precision * recall / (precision + recall)
        if precision + recall
        else 0.0
    )
    return {
        "precision": precision,
        "recall": recall,
        "f1": f1,
        "n_pred": n_pred,
        "n_gold": n_gold,
        "n_match": n_match,
    }


def pair_overflow_stats(
    annotated: DataFrame, max_mentions: int = 16
) -> DataFrame:
    """Counted pair overflow — the SURVEY §4 promise that the
    ``max_mentions`` cap in ``enumerate_pairs`` (operators/rc.py) lands
    in metrics rather than silently vanishing (or OOMing without the
    cap). One aggregation row:

    - ``n_turns`` / ``n_overflow_turns``: turns seen / turns whose
      mention count exceeded the cap.
    - ``n_mentions_dropped``: mentions beyond the cap, summed.
    - ``n_pairs_dropped``: ordered pairs the cap suppressed, summed —
      per overflowing turn with m mentions that is
      ``m*(m-1) - cap*(cap-1)``.

    Pure JVM aggregation over the SAME annotated input the pair
    enumeration consumes, so the numbers reconcile exactly with the
    emitted pair count: sum(m'*(m'-1)) over capped m' + n_pairs_dropped
    == sum(m*(m-1)) uncapped.
    """
    m = F.size("ments").cast("long")
    cap = F.lit(max_mentions).cast("long")
    capped = F.least(m, cap)
    over = m > cap
    return annotated.agg(
        F.count("*").alias("n_turns"),
        F.sum(F.when(over, 1).otherwise(0)).cast("long").alias(
            "n_overflow_turns"
        ),
        F.coalesce(
            F.sum(F.when(over, m - cap).otherwise(F.lit(0))), F.lit(0)
        ).cast("long").alias("n_mentions_dropped"),
        F.coalesce(
            F.sum(
                F.when(
                    over, m * (m - 1) - capped * (capped - 1)
                ).otherwise(F.lit(0))
            ),
            F.lit(0),
        ).cast("long").alias("n_pairs_dropped"),
    )

