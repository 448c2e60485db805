"""Sinks beyond the checkpointed parquet tables (SURVEY.md §2.5).

- K5: brat visualization dicts (``sherlock/microscope/conversion/
  brat.py:57-111`` produces {text, entities:[[id,label,[[s,e]]]...],
  relations:[[id,label,[[role,ent_id]...]]...]}) — derived here from a
  document's mentions/triples with char offsets.
"""

from __future__ import annotations


def to_brat(document_row) -> dict:
    """One annotated document row (text, tokens with char offsets,
    ments, rels) -> a brat-style dict. Driver-side convenience for
    visualization; not a distributed path.
    """
    tokens = document_row["tokens"]
    entities = []
    for idx, ment in enumerate(document_row["ments"] or []):
        char_start = tokens[ment["start"]]["start"]
        char_end = tokens[ment["end"] - 1]["end"]
        entities.append([f"T{idx + 1}", ment["label"], [[char_start, char_end]]])
    relations = []
    for idx, rel in enumerate(document_row["rels"] or []):
        relations.append(
            [
                f"R{idx + 1}",
                rel["label"],
                [["head", f"T{rel['head_idx'] + 1}"], ["tail", f"T{rel['tail_idx'] + 1}"]],
            ]
        )
    return {
        "text": document_row["text"],
        "entities": entities,
        "relations": relations,
    }
