"""Spark-free reference outputs, computed once per seed.

Re-derives what the KG path must produce from the generated turns alone:
lexicon tagging (single-token ``B-`` mentions), ordered mention pairs
capped at ``max_mentions``, the stub RC decision (the first six decimal
digits of md5 over ``subj_type|obj_type|subj|obj``, mod the label
count; re-derived here, not imported, so a fault in the program's copy
shows),
alias linking, connected-components canonical ids (lexicographic min
node id) and the node/edge aggregation. Entity cutoff never fires on the
generated turns (``check_no_cutoff``), so no marking arithmetic is
needed.
"""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict
from functools import lru_cache

from sherlock_spark.model_stub import DEFAULT_RC_LABELS

MAX_LENGTH = 128  # run_kg_pipeline's default subword budget
LABELS = DEFAULT_RC_LABELS


@lru_cache(maxsize=1 << 16)
def rc_label(key: str) -> str:
    digits = "".join(c for c in hashlib.md5(key.encode("utf-8")).hexdigest() if c.isdigit())
    return LABELS[int((digits + "000000")[:6]) % len(LABELS)]


def mentions(words: list[str], lexicon: dict[str, str]) -> list[tuple[int, str]]:
    """(token index, type) of every lexicon word, in position order."""
    out = []
    for i, word in enumerate(words):
        tag = lexicon.get(word.lower(), "O")
        if tag.startswith("B-"):
            out.append((i, tag[2:]))
    return out


def check_no_cutoff(turns: list[tuple[str, int, str]]) -> None:
    """Every generated word is one subword piece, so the marked sequence
    of a turn is its word count + 4 markers + 2 specials."""
    longest = max(len(text.split(" ")) for _, _, text in turns)
    if longest + 6 > MAX_LENGTH:
        raise ValueError(f"a generated turn has {longest} words; entity cutoff could fire")


def turn_triples(
    words: list[str], lexicon: dict[str, str], max_mentions: int = 16
) -> list[tuple[int, int, str, str, str, str, str]]:
    """(head_idx, tail_idx, subj, subj_type, pred, obj, obj_type) for one turn."""
    ments = mentions(words, lexicon)[:max_mentions]
    out = []
    for h, (hpos, htype) in enumerate(ments):
        for t, (tpos, ttype) in enumerate(ments):
            if h == t:
                continue
            subj, obj = words[hpos], words[tpos]
            pred = rc_label(f"{htype}|{ttype}|{subj}|{obj}")
            if pred != "no_relation":
                out.append((h, t, subj, htype, pred, obj, ttype))
    return out


def model_keys(turns, lexicon, max_mentions: int = 16) -> tuple[int, int]:
    """(pairs the RC model is fed, distinct model keys among them)."""
    pairs = 0
    keys = set()
    for _conv, _idx, text in turns:
        words = text.split(" ")
        ments = mentions(words, lexicon)[:max_mentions]
        pairs += len(ments) * (len(ments) - 1)
        keys.update(
            (ht, tt, words[hp], words[tp])
            for h, (hp, ht) in enumerate(ments)
            for t, (tp, tt) in enumerate(ments)
            if h != t
        )
    return pairs, len(keys)


def stream_reference(turns, lexicon) -> dict[tuple[str, int], Counter]:
    """Per turn key: the multiset of triples the stream must commit."""
    return {
        (conv, idx): Counter(turn_triples(text.split(" "), lexicon))
        for conv, idx, text in turns
    }


class _UnionFind:
    def __init__(self) -> None:
        self.parent: dict[str, str] = {}

    def find(self, x: str) -> str:
        self.parent.setdefault(x, x)
        root = x
        while self.parent[root] != root:
            root = self.parent[root]
        while self.parent[x] != root:
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, a: str, b: str) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[ra] = rb


def graph_reference(turns, lexicon, aliases, max_mentions: int = 16):
    """(nodes, edges) as sets of tuples in the shape ``graph_rows`` reads
    back from Spark: nodes (canonical_id, label, surface_forms tuple),
    edges (subj_id, pred, obj_id, n_evidence). Also returns counts the
    benchmark reports (evidence rows, link edges)."""
    kb_of = {(alias.lower(), ent_type): kb for alias, kb, ent_type in aliases}
    evidence: Counter = Counter()
    surfaces: set[tuple[str, str]] = set()
    for _conv, _idx, text in turns:
        words = text.split(" ")
        for pos, ent_type in mentions(words, lexicon):
            surfaces.add((words[pos].lower(), ent_type))
        for _h, _t, subj, st, pred, obj, ot in turn_triples(words, lexicon, max_mentions):
            evidence[(subj.lower(), st, pred, obj.lower(), ot)] += 1

    uf = _UnionFind()
    link_edges = 0
    for norm, ent_type in surfaces:
        kb = kb_of.get((norm, ent_type))
        if kb is not None:
            uf.union(f"a:{ent_type}:{norm}", f"k:{kb}")
            link_edges += 1
    members: dict[str, list[str]] = defaultdict(list)
    for node in uf.parent:
        members[uf.find(node)].append(node)
    component = {node: min(group) for group in members.values() for node in group}

    def canonical(norm: str, ent_type: str) -> str:
        node = f"a:{ent_type}:{norm}"
        return component.get(node, node)

    edges: Counter = Counter()
    node_forms: dict[tuple[str, str], set[str]] = defaultdict(set)
    for (sn, st, pred, on, ot), count in evidence.items():
        sid, oid = canonical(sn, st), canonical(on, ot)
        edges[(sid, pred, oid)] += count
        node_forms[(sid, st)].add(sn)
        node_forms[(oid, ot)].add(on)
    nodes = {(cid, label, tuple(sorted(forms))) for (cid, label), forms in node_forms.items()}
    edge_rows = {(s, p, o, n) for (s, p, o), n in edges.items()}
    stats = {"evidence_rows": sum(evidence.values()), "link_edges": link_edges}
    return nodes, edge_rows, stats
