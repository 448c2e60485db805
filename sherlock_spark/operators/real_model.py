"""Optional-import real-model backends for the NER/RC bundle loaders.

The container ships no torch/transformers, so the model UDFs run the
deterministic stubs (``model_stub.py``). On a real cluster the SAME
code activates real Hugging-Face models with ZERO code change — the
``default_image_decoder`` pattern (``functions/multimodal.py``) applied
to the model seam: at executor-side bundle load,

1. if ``torch`` + ``transformers`` import AND the bundle directory
   contains a real HF checkpoint (``config.json`` plus
   ``model.safetensors`` or ``pytorch_model.bin``), the forward is the
   real model;
2. otherwise the stub loads exactly as before.

The wrappers keep the stub interface (``predict_tags`` /
``forward_pairs``) so everything around them — SparkFiles
distribution, per-worker singleton load, Arrow batching, argmax
decode — is identical on both paths. Inside each wrapper the Arrow
batch is sub-batched to ``batch_size`` model forwards, mirroring the
reference's document-batch -> model-batch loop
(``transformers_annotator.py:31,60-61`` — default batch_size 16 —
and its eval + no_grad forward at ``transformers_annotator.py:103-110``):
an Arrow batch is ~10k rows, a transformer forward wants tens, and the
sub-batching bounds activation memory per forward.

Nothing here imports torch at module import time — detection happens
inside ``maybe_real_*`` so the module is importable (and cloudpickles
into UDF closures) on torch-less machines.
"""

from __future__ import annotations

import os

import numpy as np

# default model batch per forward (reference transformers_annotator.py:31)
MODEL_BATCH_SIZE = 16

_WEIGHT_FILES = ("model.safetensors", "pytorch_model.bin")


def has_hf_checkpoint(local_dir: str) -> bool:
    """True when the directory holds a real HF checkpoint: config.json
    plus torch weights. The stub bundles written by
    ``save_pretrained_dir``/``save_rc_pretrained_dir`` carry neither
    (their payload is weights.npz), so stub bundles never false-positive
    into the real path."""
    if not os.path.exists(os.path.join(local_dir, "config.json")):
        return False
    return any(
        os.path.exists(os.path.join(local_dir, name))
        for name in _WEIGHT_FILES
    )


def _torch_stack():
    """(torch, transformers) when both import, else None — the
    optional-import gate. sys.modules entries set to None (the standard
    block-an-import test/deploy trick) raise ImportError like a missing
    package."""
    try:
        import torch
        import transformers
    except ImportError:
        return None
    return torch, transformers


class HfNerModel:
    """Real token-classification forward behind the stub's
    ``predict_tags`` interface.

    Sub-batches ``batch_size`` sentences per forward; aligns subword
    predictions back to words via ``word_ids`` taking each word's FIRST
    subword — the inverse of the -100 alignment the feature converter
    uses (reference ``token_classification.py:86-146``); emits the
    checkpoint's own tag vocabulary (``config.id2label``)."""

    def __init__(self, local_dir: str, batch_size: int = MODEL_BATCH_SIZE):
        torch, transformers = _torch_stack()
        self._torch = torch
        self.tokenizer = transformers.AutoTokenizer.from_pretrained(local_dir)
        self.model = transformers.AutoModelForTokenClassification.from_pretrained(
            local_dir
        )
        self.model.eval()
        self.id2label = {
            int(k): v for k, v in self.model.config.id2label.items()
        }
        self.batch_size = batch_size

    def predict_tags(self, token_lists: list[list[str]]) -> list[list[str]]:
        torch = self._torch
        tags: list[list[str]] = []
        for start in range(0, len(token_lists), self.batch_size):
            chunk = token_lists[start : start + self.batch_size]
            enc = self.tokenizer(
                chunk,
                is_split_into_words=True,
                padding=True,
                truncation=True,
                return_tensors="pt",
            )
            with torch.no_grad():
                logits = self.model(**enc).logits
            pred = logits.argmax(dim=-1).tolist()
            for i, words in enumerate(chunk):
                word_ids = enc.word_ids(i)
                row = ["O"] * len(words)
                seen: set[int] = set()
                for pos, wid in enumerate(word_ids):
                    if wid is None or wid in seen or wid >= len(words):
                        continue
                    seen.add(wid)
                    row[wid] = self.id2label[int(pred[i][pos])]
                tags.append(row)
        return tags


class HfRcModel:
    """Real sequence-classification forward behind the stub's
    ``forward_pairs`` interface.

    Input text per pair is the typed pair key
    ``"<subj_type> <subj_text> [SEP] <obj_type> <obj_text>"``: every RC
    model call (``rc.rc_model_udf``) ships exactly four scalar strings
    per pair, and feature bookkeeping is JVM-side, so no model — stub or
    real — ever sees a marked sentence. A checkpoint trained on marked
    sentences needs those inputs built first. Output logits are
    re-ordered to the BUNDLE's label vocabulary
    (``converter_label_vocab.txt``) via the checkpoint's ``label2id`` so
    the annotator's argmax decode (``transformers_binary_rc.py:42-46``)
    works unchanged."""

    def __init__(
        self,
        local_dir: str,
        labels: list[str],
        batch_size: int = MODEL_BATCH_SIZE,
    ):
        torch, transformers = _torch_stack()
        self._torch = torch
        self.tokenizer = transformers.AutoTokenizer.from_pretrained(local_dir)
        self.model = (
            transformers.AutoModelForSequenceClassification.from_pretrained(
                local_dir
            )
        )
        self.model.eval()
        self.labels = list(labels)
        label2id = getattr(self.model.config, "label2id", None) or {}
        # column j of the emitted logits = bundle label j. Use the
        # checkpoint's label2id only when it covers the FULL bundle
        # vocabulary: a partial map's per-label positional fallback
        # could route two bundle labels to the same logit column and
        # silently decode wrong relations. Identity when uncovered.
        if all(label in label2id for label in self.labels):
            self._col_of = [int(label2id[label]) for label in self.labels]
            if len(set(self._col_of)) != len(self._col_of):
                raise ValueError(
                    f"checkpoint label2id maps bundle labels to duplicate "
                    f"columns: {dict(zip(self.labels, self._col_of))}"
                )
        else:
            self._col_of = list(range(len(self.labels)))
        self.batch_size = batch_size

    def forward_pairs(
        self, pairs: list[tuple[str, str, str, str]]
    ) -> np.ndarray:
        torch = self._torch
        out = np.empty((len(pairs), len(self.labels)), dtype=np.float64)
        for start in range(0, len(pairs), self.batch_size):
            chunk = pairs[start : start + self.batch_size]
            texts = [
                f"{subj_type} {subj_text} [SEP] {obj_type} {obj_text}"
                for subj_type, obj_type, subj_text, obj_text in chunk
            ]
            enc = self.tokenizer(
                texts, padding=True, truncation=True, return_tensors="pt"
            )
            with torch.no_grad():
                logits = self.model(**enc).logits
            arr = np.asarray(logits.tolist(), dtype=np.float64)
            out[start : start + len(chunk)] = arr[:, self._col_of]
        return out


def maybe_real_ner_model(local_dir: str):
    """HfNerModel when torch/transformers import AND the dir holds a
    real checkpoint; None otherwise (caller falls back to the stub)."""
    if _torch_stack() is None or not has_hf_checkpoint(local_dir):
        return None
    return HfNerModel(local_dir)


def maybe_real_rc_model(local_dir: str, labels: list[str]):
    """HfRcModel when torch/transformers import AND the dir holds a
    real checkpoint; None otherwise (caller falls back to the stub)."""
    if _torch_stack() is None or not has_hf_checkpoint(local_dir):
        return None
    return HfRcModel(local_dir, labels)
