"""In-repo fixture text for tests that need the reference sentences only
as input.

The first sentence is rebuilt from the golden marked tokens of
``test_text_core.py`` (``binary_rc_test.py:167-204``) by dropping the
four boundary markers; its gold mentions are the spans those markers
enclose plus the second PERSON. The golden tokens are lowercased, so
``IN_REPO_SENTENCES[0]`` gives back the fixture's casing for the five
words whose casing a repo document fixes, and leaves every other word
lowercase:

- "At" opens the sentence: ``test_linking_canonicalize.py:43`` selects
  the sentence-0 turn with ``text.startswith("At the same time")``;
- "Douglas Flint" and "Stephen Green" are the gold mention texts of
  ``test_pipeline_e2e.py:43-48`` and the spans named at
  ``sherlock_spark/model_stub.py:87``.

The other two sentences are built from the words of
``FIXTURE_NER_LEXICON`` so that every sentence carries several mentions.

Two helpers feed transcripts to tests that use the reference TACRED
sentences as input only. Wherever the reference fixture tree holds
``sources.transcripts.FIXTURE_TACRED`` they pass the caller's arguments
through unchanged, so the program reads the reference sentences; where
it is absent they use ``IN_REPO_SENTENCES``:

- ``synth_transcripts(spark, **kwargs)`` calls
  ``synth_transcripts_from_fixtures(spark, **kwargs)``, adding
  ``sentences=IN_REPO_SENTENCES`` only when the fixture file is absent;
- ``transcript_sentences()`` returns the sentences those transcripts
  are drawn from: ``fixture_sentences()`` or ``IN_REPO_SENTENCES``.
"""

import os

from sherlock_spark.sources.transcripts import (
    FIXTURE_TACRED,
    fixture_sentences,
    synth_transcripts_from_fixtures,
)
from test_text_core import GOLD_MARK_ENTITY

MARKERS = {"[head_start]", "[head_end]", "[tail_start]", "[tail_end]"}

SENTENCE_0_WORDS = [word for word in GOLD_MARK_ENTITY if word not in MARKERS]
# (start, end exclusive, label): douglas flint, chairman, stephen green
SENTENCE_0_MENTS = [(8, 10, "PERSON"), (12, 13, "TITLE"), (15, 17, "PERSON")]
# the fixture casing of sentence 0 that repo documents fix (see above)
SENTENCE_0_CASING = {
    "at": "At",
    "douglas": "Douglas",
    "flint": "Flint",
    "stephen": "Stephen",
    "green": "Green",
}

IN_REPO_SENTENCES = [
    " ".join(SENTENCE_0_CASING.get(word, word) for word in SENTENCE_0_WORDS),
    "julius baer and jeffrey white met in paris",
    "paris : montcourt , chairman of julius baer , left paris",
]


def synth_transcripts(spark, **kwargs):
    """``synth_transcripts_from_fixtures`` on the reference sentences
    where the fixture tree is present, else on ``IN_REPO_SENTENCES``."""
    if not os.path.exists(FIXTURE_TACRED):
        kwargs["sentences"] = IN_REPO_SENTENCES
    return synth_transcripts_from_fixtures(spark, **kwargs)


def transcript_sentences():
    """The sentences ``synth_transcripts`` draws turn text from."""
    if os.path.exists(FIXTURE_TACRED):
        return fixture_sentences()
    return IN_REPO_SENTENCES
