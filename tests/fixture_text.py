"""In-repo fixture text for tests that need the reference sentences only
as input.

The first sentence is rebuilt from the golden marked tokens of
``test_text_core.py`` (``binary_rc_test.py:167-204``) by dropping the
four boundary markers; its gold mentions are the spans those markers
enclose plus the second PERSON. The other two sentences are built from
the words of ``FIXTURE_NER_LEXICON`` so that every sentence carries
several mentions.
"""

from test_text_core import GOLD_MARK_ENTITY

MARKERS = {"[head_start]", "[head_end]", "[tail_start]", "[tail_end]"}

SENTENCE_0_WORDS = [word for word in GOLD_MARK_ENTITY if word not in MARKERS]
# (start, end exclusive, label): douglas flint, chairman, stephen green
SENTENCE_0_MENTS = [(8, 10, "PERSON"), (12, 13, "TITLE"), (15, 17, "PERSON")]

IN_REPO_SENTENCES = [
    " ".join(SENTENCE_0_WORDS),
    "julius baer and jeffrey white met in paris",
    "paris : montcourt , chairman of julius baer , left paris",
]
