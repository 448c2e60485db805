"""Sources: transcript synthesis and dataset readers (SURVEY.md §2.1)."""

from sherlock_spark.sources.tacred import read_tacred, tacred_labels, tacred_additional_tokens
from sherlock_spark.sources.conll import read_conll2003
from sherlock_spark.sources.transcripts import (
    synth_transcripts_from_fixtures,
    transcripts_from_documents,
)

__all__ = [
    "read_tacred",
    "tacred_labels",
    "tacred_additional_tokens",
    "read_conll2003",
    "synth_transcripts_from_fixtures",
    "transcripts_from_documents",
]
