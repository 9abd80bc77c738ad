from .doc_html import documents_as_transcripts
from .transcripts import build_transcripts, bulk_rows, golden_rows

__all__ = [
    "build_transcripts",
    "bulk_rows",
    "documents_as_transcripts",
    "golden_rows",
]
