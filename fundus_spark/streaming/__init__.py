from .curate_stream import continuous_curation, curate_batch_into_corpus, read_corpus
from .stream import (
    conversations_with_inactivity_timeout,
    sessionized_conversations,
    stream_extract_articles,
    stream_first_wins_dedup,
    write_stream_to_parquet,
)

__all__ = [
    "continuous_curation",
    "conversations_with_inactivity_timeout",
    "curate_batch_into_corpus",
    "read_corpus",
    "sessionized_conversations",
    "stream_extract_articles",
    "stream_first_wins_dedup",
    "write_stream_to_parquet",
]
