from .assemble import assemble_conversations, ordered_turns
from .curate import curate_corpus, curate_increment
from .curate_job import CurateJobResult, run_curate_job
from .extract_stage import EXTRACTION_SCHEMA, extract_articles
from .frozen_store import (
    append_frozen_parts,
    read_frozen_state,
    stream_frozen_relations,
    write_frozen_state,
)
from .job import JobResult, run_extraction_job
from .session import build_session

__all__ = [
    "CurateJobResult",
    "EXTRACTION_SCHEMA",
    "JobResult",
    "assemble_conversations",
    "build_session",
    "curate_corpus",
    "curate_increment",
    "extract_articles",
    "append_frozen_parts",
    "read_frozen_state",
    "stream_frozen_relations",
    "write_frozen_state",
    "ordered_turns",
    "run_curate_job",
    "run_extraction_job",
]
