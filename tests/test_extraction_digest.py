"""Frozen extraction output: the per-row function the extraction stage
runs (``plans/extract_stage.py::_row_extract``) must keep producing
exactly the rows recorded here, over the ``extract`` benchmark's page
mix: ``sources.transcripts.bulk_rows`` generic articles plus the
``rich`` rule's page shape (``perfbench/gen.py::transcripts``, seed 1).

The digest is a sha256 over ``repr`` of every output tuple, one per
line, in input order. It was generated before the kernel's tokenizer,
body text, descendant steps and ISO dates were rewritten; regenerate it
(``python -m tests.test_extraction_digest``) only for an intended change
of extraction output, never to make this pass.
"""

from __future__ import annotations

import hashlib
import sys

N_TURNS = 2500
DIGEST = "5ed1a30c546f6fd50392aa2bacac21fa7f2d4d101fb19ed0e1c1005795eba25d"


def extraction_digest() -> tuple:
    """(turns, generic turns, rich turns, sha256 of the output rows)."""
    from fundus_spark.plans.extract_stage import _row_extract
    from perfbench.gen import ExtractShape, transcripts

    table, _, _ = transcripts(1, ExtractShape(n_turns=N_TURNS))
    h = hashlib.sha256()
    tools = table.column("tool").to_pylist()
    for row in table.to_pylist():
        out = _row_extract(row["conv_id"], row["turn_idx"], row["role"], row["tool"], row["ts"], row["text"], 0)
        h.update(repr(out).encode() + b"\n")
    return len(tools), tools.count("generic"), tools.count("rich"), h.hexdigest()


def test_extraction_output_matches_frozen_digest():
    turns, generic, rich, digest = extraction_digest()
    assert turns >= 2000 and generic > 0 and rich > 0
    assert digest == DIGEST


if __name__ == "__main__":
    print(extraction_digest(), file=sys.stdout)
