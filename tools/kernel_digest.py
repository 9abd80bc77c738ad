#!/usr/bin/env python3
"""Output digest and in-process speed of the extraction kernel.

    python tools/kernel_digest.py [--seed 1] [--reps 3]

Runs ``plans/extract_stage.py::_row_extract`` (partition id 0) over the
turns of the ``extract`` benchmark's seed-N input, the table
``perfbench/gen.py::transcripts(seed)`` that ``write_inputs("extract",
seed, ...)`` writes (9,995 turns at seed 1), in table order. Prints one
JSON line:

* ``sha256``: sha256 over the concatenated ``repr`` of every output
  tuple. An extraction change that keeps output byte-identical keeps
  this digest; compare it at the parent and the change.
* ``us_per_turn``: the fastest of ``--reps`` timed passes, in
  microseconds per turn (the untimed digest pass warms the rule imports
  and selector compilation first). On a shared host, run the parent
  and the change interleaved and compare the minima.

This is the recipe behind the older ``8c3a8d45…`` figure (seed 1). That
digest changed to ``aa06763a…`` when the extraction stage moved onto
``operators/adaptive.py::map_rows``: ``_row_extract`` has since put
``publishing_date_ts`` in UTC itself, where the Arrow conversion did it
before, so the tuples' ``repr`` changed while the written column did not.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

COLUMNS = ("conv_id", "turn_idx", "role", "tool", "ts", "text")


def turns(seed: int) -> list:
    """The seed's extract turns as ``_row_extract`` argument tuples."""
    from perfbench.gen import transcripts

    table, _, _ = transcripts(seed)
    return list(zip(*[table.column(c).to_pylist() for c in COLUMNS]))


def digest(rows: list) -> str:
    from fundus_spark.plans.extract_stage import _row_extract

    h = hashlib.sha256()
    for row in rows:
        h.update(repr(_row_extract(*row, 0)).encode())
    return h.hexdigest()


def us_per_turn(rows: list) -> float:
    from fundus_spark.plans.extract_stage import _row_extract

    start = time.perf_counter()
    for row in rows:
        _row_extract(*row, 0)
    return (time.perf_counter() - start) / len(rows) * 1e6


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args(argv)
    rows = turns(args.seed)
    sha = digest(rows)
    timings = [us_per_turn(rows) for _ in range(args.reps)]
    print(
        json.dumps(
            {
                "seed": args.seed,
                "turns": len(rows),
                "sha256": sha,
                "us_per_turn": round(min(timings), 1),
                "reps_us": [round(t, 1) for t in timings],
            }
        )
    )


if __name__ == "__main__":
    main()
