"""The ``kernel`` layer: an in-process, single-threaded replay of the
extraction kernel on a fixed sample of ``extract`` turns, timing calls
into the kernel's public functions phase by phase (no Spark)."""

from __future__ import annotations

import importlib
import statistics
import time
from typing import Dict, List, Tuple

Turn = Tuple[str, str, object]  # (tool, html, ts)


def replay(turns: List[Turn], reps: int = 3) -> Dict[str, float]:
    """Mean microseconds per turn for each phase (median over ``reps``
    replays of the whole sample).

    * ``parse_us`` ``dom.parse_html``; ``meta_us`` ``meta.harvest_meta``;
      ``jsonld_us`` ``jsonld.extract_linked_data``;
    * ``rules_us`` ``run_extraction`` minus ``build_context`` (the three
      phases above);
    * ``post_us`` ``body.body_to_plaintext`` plus ``lang.heuristic_language``;
    * ``total_us`` the whole per-row function the Spark stage runs.
    """
    from fundus_spark.kernel import run_extraction
    from fundus_spark.kernel.body import body_to_plaintext
    from fundus_spark.kernel.dom import parse_html
    from fundus_spark.kernel.jsonld import extract_linked_data
    from fundus_spark.kernel.lang import heuristic_language
    from fundus_spark.kernel.meta import harvest_meta
    from fundus_spark.plans.extract_stage import _row_extract
    from fundus_spark.rules import resolve

    clock = time.perf_counter
    specs = {tool: resolve(tool) for tool in {t for t, _, _ in turns}}
    for tool, html, ts in turns[:8]:  # first-call caches (selector compiles)
        _row_extract("c", 0, "tool", tool, ts, html, 0)

    per_rep: Dict[str, List[float]] = {k: [] for k in ("parse", "meta", "jsonld", "rules", "post", "total")}
    for _ in range(reps):
        acc = dict.fromkeys(per_rep, 0.0)
        for tool, html, ts in turns:
            t0 = clock()
            doc = parse_html(html)
            t1 = clock()
            harvest_meta(doc)
            t2 = clock()
            extract_linked_data(doc)
            t3 = clock()
            out = run_extraction(specs[tool], html, ts, error_handling="suppress")
            t4 = clock()
            body = out.get("body")
            text = body_to_plaintext(body) if body is not None else None
            heuristic_language(text)
            t5 = clock()
            _row_extract("c", 0, "tool", tool, ts, html, 0)
            t6 = clock()
            acc["parse"] += t1 - t0
            acc["meta"] += t2 - t1
            acc["jsonld"] += t3 - t2
            acc["rules"] += (t4 - t3) - (t3 - t0)
            acc["post"] += t5 - t4
            acc["total"] += t6 - t5
        for k, v in acc.items():
            per_rep[k].append(v / len(turns) * 1e6)
    return {f"{k}_us": statistics.median(v) for k, v in per_rep.items()}


def hw_control_us(transcripts_dir: str, n_docs: int, reps: int = 2) -> float:
    """Microseconds per turn of ``tools/hw_control.py`` at one process:
    the same kernel over the same payloads in a plain process pool."""
    mod = importlib.import_module("tools.hw_control")  # the checkout root is on sys.path
    return 1e6 / mod.measure(transcripts_dir, 1, n_docs=n_docs, reps=reps)
