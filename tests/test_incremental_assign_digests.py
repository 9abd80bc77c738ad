"""Frozen output digests for the near-dup verify: ``incremental_assign``
(new x frozen and new x new) and ``ngram_jaccard_pairs(candidates=…)``
must keep producing exactly the rows recorded in
``incremental_assign_digests.json``.

The fixture is generated, seeded: 60 frozen and 80 new documents drawn
from a small vocabulary, where new documents are near-copies of frozen
ones or of each other at mutation rates that spread their Jaccard
scores across the thresholds 0.2, 0.5 and 0.8. Three cases are built
in on purpose:

- a new document reuses a frozen document's ``doc_id`` with different
  text, and is a near-copy of another frozen document: pooling the two
  sides' shingles under one id would lower its score;
- the frozen band relation handed to ``incremental_assign`` is stale
  for one frozen document (its bands were computed from a new
  document's text), so the probe proposes a candidate pair whose
  shingle sets are disjoint;
- the explicit candidate list given to ``ngram_jaccard_pairs`` holds
  disjoint pairs too.

At threshold 0.0 the disjoint pairs pin that a verify emits no row for
a pair without a shared shingle.

The digests were generated before the new x frozen verify moved onto
the shared per-doc shingle-array join; regenerate them
(``python -m tests.test_incremental_assign_digests --write``) only for
an intended change of output, never to make this pass.
"""

from __future__ import annotations

import hashlib
import json
import random
import sys
from pathlib import Path
from typing import Dict, List

DIGESTS_PATH = Path(__file__).with_name("incremental_assign_digests.json")

THRESHOLDS = (0.0, 0.2, 0.5, 0.8)
#: the new doc that reuses a frozen doc's id, and the frozen doc it copies
SHARED_ID, SHARED_SOURCE = 7, 3
#: the frozen doc whose stored bands are stale, and the new doc they came from
STALE_FROZEN, STALE_NEW = 11, 1065


def _fixture():
    rng = random.Random(20261018)
    vocab = ["v%03d" % i for i in range(300)]

    def words(n):
        return [rng.choice(vocab) for _ in range(n)]

    def mutate(ws, n):
        ws = list(ws)
        for _ in range(n):
            ws[rng.randrange(len(ws))] = rng.choice(vocab)
        return ws

    frozen = {i: words(30) for i in range(60)}
    # disjoint from every other text: the stale-band pair must share no shingle
    frozen[STALE_FROZEN] = ["x%d" % j for j in range(30)]
    new: Dict[int, List[str]] = {}
    for i in range(30):
        new[1000 + i] = mutate(frozen[rng.randrange(60)], rng.randrange(1, 12))
    for i in range(20):
        new[1030 + i] = mutate(new[1000 + rng.randrange(30 + i)], rng.randrange(1, 12))
    for i in range(30):
        new[1050 + i] = ["f%d_%d" % (i, j) for j in range(rng.randrange(2, 30))]
    new[SHARED_ID] = mutate(frozen[SHARED_SOURCE], 1)
    rows = lambda docs: [(i, " ".join(ws)) for i, ws in sorted(docs.items())]  # noqa: E731
    return rows(frozen), rows(new)


def _digest(rows) -> Dict[str, object]:
    blob = json.dumps(rows, separators=(",", ":")).encode()
    return {"rows": len(rows), "sha256": hashlib.sha256(blob).hexdigest()}


def all_outputs(spark) -> Dict[str, List[tuple]]:
    """Sorted output rows of every pinned call, keyed by call and threshold."""
    from fundus_spark.operators.dedup import band_relation, incremental_assign, ngram_jaccard_pairs

    frozen_rows, new_rows = _fixture()
    schema = "doc_id long, text string"
    frozen = spark.createDataFrame(frozen_rows, schema)
    new = spark.createDataFrame(new_rows, schema)
    stale_text = dict(new_rows)[STALE_NEW]
    stale_bands = band_relation(
        spark.createDataFrame(
            [(i, stale_text if i == STALE_FROZEN else t) for i, t in frozen_rows], schema
        )
    )
    ids = sorted(i for i, _ in new_rows if i < 1040 or i >= 1070)
    cands = spark.createDataFrame([(a, b) for a in ids for b in ids if a < b], "a long, b long")
    out = {}
    for t in THRESHOLDS:
        out[f"incremental_assign@{t}"] = incremental_assign(new, frozen, threshold=t, frozen_bands=stale_bands)
        out[f"ngram_jaccard_pairs/candidates@{t}"] = ngram_jaccard_pairs(new, threshold=t, candidates=cands)
    return {key: sorted(tuple(r) for r in df.collect()) for key, df in out.items()}


def test_near_dup_verify_matches_frozen_digests(spark):
    outputs = all_outputs(spark)
    frozen = json.loads(DIGESTS_PATH.read_text())
    digests = {key: _digest(rows) for key, rows in outputs.items()}
    assert sorted(digests) == sorted(frozen)
    changed = {key: (digest, frozen[key]) for key, digest in digests.items() if digest != frozen[key]}
    assert not changed, changed
    # the fixture reaches what the digests pin: frozen adoption, new-new
    # clustering, the shared id, and no adoption through the stale bands
    got = {doc_id: cluster_id for doc_id, cluster_id, _ in outputs["incremental_assign@0.5"]}
    assert got[SHARED_ID] == SHARED_SOURCE
    assert sum(1 for d, c in got.items() if d >= 1000 and c < 1000) >= 5
    assert sum(1 for d, c in got.items() if c >= 1000 and d != c) >= 3
    assert all(dict((d, c) for d, c, _ in outputs[f"incremental_assign@{t}"])[STALE_NEW] == STALE_NEW for t in THRESHOLDS)


def main(argv: List[str]) -> None:
    from fundus_spark.plans import build_session

    spark = build_session(app_name="incremental-assign-digests", cores=4, shuffle_partitions=8)
    try:
        digests = {key: _digest(rows) for key, rows in all_outputs(spark).items()}
    finally:
        spark.stop()
    if "--write" in argv:
        DIGESTS_PATH.write_text(json.dumps(digests, indent=1, sort_keys=True) + "\n")
    print(json.dumps(digests, indent=1, sort_keys=True))


if __name__ == "__main__":
    main(sys.argv[1:])
