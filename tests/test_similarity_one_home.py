"""Each concept of the vector-similarity family has one definition: the
centroid ranking (``similarity.ranked_cells``), the band explode
(``dedup.explode_bands``) and the per-query top-k
(``relational.grouped_topk``); the unused ``similarity.cosine`` is gone.
"""

from __future__ import annotations

from pathlib import Path

import fundus_spark

OPERATORS = Path(fundus_spark.__file__).parent / "operators"


def _src(name: str) -> str:
    return (OPERATORS / name).read_text()


def test_similarity_family_has_one_home():
    similarity, clustering = _src("similarity.py"), _src("clustering.py")
    assert (similarity + clustering).count("sort_array(") == 1
    assert sum(p.read_text().count('.alias("bk")') for p in OPERATORS.rglob("*.py")) == 1
    assert 'Window.partitionBy("query_id")' not in similarity
    assert "def cosine(" not in similarity
