"""Deterministic transcripts-table synthesizer (FIXTURES.md §1).

Input shape is exactly the BASELINE.json ``input_hint``::

    conv_id:string, turn_idx:int32, role:string, text:string,
    tool:string, ts:timestamp

Two row populations:
* **golden rows** — HTML snapshots from the reference's test corpus
  (data files only), with ``tool`` carrying the publisher key and
  ``ts`` the snapshot crawl date, so parser-version-by-date dispatch is
  exercised end-to-end;
* **bulk rows** — synthetic HTML from a small template grammar
  (seeded, fully deterministic) with a Zipf-ish conversation-size
  distribution so a few "hot" conv_ids own most turns (skew fixture).

No Spark imports here; emits plain row dicts.
"""

from __future__ import annotations

import datetime
import random
from pathlib import Path
from typing import Any, Dict, Iterator, List, Optional

_ROLES = ["user", "assistant", "tool"]

_TOPIC_WORDS = [
    "economy", "energy", "transport", "housing", "science", "culture",
    "health", "education", "climate", "industry", "finance", "sports",
]
_SENTENCE_WORDS = (
    "the market moved sharply as analysts expected further growth in the sector "
    "officials said the decision would be reviewed next quarter while residents "
    "voiced concerns about rising costs and new infrastructure plans across the region"
).split()

_AUTHORS = ["Alex Reed", "Jamie Fox", "Kim Lee", "Sam Artan", "Chris Webb", "Dana Scott"]


def _sentence(rng: random.Random, n_words: int) -> str:
    words = [rng.choice(_SENTENCE_WORDS) for _ in range(n_words)]
    return " ".join(words).capitalize() + "."


def _paragraph(rng: random.Random) -> str:
    return " ".join(_sentence(rng, rng.randint(6, 14)) for _ in range(rng.randint(1, 3)))


def synth_article_html(rng: random.Random, doc_id: int) -> str:
    """Synthetic article via the FIXTURES.md template grammar:
    html>head(meta,title,script[ld+json])+body(article>p.summary,p*,h2*)."""
    title = f"Synthetic article {doc_id}: " + _sentence(rng, 5)[:-1]
    author = rng.choice(_AUTHORS)
    topics = ", ".join(rng.sample(_TOPIC_WORDS, rng.randint(2, 4)))
    pub_date = datetime.datetime(2024, 1, 1) + datetime.timedelta(
        days=rng.randint(0, 365), seconds=rng.randint(0, 86399)
    )
    ld = (
        '{"@context":"http://schema.org","@type":"NewsArticle",'
        f'"headline":"{title}","author":[{{"@type":"Person","name":"{author}"}}],'
        f'"datePublished":"{pub_date.isoformat()}Z","isAccessibleForFree":true}}'
    )
    n_sections = rng.randint(1, 3)
    body_parts = [f"<p class='summary'>{_paragraph(rng)}</p>"]
    for s in range(n_sections):
        if s > 0:
            body_parts.append(f"<h2>Section {s}: {_sentence(rng, 3)[:-1]}</h2>")
        for _ in range(rng.randint(2, 5)):
            body_parts.append(f"<p>{_paragraph(rng)}</p>")
    return (
        "<!DOCTYPE html><html lang='en'><head>"
        f"<meta charset='utf-8'><title>{title}</title>"
        f"<meta name='keywords' content='{topics}'>"
        f"<script type='application/ld+json'>{ld}</script>"
        "</head><body><main><article>"
        + "".join(body_parts)
        + "</article></main></body></html>"
    )


def golden_rows() -> List[Dict[str, Any]]:
    """One transcript turn per reference golden snapshot."""
    import gzip
    import json

    base = Path("/root/reference/tests/resources/parser/test_data")
    publishers = [
        ("us.APNews", "us", "APNews"),
        ("us.Reuters", "us", "Reuters"),
        ("de.MDR", "de", "MDR"),
        ("de.Golem", "de", "Golem"),
        ("uk.EuronewsEN", "uk", "EuronewsEN"),
        ("de.EuronewsDE", "de", "EuronewsDE"),
        ("fr.EuronewsFR", "fr", "EuronewsFR"),
        # round-2 breadth: one per newly-ported script/region through
        # the Arrow stage (routing, version dispatch, non-Latin text)
        ("jp.AsahiShimbun", "jp", "AsahiShimbun"),
        ("kr.MBN", "kr", "MBN"),
        ("cn.People", "cn", "People"),
        ("ru.Kommersant", "ru", "Kommersant"),
        ("za.TimesLive", "za", "TimesLive"),
        ("ca.NationalPost", "ca", "NationalPost"),
        ("tr.AnadoluAjansi", "tr", "AnadoluAjansi"),
        ("se.Aftonbladet", "se", "Aftonbladet"),
    ]
    rows: List[Dict[str, Any]] = []
    for key, cc, prefix in publishers:
        country = base / cc
        if not country.exists():
            continue
        meta = json.loads((country / "meta.info").read_text())
        for i, snapshot in enumerate(sorted(country.glob(f"{prefix}_*.html.gz"))):
            info = meta[snapshot.name]
            rows.append(
                {
                    "conv_id": f"golden-{key}",
                    "turn_idx": i,
                    "role": "tool",
                    "text": gzip.decompress(snapshot.read_bytes()).decode("utf-8"),
                    "tool": key,
                    "ts": datetime.datetime.fromisoformat(info["crawl_date"]),
                }
            )
    return rows


def bulk_rows(n_turns: int, seed: int = 42, n_convs: Optional[int] = None, skew: float = 1.3) -> Iterator[Dict[str, Any]]:
    """Deterministic synthetic turns with Zipf-skewed conversation sizes."""
    rng = random.Random(seed)
    n_convs = n_convs or max(4, n_turns // 50)
    # Zipf-ish weights: conv k gets weight 1/(k+1)^skew
    weights = [(k + 1) ** -skew for k in range(n_convs)]
    total_w = sum(weights)
    sizes = [max(1, round(n_turns * w / total_w)) for w in weights]
    emitted = 0
    for conv_k, size in enumerate(sizes):
        if emitted >= n_turns:
            break
        conv_id = f"conv-{conv_k:06d}"
        base_ts = datetime.datetime(2024, 3, 1) + datetime.timedelta(hours=conv_k)
        for turn_idx in range(min(size, n_turns - emitted)):
            role = _ROLES[turn_idx % 3]
            doc_id = emitted
            yield {
                "conv_id": conv_id,
                "turn_idx": turn_idx,
                "role": role,
                "text": synth_article_html(rng, doc_id),
                "tool": "generic",
                "ts": base_ts + datetime.timedelta(minutes=turn_idx),
            }
            emitted += 1


def build_transcripts(n_bulk_turns: int = 200, seed: int = 42, include_golden: bool = True) -> List[Dict[str, Any]]:
    rows = golden_rows() if include_golden else []
    rows.extend(bulk_rows(n_bulk_turns, seed=seed))
    return rows

