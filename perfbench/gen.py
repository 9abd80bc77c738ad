"""Seeded input generators for the three workloads.

Everything here is pure Python + pyarrow: the same seed gives
byte-identical parquet files, and the program under test receives only
those files. Each generator also returns the expected values the
correctness checks need and the input properties it was built with
(skew exponent, HTML bytes per turn, rich share, duplicate shares,
batch shape), which the benchmark prints beside its metrics.
"""

from __future__ import annotations

import datetime
import random
from dataclasses import dataclass
from pathlib import Path
from typing import Dict, List, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

TRANSCRIPTS_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)

DOCUMENTS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


@dataclass(frozen=True)
class ExtractShape:
    n_turns: int = 10000
    rich_share: float = 0.15
    skew: float = 1.3


@dataclass(frozen=True)
class CorpusShape:
    n_docs: int = 800
    n_sources: int = 12
    exact_dup_share: float = 0.10
    near_dup_share: float = 0.10
    bench_share: float = 0.05


@dataclass(frozen=True)
class AppendShape:
    n_batches: int = 1
    batch_size: int = 50
    n_sources: int = 8
    exact_dup_share: float = 0.10
    near_dup_share: float = 0.10
    bench_docs: int = 30


def write_table(table: pa.Table, path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    # fixed writer settings: no timestamps or library versions leak
    # into the bytes, so a seed reproduces the file exactly
    pq.write_table(table, str(path), compression="snappy", row_group_size=1 << 20, store_schema=False)


# --- extract: transcripts ---------------------------------------------------


def _rich_html(doc_id: int, text: str) -> str:
    """Python twin of ``sources.rich_html.doc_to_rich_html``: the page
    the ``rich`` rule parses (JSON-LD headline, srcset images, <br>
    rewrap)."""
    day = (datetime.date(2024, 1, 1) + datetime.timedelta(days=doc_id % 365)).isoformat()
    base = "https://img.example/rich"
    ld = (
        '{"@context":"http://schema.org","@type":"NewsArticle","headline":"Rich '
        f'{doc_id}","author":[{{"@type":"Person","name":"Author {doc_id % 5}"}}],'
        f'"datePublished":"{day}T00:00:00+00:00"}}'
    )
    img = (
        f"<figure><img src='{base}/{doc_id}-small.jpg' srcset='{base}/{doc_id}-small.jpg 400w, "
        f"{base}/{doc_id}-large.jpg 800w'><figcaption>Caption {doc_id}</figcaption></figure>"
    )
    return (
        f"<!DOCTYPE html><html lang='en'><head><title>Document {doc_id}</title>"
        f"<script type='application/ld+json'>{ld}</script></head><body><main>"
        f"<div class='article-media'>{img}</div><div class='article-body'><p>{text}</p>"
        f"<div class='br-text'>Alpha {doc_id}.<br><br>Beta {doc_id}.</div></div></main></body></html>"
    )


def transcripts(seed: int, shape: ExtractShape = ExtractShape()) -> Tuple[pa.Table, pa.Table, Dict]:
    """(transcripts, expected titles keyed by (conv_id, turn_idx), properties).

    Generic turns come from ``sources.transcripts.bulk_rows`` (Zipf
    conversation sizes, template-grammar articles); a ``rich_share`` of
    the turns use the ``rich`` rule's page shape, grouped into their own
    conversations."""
    from fundus_spark.sources.transcripts import bulk_rows, _paragraph

    rng = random.Random(seed * 7919 + 1)
    n_rich = round(shape.n_turns * shape.rich_share)
    rows = list(bulk_rows(shape.n_turns - n_rich, seed=seed, skew=shape.skew))
    titles = []
    for r in rows:
        html = r["text"]
        titles.append(html[html.index("<title>") + 7 : html.index("</title>")])
    ts = datetime.datetime(2024, 6, 1)
    for k in range(n_rich):
        doc_id = 1_000_000 + k
        rows.append(
            {
                "conv_id": f"rich-{k // 25:05d}",
                "turn_idx": k % 25,
                "role": "tool",
                "text": _rich_html(doc_id, _paragraph(rng)),
                "tool": "rich",
                "ts": ts,
            }
        )
        titles.append(f"Rich {doc_id}")
    table = pa.Table.from_pylist(rows, schema=TRANSCRIPTS_SCHEMA)
    expected = pa.table(
        {
            "conv_id": table.column("conv_id"),
            "turn_idx": table.column("turn_idx"),
            "title": pa.array(titles, pa.string()),
        }
    )
    html_bytes = sum(len(t.encode()) for t in table.column("text").to_pylist())
    props = {
        "turns": table.num_rows,
        "skew_exponent": shape.skew,
        "rich_share": round(n_rich / table.num_rows, 4),
        "html_bytes_per_turn": round(html_bytes / table.num_rows, 1),
        "conversations": len(set(table.column("conv_id").to_pylist())),
    }
    return table, expected, props


# --- curate / append: document corpora --------------------------------------

_SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "de", "pa", "zu", "fe", "gi", "ho", "be", "ny"]


def _vocab(rng: random.Random, n: int = 1500) -> List[str]:
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4))))
    return sorted(words)


class _DocMaker:
    """Draws fresh, exact-duplicate and near-duplicate texts. Duplicates
    copy an earlier fresh doc, never another duplicate, so near-dup
    clusters are stars of the same depth whatever the seed: exact ones
    with re-spaced whitespace (same normalized fingerprint), near ones
    with ~5% of words replaced."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.vocab = _vocab(rng)
        self.originals: List[str] = []
        self.kinds = {"fresh": 0, "exact": 0, "near": 0, "short": 0, "repetitive": 0}

    def fresh(self) -> str:
        rng = self.rng
        roll = rng.random()
        if roll < 0.01:
            self.kinds["short"] += 1
            return rng.choice(self.vocab)  # fails the length gate
        if roll < 0.02:
            self.kinds["repetitive"] += 1
            a, b = rng.sample(self.vocab, 2)
            return " ".join([a, b] * rng.randint(20, 40))  # fails the repetition gate
        self.kinds["fresh"] += 1
        text = " ".join(rng.choice(self.vocab) for _ in range(rng.randint(40, 160)))
        self.originals.append(text)
        return text

    def draw(self, exact_share: float, near_share: float) -> str:
        rng = self.rng
        roll = rng.random()
        if self.originals and roll < exact_share:
            self.kinds["exact"] += 1
            words = rng.choice(self.originals).split()
            return "  ".join(words) if rng.random() < 0.5 else " " + " ".join(words) + " \n"
        if self.originals and roll < exact_share + near_share:
            self.kinds["near"] += 1
            words = rng.choice(self.originals).split()
            for _ in range(max(1, len(words) // 20)):
                words[rng.randrange(len(words))] = rng.choice(self.vocab)
            return " ".join(words)
        return self.fresh()


def _documents_table(rows: List[Tuple[int, str, str]]) -> pa.Table:
    langs = ["en", "de", "fr", "es"]
    return pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([langs[r[0] % 4] for r in rows], pa.string()),
            "source": pa.array([r[2] for r in rows], pa.string()),
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        },
        schema=DOCUMENTS_SCHEMA,
    )


def corpus(seed: int, shape: CorpusShape = CorpusShape()) -> Tuple[pa.Table, Dict]:
    """The ``documents`` table in the shape ``__spark_entry__`` reads; ``src0`` is the
    held-out decontamination benchmark (``_q_curate``)."""
    rng = random.Random(seed * 104729 + 3)
    maker = _DocMaker(rng)
    rows = []
    for doc_id in range(shape.n_docs):
        text = maker.draw(shape.exact_dup_share, shape.near_dup_share)
        src = "src0" if rng.random() < shape.bench_share else f"src{rng.randrange(1, shape.n_sources)}"
        rows.append((doc_id, text, src))
    table = _documents_table(rows)
    props = {
        "docs": shape.n_docs,
        "sources": shape.n_sources,
        "exact_dup_share": round(maker.kinds["exact"] / shape.n_docs, 4),
        "near_dup_share": round(maker.kinds["near"] / shape.n_docs, 4),
        "bench_share": round(sum(1 for r in rows if r[2] == "src0") / shape.n_docs, 4),
        "text_bytes_per_doc": round(sum(len(r[1].encode()) for r in rows) / shape.n_docs, 1),
    }
    return table, props


def append_batches(seed: int, shape: AppendShape = AppendShape()) -> Tuple[List[pa.Table], pa.Table, Dict]:
    """(batches, benchmark, properties). Doc ids grow across batches and
    duplicates may copy any earlier batch, so each batch's probe of the
    frozen corpus finds real matches."""
    rng = random.Random(seed * 15485863 + 5)
    maker = _DocMaker(rng)
    # later docs may copy the benchmark's, which decontamination drops
    bench = _documents_table([(10_000_000 + i, maker.fresh(), "src0") for i in range(shape.bench_docs)])
    maker.kinds = dict.fromkeys(maker.kinds, 0)
    batches = []
    doc_id = 0
    for _ in range(shape.n_batches):
        rows = []
        for _ in range(shape.batch_size):
            text = maker.draw(shape.exact_dup_share, shape.near_dup_share)
            rows.append((doc_id, text, f"src{rng.randrange(1, shape.n_sources)}"))
            doc_id += 1
        batches.append(_documents_table(rows))
    n = shape.n_batches * shape.batch_size
    props = {
        "batches": shape.n_batches,
        "batch_size": shape.batch_size,
        "exact_dup_share": round(maker.kinds["exact"] / n, 4),
        "near_dup_share": round(maker.kinds["near"] / n, 4),
        "bench_docs": shape.bench_docs,
    }
    return batches, bench, props


#: ``append`` batches of a traced run: the untraced run's batch and
#: more after it, so ``append.late_vs_early`` compares three with three.
TRACED_BATCHES = 6


def write_inputs(workload: str, seed: int, root: Path, traced: bool = False) -> Dict:
    """Generate the workload's inputs under ``root`` and return a
    description: file paths, expected values, input properties.
    Every workload also gets a small input of its own shape for the
    untimed warm-up (``warm``)."""
    out: Dict = {}
    if workload == "extract":
        table, expected, props = transcripts(seed)
        write_table(table, root / "transcripts.parquet")
        write_table(expected, root / "expected_titles.parquet")
        small, _, _ = transcripts(seed + 1, ExtractShape(n_turns=64))
        write_table(small, root / "warm_transcripts.parquet")
        out.update(transcripts=str(root / "transcripts.parquet"), warm=str(root / "warm_transcripts.parquet"),
                   expected=str(root / "expected_titles.parquet"), props=props)
    elif workload == "curate":
        table, props = corpus(seed)
        write_table(table, root / "documents.parquet")
        small, _ = corpus(seed + 1, CorpusShape(n_docs=150))
        write_table(small, root / "warm_documents.parquet")
        out.update(documents=str(root / "documents.parquet"),
                   warm=str(root / "warm_documents.parquet"), props=props)
    elif workload == "append":
        shape = AppendShape(n_batches=TRACED_BATCHES) if traced else AppendShape()
        batches, bench, props = append_batches(seed, shape)
        paths = []
        for i, b in enumerate(batches):
            paths.append(str(root / f"batch-{i:03d}.parquet"))
            write_table(b, Path(paths[-1]))
        write_table(bench, root / "benchmark.parquet")
        (small,), _, _ = append_batches(seed + 1, AppendShape(n_batches=1, batch_size=20))
        write_table(small, root / "warm_batch.parquet")
        out.update(batches=paths, benchmark=str(root / "benchmark.parquet"),
                   warm=str(root / "warm_batch.parquet"), props=props)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return out
