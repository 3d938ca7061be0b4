"""Seeded input generators for the three workloads.

Everything here is numpy + pyarrow only: the engine's own data generator
is never used, so a change to it cannot change what the benchmark feeds
the engine.  The same seed always yields the same tables.
"""

from __future__ import annotations

import gzip
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa

BASE_TEXTS = Path(__file__).resolve().parent / "data" / "base_texts.txt.gz"

# ---------------------------------------------------------------------------
# graph_maintain: a pages table whose geotags come from clustered,
# density-skewed points (a few dense metro clusters, a long tail of
# sparse ones, and a uniform background).

_LANGS = np.array(["en", "de", "fr", "es", "zh"])
_TITLE_WORDS = np.array(
    "river market station harbor museum garden bridge tower valley plaza "
    "school library stadium castle temple forest beach airport".split()
)


@dataclass
class Pages:
    table: pa.Table
    ids: np.ndarray  # int64 page ids
    xy: np.ndarray  # (n, 2) float64 lon/lat, exactly as written in the html
    background: np.ndarray  # bool: drawn from the uniform background


# The cluster layout is fixed so every seed draws points from the same
# density map: the seed varies the points, not how hard the map is.
_LAYOUT = np.random.default_rng(20240917)
_N_CLUSTERS = 24
_CENTERS = np.column_stack(
    [_LAYOUT.uniform(-170, 170, _N_CLUSTERS), _LAYOUT.uniform(-60, 70, _N_CLUSTERS)]
)
_WEIGHTS = 1.0 / np.arange(1, _N_CLUSTERS + 1) ** 1.1
_WEIGHTS /= _WEIGHTS.sum()
_SIGMAS = np.exp(_LAYOUT.uniform(np.log(0.5), np.log(5.0), _N_CLUSTERS))


def clustered_points(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Zipf-weighted Gaussian clusters plus a 1/12 uniform background;
    returns the points and which of them are background."""
    n_bg = n // 12
    which = rng.choice(_N_CLUSTERS, size=n - n_bg, p=_WEIGHTS)
    pts = _CENTERS[which] + rng.normal(size=(n - n_bg, 2)) * _SIGMAS[which, None]
    bg = np.column_stack([rng.uniform(-180, 180, n_bg), rng.uniform(-90, 90, n_bg)])
    pts = np.vstack([pts, bg])
    pts[:, 0] = np.clip(pts[:, 0], -180.0, 180.0)
    pts[:, 1] = np.clip(pts[:, 1], -90.0, 90.0)
    order = rng.permutation(n)
    return pts[order], order >= n - n_bg


def pages_table(rng: np.random.Generator, n: int) -> Pages:
    xy, background = clustered_points(rng, n)
    ids = np.arange(1, n + 1, dtype=np.int64) * 7 + 1_000_000
    titles = [
        " ".join(t)
        for t in _TITLE_WORDS[rng.integers(0, len(_TITLE_WORDS), size=(n, 3))]
    ]
    bodies = [
        " ".join(t)
        for t in _TITLE_WORDS[rng.integers(0, len(_TITLE_WORDS), size=(n, 12))]
    ]
    html = [
        (
            '<!DOCTYPE html><html><head><meta charset="utf-8">'
            f'<meta name="geo.position" content="{lat!r};{lon!r}">'
            f"<title>{t}</title></head><body><h1>{t}</h1><p>{b}</p></body></html>"
        ).encode()
        for (lon, lat), t, b in zip(xy.tolist(), titles, bodies)
    ]
    hosts = rng.zipf(1.3, n) % 5000
    table = pa.table(
        {
            "url": [f"https://h{h}.example.org/p/{i}" for h, i in zip(hosts, ids)],
            "warc_ts": pa.array(
                (1_700_000_000_000_000 + rng.integers(0, 10**13, n)).astype("int64"),
                pa.timestamp("us"),
            ),
            "html": pa.array(html, pa.binary()),
            "text": [f"{t}\n{t}\n{b}" for t, b in zip(titles, bodies)],
            "lang": _LANGS[rng.integers(0, len(_LANGS), n)],
            "page_id": ids,
        }
    )
    return Pages(table=table, ids=ids, xy=xy, background=background)


# ---------------------------------------------------------------------------
# corpus_dedup: base texts sampled from the vendored document sample, with
# planted near-duplicate clusters, a boilerplate tail on a share of docs,
# planted benchmark contamination and dim-64 embeddings with planted twins.

BOILERPLATE = [
    "subscribe to our newsletter for weekly updates and exclusive offers today",
    "all rights reserved terms of use and privacy policy apply to this site",
]
EMB_DIM = 64


@dataclass
class Corpus:
    docs: pa.Table  # doc_id, text, embedding
    bench: pa.Table  # bench_id, text
    clusters: list[list[int]]  # planted near-dup clusters (doc ids)
    twins: list[tuple[int, int]]  # planted embedding twins (a < b)
    texts: dict[int, str]  # doc_id -> text
    emb: dict[int, np.ndarray]  # doc_id -> embedding


def load_base_texts() -> list[str]:
    with gzip.open(BASE_TEXTS, "rt", encoding="utf-8") as f:
        return [ln.rstrip("\n") for ln in f if ln.strip()]


def corpus(
    rng: np.random.Generator,
    n_base: int,
    n_clusters: int,
    n_bench: int,
    n_contaminated: int,
    n_twins: int,
    boiler_share: float = 0.25,
) -> Corpus:
    pool = load_base_texts()
    vocab = sorted({w for t in pool for w in t.split()})
    base = [pool[i] for i in rng.choice(len(pool), n_base, replace=False)]
    words = [t.split() for t in base]

    # benchmark passages and planted contamination: a 12-word window of a
    # passage spliced into the middle of a corpus doc
    bench = [" ".join(rng.choice(vocab, 24)) for _ in range(n_bench)]
    for d in rng.choice(n_base, n_contaminated, replace=False):
        p = bench[rng.integers(n_bench)].split()
        s = int(rng.integers(0, len(p) - 12))
        at = len(words[d]) // 2
        words[d] = words[d][:at] + p[s : s + 12] + words[d][at:]

    tails = rng.random(n_base) < boiler_share
    which_tail = rng.integers(0, len(BOILERPLATE), n_base)
    texts = [
        " ".join(w) + (" " + BOILERPLATE[which_tail[i]] if tails[i] else "")
        for i, w in enumerate(words)
    ]

    # planted near-dup clusters: a long seed doc plus 1-3 variants, each
    # one substituted word away from the seed
    long_docs = np.flatnonzero(np.array([len(w) for w in words]) >= 40)
    seeds = rng.choice(long_docs, n_clusters, replace=False)
    doc_ids = list(range(n_base))
    clusters = []
    next_id = n_base
    for s in seeds:
        members = [int(s)]
        sw = texts[s].split()
        for _ in range(int(rng.integers(1, 4))):
            v = list(sw)
            pos = int(rng.integers(len(v)))
            v[pos] = next(w for w in rng.permutation(vocab) if w != v[pos])
            texts.append(" ".join(v))
            doc_ids.append(next_id)
            members.append(next_id)
            next_id += 1
        clusters.append(members)

    n_docs = len(texts)
    emb = rng.normal(size=(n_docs, EMB_DIM)) / np.sqrt(EMB_DIM)
    twin_src = rng.choice(n_docs, 2 * n_twins, replace=False)
    twins = []
    for a, b in zip(twin_src[:n_twins], twin_src[n_twins:]):
        emb[b] = emb[a] + rng.normal(scale=0.01, size=EMB_DIM)
        twins.append((int(min(a, b)), int(max(a, b))))

    # shuffle the physical order so planted docs are not adjacent
    order = rng.permutation(n_docs)
    ids = np.array(doc_ids, dtype=np.int64)[order]
    docs = pa.table(
        {
            "doc_id": ids,
            "text": [texts[i] for i in order],
            "embedding": pa.array(
                [emb[i].tolist() for i in order], pa.list_(pa.float64())
            ),
        }
    )
    bench_t = pa.table(
        {"bench_id": np.arange(n_bench, dtype=np.int64), "text": bench}
    )
    return Corpus(
        docs=docs,
        bench=bench_t,
        clusters=clusters,
        twins=twins,
        texts=dict(enumerate(texts)),
        emb={i: emb[i] for i in range(n_docs)},
    )
