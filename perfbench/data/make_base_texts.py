"""Rebuild ``base_texts.txt.gz``: the document texts that the
``corpus_dedup`` workload draws its base documents from.

The texts are the sf0.1 ``documents.parquet`` table of the project's
deterministic test data: all of its 5,000 single-line texts, so a run has
that tier's document count.  The benchmark reads only this file, never the
test-data tables, so it runs from a bare checkout.

    python3 perfbench/data/make_base_texts.py <documents.parquet> \
        perfbench/data/base_texts.txt.gz
"""

from __future__ import annotations

import gzip
import sys

import pyarrow.parquet as pq


def main(src: str, out: str) -> None:
    texts = pq.read_table(src, columns=["text"]).column("text").to_pylist()
    texts = [t for t in texts if t and "\n" not in t]
    blob = "\n".join(texts).encode("utf-8") + b"\n"
    with open(out, "wb") as f, gzip.GzipFile(fileobj=f, mode="wb", mtime=0) as gz:
        gz.write(blob)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
