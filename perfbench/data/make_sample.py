#!/usr/bin/env python3
"""Writes the document sample that the crawl_mix workload amplifies.

    python3 perfbench/data/make_sample.py <sf0.1 dir>/documents.parquet

Takes a fixed random sample of SAMPLE_DOCS rows (doc_id, lang, text) of the
documents table and writes them, ordered by doc_id, as gzip-compressed
tab-separated lines to perfbench/data/documents_sample.tsv.gz, then prints
the statistics of the table and of the sample that perfbench/README.md
quotes. The output is byte-identical on every run.
"""
import collections
import gzip
import os
import random
import statistics
import sys

import pyarrow.parquet as pq

SAMPLE_DOCS = 2000
SAMPLE_SEED = 20240
OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "documents_sample.tsv.gz")


def stats(name, rows):
    words = [len(t.split(" ")) for _, _, t in rows]
    langs = collections.Counter(l for _, l, _ in rows)
    vocab = collections.Counter(w for _, _, t in rows for w in t.split(" "))
    print(f"{name}: {len(rows)} docs; words/doc min {min(words)} median "
          f"{statistics.median(words)} max {max(words)}; chars/doc mean "
          f"{statistics.mean(len(t) for _, _, t in rows):.1f}")
    print(f"  langs " + " ".join(f"{l} {c / len(rows):.3f}" for l, c in langs.most_common()))
    print(f"  distinct words {len(vocab)}; docs with a byte outside [a-z ]: "
          f"{sum(any(not (c == ' ' or 'a' <= c <= 'z') for c in t) for _, _, t in rows)}; "
          f"docs containing 'dup': {sum(' dup' in t or t.startswith('dup') for _, _, t in rows)}")


def main(path):
    t = pq.read_table(path, columns=["doc_id", "lang", "text"]).to_pydict()
    rows = sorted(zip(t["doc_id"], t["lang"], t["text"]))
    sample = sorted(random.Random(SAMPLE_SEED).sample(rows, SAMPLE_DOCS))
    for _, lang, text in sample:
        assert "\t" not in text and "\n" not in text and "\t" not in lang
    with open(OUT, "wb") as f:
        with gzip.GzipFile(filename="", mode="wb", fileobj=f, mtime=0) as g:
            for doc_id, lang, text in sample:
                g.write(f"{doc_id}\t{lang}\t{text}\n".encode("utf-8"))
    stats("table", rows)
    stats("sample", sample)


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
