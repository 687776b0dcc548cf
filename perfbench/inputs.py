"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its arguments and writes plain
parquet with pyarrow (no Spark), so the program under test only ever
sees the finished files.  Files are cached under the work directory,
keyed by every argument, and a cache entry is complete once its
``_DONE`` marker exists.

The base documents use one fixed seed, so the amount of work does not
change with the workload seed; the workload seed only picks the
replica ids of the pages and the order of the query mix.  That keeps
run-to-run spread a property of the program, not of the inputs.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42

# closed document vocabulary: the 30 salad words plus the near-dup
# marker, the same vocabulary the program's documents→pages
# transliteration maps (sources.pages.DOC_WORDS)
SALAD_WORDS = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
NEAR_DUP_SHARE = 0.05  # docs that copy an earlier doc and append "dup"
EXACT_DUP_SHARE = 0.002  # docs that copy an earlier doc verbatim


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_DONE"))


def _finish(tmp: str, path: str) -> str:
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path


def _fresh(path: str) -> str:
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    return tmp


def documents_table(n_docs: int, seed: int = BASE_SEED) -> pa.Table:
    """documents(doc_id, text, lang, source, n_chars): word salad of
    10-100 words; about 5% of docs are an earlier doc plus " dup" and a
    few are verbatim copies, the near- and exact-duplicate structure
    the dedup operators look for."""
    rng = np.random.default_rng(seed)
    words = np.array(SALAD_WORDS)
    texts: list[str] = []
    for i in range(n_docs):
        u = rng.random()
        if i > 10 and u < NEAR_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and u < NEAR_DUP_SHARE + EXACT_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(words[rng.integers(0, len(words), n)]))
    ids = np.arange(n_docs, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(LANGS, size=n_docs, p=LANG_P).tolist(),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def sf_dir(work: str, n_docs: int) -> str:
    """A table directory in the layout ``QUERIES`` read, holding ``documents.parquet``,
    the one table the query mix reads."""
    path = os.path.join(work, "inputs", f"sf_{n_docs}")
    if _done(path):
        return path
    tmp = _fresh(path)
    pq.write_table(documents_table(n_docs), os.path.join(tmp, "documents.parquet"))
    return _finish(tmp, path)


def replica_ids(seed: int, n: int) -> list[int]:
    """``n`` distinct replica ids in [1, 999], picked by the seed."""
    rng = np.random.default_rng([seed, 11])
    return sorted(int(r) for r in rng.choice(np.arange(1, 1000), size=n, replace=False))


def pages_dir(work: str, n_docs: int, seed: int, replicas: int) -> str:
    """pages(url, warc_ts, html, lang) for ``replicas`` copies of the
    base documents, each copy under its own seed-picked replica id (so
    every copy has distinct urls).  HTML is rendered by the same
    transliteration + template the program's documents→pages source
    uses, so the records/extract stage has real markup to strip."""
    path = os.path.join(work, "inputs", f"pages_{n_docs}_s{seed}_r{replicas}")
    if _done(path):
        return path
    from knowledgeextraction_spark.core.textops import render_html
    from knowledgeextraction_spark.sources.pages import word_mapping

    mapping = word_mapping()
    docs = documents_table(n_docs).to_pydict()
    zh_text = ["".join(mapping.get(w, "") for w in t.split(" ")) for t in docs["text"]]
    base_ts = np.datetime64("2025-01-01T00:00:00", "us")
    urls, ts, html, lang = [], [], [], []
    for rep in replica_ids(seed, replicas):
        for doc_id, src, lg, text in zip(docs["doc_id"], docs["source"], docs["lang"], zh_text):
            did = doc_id + rep * 10_000_000
            url = f"https://{src}.test/p{did}"
            urls.append(url)
            ts.append(base_ts + np.timedelta64(did, "m"))
            html.append(render_html(text, lg, title=url))
            lang.append(lg)
    table = pa.table(
        {
            "url": urls,
            "warc_ts": pa.array(ts, pa.timestamp("us")),
            "html": pa.array(html, pa.binary()),
            "lang": lang,
        }
    )
    tmp = _fresh(path)
    pq.write_table(table, os.path.join(tmp, "pages.parquet"))
    return _finish(tmp, path)


def dir_size(path: str) -> tuple[int, int]:
    """(rows, bytes) of a parquet file, or of every parquet file under ``path``."""
    if os.path.isfile(path):
        return pq.ParquetFile(path).metadata.num_rows, os.path.getsize(path)
    rows = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                rows += pq.ParquetFile(p).metadata.num_rows
                size += os.path.getsize(p)
    return rows, size
