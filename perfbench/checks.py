"""Output checks: independent references the program's results must match.

Nothing here calls the Spark code under test.  References are computed
from the generated inputs with numpy, DuckDB or the program's
Spark-free numpy oracle (``knowledgeextraction_spark.oracle``), and are
cached on disk next to the inputs, because they depend only on them.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import numpy as np

MASK64 = (1 << 64) - 1


def row_hash(rows) -> int:
    """Order-insensitive hash of a multiset of rows: the sum, mod 2^64,
    of a 64-bit md5 prefix per row.  Sums add, so the hash of R copies
    of a multiset is R times its hash."""
    h = 0
    for r in rows:
        h = (h + int.from_bytes(hashlib.md5(repr(tuple(r)).encode()).digest()[:8], "little")) & MASK64
    return h


def _normal(v):
    """Comparable form of one value: floats rounded to 6 decimals (the
    program's own engine-parity convention), numpy scalars as python."""
    if isinstance(v, (float, np.floating)):
        return None if math.isnan(v) else round(float(v), 6) + 0.0
    if isinstance(v, np.integer):
        return int(v)
    return v


def frame_hash(df) -> tuple[int, int]:
    """(rows, order-insensitive hash) of a pandas frame, columns sorted by name."""
    cols = sorted(df.columns)
    rows = ([_normal(x) for x in r] for r in df[cols].itertuples(index=False, name=None))
    return len(df), row_hash(rows)


def _cached(path: str, build):
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    val = build()
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(val, f)
    os.replace(tmp, path)
    return val


# --- kg_build -------------------------------------------------------------

def _oracle_triples(sf_dir: str) -> list[tuple]:
    """(subj_id, predicate, obj_id, url, rec_id) of the numpy oracle's
    pipeline over the documents in ``sf_dir``."""
    from knowledgeextraction_spark.oracle import docworld
    from knowledgeextraction_spark.oracle.pipeline import detect_mentions

    records = docworld.docworld_records(sf_dir)
    linked = docworld.docworld_linked(detect_mentions(records))
    return docworld.docworld_triples(linked, records)


def triples_reference(sf_dir: str) -> dict:
    """Triples of the base documents from the numpy oracle: row count and
    the hash of (subj_id, predicate, obj_id, rec_id), which leaves out
    the url so it holds for every replica."""

    def build():
        rows = [(int(s), p, int(o), int(r)) for s, p, o, _url, r in _oracle_triples(sf_dir)]
        return {"rows": len(rows), "hash": row_hash(rows)}

    return _cached(os.path.join(sf_dir, "triples_ref.json"), build)


def check_triples(out_dir: str, ref: dict, replicas: int) -> bool:
    """The pipeline's ``triples`` snapshot, read back with pyarrow."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(out_dir, "triples"), columns=["subj_id", "predicate", "obj_id", "rec_id"])
    d = t.to_pydict()
    rows = zip(d["subj_id"], d["predicate"], d["obj_id"], d["rec_id"])
    return t.num_rows == ref["rows"] * replicas and row_hash(rows) == (ref["hash"] * replicas) & MASK64


# --- query_mix ----------------------------------------------------------------

def _oracle_triples_parquet(sf_dir: str) -> str:
    """The oracle's triples of ``sf_dir`` as parquet, in the schema of the
    program's golden ``kg_triples`` table, which the graph queries'
    oracles read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, "kg_triples_ref.parquet")
    if not os.path.exists(path):
        s, p, o, u, r = zip(*_oracle_triples(sf_dir))
        table = pa.table({
            "subj_id": pa.array(s, pa.int64()),
            "predicate": pa.array(p, pa.string()),
            "obj_id": pa.array(o, pa.int64()),
            "url": pa.array(u, pa.string()),
            "rec_id": pa.array(r, pa.int32()),
        })
        pq.write_table(table, path + ".tmp")
        os.replace(path + ".tmp", path)
    return path


def query_references(sf_dir: str, names: list[str]) -> dict[str, list[int]]:
    """name → [rows, hash] of the reference result for every query: the
    program's DuckDB oracle SQL over the generated tables, where an oracle
    that reads the golden ``kg_triples`` reads the numpy oracle's triples
    of the same documents instead."""
    todo = [n for n in names if not os.path.exists(os.path.join(sf_dir, f"ref_{n}.json"))]
    if todo:
        import duckdb

        from knowledgeextraction_spark.queries import ORACLES, sql_golden

        golden = sql_golden("kg_triples")
        ours = f"SELECT * FROM read_parquet('{_oracle_triples_parquet(sf_dir)}')"
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')")
        for name in todo:
            sql = ORACLES[name].replace(golden, ours)
            if "/golden/" in sql:
                raise ValueError(f"{name}: its oracle reads a golden table of another scale")
            df = con.execute(sql).fetchdf()
            _cached(os.path.join(sf_dir, f"ref_{name}.json"), lambda: list(frame_hash(df)))
        con.close()
    return {n: _cached(os.path.join(sf_dir, f"ref_{n}.json"), None) for n in names}
