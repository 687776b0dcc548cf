"""The bounded driver collect behind every driver twin.

Several operators keep two implementations with identical results: a
driver twin for dimension-sized inputs (union-find components, the BPE
trainer, the seed dictionary and component map) and a distributed loop
as the scale path. ``bounded_collect`` is the one probe that picks
between them, and it fetches the rows in the same pass: a size probe
followed by a separate ``collect()`` would run the input twice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row

# rows a driver twin accepts: connected_components' driver_threshold,
# and the bound under which KGPipeline resolves its dimension tables
DRIVER_MAX_ROWS = 100_000


def bounded_collect(df: DataFrame, max_rows: int) -> list[Row] | None:
    """``df``'s rows, in no particular order, if it has at most
    ``max_rows`` of them; else None.

    One collect of ``df.limit(max_rows + 1)``: each partition stops at
    ``max_rows + 1`` rows, so the driver never holds more than that
    whatever the size of ``df``.  It goes through ``.rdd`` so that the
    limit runs as ONE job (a per-partition limit, then one gathering
    task); ``DataFrame.collect()`` of a limit scans 1, then 4, 16, …
    partitions in successive jobs until it has enough rows, and a
    dimension under the bound never has enough."""
    rows = df.limit(max_rows + 1).rdd.collect()
    return rows if len(rows) <= max_rows else None
