"""Latest-wins-per-key dedup (W5 — the north rule's core operator).

Parity anchor: the reference gets latest-wins *implicitly* from total height
order + `ORDER BY height ASC, id ASC` replay
(`/root/reference/pkg/db/parser/repository.go:156`,
`/root/reference/parser/dex/dex.go:141`) plus the watermark CAS
(`parser/dex/repo/repository.go:117`). Under Spark's unordered shuffle the
order must be made explicit: ``(warc_ts DESC, seq DESC)`` per ``url``.

One physical strategy, :func:`latest_wins_agg` —
``groupBy(key).agg(max_by(row, order))``. A hash aggregate with *map-side
partial aggregation*: each map task pre-collapses every key (hot ones
included) to one candidate row before the shuffle, so a url with 10^6
updates ships ~num_map_tasks rows, not 10^6. Skew is neutralized before the
exchange, no per-partition sort is needed, and the result is insensitive to
input order. The literal ``row_number() over (partition by url order by
warc_ts desc, seq desc) = 1`` form stays only as the SQL oracle in
tests/test_replay.py::test_latest_wins_and_deletes_respected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _order_struct(order_cols: list[str]):
    return F.struct(*[F.col(c) for c in order_cols])


def latest_wins_agg(df: DataFrame, key: str = "url", order_cols: list[str] | None = None) -> DataFrame:
    """max_by-based latest-wins: one row per key, the row with the greatest
    (order_cols...) tuple. Map-side partial aggregation makes this robust to
    hot-key skew with zero tuning."""
    order_cols = order_cols or ["warc_ts", "seq"]
    out_cols = df.columns
    row = F.struct(*[F.col(c) for c in out_cols])
    agg = df.groupBy(key).agg(F.max_by(row, _order_struct(order_cols)).alias("__r"))
    return agg.select(*[F.col(f"__r.{c}").alias(c) for c in out_cols])

