"""The query layer of a traced run: the ``QUERIES`` leaves, each checked
against its DuckDB oracle from ``queries.build_oracles`` and timed on its
own.

Eight of the 51 leaves are left out (``LEFT_OUT``): with them, a traced
run would not end within its 180 s.

The leaves run at the program's correctness scale (``build_oracles``'s
scale: ``SPARK_GRAFT_ORACLE_SF_DIR`` or the program's default), because the
hash-seeded expected outputs are built for that input. The oracle fixtures
the program would cache in the system temp dir are built inside the run's
work dir instead, so the run writes nowhere else.
"""

from __future__ import annotations

import math
import os
import statistics
import time

from cosmwasm_etl_spark import queries as queries_mod
from cosmwasm_etl_spark.functions import multimodal, pyoracle

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")


def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", queries_mod._ORACLE_SF_DIR_DEFAULT)


def _normalize(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _canon(rows, cols) -> list[tuple]:
    """Rows with columns in name order, values stringified, rows sorted:
    the comparison is order-insensitive and column-order-insensitive. The
    same rule as ``tests/test_queries_oracle.py``, which the benchmark does
    not import."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_normalize(r[i]) for i in order) for r in rows)


# The three *_incr leaves drive the incremental aggregators through
# lake-table commits, epoch by epoch (~30 s together on 4 cores; the CDC
# workloads measure the same commit path). The other five are the slowest
# of the rest (2-5 s each, ~17 s together). dedup_clusters (~3.6 s) stays:
# it crosses the dedup UDF boundary that query-side work targets.
LEFT_OUT = (
    "pair_stats_30m_incr", "account_stats_incr", "price_series_incr",
    "price_series", "cluster_retention", "substring_span_dups", "ngram_lm_score", "ivf_ann",
)


def leaves() -> list[str]:
    return [name for name in queries_mod.QUERIES if name not in LEFT_OUT]


def run_queries(spark, work: str, deadline: float) -> dict:
    """One pass over the leaves, one at a time. Each leaf's Spark result is
    collected and timed (the leaf's seconds), then compared, untimed, with
    its oracle before the next leaf starts. A leaf not started by
    ``deadline`` (epoch seconds) is skipped and counts as failed. Returns
    per-leaf seconds and the gate outcome."""
    import duckdb

    sf = sf_dir()
    if not all(os.path.exists(os.path.join(sf, f"{t}.parquet")) for t in TABLES):
        raise FileNotFoundError(f"query input tables not found under {sf}")
    fixtures = os.path.join(work, "oracle-fixtures")
    os.makedirs(fixtures)
    saved = pyoracle._cache_dir, multimodal.MEDIA_FIXTURE_PATH
    pyoracle._cache_dir = lambda _sf: fixtures
    multimodal.MEDIA_FIXTURE_PATH = os.path.join(fixtures, "media.parquet")
    con = duckdb.connect()
    seconds, failed = {}, {}
    try:
        oracles = queries_mod.build_oracles(sf)
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
        for name in leaves():
            if time.time() > deadline:
                failed[name] = "skipped: the run's time was up"
                continue
            try:
                t = time.time()
                sdf = queries_mod.QUERIES[name](spark, sf)
                got = [tuple(r) for r in sdf.collect()]
                seconds[name] = time.time() - t
                cur = con.execute(oracles[name])
                want_cols = [d[0] for d in cur.description]
                want = cur.fetchall()
                if sorted(sdf.columns) != sorted(want_cols):
                    failed[name] = f"columns {sorted(sdf.columns)} vs {sorted(want_cols)}"
                elif _canon(got, sdf.columns) != _canon(want, want_cols):
                    failed[name] = f"{len(got)} rows vs {len(want)}, values differ"
            except Exception as e:  # noqa: BLE001 — a leaf that raises is a failed leaf
                failed[name] = f"{type(e).__name__}: {e}"[:300]
    finally:
        con.close()
        pyoracle._cache_dir, multimodal.MEDIA_FIXTURE_PATH = saved
    timed = list(seconds.values())
    return {
        "sf_dir": sf,
        "leaves": len(leaves()),
        "green": len(leaves()) - len(failed),
        "failed": failed,
        "seconds": seconds,
        "query_total_s": sum(timed),
        "query_geomean_s": statistics.geometric_mean(timed) if timed else float("nan"),
    }
