"""Mid-stream schema evolution + version-dispatched extraction (FIXTURES §4,
SURVEY §7.4.5, M5).

Parity anchors: migration-with-backfill
(`/root/reference/db/migrations/parser/20221108151545_divided_commission_signed_lp.up.sql`),
nullable column add (`20260514121725_add_first_invalid_height.up.sql`),
height-gated parser versions (`parser/dex/dezswap/pair.mappers.go:41-58`).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cosmwasm_etl_spark.functions.extraction import extract_text_bytes, extract_text_bytes_v2
from cosmwasm_etl_spark.plans.pipeline import CdcPipeline, create_pages_table
from cosmwasm_etl_spark.sources.eventlog import synthetic_events

EVOLUTIONS = [
    (4, "add_column", {"name": "fetch_status", "type": "int"}),
    (8, "rename_column", {"old": "lang", "new": "language"}),
    (8, "widen_type", {"name": "fetch_status", "to": "long"}),
]


def events_with_payload_evolution(spark, n=12_000):
    """Events whose payload carries fetch_status from epoch >= 4 on.
    n_urls ≫ events/epoch so some urls' latest version predates epoch 4."""
    ev = synthetic_events(spark, n, n_urls=6_000, events_per_epoch=1_000)
    return ev.withColumn(
        "fetch_status",
        F.when(F.col("epoch") >= 4, (200 + F.pmod(F.col("seq"), F.lit(3)) * 100).cast("int")),
    )


def test_evolution_applied_at_same_boundary_on_replay(spark, tmp_path):
    ev = events_with_payload_evolution(spark)
    table = create_pages_table(spark, str(tmp_path / "pages"), num_buckets=8)
    pipe = CdcPipeline(spark, table, str(tmp_path / "work"))
    pipe.run_replay(ev, epochs_per_batch=2, schema_evolutions=EVOLUTIONS)

    cols = dict(table.read().dtypes)
    assert "fetch_status" in cols and cols["fetch_status"] == "bigint"  # widened
    assert "language" in cols and "lang" not in cols

    # rows whose final version predates the column have NULL; later ones carry it
    pages = pipe.pages()
    with_status = pages.filter(F.col("fetch_status").isNotNull())
    without = pages.filter(F.col("fetch_status").isNull())
    assert with_status.count() > 0 and without.count() > 0
    # every non-null fetch_status came from an epoch>=4 event
    assert with_status.filter(F.col("fetch_status") < 200).count() == 0

    # restart: second replay is a pure no-op (evolutions idempotent)
    v1 = table.state().version
    pipe2 = CdcPipeline(spark, table, str(tmp_path / "work"))
    stats = pipe2.run_replay(ev, epochs_per_batch=2, schema_evolutions=EVOLUTIONS)
    assert all(s.get("skipped") for s in stats)
    assert table.state().version == v1


def test_partial_replay_then_restart_evolves_once(spark, tmp_path):
    ev = events_with_payload_evolution(spark)
    table = create_pages_table(spark, str(tmp_path / "pages"), num_buckets=8)
    pipe = CdcPipeline(spark, table, str(tmp_path / "work"))
    # first 3 batches only (crosses the epoch-4 boundary)
    early = ev.filter(F.col("epoch") < 6)
    pipe.run_replay(early, epochs_per_batch=2, schema_evolutions=EVOLUTIONS)
    assert "fetch_status" in dict(table.read().dtypes)
    assert "language" not in dict(table.read().dtypes)  # epoch-8 step not yet due

    pipe2 = CdcPipeline(spark, table, str(tmp_path / "work"))
    pipe2.run_replay(ev, epochs_per_batch=2, schema_evolutions=EVOLUTIONS)
    cols = dict(table.read().dtypes)
    assert cols.get("fetch_status") == "bigint" and "language" in cols
    evolve_commits = [h for h in table.history() if h["operation"] == "evolve_schema"]
    assert len(evolve_commits) == 3  # each step applied exactly once across restarts


def test_version_dispatched_extraction(spark, tmp_path):
    """M5: epochs < 5 extract with v1, >= 5 with v2 (strips <noscript>)."""
    ev = synthetic_events(spark, 8_000, n_urls=700, events_per_epoch=1_000, quarantine_per_mille=0)
    # make the payload version-sensitive: wrap body in <noscript>
    ev = ev.withColumn(
        "html",
        F.when(
            F.col("op") != "delete",
            F.concat(F.lit("<p>pre</p><noscript>"), F.col("html"), F.lit("</noscript>")),
        ).otherwise(F.col("html")),
    )
    table = create_pages_table(spark, str(tmp_path / "pages"), num_buckets=8)
    pipe = CdcPipeline(
        spark, table, str(tmp_path / "work"), extract_versions=[(0, 1), (5, 2)]
    )
    pipe.run_replay(ev, epochs_per_batch=2)

    rows = pipe.pages().select("url", "html", "text", "seq").collect()
    assert rows
    checked_v1 = checked_v2 = 0
    for r in rows:
        epoch = None  # recover epoch from seq: events_per_epoch=1000
        epoch = r.seq // 1000
        want = (extract_text_bytes if epoch < 5 else extract_text_bytes_v2)(r.html)[0]
        assert r.text == want, (r.url, epoch)
        if epoch < 5:
            checked_v1 += 1
        else:
            checked_v2 += 1
    assert checked_v1 > 0 and checked_v2 > 0
    # the two versions genuinely differ on this payload
    sample = [r for r in rows if r.seq // 1000 >= 5][0]
    assert extract_text_bytes(sample.html)[0] != extract_text_bytes_v2(sample.html)[0]
