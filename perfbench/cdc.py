"""The two CDC workloads: ``bulk_8k`` (closed-loop replay of ~8 KB pages)
and ``stream_tail`` (open-loop stream of small pages). Both drive the
program through its public entry points: ``CdcPipeline`` (with
``sink_mode="mor"`` and ``post_commit``, defaults for everything else),
``run_stream_processing_time``, ``IngestNearDupIndex`` and the event-log
helpers. Only the final compactions and the traced run's prefix probes
call the pipeline's private helpers, so that they follow the program's
own logic. Both time point lookups (stream_tail beside its writes, bulk_8k
after its drain), run the same correctness gates and report the same
metrics.
"""

from __future__ import annotations

import glob
import os
import random
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import Observation
from pyspark.sql import functions as F

from cosmwasm_etl_spark.functions.extraction import check_quarantine_udf, with_extracted_text
from cosmwasm_etl_spark.operators.ingest_dedup import IngestNearDupIndex
from cosmwasm_etl_spark.plans import pipeline as pipeline_mod
from cosmwasm_etl_spark.plans.pipeline import CdcPipeline, create_pages_table
from cosmwasm_etl_spark.sources.eventlog import read_event_log, synthetic_events, write_event_log
from cosmwasm_etl_spark.streaming import runner
from perfbench.host import peak_rss_mb

# bulk_8k: 4 micro-batches, then one compaction of the whole table (the
# pipeline's own compact_every=8 needs more batches than a run can afford)
BULK_BATCHES = 4
BULK_BODY_WORDS = 1150  # ≈ 8 KB of html per page
BULK_EVENTS_PER_CORE_SECOND = 4
# stream_tail: ~40-word pages arriving in bursts of 4 files × 100 events
# every 8 s (50 events/s); each url is updated ~10 times over a run. One
# burst applies as one batch in ~4 s on a 4-core host, so the stream runs
# at about half its drain rate. Its pages are all decodable, so no batch
# pays the dead-letter capture: that cost is bulk_8k's.
STREAM_BURST_EVERY_S = 8.0
STREAM_FILES_PER_BURST = 4
STREAM_EVENTS_PER_FILE = 100
STREAM_BODY_WORDS = 40
STREAM_UPDATES_PER_URL = 10
STREAM_LOOKUP_EVERY_S = 5.0
GATE_LOOKUPS = 16
# bulk_8k has 1 % undecodable pages (the generator's default is 0.2 %): at
# 0.2 % about half of the ~400-event batches hold no bad page, so whether a
# batch pays the dead-letter capture changed with the seed (ten seeds gave
# batch_p50_s an interquartile spread of 0.23 of its median); at 1 % every
# batch pays it
BULK_BAD_PAGES_PER_MILLE = 10


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: int
    nproc: int
    mem_scale: float
    tracer: object | None = None
    warm: object = None  # () -> seconds: warms the session's Python workers
    warm_s: float = float("nan")
    t_start: float = field(default_factory=time.time)
    sections: dict = field(default_factory=dict)
    batch_tags: set = field(default_factory=set)  # ids of the applied batches, as the event log tags jobs
    lookup_windows: list = field(default_factory=list)  # (start, end) of each timed point lookup
    attempted: int = 0
    failed: int = 0

    def mark(self, name: str) -> None:
        self.sections.setdefault("timeline_s", {})[name] = round(time.time() - self.t_start, 2)

    def op(self, ok: bool, n: int = 1) -> None:
        self.attempted += n
        if not ok:
            self.failed += n

    def degrade(self, section: str, e: BaseException) -> None:
        self.sections[section] = {"degraded": f"{type(e).__name__}: {e}"[:300]}
        self.op(False)


def quantile(values: list[float], q: float) -> float:
    v = sorted(values)
    if not v:
        return float("nan")
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def tail_q(n: int) -> float:
    """The highest quantile with at least ten samples beyond it; with fewer
    than 20 samples no quantile above the median has that, and the maximum
    is reported instead."""
    return 1.0 - 10.0 / n if n >= 20 else 1.0


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**", "*"), recursive=True) if os.path.isfile(p))


def file_seq_ranges(log_dir: str) -> list[tuple[str, int, int]]:
    """(path, min seq, max seq) of each parquet file of a log, in seq order,
    from the footers' statistics."""
    import pyarrow.parquet as pq

    out = []
    for p in glob.glob(os.path.join(log_dir, "*.parquet")):
        md = pq.ParquetFile(p).metadata
        if md.num_rows == 0:
            continue
        col = md.schema.to_arrow_schema().get_field_index("seq")
        lo = min(md.row_group(i).column(col).statistics.min for i in range(md.num_row_groups))
        hi = max(md.row_group(i).column(col).statistics.max for i in range(md.num_row_groups))
        out.append((p, lo, hi))
    return sorted(out, key=lambda t: t[1])


def input_stats(events, seed: int, n: int = 400) -> tuple[int, list[tuple[int, str]]]:
    """Html bytes of the input and a seeded sample of its (seq, url) rows,
    from one narrow scan of the log."""
    rows = sorted(events.select("seq", "url", F.length("html").alias("n")).collect())
    sample = random.Random(seed).sample(rows, min(n, len(rows)))
    return sum(int(r.n or 0) for r in rows), [(int(r.seq), r.url) for r in sample]


# ------------------------------------------------------------------ clients


class Reader(threading.Thread):
    """Open-loop point-lookup client. Urls are drawn (seeded) from the
    sampled log rows whose seq the table has already committed. Once the
    first commit is there, one untimed lookup plans the read path (~5 s,
    once per process); then lookup k is due at that moment + k·interval and
    is timed from when it was due, so a stall delays later lookups and
    counts against them."""

    def __init__(self, spark, pipe: CdcPipeline, sample: list[tuple[int, str]], seed: int, interval: float):
        super().__init__(daemon=True)
        self.spark, self.pipe, self.sample = spark, pipe, sorted(sample)
        self.rng = random.Random(seed)
        self.interval = interval
        self.stop_evt = threading.Event()
        self.latencies: list[float] = []
        self.windows: list[tuple[float, float]] = []  # (sent, done) of each timed lookup
        self.errors: list[str] = []

    def _lookup(self) -> tuple[float, float] | None:
        hi = committed_seq(self.pipe)
        pool = [u for s, u in self.sample if s <= hi]
        if not pool:
            return None
        url = self.rng.choice(pool)
        sent = time.time()
        try:
            self.pipe.pages_for(self.spark.createDataFrame([(url,)], "url string")).collect()
        except Exception as e:  # noqa: BLE001 — a failed lookup is counted; the run goes on
            self.errors.append(f"{type(e).__name__}: {e}"[:300])
            return None
        return sent, time.time()

    def run(self) -> None:
        while self._lookup() is None:  # the untimed first lookup
            if self.stop_evt.wait(0.5):
                return
        t0 = time.time()
        k = 1
        while not self.stop_evt.wait(max(0.0, t0 + k * self.interval - time.time())):
            due = t0 + k * self.interval
            k += 1
            window = self._lookup()
            if window is not None:
                self.latencies.append(window[1] - due)
                self.windows.append(window)

    def finish(self) -> None:
        self.stop_evt.set()
        self.join(timeout=120)


class Releaser(threading.Thread):
    """Moves pre-written log files into the stream's source directory on
    schedule, ``per_burst`` files at a time. Each file's mtime is set to its
    release time before the move, so the file source takes them in order."""

    def __init__(self, files: list[tuple[str, int, int]], src_dir: str, t0: float, every_s: float, per_burst: int):
        super().__init__(daemon=True)
        self.files, self.src_dir, self.t0, self.every_s, self.per_burst = files, src_dir, t0, every_s, per_burst
        self.released: list[tuple[float, int]] = []
        self.late: list[float] = []

    def run(self) -> None:
        for b in range(0, len(self.files), self.per_burst):
            due = self.t0 + (b // self.per_burst) * self.every_s
            time.sleep(max(0.0, due - time.time()))
            now = time.time()
            self.late.append(now - due)
            for path, _lo, hi in self.files[b:b + self.per_burst]:
                os.utime(path, (now, now))
                os.replace(path, os.path.join(self.src_dir, os.path.basename(path)))
                self.released.append((now, hi))


class BatchClock:
    """The ``post_commit`` hook: records when each batch's post-commit step
    ended. A batch's time runs from its apply start (lineage ``wall_ts`` −
    ``duration_ms``) to then, so it covers validity, exchange, extraction,
    write, commit, dead-letter capture and compaction."""

    def __init__(self):
        self.done: dict[int, float] = {}

    def __call__(self, events, batch_id: int, stats: dict) -> None:
        self.done[batch_id] = time.time()

    def batch_seconds(self, lineage: list[dict]) -> list[float]:
        return [
            self.done[s["batch_id"]] - apply_start(s)
            for s in lineage
            if not s.get("skipped") and s["batch_id"] in self.done
        ]


def committed_seq(pipe: CdcPipeline) -> int:
    return max((int(s["max_seq"]) for s in pipe.lineage() if s.get("max_seq") is not None), default=-1)


def apply_start(lin: dict) -> float:
    return lin["wall_ts"] - lin["duration_ms"] / 1000.0


# ------------------------------------------------------------------ run


def generate(ctx: Ctx, write) -> float:
    """Write the input log while the Python workers warm up beside it (the
    log is written by the JVM alone); returns the writing's own seconds."""
    with ThreadPoolExecutor(max_workers=1) as ex:
        warm = ex.submit(ctx.warm)
        t = time.time()
        write()
        gen_s = time.time() - t
        ctx.warm_s = warm.result()
    ctx.mark("gen_done")
    return gen_s


@dataclass
class Setup:
    """What a workload's set-up hands to the measured part."""

    pipe: CdcPipeline
    clock: BatchClock
    events: object  # () -> the whole log as written, for the gates and the probes
    log_dir: str
    files: list[tuple[str, int, int]]
    sample: list[tuple[int, str]]
    input_bytes: int
    gen_s: float
    lookup_every_s: float | None  # None: lookups after the writer, as part of the gates
    info: dict


def bulk_8k(ctx: Ctx, setup_s: float) -> dict:
    per_batch = max(100, int(BULK_EVENTS_PER_CORE_SECOND * ctx.nproc * ctx.seconds * ctx.mem_scale))
    n_events = per_batch * BULK_BATCHES
    log_dir = os.path.join(ctx.work, "log")
    t = time.time()
    gen_s = generate(ctx, lambda: write_event_log(
        synthetic_events(
            ctx.spark, n_events, events_per_epoch=per_batch, seed=ctx.seed, body_words=BULK_BODY_WORDS,
            quarantine_per_mille=BULK_BAD_PAGES_PER_MILLE,
        ),
        log_dir,
    ))
    events = read_event_log(ctx.spark, log_dir)
    input_bytes, sample = input_stats(events, ctx.seed)
    clock = BatchClock()
    table = create_pages_table(ctx.spark, os.path.join(ctx.work, "pages"))
    pipe = CdcPipeline(ctx.spark, table, os.path.join(ctx.work, "pipe"), sink_mode="mor", post_commit=clock)
    su = Setup(
        pipe, clock, lambda: events, log_dir, file_seq_ranges(log_dir), sample, input_bytes, gen_s, None,
        {"events": n_events, "batches": BULK_BATCHES, "events_per_batch": per_batch, "body_words": BULK_BODY_WORDS},
    )
    setup_s += time.time() - t

    def drive(t0: float):
        # closed loop: the whole log is released at once, when the drain starts
        late = [time.time() - t0]
        pipe.run_replay(events, epochs_per_batch=1)
        # the final state is a compacted table: fold the deltas with the
        # pipeline's own MOR resolution
        table.compact(pipe._resolve_latest)
        return [(t0, hi) for _, _, hi in su.files], late, time.time()

    return measure(ctx, setup_s, su, drive)


def stream_tail(ctx: Ctx, setup_s: float) -> dict:
    n_bursts = int(ctx.seconds // STREAM_BURST_EVERY_S) + 1
    n_files = n_bursts * STREAM_FILES_PER_BURST
    n_events = n_files * STREAM_EVENTS_PER_FILE
    n_urls = max(10, n_events // STREAM_UPDATES_PER_URL)
    stage, src = os.path.join(ctx.work, "stage"), os.path.join(ctx.work, "src")
    os.makedirs(src)
    t = time.time()
    gen_s = generate(ctx, lambda: write_event_log(
        synthetic_events(
            ctx.spark, n_events, n_urls=n_urls, events_per_epoch=max(1, n_events // n_files),
            seed=ctx.seed, body_words=STREAM_BODY_WORDS, quarantine_per_mille=0,
        ),
        stage, range_partitions=n_files,
    ))
    input_bytes, sample = input_stats(read_event_log(ctx.spark, stage), ctx.seed)
    files = file_seq_ranges(stage)
    clock = BatchClock()
    table = create_pages_table(ctx.spark, os.path.join(ctx.work, "pages"))
    pipe = CdcPipeline(ctx.spark, table, os.path.join(ctx.work, "pipe"), sink_mode="mor", post_commit=clock)
    su = Setup(
        pipe, clock, lambda: read_event_log(ctx.spark, src), src, files, sample, input_bytes, gen_s, STREAM_LOOKUP_EVERY_S,
        {"events": n_events, "bursts": n_bursts, "burst_every_s": STREAM_BURST_EVERY_S,
         "rate_events_per_s": STREAM_FILES_PER_BURST * STREAM_EVENTS_PER_FILE / STREAM_BURST_EVERY_S, "files": n_files,
         "body_words": STREAM_BODY_WORDS, "urls": n_urls},
    )
    setup_s += time.time() - t

    def drive(t0: float):
        releaser = Releaser(files, src, t0, STREAM_BURST_EVERY_S, STREAM_FILES_PER_BURST)
        releaser.start()
        deadline = time.time() + ctx.seconds * 4 + 60
        want, ckpt = n_bursts, os.path.join(ctx.work, "ckpt")
        try:
            # one batch per burst; a burst a trigger happened to split leaves
            # files behind, which a restart from the checkpoint picks up
            while want and time.time() < deadline:
                runner.run_stream_processing_time(
                    ctx.spark, pipe, src, ckpt, trigger_seconds=1.0, stall_after=10**6,
                    stop_after_batches=want, timeout_sec=max(1, int(deadline - time.time())),
                )
                releaser.join(timeout=max(0.0, deadline - time.time()))
                want = 0 if committed_seq(pipe) >= files[-1][2] else 1
        finally:
            releaser.join()
        return releaser.released, releaser.late, None

    return measure(ctx, setup_s, su, drive)


def measure(ctx: Ctx, setup_s: float, su: Setup, drive) -> dict:
    """Run the workload's writer (with the reader beside it, if it has
    one), then the gates, then (traced runs only) the per-layer figures."""
    pipe, table = su.pipe, su.pipe.table
    ctx.mark("setup_done")
    v0 = table.state().version
    t0 = time.time()
    reader = Reader(ctx.spark, pipe, su.sample, ctx.seed, su.lookup_every_s) if su.lookup_every_s else None
    if reader:
        reader.start()
    released, late, t_end = [], [], None
    try:
        released, late, t_end = drive(t0)
    except Exception as e:  # noqa: BLE001 — the writer failing degrades the workload
        ctx.degrade("writer", e)
    finally:
        if reader:
            reader.finish()
    lineage = pipe.lineage()
    applied = [s for s in lineage if not s.get("skipped")]
    # the window ends at the final committed state: the writer's own end
    # when it has one (bulk_8k's compaction), else the last batch
    t1 = t_end or max([*su.clock.done.values(), *(s["wall_ts"] for s in applied), t0])
    covered = max((int(s["max_seq"]) for s in applied if s.get("max_seq") is not None), default=-1)
    all_in = bool(su.files) and covered >= su.files[-1][2]
    ctx.op(True, len(applied))
    ctx.op(all_in)  # every event of the log reached a commit
    if reader:
        ctx.op(True, len(reader.latencies))
        ctx.lookup_windows.extend(reader.windows)
        if reader.errors:
            ctx.op(False, len(reader.errors))
    fresh = freshness(applied, released)
    n_applied = sum(int(s.get("n_events") or 0) for s in applied)
    # closed loop: events over the wall time to the final state; open loop:
    # the wall time follows the release schedule, so the rate is the drain
    # rate, events over the batches' own apply time
    busy = t1 - t0 if reader is None else sum(s["duration_ms"] for s in applied) / 1000.0
    e2e = {
        "setup_s": setup_s,
        "events_per_s": n_applied / max(busy, 1e-9),
        "batch_p50_s": _median(su.clock.batch_seconds(applied)),
        "freshness_p50_s": _median(fresh),
        "freshness_tail_s": quantile(fresh, tail_q(len(fresh))),
        "peak_rss_mb": peak_rss_mb(ctx.spark),
        "stored_bytes_per_input_byte": table.describe()["bytes"] / max(su.input_bytes, 1),
    }
    ctx.mark("window_done")
    ctx.sections["batches"] = {"apply_s": [round(s["duration_ms"] / 1000.0, 3) for s in applied]}
    ctx.sections["input"] = {
        **su.info, "html_bytes": su.input_bytes, "log_files": len(su.files), "applied_batches": len(applied),
        "all_committed": all_in, "freshness_samples": len(fresh), "tail_quantile": round(tail_q(len(fresh)), 3),
    }
    ctx.sections["gates"] = gates(ctx, pipe, su.events(), su.sample, timed=reader is None)
    lookups = reader.latencies if reader else ctx.sections["gates"].get("lookup_s", [])
    e2e["lookup_p50_s"] = _median(lookups)
    ctx.sections["lookups"] = {
        "beside_writes": reader is not None, "n": len(lookups), "latency_s": [round(x, 3) for x in lookups],
        "service_s": [round(b - a, 3) for a, b in reader.windows] if reader else None,
        "errors": reader.errors[:3] if reader else [],
    }
    ctx.mark("gates_done")
    layer = None
    if ctx.tracer is not None:
        try:
            layer = layers(ctx, su, v0, t0, t1, applied, released, late)
        except Exception as e:  # noqa: BLE001 — the end-to-end figures still print
            ctx.degrade("layers", e)
        ctx.mark("layers_done")
    return {"e2e": e2e, "layer": layer}


def _median(v: list[float]) -> float:
    return statistics.median(v) if v else float("nan")


def freshness(applied: list[dict], released: list[tuple[float, int]]) -> list[float]:
    """Per released file: release time → wall_ts of the first commit whose
    max_seq covers the file's last seq."""
    commits = sorted((s["wall_ts"], int(s["max_seq"])) for s in applied if s.get("max_seq") is not None)
    out = []
    for rel, last in released:
        ts = next((w for w, m in commits if m >= last), None)
        if ts is not None:
            out.append(ts - rel)
    return out


def gates(ctx: Ctx, pipe: CdcPipeline, events, sample: list[tuple[int, str]], timed: bool) -> dict:
    """Untimed correctness gates: the replay-equivalence audit, and a seeded
    sample of point lookups against ``expected_state``. With ``timed`` the
    sample is looked up as three closed-loop calls of a third of the urls
    each, and their latencies are the workload's lookup figures. The audit and the
    lookup oracle run side by side, after the timed lookups."""
    out: dict = {}
    try:
        picks = random.Random(ctx.seed + 1).sample(sample, min(GATE_LOOKUPS, len(sample)))
        urls = sorted({u for _, u in picks})
        groups = [urls[i::3] for i in range(3)] if timed else [urls]
        cols = ["url", "warc_ts", "text", "lang"]
        got, lat = set(), []
        for g in groups:
            t = time.time()
            rows = pipe.pages_for(ctx.spark.createDataFrame([(u,) for u in g], "url string")).collect()
            lat.append(time.time() - t)
            if timed:
                ctx.lookup_windows.append((t, t + lat[-1]))
            got |= {tuple(r[c] for c in cols) for r in rows}
        keys = ctx.spark.createDataFrame([(u,) for u in urls], "url string")
        # latest-wins is per url, so the oracle over the sampled urls' events
        # equals the whole-log oracle restricted to those urls
        mine = events.join(F.broadcast(keys), "url")
        with ThreadPoolExecutor(max_workers=1) as ex:
            audit = ex.submit(lambda: pipe.audit(events).count())
            want = {tuple(r) for r in pipe.expected_state(mine).select(*cols).collect()}
            diff = audit.result()
        out["lookup_sample"] = {"urls": len(urls), "live": len(want), "mismatched": len(got ^ want)}
        out["audit_diff_rows"] = diff
        if timed:
            out["lookup_s"] = lat
        ctx.op(got == want)
        ctx.op(diff == 0)
    except Exception as e:  # noqa: BLE001 — a gate that raises is a failed gate
        ctx.degrade("gates", e)
    return out


# ------------------------------------------------------------------ layers


def prefix_probes(pipe: CdcPipeline, batch_events) -> dict:
    """Per-phase split of one batch from cumulative plans, each written once
    to the ``noop`` sink: scan; + the validity column as apply_batch builds
    it; + the latest-wins stage; + bucket exchange and with_extracted_text.
    Consecutive differences are the phases. The plans use the pipeline's own validity rule, winner
    selection and bucket function, so they follow the program when those
    change; a helper that is gone fails the probe instead of timing a copy."""
    table = pipe.table
    n_buckets = table.state().num_buckets
    valid = batch_events.withColumn(
        "__q_err", check_quarantine_udf()(F.when(~pipeline_mod._is_ok_fast_expr(), F.col("html")))
    ).filter(F.col("__q_err").isNull()).drop("__q_err")
    winners = pipe._dedup(valid)
    placed = winners.withColumn("__b", table._bucket_expr("url", n_buckets)).repartition(
        max(n_buckets, 1), F.col("__b")
    ).drop("__b")
    rows = Observation("perfbench-extract-rows")
    extracted = with_extracted_text(placed, html_col="html", out_text="text").observe(rows, F.count(F.lit(1)).alias("n"))
    plans = [("scan", batch_events), ("validity", valid), ("latest_wins", winners), ("exchange_extract", extracted)]
    cum = {}
    for name, df in plans:
        t = time.time()
        df.write.format("noop").mode("overwrite").save()
        cum[name] = time.time() - t
    phases, prev = {}, 0.0
    for name, _ in plans:
        phases[name] = cum[name] - prev
        prev = cum[name]
    return {"cumulative_s": cum, "phase_s": phases, "extract_rows": rows.get["n"]}


def lakehouse_log_metrics(table, since_version: int) -> dict:
    """Commit-log figures for the versions after ``since_version``."""
    hist = [h for h in table.history() if h["version"] > since_version]
    prev = set(table.state(since_version).files)
    written = rewritten = delta_max = 0
    for h in hist:
        st = table.state(h["version"])
        added = sum(e["bytes"] for p, e in st.files.items() if p not in prev)
        written += added
        if h["operation"] == "compact":
            rewritten += added
        delta_max = max(delta_max, len(st.delta_files))
        prev = set(st.files)
    return {
        "lakehouse.commits": len(hist),
        "lakehouse.compactions": sum(1 for h in hist if h["operation"] == "compact"),
        "lakehouse.bytes_written": written,
        "lakehouse.compact_bytes_rewritten": rewritten,
        "lakehouse.delta_files_max": delta_max,
        "lakehouse.bucket_skew": table.describe()["skew"],
        # rows out of the latest-wins stage = the winner rows deltas added
        "operators.latest_wins_rows_out": sum(
            int(h["summary"].get("added_rows") or 0) for h in hist if h["operation"] == "delta"
        ),
    }


def layers(ctx: Ctx, su: Setup, v0: int, t0: float, t1: float, applied: list[dict],
           released: list[tuple[float, int]], late: list[float]) -> dict:
    tr, pipe = ctx.tracer, su.pipe

    def spans(name: str):
        return [s for s in tr.named(name) if t0 <= s.start <= t1]

    applies = spans("plans.apply_batch")
    ctx.batch_tags = {str(s.batch) for s in applies}
    # the workload's own timed point lookups: the reader's, or for bulk_8k
    # the gate's timed lookups after the window; the reader's untimed first
    # lookup, the gate's oracle lookup and calls made inside the post-commit
    # task are not counted
    lookups = [
        s.dur for s in tr.named("plans.pages_for")
        if s.parent is None and any(a <= s.start and s.end <= b for a, b in ctx.lookup_windows)
    ]
    states = spans("lakehouse.state")
    # (commit wall_ts, apply start, max seq) per applied batch
    commits = sorted((s["wall_ts"], apply_start(s), int(s["max_seq"])) for s in applied if s.get("max_seq") is not None)
    waits = [next((a for _, a, m in commits if m >= hi), rel) - rel for rel, hi in released]
    backlog = [
        sum(1 for rel, _ in released if rel <= st)
        - sum(1 for _, hi in released if any(m >= hi for w, _, m in commits if w <= st))
        for _, st, _ in commits
    ]
    layer = {
        "sources.gen_s": su.gen_s,
        "sources.log_bytes": dir_bytes(su.log_dir),
        "plans.apply_batch_s": _median([s.dur for s in applies]),
        "plans.capture_s": sum(s.dur for s in spans("plans.capture")),
        "plans.quarantined_rows": sum(int(s.get("n_quarantined") or 0) for s in applied),
        "plans.pages_for_s": _median(lookups),
        "lakehouse.append_delta_s": _median([s.dur for s in spans("lakehouse.append_delta")]),
        "lakehouse.compact_s": sum(s.dur for s in spans("lakehouse.compact")),
        "lakehouse.state_calls": len(states),
        "lakehouse.state_s": sum(s.dur for s in states),
        "streaming.batches": len(applied),
        "streaming.backlog_max_files": max(backlog, default=0),
        "streaming.trigger_wait_s": _median(waits),
        "streaming.gen_late_s": max(late, default=0.0),
    }
    tr.enabled = False  # the reads below are the benchmark's, not the workload's
    try:
        layer.update(lakehouse_log_metrics(pipe.table, v0))
    finally:
        tr.enabled = True
    # one steady batch, split into phases by the prefix probes
    mid = applied[len(applied) // 2]
    batch_events = su.events().filter((F.col("seq") >= int(mid["min_seq"])) & (F.col("seq") <= int(mid["max_seq"])))
    full_s = mid["duration_ms"] / 1000.0
    try:
        pr = prefix_probes(pipe, batch_events)
        ctx.sections["probes"] = {
            "batch_id": mid["batch_id"], "events": mid["n_events"], **pr, "full_apply_s": full_s,
            "unexplained_s": full_s - pr["cumulative_s"]["exchange_extract"],
        }
    except Exception as e:  # noqa: BLE001 — a side measurement; the section degrades
        ctx.degrade("probes", e)
        pr = {"phase_s": {}, "extract_rows": float("nan")}
    layer.update({
        "sources.scan_s": pr["phase_s"].get("scan", float("nan")),
        "functions.validity_s": pr["phase_s"].get("validity", float("nan")),
        "operators.latest_wins_s": pr["phase_s"].get("latest_wins", float("nan")),
        "functions.extract_s": pr["phase_s"].get("exchange_extract", float("nan")),
        "functions.extract_rows": pr["extract_rows"],
    })
    # the post-commit task, probed on the same batch after the window:
    # neither workload runs it inside its window (see perfbench/README.md)
    try:
        idx = IngestNearDupIndex(ctx.spark, os.path.join(ctx.work, "idx"), pipe.pages, pages_for_fn=pipe.pages_for)
        t = time.time()
        idx.advance(batch_events, mid["batch_id"])
        adv_s = time.time() - t
        layer["operators.ingest_dedup.advance_s"] = adv_s
        layer["operators.ingest_dedup.pairs"] = idx.near_dups().count()
        layer["operators.ingest_dedup.overhead_ratio"] = adv_s / full_s
    except Exception as e:  # noqa: BLE001
        ctx.degrade("advance_probe", e)
    # a window without a compaction (stream_tail) gets one compaction of
    # its final table as a probe, so compaction is timed at both table sizes
    if not layer["lakehouse.compactions"]:
        try:
            t = time.time()
            pipe.table.compact(pipe._resolve_latest)
            layer["lakehouse.compact_s"] = time.time() - t
            ctx.sections["compaction_probe"] = {"seconds": layer["lakehouse.compact_s"]}
        except Exception as e:  # noqa: BLE001
            ctx.degrade("compaction_probe", e)
    return layer


def spark_layer(ctx: Ctx, event_dir: str) -> dict:
    from perfbench.spans import read_event_log as read_spark_log, spark_metrics

    ev = read_spark_log(event_dir)
    if not any(j["tag"] in ctx.batch_tags for j in ev["jobs"]):
        raise ValueError(f"no job in the event log is tagged with an applied batch id ({len(ev['jobs'])} jobs)")
    return spark_metrics(ev, ctx.batch_tags)
