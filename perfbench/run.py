"""Layered CDC benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload bulk_8k --seed 1 --seconds 24 --trace 0

Run it from the root of a checkout. It builds nothing: the program is the
``cosmwasm_etl_spark`` package beside this directory. Every input is
generated from ``--seed``; all scratch data lives under ``.perfbench_work/``
in the checkout and is removed when the run ends.

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics of BENCHMARK.json (``--trace 0``) or its per-layer metrics
(``--trace 1``). The line before it is the full report: host and build,
input sizes, gate outcomes, prefix probes, degraded sections, and in a
traced run the end-to-end figures measured under tracing and every span.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys
import time
import traceback

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("bulk_8k", "stream_tail")
# a traced run starts no query leaf later than this after the process start:
# the slowest leaf it runs takes ~4 s, stopping the session ~3 s, and the
# run must end within 180 s
QUERY_DEADLINE_S = 160


def _parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=24)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _env(work: str, host: dict, trace: bool) -> dict:
    """Process environment and Spark conf that keep every file the run
    writes inside ``work`` and size the session from the host."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(host["nproc"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{host['heap_gb']}g"
    # no /tmp/hsperfdata file: the JVM writes nothing outside the checkout
    os.environ["SPARK_GRAFT_JAVA_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        events = os.path.join(work, "spark-events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
        })
    return conf


def _install_tracer():
    from cosmwasm_etl_spark.lakehouse.table import LakeTable
    from cosmwasm_etl_spark.operators.ingest_dedup import IngestNearDupIndex
    from cosmwasm_etl_spark.plans.pipeline import CdcPipeline
    from perfbench.spans import Tracer

    tr = Tracer()
    tr.wrap(CdcPipeline, "apply_batch", "plans.apply_batch", batch_arg=1, tag_jobs=True)
    tr.wrap(CdcPipeline, "pages_for", "plans.pages_for")
    # the dead-letter capture is internal to apply_batch; it is timed only
    # while the pipeline still has it as a method of its own
    tr.wrap(CdcPipeline, "_capture_quarantine", "plans.capture", batch_arg=1)
    for m in ("append_delta", "compact", "state", "read", "read_buckets"):
        tr.wrap(LakeTable, m, f"lakehouse.{m}")
    tr.wrap(IngestNearDupIndex, "advance", "operators.ingest_dedup.advance", batch_arg=1)
    return tr


def _stop_spark(spark) -> None:
    """Stop the session, if one started, then the JVM it runs in, and wait
    for it; the Python workers are the JVM's children and end with it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        if spark is not None:
            spark.stop()
    finally:
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 — the JVM is terminated below either way
                pass
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _query_layer(ctx, work: str) -> dict:
    """The query leaves, each timed and checked against its oracle, after
    the workload in the same session. Leaves not started by ``QUERY_DEADLINE_S``
    after the process start are skipped and count as failed, so that the
    run still ends in time on a slow host."""
    from perfbench.query_layer import run_queries

    try:
        q = run_queries(ctx.spark, work, deadline=T_START + QUERY_DEADLINE_S)
    except Exception as e:  # noqa: BLE001 — a side measurement; the section degrades
        traceback.print_exc()
        ctx.degrade("queries", e)
        return {}
    ctx.op(True, q["green"])
    ctx.op(False, len(q["failed"]))
    ctx.sections["queries"] = {**q, "seconds": {k: round(v, 3) for k, v in q["seconds"].items()}}
    ctx.mark("queries_done")
    return {f"queries.{name}_s": v for name, v in q["seconds"].items()}


def _finite(v) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool) and math.isfinite(v)


def run(args: argparse.Namespace) -> tuple[dict, dict]:
    from perfbench import cdc
    from perfbench.host import host_info

    spec = _spec()
    host = host_info(ROOT)
    report: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace, "host": host}
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    spark = tracer = ctx = None
    out: dict = {}
    try:
        conf = _env(work, host, bool(args.trace))
        tracer = _install_tracer() if args.trace else None
        from cosmwasm_etl_spark.session import build_session, warm_python_workers

        t = time.time()
        spark = build_session(f"perfbench-{args.workload}", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        start_s = time.time() - t
        nproc = host["nproc"]

        def warm() -> float:
            t = time.time()
            # one worker per core: local[nproc] never runs more Python workers
            warm_python_workers(spark, parallelism=nproc)
            return time.time() - t

        ctx = cdc.Ctx(spark, work, args.seed, args.seconds, nproc, host["input_scale"], tracer, warm, t_start=T_START)
        ctx.mark("session_done")
        try:
            out = getattr(cdc, args.workload)(ctx, start_s)
        except Exception as e:  # noqa: BLE001 — the workload degrades; the report still prints
            traceback.print_exc()
            ctx.sections["workload"] = {"degraded": f"{type(e).__name__}: {e}"[:300]}
            ctx.op(False)
        if args.trace:
            layer = out.setdefault("layer", {})
            layer["session.start_s"] = start_s
            layer["session.warm_workers_s"] = ctx.warm_s
            tracer.enabled = False  # the query leaves are not the workload's calls
            layer.update(_query_layer(ctx, work))
        report["sections"] = ctx.sections
    finally:
        if tracer is not None:
            tracer.restore()
        try:
            _stop_spark(spark)
        except Exception:  # noqa: BLE001
            traceback.print_exc()
        if args.trace and ctx is not None and out.get("layer") is not None:
            try:
                out["layer"].update(cdc.spark_layer(ctx, os.path.join(work, "spark-events")))
            except Exception as e:  # noqa: BLE001 — a side measurement; marks the section degraded
                report.setdefault("sections", {})["spark_event_log"] = {"degraded": f"{type(e).__name__}: {e}"[:300]}
                ctx.op(False)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
        except OSError:
            pass

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = (out.get("layer") if args.trace else out.get("e2e")) or {}
    metrics, missing = {}, []
    for m in wanted:
        v = values.get(m["name"])
        if _finite(v):
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        else:
            missing.append(m["name"])
    if tracer is not None:
        report["spans"] = tracer.records()
    if args.trace and out.get("e2e"):
        report["traced_end_to_end"] = out["e2e"]
    if not args.trace and out.get("e2e"):
        # measured and reported, but too noisy on a shared 4-core host to
        # gate (perfbench/README.md, "Gated and reported metrics")
        gated = {m["name"] for m in wanted}
        report["reported_end_to_end"] = {
            k: {"value": v, "unit": "s"} for k, v in out["e2e"].items() if k not in gated
        }
    attempted = max(1, ctx.attempted if ctx else 1)
    failed = (ctx.failed if ctx else 1) + (1 if missing else 0)
    report["missing_metrics"] = missing
    report["total_s"] = time.time() - T_START
    report["failed_frac"] = failed / (attempted + (1 if missing else 0))
    result = {
        "correct": failed == 0 and not missing,
        "attempted": attempted + (1 if missing else 0),
        "failed": failed,
        "metrics": metrics,
    }
    return report, result


def main(argv: list[str]) -> int:
    args = _parse(argv)
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "cosmwasm_etl_spark")):
        print(f"perfbench: no cosmwasm_etl_spark package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path[0] = ROOT  # the checkout root, not this directory
    report, result = run(args)
    print(json.dumps(report, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
