"""Seeded benchmark of the pg_cjk_parser_spark engine.

    python3 perfbench/run.py --workload {build,query,dedup} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  Each invocation is one fresh process
with one ``local[nproc]`` SparkSession and one closed-loop client.  The
last line of standard output is the result object; the line before it
(prefixed ``perfbench-detail``) holds the environment record, the
realized input sizes, every workload-specific figure and, with
``--trace 1``, the per-call and per-layer tables.

``--trace 0`` measures the end-to-end metrics with no instrumentation.
``--trace 1`` runs with Spark's event log on and traces every second op
(a span and job group per public call, cProfile around serving calls);
the per-layer metrics come from the traced ops, and the traced/untraced
difference between the interleaved ops is the in-process tracing
overhead.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import signal
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
from harness import Steal, median  # noqa: E402

KERNEL_SAMPLE_DOCS = 400


class Ctx:
    def __init__(self, rd: harness.RunDir, seed: int):
        from tracing import Tracer

        self.rd = rd
        self.seed = seed
        self.spark = None
        self.tracer = Tracer(None)

    def call(self, module, name, fn, *args, profile=False, attrs=None, **kw):
        with self.tracer.span(module, name, profile=profile, **(attrs or {})):
            return fn(*args, **kw)


def _measure(wl, seconds: float, tracer=None):
    """Closed loop: ops until ``seconds`` passed and at least
    ``wl.MIN_OPS`` ran.  With a tracer, ops 1, 2, 5, 6, ... are traced
    (at least four ops), so traced and untraced ops interleave in ABBA
    order and the JVM's warming affects both alike.  Returns (attempted,
    failed, problems, steal shares, traced op spans, indexes of the
    traced ops)."""
    attempted = failed = 0
    problems: list[str] = []
    steals: list[float] = []
    spans, traced = [], []
    min_ops = max(wl.MIN_OPS, 4) if tracer else wl.MIN_OPS
    if tracer is not None:
        tracer.enabled = False
    t0 = time.perf_counter()
    for i in itertools.count():
        st = Steal()
        try:
            if tracer is not None and i % 4 in (1, 2):
                tracer.enabled = True
                with tracer.span("op", wl.name) as sp:
                    found = wl.op(i)
                spans.append(sp)
                traced.append(i)
            else:
                found = wl.op(i)
        except Exception:
            found = [traceback.format_exc(limit=3)]
        finally:
            if tracer is not None:
                tracer.enabled = False
        steals.append(st.share())
        attempted += 1
        if found:
            failed += 1
            problems.extend(found[:3])
        if i + 1 >= min_ops and time.perf_counter() - t0 >= seconds:
            break
    return attempted, failed, problems, steals, spans, traced


def _kernel_rate(wl, seconds: float = 1.0) -> float:
    """Single-core ``kernel.tokenizer.lexemes`` throughput on a seeded
    sample of the workload's corpus, in chars/s."""
    from pg_cjk_parser_spark.kernel.tokenizer import lexemes

    texts = wl.corpus.text[:KERNEL_SAMPLE_DOCS]
    chars = sum(len(t) for t in texts)
    rates = []
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or len(rates) < 3:
        t0 = time.perf_counter()
        for t in texts:
            lexemes(t)
        rates.append(chars / (time.perf_counter() - t0))
    return median(rates)


def _per_layer(tracer, op_spans, log, kernel_rate, untraced_ms, traced_ms):
    """Per-layer metrics and tables of the traced ops.  An op span is one
    loop iteration: the timed op and the side calls that follow it."""
    import tracing as tr

    reports = [tr.op_report(s, tracer.spans, log, kernel_rate) for s in op_spans]
    heavy = max(reports, key=lambda r: r["wall_ms"])

    def med(key):
        return median([r["spark"].get(key, 0.0) for r in reports])

    metrics = {
        "kernel.lexemes_chars_per_s": (kernel_rate, "chars/s"),
        "trace.op_p50_ms": (traced_ms, "ms"),
        "trace.heaviest_accounted_share": (heavy["accounted_share"], "ratio"),
        "trace.overhead_share": (traced_ms / untraced_ms - 1.0, "ratio"),
        "spark.jobs_per_op": (med("jobs"), "count"),
        "spark.tasks_per_op": (med("tasks"), "count"),
        "spark.task_s_per_op": (med("task_s"), "s"),
        "spark.cpu_s_per_op": (med("cpu_s"), "s"),
        "spark.shuffle_write_bytes_per_op": (med("shuffle_write_bytes"), "bytes"),
        "spark.task_skew": (med("task_skew"), "ratio"),
        "spark.sched_wait_ms_per_op": (med("sched_wait_ms"), "ms"),
        "spark.driver_gap_ms_per_op": (med("driver_gap_ms"), "ms"),
    }
    layers = {}
    for r in reports:
        for k, v in r["layers_ms"].items():
            layers.setdefault(k, []).append(v)
    detail = {
        "traced_ops": len(reports),
        "untraced_op_p50_ms": untraced_ms,
        "jvm_gc_s_per_op": med("gc_s"),
        "layers_ms_per_op_p50": {k: median(v) for k, v in sorted(layers.items())},
        "heaviest_op": heavy,
        "calls_per_op": tr.call_table(tracer.spans, log, len(reports)),
        "task_failures": sum(r["spark"].get("task_failures", 0) for r in reports),
    }
    return metrics, detail


def run(args, root: str) -> dict:
    import tracing as tr
    from workloads import WORKLOADS

    detail: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    steal_run = Steal()
    with harness.RunDir(root) as rd, harness.RssSampler() as rss:
        ctx = Ctx(rd, args.seed)
        wl = WORKLOADS[args.workload](ctx)
        prep = harness.Background(wl.prepare)
        events = rd.sub("eventlog") if args.trace else None
        ctx.spark = harness.start_spark(root, rd, event_dir=events)
        try:
            t_session = time.perf_counter()
            prep.join()
            t_inputs = time.perf_counter()
            detail["environment"] = harness.environment(root, ctx.spark)
            wl.setup()
            wl.bind()
            t_state = time.perf_counter()
            problems = wl.warmup()
            attempted, failed = 1, int(bool(problems))
            setup_s = time.perf_counter() - T_START
            detail["setup_phases_s"] = {
                "session_with_inputs": t_session - T_START,
                "inputs_after_session": t_inputs - t_session,
                "state": t_state - t_inputs,
                "warmup_op": time.perf_counter() - t_state,
            }
            if args.trace:
                kernel_rate = _kernel_rate(wl)
                ctx.tracer = tr.Tracer(ctx.spark.sparkContext)
            a, f, p, steals, op_spans, traced = _measure(
                wl, args.seconds, ctx.tracer if args.trace else None
            )
            attempted, failed, problems = attempted + a, failed + f, problems + p
            if args.trace:
                ctx.spark.stop()  # flushes the event log
                log = tr.EventLog(tr.load_events(events))
                untraced_ms = median(
                    [v for j, v in enumerate(wl.op_ms) if j not in traced]
                )
                traced_ms = median([wl.op_ms[j] for j in traced])
                metrics, detail["trace"] = _per_layer(
                    ctx.tracer, op_spans, log, kernel_rate, untraced_ms, traced_ms
                )
            else:
                metrics = {
                    "setup_s": (setup_s, "s"),
                    "op_p50_ms": (median(wl.op_ms), "ms"),
                    "work_per_s": (wl.work / wl.work_s, "1/s"),
                }
        finally:
            prep.join()
            harness.stop_spark(ctx.spark)
        rss.sample()
        peak_mb = rss.peak / 2**20
    detail.update(
        sizes=wl.sizes,
        work_unit=wl.unit,
        workload_metrics=wl.detail(),
        samples=len(wl.op_ms),
        steal_share_run=steal_run.share(),
        steal_share_per_op={"p50": median(steals), "max": max(steals)},
        peak_rss_mb=peak_mb,
        problems=problems[:20],
    )
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "_detail": detail,
    }


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, harness.PACKAGE, "__init__.py")):
        print(
            f"perfbench: no {harness.PACKAGE}/ package in {root}; run from the "
            "root of a checkout",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, root)
    # a terminated run still stops Spark and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = run(args, root)
    detail = result.pop("_detail")
    print("perfbench-detail " + json.dumps(detail, default=float), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
