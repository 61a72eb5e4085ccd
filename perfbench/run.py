"""Build · search · refresh benchmark for the baguetter_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload build_search --seed 1 --seconds 5 --trace 0

The run starts a local[nproc] Spark session, sets the workload up, then runs
closed-loop cycles of timed public calls until the timed calls have taken
``--seconds`` (at least one cycle).  Outputs are checked outside the timed
calls.  The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` reports the
per-layer metrics instead: one cycle runs with an event log attached and
each public call under its own job group, and the log is folded into
per-call counters.  Then the workload's probe call (a small parity search)
runs untraced and traced in turn; ``trace.overhead_ratio`` is the traced
over the untraced time.  Kernel timings come with them.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from eventlog import GroupCounters, fold, no_task_seconds
from harness import (
    ROOT,
    Recorder,
    Session,
    median,
    reference_seconds,
    remove_tree,
    tree_peak_rss_mb,
)

COUNTERS = {
    "wall_s": "s",
    "no_task_s": "s",
    "jobs": "count",
    "stages": "count",
    "executor_cpu_s": "s",
    "shuffle_write_bytes": "bytes",
    "python_bytes_sent": "bytes",
    "python_worker_s": "s",
}
# Counters each call reports: the io calls send nothing to Python workers
# and a load shuffles nothing, so those counters would always read 0.
CALL_COUNTERS = {
    "write": tuple(COUNTERS),
    "io.save_index": tuple(COUNTERS)[:6],
    "io.load_index": tuple(COUNTERS)[:5],
    "search.small_parity": tuple(COUNTERS),
}
REFERENCE_S = 0.6  # harness.reference_seconds on an unloaded 4-core host
# The engine's calls slow down less than the reference job when the host
# does: scaled by the full ratio, refresh times rose as the host sped up.
# 0.75 gave the smallest run-to-run spread over ten runs per workload.
REFERENCE_EXPONENT = 0.75
KERNEL_UNITS = {
    "preprocess.process_series.turns_per_s": "turns/s",
    "indexer.count_terms_batch.turns_per_s": "turns/s",
    "compress.encode_doc_ids.postings_per_s": "postings/s",
    "compress.decode_doc_ids.postings_per_s": "postings/s",
    "compress.decode_impacts.postings_per_s": "postings/s",
    "compress.bytes_per_posting": "bytes",
    "wand.maxscore_topk.groups_per_s": "groups/s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def run_cycles(wl, seconds: float) -> None:
    """Closed loop: cycles until the timed calls have taken ``seconds``."""
    busy = 0.0
    while busy < seconds:
        n = len(wl.rec.spans)
        wl.cycle()
        busy += sum(s.end - s.start for s in wl.rec.spans[n:])
    wl.finish()


def traced_run(session, wl, events) -> tuple[list, float]:
    """One traced cycle, then the workload's probe call untraced and traced.
    Returns the event-log files and the probe's traced/untraced time ratio."""
    rec = wl.rec
    session.start_event_log(events, "cycle")
    rec.traced = True
    wl.cycle()
    wl.finish()
    logs = [session.stop_event_log()]
    walls = {}
    for traced in (False, True):
        if traced:
            session.start_event_log(events, "probe")
        rec.traced = traced
        with rec.call("trace.probe"):
            wl.probe()
        walls[traced] = rec.spans[-1].end - rec.spans[-1].start
    logs.append(session.stop_event_log())
    return logs, walls[True] / walls[False]


def call_counters(rec, groups) -> dict[str, float]:
    """Per-call counters from the traced spans: medians over instances;
    jobs and stages must repeat exactly across instances of a call."""
    out: dict[str, float] = {}
    for call, counters in CALL_COUNTERS.items():
        rows = []
        for s in (s for s in rec.spans if s.traced and s.call == call):
            c = groups.get(s.group, GroupCounters())
            rows.append({
                "wall_s": s.end - s.start,
                "no_task_s": no_task_seconds(c.task_intervals, s.start * 1e3, s.end * 1e3),
                "jobs": c.jobs,
                "stages": len(c.stages),
                "executor_cpu_s": c.executor_cpu_s,
                "shuffle_write_bytes": c.shuffle_write_bytes,
                "python_bytes_sent": c.python_bytes_sent,
                "python_worker_s": c.python_worker_s,
            })
        for counter in counters:
            values = [r[counter] for r in rows]
            if counter in ("jobs", "stages") and len(set(values)) > 1:
                print(f"perfbench: {call}.{counter} varied across calls: {values}",
                      file=sys.stderr)
            out[f"{call}.{counter}"] = median(values)
    return out


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    try:
        import baguetter_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine package: {exc}", file=sys.stderr)
        return 2
    import data
    from kernels import kernel_metrics
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    session = Session(work)
    try:
        spark = session.start()
        rec = Recorder(spark)
        wl = WORKLOADS[args.workload](spark, args.seed, work, rec)
        wl.setup()
        setup_s = time.perf_counter() - t_start
        # the first reference job pays its own first-call cost: dropped
        ref = reference_seconds(spark, 2)[1:]
        if args.trace:
            logs, overhead = traced_run(session, wl, work / "events")
        else:
            run_cycles(wl, args.seconds)
        # the host's speed is sampled on both sides of the timed cycles
        ref_s = median(ref + reference_seconds(spark, 1))
        print(f"perfbench: set-up {setup_s:.1f} s, reference job {ref_s:.3f} s", file=sys.stderr)
        peak_rss_mb = tree_peak_rss_mb(session.jvm_pid())
        if args.trace:
            values = call_counters(rec, fold(logs))
            values.update(wl.layer_ratios(values))
            values["trace.overhead_ratio"] = overhead
            values["harness.reference_job_s"] = ref_s
            qtexts = list(data.queries(args.seed + 2, data.KERNEL_QUERIES, "k")["text"])
            values.update(kernel_metrics(data.corpus(args.seed), qtexts, args.seed))
            units = {k: COUNTERS[k.rsplit(".", 1)[1]] for k in values if k.rsplit(".", 1)[1] in COUNTERS}
            units.update(KERNEL_UNITS)
            units["harness.reference_job_s"] = "s"
            metrics = {k: {"value": v, "unit": units.get(k, "ratio")} for k, v in values.items()}
        else:
            # wall times in seconds of a host where the reference job takes
            # REFERENCE_S: the host's speed swings by up to 2x within an hour
            scale = (REFERENCE_S / ref_s) ** REFERENCE_EXPONENT
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in wl.end_to_end(scale).items()}
            metrics["setup_s"] = {"value": setup_s * scale, "unit": "s"}
            metrics["ok_op_ratio"] = {"value": 1 - wl.failed / wl.attempted, "unit": "ratio"}
            metrics["peak_rss_mb"] = {"value": peak_rss_mb, "unit": "MB"}
    finally:
        session.close()
        remove_tree(work)
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
