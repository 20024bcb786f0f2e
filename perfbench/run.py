"""The repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload bulk_extract --seed 1 \\
        --seconds 10 --trace 0

Runs from the root of a checkout. One driver process on
``local[<cores>]`` drives the workload as a closed loop with one client.
Every output is checked against the oracle ``ocr_spark.core.extract``;
the last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics, the ledger
and the spans (written to ``.perfbench_work/spans-<workload>.jsonl``).
The exit code is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
# nominal wall time of one timed unit (a job or a drop) on a 4-core
# machine; --seconds 20 times two units
UNIT_S = 10.0

END_TO_END = {
    "setup_s": "s", "docs_per_s": "docs/s", "mb_per_s": "MB/s",
    "drop_p50_s": "s", "bytes_written_per_input_byte": "B/B",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--corrupt-oracle", action="store_true",
                   help="flip one oracle text (self-test of the gate)")
    p.add_argument("--tiny", action="store_true",
                   help="self-test input sizes")
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file the run writes inside ``work``, and let Spark's
    Python workers import the program and this benchmark."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    sys.path[:0] = [ROOT]


def cores() -> int:
    return len(os.sched_getaffinity(0))


def run_units(w, sc, tracer, seconds: float, traced: bool) -> list[dict]:
    """The timed closed loop: ``round(seconds / UNIT_S)`` units, at least
    one. The count follows from ``--seconds`` alone, not from the clock,
    so that every run does the same work and leaves the same table
    behind however fast the machine is that day. A traced run records spans in every second unit, at
    least three units, so that untraced units on both sides of a traced
    one give ``trace_overhead_frac`` its base."""
    from sparkenv import UNIT_PROPERTY

    n_units = max(1, round(seconds / UNIT_S), 3 if traced else 1)
    units: list[dict] = []
    while len(units) < n_units:
        label = f"unit-{len(units)}"
        on = traced and len(units) % 2 == 1
        sc.setLocalProperty(UNIT_PROPERTY, label)
        tracer.enabled = on
        span = (tracer.span("unit", unit=label) if on
                else contextlib.nullcontext({}))
        t0 = time.perf_counter()
        with span as rec:
            docs, nbytes = w.unit()
        wall = time.perf_counter() - t0
        tracer.enabled = False
        sc.setLocalProperty(UNIT_PROPERTY, None)
        units.append({"label": label, "wall": wall, "docs": docs,
                      "bytes": nbytes, "traced": on, "span": rec.get("id")})
        w.between_units()
    return units


def end_to_end(setup_s, units, w) -> dict[str, float]:
    wall = sum(u["wall"] for u in units)
    return {
        "setup_s": setup_s,
        "docs_per_s": sum(u["docs"] for u in units) / wall,
        "mb_per_s": sum(u["bytes"] for u in units) / 1e6 / wall,
        "drop_p50_s": statistics.median(u["wall"] for u in units),
        "bytes_written_per_input_byte": w.out_bytes() / w.input_bytes(),
    }


def lookup_latency(lat: list[float]) -> dict[str, float]:
    lat = sorted(lat)
    return {
        "lookup_p50_ms": statistics.median(lat) * 1e3,
        # the highest percentile with at least 10 samples beyond it
        "lookup_tail_ms": lat[max(len(lat) - 11, 0)] * 1e3,
    }


def run(args, work: str) -> dict:
    import layers
    from sparkenv import EventLog, RssSampler, start_spark, stop_spark
    from spans import Patches, Tracer
    from workloads import WORKLOADS

    n_cores = cores()
    tracer = Tracer()
    patches = Patches(tracer) if args.trace else None
    metrics: dict[str, float] = {}
    ledger: dict[str, float] = {}
    peak_mb = None
    with RssSampler() as rss:
        spark, jvm_s = start_spark(work, n_cores, event_log=bool(args.trace))
        try:
            w = WORKLOADS[args.workload](spark, work, args.seed, n_cores)
            if args.tiny:
                w.__dict__.update(w.TINY)
            t0 = time.perf_counter()
            w.synthesize()
            synth_s = time.perf_counter() - t0
            w.corrupt = args.corrupt_oracle
            t0 = time.perf_counter()
            w.prepare()
            prep_s = time.perf_counter() - t0
            setup_s = jvm_s + synth_s + prep_s
            print(f"setup: jvm {jvm_s:.3f} s, synthesis+oracle "
                  f"{synth_s:.3f} s, prepare {prep_s:.3f} s")
            w.unit_stats.clear()
            units = []
            try:
                units = run_units(w, spark.sparkContext, tracer,
                                  args.seconds, bool(args.trace))
                w.verify()
            except Exception:
                traceback.print_exc()
                w.check(False, "a job raised")
            lat = []
            keys = w.lookup_keys() if not w.failed else []
            want = w.expected_rows() if keys else {}
            # the first lookups compile the read path: checked, not
            # timed. Only a traced run times the rest: lookup latency is
            # a per-layer metric (README.md, "Lookups")
            warm, keys = keys[:w.WARM_LOOKUPS], keys[w.WARM_LOOKUPS:]
            if not args.trace:
                keys = []
            for url in warm:
                w.check_lookup(url, w.lookup(url), want)
            for url in keys:
                t0 = time.perf_counter()
                got = w.lookup(url)
                lat.append(time.perf_counter() - t0)
                w.check_lookup(url, got, want)
            if hasattr(w, "takedown") and not w.failed:
                w.takedown()
            if not w.failed and args.trace:
                metrics, ledger = layers.layer_metrics(
                    w, tracer, units, keys, args.seed,
                    os.path.join(work, "price"))
                if lat:
                    metrics.update(lookup_latency(lat))
            elif not w.failed:
                rss.sample()
                peak_mb = rss.peak / 2**20
                metrics = end_to_end(setup_s, units, w)
        finally:
            stop_spark(spark)
            if patches:
                patches.restore()
    if args.trace and not w.failed:
        walls = {u["label"]: u["wall"] for u in units}
        metrics.update(EventLog(os.path.join(work, "eventlog")).unit_metrics(
            walls, n_cores))
        tracer.write(os.path.join(WORK_ROOT, f"spans-{args.workload}.jsonl"))
    named = {k: {"value": v, "unit": END_TO_END.get(k) or layers.unit_of(k)}
             for k, v in metrics.items()}
    report(args, w, units, named, ledger, peak_mb)
    return {"correct": w.failed == 0, "attempted": w.attempted,
            "failed": w.failed, "metrics": named}


def report(args, w, units, named, ledger, peak_mb) -> None:
    """Human-readable lines before the JSON result line."""
    print(f"workload {args.workload} seed {args.seed}: {len(units)} timed "
          f"units, closed loop, 1 client, local[{cores()}]")
    print(f"failed_ops_frac {w.failed / max(w.attempted, 1)} "
          f"({w.failed} of {w.attempted} operations)")
    for p in w.problems:
        print(f"  FAILED: {p}")
    for k, m in named.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    if peak_mb is not None:
        # printed, not a BENCHMARK.json metric: under the program's 8 GB
        # heap the JVM's share is set by G1's heap sizing and spreads
        # wider over runs than any regression bound may be (README.md)
        print(f"peak_rss_mb {peak_mb:.6g} MB")
    if named.get("lookup_tail_ms", {}).get("value"):
        n = w.LOOKUPS
        print(f"lookup_tail_ms is p{100 * (n - 10) // n} of {n} lookups")
    if ledger:
        traced = [u["wall"] for u in units if u["traced"]]
        print(f"ledger: mean self time per traced unit "
              f"({len(traced)} units, mean wall "
              f"{statistics.fmean(traced):.4f} s)")
        for k, v in sorted(ledger.items(), key=lambda kv: -kv[1]):
            print(f"  {k:48s} {v:10.4f} s")
        print(f"  {'sum':48s} {sum(ledger.values()):10.4f} s")


def _exit_on_signal(signum, frame) -> None:
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and every process it started
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, _exit_on_signal)
    from sparkenv import adopt_orphans, end_descendants

    adopt_orphans()
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        isolate(work)
        try:
            import ocr_spark  # noqa: F401
        except ImportError:
            print("perfbench: the ocr_spark package is not in this "
                  "checkout", file=sys.stderr)
            return 2
        from workloads import WORKLOADS
        if args.workload not in WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; "
                  f"one of {sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        result = run(args, work)
    finally:
        end_descendants(grace_s=10.0)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(WORK_ROOT)   # kept when a traced run left its spans
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
