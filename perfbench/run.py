"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload corpus_curate --seed 1 --seconds 14 --trace 0

``--trace 0`` measures with tracing off and prints every end-to-end
metric named in ``BENCHMARK.json``; ``--trace 1`` prints every per-layer
metric, the tracing overhead and a single-threaded (``local[1]``)
baseline, and writes the span file. Run from the repository root; the
inputs are generated from ``--seed`` by ``tools/gen_scale_data.py``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The full report
(sample counts, run context, failed checks) goes to
``.perfbench_out/<workload>-seed<seed>-trace<0|1>.json``. Exit code 0
means the result line was printed; 2 means bad arguments or a checkout
without the engine; 1 means set-up failed.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402
from perfbench.harness import ROOT, log, median, tail  # noqa: E402

WORKLOADS = {
    "txn_batch": "perfbench.txn_batch:TxnBatch",
    "ingest_stream": "perfbench.ingest_stream:IngestStream",
    "corpus_curate": "perfbench.corpus_curate:CorpusCurate",
    "vector_index": "perfbench.vector_index:VectorIndex",
}
SETUP_ROUNDS = 3  # set-up repeats per untraced run; setup_s takes the median
MIN_PASSES = 2  # measured passes per run, however slow the host is


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def generate(run, wl, rnd: int) -> str:
    """Generate the inputs into a directory named by scale, seed and
    set-up round (the engine keys staged copies by that basename)."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import gen_scale_data

    data_dir = os.path.join(run.work, "data", f"sf{wl.sf}-seed{run.seed}-round{rnd}")
    with contextlib.redirect_stdout(sys.stderr):
        gen_scale_data.generate(wl.sf, data_dir, run.seed)
    return data_dir


def set_up(run, wl, rounds: int, registry_checks: bool) -> tuple[dict, str]:
    """Generate and stage ``rounds`` times; the workload keeps the last
    round's inputs. After the first round come, outside every timed
    figure, the checks of the workload's registry entries against their
    DuckDB twins on the generated data (traced runs only: they cost as
    much as the measured pass), then the warm-up. Each step is timed in
    wall and in CPU seconds (``harness.cpu_s``)."""
    from perfbench import checks

    steps = {"rounds_s": [], "rounds_cpu_s": []}
    for rnd in range(rounds):
        t, c = time.perf_counter(), harness.cpu_s(run.engine.pid)
        data_dir = generate(run, wl, rnd)
        wl.stage(run, data_dir)
        steps["rounds_cpu_s"].append(harness.cpu_s(run.engine.pid) - c)
        steps["rounds_s"].append(time.perf_counter() - t)
        log(f"set-up round {rnd}: {steps['rounds_s'][-1]:.2f}s "
            f"cpu {steps['rounds_cpu_s'][-1]:.2f}s")
        if rnd == 0:
            if registry_checks:
                with checks.duck(data_dir, run.work) as con:
                    for name in wl.registry_entries:
                        run.checked(f"registry {name}", lambda name=name: checks.registry_entry(
                            run.spark, con, name, data_dir))
            t, c = time.perf_counter(), harness.cpu_s(run.engine.pid)
            wl.warm_up(run)
            steps["warm_up_cpu_s"] = harness.cpu_s(run.engine.pid) - c
            steps["warm_up_s"] = time.perf_counter() - t
            log(f"warm-up: {steps['warm_up_s']:.2f}s cpu {steps['warm_up_cpu_s']:.2f}s")
    return steps, data_dir


UNLISTED_UNITS = {"setup_wall_s": "s", "wall_s": "s", "rows_per_s": "rows/s",
                  "op_p50_s": "s", "op_tail_s": "s", "peak_rss_mb": "MB"}


def measure(run, wl, seconds: float) -> tuple[dict, dict]:
    """Whole passes for about ``seconds``: at least MIN_PASSES, and
    another only while the last one would still fit. ``cpu_s`` is the
    median pass's CPU time (``harness.cpu_s``). The wall-clock figures
    and the peak RSS (``UNLISTED_UNITS``) are printed and reported but
    not listed in BENCHMARK.json: on a shared host wall time moves with
    the neighbours' load (up to 2x between runs), and with the heap
    fixed the peak RSS mostly reads the heap size."""
    passes, cpus = [], []
    start = time.perf_counter()
    while len(passes) < MIN_PASSES or (time.perf_counter() - start) + last <= seconds:
        t, c = time.perf_counter(), harness.cpu_s(run.engine.pid)
        passes.append(wl.run_pass(run))
        cpus.append(harness.cpu_s(run.engine.pid) - c)
        last = time.perf_counter() - t
        log(f"pass {len(passes)}: wall {passes[-1].wall_s:.3f}s cpu {cpus[-1]:.2f}s")
    ops = [o for p in passes for o in p.ops]
    walls = [p.wall_s for p in passes]
    metrics = {
        "cpu_s": median(cpus),
        "wall_s": median(walls),
        "rows_per_s": median([p.rows / p.wall_s for p in passes]),
        "op_p50_s": median(ops),
        "op_tail_s": tail(ops),
        "peak_rss_mb": harness.peak_rss_mb(run.engine.pid),
    }
    samples = {"cpu_s": len(cpus), "wall_s": len(walls), "rows_per_s": len(walls),
               "op_p50_s": len(ops), "op_tail_s": len(ops), "peak_rss_mb": 1}
    run.passes = [{"wall_s": p.wall_s, "cpu_s": c, "ops_s": p.ops}
                  for p, c in zip(passes, cpus)]
    return metrics, samples


def traced(run, wl, work_id: str) -> tuple[dict, str]:
    """An untraced reference pass (its engine deltas are the run-level
    per-layer numbers), then a traced pass with layer probes; the
    difference of their walls is the tracing overhead."""
    before = run.engine.totals()
    reference = wl.run_pass(run)
    layers = {f"run.{k}": v for k, v in
              harness.Engine.delta(run.engine.totals(), before).items()}
    tracer = harness.Tracer(run.engine, work_id)
    traced_pass, own = wl.trace(run, tracer)
    layers.update(own)
    layers["trace.overhead_ratio"] = traced_pass.wall_s / reference.wall_s - 1
    os.makedirs(harness.OUT_DIR, exist_ok=True)
    spans = os.path.join(harness.OUT_DIR, f"{wl.name}-seed{run.seed}-spans.json")
    tracer.write(spans)
    return layers, spans


def single_threaded_baseline(run, wl) -> dict:
    """One operation of the workload on local[n], then on local[1]."""
    op_n = wl.baseline_op(run)
    run.restart("local[1]")
    op_1 = wl.baseline_op(run)
    return {"baseline.local1.op_s": op_1, "baseline.speedup": op_1 / op_n}


def metric_block(spec_list: list[dict], values: dict, fill_zero: bool) -> dict:
    """The metrics BENCHMARK.json names, in its order. A per-layer
    metric of a layer this workload never calls reads 0; measured values
    it does not name (workloads kept out of BENCHMARK.json) stay in the
    report file only."""
    missing = {m["name"] for m in spec_list} - set(values)
    if missing and not fill_zero:
        raise KeyError(f"metrics not measured: {sorted(missing)}")
    return {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec_list}


def execute(args, spec: dict, work: str) -> tuple[dict, dict]:
    from perfbench import checks

    load_start = os.getloadavg()
    module, cls = WORKLOADS[args.workload].split(":")
    wl = getattr(importlib.import_module(module), cls)()
    spark = harness.start_spark(work, harness.master())
    jvm_s = time.perf_counter() - harness.T0
    run = harness.Run(spark, work, args.seed)
    try:
        jvm_cpu_s = harness.cpu_s(run.engine.pid)  # since this process started
        steps, data_dir = set_up(run, wl, 1 if args.trace else SETUP_ROUNDS,
                                 registry_checks=bool(args.trace))
        report = {"workload": wl.name, "sf": wl.sf, "trace": args.trace,
                  "seconds": args.seconds,
                  "setup": {"jvm_s": jvm_s, "jvm_cpu_s": jvm_cpu_s, **steps}}
        if args.trace:
            values, report["spans"] = traced(run, wl, f"{wl.name}-{uuid.uuid4().hex[:8]}")
        else:
            values, samples = measure(run, wl, args.seconds)
            values["setup_s"] = (jvm_cpu_s + median(steps["rounds_cpu_s"])
                                 + steps["warm_up_cpu_s"])
            values["setup_wall_s"] = jvm_s + median(steps["rounds_s"]) + steps["warm_up_s"]
            samples["setup_s"] = samples["setup_wall_s"] = len(steps["rounds_s"])
            report["samples"] = samples
            report["passes"] = run.passes
        with checks.duck(data_dir, work) as con:
            wl.check(run, con)
        if args.trace:
            values.update(single_threaded_baseline(run, wl))
        report["values"] = values
        metrics = metric_block(spec["per_layer" if args.trace else "end_to_end"],
                               values, fill_zero=bool(args.trace))
        report["context"] = harness.context(run.spark, args.seed, data_dir, load_start)
    finally:
        harness.stop_spark(run.spark)
    report.update(attempted=run.attempted, failed=run.failed,
                  fail_ratio=run.failed / max(1, run.attempted), problems=run.problems,
                  result_hash=run.result_hash)
    result = {"correct": run.failed == 0, "attempted": run.attempted,
              "failed": run.failed, "metrics": metrics}
    report["result"] = result
    return result, report


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
    except (OSError, ValueError) as e:
        log(f"cannot read BENCHMARK.json: {e}")
        return 2
    for need in ("etl_mp_transactions_spark/__init__.py", "tools/gen_scale_data.py",
                 "tools/oracle_compare.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            log(f"not a checkout of the engine: {need} is missing")
            return 2
    work = harness.prepare_environment(args.workload, args.seed)
    try:
        result, report = execute(args, spec, work)
    except Exception:
        harness.log_exception("benchmark")
        return 1
    finally:
        harness.remove_tree(work)
    os.makedirs(harness.OUT_DIR, exist_ok=True)
    path = os.path.join(harness.OUT_DIR,
                        f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(report, fh, indent=1)
    samples = report.get("samples", {})
    print(f"# {args.workload} seed {args.seed} on {report['context']['master']}: "
          f"attempted {result['attempted']}, failed {result['failed']}, "
          f"fail_ratio {report['fail_ratio']:.4f}; report {os.path.relpath(path, ROOT)}")
    for name, m in result["metrics"].items():
        n = f" (n={samples[name]})" if name in samples else ""
        print(f"# {name} = {m['value']:.6g} {m['unit']}{n}")
    if not args.trace:
        for name, unit in UNLISTED_UNITS.items():
            print(f"# {name} = {report['values'][name]:.6g} {unit} (n={samples[name]}; "
                  "not listed)")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
