"""The repo benchmark: one workload per invocation, in its own process and
JVM, pinned to ``$SPARK_GRAFT_CPUS`` (default: every CPU ``nproc`` counts).

    python3 perfbench/run.py --workload parse_batch --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1     # the three in turn
    python3 perfbench/run.py --smoke                     # self-check, tiny inputs

Untraced (``--trace 0``) runs print the end-to-end metrics; traced runs
(``--trace 1``) print the per-layer metrics and write the span file under
``.perfbench/spans/``.  Every run checks its outputs; the last stdout line
is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import re
import signal
import subprocess
import sys
import time

import harness as H

# the workloads BENCHMARK.json names
WORKLOADS = ("parse_batch", "stream_ingest", "curation_suite")
MODULES = {"parse_batch": "wl_parse", "stream_ingest": "wl_stream",
           "curation_suite": "wl_curation"}

# (name, unit, better) -- BENCHMARK.json's end_to_end adds the bounds
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("latency_s", "s", "lower"),
    ("cpu_s", "CPU-s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
)

STEPS = [f"core.step.p{i:02d}" for i in range(1, 13)]

PER_LAYER = (
    [
        ("box.canary_ms", "ms", "lower"),
        ("box.steal_pct", "%", "lower"),
        ("box.nproc", "count", "higher"),
        ("box.cores", "count", "higher"),
        ("core.turns", "turns", "higher"),
        ("core.decode_s", "s", "lower"),
        ("core.elements", "count", "lower"),
        ("core.wrap_s", "s", "lower"),
    ]
    + [(f"{s}_s", "s", "lower") for s in STEPS]
    + [(f"{s}.{d}", "nodes", "lower") for s in STEPS for d in ("nodes_in", "nodes_out")]
    + [
        ("core.sort_s", "s", "lower"),
        ("core.tokens_s", "s", "lower"),
        ("udf.parse_s", "s", "lower"),
        ("udf.row_build_s", "s", "lower"),
        ("udf.arrow_s", "s", "lower"),
        ("udf.rows_out", "rows", "higher"),
        ("udf.bare_s", "s", "lower"),
        ("udf.layer_sum_ratio", "ratio", "lower"),
        ("scan.partitions", "count", "higher"),
        ("control.turns_per_s", "turns/s", "higher"),
        ("spark_vs_control", "ratio", "higher"),
        ("spark.jobs", "count", "lower"),
        ("spark.tasks", "count", "lower"),
        ("spark.exec_run_s", "s", "lower"),
        ("spark.exec_cpu_s", "s", "lower"),
        ("spark.gc_s", "s", "lower"),
        ("spark.shuffle_write_mb", "MB", "lower"),
        ("spark.shuffle_read_mb", "MB", "lower"),
        ("spark.spill_mb", "MB", "lower"),
        ("spark.task_skew", "ratio", "lower"),
        ("trace.overhead_s", "s", "lower"),
        ("trace.spans", "count", "lower"),
        ("stream.files", "files", "higher"),
        ("stream.backlog_files", "files", "lower"),
        ("stream.parse.batches", "count", "lower"),
        ("stream.bloom.batches", "count", "lower"),
        ("stream.parse.rows_per_s", "rows/s", "higher"),
        ("stream.bloom.rows_per_s", "rows/s", "higher"),
    ]
)

# end-to-end metrics outside the JSON, printed as ``metric`` lines
NAMED = {
    "parse_batch": ["turns_per_s"],
    "stream_ingest": ["stream_batch_s_mean", "stream_lag_s_p50", "stream_lag_s_tail",
                      "stream_backlog_files"],
    "curation_suite": ["suite_wall_s"],
}
COMMON_NAMED = ["setup_s", "cpu_s", "peak_rss_mb", "failed_frac"]


class Run:
    """One invocation: its settings, its spans, its metrics and its tally of
    attempted and failed operations."""

    def __init__(self, args, cores: int, nproc: int):
        self.workload, self.seed, self.seconds = args.workload, args.seed, args.seconds
        self.trace, self.tiny, self.corrupt = bool(args.trace), args.tiny, args.corrupt
        self.cores, self.nproc = cores, nproc
        self.run_id = f"{self.workload}-s{self.seed}-t{args.trace}-{os.getpid()}-{int(time.time())}"
        self.tracer = H.Tracer(self.run_id, enabled=self.trace)
        self.spark = self.jvm = None
        self.setup_s = 0.0
        self.metrics: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, float] = {}
        self.lines: list[str] = []
        self.turns = self.error_rows = 0
        self.checks = self.mismatches = 0
        self.n_ops = self.failed_ops = 0

    # -- called by the workloads ------------------------------------------

    def setup(self):
        with self.tracer.span("setup"):
            self.spark, self.setup_s = H.open_session(self.cores)
        self.jvm = H.jvm_pid()
        return self.spark

    def check(self, what: str, ok: bool, detail: str) -> None:
        self.checks += 1
        if not ok:
            self.mismatches += 1
            self.fail(f"MISMATCH {what}: {detail}")

    def fail(self, message: str) -> None:
        print(f"FAIL {message}", flush=True)

    def count(self, turns: int, error_rows: int) -> None:
        self.turns += turns
        self.error_rows += error_rows

    def ops(self, n: int, failed: bool = False) -> None:
        self.n_ops += n
        self.failed_ops += n if failed else 0

    def e2e(self, latency_s: float, cpu_s: float, peak_rss_mb: float, meter) -> None:
        self.metrics = {
            "setup_s": (self.setup_s, "s"),
            "latency_s": (latency_s, "s"),
            "cpu_s": (cpu_s, "CPU-s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }
        self.layers["box.steal_pct"] = meter.steal_pct
        self.named("setup_s", self.setup_s, "s",
                   "get_spark with its JVM launch and Python worker warm-up")
        self.named("cpu_s", cpu_s, "CPU-s",
                   "JVM + Python workers + driver, per unit of timed work")
        self.named("peak_rss_mb", peak_rss_mb, "MB",
                   f"sum of VmHWM over the timed part: JVM {meter.jvm_rss_mb:.0f}, Python "
                   "daemon and the largest workers " + " ".join(f"{x:.0f}" for x in meter.py_rss_mb))

    def named(self, name: str, value: float, unit: str, note: str = "") -> None:
        self.lines.append(f"metric {name} = {value!r} {unit}" + (f"  ({note})" if note else ""))

    def measure_layers(self, pdf) -> None:
        import layers

        with self.tracer.span("layers"):
            out = layers.measure(self.tracer, pdf)
        self.check("traced parse decomposition vs _parse_partition",
                   out.pop("_sample_match"), "node digests differ")
        self.layers.update(out)

    # -- result -------------------------------------------------------------

    def finish(self) -> dict:
        attempted = self.turns + self.checks + self.n_ops
        failed = self.error_rows + self.mismatches + self.failed_ops
        outputs = self.checks + self.n_ops
        frac = (self.error_rows / self.turns if self.turns else 0.0) + (
            (self.mismatches + self.failed_ops) / outputs if outputs else 0.0
        )
        self.named("failed_frac", frac, "ratio",
                   f"{self.error_rows} parse-error rows / {self.turns} turns + "
                   f"{self.mismatches + self.failed_ops} mismatched or failed / "
                   f"{outputs} outputs checked and operations run")
        if self.trace:
            self.layers["trace.spans"] = len(self.tracer.spans)
            metrics = {
                name: {"value": float(self.layers.get(name, 0.0)), "unit": unit}
                for name, unit, _ in PER_LAYER
            }
        else:
            metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in self.metrics.items()}
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }


def _versions() -> dict:
    import pandas
    import pyarrow
    import pyspark

    return {
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
    }


def run_one(args) -> int:
    nproc = len(os.sched_getaffinity(0))
    cores = H.cores()
    H.pin(cores)
    H.prepare_env()
    sys.path.insert(0, str(H.ROOT))
    r = Run(args, cores, nproc)
    r.layers.update({"box.canary_ms": H.canary_ms(), "box.nproc": nproc, "box.cores": cores})
    module = importlib.import_module(MODULES[args.workload])
    try:
        with r.tracer.span(args.workload):
            module.run(r)
    finally:
        if r.spark is not None:
            H.close_session(r.spark)
    result = r.finish()
    versions = _versions()
    print(f"run {r.run_id}: local[{cores}] of nproc {nproc}, seed {args.seed}, "
          f"{args.seconds} s, box.canary_ms {r.layers['box.canary_ms']:.1f}, "
          + ", ".join(f"{k} {v}" for k, v in versions.items()))
    for line in r.lines:
        print(line)
    if r.trace:
        units = {n: u for n, u, _ in PER_LAYER}
        for name in sorted(r.layers):
            timed = name.endswith("_s") or "_s_" in name
            unit = units.get(name) or ("s" if timed else "count")
            print(f"layer {name} = {r.layers[name]!r} {unit}")
        for name, agg in sorted(r.tracer.totals().items()):
            print(f"span {name} count={agg['count']} total_s={agg['total_s']:.6f} "
                  f"self_s={agg['self_s']:.6f}")
        path = H.WORK / "spans" / f"{r.run_id}.jsonl"
        r.tracer.write(path, {"workload": args.workload, "seed": args.seed,
                              "seconds": args.seconds, "cores": cores, "nproc": nproc,
                              **versions, "layers": r.layers})
        print(f"spans written to {path.relative_to(H.ROOT)}")
    print(json.dumps(result), flush=True)
    return 0


# --------------------------------------------------------------------------
# self-check
# --------------------------------------------------------------------------


def _invoke(workload: str, trace: int, corrupt: bool) -> tuple[dict, str]:
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
           "--seed", "1", "--seconds", "2", "--trace", str(trace), "--tiny"]
    if corrupt:
        cmd.append("--corrupt")
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        raise SystemExit(f"smoke: {' '.join(cmd[2:])} exited {out.returncode}\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1]), out.stdout


def smoke() -> int:
    """Run every workload on tiny inputs, untraced, traced and with a
    deliberately corrupted reference; check that every metric is printed
    with its unit and that the corruption is reported as a failure."""
    problems = []
    with open(H.ROOT / "BENCHMARK.json") as fh:
        bench = json.load(fh)
    if [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] != list(END_TO_END):
        problems.append("BENCHMARK.json end_to_end differs from run.END_TO_END")
    if [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] != list(PER_LAYER):
        problems.append("BENCHMARK.json per_layer differs from run.PER_LAYER")
    if [w["name"] for w in bench["workloads"]] != list(WORKLOADS):
        problems.append("BENCHMARK.json workloads differ from run.WORKLOADS")
    for w in WORKLOADS:
        for trace, corrupt in ((0, False), (1, False), (0, True)):
            label = f"{w} trace={trace}" + (" corrupt" if corrupt else "")
            t0 = time.monotonic()
            res, stdout = _invoke(w, trace, corrupt)
            spec = PER_LAYER if trace else END_TO_END
            got = {k: v.get("unit") for k, v in res["metrics"].items()}
            want = {n: u for n, u, _ in spec}
            if got != want:
                problems.append(f"{label}: metrics/units {sorted(set(got.items()) ^ set(want.items()))}")
            if corrupt:
                if res["correct"] or res["failed"] < 1 or "MISMATCH" not in stdout:
                    problems.append(f"{label}: corrupted reference was not reported as a failure")
            elif not res["correct"] or res["failed"] != 0:
                problems.append(f"{label}: clean run reported failures")
            if not trace and not corrupt:
                for name in COMMON_NAMED + NAMED[w]:
                    if not re.search(rf"^metric {re.escape(name)} = \S+ \S+", stdout, re.M):
                        problems.append(f"{label}: no '{name}' line with a unit")
            if trace and not re.search(r"^spans written to ", stdout, re.M):
                problems.append(f"{label}: no span file")
            print(f"smoke: {label}: {'ok' if not problems else 'problems'} "
                  f"({time.monotonic() - t0:.0f} s)", flush=True)
    for p in problems:
        print(f"smoke: {p}")
    return 1 if problems else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs (self-check)")
    ap.add_argument("--corrupt", action="store_true",
                    help="corrupt the reference digest or one oracle row (self-check)")
    ap.add_argument("--smoke", action="store_true", help="run the self-check")
    args = ap.parse_args(argv)
    if not (H.ROOT / "open_parse_spark" / "__init__.py").exists():
        print(f"error: no open_parse_spark package under {H.ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    if args.workload is None and not args.smoke:
        ap.error("--workload is required")
    # every process the run starts is waited for on every way out of it,
    # a SIGTERM included
    H.adopt_orphans()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        if args.smoke:
            return smoke()
        if args.workload == "all":
            status = 0
            for w in WORKLOADS:
                cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                       "--seed", str(args.seed), "--seconds", str(args.seconds),
                       "--trace", str(args.trace)]
                status |= subprocess.run(cmd).returncode
            return status
        return run_one(args)
    finally:
        H.reap_all()


if __name__ == "__main__":
    sys.exit(main())
