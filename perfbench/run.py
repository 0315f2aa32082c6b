#!/usr/bin/env python3
"""webdedup benchmark: one workload per invocation.

    python3 perfbench/run.py --workload dedup_2k --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It generates (or reuses) the seeded
inputs under ``.perfbench/``, runs the workload in its own Spark process
(``worker.py``, ``local[4]``), samples that process tree's resident memory
from ``/proc``, checks the outputs, and prints a table of every metric with
its unit and sample count. Timings are medians over the run's timed ops. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced run.

Exit status is non-zero, with no result line, when the run could not be
made at all (no ``webdedup`` package beside ``perfbench/``, worker crash or
timeout).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
#: a run must end within 180 s; the worker is killed before that
DEADLINE_S = 170
T_START = time.monotonic()

END_TO_END_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "pages_per_s": "1/s",
    "executor_cpu_s": "s",
    "spark_jobs": "count",
    "spark_stages": "count",
    "shuffle_write_bytes": "bytes",
    "peak_rss_mb": "MB",
    "truth_recall": "ratio",
}


def _session_pids(sid: int) -> list:
    """Processes whose session id is ``sid`` (the worker and every
    descendant: the JVM and its Python workers)."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # zombies hold no memory and cannot be signalled away
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(d))
    return pids


def _resident_bytes(pids: list) -> int:
    """Summed proportional set size (Pss) of ``pids``: resident memory with
    pages shared between processes (the forked Python workers) counted
    once overall, not once per process."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class RssSampler(threading.Thread):
    """Peak of :func:`_resident_bytes` over the session's processes.

    Reading the JVM's ``smaps_rollup`` walks its page tables under its
    memory-map lock (tens of ms for a few GB), so sampling once a second
    keeps the sampler from slowing the run it measures."""

    def __init__(self, sid: int, period_s: float = 1.0):
        super().__init__(daemon=True)
        self.sid, self.period_s = sid, period_s
        self.peak = 0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak = max(self.peak, _resident_bytes(_session_pids(self.sid)))
            self._halt.wait(self.period_s)

    def stop(self) -> None:
        self._halt.set()
        self.join()


def _kill_session(sid: int, timeout_s: float = 20.0) -> None:
    """SIGTERM, then SIGKILL, every process left in the session; wait until
    none remains."""
    deadline = time.monotonic() + timeout_s
    sig = signal.SIGTERM
    while True:
        pids = _session_pids(sid)
        if not pids:
            return
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)
        if time.monotonic() > deadline - timeout_s / 2:
            sig = signal.SIGKILL
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes {pids} did not exit")


def run_worker(args, inputs_dir: str, warm_dir: str | None, run_dir: str) -> tuple[dict, int, dict]:
    result = os.path.join(run_dir, "result.json")
    log_path = os.path.join(WORK, "logs", f"{args.workload}-s{args.seed}-t{args.trace}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, env.get("PYTHONPATH")) if p
    )
    env["TMPDIR"] = tmp
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--inputs", inputs_dir, "--run-dir", run_dir, "--result", result,
        "--spans", os.path.join(WORK, "spans", f"{args.workload}-s{args.seed}.json"),
    ]
    if warm_dir:
        cmd += ["--warm-inputs", warm_dir]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL, stdout=log,
            stderr=subprocess.STDOUT, start_new_session=True,
        )
        sampler = RssSampler(proc.pid)
        sampler.start()
        t = time.monotonic()
        try:
            proc.wait(timeout=max(1.0, DEADLINE_S - (time.monotonic() - T_START)))
        except subprocess.TimeoutExpired:
            pass
        finally:
            phases = {"worker": time.monotonic() - t}
            t = time.monotonic()
            _kill_session(proc.pid)
            proc.wait()
            sampler.stop()
            phases["reap"] = time.monotonic() - t
    if proc.returncode != 0 or not os.path.exists(result):
        with open(log_path) as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"worker exited with {proc.returncode}; log tail:\n{tail}")
    with open(result) as f:
        return json.load(f), sampler.peak, phases


def _declared(trace: int) -> dict:
    """name -> unit of the metrics ``BENCHMARK.json`` declares for the mode:
    the JSON result carries exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def _load_digests() -> dict:
    with open(os.path.join(HERE, "digests.json")) as f:
        return json.load(f)


def op_failures(op: dict, spec: dict, reference: str | None) -> list:
    """Why an op's output check failed (empty when it passed)."""
    if "error" in op:
        return [op["error"]]
    why = []
    if not op["ok"]:
        why.append("output shape check failed")
    if reference is not None and op["digest"] != reference:
        why.append(f"digest {op['digest']} != {reference}")
    if op["truth_recall"] < spec["min_recall"]:
        why.append(f"truth_recall {op['truth_recall']:.4f} < {spec['min_recall']}")
    if "min_knn_recall" in spec and op["knn_recall"] < spec["min_knn_recall"]:
        why.append(f"knn_recall {op['knn_recall']:.4f} < {spec['min_knn_recall']}")
    return why


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="webdedup benchmark (one workload per run)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "webdedup", "__init__.py")):
        print(f"no webdedup package in {ROOT}: run from a checkout root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import inputs

    if args.workload not in inputs.WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(inputs.WORKLOADS)}",
              file=sys.stderr)
        return 2
    spec = inputs.WORKLOADS[args.workload]
    declared = _declared(args.trace)
    inputs_dir = inputs.ensure(WORK, spec["n"], args.seed)
    warm_dir = inputs.ensure(WORK, spec["warm_n"], args.seed) if "warm_n" in spec else None
    if spec["kind"] == "knn":
        for d in (inputs_dir, warm_dir):
            inputs.ensure_knn_truth(d, args.seed)
    t_inputs = time.monotonic() - T_START

    run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        res, peak_rss, phases = run_worker(args, inputs_dir, warm_dir, run_dir)
    except RuntimeError as e:
        print(str(e), file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    recorded = _load_digests().get(args.workload, {}).get(str(args.seed))
    ops = res["trace"]["checks"] if args.trace else res["ops"]
    reference = recorded or ops[0].get("digest")
    problems: list = []
    failed = 0
    for i, op in enumerate(ops):
        why = op_failures(op, spec, reference)
        failed += bool(why)
        problems += [f"op {i}: {w}" for w in why]
    attempted = len(ops)
    if "warmup" in res:
        # the warm-up input is too small for the recall floor; its output
        # shape is checked, and an error counts like any failed op
        op = res["warmup"]
        why = [op["error"]] if "error" in op else [] if op["ok"] else ["output shape check failed"]
        attempted += 1
        failed += bool(why)
        problems += [f"warmup: {w}" for w in why]

    rows: list = []  # (name, value, unit, samples)
    if args.trace:
        tr = res["trace"]
        if not tr["jobs_match"]:
            problems.append("spark_jobs differs with the collector on and off")
        if not tr["staged_matches"]:
            problems.append("staged run labels differ from the whole call")
        metrics = tr["metrics"]
        units = {k: _layer_unit(k) for k in metrics}
        rows += [(k, v, units[k], 1) for k, v in metrics.items()]
        print(f"spans: {os.path.relpath(tr['spans_path'], ROOT)}")
    else:
        good = [op for op in ops if "error" not in op]

        def med(key: str) -> float:
            return statistics.median(op[key] for op in good) if good else 0.0

        wall = med("wall_s")
        metrics = {
            "setup_s": res["setup_s"],
            "wall_s": wall,
            "pages_per_s": res["op_pages"] / wall if wall else 0.0,
            "executor_cpu_s": med("cpu_s"),
            "spark_jobs": med("jobs"),
            "spark_stages": med("stages"),
            "shuffle_write_bytes": med("shuffle_write_bytes"),
            "peak_rss_mb": peak_rss / 2**20,
            "truth_recall": med("truth_recall"),
        }
        units = END_TO_END_UNITS
        samples = {"setup_s": 1, "peak_rss_mb": 1}
        rows += [(k, v, units[k], samples.get(k, len(good))) for k, v in metrics.items()]
        rows.append(("spill_bytes", med("spill_bytes"), "bytes", len(good)))
        if spec["kind"] == "knn":
            rows.append(("knn_recall", med("knn_recall"), "ratio", len(good)))
        rows.append(("output_ok", int(not problems), "bool", attempted))
        rows.append(("error_rate", failed / attempted, "ratio", attempted))
    phases = {"inputs": t_inputs, **phases, **{f"worker.{k}": v for k, v in res["phases"].items()}}
    print("phases:", " ".join(f"{k}={v:.1f}s" for k, v in phases.items()))
    print("digests:", " ".join(sorted({op["digest"] for op in ops if "digest" in op})))
    for name, v, unit, n in rows:
        print(f"{name:40s} {v:>16.6g} {unit:6s} n={n}")
    for p in problems:
        print(f"CHECK FAILED: {p}")
    print(
        json.dumps(
            {
                "correct": not problems,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    k: {"value": float(metrics[k]), "unit": unit} for k, unit in declared.items()
                },
            }
        )
    )
    return 0


def _layer_unit(name: str) -> str:
    field = name.rsplit(".", 1)[1]
    if field.endswith("_s"):
        return "s"
    if field.endswith("_bytes") or field == "store_bytes_written":
        return "bytes"
    if field in ("yield", "coverage", "knn_recall"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
