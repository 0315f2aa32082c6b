"""Run one workload in its own local Spark process; write a result JSON.

Started by ``run.py`` (one process per run). Set-up starts the session,
loads the inputs and runs the op once on the workload's small warm-up input
(``--warm-inputs``), so the timed ops do not pay Python worker start, class
loading and JIT/codegen warm-up for the op's plans; a workload whose set-up
already runs the op's code paths (``warm_after_setup``) skips it.
Untraced (``--trace 0``) it then runs the op on the real input until
``--seconds`` is spent, at least once; every op is timed and checked.
Traced (``--trace 1``) it runs, after the same set-up:

1. one op with the collector off (no job group, no call-site tags): the
   untraced reference wall and job count;
2. one whole-call op with spans and call-site tags, its jobs attributed to
   the ``webdedup`` module that started them;
3. for dedup, the staged run (``Workload.staged``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

T_START = time.perf_counter()

CORES = 4
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "3g"

#: layers reported by the traced run; a layer the workload does not run
#: reports zeros
STAGED_LAYERS = ("signatures", "lsh", "verify", "substring", "components")
CALLSITE_LAYERS = ("pipeline", "joins", "catalog", "incremental", "api")
LAYER_FIELDS = ("wall_s", "task_s", "jobs", "shuffle_write_bytes", "spill_bytes")


def session(run_dir: str, name: str):
    from webdedup.session import get_spark

    from collector import eventlog_conf

    local = os.path.join(run_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    extra = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        **eventlog_conf(os.path.join(run_dir, "eventlog")),
    }
    spark = get_spark(
        f"perfbench-{name}", cores=CORES, shuffle_partitions=SHUFFLE_PARTITIONS, extra=extra
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_op(wl, col, group: str, spans) -> dict:
    """One op under its own job group: timed call, then stats and checks."""
    wl.before_op()
    with col.group(group):
        t = time.perf_counter()
        out = wl.op(spans)
        wall = time.perf_counter() - t
    st = col.stats(group)
    try:
        chk = wl.check(out)
    finally:
        wl.cleanup(out)
    chk.pop("labels", None)
    return {
        "wall_s": wall,
        "jobs": st.jobs,
        "stages": st.stages,
        "cpu_s": st.cpu_s,
        "task_s": st.task_s,
        "shuffle_write_bytes": st.shuffle_write_bytes,
        "spill_bytes": st.spill_bytes,
        **chk,
    }


def _layer(st, wall: float | None = None) -> dict:
    return {
        "wall_s": st.busy_s if wall is None else wall,
        "task_s": st.task_s,
        "jobs": st.jobs,
        "shuffle_write_bytes": st.shuffle_write_bytes,
        "spill_bytes": st.spill_bytes,
    }


def traced(wl, col, run_id: str, spans_path: str, seed: int) -> dict:
    from collector import Spans, Stats, tag_call_sites

    off = Spans(run_id, enabled=False)
    spans = Spans(run_id)

    # 1. collector off: no job group, no tags
    wl.before_op()
    before = col.ungrouped_job_ids()
    t = time.perf_counter()
    out = wl.op(off)
    wall_off = time.perf_counter() - t
    jobs_off = len(col.ungrouped_job_ids() - before)
    try:
        chk_off = wl.check(out)
    finally:
        wl.cleanup(out)

    # 2. whole call, traced
    tag_call_sites()
    wl.before_op()
    with col.group("traced"), spans("op"):
        out = wl.op(spans)
    wall_on = spans.seconds("op")
    mods = col.by_module("traced")
    whole = col.stats("traced")
    try:
        chk_on = wl.check(out)
    finally:
        wl.cleanup(out)

    # 3. staged run
    staged = wl.staged(spans, col)

    layers: dict = {}
    empty = Stats()
    for name in CALLSITE_LAYERS:
        st = mods.get(name, empty)
        if name == wl.entry_layer:
            # the entry call's lazy output is materialized by the benchmark
            # itself; those jobs belong to the entry layer
            st = col.log.totals(
                [col.log.jobs[i] for m in (name, "bench") for i in mods.get(m, empty).job_ids]
            )
        layers[name] = _layer(st)
    for name in STAGED_LAYERS:
        if staged is None:
            layers[name] = _layer(mods.get(name, empty))
        else:
            groups = staged["groups"].get(name, [])
            st = col.log.totals([j for g in groups for j in col.jobs(g)])
            layers[name] = _layer(st, staged["walls"].get(name, 0.0))

    m: dict = {}
    for name in [*STAGED_LAYERS, *CALLSITE_LAYERS]:
        for f in LAYER_FIELDS:
            m[f"{name}.{f}"] = layers[name][f]
    counts = staged["counts"] if staged else {}
    cand = counts.get("lsh.candidate_pairs", 0)
    m.update(
        {
            "signatures.rows_out": counts.get("signatures.rows_out", 0),
            "lsh.band_rows": counts.get("lsh.band_rows", 0),
            "lsh.candidate_pairs": cand,
            "lsh.simhash_pairs": counts.get("lsh.simhash_pairs", 0),
            "verify.pairs_out": counts.get("verify.pairs_out", 0),
            "verify.yield": counts.get("verify.pairs_out", 0) / cand if cand else 0.0,
            "substring.pairs_out": counts.get("substring.pairs_out", 0),
            "components.rounds": out.get("rounds") or 0,
            "components.sym_edges": out.get("sym_edges") or 0,
            "pipeline.dag_build_s": spans.seconds("pipeline.dag_build"),
            "pipeline.materialize_s": spans.seconds("pipeline.materialize"),
            "incremental.store_bytes_written": chk_on.get("store_bytes_written", 0),
            "trace.wall_s": wall_on,
            "trace.untraced_wall_s": wall_off,
            "trace.overhead_s": wall_on - wall_off,
            # staged: the staged layers' summed wall over the whole call's;
            # otherwise the share of the call during which a job ran
            "trace.coverage": (
                sum(layers[n]["wall_s"] for n in STAGED_LAYERS) if staged else whole.busy_s
            ) / wall_on,
            "collector.jobs_on": whole.jobs,
            "collector.jobs_off": jobs_off,
            "api.fit_s": spans.seconds("api.fit"),
            "api.kneighbors_s": spans.seconds("api.kneighbors"),
            "api.edges_out": chk_on.get("edges_out", 0),
            "api.knn_recall": chk_on.get("knn_recall", 0.0),
        }
    )

    checks = [chk_off, chk_on]
    staged_ok = True
    if staged is not None:
        a = chk_on["labels"].sort_values("doc_id").to_numpy()
        b = staged["labels"].sort_values("doc_id").to_numpy()
        staged_ok = a.shape == b.shape and bool((a == b).all())
    for c in checks:
        c.pop("labels", None)
    spans.write(
        spans_path,
        seed=seed,
        jobs=[
            {"id": j.id, "group": j.group, "site": j.site, "start": j.start, "end": j.end}
            for j in sorted(col.log.jobs.values(), key=lambda j: j.id)
            if j.group in ("traced",) or (j.group or "").startswith("staged.")
        ],
    )
    return {
        "metrics": m,
        "checks": checks,
        "jobs_match": whole.jobs == jobs_off,
        "staged_matches": staged_ok,
        "spans_path": spans_path,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--warm-inputs")
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--spans", required=True)
    ap.add_argument("--result", required=True)
    a = ap.parse_args(argv)

    import inputs
    import workloads
    from collector import Collector, Spans

    spec = inputs.WORKLOADS[a.workload]
    spark = session(a.run_dir, a.workload)
    res: dict = {"workload": a.workload, "seed": a.seed, "ops": []}
    phases = res["phases"] = {"session": time.perf_counter() - T_START}
    try:
        col = Collector(spark, os.path.join(a.run_dir, "eventlog"))
        kind = workloads.KINDS[spec["kind"]]
        wl = kind(spark, a.inputs, os.path.join(a.run_dir, "work"))
        with col.group("setup"):
            wl.setup()
        off = Spans("op", enabled=False)
        if not wl.warm_after_setup:
            warm = kind(spark, a.warm_inputs, os.path.join(a.run_dir, "warm"))
            with col.group("setup"):
                warm.setup()
            try:
                res["warmup"] = run_op(warm, col, "warmup", off)
            except Exception as e:  # counted as a failed op by run.py
                traceback.print_exc()
                res["warmup"] = {"error": f"{type(e).__name__}: {e}"}
        res["setup_s"] = time.perf_counter() - T_START
        phases["setup"] = res["setup_s"] - phases["session"]
        res["op_pages"] = wl.op_pages
        if a.trace:
            res["trace"] = traced(wl, col, f"{a.workload}-s{a.seed}", a.spans, a.seed)
        else:
            t0 = time.perf_counter()
            while not res["ops"] or time.perf_counter() - t0 < a.seconds:
                try:
                    res["ops"].append(run_op(wl, col, f"op-{len(res['ops'])}", off))
                except Exception as e:  # a failed op is counted, not fatal
                    traceback.print_exc()
                    res["ops"].append({"error": f"{type(e).__name__}: {e}"})
                    break
        phases["ops"] = time.perf_counter() - T_START - res["setup_s"]
    finally:
        t = time.perf_counter()
        spark.stop()
        phases["stop"] = time.perf_counter() - t
    with open(a.result + ".tmp", "w") as f:
        json.dump(res, f, default=float)
    os.replace(a.result + ".tmp", a.result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
