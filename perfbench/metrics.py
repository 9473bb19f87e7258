"""Turns the harness's raw record of a run into the benchmark's metrics.

End-to-end metrics come from the untraced run's per-operation wall times;
per-layer metrics from the traced run's spans. Every per-pass figure is
the median over the warm passes (every pass after the first).
"""
import os
import re
import statistics
import time

from workloads import WORKLOADS

GP_OPS = ("gp_fit_reg", "gp_fit_clf", "gp_predict")
# A tail percentile is reported only where at least this many samples lie
# beyond it.
TAIL_BEYOND = 10

# Every per-layer metric the traced run reports, with its unit; the
# end-to-end ones an untraced run prints are those BENCHMARK.json names.
PER_LAYER = {
    "tables.open_ms": "ms", "tables.open_jobs": "count",
    "queries.build_ms": "ms", "queries.build_jobs": "count",
    "exec.plan_ms": "ms", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.driver_gap_ms": "ms", "exec.tasks_per_stage": "count",
    "exec.task_run_ms": "ms", "exec.task_cpu_ms": "ms", "exec.task_gc_ms": "ms",
    "exec.cpu_share": "ratio", "exec.core_busy": "ratio",
    "exec.input_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
    "streaming.batches": "count", "streaming.batch_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count",
    "gp.evals": "count", "gp.eval_ms": "ms", "gp.eval_tasks": "count",
    "gp.driver_ms": "ms", "gp.inducing_ms": "ms", "gp.project_ms": "ms",
    "gp.predict_tasks": "count", "gp.fit_s": "s", "gp.predict_rows_per_s": "rows/s",
    "gp.fit_rmse": "ratio",
    "jvm.gc_ms": "ms", "jvm.heap_retained_mb": "MB",
    "trace.pass_s": "s",
}


def family(name):
    """A query's family is its name's letter prefix (q05_... -> q)."""
    return "gp" if name in GP_OPS else re.match(r"[a-z]+", name).group(0)


FAMILIES = sorted({family(n) for ops in WORKLOADS.values() for n in ops})
PER_LAYER.update({f"family.{f}.pass_s": "s" for f in FAMILIES})

# Stage call sites (first graft frame, `File.scala:method`) of the GP fit's
# phases.
GP_EVAL_SITES = ("GPCore.scala:calculate",)
GP_PROJECT_SITES = ("GPCore.scala:fitProjected",)
GP_INDUCING_FILE = "InducingPoints.scala:"


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(samples):
    """(value, percentile, n): the highest percentile with TAIL_BEYOND
    samples beyond it, or the maximum when there are too few samples."""
    xs = sorted(samples, reverse=True)
    n = len(xs)
    if n > TAIL_BEYOND:
        return xs[TAIL_BEYOND], 100.0 * (1 - TAIL_BEYOND / n), n
    return (xs[0] if xs else 0.0), 100.0, n


def shm_free_gib():
    try:
        st = os.statvfs("/dev/shm")
        return st.f_bavail * st.f_frsize / 2 ** 30
    except OSError:
        return 0.0


def busy_cores(window_s=0.5):
    """Cores kept busy (or stolen by other guests) over a short window, from
    /proc/stat. Sampled just before the harness starts, it is other
    work's load: the 1-minute loadavg there still counts the previous
    run's own JVM."""
    def sample():
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        return sum(v), v[3] + v[4]  # total, idle + iowait
    t0, i0 = sample()
    time.sleep(window_s)
    t1, i1 = sample()
    return len(os.sched_getaffinity(0)) * (1 - (i1 - i0) / max(1, t1 - t0))


def is_loaded(env):
    """Loaded when other work kept at least half the cores busy just
    before the run started."""
    return env["busy_cores_before_setup"] >= env["nproc"] / 2


def gp_verdicts(raw, gp):
    if "gp_nonfinite_predictions" not in raw["checks"]:
        return {}
    rmses = [o["fit_rmse"] for o in raw["ops"] if "fit_rmse" in o]
    worst = max(rmses + [raw["checks"]["gp_check_rmse"]])
    return {
        "gp_predict": {"ok": raw["checks"]["gp_nonfinite_predictions"] == 0,
                       "detail": f"{raw['checks']['gp_nonfinite_predictions']} non-finite"},
        "gp_fit_reg": {"ok": worst <= gp["rmse_bound"],
                       "detail": f"worst held-out RMSE {worst:.4f}, bound {gp['rmse_bound']}"},
    }


def _warm(raw):
    return [p["pass"] for p in raw["passes"] if p["pass"] >= 1]


def end_to_end(raw):
    warm = set(_warm(raw))
    first = next(p for p in raw["passes"] if p["pass"] == 0)
    op_walls = [o["wall_s"] for o in raw["ops"] if o["pass"] in warm]
    tail_v, tail_pct, tail_n = tail(op_walls)
    return {
        "setup_s": raw["setup_s"],
        "first_pass_s": first["ops_s"],
        "pass_s": median([p["ops_s"] for p in raw["passes"] if p["pass"] in warm]),
        "op_p50_s": median(op_walls),
        "op_tail_s": tail_v,
    }, {"op_tail_percentile": tail_pct, "op_tail_n": tail_n}


def _families(raw):
    warm = _warm(raw)
    out = {}
    for f in FAMILIES:
        per_pass = [sum(o["wall_s"] for o in raw["ops"]
                        if o["pass"] == p and family(o["name"]) == f) for p in warm]
        out[f"family.{f}.pass_s"] = median(per_pass)
    return out


def per_layer(raw, pass_s):
    kids = {}
    for s in raw["spans"]:
        kids.setdefault(s["parent"], []).append(s)

    def c(s, k):
        return s["counters"].get(k, 0.0)

    def under(s, kind):
        found = []
        for k in kids.get(s["id"], []):
            found += [k] if k["kind"] == kind else under(k, kind)
        return found

    nproc = raw["env"]["nproc"]
    passes = [s for s in raw["spans"] if s["kind"] == "pass" and s["name"] != "pass0"]
    probes = [s for s in raw["spans"] if s["kind"] == "probe" and s["name"] != "pass0"]
    rows = []
    for p in passes:
        ops = under(p, "op")
        builds = [b for o in ops for b in under(o, "build")]
        actions = [a for o in ops for a in under(o, "action")]
        fits = [f for o in ops for f in under(o, "fit")]
        predicts = [a for o in ops if o["name"] == "gp_predict" for a in under(o, "action")]

        def sum_c(ss, k):
            return sum(c(s, k) for s in ss)

        def site(ss, pred, what):
            """Sum of a `site:<call site>:<what>` counter over the sites
            `pred` accepts."""
            return sum(v for s in ss for k, v in s["counters"].items()
                       if k.startswith("site:") and k.endswith(":" + what)
                       and pred(k[5:-len(what) - 1]))

        is_eval = lambda st: st in GP_EVAL_SITES  # noqa: E731
        run_ms, act_ms = sum_c(actions, "task_run_ms"), sum(a["wall_ms"] for a in actions)
        evals = site(fits, is_eval, "jobs")
        rows.append({
            "queries.build_ms": sum(b["wall_ms"] for b in builds),
            "queries.build_jobs": sum_c(builds, "jobs"),
            "exec.plan_ms": sum_c(actions, "plan_ms"),
            "exec.jobs": sum_c(actions, "jobs"),
            "exec.stages": sum_c(actions, "stages"),
            "exec.tasks": sum_c(actions, "tasks"),
            "exec.driver_gap_ms": sum(a["wall_ms"] - a["job_busy_ms"] for a in actions),
            "exec.tasks_per_stage": sum_c(actions, "tasks") / max(1.0, sum_c(actions, "stages")),
            "exec.task_run_ms": run_ms,
            "exec.task_cpu_ms": sum_c(actions, "task_cpu_ms"),
            "exec.task_gc_ms": sum_c(actions, "task_gc_ms"),
            "exec.cpu_share": sum_c(actions, "task_cpu_ms") / max(1.0, run_ms),
            "exec.core_busy": run_ms / max(1.0, act_ms * nproc),
            "exec.input_bytes": sum_c(actions, "input_bytes"),
            "exec.shuffle_read_bytes": sum_c(actions, "shuffle_read_bytes"),
            "exec.shuffle_write_bytes": sum_c(actions, "shuffle_write_bytes"),
            "exec.spill_bytes": sum_c(actions, "spill_bytes"),
            "streaming.batches": sum_c(ops, "batches"),
            "streaming.batch_ms": sum_c(ops, "batch_ms"),
            "streaming.wal_commit_ms": sum_c(ops, "wal_commit_ms"),
            "streaming.state_commit_ms": sum_c(ops, "state_commit_ms"),
            "streaming.state_rows": sum_c(ops, "state_rows"),
            "gp.evals": evals,
            "gp.eval_ms": site(fits, is_eval, "ms"),
            "gp.eval_tasks": site(fits, is_eval, "tasks") / max(1.0, site(fits, is_eval, "stages")),
            "gp.driver_ms": sum(f["wall_ms"] - f["job_busy_ms"] for f in fits),
            "gp.inducing_ms": site(fits, lambda st: st.startswith(GP_INDUCING_FILE), "ms"),
            "gp.project_ms": site(fits, lambda st: st in GP_PROJECT_SITES, "ms"),
            "gp.predict_tasks": sum_c(predicts, "tasks"),
        })
    out = {k: median([r[k] for r in rows]) for k in (rows[0] if rows else {})}
    opens = [o for p in probes for o in under(p, "open")]
    out["tables.open_ms"] = median([o["wall_ms"] for o in opens])
    out["tables.open_jobs"] = sum(c(o, "jobs") for o in opens) / max(1, len(opens))
    warm = set(_warm(raw))
    out["jvm.gc_ms"] = median([p["gc_ms"] for p in raw["passes"] if p["pass"] in warm])
    out["jvm.heap_retained_mb"] = raw["heap_retained_mb"]
    fits = [o["wall_s"] for o in raw["ops"] if o["name"] == "gp_fit_reg" and o["pass"] in warm]
    rps = [o["rows_per_s"] for o in raw["ops"] if "rows_per_s" in o and o["pass"] in warm]
    rmse = [o["fit_rmse"] for o in raw["ops"] if "fit_rmse" in o and o["pass"] in warm]
    out.update({"gp.fit_s": median(fits), "gp.predict_rows_per_s": median(rps),
                "gp.fit_rmse": median(rmse), "trace.pass_s": pass_s})
    out.update(_families(raw))
    return {k: out.get(k, 0.0) for k in PER_LAYER}


def per_op_layers(raw):
    """Per-operation layer counters of the traced run, summed over warm
    passes: the query-level view the pass-level metrics aggregate."""
    if not raw.get("spans"):
        return {}
    first = {s["id"] for s in raw["spans"] if s["kind"] == "pass" and s["name"] == "pass0"}
    out = {}
    for s in raw["spans"]:
        if s["kind"] == "op" and s["parent"] not in first:
            row = out.setdefault(s["name"], {"wall_ms": 0.0, "job_busy_ms": 0.0})
            row["wall_ms"] += s["wall_ms"]
            row["job_busy_ms"] += s["job_busy_ms"]
            for k, v in s["counters"].items():
                row[k] = row.get(k, 0.0) + v
    return out


def artifact(raw, verdicts, ops):
    e2e, tail_info = end_to_end(raw)
    errors = [o for o in raw["ops"] if o["error"]]
    bad = {n for n, v in verdicts.items() if not v["ok"]}
    for n, err in raw["checks"].items():
        if n in ops and isinstance(err, str):
            bad.add(n)
            verdicts[n] = {"ok": False, "detail": err}
    failed = sum(1 for o in raw["ops"] if o["error"] or o["name"] in bad)
    art = {
        "workload": raw["workload"], "seed": raw["seed"], "trace": raw["trace"],
        "seconds": raw["seconds"], "measured_s": raw["measured_s"],
        "env": raw["env"], "operations": ops,
        "order": {str(p["pass"]): p["order"] for p in raw["passes"]},
        "passes": raw["passes"], "ops": raw["ops"], "table_probes": raw["table_probes"],
        "setup_s": raw["setup_s"], "end_to_end": e2e, **tail_info,
        "families": _families(raw),
        "attempted": len(raw["ops"]), "failed": failed,
        "fail_frac": failed / max(1, len(raw["ops"])),
        "errors": [{"name": o["name"], "pass": o["pass"], "error": o["error"]} for o in errors],
        "verdicts": verdicts,
    }
    if raw.get("spans"):
        art["per_layer"] = per_layer(raw, e2e["pass_s"])
        art["per_op_layers"] = per_op_layers(raw)
        art["spans"] = raw["spans"]
    return art


def result_line(art, trace, bench):
    """The run's one-line result: BENCHMARK.json's end-to-end metrics, or
    with `trace` its per-layer ones."""
    section = "per_layer" if trace else "end_to_end"
    metrics = {m["name"]: {"value": art[section][m["name"]], "unit": m["unit"]}
               for m in bench[section]}
    return {"correct": art["failed"] == 0, "attempted": art["attempted"],
            "failed": art["failed"], "metrics": metrics}
