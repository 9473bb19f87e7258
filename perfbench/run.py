#!/usr/bin/env python3
"""graft's benchmark: one closed-loop client per run, driven from the repo root.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 30 --trace 0

A run builds graft and the harness with sbt (the first run in a checkout,
or after a source change), makes the seed's inputs under .bench_build/,
and runs `perfbench.Harness` in one JVM: set-up, a first pass over the
workload's operations, then warm passes (at least one, more while they
fit in --seconds). It then checks every query result of the first pass
against its DuckDB oracle SQL and the GP fit against its RMSE bound,
writes the full artifact to .bench_build/artifacts/, and prints one JSON
result line last: the end-to-end metrics with --trace 0, the per-layer
ones (from a run with the tracer's listeners on) with --trace 1, both as
named in BENCHMARK.json. A run that cannot build or finish prints no
result line and exits non-zero.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen_data  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
from workloads import WORKLOADS, GP  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
# Every run, the first included, must end within this many seconds.
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 720
XMX = "4g"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Content hash of everything the build reads, to detect a stale build."""
    h = hashlib.sha256()
    for top in ("build.sbt", "project", "src/main", "perfbench"):
        base = os.path.join(ROOT, top)
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, ds, fs in os.walk(base)
            if "target" not in d.split(os.sep) for f in fs)
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties")):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build(deadline):
    """Compile graft and the harness with sbt; cache the runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.txt")
    want = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as f:
            have, cp = f.read().split("\n", 1)
        if have == want:
            return cp.strip()
    log("building graft and the harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    # keep sbt's lock, temp and ivy files inside the build directory
    sbt_tmp = os.path.join(BUILD, "tmp", "sbt")
    os.makedirs(sbt_tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.log.noformat=true", "-XX:-UsePerfData",
            "-Dsbt.boot.lock=false", f"-Dsbt.ivy.home={os.path.join(BUILD, 'ivy')}",
            f"-Djava.io.tmpdir={sbt_tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "export perfbench/Runtime/fullClasspathAsJars"]
    out = run_proc(cmd, os.path.join(ROOT, "perfbench"), env,
                   min(BUILD_LIMIT_S, deadline - time.time()),
                   os.path.join(BUILD, "logs", "build.log"))
    lines = [l for l in out.splitlines() if l.strip() and not l.startswith("[")]
    if not lines or ".jar" not in lines[-1]:
        raise RuntimeError("sbt build failed; see .bench_build/logs/build.log")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        f.write(want + "\n" + cp)
    return cp


def run_proc(cmd, cwd, env, timeout, log_path):
    """Run a child to completion (killing its process group on timeout);
    stdout is returned, stderr goes to `log_path` (and stdout too if the
    child fails)."""
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "w") as err:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                             stderr=err, text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            raise RuntimeError(f"{cmd[0]} timed out after {timeout:.0f} s")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if p.returncode != 0:
        with open(log_path, "a") as err:
            err.write(out)
        raise RuntimeError(f"{cmd[0]} exited {p.returncode}; see {log_path}")
    return out


def make_inputs(seed):
    data = os.path.join(BUILD, "data", f"seed{seed}")
    done = os.path.join(data, "DONE")
    if not os.path.exists(done):
        parent = os.path.dirname(data)
        if os.path.isdir(parent):
            shutil.rmtree(parent)
        gen_data.write(data, seed, gen_data.BENCH_SF)
        gen_data.write_gp(data, seed, GP)
        open(done, "w").close()
    return data


def jvm(cp, args, deadline, name):
    """Run one harness JVM, with its temp directory inside the build dir."""
    tmp = os.path.join(BUILD, "tmp", f"{name}{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = (["java", f"-Xmx{XMX}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"] +
           ADD_OPENS + ["-cp", cp, "perfbench.Harness"] + args)
    try:
        run_proc(cmd, ROOT, dict(os.environ), deadline - time.time(),
                 os.path.join(BUILD, "logs", f"{name}-jvm.log"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def harness(cp, data, a, ops, out, check_dir, deadline):
    jvm(cp, ["--workload", a.workload, "--data", data, "--seed", str(a.seed),
             "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", out,
             "--check-dir", check_dir, "--ops", ",".join(ops),
             "--gp-max-iter", str(GP["max_iter"]), "--gp-classify", str(GP["n_classify"])],
        deadline, a.workload)
    with open(out) as f:
        return json.load(f)


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log("graft's sources are not in this checkout; nothing to build")
        return 2
    os.makedirs(BUILD, exist_ok=True)
    cp = build(t_start + BUILD_LIMIT_S)
    deadline = time.time() + RUN_LIMIT_S - 5
    ops = WORKLOADS[a.workload]
    t = time.time()
    data = make_inputs(a.seed)
    phases = {"inputs_s": time.time() - t}
    runs = os.path.join(BUILD, "runs")
    shutil.rmtree(runs, ignore_errors=True)
    os.makedirs(runs)
    check_dir = os.path.join(runs, "check")
    env_load0 = os.getloadavg()[0]
    busy0 = metrics.busy_cores()
    t = time.time()
    raw = harness(cp, data, a, ops, os.path.join(runs, "run.json"), check_dir, deadline)
    phases["jvm_s"] = time.time() - t
    t = time.time()
    verdicts = oracle.check(data, check_dir, [o for o in ops if o not in metrics.GP_OPS])
    verdicts.update(metrics.gp_verdicts(raw, GP))
    phases["oracle_s"] = time.time() - t
    art = metrics.artifact(raw, verdicts, ops)
    art["run_phases_s"] = phases
    art["env"].update({
        "git_commit": git_commit(), "source_hash": source_hash(), "seed": a.seed,
        "loadavg_before_setup": env_load0, "loadavg_end": os.getloadavg()[0],
        "busy_cores_before_setup": busy0,
        "xmx": XMX, "sf": gen_data.BENCH_SF, "gp": GP,
        "tmpfs_plane_available": metrics.shm_free_gib() >= 16,
    })
    art["env"]["loaded"] = metrics.is_loaded(art["env"])
    art["wall_s"] = time.time() - t_start
    os.makedirs(os.path.join(BUILD, "artifacts"), exist_ok=True)
    path = os.path.join(BUILD, "artifacts", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(path, "w") as f:
        json.dump(art, f, indent=1, sort_keys=True)
    shutil.rmtree(runs, ignore_errors=True)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        line = metrics.result_line(art, a.trace, json.load(f))
    log(f"artifact {os.path.relpath(path, ROOT)}; {art['wall_s']:.1f} s")
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    # a terminated run still stops (in run_proc's finally) the JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except Exception as e:  # a failed run prints no result line
        log(f"run failed: {e}")
        sys.exit(1)
