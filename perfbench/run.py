#!/usr/bin/env python3
"""Store-serving and ingest benchmark for aerovaldbspark.

Run one workload:

    python3 perfbench/run.py --workload serve_json --seed 1 --seconds 25 --trace 0

from the root of a checkout. The first run builds the library and the
harness from source with sbt (into ``target/`` and ``.bench_build/``);
later runs reuse the build while the sources are unchanged. The last
line of standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The full record,
with provenance, is written under ``.bench_build/results/``, and a traced
run's spans next to it.

Other modes:

    python3 perfbench/run.py --self-test
    python3 perfbench/run.py --compare PARENT_DIR CHANGE_DIR

``--compare`` reads two sets of result records and prints, per workload
and end-to-end metric, each side's median and quartiles, the fraction of
seed-matched pairs the change wins, and a verdict against the bounds in
``BENCHMARK.json``.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 880

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, relative to the root, sorted."""
    out = []
    for base in ("src/main", "perfbench/src", "project", "perfbench/project"):
        for dirpath, dirs, files in os.walk(os.path.join(ROOT, base)):
            dirs[:] = [d for d in dirs if d not in ("target", "project")]
            out += [os.path.relpath(os.path.join(dirpath, f), ROOT) for f in files]
    out += [f for f in ("build.sbt", "perfbench/build.sbt") if os.path.exists(os.path.join(ROOT, f))]
    return sorted(out)


def fingerprint():
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compile the library and the harness; return the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no library sources next to perfbench/ (build.sbt, src/main/scala): nothing to measure", 2)
    fp = fingerprint()
    cp_file = os.path.join(BUILD, "classpath.txt")
    fp_file = os.path.join(BUILD, "fingerprint.txt")
    if os.path.exists(cp_file) and os.path.exists(fp_file) and open(fp_file).read() == fp:
        return open(cp_file).read().strip(), fp
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Xmx2g").strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
           "export perfbench/runtime:fullClasspath"]
    log_path = os.path.join(BUILD, "build.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        try:
            p = subprocess.run(cmd, cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S}s (log: {log_path})")
    lines = open(log_path).read().splitlines()
    if p.returncode != 0:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (log: {log_path})")
    cp = next((l for l in reversed(lines) if "perfbench" in l and ":" in l and not l.startswith("[")), None)
    if cp is None:
        fail(f"build printed no classpath (log: {log_path})")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(fp_file, "w") as f:
        f.write(fp)
    print(f"[perfbench] built in {time.time() - t0:.0f}s", file=sys.stderr)
    return cp, fp


def git_state():
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if sha.returncode != 0:
            return None, None
        dirty = subprocess.run(["git", "status", "--porcelain", "--untracked-files=no"], cwd=ROOT,
                               capture_output=True, text=True, timeout=10)
        return sha.stdout.strip(), bool(dirty.stdout.strip())
    except (OSError, subprocess.SubprocessError):
        return None, None


def java_cmd(cp, work, args):
    heap = "3g"
    return (["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            [f"-Xmx{heap}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main"] + args)


def run_jvm(cp, work, args):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ)
    # the store's advisory lock: real file locks, kept inside the run
    env["AVDB_USE_LOCKING"] = "1"
    env["AVDB_LOCK_DIR"] = os.path.join(work, "locks")
    proc = subprocess.Popen(java_cmd(cp, work, args), cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    try:
        out, err = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        fail(f"run exceeded {RUN_TIMEOUT_S}s and was stopped")
    return proc.returncode, out, err


def declared_metrics():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        spec = json.load(f)
    return spec


def run_workload(a):
    cp, fp = build()
    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    out_file = os.path.join(BUILD, "results", f"{stamp}-{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}.json")
    try:
        code, out, err = run_jvm(cp, work, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--workdir", work, "--out", out_file])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        sys.stderr.write(err[-4000:])
        fail(f"workload {a.workload} exited with code {code}")
    line = json.loads(lines[-1])
    if set(line) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {lines[-1][:200]}")
    spec = declared_metrics()
    if spec is not None:
        want = {m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]}
        if set(line["metrics"]) != want:
            fail(f"metrics {sorted(set(line['metrics']) ^ want)} differ from BENCHMARK.json")
    for msg in err.splitlines():
        if msg.startswith("[perfbench]"):
            print(msg, file=sys.stderr)
    # provenance the JVM cannot see: the sources it was built from
    with open(out_file) as f:
        record = json.load(f)
    sha, dirty = git_state()
    record["provenance"].update({"git_sha": sha, "git_dirty": dirty, "source_fingerprint": fp})
    with open(out_file, "w") as f:
        json.dump(record, f, indent=2)
    print(json.dumps(line))


# ----------------------------------------------------------------------
# compare mode
# ----------------------------------------------------------------------

def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def verdict(parent, change, better, bound, pairs):
    """Verdict for one metric by the pairing rule: a gain needs the
    change to win nine tenths of all pairs (ties count for neither) and
    medians that differ by more than the parent's own quartile spread; a
    loss is a median worse than the parent's by more than the bound; a
    spread wider than the bound leaves the metric unresolved unless every
    change run beats every parent run."""
    sign = 1 if better == "higher" else -1
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    won = wins / len(pairs) if pairs else 0.0
    if won >= 0.9 and sign * (cm - pm) > (p3 - p1):
        return "improved", won
    if sign * (pm - cm) > bound * abs(pm):
        return "worse", won
    all_better = min(sign * c for c in change) > max(sign * p for p in parent)
    if pm and (p3 - p1) / abs(pm) > bound and not all_better:
        return "unresolved", won
    return "unchanged", won


def load_records(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    out = []
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if "provenance" in r and not r["provenance"].get("trace"):
            out.append(r)
    return out


def compare(parent_path, change_path):
    spec = declared_metrics()
    if spec is None:
        fail("BENCHMARK.json not found")
    parent, change = load_records(parent_path), load_records(change_path)
    for wl in [w["name"] for w in spec["workloads"]]:
        ps = [r for r in parent if r["provenance"]["workload"] == wl]
        cs = [r for r in change if r["provenance"]["workload"] == wl]
        if not ps or not cs:
            print(f"{wl}: no runs on {'both sides' if not ps and not cs else 'one side'}")
            continue
        by_seed = {r["provenance"]["seed"]: r for r in ps}
        matched = [(by_seed[r["provenance"]["seed"]], r) for r in cs if r["provenance"]["seed"] in by_seed]
        cells, verdicts = [], []
        for m in spec["end_to_end"]:
            n = m["name"]
            pv = [r["metrics"][n]["value"] for r in ps]
            cv = [r["metrics"][n]["value"] for r in cs]
            pairs = [(p["metrics"][n]["value"], c["metrics"][n]["value"]) for p, c in matched]
            v, won = verdict(pv, cv, m["better"], m["bound"], pairs)
            verdicts.append(v)
            p1, pm, p3 = quartiles(pv)
            c1, cm, c3 = quartiles(cv)
            cells.append(f"{n}={pm:.4g}[{p1:.4g},{p3:.4g}]->{cm:.4g}[{c1:.4g},{c3:.4g}] "
                         f"won={won:.2f} {v}")
        overall = ("worse" if "worse" in verdicts else "unresolved" if "unresolved" in verdicts
                   else "improved" if "improved" in verdicts else "unchanged")
        print(f"{wl} ({len(ps)} parent, {len(cs)} change, {len(matched)} pairs): {overall} | " +
              " | ".join(cells))


# ----------------------------------------------------------------------

def self_test():
    checks = {
        "quartiles match statistics.quantiles": quartiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) ==
            tuple(statistics.quantiles(range(1, 11), n=4)),
        "a change winning every pair by more than the spread improves":
            verdict([10, 11, 10, 11] * 3, [5, 5.5, 5, 5.5] * 3, "lower", 0.1,
                    list(zip([10, 11, 10, 11] * 3, [5, 5.5, 5, 5.5] * 3)))[0] == "improved",
        "a median worse by more than the bound is worse":
            verdict([10] * 10, [12] * 10, "lower", 0.1, list(zip([10] * 10, [12] * 10)))[0] == "worse",
        "a spread wider than the bound is unresolved":
            verdict([5, 10, 15, 20] * 3, [5, 10, 15, 21] * 3, "lower", 0.1,
                    list(zip([5, 10, 15, 20] * 3, [5, 10, 15, 21] * 3)))[0] == "unresolved",
        "equal runs are unchanged":
            verdict([10, 10.1] * 5, [10.05, 10] * 5, "higher", 0.1,
                    list(zip([10, 10.1] * 5, [10.05, 10] * 5)))[0] == "unchanged",
    }
    for name, ok in checks.items():
        print(f"{'ok  ' if ok else 'FAIL'} {name}")
    cp, _ = build()
    work = os.path.join(BUILD, "work", f"selftest-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        code, out, err = run_jvm(cp, work, ["--self-test", "--workdir", work])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(out)
    if code != 0:
        sys.stderr.write(err[-3000:])
    sys.exit(0 if code == 0 and all(checks.values()) else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=25)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--compare", nargs=2, metavar=("PARENT", "CHANGE"))
    a = ap.parse_args()
    if a.self_test:
        self_test()
    elif a.compare:
        compare(*a.compare)
    elif a.workload:
        run_workload(a)
    else:
        ap.error("give --workload, --self-test or --compare")


if __name__ == "__main__":
    main()
