#!/usr/bin/env python3
"""Benchmark runner for the graft point-cloud and text engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the engine from source together with the harness in
perfbench/src (sbt, output under .bench_build/), runs one workload in
one JVM, checks its answers, and prints as the last line of stdout one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics. The line before it is a report with
the run's provenance and details. See perfbench/README.md.
"""
import argparse
import decimal
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
JVM_HEAP = "3g"
RUN_DEADLINE_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_fingerprint():
    """Hash of every file the build reads: the engine's main sources and
    the harness (build definition included)."""
    h = hashlib.sha256()
    for base in (ENGINE_SRC, HERE):
        for d, dirs, files in os.walk(base):
            # sbt's own output under project/ is not an input
            dirs[:] = sorted(x for x in dirs if x != "target" and
                             not (os.path.basename(d) == "project" and d.startswith(HERE)))
            for f in sorted(files):
                if not f.endswith((".scala", ".sbt", ".properties", ".java")) and \
                        "META-INF" not in d:
                    continue
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def git_commit():
    """The checkout's commit when it is a git work tree, else None."""
    try:
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        lines = out.stdout.split()
        if out.returncode != 0 or len(lines) != 2 or \
                os.path.realpath(lines[0]) != os.path.realpath(ROOT):
            return None
        return lines[1]
    except (OSError, subprocess.TimeoutExpired):
        return None


def build(deadline):
    """Compiles engine + harness once per source fingerprint; returns the
    runtime classpath."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        raise RuntimeError(f"engine sources not found under {ENGINE_SRC}")
    if shutil.which("sbt") is None:
        raise RuntimeError("sbt is not on PATH")
    os.makedirs(BUILD, exist_ok=True)
    fp = source_fingerprint()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        classes = cached.get("classpath", "").split(os.pathsep)[0]
        if cached.get("fingerprint") == fp and os.path.isdir(classes):
            return cached["classpath"]
    log("building engine + harness (sbt)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=max(60, deadline - time.time()))
        except subprocess.TimeoutExpired:
            kill(proc)
            raise RuntimeError("build timed out")
        out.write(stdout)
    if proc.returncode != 0:
        raise RuntimeError(f"build failed (exit {proc.returncode}); see .bench_build/build.log")
    lines = [l for l in stdout.splitlines() if "scala-2.13" in l and os.pathsep in l]
    if not lines:
        raise RuntimeError("build printed no classpath")
    cp = lines[-1].strip()
    with open(stamp, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": cp}, fh)
    return cp


def kill(proc):
    """Stops a child started in its own session, and waits for it."""
    try:
        os.killpg(proc.pid, signal.SIGTERM)
        proc.wait(timeout=10)
    except (ProcessLookupError, subprocess.TimeoutExpired):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()


def run_jvm(cp, main, args, work, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed-size heap: no heap growth during the timed loop
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-cp", cp, main] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            kill(proc)
            raise RuntimeError(f"{main} exceeded the run deadline")
    return rc


def tail(path, n=40):
    try:
        with open(path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


# ---------------------------------------------------------------- oracle

def canon(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, bool):
        return int(v)
    return v


def same(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return str(a) == str(b)


def compare(columns, got_rows, want_cols, want_rows):
    """Row-set equality with columns matched by name. Returns None when
    equal, else a short reason."""
    gi = {c.lower(): i for i, c in enumerate(columns)}
    wi = {c.lower(): i for i, c in enumerate(want_cols)}
    if set(gi) != set(wi):
        return f"columns {sorted(gi)} != oracle {sorted(wi)}"
    names = sorted(gi)
    def norm(rows, idx):
        out = [tuple(canon(r[idx[c]]) for c in names) for r in rows]
        return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))
    g, w = norm(got_rows, gi), norm(want_rows, wi)
    if len(g) != len(w):
        return f"{len(g)} rows != oracle {len(w)}"
    for a, b in zip(g, w):
        if not all(same(x, y) for x, y in zip(a, b)):
            return f"row {a} != oracle {b}"
    return None


def corrupt_rows(rows):
    """The first numeric value of the first row, plus one."""
    rows = [list(r) for r in rows]
    for r in rows[:1]:
        for i, v in enumerate(r):
            if isinstance(v, (int, float, decimal.Decimal)) and not isinstance(v, bool):
                r[i] = canon(v) + 1
                return rows
    return rows


def check_oracle(oracle):
    """Runs each text query's oracle SQL through DuckDB over the run's
    corpus and compares the query's answer. Returns {query: (ops, reason)}
    for the queries whose answer differs."""
    import duckdb
    con = duckdb.connect()
    path = oracle["corpus"].replace("'", "''")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    bad = {}
    for q, spec in oracle["queries"].items():
        if not spec["columns"]:
            continue  # every op of this query failed already
        t0 = time.time()
        cur = con.execute(spec["sql"])
        log(f"oracle {q}: {time.time() - t0:.1f} s")
        want_cols = [d[0] for d in cur.description]
        want = cur.fetchall()
        if oracle.get("corrupt"):
            want = corrupt_rows(want)
        why = compare(spec["columns"], spec["rows"], want_cols, want)
        if why:
            bad[q] = (spec["ops"], why)
    con.close()
    return bad


# ---------------------------------------------------------------- runner

def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(a):
    started = time.time()
    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        raise RuntimeError(f"unknown workload {a.workload!r}; one of {names}")
    cp = build(started + 850)
    # the build may take long on a fresh checkout; the run itself is bounded
    deadline = time.time() + RUN_DEADLINE_S
    work = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--out", out]
        if a.scale is not None:
            args += ["--scale", str(a.scale)]
        if a.corrupt:
            args += ["--corrupt", "1"]
        t0 = time.time()
        rc = run_jvm(cp, "perfbench.Main", args, work, deadline)
        log(f"benchmark JVM: {time.time() - t0:.1f} s")
        if rc != 0 or not os.path.exists(out):
            raise RuntimeError(f"benchmark JVM exited {rc}:\n{tail(os.path.join(work, 'jvm.log'))}")
        with open(out) as fh:
            res = json.load(fh)
        failed = res["failed"]
        errors = list(res["errors"])
        if res.get("oracle"):
            for q, (ops, why) in check_oracle(res["oracle"]).items():
                failed += ops
                errors.append(f"{q}: {why}")
                log(f"oracle check failed for {q}: {why}")
        kind = "per_layer" if a.trace else "end_to_end"
        values = res[kind]
        metrics = {}
        for m in spec[kind]:
            if m["name"] not in values and kind == "end_to_end":
                raise RuntimeError(f"run produced no value for {m['name']}")
            v = float(values.get(m["name"], 0.0))
            if not math.isfinite(v):
                raise RuntimeError(f"run produced a non-finite {m['name']}")
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        attempted = res["attempted"]
        failed = min(failed, attempted)
        report = {
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "source_fingerprint": source_fingerprint()[:16], "git_commit": git_commit(),
            "wall_s": round(time.time() - started, 3),
            "errors": errors[:5],
            "inputs": res["inputs"], "details": res["details"],
            "end_to_end": res["end_to_end"], "provenance": res["provenance"],
        }
        os.makedirs(os.path.join(BUILD, "reports"), exist_ok=True)
        stem = os.path.join(BUILD, "reports", f"{a.workload}-s{a.seed}-t{a.trace}")
        with open(stem + ".json", "w") as fh:
            json.dump({"report": report, "per_layer": res["per_layer"]}, fh, indent=1)
        if a.trace and os.path.exists(os.path.join(work, "trace.json")):
            shutil.copyfile(os.path.join(work, "trace.json"), stem + ".trace.json")
        print(json.dumps({"report": report}, sort_keys=True))
        print(json.dumps({"correct": failed == 0 and attempted >= 1, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def selftest():
    """Harness self-tests: the Scala checks (percentiles, self time,
    generator determinism), the oracle comparison, and one small run of
    each workload with and without corrupted expectations."""
    cp = build(time.time() + 850)
    work = os.path.join(BUILD, "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        rc = run_jvm(cp, "perfbench.SelfTest", [work], work, time.time() + 300)
        print(tail(os.path.join(work, "jvm.log"), 20), end="")
        assert rc == 0, "Scala self-tests failed"
    finally:
        shutil.rmtree(work, ignore_errors=True)
    cols = ["lang", "n"]
    rows = [["de", 3], ["en", 5]]
    assert compare(cols, rows, ["n", "lang"], [(5, "en"), (3, "de")]) is None
    assert compare(cols, rows, cols, corrupt_rows(rows)) is not None
    assert compare(cols, rows, cols, rows[:1]) is not None
    print("oracle comparison: ok")
    me = os.path.abspath(__file__)
    for w in ("lidar_roundtrip", "copc_window", "text_curation"):
        for corrupt in (False, True):
            cmd = [sys.executable, me, "--workload", w, "--seed", "7", "--seconds", "1",
                   "--trace", "0", "--scale", "0.05"]
            if corrupt:
                cmd.append("--corrupt")
            res = json.loads(subprocess.run(cmd, check=True, capture_output=True, text=True,
                                            timeout=300).stdout.strip().splitlines()[-1])
            if corrupt:
                assert res["failed"] == res["attempted"] and not res["correct"], (w, res)
            else:
                assert res["failed"] == 0 and res["correct"], (w, res)
            print(f"{w} corrupt={corrupt}: attempted {res['attempted']}, "
                  f"failed {res['failed']}: ok")
    print("selftest: all passed")


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, help="input size factor (development only)")
    p.add_argument("--corrupt", action="store_true",
                   help="perturb every expected answer; every op must then fail")
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    try:
        if a.selftest:
            selftest()
            return 0
        if a.workload is None or a.seed is None or a.seconds is None:
            p.error("--workload, --seed and --seconds are required")
        run(a)
        return 0
    except Exception as e:  # noqa: BLE001 - any failure means no result line
        log(f"error: {e}")
        return 1


if __name__ == "__main__":
    sys.exit(main())
