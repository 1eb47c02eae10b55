#!/usr/bin/env python3
"""Run one benchmark workload against the graft checkout this file sits in.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of the checkout. The first run builds the library
and the benchmark program with sbt (outputs under target/ and
.bench_build/). Each run then starts one JVM with its own scratch,
index and working directories under .bench_build/runs/, checks the
outputs untimed, keeps the raw artifact under .bench_build/artifacts/,
prints every metric by name with its unit, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}.

--trace 0 reports the end-to-end metrics; --trace 1 adds the span
ledger and reports the per-layer metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

BUILD_TIMEOUT_S = 700
JVM_TIMEOUT_S = 165
# The JVM heap; the program's own build sets -Xms = -Xmx from this.
HEAP = "2g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest(root):
    """sha256 over every file the build reads, so a changed source
    rebuilds and the artifact names the exact code it measured."""
    files = []
    for pat in ("build.sbt", "project/*.properties", "project/*.sbt",
                "src/main/**/*", "perfbench/build.sbt", "perfbench/project/*.properties",
                "perfbench/src/**/*"):
        files += [f for f in glob.glob(os.path.join(root, pat), recursive=True)
                  if os.path.isfile(f)]
    h = hashlib.sha256()
    for f in sorted(set(files)):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the group and
    wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(root, work):
    """Compile graft and the benchmark once per source digest; returns
    (classpath, jvm options)."""
    digest = source_digest(root)
    stamp = os.path.join(work, "build.json")
    launch = os.path.join(HERE, "target", "launch.txt")
    if os.path.exists(stamp) and os.path.exists(launch):
        with open(stamp) as f:
            if json.load(f).get("digest") == digest:
                return read_launch(launch), digest
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    env = dict(os.environ, SPARK_DRIVER_MEM=HEAP)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(work, "build.log")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "-batch", "-Dsbt.server.autostart=false", "launchFile"],
                         BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=out,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"build failed ({'timeout' if rc is None else f'exit {rc}'}); log: {log}")
    with open(stamp, "w") as f:
        json.dump({"digest": digest}, f)
    return read_launch(launch), digest


def read_launch(path):
    with open(path) as f:
        lines = [l.rstrip("\n") for l in f if l.strip()]
    return lines[0], lines[1:]


def git_state(root):
    """(rev, dirty) when root is itself a git work tree, else (None, None)."""
    def git(*args):
        return subprocess.run(["git", *args], cwd=root, capture_output=True, text=True,
                              timeout=10)
    try:
        top = git("rev-parse", "--show-toplevel")
        if top.returncode != 0 or os.path.realpath(top.stdout.strip()) != os.path.realpath(root):
            return None, None
        rev = git("rev-parse", "HEAD")
        if rev.returncode != 0:
            return None, None
        dirty = git("status", "--porcelain", "--untracked-files=no")
        return rev.stdout.strip(), bool(dirty.stdout.strip())
    except (OSError, subprocess.SubprocessError):
        return None, None


def data_identity(sf_dir):
    out = {}
    for f in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        with open(f, "rb") as fh:
            out[os.path.basename(f)] = hashlib.sha256(fh.read()).hexdigest()[:16]
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    # a stopped benchmark still stops its JVM and removes its run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout (no build.sbt / src/main/scala/graft here)")
    known = metrics.WORKLOADS
    if a.workload not in known:
        fail(f"unknown workload {a.workload!r}; expected one of {sorted(known)}")

    work = os.path.join(root, ".bench_build")
    os.makedirs(work, exist_ok=True)
    (classpath, jvm_opts), digest = build(root, work)

    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    run_dir = os.path.join(work, "runs", run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("index", "io", "tmp"):
        os.makedirs(os.path.join(run_dir, d))
    env = dict(os.environ,
               GRAFT_INDEX_DIR=os.path.join(run_dir, "index"),
               GRAFT_IO_DIR=os.path.join(run_dir, "io"),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    env.pop("SPARK_GRAFT_LOCAL_DIR", None)
    cmd = (["java"] + jvm_opts + [f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
                                  "-cp", classpath, "graftbench.Main",
                                  "--workload", a.workload, "--seed", str(a.seed),
                                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                                  "--data", os.path.join(HERE, "data"),
                                  "--out", run_dir, "--repo", root])
    try:
        with open(os.path.join(run_dir, "jvm.out"), "w") as out, \
                open(os.path.join(run_dir, "jvm.err"), "w") as err:
            rc = run_bounded(cmd, JVM_TIMEOUT_S, cwd=run_dir, env=env, stdout=out,
                             stderr=err, stdin=subprocess.DEVNULL)
        if rc != 0:
            with open(os.path.join(run_dir, "jvm.err")) as f:
                tail = [l for l in f.readlines() if "WARN" not in l][-30:]
            sys.stderr.write("".join(tail))
            fail(f"benchmark JVM stopped after {JVM_TIMEOUT_S}s" if rc is None
                 else f"benchmark JVM exited {rc}")
        with open(os.path.join(run_dir, "run.json")) as f:
            art = json.load(f)
        rev, dirty = git_state(root)
        art["provenance"].update({
            "git_rev": rev, "git_dirty": dirty, "source_sha256": digest,
            "data_files": data_identity(art["provenance"]["data_dir"]),
            "heap": HEAP})
        failures = metrics.check_outputs(art, run_dir, os.path.join(HERE, "expected"), root)
        violations = metrics.layer_sum_failures(art)
        try:
            result = metrics.result(art, failures, violations)
        except ValueError as e:
            fail(f"metrics: {e}")
        keep = os.path.join(work, "artifacts")
        os.makedirs(keep, exist_ok=True)
        art["result"] = result
        art["failures"] = failures
        art["layer_sum_failures"] = violations
        with open(os.path.join(keep, run_id + ".json"), "w") as f:
            json.dump(art, f)
        if a.trace:
            shutil.copy(os.path.join(run_dir, "spans.json"),
                        os.path.join(keep, run_id + ".spans.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for name, failure in sorted(failures.items()):
        print(f"FAILED {name}: {failure}")
    for name, reason in sorted(violations.items()):
        print(f"FAILED layer-sum {name}: {reason}")
    for name, m in result["metrics"].items():
        n = m.get("n")
        print(f"{name} {m['value']:.6g} {m['unit']}" + (f" (n={n})" if n else ""))
    out = dict(result, metrics={k: {"value": m["value"], "unit": m["unit"]}
                                for k, m in result["metrics"].items()})
    print(json.dumps(out))


if __name__ == "__main__":
    main()
