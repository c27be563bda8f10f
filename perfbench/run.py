#!/usr/bin/env python3
"""Benchmark runner for the Spark engine in the enclosing repository.

Usage (from the repository root):

    python3 perfbench/run.py --workload <interactive|curation> \
        --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the engine and the harness with sbt
(offline) and, for the curation workload, the GenScale corpus; later runs
reuse both while their sources are unchanged. Each run starts one JVM with
a fresh warehouse, checkpoint and local dir under perfbench/.work/, which
is removed afterwards. Full records go to perfbench/results/; the last
stdout line is the JSON result.
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
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = BENCH / ".build"
CACHE = BENCH / ".cache"
INPUT = BENCH / "data" / "sf0.01"
# Rows per table of the committed input; GenScale multiplies them.
BASE_ROWS = {"documents": 500, "embeddings": 500}
# GenScale copies of the committed input that form the `documents` +
# `embeddings` corpus of the curation workload.
CORPUS_COPIES = 4
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 700
HEAP = "3g"

ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED"
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar")
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_bounded(cmd, cwd, env, limit_s, out_path):
    """Run cmd in its own process group with output to out_path; kill the
    whole group and wait for it if it outlives limit_s. Returns the exit
    code, or None on timeout."""
    with open(out_path, "wb") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, limit_s))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def source_stamp():
    """Digest of everything the build reads from the checkout."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        if p.exists():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(deadline):
    """Compile engine + harness; return the runtime classpath."""
    BUILD.mkdir(exist_ok=True)
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath", BUILD / "stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    log("building engine and harness with sbt")
    out = BUILD / "sbt.log"
    code = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export perfbench/Runtime/fullClasspath"],
                       BENCH, sbt_env(), deadline - time.time(), out)
    lines = out.read_text(errors="replace").splitlines()
    if code != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"sbt build failed (exit {code})")
    cps = [l.strip() for l in lines if "perfbench" in l and ":" in l and ".jar" in l
           and not l.startswith("[")]
    if not cps:
        fail("sbt printed no classpath")
    cp_file.write_text(cps[-1])
    stamp_file.write_text(stamp)
    return cps[-1]


def java_cmd(cp, main, args, tmp):
    return (["java", *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
             "-cp", cp, main] + [str(a) for a in args])


def corpus(cp, deadline):
    """GenScale's `documents` + `embeddings` corpus: CORPUS_COPIES copies of
    the committed input, built once per checkout and checked by row
    counts. Not part of any run's set-up time."""
    dst = CACHE / f"corpus-x{CORPUS_COPIES}"
    ok = dst / "ROWS_OK"
    want = {t: n * CORPUS_COPIES for t, n in BASE_ROWS.items()}
    if ok.exists() and json.loads(ok.read_text()) == want:
        return dst
    shutil.rmtree(dst, ignore_errors=True)
    scratch = CACHE / "genscale-work"
    shutil.rmtree(scratch, ignore_errors=True)
    (scratch / "tmp").mkdir(parents=True)
    log(f"building the GenScale corpus ({CORPUS_COPIES} copies)")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()))
    cmd = java_cmd(cp, "graft.GenScale",
                   [INPUT, dst, CORPUS_COPIES, ",".join(BASE_ROWS)], scratch / "tmp")
    cmd.insert(1, f"-Dspark.local.dir={scratch / 'tmp'}")
    out = scratch / "genscale.log"
    code = run_bounded(cmd, scratch, env, deadline - time.time(), out)
    text = out.read_text(errors="replace")
    got = {}
    for line in text.splitlines():
        if line.startswith("[genscale] ") and line.endswith(" rows"):
            t, n = line[len("[genscale] "):-len(" rows")].split(": ")
            got[t] = int(n)
    if code != 0 or got != want:
        sys.stderr.write(text[-4000:])
        fail(f"GenScale corpus check failed: got {got}, want {want}")
    shutil.rmtree(scratch, ignore_errors=True)
    ok.write_text(json.dumps(want))
    return dst


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "--short=12", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 and r.stdout.strip() else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def metric_names(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def measure(cp, args, corpus_dir, limit_s, mode="measure", dump=None):
    work = BENCH / ".work" / f"{os.getpid()}-{time.time_ns()}"
    (work / "tmp").mkdir(parents=True)
    out = work / "results.json"
    jargs = ["--workload", args.workload, "--seed", args.seed, "--seconds", args.seconds,
             "--trace", args.trace, "--input", INPUT, "--corpus", corpus_dir or INPUT,
             "--work", work, "--out", out, "--cores", cores(), "--mode", mode,
             "--references", BENCH / "references" / f"{args.workload}.tsv",
             "--launched-ms", int(time.time() * 1000)]
    if dump:
        jargs += ["--dump", dump]
    cmd = java_cmd(cp, "perfbench.Main", jargs, work / "tmp")
    try:
        code = run_bounded(cmd, work, dict(os.environ), limit_s, work / "jvm.log")
        if code != 0 or not out.exists():
            tail = (work / "jvm.log").read_text(errors="replace")[-6000:]
            sys.stderr.write(tail)
            fail("benchmark JVM timed out" if code is None else f"benchmark JVM exit {code}", 3)
        return json.loads(out.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    t_start = time.time()
    # A terminated runner still stops its JVM (see run_bounded).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload not in ("interactive", "curation"):
        fail(f"unknown workload {args.workload}")
    for need in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala", INPUT / "lineitem.parquet"):
        if not need.exists():
            fail(f"missing {need.relative_to(ROOT)}: run from a full checkout of the repository")

    cp = build(t_start + BUILD_LIMIT_S)
    corpus_dir = corpus(cp, t_start + BUILD_LIMIT_S) if args.workload != "interactive" else None
    res = measure(cp, args, corpus_dir, RUN_LIMIT_S)

    names = metric_names(args.trace)
    src = res["per_layer" if args.trace else "end_to_end"]
    missing = [n for n, _ in names if n not in src]
    if missing:
        fail(f"results lack metrics {missing}", 4)
    metrics = {n: {"value": src[n]["value"], "unit": u} for n, u in names}

    results_dir = BENCH / "results"
    results_dir.mkdir(exist_ok=True)
    res["commit"] = commit()
    path = results_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    path.write_text(json.dumps(res, indent=1))

    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "samples": res["samples"],
        "passes": len(res["passes"]), "failed_frac": res["failed_frac"],
        "commit": res["commit"], "results": str(path.relative_to(ROOT)),
    }
    if not args.trace:
        summary["metrics"] = {n: [round(m["value"], 4), m["unit"]] for n, m in metrics.items()}
    print(json.dumps(summary, separators=(",", ":")))
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics},
                     separators=(",", ":")))


if __name__ == "__main__":
    main()
