#!/usr/bin/env python3
"""Record a workload's reference digests into perfbench/references/.

Usage (from the repository root):

    python3 perfbench/record.py --workload <interactive|curation>

Runs one pass of the workload in its fixed order, writes every output as
parquet, and checks each with tools/check_oracle.py (the DuckDB oracle) on
the same input. A digest whose oracle check passes is labelled
`oracle-pass`. Queries with no oracle SQL are checked by row count only
(`rows-only`). On the GenScale corpus an output whose oracle cannot pass
(a store's state, or a mirror that does not apply) keeps the digest the
recording commit produced, labelled `recorded-at-<commit>`. On the
committed sf0.01 input an output that fails its oracle gets no reference,
so every run counts it as failed.
"""
import argparse
import json
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

import run


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--oracle-timeout", type=float, default=600)
    args = ap.parse_args()
    cp = run.build(time.time() + run.BUILD_LIMIT_S)
    corpus_dir = None if args.workload == "interactive" else run.corpus(
        cp, time.time() + run.BUILD_LIMIT_S)
    data_dir = corpus_dir or run.INPUT
    dump = run.BENCH / ".work" / f"dump-{args.workload}"
    shutil.rmtree(dump, ignore_errors=True)
    margs = argparse.Namespace(workload=args.workload, seed=0, seconds=0, trace=0)
    res = run.measure(cp, margs, corpus_dir, 1800, mode="record", dump=dump)

    oracle = subprocess.run(
        [sys.executable, str(run.ROOT / "tools" / "check_oracle.py"), str(dump), str(data_dir),
         str(args.oracle_timeout)],
        capture_output=True, text=True)
    status = {}
    for line in oracle.stdout.splitlines():
        m = re.match(r"(PASS|FAIL|SKIP|ERR|MISS|TIMEOUT)\s+([^\s:]+)", line)
        if m:
            status[m.group(2)] = m.group(1)
    print(oracle.stdout[-3000:])
    shutil.rmtree(dump, ignore_errors=True)

    commit = run.commit()
    (run.BENCH / "results").mkdir(exist_ok=True)
    (run.BENCH / "results" / f"record-{args.workload}.json").write_text(json.dumps(res, indent=1))
    rows = []
    for c in res["calls"]:
        name, digest = c["name"], c["digest"]
        if c["verdict"] != "ok" or digest is None:
            print(f"no reference for {name}: {c['verdict']} {c['error']}", file=sys.stderr)
            continue
        # a repeated call (`name#2`) has no oracle of its own
        st = status.get(name) if "#" not in name else None
        if st == "PASS":
            rows.append((name, "digest", digest, "oracle-pass"))
        elif st == "SKIP":
            rows.append((name, "rows", digest.split(":")[0], "rows-only"))
        elif corpus_dir is not None:
            rows.append((name, "digest", digest, f"recorded-at-{commit}"))
        else:
            print(f"no reference for {name}: oracle {st}", file=sys.stderr)
    out = run.BENCH / "references" / f"{args.workload}.tsv"
    header = [
        f"# Reference digests for the {args.workload} workload, recorded by",
        "# perfbench/record.py at commit " + commit + f" on {data_dir.relative_to(run.ROOT)}.",
        "# Digest: `rows:hash_sum` (see perfbench Digest). Provenance column:",
        "#   oracle-pass   tools/check_oracle.py matched the output against DuckDB",
        "#   rows-only     no oracle SQL exists; only the row count is checked",
        "#   recorded-at-* the engine's own output at that commit (no oracle check)",
        "# name\tcheck\texpected\tprovenance",
    ]
    out.write_text("\n".join(header + ["\t".join(r) for r in rows]) + "\n")
    print(f"wrote {len(rows)} references to {out.relative_to(run.ROOT)}")


if __name__ == "__main__":
    main()
