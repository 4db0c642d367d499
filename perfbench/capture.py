"""Capture the golden output digests that the benchmark checks against.

    python3 perfbench/capture.py run --scale sf0.01 --seed 1 --out /tmp/cap1.json
    python3 perfbench/capture.py run --scale sf0.01 --seed 2 --out /tmp/cap2.json --digest-only
    python3 perfbench/capture.py merge /tmp/cap1.json /tmp/cap2.json

``run`` executes every registered query (in the seed's order) on the
benchmark's tables at one scale and records its digest only after the
output passes the oracle compare of ``tools/check_oracle.py``. A query
whose value-pinned oracle is for another scale has no oracle there; its
digest is recorded from this run's output and marked ``seed-output``.
A query that fails its oracle gets no golden digest, so the benchmark
counts it as failed.

``--digest-only`` skips the oracle compare: a second run only has to
show whether each digest repeats.

``merge`` folds two or more ``run`` files of one scale into
``golden.json`` and marks every query whose digest did not repeat
across them (``"repeats": false``); such a query is reported, not
dropped.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(ROOT, "tools"))


def run(scale: str, seed: int, out: str, digest_only: bool) -> int:
    import check_oracle as CO  # the repo's oracle gate: compare() and duck_con()

    from digest import digest
    from synthetic_datagen_spark.operators import REGISTRY
    from synthetic_datagen_spark.session import get_spark

    sf_dir = os.path.join(HERE, "data", scale)
    spark = get_spark("perfbench-capture")
    spark.sparkContext.setLogLevel("ERROR")
    con = CO.duck_con(sf_dir)
    names = sorted(REGISTRY)
    random.Random(seed).shuffle(names)
    res: dict[str, dict] = {}
    for name in names:
        spec = REGISTRY[name]
        pinned_elsewhere = spec.pinned_sf is not None and scale != "sf" + spec.pinned_sf
        kind = ("seed-output" if spec.oracle is None or pinned_elsewhere
                else "pinned" if spec.pinned_sf else "sql")
        try:
            df = spec.build(spark, sf_dir)
            if kind != "seed-output" and not digest_only:
                errs = CO.compare(name, df.toPandas(), con.execute(spec.oracle).df())
                if errs:
                    res[name] = {"oracle": kind, "error": errs[0]}
                    print(f"[FAIL] {name}: {errs[0]}", flush=True)
                    continue
            res[name] = {"oracle": kind, "digest": digest(df)}
        except Exception as e:  # noqa: BLE001 — recorded, never golden
            res[name] = {"oracle": kind, "error": f"{type(e).__name__}: {e}"[:500]}
            print(f"[FAIL] {name}: {e}", flush=True)
            continue
        spark.catalog.clearCache()
        print(f"[ok] {name} ({kind})", flush=True)
    with open(out, "w") as fh:
        json.dump({"scale": scale, "seed": seed, "queries": res}, fh, indent=1, sort_keys=True)
    return 0


def merge(paths: list[str]) -> int:
    runs = []
    for p in paths:
        with open(p) as fh:
            runs.append(json.load(fh))
    scales = {r["scale"] for r in runs}
    if len(scales) != 1:
        raise SystemExit(f"runs of different scales: {sorted(scales)}")
    (scale,) = scales
    golden_path = os.path.join(HERE, "golden.json")
    with open(golden_path) as fh:
        golden = json.load(fh)
    entries = {}
    for q in sorted(runs[0]["queries"]):
        seen = [r["queries"].get(q, {}) for r in runs]
        first = seen[0]
        if "digest" not in first:
            print(f"no golden for {q}: {first.get('error')}")
            continue
        digests = {s.get("digest") for s in seen}
        entries[q] = {
            "digest": first["digest"],
            "oracle": first["oracle"],
            "repeats": len(digests) == 1,
        }
        if len(digests) != 1:
            print(f"digest of {q} does not repeat across seeds {[r['seed'] for r in runs]}")
    golden[scale] = entries
    with open(golden_path, "w") as fh:
        json.dump(golden, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"{scale}: {len(entries)} golden digests from seeds {[r['seed'] for r in runs]}")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--scale", required=True)
    r.add_argument("--seed", type=int, required=True)
    r.add_argument("--out", required=True)
    r.add_argument("--digest-only", action="store_true")
    m = sub.add_parser("merge")
    m.add_argument("paths", nargs="+")
    args = ap.parse_args()
    if args.cmd == "run":
        return run(args.scale, args.seed, args.out, args.digest_only)
    return merge(args.paths)


if __name__ == "__main__":
    raise SystemExit(main())
