"""Run registry queries through the exact driver gate (check_query at
sf0.01) and write incremental JSON results — the pre-commit window
verification harness (and the full-registry replica of the driver's
CORRECTNESS artifact)."""
from __future__ import annotations

import json
import sys
import time
import traceback
from pathlib import Path


def main() -> int:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="/tmp/gate_results.json")
    ap.add_argument("--first", type=int, default=None,
                    help="only the first N registry entries (driver window)")
    ap.add_argument("--names", nargs="*", default=None)
    args = ap.parse_args()

    # gate the checkout this script lives in, not whatever is on sys.path
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as entrymod
    from lab3_lakehouse_spark.session import build_session
    from lab3_lakehouse_spark.testing import check_query

    q = entrymod.queries()
    o = entrymod.oracle_sql()
    names = list(q)
    if args.names:
        names = args.names
    elif args.first:
        names = names[: args.first]
    spark = build_session()
    results: dict[str, dict] = {}
    n_fail = 0
    for i, name in enumerate(names):
        t0 = time.time()
        try:
            rows = check_query(spark, args.sf_dir, q[name], o[name], name)
            results[name] = {"match": True, "rows": rows,
                             "sec": round(time.time() - t0, 2)}
            print(f"[{i+1}/{len(names)}] {name} OK rows={rows}", flush=True)
        except Exception as exc:  # noqa: BLE001
            n_fail += 1
            results[name] = {"match": False, "error": str(exc)[:500],
                             "sec": round(time.time() - t0, 2)}
            print(f"[{i+1}/{len(names)}] {name} FAIL: {exc}", flush=True)
            traceback.print_exc()
        with open(args.out, "w") as f:
            json.dump(results, f, indent=1)
    print(f"done: {len(names) - n_fail}/{len(names)} green", flush=True)
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
