"""Per-key py4j round-trip counts and call sites for registry query
CONSTRUCTION.

The r13-opt round found that building a DataFrame costs one py4j
gateway round-trip per Column/functions call (~0.05-0.5 ms each under
host load), so literal-heavy constructors cost real driver seconds
before Spark ever runs. This tool measures that cost per registry key
by monkeypatching the single choke point every gateway message goes
through (``ClientServerConnection.send_command``) and constructing
each key's DataFrame twice: the FIRST pass warms fixture caches
(index builds, trained models — those run jobs and inflate counts),
the SECOND pass is the steady-state construction the bench and driver
pay per run, which is what gets recorded. Each second-pass round-trip
is also bucketed by the innermost ``coltt_spark`` frame on the stack
(file:line), so the output says where a key's calls come from.

Usage: python tools/count_py4j.py [out.json] [sf_dir]

``sf_dir`` defaults to ``$SPARK_GRAFT_SF_DIR``.

Output: {"key": {"calls": N, "sec": wall}} sorted by calls desc, plus
a "_total" entry; stdout lists every key's heaviest call sites.
Counts are steal-independent (they count messages, not time); `sec`
wanders with host load, includes the per-call stack walk, and is
advisory.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "coltt_spark") + os.sep
TOP_SITES = 5


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/py4j_counts.json"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        sys.exit("usage: count_py4j.py [out.json] [sf_dir] (or set SPARK_GRAFT_SF_DIR)")
    sys.path.insert(0, REPO)

    from py4j.clientserver import ClientServerConnection

    sites: Counter = Counter()
    state = {"on": False}
    orig = ClientServerConnection.send_command

    def patched(self, *a, **k):
        if state["on"]:
            site = "?"
            for fr in reversed(traceback.extract_stack()):
                if fr.filename.startswith(PKG):
                    site = f"{os.path.relpath(fr.filename, REPO)}:{fr.lineno}"
                    break
            sites[site] += 1
        return orig(self, *a, **k)

    ClientServerConnection.send_command = patched

    from coltt_spark import get_spark
    from coltt_spark.registry import QUERIES

    spark = get_spark(app_name="py4j_count", cpus=8, shuffle_partitions=8)

    # pass 1: warm every fixture/module cache (counts discarded)
    for name, fn in QUERIES.items():
        try:
            fn(spark, sf_dir)
        except Exception as exc:  # fault-isolated: record and move on
            print(f"warm {name}: {exc}", file=sys.stderr)

    results: dict[str, dict] = {}
    by_key: dict[str, Counter] = {}
    for name, fn in QUERIES.items():
        sites.clear()
        t0 = time.time()
        state["on"] = True
        try:
            fn(spark, sf_dir)
        except Exception as exc:
            results[name] = {"calls": -1, "sec": 0.0, "err": str(exc)[:200]}
            continue
        finally:
            state["on"] = False
        results[name] = {
            "calls": sum(sites.values()),
            "sec": round(time.time() - t0, 4),
        }
        by_key[name] = Counter(sites)
    results = dict(
        sorted(results.items(), key=lambda kv: -kv[1]["calls"])
    )
    results["_total"] = {
        "calls": sum(v["calls"] for v in results.values() if v["calls"] > 0),
        "sec": round(sum(v["sec"] for v in results.values()), 2),
    }
    with open(out_path, "w") as fh:
        json.dump(results, fh, indent=1)
    for name, v in results.items():
        print(f"== {name}: {v}")
        for site, n in by_key.get(name, Counter()).most_common(TOP_SITES):
            print(f"{n:8d}  {site}")
    print("wrote", out_path)


if __name__ == "__main__":
    main()
