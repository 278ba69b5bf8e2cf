"""Compute the oracle answers the benchmark checks against, once, offline.

Each registry query's DuckDB oracle runs over the benchmark's own copy of the
tables, and its result is reduced to the row count, the sorted column names and
the canonical value hash of `tools/selfcheck.py`. The answers are written to
`perfbench/oracles/<name>.json`, so timed runs never wait on DuckDB (the
`dedup_minhash_lsh` oracle alone takes minutes at sf0.1).

It also draws the `registry_mix` sample: the registry is split into
`N_STRATA` cost strata by the per-query walls of a `tools/selfcheck.py` JSON
result at sf0.001, and one query is drawn from each with `SAMPLE_SEED`.
Queries slower than `POOL_CAP_S` are left out: one of them would take most
of a run.

Usage, from the repository root:
    python3 perfbench/make_oracles.py registry   # every query, sf0.001
    python3 perfbench/make_oracles.py headline   # bench.py headline, sf0.1
    python3 perfbench/make_oracles.py strata <selfcheck.json>
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

POOL_CAP_S = 1.5
N_STRATA = 16
SAMPLE_SEED = 0

SETS = {
    "registry": "sf0.001",
    "headline": "sf0.1",
}


def strata(selfcheck_json: str) -> int:
    with open(selfcheck_json, encoding="utf-8") as fh:
        walls = {k: v["wall_sec"] for k, v in json.load(fh)["queries"].items()}
    pool = sorted((w, k) for k, w in walls.items() if w <= POOL_CAP_S)
    n = len(pool)
    groups = [
        sorted(k for _, k in pool[i * n // N_STRATA : (i + 1) * n // N_STRATA])
        for i in range(N_STRATA)
    ]
    rng = random.Random(SAMPLE_SEED)
    sample = [rng.choice(g) for g in groups]
    out = {
        "source": os.path.basename(selfcheck_json),
        "pool_cap_s": POOL_CAP_S,
        "pool": n,
        "sample_seed": SAMPLE_SEED,
        "sample": sample,
        "left_out": sorted(k for k, w in walls.items() if w > POOL_CAP_S),
        "strata": groups,
    }
    with open(os.path.join(HERE, "oracles", "registry_strata.json"), "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    print(f"{n} queries in {N_STRATA} strata, {len(out['left_out'])} left out")
    return 0


def main(which: str) -> int:
    import duckdb

    import hpmr_spark.all_queries  # noqa: F401 - populates the registry
    from hpmr_spark.catalog import ORACLES, QUERIES
    from hpmr_spark.sources.tables import TABLES
    from tools.selfcheck import canon

    sf = SETS[which]
    data = os.path.join(HERE, "data", sf)
    if which == "headline":
        from bench import BENCH_QUERIES

        names = list(BENCH_QUERIES)
    else:
        names = sorted(QUERIES)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        path = os.path.join(data, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    out: dict[str, dict] = {}
    for name in names:
        t0 = time.time()
        try:
            odf = con.execute(ORACLES[name]).df()
        except Exception as e:  # recorded, and the query then fails its check
            out[name] = {"error": str(e)[:200]}
            print(f"ERR  {name}: {e}", flush=True)
            continue
        out[name] = {
            "rows": len(odf),
            "cols": sorted(odf.columns),
            "hash": canon(odf),
        }
        print(f"ok   {name}: rows={len(odf)} [{time.time() - t0:.1f}s]", flush=True)
    with open(os.path.join(HERE, "oracles", f"{which}_{sf}.json"), "w") as fh:
        json.dump({"sf": sf, "source": "duckdb", "queries": out}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "strata":
        sys.exit(strata(sys.argv[2]))
    if len(sys.argv) != 2 or sys.argv[1] not in SETS:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    sys.exit(main(sys.argv[1]))
