"""Drive the query registry: oracle checks, the timezone probe, named-query
timing, and the round gate's artifacts.

  python scripts/drive.py driver SF_DIR     # driver set vs DuckDB oracles
  python scripts/drive.py extras SF_DIR     # every oracled extra
  TZ=America/New_York python scripts/drive.py tz SF_DIR
                                            # TZ_PROBE under a non-UTC JVM
  python scripts/drive.py time q1,q2 SF_DIR # bench.py's rep protocol
  python scripts/drive.py clean             # exit 1 on uncommitted source
  ROUND=<n> python scripts/drive.py record BENCH|GATE
  python scripts/drive.py check ARTIFACT... # validate gate artifacts

SF_DIR is a fixture directory (TESTDATA.md); the driver checks
correctness at sf0.01. The oracle drives run in a default-conf session:
the driver calls the registry with its own session, not the engine's
``get_session``. Each prints one line per query and exits 1 on any
failure. With ROUND set, ``driver`` and ``extras`` also write
FULLDRIVE_r<n>.json / SWEEP_r<n>.json, and refuse to start over
uncommitted source, whose head the record would misstate.
"""
from __future__ import annotations

import glob
import json
import numbers
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
import bench  # noqa: E402
from scala_data_pipeline_spark.queries import (  # noqa: E402
    all_oracles,
    all_queries,
    extra_oracles,
    extra_queries,
)
from tests.oracle_harness import compare, duckdb_run  # noqa: E402

# The source a recorded head describes: a later commit touching any of
# these makes GATE, FULLDRIVE and SWEEP records stale.
SOURCE = (
    "scala_data_pipeline_spark",
    "tests",
    "scripts",
    "__spark_entry__.py",
    "bench.py",
    "pyproject.toml",
    "pytest.ini",
)

# Timestamp- and date-heavy queries (event-time windows, day grains,
# as-of joins, epoch parsing), looked up in the driver set and extras.
TZ_PROBE = [
    "cohort_ltv",
    "acf_daily_revenue",
    "windowed_revenue",
    "anomaly_daily_revenue",
    "attribution_last_touch",
    "curation_time_split",
    "scd2_customer_asof",
    "cusum_revenue_shift",
    "variant_extract_props",
    "flagship_datamart",
    "seasonal_decompose_revenue",
    "weighted_median_prices",
    "twap_user_value",
    "ewma_daily_revenue",
    "dow_seasonality",
    "yoy_revenue_growth",
    "conversion_latency",
]


def git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=ROOT, capture_output=True, text=True, check=True
    ).stdout.strip()


def require_clean() -> None:
    dirty = git("status", "--porcelain", "--", *SOURCE)
    if dirty:
        raise SystemExit(
            "uncommitted source changes; a recorded head would not describe"
            f" this tree — commit them first:\n{dirty}"
        )


def record(kind: str, body: dict) -> None:
    """Write <kind>_r<ROUND>.json at the repo root, stamped with the
    round and HEAD."""
    n = int(os.environ["ROUND"])
    path = os.path.join(ROOT, f"{kind}_r{n:02d}.json")
    with open(path, "w") as f:
        json.dump({"n": n, "head": git("rev-parse", "HEAD"), **body}, f, indent=4)
        f.write("\n")
    print(f"wrote {os.path.basename(path)}")


def session(zone: str | None = None) -> SparkSession:
    """A default-conf local session, like the one the driver passes in;
    ``zone`` also sets the driver and executor JVM default timezone."""
    builder = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if zone:
        for side in ("driver", "executor"):
            builder = builder.config(
                f"spark.{side}.extraJavaOptions", f"-Duser.timezone={zone}"
            )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def drive(spark, names, queries: dict, oracles: dict, sf: str) -> dict:
    """Compare each named query with its DuckDB oracle (hash-exact, as
    the driver does), or count its rows when it has none. Returns the
    artifact body; a query that raises or mismatches is one of its
    ``fails``."""
    t0 = time.monotonic()
    results: dict[str, dict] = {}
    for name in names:
        try:
            if name in oracles:
                compare(
                    queries[name](spark, sf), duckdb_run(oracles[name], sf), name
                )
                results[name] = {"exact": True}
            else:
                results[name] = {"rows_only": queries[name](spark, sf).count()}
            print("OK", name, flush=True)
        except Exception as ex:  # noqa: BLE001 — the drive must finish
            results[name] = {"err": str(ex)[:300]}
            print(f"FAIL {name}: {results[name]['err']}", flush=True)
    return {
        "sf_dir": sf,
        "queries": len(results),
        "exact": sum("exact" in r for r in results.values()),
        "rows_only": sum("rows_only" in r for r in results.values()),
        "fails": sum("err" in r for r in results.values()),
        "wall_sec": round(time.monotonic() - t0, 1),
        "results": results,
    }


def finish(kind: str | None, body: dict) -> None:
    """Print the summary, record ``kind`` when ROUND is set, and exit 1
    on any failure."""
    print(
        f"{body['exact']} exact + {body['rows_only']} rows-only of "
        f"{body['queries']} at {body['sf_dir']} in {body['wall_sec']}s, "
        f"{body['fails']} failures"
    )
    if kind and "ROUND" in os.environ:
        record(kind, body)
    raise SystemExit(1 if body["fails"] else 0)


def problems(path: str, current: bool = True) -> list[str]:
    """What is wrong with a gate artifact; its kind is its name's prefix.

    Every BENCH record must hold a parsed bench result with a numeric
    total and numeric timings. A ``current`` (this round's) record must
    also cover the live registry: BENCH times every driver query;
    FULLDRIVE and SWEEP drive every driver query /
    oracled extra with no failures; and GATE, FULLDRIVE and SWEEP record
    a head that contains the last source commit.
    """
    name = os.path.basename(path)
    kind = name.split("_r")[0]
    try:
        with open(path) as f:
            rec = json.load(f)
    except (OSError, ValueError) as ex:
        return [f"{name}: unreadable ({ex})"]
    if kind == "BENCH":
        parsed = rec.get("parsed")
        if not isinstance(parsed, dict):
            return [f"{name}: parsed is null — restore it from git history"]
        timings = parsed.get("queries", {})
        out = []
        if not isinstance(parsed.get("value"), numbers.Number):
            out.append(f"{name}: headline total missing or not a number")
        if not all(isinstance(v, numbers.Number) for v in timings.values()):
            out.append(f"{name}: a query timing is not a number")
        expected = set(all_queries())
        if current and set(timings) != expected:
            out.append(
                f"{name}: missing timings {sorted(expected - set(timings))},"
                f" unknown timings {sorted(set(timings) - expected)}"
            )
        return out
    out = []
    head = rec.get("head")
    last = git("log", "-1", "--format=%H", "--", *SOURCE)
    if not head:
        out.append(f"{name}: records no head sha")
    elif subprocess.run(
        ["git", "merge-base", "--is-ancestor", last, head],
        cwd=ROOT, capture_output=True,
    ).returncode:
        out.append(
            f"{name}: records head {head}, which lacks the last source commit {last}"
        )
    if kind in ("FULLDRIVE", "SWEEP"):
        expected = set(all_queries() if kind == "FULLDRIVE" else extra_oracles())
        missing = expected - set(rec.get("results", {}))
        if rec.get("fails") != 0:
            out.append(f"{name}: records {rec.get('fails')} failures")
        if missing:
            out.append(f"{name}: registry names not driven: {sorted(missing)}")
        if rec.get("exact", 0) + rec.get("rows_only", 0) != rec.get("queries"):
            out.append(f"{name}: incomplete drive")
    return out


def check(paths: list[str]) -> None:
    """Validate this round's artifacts, and every other BENCH_r*.json at
    the repo root as a record of an earlier round."""
    named = {os.path.abspath(p) for p in paths}
    series = sorted(set(glob.glob(os.path.join(ROOT, "BENCH_r*.json"))) - named)
    found = [m for p in paths for m in problems(p)]
    found += [m for p in series for m in problems(p, current=False)]
    for m in found:
        print(m, file=sys.stderr)
    if found:
        raise SystemExit(
            "gate artifacts rejected; delete a stale one and re-run the full gate"
        )
    print(f"{len(paths)} gate artifacts and {len(series)} earlier BENCH records OK")


def main(argv: list[str]) -> None:
    cmd, args = (argv[0], argv[1:]) if argv else ("", [])
    if cmd == "clean" or (
        cmd in ("driver", "extras", "record") and "ROUND" in os.environ
    ):
        require_clean()
    sf = args[-1] if args else ""  # the drives and `time` take SF_DIR last
    if cmd == "driver" and len(args) == 1:
        qs = entry.queries()
        finish("FULLDRIVE", drive(session(), sorted(qs), qs, entry.oracle_sql(), sf))
    elif cmd == "extras" and len(args) == 1:
        oracles = extra_oracles()
        finish("SWEEP", drive(session(), sorted(oracles), extra_queries(), oracles, sf))
    elif cmd == "tz" and len(args) == 1:
        zone = os.environ.get("TZ") or "America/New_York"
        print(f"timezone probe under {zone}")
        queries = {**extra_queries(), **all_queries()}
        oracles = {**extra_oracles(), **all_oracles()}
        finish(None, drive(session(zone), TZ_PROBE, queries, oracles, sf))
    elif cmd == "time" and len(args) == 2:
        names = [n for n in args[0].split(",") if n]
        queries = {**extra_queries(), **all_queries()}
        unknown = [n for n in names if n not in queries]
        if unknown:
            raise SystemExit(f"unknown queries: {unknown}")
        runs, _, _ = bench.run(names, queries, sf)
        mins = {n: min(r) for n, r in runs.items()}
        print(json.dumps({"queries": mins, "runs": runs}))
    elif cmd == "record" and args == ["BENCH"]:
        with open(bench.out_path()) as f:
            parsed = json.load(f)
        body = {"rc": 0, "cpus": parsed["cpus"], "sf": parsed.get("sf")}
        record("BENCH", {**body, "parsed": parsed})
    elif cmd == "record" and args == ["GATE"]:
        n = int(os.environ["ROUND"])
        record("GATE", {"suite": "green", "bench_artifact": f"BENCH_r{n:02d}.json"})
    elif cmd == "check" and args:
        check(args)
    elif cmd != "clean":
        raise SystemExit(__doc__)


if __name__ == "__main__":
    main(sys.argv[1:])
