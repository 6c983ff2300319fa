"""Print the query-registry counts from the live import (round-13
verdict item 7: README counts must be GENERATED, not hand-maintained —
they drifted twice). Run after any registry change and paste the line
into README.md / use --check to fail when README disagrees.

Usage:
  python scripts/registry_counts.py           # print counts
  python scripts/registry_counts.py --check   # exit 1 if README drifts
"""
from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from scala_data_pipeline_spark.queries import (  # noqa: E402
    all_bounds,
    all_oracles,
    all_queries,
    extra_oracles,
    extra_queries,
    rows_only_names,
)

# Monotonic floor on oracled coverage (round-17, r16 verdict item 8):
# the extras sweep and the pytest parity suite both derive their scope
# from the live registry, so a refactor that silently DROPPED oracle
# registrations would shrink every check's coverage without failing
# anything. The gate runs this lint; raise the floors when coverage
# legitimately grows — never lower them.
MIN_ORACLED_EXTRAS = 182
MIN_ORACLED_DRIVER = 50


def counts() -> dict:
    q, o = all_queries(), all_oracles()
    eq, eo = extra_queries(), extra_oracles()
    ro = rows_only_names()
    bounded = set(all_bounds())
    return {
        "driver": len(q),
        "driver_oracled": len(set(q) & set(o)),
        "extras": len(eq),
        "extras_oracled": len(set(eq) & set(eo)),
        "total": len(q) + len(eq),
        "rows_only": len(ro),
        "rows_only_bounded": len(ro & bounded),
        "rows_only_unbounded": len(ro - bounded),
    }


def lint_bounds() -> list[str]:
    """Round-16 (r15 verdict item 2): every BOUNDS key must be a
    rows-only registry entry (an oracled query doesn't need one and a
    stale key would misreport coverage), and the cited
    ``tests/file.py::test`` must exist in the tree."""
    problems = []
    ro = rows_only_names()
    for name, ref in sorted(all_bounds().items()):
        if name not in ro:
            problems.append(f"BOUNDS key {name!r} is not a rows-only entry")
            continue
        loc = ref.split(" — ")[0].strip()
        if "::" not in loc:
            problems.append(f"{name}: bound {loc!r} lacks file::test form")
            continue
        path, test = loc.split("::", 1)
        try:
            src = open(os.path.join(ROOT, path)).read()
        except OSError:
            problems.append(f"{name}: cited file {path} missing")
            continue
        if f"def {test}(" not in src:
            problems.append(f"{name}: {path} has no test {test}")
    return problems


def main() -> None:
    c = counts()
    line = (
        f"{c['driver']} driver queries ({c['driver_oracled']} oracled) + "
        f"{c['extras']} extras ({c['extras_oracled']} oracled) = "
        f"{c['total']} total, {c['rows_only']} rows-only "
        f"({c['rows_only_bounded']} bounded / "
        f"{c['rows_only_unbounded']} unbounded)"
    )
    print(line)
    if "--check" in sys.argv:
        problems = lint_bounds()
        if c["extras_oracled"] < MIN_ORACLED_EXTRAS:
            problems.append(
                f"oracled extras dropped to {c['extras_oracled']} < floor "
                f"{MIN_ORACLED_EXTRAS} — an oracle registration was lost"
            )
        if c["driver_oracled"] < MIN_ORACLED_DRIVER:
            problems.append(
                f"oracled driver rows dropped to {c['driver_oracled']} < "
                f"floor {MIN_ORACLED_DRIVER}"
            )
        if c["rows_only_unbounded"]:
            unb = sorted(rows_only_names() - set(all_bounds()))
            problems.append(
                f"{c['rows_only_unbounded']} rows-only entries have no "
                f"quantitative bound: {unb}"
            )
        if problems:
            print("BOUNDS lint:", *problems, sep="\n  ")
            sys.exit(1)
        readme = open(os.path.join(ROOT, "README.md")).read()
        pats = [
            rf"\b{c['driver']} driver-checked queries\b",
            rf"\b{c['extras']} extras\b",
            rf"\b{c['extras_oracled']} with oracle",
            rf"\b{c['rows_only']} rows-only extras\b",
            rf"\b{c['rows_only_bounded']} bounded / "
            rf"{c['rows_only_unbounded']} unbounded\b",
        ]
        missing = [p for p in pats if not re.search(p, readme)]
        if missing:
            print(f"README drift: expected {missing} per the live registry")
            sys.exit(1)
        # Label invariant (round-15: 18 "(extra)" tags survived past
        # promotions): a backticked name tagged "(extra)" must BE an
        # extra in the live registry. Bare mentions of extras are fine
        # — only the tag direction is enforced.
        drv = set(all_queries())
        stale = sorted(
            {
                m
                for m in re.findall(r"`([a-z0-9_]+)` \(extra\)", readme)
                if m in drv
            }
        )
        if stale:
            print(
                "README drift: driver queries still tagged (extra): "
                f"{stale}"
            )
            sys.exit(1)
        print("README counts match the registry")


if __name__ == "__main__":
    main()
