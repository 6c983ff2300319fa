"""The deterministic-hash helpers in ``ext/util.py``.

Each Spark form must equal its DuckDB twin and a pure-Python replay,
including on the digests at the ends of each range, and no other module
of the package may spell the hash math out again.
"""

from __future__ import annotations

import ast
import hashlib
import pathlib
import re

import duckdb
from pyspark.sql import functions as F

from scala_data_pipeline_spark.ext.util import (
    hex_int,
    hex_int_sql,
    keyed_md5,
    keyed_md5_sql,
    md5_uniform,
    md5_uniform_sql,
)

PKG = pathlib.Path(__file__).resolve().parents[1] / "scala_data_pipeline_spark"

# Digests whose 8-, 13- and 14-hex prefixes hit the ends of each range.
DIGESTS = [
    "0" * 32,
    "f" * 32,
    "0000000000000" + "f" * 19,
    "fffffffffffff" + "0" * 19,
    hashlib.md5(b"spark-graft").hexdigest(),
]


def _py_uniform(digest: str) -> float:
    return (int(digest[:13], 16) + 1) / (2.0**52 + 1)


def _duck_rows(select: str, values: list) -> dict:
    con = duckdb.connect()
    try:
        rows = con.execute(
            f"SELECT {select} FROM (SELECT unnest(?) AS d)", [values]
        ).fetchall()
    finally:
        con.close()
    return {r[0]: tuple(r[1:]) for r in rows}


def test_uniform_and_hex_parse_match_on_edge_digests(spark):
    df = spark.createDataFrame([(d,) for d in DIGESTS], "d string")
    d = F.col("d")
    got = {
        r[0]: tuple(r[1:])
        for r in df.select(
            d, md5_uniform(d), hex_int(d, 13), hex_int(d, 14), hex_int(d, 8)
        ).collect()
    }
    want = _duck_rows(
        f"d, {md5_uniform_sql('d')}, {hex_int_sql('d', 13)},"
        f" {hex_int_sql('d', 14)}, {hex_int_sql('d', 8)}",
        DIGESTS,
    )
    py = {
        h: (_py_uniform(h), int(h[:13], 16), int(h[:14], 16), int(h[:8], 16))
        for h in DIGESTS
    }
    assert got == want == py  # floats compared bit for bit

    lo, hi = got["0" * 32][0], got["f" * 32][0]
    assert lo == 1 / (2.0**52 + 1) and lo > 0.0  # smallest u, above 0
    assert hi == 2.0**52 / (2.0**52 + 1) and hi < 1.0  # largest u, below 1
    assert got["f" * 32][2] == 16**14 - 1
    assert got["f" * 32][3] == 16**8 - 1


def test_keyed_md5_matches_twin_with_quoted_salt(spark):
    keys = ["0", "1", "42", "o'brien", "ünïcode"]
    for salt in ("", "split", "it's", "''"):
        df = spark.createDataFrame([(k,) for k in keys], "k string")
        got = {
            r[0]: r[1] for r in df.select("k", keyed_md5("k", salt)).collect()
        }
        twin = _duck_rows(f"d, {keyed_md5_sql('d', salt)}", keys)
        want = {k: v[0] for k, v in twin.items()}
        py = {k: hashlib.md5((salt + k).encode()).hexdigest() for k in keys}
        assert got == want == py, salt
    # An integer key is cast to its decimal string in both engines.
    ints = spark.range(3).select(keyed_md5("id", "s").alias("h")).collect()
    assert [r.h for r in ints] == [
        hashlib.md5(f"s{i}".encode()).hexdigest() for i in range(3)
    ]


# ---------------------------------------------------------------------------
# Lint: the hash math has one home.
# ---------------------------------------------------------------------------

HOME = "ext/util.py"
FORBIDDEN = {
    "'0x' hex cast": re.compile(r"'0x'"),
    "16**13": re.compile(r"16\s*\*\*\s*13"),
    "2**52": re.compile(r"2\s*\*\*\s*52"),
    "md5(F.concat(F.lit(...": re.compile(r"md5\(\s*F\.concat\(\s*F\.lit\("),
    "md5('{salt}' ||": re.compile(r"md5\(\s*'\{"),
}


def _violations(src: str) -> list[str]:
    """Hash-math spellings in ``src``: the patterns above and any
    base-16 ``conv`` (a Python call or a SQL string)."""
    hits = [
        f"{src.count(chr(10), 0, m.start()) + 1}: {name}"
        for name, pat in FORBIDDEN.items()
        for m in pat.finditer(src)
    ]
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Call):
            func = node.func
            fname = func.attr if isinstance(func, ast.Attribute) else getattr(
                func, "id", None
            )
            base = node.args[1] if len(node.args) > 1 else None
            if (
                fname == "conv"
                and isinstance(base, ast.Constant)
                and base.value == 16
            ):
                hits.append(f"{node.lineno}: base-16 conv")
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and re.search(r"\bconv\s*\([^;]*?,\s*16\s*,", node.value, re.I)
        ):
            hits.append(f"{node.lineno}: base-16 conv in SQL")
    return hits


def test_lint_catches_each_spelling():
    snippets = [
        'x = F.conv(F.substring(d, 1, 8), 16, 10)',
        'x = "SELECT conv(substr(h, 1, 8), 16, 10)"',
        "x = f\"CAST('0x' || h AS BIGINT)\"",
        "x = 16**13",
        "x = float(2 ** 52)",
        "x = F.md5(F.concat(F.lit(salt), k))",
        "x = f\"md5('{salt}' || k)\"",
    ]
    for s in snippets:
        assert _violations(s), s
    assert _violations("x = F.conv(F.substring(b, 1, 32), 2, 10)") == []


def test_hash_math_lives_in_util():
    hits = [
        f"{p.relative_to(PKG).as_posix()}:{h}"
        for p in sorted(PKG.rglob("*.py"))
        if p.relative_to(PKG).as_posix() != HOME
        for h in _violations(p.read_text())
    ]
    assert hits == []
