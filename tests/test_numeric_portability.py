"""The rounding-tie class that produced the only red gate rows of
rounds 5–6 (q42 ``feat_mean``, q64 ``fill_frac``): ``ROUND(x, 6)`` is
engine-defined exactly at decimal half-ties, so any gated column whose
pre-round value can land on a ``…5e-7`` boundary is a cross-engine coin
flip.  Round 7 removed every engine rounding primitive from the gate
surface in favor of ``round6`` = ``FLOOR(x*1e6 + 0.5)/1e6`` — pure
IEEE-754 ops, bit-identical in Spark, DuckDB, and NumPy.

Three layers of insurance:

1. ``round6`` / ``round6_sql`` / ``round6_np`` agree bit-for-bit on an
   adversarial battery (exact odd/128 half-ties — the only doubles that
   CAN sit exactly on a 6-dp half boundary — plus ±1-ulp neighbours,
   negatives, and the two values that flipped q64).
2. A source scan: no ``F.round``/``np.round``/SQL ``ROUND(`` anywhere
   in the oracle-gated surface (``queries/`` and ``operators/``).
3. A tie scan over every gate oracle's UNROUNDED values at sf0.01:
   strips the ``FLOOR(…)`` wrapper from each oracle and flags any
   value within 4 ulps of a rounding boundary WITHOUT being exactly on
   it — the signature of accumulation-order straddle risk, which
   deterministic rounding cannot fix (only integer micro-units can).
   Exact boundary hits are fine: ``round6`` resolves them identically
   in every engine.
"""

from __future__ import annotations

import glob
import math
import re

import numpy as np

from lsd2_spark.functions.numeric import round6, round6_np, round6_sql

# ---------------------------------------------------------------------------
# 1. three-engine bit identity
# ---------------------------------------------------------------------------

# A double equals k.5e-7 in decimal only if it is an odd multiple of
# 1/128 (the unique dyadic form whose decimal expansion terminates with
# a 5 in the 7th place): (2k+1)/2^j * 1e6 is a half-integer iff j == 7.
_TIES = [n / 128.0 for n in range(1, 256, 2)]  # 0.0078125 … 1.9921875
_BATTERY = (
    _TIES
    + [-x for x in _TIES[:16]]
    + [math.nextafter(x, math.inf) for x in _TIES[:16]]
    + [math.nextafter(x, -math.inf) for x in _TIES[:16]]
    + [0.6640625, 1.1640625]  # the two q64 rows that flipped round 6
    + [0.0, 1.0, -1.0, 123.456789, -0.000001, 3.0000005, 1e-7, 5e-7]
)


def test_round6_three_engine_bit_identity(spark):
    import duckdb

    vals = _BATTERY
    np_out = [float(round6_np(np.float64(v))) for v in vals]

    con = duckdb.connect()
    sql = round6_sql("v")
    duck_out = [
        con.execute(f"SELECT {sql} FROM (SELECT CAST(? AS DOUBLE) AS v)", [v])
        .fetchone()[0]
        for v in vals
    ]

    from pyspark.sql import functions as F

    sdf = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, v double")
    spark_out = [
        r.r for r in sdf.select("i", round6(F.col("v")).alias("r")).orderBy("i").collect()
    ]

    for v, a, b, c in zip(vals, np_out, duck_out, spark_out):
        assert a == b == c, f"round6({v!r}): numpy={a!r} duckdb={b!r} spark={c!r}"
        # half-ties must deterministically round toward +inf
    assert float(round6_np(np.float64(0.6640625))) == 0.664063
    assert float(round6_np(np.float64(-0.0078125))) == -0.007812  # toward +inf


# ---------------------------------------------------------------------------
# 2. no engine-defined rounding in the gate surface
# ---------------------------------------------------------------------------

_GATE_GLOBS = ["lsd2_spark/queries/*.py", "lsd2_spark/operators/*.py"]


def test_no_engine_rounding_in_gate_surface():
    offenders = []
    for g in _GATE_GLOBS:
        for path in sorted(glob.glob(g)):
            for ln, line in enumerate(open(path, encoding="utf-8"), 1):
                code = line.split("#", 1)[0]
                if re.search(r"\bF\.round\(|\bnp\.round\(|\bROUND\(", code):
                    offenders.append(f"{path}:{ln}: {line.strip()}")
    assert not offenders, "engine-defined rounding in gate surface:\n" + "\n".join(offenders)


# ---------------------------------------------------------------------------
# 3. straddle-risk tie scan over the unrounded oracle values
# ---------------------------------------------------------------------------

_TAIL = " * 1000000.0 + 0.5"
_DIV = " / 1000000.0"


def _strip_round6(sql: str) -> tuple[str, int]:
    """Rewrite every ``FLOOR(expr * 1e6 + 0.5)/1e6`` back to ``expr``."""
    out, i, n = [], 0, 0
    while True:
        j = sql.find("FLOOR(", i)
        if j < 0:
            out.append(sql[i:])
            return "".join(out), n
        k = j + len("FLOOR(")
        depth = 1
        while depth:
            if sql[k] == "(":
                depth += 1
            elif sql[k] == ")":
                depth -= 1
            k += 1
        inner = sql[j + len("FLOOR(") : k - 1]
        if inner.endswith(_TAIL) and sql[k : k + len(_DIV)] == _DIV:
            out.append(sql[i:j])
            out.append(f"({inner[: -len(_TAIL)]})")
            i = k + len(_DIV)
            n += 1
        else:  # an unrelated FLOOR — keep verbatim
            out.append(sql[i:k])
            i = k


def _near_boundary(v: float, ulps: int = 4) -> bool:
    """True when v*1e6 is within `ulps` ulps of a half-integer without
    being exactly on it (exact ties are deterministic under round6)."""
    if v is None or not math.isfinite(v):
        return False
    x = v * 1e6 + 0.5
    lo, hi = math.floor(x), math.ceil(x)
    for b in {lo, hi}:
        d = x
        for _ in range(ulps):
            d = math.nextafter(d, b)
            if d == b and x != b:
                return True
    return False


def _near_boundary_mask(v: np.ndarray, ulps: int = 4) -> np.ndarray:
    """Elementwise :func:`_near_boundary` over a float array (the sf0.1
    oracles return ~10M values; the scalar loop spent tens of seconds)."""
    v = np.asarray(v, dtype=np.float64)
    x = v * 1e6 + 0.5
    hit = np.zeros(len(x), dtype=bool)
    with np.errstate(invalid="ignore"):
        for b in (np.floor(x), np.ceil(x)):
            d = x.copy()
            for _ in range(ulps):
                d = np.nextafter(d, b)
                hit |= (d == b) & (x != b)
    return hit & np.isfinite(v)


def test_near_boundary_mask_matches_the_scalar_check():
    base = np.array([0.1234565, 1.0000005, 2.5e-7, 3.0, -0.0000015, 7.25])
    near = [
        float(np.nextafter(np.float64(x), np.float64(x) + s * 1.0))
        for x in base
        for s in (-1, 1)
    ]
    vals = np.concatenate(
        [base, near, [np.nan, np.inf, -np.inf, 0.0],
         np.random.default_rng(3).uniform(-5, 5, 500)]
    )
    want = np.array([_near_boundary(float(v)) for v in vals])
    assert want.any()  # the sample exercises the positive branch
    assert (_near_boundary_mask(vals) == want).all()


def test_gate_oracles_have_no_straddle_risk_sf001_and_sf01(tmp_path):
    import duckdb
    import pandas as pd

    from lsd2_spark.queries import TABLES, all_oracles

    flagged = []
    for sf_dir in ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]:
        con = duckdb.connect()
        # DuckDB defaults to 80% of RAM; q32 at sf0.1 peaked at 13 GB
        # and, beside the suite's Spark JVM, got processes OOM-killed.
        # Capped, it spills and stays near 3 GB resident.
        con.execute("SET memory_limit = '2GB'")
        # spill under pytest's temporary directory, not into .tmp/ of
        # the working directory, where a stopped run leaves it behind
        con.execute(f"SET temp_directory = '{tmp_path}'")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        for name, sql in sorted(all_oracles().items()):
            stripped, n = _strip_round6(sql)
            if n == 0:
                continue  # no rounded columns in this oracle
            df = con.execute(stripped).df()
            for c in df.columns:
                if not pd.api.types.is_float_dtype(df[c]):
                    continue
                vals = df[c].dropna().to_numpy(dtype=np.float64)
                hits = vals[_near_boundary_mask(vals)].tolist()
                if hits:
                    flagged.append(f"{sf_dir} {name}.{c}: {hits[:3]}")
        con.close()
    assert not flagged, (
        "unrounded gate values within 4 ulps of a rounding boundary "
        "(accumulation straddle risk — move these columns to integer "
        "micro-units):\n" + "\n".join(flagged)
    )


def test_round6_sql_helper_matches_the_inlined_formula():
    """The oracle SQL inlines the floor formula (f-string-brace-safe);
    this pins the inlined pattern to the helper so a future change to
    round6_sql cannot silently diverge from the ~15 inlined sites: the
    stripper recognizes exactly the helper's output, and the tie scan
    above requires it to fire on every rounded oracle."""
    assert round6_sql("x") == "FLOOR((x) * 1000000.0 + 0.5) / 1000000.0"
    stripped, n = _strip_round6(round6_sql("a + b"))
    # the stripper re-parenthesizes; double parens are semantically inert
    assert n == 1 and stripped == "((a + b))"
