"""The normal-distribution kernels (redmap_spark/inventory/_normal.py):
one formula per kernel, rendered as a Spark Column and as DuckDB SQL.
Both renderings must run the same double operations, land close to the
stdlib values, and no module may carry its own copy of the
coefficients.

The engines' exp/ln are different libraries (the JVM's StrictMath, i.e.
fdlibm, versus the C library under DuckDB), each within 1 ulp of the
true value; on this grid they disagree in the last bit at about one
point in six. So bit-identity is asserted for the formulas with exp/ln
replaced by exact stand-ins, and the full kernels are held to a few ulp.
"""

from __future__ import annotations

import math
import re
from pathlib import Path
from statistics import NormalDist

import duckdb
import pandas as pd
import pytest
from pyspark.sql import Column
from pyspark.sql import functions as F

from redmap_spark.inventory import _normal
from redmap_spark.inventory._normal import erfc_sqrt2, inv_phi, phi

Z_GRID = [-8.0 + 0.25 * k for k in range(65)]
_TAILS = [10.0 ** -k for k in range(12, 1, -1)]  # 1e-12 .. 1e-2
P_GRID = _TAILS + [0.05 * k for k in range(1, 20)] + [1.0 - q for q in reversed(_TAILS)]


def _both_engines(spark, values, kernels):
    """{kernel name: (spark values, duckdb values)} over `values` as x."""
    sdf = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "i int, x double")
    srows = sdf.select("i", *[k(F.col("x")).alias(n) for n, k in kernels.items()]).collect()
    srows = sorted(srows, key=lambda r: r["i"])
    con = duckdb.connect()
    con.register("g", pd.DataFrame({"i": range(len(values)), "x": values}))
    cols = ", ".join(f"{k('x')} AS {n}" for n, k in kernels.items())
    ddf = con.execute(f"SELECT i, {cols} FROM g ORDER BY i").df()
    con.close()
    return {n: ([r[n] for r in srows], ddf[n].tolist()) for n in kernels}


def _erfc_abs(k):
    return lambda x: k(f"abs({x})" if isinstance(x, str) else F.abs(x))


def _kernels(spark, erfc, phi_, inv):
    zs = _both_engines(spark, Z_GRID, {"erfc_abs": _erfc_abs(erfc), "phi": phi_})
    ps = _both_engines(spark, P_GRID, {"inv_phi": inv})
    return {**zs, **ps}


class _SparkNoLibm(_normal._SparkOps):
    exp = staticmethod(lambda c: c)
    ln = staticmethod(lambda c: -c)


class _SqlNoLibm(_normal._SqlOps):
    exp = staticmethod(lambda s: s)
    ln = staticmethod(lambda s: -s)


def _no_libm(formula):
    """The kernel with exp(x) -> x and ln(x) -> -x in both engines."""

    def kernel(x):
        if isinstance(x, Column):
            return formula(_SparkNoLibm, x)
        return formula(_SqlNoLibm, _normal._Sql(f"({x})")).text

    return kernel


@pytest.fixture(scope="module")
def kernel_values(spark):
    return _kernels(spark, erfc_sqrt2, phi, inv_phi)


def test_kernel_arithmetic_bit_identical_across_engines(spark):
    values = _kernels(
        spark, *(_no_libm(f) for f in (_normal._erfc_sqrt2, _normal._phi, _normal._inv_phi))
    )
    for name, (sv, dv) in values.items():
        diff = [(i, a, b) for i, (a, b) in enumerate(zip(sv, dv)) if a.hex() != b.hex()]
        assert not diff, f"{name}: Spark and DuckDB differ at {diff[:5]}"


def test_kernels_agree_across_engines_within_libm_ulps(kernel_values):
    for name, (sv, dv) in kernel_values.items():
        far = [
            (i, a, b) for i, (a, b) in enumerate(zip(sv, dv))
            if abs(a - b) > 4 * math.ulp(max(abs(a), abs(b)))
        ]
        assert not far, f"{name}: Spark and DuckDB differ at {far[:5]}"


def test_kernels_match_stdlib(kernel_values):
    nd = NormalDist()
    erfc_v, _ = kernel_values["erfc_abs"]
    phi_v, _ = kernel_values["phi"]
    for z, e, p in zip(Z_GRID, erfc_v, phi_v):
        assert abs(e - math.erfc(abs(z) / math.sqrt(2.0))) <= 1.5e-7, z
        assert abs(p - nd.cdf(z)) <= 1.5e-7, z
    inv_v, _ = kernel_values["inv_phi"]
    for p, q in zip(P_GRID, inv_v):
        assert abs(q - nd.inv_cdf(p)) <= 4.5e-4, p


def test_normal_coefficients_live_only_in_kernel_module():
    """The A&S 7.1.26 / 26.2.23 coefficients must not be pasted anywhere
    else: a second copy can drift from the one its oracle renders."""
    pkg = Path(__file__).resolve().parent.parent / "redmap_spark"
    pat = re.compile(r"0\.3275911|1\.061405429|2\.515517")
    hits = sorted(
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if pat.search(p.read_text(encoding="utf-8"))
    )
    assert hits == ["inventory/_normal.py"], hits
