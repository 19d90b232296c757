"""The normal-distribution kernels, written once for both engines.

Every p-value entry and its DuckDB oracle must run the same double
operations in the same order, or the 6/9-rounded outputs can drift apart.
So each formula below is written exactly once, against a minimal set of
operations (``+ - * /``, unary ``-``, ``>=``/``<=``, ``sqrt``, ``exp``,
``ln``, ``when``), and rendered by one of two engines:

- a pyspark ``Column`` argument yields a ``Column`` expression;
- a ``str`` argument (a DuckDB SQL expression) yields a fully
  parenthesised SQL fragment to splice into the oracle text.

Kernels:

- ``erfc_sqrt2(u)`` = erfc(u/sqrt(2)) for u >= 0 — the two-sided p of
  |z| — by Abramowitz & Stegun 7.1.26 (|error| <= 1.5e-7);
- ``phi(x)`` = the standard normal CDF for any sign of x, from the same
  chain (the upper tail P(Z > z) is ``phi(-z)``);
- ``inv_phi(p)`` = the normal quantile for 0 < p < 1 by A&S 26.2.23
  (|error| < 4.5e-4).

Scaling by 0.5 or 2.0 is exact in doubles (outside the subnormal range),
so ``2.0 * (0.5 * erfc_sqrt2(u))`` equals ``erfc_sqrt2(u)`` bit for bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# A&S 7.1.26: erfc(x) ~ t*(a1 + t*(a2 + t*(a3 + t*(a4 + t*a5))))*exp(-x^2),
# t = 1/(1 + p*x), x >= 0.
_ERFC_P = 0.3275911
_ERFC_A = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)
# A&S 26.2.23: Phi^-1 via t = sqrt(-2 ln p) for p <= 0.5.
_INV_C = (2.515517, 0.802853, 0.010328)
_INV_D = (1.432788, 0.189269, 0.001308)


def _text(v) -> str:
    return v.text if isinstance(v, _Sql) else repr(float(v))


def _binop(op: str, swap: bool = False):
    def method(self, other):
        a, b = _text(self), _text(other)
        return _Sql(f"({b} {op} {a})" if swap else f"({a} {op} {b})")

    return method


def _call(fn: str):
    return staticmethod(lambda x: _Sql(f"{fn}({x.text})"))


class _Sql:
    """A DuckDB SQL operand: each operator returns a parenthesised one."""

    __slots__ = ("text",)

    def __init__(self, text: str):
        self.text = text

    __add__, __radd__ = _binop("+"), _binop("+", True)
    __sub__, __rsub__ = _binop("-"), _binop("-", True)
    __mul__, __rmul__ = _binop("*"), _binop("*", True)
    __truediv__, __rtruediv__ = _binop("/"), _binop("/", True)
    __ge__, __le__ = _binop(">="), _binop("<=")

    def __neg__(self):
        return _Sql(f"(-{self.text})")


class _SparkOps:
    lit, sqrt, exp, ln = F.lit, F.sqrt, F.exp, F.log

    @staticmethod
    def when(cond, then, other):
        return F.when(cond, then).otherwise(other)


class _SqlOps:
    sqrt, exp, ln = _call("sqrt"), _call("exp"), _call("ln")

    @staticmethod
    def lit(v) -> _Sql:
        return _Sql(_text(v))

    @staticmethod
    def when(cond: _Sql, then, other) -> _Sql:
        return _Sql(f"(CASE WHEN {cond.text} THEN {_text(then)} ELSE {_text(other)} END)")


def _render(formula):
    """Lift ``formula(ops, x)`` to a kernel over a Column or a SQL str."""

    def kernel(x: Column | str) -> Column | str:
        if isinstance(x, Column):
            return formula(_SparkOps, x)
        return formula(_SqlOps, _Sql(f"({x})")).text

    kernel.__name__ = formula.__name__.lstrip("_")
    kernel.__doc__ = formula.__doc__
    return kernel


def _erfc_sqrt2(e, u):
    """erfc(u/sqrt(2)) for u >= 0 (A&S 7.1.26)."""
    a1, a2, a3, a4, a5 = _ERFC_A
    x = u / e.sqrt(e.lit(2.0))
    t = 1.0 / (1.0 + _ERFC_P * x)
    return t * (a1 + t * (a2 + t * (a3 + t * (a4 + t * a5)))) * e.exp(-x * x)


def _phi(e, x):
    """Standard normal CDF Phi(x), any sign of x."""
    return e.when(
        x >= 0,
        1.0 - 0.5 * _erfc_sqrt2(e, x),
        0.5 * _erfc_sqrt2(e, -x),
    )


def _inv_phi(e, p):
    """Normal quantile Phi^-1(p) for 0 < p < 1 (A&S 26.2.23)."""
    c0, c1, c2 = _INV_C
    d1, d2, d3 = _INV_D
    lower = p <= 0.5
    t = e.sqrt(-2.0 * e.ln(e.when(lower, p, 1.0 - p)))
    sgn = e.when(lower, e.lit(-1.0), e.lit(1.0))
    return sgn * (
        t - (c0 + t * (c1 + t * c2)) / (1.0 + t * (d1 + t * (d2 + t * d3)))
    )


erfc_sqrt2 = _render(_erfc_sqrt2)
phi = _render(_phi)
inv_phi = _render(_inv_phi)
