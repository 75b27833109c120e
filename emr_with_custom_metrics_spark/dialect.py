"""One table of the Spark and DuckDB spellings that SQL templates share.

Each registered row is one query meaning, run by Spark and checked
against DuckDB. The rule is one template, rendered per dialect: either
``TEXT.format(d=DUCK)`` with ``{d.epoch_s}``-style fields, or a function
``_x_sql(d)``. A registered row passes ``oracle=...(DUCK)`` and runs
``spark.sql(...(SPARK))``. A CTE that several readers share is staged
on Spark by name (``plans/stage_memo.stage_ctes(spark, ...(SPARK),
"x")``) and marked ``{d.mat}`` where DuckDB must evaluate it once, so
staging needs no second text.

A fragment enters this table only when at least two modules spell it;
a spelling one module uses stays in that module. Epoch, token-split and
wide-integer spellings all live here, so no module picks its own.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Dialect:
    intdiv: str  # integer division operator
    terms: str  # one row per space-separated token of ``text``
    n_terms: str  # number of space-separated tokens of ``text``
    wide_int: str  # exact integer type past int64
    string: str
    mat: str  # CTE prefix that forces one evaluation
    tx: str  # array map: tx(arr, x -> ...)

    def secs(self, col: str = "ts") -> str:
        """Epoch seconds of a timestamp: whole on Spark, with the
        fraction on DuckDB (callers FLOOR or bucket it)."""
        return f"unix_timestamp({col})" if self is SPARK else f"epoch({col})"

    def micros(self, col: str = "ts") -> str:
        """Epoch microseconds of a timestamp, exact on both engines."""
        if self is SPARK:
            return f"unix_micros(CAST({col} AS TIMESTAMP))"
        return f"epoch_us({col})"

    @property
    def epoch_s(self) -> str:
        return self.secs()

    @property
    def epoch_us(self) -> str:
        return self.micros()

    @property
    def epoch_whole_s(self) -> str:
        """Whole epoch seconds of ``ts``."""
        return self.epoch_s if self is SPARK else f"FLOOR({self.epoch_s})"

    @property
    def epoch_day(self) -> str:
        return f"CAST(FLOOR({self.epoch_s} / 86400) AS BIGINT)"

    @property
    def epoch_frac_s(self) -> str:
        """Epoch seconds of ``ts`` with the microsecond fraction."""
        if self is SPARK:
            return "unix_micros(CAST(ts AS TIMESTAMP)) / 1000000.0"
        return "epoch(ts)"

    def idx(self, arr: str, k: str) -> str:
        """Element ``k`` (1-based) of array ``arr``."""
        return f"element_at({arr}, {k})" if self is SPARK else f"{arr}[{k}]"

    def first_terms(self, n: int) -> str:
        """One row per each of the first ``n`` tokens of ``text``."""
        if self is SPARK:
            return f"explode(slice(split(text, ' '), 1, {n}))"
        return f"UNNEST(list_slice(string_split(text, ' '), 1, {n}))"

    def fold_sum(self, terms: str) -> str:
        """Left-to-right DOUBLE sum of array ``terms`` (a fixed IEEE op
        order, so both engines round identically)."""
        if self is SPARK:
            return f"aggregate({terms}, CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
        return (f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {terms}), "
                "(a, x) -> a + x)")

    def series(self, lo: str, hi: str) -> str:
        """One row per integer in [lo, hi]."""
        if self is SPARK:
            return f"explode(sequence({lo}, {hi}))"
        return f"UNNEST(generate_series({lo}, {hi}))"

    def hex32(self, hexstr: str) -> str:
        """The first 8 hex digits of ``hexstr`` as a BIGINT."""
        if self is SPARK:
            return f"CAST(conv(substring({hexstr}, 1, 8), 16, 10) AS BIGINT)"
        return f"CAST(('0x' || substr({hexstr}, 1, 8)) AS BIGINT)"

    def guard(self, cond: str, msg: str) -> str:
        """A predicate that is TRUE while ``cond`` holds and raises
        ``msg`` at execution once it does not."""
        if self is SPARK:
            return f"assert_true({cond}, '{msg}') IS NULL"
        return f"CASE WHEN {cond} THEN TRUE ELSE error('{msg}') END"

    def wide_to_double(self, col: str) -> str:
        """Deterministic wide-integer -> double conversion: hi/mid/lo
        split at 2^60 / 2^30 on the absolute value (every piece < 2^53
        converts exactly; the recomposition is two correctly-rounded
        additions), so Spark DECIMAL(38,0) and DuckDB HUGEINT produce
        the IDENTICAL double even past 2^53 — the plain CASTs do not
        (DuckDB's hugeint->double is not correctly rounded)."""
        div = "DIV" if self is SPARK else "//"
        a = f"ABS({col})"
        hi = f"CAST({a} {div} 1152921504606846976 AS DOUBLE)"
        mid = f"CAST(({a} % 1152921504606846976) {div} 1073741824 AS DOUBLE)"
        lo = f"CAST({a} % 1073741824 AS DOUBLE)"
        return (
            f"(CASE WHEN {col} < 0 THEN -1.0e0 ELSE 1.0e0 END"
            f" * ((({hi} * 1152921504606846976.0e0)"
            f" + ({mid} * 1073741824.0e0)) + {lo}))"
        )


SPARK = Dialect(
    intdiv="div",
    terms="explode(split(text, ' '))",
    n_terms="size(split(text, ' '))",
    wide_int="DECIMAL(38, 0)",
    string="STRING",
    mat="",
    tx="transform",
)

DUCK = Dialect(
    intdiv="//",
    terms="UNNEST(string_split(text, ' '))",
    n_terms="len(string_split(text, ' '))",
    wide_int="HUGEINT",
    string="VARCHAR",
    mat="MATERIALIZED ",
    tx="list_transform",
)
