"""Output checks for every timed query execution.

- Queries with a DuckDB oracle must equal it exactly on the generated
  inputs, by ``tools/compare.py``'s canonicalisation and comparison.
- Queries without one (the ML results) must give the same canonical
  output hash on every pass of a run, and the MDA importances must
  rank the planted informative features first (FIXTURES.md section 1).

A failed check is a program defect: it is counted and reported, never
skipped.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

import duckdb
import pandas as pd

from tools.compare import canon, compare


def digest(pdf: pd.DataFrame) -> str:
    """Hash of the canonical form: sorted columns, sorted rows, dtypes."""
    c = canon(pdf)
    h = hashlib.sha256(repr([(n, str(t)) for n, t in c.dtypes.items()]).encode())
    h.update(pd.util.hash_pandas_object(c, index=False).to_numpy().tobytes())
    return h.hexdigest()


def planted_ranking(pdf: pd.DataFrame) -> str | None:
    """The features ranked first are planted informative ones, and the
    two heaviest planted features rank top two."""
    from reduction_dask_spark.ml import N_INFORMATIVE, planted_weight

    planted = set(range(N_INFORMATIVE))
    top_w = max(planted_weight(d) for d in planted)
    heaviest = {d for d in planted if planted_weight(d) == top_w}
    ranked = pdf.sort_values(["importance", "feature"], ascending=[False, True])
    n = min(len(planted), int((ranked["importance"] > 0).sum()))
    top = [int(f) for f in ranked["feature"].head(n)]
    if n < len(heaviest) or not set(top) <= planted or set(top[: len(heaviest)]) != heaviest:
        return f"planted features {sorted(planted)} (heaviest {sorted(heaviest)}) not ranked first: top {top}"
    return None


GROUND_TRUTH = {
    "x1_mda_importance": planted_ranking,
    "x1c_mda_importance_gbt": planted_ranking,
}


class Checker:
    """Checks one run's outputs against the oracle and across passes."""

    def __init__(self, data_dir: Path, tables: tuple[str, ...], oracles: dict[str, str]):
        self._con = duckdb.connect()
        for t in tables:
            self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        self._oracles = oracles
        self._expected: dict[str, pd.DataFrame] = {}
        self._passed: dict[str, set[str]] = {}
        self._first: dict[str, str] = {}

    def close(self) -> None:
        self._con.close()

    def check(self, name: str, pdf: pd.DataFrame) -> str | None:
        """Return None if ``pdf`` is a correct output of ``name``, else
        why not."""
        d = digest(pdf)
        first = self._first.setdefault(name, d)
        sql = self._oracles.get(name)
        if sql is None:
            if d != first:
                return "output hash differs from the first pass"
            truth = GROUND_TRUTH.get(name)
            return truth(pdf) if truth else None
        passed = self._passed.setdefault(name, set())
        if d in passed:
            return None
        if name not in self._expected:
            self._expected[name] = self._con.execute(sql).fetchdf()
        errs = compare(name, pdf, self._expected[name])
        if errs:
            return "oracle mismatch: " + "; ".join(errs)
        passed.add(d)
        return None
