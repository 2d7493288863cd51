"""DuckDB oracle answers and the result check, outside any timed region.

Each query's oracle runs in DuckDB over views of the same generated parquet
tables. Its answer depends only on the data, which is fixed per checkout, so
it is computed once and kept under the data directory. At sf1 a query's
``scale_oracle`` is preferred where one is set, as in
``tools/sf1_differential.py``. The comparison is the test suite's own
(``tests/compare.py``): column names, row count, dtype class and
order-insensitive values.
"""

from __future__ import annotations

import hashlib
import os

import duckdb
import pandas as pd

from tests.compare import _normalize, assert_df_equal


class _Answer:
    """A collected result in the two shapes ``assert_df_equal`` reads: a
    Spark frame (``toPandas``) and a DuckDB connection (``execute().df()``)."""

    def __init__(self, pdf: pd.DataFrame) -> None:
        self.pdf = pdf

    def toPandas(self) -> pd.DataFrame:
        return self.pdf

    def execute(self, _sql: str) -> _Answer:
        return self

    def df(self) -> pd.DataFrame:
        return self.pdf


def digest(pdf: pd.DataFrame) -> str:
    """Order-insensitive digest of a result, after the test normalization."""
    return hashlib.sha256(_normalize(pdf).to_csv(index=False).encode()).hexdigest()[:16]


class Oracle:
    def __init__(self, sf_dir: str, cache_dir: str, scale: bool) -> None:
        self.sf_dir = sf_dir
        self.cache_dir = cache_dir
        self.scale = scale
        self._con = None

    def answer(self, spec) -> pd.DataFrame:
        sql = (self.scale and spec.scale_oracle) or spec.oracle
        key = hashlib.sha256(f"{self.sf_dir}\n{sql}".encode()).hexdigest()[:12]
        path = os.path.join(self.cache_dir, f"{spec.name}-{key}.pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)
        if self._con is None:
            self._con = duckdb.connect()
            for file in sorted(os.listdir(self.sf_dir)):
                name, ext = os.path.splitext(file)
                if ext == ".parquet":
                    self._con.execute(
                        f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{self.sf_dir}/{file}')"
                    )
        pdf = self._con.execute(sql).df()
        os.makedirs(self.cache_dir, exist_ok=True)
        pdf.to_pickle(path + ".tmp")
        os.replace(path + ".tmp", path)
        return pdf

    def check(self, spec, result: pd.DataFrame) -> str | None:
        """None when ``result`` matches the oracle, else the mismatch."""
        if spec.oracle is None:
            return None
        try:
            assert_df_equal(_Answer(result), _Answer(self.answer(spec)), "")
        except AssertionError as e:
            return str(e)[:500]
        return None

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
