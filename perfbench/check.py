"""Correctness gate: every output against its DuckDB oracle twin.

Outputs are compared with ``tests.util.assert_frames_exact`` (column set, row
count, dtype kind and bit-exact values after a canonical sort).  Oracle
results are cached on disk keyed by the input tables' bytes, the oracle SQL
and the DuckDB version, so a repeated seed skips the DuckDB run.
"""

from __future__ import annotations

import hashlib
import os
import sys

import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from tests.util import assert_frames_exact  # noqa: E402

TABLES = ["lineitem", "part", "nation", "customer", "events"]


class Oracle:
    def __init__(self, in_dir: str, input_fp: str, cache_dir: str) -> None:
        self.in_dir = in_dir
        self.input_fp = input_fp
        self.cache_dir = cache_dir
        self._con = None
        os.makedirs(cache_dir, exist_ok=True)

    def _duck(self):
        if self._con is None:
            import duckdb
            self._con = duckdb.connect()
            for t in TABLES:
                self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                  f"read_parquet('{self.in_dir}/{t}.parquet')")
        return self._con

    def result(self, name: str, sql: str) -> pd.DataFrame:
        import duckdb
        key = hashlib.sha256(
            f"{self.input_fp}|{duckdb.__version__}|{name}|{sql}".encode()
        ).hexdigest()[:32]
        path = os.path.join(self.cache_dir, f"{name}-{key}.pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)  # written by this module only
        df = self._duck().execute(sql).df()
        tmp = f"{path}.{os.getpid()}.tmp"
        df.to_pickle(tmp)
        os.replace(tmp, path)
        return df

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


def mismatch(spark_df: pd.DataFrame, oracle_df: pd.DataFrame, name: str) -> str | None:
    """None when the frames are exactly equal, else the first difference."""
    try:
        assert_frames_exact(spark_df, oracle_df, name)
    except AssertionError as e:
        return str(e) or f"{name}: frames differ"
    return None


SPAN_COLS = ["n_spans", "n_node_refs", "has_image", "first_node", "last_node"]


def span_mismatches(spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> int:
    """Documents whose span structure (span count, node refs, media flag,
    end nodes) differs from the oracle's, or that one side lacks."""
    a = spark_df.set_index("doc_id")[SPAN_COLS]
    b = oracle_df.set_index("doc_id")[SPAN_COLS]
    both = a.index.intersection(b.index)
    differ = (a.loc[both].astype("int64") != b.loc[both].astype("int64")).any(axis=1)
    return int(differ.sum()) + len(a.index.symmetric_difference(b.index))
