"""Result checks: hash a collected catalog result the way
``scripts/driver_sim.py`` does, and compute each entry's expected hash
from its DuckDB oracle over the same parquet inputs."""

from __future__ import annotations

import os

import pandas as pd


def _driver_sim():
    """Import ``scripts/driver_sim.py`` for its ``value_hash``.

    Importing it sets $SPARK_GRAFT_ORACLE_SF_DIR from argv, so callers
    set the variable again afterwards (see ``oracle_hashes``)."""
    import importlib.util

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "_bench_driver_sim", os.path.join(root, "scripts", "driver_sim.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def rows_to_pandas(rows: list, columns: list[str]) -> pd.DataFrame:
    """Collected Rows → the frame ``toPandas()`` would have produced for
    the value types the catalog emits: integer columns holding nulls
    become float64 (NaN), as Arrow converts them."""
    df = pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns)
    for c in df.columns:
        col = df[c]
        if col.dtype == object and col.isna().any():
            vals = col.dropna()
            if len(vals) and all(
                isinstance(v, (int, float)) and not isinstance(v, bool) for v in vals
            ):
                df[c] = col.astype("float64")
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: v.asDict(recursive=True) if hasattr(v, "asDict") else v
            )
    return df


class Checker:
    """Holds ``value_hash`` (from driver_sim) and the oracle hashes."""

    def __init__(self, expected: dict[str, str]):
        self.value_hash = _driver_sim().value_hash
        self.expected = expected

    def ok(self, name: str, rows: list, columns: list[str]) -> bool:
        return self.value_hash(rows_to_pandas(rows, columns)) == self.expected[name]


def oracle_hashes(sf_dir: str, names: list[str]) -> dict[str, str]:
    """{entry: hash of its DuckDB oracle result over ``sf_dir``}."""
    import duckdb

    ds = _driver_sim()
    # set AFTER the import above: importing driver_sim overwrites it
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    from big_data_processing_spark.plans import CATALOG

    con = duckdb.connect()
    for t in ds.TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    out = {}
    for n in names:
        o = CATALOG[n].oracle
        if o is None:
            raise SystemExit(f"workload entry {n} has no oracle to check against")
        sql = o(sf_dir) if callable(o) else o
        out[n] = ds.value_hash(con.sql(sql).df())
    con.close()
    return out
