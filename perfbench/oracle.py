"""Checks made apart from Spark.

- ``FlagshipOracle``: the registered DuckDB oracle of the flagship view
  (``plans.oracle_sql()["q_flagship_modvalues"]``) run over a prefix of
  the generated history, the prefix the engine has consumed.
- ``fault_model``: the same oracle with the custom connector's
  connection derivation (``user_id % 3`` instead of
  ``user_id % 100 % 3``). A connector read that misses the oracle but
  equals this model is the known connector fault; one that equals
  neither is an unexplained failure.
- ``check_pairs``: near-duplicate pairs recomputed in plain Python.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from opcua_ingestion_engine_spark import catalog as C
from opcua_ingestion_engine_spark import plans

GOOD_CONN = "CAST(user_id % 100 % 3 AS INT) AS conn_id"
FAULT_CONN = "CAST(user_id % 3 AS INT) AS conn_id"


def _rows(records) -> list[tuple]:
    return sorted(tuple(r) for r in records)


class FlagshipOracle:
    """DuckDB over ``events`` restricted by a SQL predicate."""

    COLUMNS = (
        "device, device_type, tag_name, tag_value, measure_name, "
        "measure_value, source_unit, destination_unit, last_updated, logging"
    )

    def __init__(self, events: pd.DataFrame, fault_model: bool = False):
        sql = plans.oracle_sql()["q_flagship_modvalues"]
        # the engine's device catalog is derived from the whole history
        # file, so the oracle's must be too; only the stream is a prefix
        whole = C.SQL_SITE_DEVICES.replace("FROM events)", "FROM events_all)")
        if GOOD_CONN not in sql or C.SQL_SITE_DEVICES not in sql or whole == C.SQL_SITE_DEVICES:
            raise RuntimeError("flagship oracle no longer has the expected fixture CTEs")
        sql = sql.replace(C.SQL_SITE_DEVICES, whole)
        if fault_model:
            sql = sql.replace(GOOD_CONN, FAULT_CONN)
        self.sql = f"SELECT {self.COLUMNS} FROM ({sql})"
        self.con = duckdb.connect()
        self.con.register("events_df", events)
        self.con.execute("CREATE TABLE events_all AS SELECT * FROM events_df")
        self._memo: dict[str, list[tuple]] = {}

    def rows(self, predicate: str) -> list[tuple]:
        hit = self._memo.get(predicate)
        if hit is None:
            self.con.execute(
                f"CREATE OR REPLACE VIEW events AS SELECT * FROM events_all WHERE {predicate}"
            )
            hit = self._memo[predicate] = _rows(self.con.sql(self.sql).fetchall())
        return hit

    def close(self) -> None:
        self.con.close()


def view_rows(spark_rows) -> list[tuple]:
    """Spark ``Row``s of the flagship view in the oracle's column order."""
    cols = [c.strip() for c in FlagshipOracle.COLUMNS.split(",")]
    return _rows(tuple(r[c] for c in cols) for r in spark_rows)


def shingles(text: str, n: int = 3) -> frozenset:
    """``text.word_ngrams`` in Python: word n-grams over single-space
    tokens; a text shorter than n words is its own single shingle."""
    ws = text.split(" ")
    if len(ws) < n:
        return frozenset([text])
    return frozenset(" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def check_pairs(
    pairs, sets: dict[int, frozenset], must_find: set[tuple[int, int]], threshold: float
) -> list[str]:
    """Problems with a reported pair set (empty when it is correct):
    each pair is distinct, its Jaccard matches the Python recomputation
    and reaches ``threshold``, and every pair in ``must_find`` is there."""
    problems = []
    seen = set()
    for a, b, j in pairs:
        key = (min(a, b), max(a, b))
        if a == b or key in seen:
            problems.append(f"pair {key} repeated or reflexive")
        seen.add(key)
        exact = jaccard(sets[a], sets[b])
        if abs(exact - j) > 1e-12 or exact < threshold:
            problems.append(f"pair {key}: reported {j}, exact {exact}")
    missing = must_find - seen
    if missing:
        problems.append(f"{len(missing)} planted pairs missing, e.g. {sorted(missing)[:3]}")
    return problems
