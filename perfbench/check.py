"""Correctness check of a written graph table against the pure-Python
oracle, outside any timed region.

The table is read with pyarrow, not Spark, so the check shares no code
path with the engine. ``graph`` comes back from the ``graph=…``
partition directories. The comparison is two anti-joins in pyarrow
against the oracle's triples held as a table (a Python set difference
over 200k tuples took twice as long, after every run).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.dataset as ds

FINAL_COLS = ["graph", "subj", "pred", "obj", "obj_is_iri"]
_SCHEMA = pa.schema([("graph", pa.string()), ("subj", pa.string()),
                     ("pred", pa.string()), ("obj", pa.string()),
                     ("obj_is_iri", pa.bool_())])
_GRAPH_PARTITIONING = ds.partitioning(pa.schema([("graph", pa.string())]),
                                      flavor="hive")


@dataclass
class CheckResult:
    rows: int
    triples: int
    extra: int
    missing: int

    @property
    def duplicate_rows(self) -> int:
        return self.rows - self.triples

    @property
    def mismatch(self) -> int:
        """Size of the symmetric difference against the oracle."""
        return self.extra + self.missing

    @property
    def ok(self) -> bool:
        return self.mismatch == 0 and self.duplicate_rows == 0


def oracle_table(triples: set[tuple]) -> pa.Table:
    """``oracle_triples``' set as a table of distinct rows."""
    cols = list(zip(*triples)) if triples else [()] * len(FINAL_COLS)
    return pa.Table.from_arrays([pa.array(c, f.type) for c, f in zip(cols, _SCHEMA)],
                                schema=_SCHEMA)


def check_table(path: str, oracle: pa.Table) -> CheckResult:
    got = ds.dataset(path, format="parquet",
                     partitioning=_GRAPH_PARTITIONING).to_table(columns=FINAL_COLS)
    distinct = got.group_by(FINAL_COLS).aggregate([])
    return CheckResult(
        rows=got.num_rows, triples=distinct.num_rows,
        extra=distinct.join(oracle, keys=FINAL_COLS, join_type="left anti").num_rows,
        missing=oracle.join(distinct, keys=FINAL_COLS, join_type="left anti").num_rows)


def table_files(path: str) -> list[str]:
    """The parquet data files of a table (not _SUCCESS or .crc)."""
    return [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
            if f.endswith(".parquet") and not f.startswith((".", "_"))]


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in table_files(path))
