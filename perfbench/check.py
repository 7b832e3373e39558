"""Correctness checks, all run outside the timed window.

Registry queries are compared with their DuckDB oracle the way
``scripts/verify_driver.py`` compares them: columns sorted by name, equal row counts,
and an equal hash over the rows sorted by every column (floats rounded to 6
places). Sort operations are checked without collecting their N rows: both
Spark and DuckDB reduce the sorted relation to ``(count, Σ pos·h)`` where
``pos`` is the 1-based output position and ``h`` an integer hash of the row
that both engines compute with the same BIGINT arithmetic, so any misplaced
row changes the sum.
"""

from __future__ import annotations

import glob
import hashlib
import os

import duckdb
import pandas as pd

from gen import TABLES

# h(value, id) = (value * H_A + id * H_B) % H_M; inputs stay below 2^31 so the
# products fit in BIGINT and every sum below fits in DECIMAL(38, 0).
H_A, H_B, H_M = 1_000_003, 7_919, 1_048_573


def oracle_con(sf_dir: str | None, tmp_dir: str) -> duckdb.DuckDBPyConnection:
    """An in-memory DuckDB with a view per table of ``sf_dir`` (if given),
    spilling under ``tmp_dir`` and never fetching extensions."""
    con = duckdb.connect(
        config={
            "temp_directory": tmp_dir,
            "autoinstall_known_extensions": False,
            "autoload_known_extensions": False,
        }
    )
    for t in TABLES if sf_dir else ():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'")
    return con


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and pd.isna(v)):
        return "<NULL>"
    if isinstance(v, float):
        return repr(round(v, 6))
    return str(v)


def _value_hash(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for row in df.itertuples(index=False):
        h.update("|".join(_cell(v) for v in row).encode())
    return h.hexdigest()


def same_result(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> bool:
    s, o = _norm(spark_pdf), _norm(oracle_pdf)
    return (
        list(s.columns) == list(o.columns)
        and len(s) == len(o)
        and _value_hash(s) == _value_hash(o)
    )


def h_sql(value: str, id_: str) -> str:
    return f"(({value} * {H_A} + {id_} * {H_B}) % {H_M})"


def checksum_sql(relation: str, pos: str, value: str = "value", id_: str = "id") -> str:
    """DuckDB ``(count, Σ pos·h)`` over ``relation`` with position expression ``pos``."""
    return (
        f"SELECT count(*)::BIGINT, sum(CAST({pos} AS DECIMAL(38,0)) * {h_sql(value, id_)})"
        f"::DECIMAL(38,0) FROM {relation}"
    )


def oracle_checksum(con, relation: str, pos: str, value: str = "value", id_: str = "id"):
    n, s = con.execute(checksum_sql(relation, pos, value, id_)).fetchone()
    return int(n), int(s or 0)


def spark_ordered_checksum(df, value: str = "value", id_: str = "id") -> tuple[int, int]:
    """``(count, Σ pos·h)`` of ``df`` in its partition-concatenated order.

    Each partition reports its row count, Σh and Σ local_pos·h; the Spark
    driver turns local positions into global ones with the running partition offsets
    (global = offset + local), so only one small row per partition is
    collected."""
    from pyspark.sql import functions as F

    lrn = F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))
    h = (F.col(value) * F.lit(H_A) + F.col(id_) * F.lit(H_B)) % F.lit(H_M)
    dec = "decimal(38,0)"
    rows = (
        df.select(F.spark_partition_id().alias("pid"), lrn.alias("lrn"), h.alias("h"))
        .groupBy("pid")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("h").cast(dec)).alias("sh"),
            F.sum(F.col("lrn").cast(dec) * F.col("h").cast(dec)).alias("slh"),
        )
        .collect()
    )
    n_total, total, offset = 0, 0, 0
    for r in sorted(rows, key=lambda r: r["pid"]):
        total += int(r["slh"]) + (offset + 1) * int(r["sh"])
        offset += int(r["n"])
        n_total += int(r["n"])
    return n_total, total


def spark_rank_checksum(df, rank: str, value: str = "value", id_: str = "id") -> tuple[int, int]:
    """``(count, Σ rank·h)`` of a frame that carries its own rank column."""
    from pyspark.sql import functions as F

    h = (F.col(value) * F.lit(H_A) + F.col(id_) * F.lit(H_B)) % F.lit(H_M)
    dec = "decimal(38,0)"
    r = df.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.col(rank).cast(dec) * h.cast(dec)).alias("s")
    ).collect()[0]
    return int(r["n"]), int(r["s"] or 0)


def written_checksum(con, out_dir: str) -> tuple[int, int]:
    """``(count, Σ pos·h)`` of range-ordered parquet parts read back in
    file-name order, which is the order ``io.write_sorted`` promises."""
    files = sorted(glob.glob(os.path.join(out_dir, "part-*.parquet")))
    if not files:
        return 0, 0
    listing = ", ".join(f"'{f}'" for f in files)
    rel = (
        f"(SELECT value, id, row_number() OVER (ORDER BY filename, file_row_number) AS pos "
        f"FROM read_parquet([{listing}], filename=true, file_row_number=true))"
    )
    return oracle_checksum(con, rel, "pos")
