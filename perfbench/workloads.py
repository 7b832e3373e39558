"""The four workloads and the operations each one runs.

Every operation is a ``build`` step (driver-side DataFrame construction,
including any eager jobs the engine runs while building), a timed ``action``
that materializes the result, and an untimed ``check`` of that result.

- ``sort``: the reference's pipeline on ``datagen.seeded_ints`` (the seed is
  the generator's seed): ``partition_sort`` (window 1), ``total_sort``
  (window 2), ``io.write_sorted`` to parquet (window 3), then ``ranked`` and
  ``top_k`` at the same N and ``hybrid.hybrid_ranked`` at a smaller N,
  because that kernel sorts in Python.
- ``relational``, ``pipeline``, ``streaming``: fixed lists of oracle-backed
  registry queries over tables generated from the seed.

Every list runs in a fixed order: the first op in a fresh JVM absorbs several
seconds of JIT warm-up, and a seed-dependent order would move that cost from
one op to another. The lists are short because a run also pays a cold JVM
start, and every workload runs twenty-odd times within the benchmark's time
budget.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Callable

import check

SORT_KEYS = ["value", "id"]  # id breaks value ties, so the total order is unique

RELATIONAL = (
    "rel_q1_pricing_summary",
    "rel_sql_q5_local_supplier",
    "rel_window_top_orders_per_segment",
    "sort_multikey_orders",
)
PIPELINE = ("graph_kcore", "vec_kmeans_centroids")
STREAMING = (
    "events_stream_tumbling",
    "events_stream_sessionize",
    "events_stream_dedup",
)
SORT_OPS = ("partition_sort", "total_sort", "write_sorted", "ranked", "top_k", "hybrid_ranked")

WORKLOADS = {
    "sort": SORT_OPS,
    "relational": RELATIONAL,
    "pipeline": PIPELINE,
    "streaming": STREAMING,
}


@dataclass(frozen=True)
class Scale:
    sf: float  # scale factor of the seeded tables
    sort_n: int  # rows for partition_sort, total_sort, write_sorted, ranked, top_k
    hybrid_n: int  # rows for hybrid_ranked
    top_k: int


FULL = Scale(sf=0.01, sort_n=500_000, hybrid_n=50_000, top_k=100)
TINY = Scale(sf=0.001, sort_n=40_000, hybrid_n=4_000, top_k=10)


@dataclass
class Op:
    name: str
    build: Callable[[], object]
    action: Callable[[object], object]
    check: Callable[[object, object], bool]


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def clear_caches(spark) -> None:
    """Drop catalog-cached frames and every persisted RDD (operators pin
    rounds with ``localCheckpoint``), so each op starts from the same state."""
    spark.catalog.clearCache()
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist()


def registry_ops(spark, names, sf_dir: str, con) -> dict[str, Op]:
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark import (
        queries as registry,
    )

    fns, oracles = registry.queries(), registry.oracle_sql()
    expected: dict[str, object] = {}

    def make(name: str) -> Op:
        def verify(_df, pdf) -> bool:
            if name not in expected:
                expected[name] = con.execute(oracles[name]).fetch_df()
            return check.same_result(pdf, expected[name])

        return Op(name, lambda: fns[name](spark, sf_dir), lambda df: df.toPandas(), verify)

    return {n: make(n) for n in names}


def sort_ops(spark, seed: int, scale: Scale, partitions: int, out_dir: str, con) -> dict[str, Op]:
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark import io
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.operators import (
        hybrid,
        sorting,
    )
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.sources import (
        datagen,
    )

    n, chunk = scale.sort_n, scale.sort_n // partitions
    if n % partitions:
        raise ValueError("sort_n must divide into equal partitions for the oracle's layout")
    src = f"({datagen.seeded_ints_sql(n, seed=seed)})"
    small = f"({datagen.seeded_ints_sql(scale.hybrid_n, seed=seed)})"
    expected: dict[str, object] = {}

    def oracle(key: str, relation: str, **kw):
        if key not in expected:
            expected[key] = check.oracle_checksum(con, relation, "pos", **kw)
        return expected[key]

    def total_order():
        return oracle("total", f"(SELECT *, row_number() OVER (ORDER BY value, id) AS pos FROM {src})")

    def ints(rows: int = n):
        return datagen.seeded_ints(spark, rows, seed=seed, num_partitions=partitions)

    def check_partition_sort(df, _):
        rel = f"(SELECT *, row_number() OVER (ORDER BY id // {chunk}, value, id) AS pos FROM {src})"
        return check.spark_ordered_checksum(df) == oracle("partition", rel)

    def check_written(path, _):
        got = check.written_checksum(con, path)
        shutil.rmtree(path, ignore_errors=True)
        return got == total_order()

    def check_top_k(_df, rows):
        want = con.execute(
            f"SELECT id, value FROM {src} ORDER BY value DESC, id DESC LIMIT {scale.top_k}"
        ).fetchall()
        return [(r["id"], r["value"]) for r in rows] == [tuple(w) for w in want]

    def check_hybrid(df, _):
        rel = f"(SELECT value, row_number() OVER (ORDER BY value) AS pos FROM {small})"
        got = check.spark_rank_checksum(df, "rnk", id_="value")
        return got == oracle("hybrid", rel, id_="value")

    sink = os.path.join(out_dir, "sorted")
    ops = [
        Op("partition_sort", lambda: sorting.partition_sort(ints(), SORT_KEYS), materialize,
           check_partition_sort),
        Op("total_sort", lambda: sorting.total_sort(ints(), SORT_KEYS), materialize,
           lambda df, _: check.spark_ordered_checksum(df) == total_order()),
        Op("write_sorted", lambda: sink, lambda path: io.write_sorted(ints(), path, SORT_KEYS),
           check_written),
        Op("ranked", lambda: sorting.ranked(ints(), SORT_KEYS), materialize,
           lambda df, _: check.spark_rank_checksum(df, "rnk") == total_order()),
        Op("top_k", lambda: sorting.top_k(ints(), SORT_KEYS, scale.top_k), lambda df: df.collect(),
           check_top_k),
        Op("hybrid_ranked", lambda: hybrid.hybrid_ranked(ints(scale.hybrid_n)), materialize,
           check_hybrid),
    ]
    return {op.name: op for op in ops}
