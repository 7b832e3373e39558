#!/usr/bin/env python
"""Benchmark harness — prints ONE JSON line for the driver.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS], mirroring the reference's benchmark methodology
(BASELINE.md): the synthetic seeded-int sort grid point at 4M rows (the
reference's largest size, README.md:17) plus the table-sort headliners, with
the reference's three timing windows where applicable:

  window 1: per-partition sort only (mirrors MPI_Wtime around local quicksort,
            QuickInsertionHeap.c:205-209)
  window 2: total order (sort + distributed merge-by-range — the whole query)
  window 3: end-to-end including sink write

Each timed run materializes via the `noop` sink (full execution, no output
cost) except the explicit sink window.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.session import (  # noqa: E402
    get_spark,
)


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def clear_caches(spark) -> None:
    """Drop persisted relations left behind by the previous query (the
    near-dup/LSH operators persist their candidate relations for the
    duration of their own execution). Without this, cached blocks pile up
    across the ~90 timed queries and later queries — measured on the
    streaming ones — run ~3× slower than in isolation.

    ``clearCache`` only covers catalog-cached DataFrames; the
    ``localCheckpoint`` RDDs that connected-components and kmeans_fit pin
    per round stay registered with the block manager for the session
    (classic PySpark never detaches them), so they are unpersisted
    explicitly via the JVM's persistent-RDD registry."""
    try:
        spark.catalog.clearCache()
    except Exception:
        pass
    try:
        jrdds = spark.sparkContext._jsc.getPersistentRDDs()
        for jrdd in jrdds.values():
            jrdd.unpersist()
    except Exception:
        pass


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return round(time.perf_counter() - t0, 4)


def calibrate_ms() -> float:
    """Fixed single-thread spin (~0.3 s nominal): a machine-health probe.
    This host is a shared microVM — transient hypervisor steal has been
    measured inflating identical queries 5-10×. Emitting the probe at bench
    start and end makes a contaminated run VISIBLE in the JSON (compare
    calib_ms across runs/rounds) instead of silently skewing totals."""
    t0 = time.perf_counter()
    x = 0
    for i in range(10_000_000):
        x += i
    assert x  # keep the loop un-optimizable
    return round((time.perf_counter() - t0) * 1000, 1)


def wait_for_quiet_window() -> tuple[float, float, bool]:
    """Refuse to START measuring inside a hypervisor-steal window (VERDICT
    r08 item 7: the recorded r08 bench landed in the day's worst steal
    window and produced 56 spurious regression flags). Probes until the
    calibration spin drops below SPARK_GRAFT_CALIB_MAX_MS (default 350 ms,
    ~1.15× the ~310 ms quiet baseline), sleeping between probes, for at
    most SPARK_GRAFT_CALIB_WAIT_S (default 420 s). If the window never
    quiets, measurement proceeds anyway — the driver must get its JSON
    line — but the summary carries calib_quiet_start=false so the run is
    self-labelled as contaminated instead of masquerading as a regression.

    Returns (last_probe_ms, waited_seconds, quiet)."""
    max_ms = float(os.environ.get("SPARK_GRAFT_CALIB_MAX_MS", "350"))
    # Budget chosen so a never-quiet host costs ~7 min of waiting worst
    # case (observed 2026-08-15: all-afternoon 370-500 ms jitter whose
    # floor dips below the early-bail line) — the wait must never risk a
    # driver-side timeout truncating the round's recorded artifact, which
    # would be strictly worse than a self-labelled contaminated run.
    budget_s = float(os.environ.get("SPARK_GRAFT_CALIB_WAIT_S", "420"))
    t0 = time.perf_counter()
    probes = [calibrate_ms()]
    while probes[-1] > max_ms and (time.perf_counter() - t0) < budget_s:
        # Persistently far above threshold (8 probes ≈ 4 min, best still
        # >15% over) means sustained steal or elevated ambient that more
        # waiting is unlikely to fix; bail early instead of burning the
        # budget, still labelled non-quiet. Near-threshold jitter keeps
        # waiting — those windows do close.
        if len(probes) >= 8 and min(probes) > 1.15 * max_ms:
            print(
                f"# calib floor {min(probes)} ms after {len(probes)} probes "
                f"(threshold {max_ms}) — persistent, proceeding (non-quiet)",
                file=sys.stderr,
            )
            break
        print(
            f"# calib probe {probes[-1]} ms > {max_ms} ms — steal window, waiting",
            file=sys.stderr,
        )
        time.sleep(30)
        probes.append(calibrate_ms())
    return probes[-1], round(time.perf_counter() - t0, 1), probes[-1] <= max_ms


def query_eras(now_iso: str) -> dict[str, str]:
    """Per-query CODE-ERA start times for the regression gate (VERDICT r09
    item 5): history samples recorded before a query's current
    implementation landed must not set its bar — `rel_approx_quantiles`
    re-flagged two rounds running purely because 19 pre-r08-promotion
    samples (~0.66 s) dominated the median against its post-promotion
    ~2.4 s reality.

    Mechanism: fingerprint each registry query (sha1 of its source + its
    oracle SQL) into BENCH_ERAS.json as {query: {fp, since}}. A changed
    fingerprint resets `since` to this run's timestamp; the gate then
    only reads history rows with ts >= since. Queries not in the sidecar
    (new, or first run after this feature) start a fresh era NOW — a new
    query has no valid history by definition. Non-registry cells
    (synthetic grid, skew counterparts) keep their full history: their
    code lives in this file and changes are reviewed with the bench
    itself. Docstring-only edits reset an era too — conservative (loses
    a few samples), never wrong (keeps a stale bar)."""
    import hashlib
    import inspect

    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark import (
        queries as registry,
    )

    path = Path(__file__).resolve().parent / "BENCH_ERAS.json"
    eras: dict[str, dict[str, str]] = {}
    if path.exists():
        try:
            eras = json.loads(path.read_text())
        except (OSError, json.JSONDecodeError) as exc:
            print(f"bench: era sidecar unreadable, resetting: {exc}", file=sys.stderr)
    oracles = registry.oracle_sql()
    for name, fn in registry.queries().items():
        try:
            src = inspect.getsource(fn)
        except (OSError, TypeError):
            src = name
        fp = hashlib.sha1((src + (oracles.get(name) or "")).encode()).hexdigest()[:10]
        cur = eras.get(name)
        if cur is None or cur.get("fp") != fp:
            eras[name] = {"fp": fp, "since": now_iso}
    try:
        path.write_text(json.dumps(eras, indent=1, sort_keys=True) + "\n")
    except OSError as exc:
        print(f"bench: could not write {path}: {exc}", file=sys.stderr)
    return {k: v["since"] for k, v in eras.items()}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(Path(sf_dir).name.replace("sf", ""))
    except ValueError:
        sf = -1.0  # unknown scale factor; keep the JSON line parseable
    calib_start, calib_waited_s, calib_quiet = wait_for_quiet_window()
    spark = get_spark("phsqis-bench")

    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark import (
        queries as registry,
    )
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.operators import (
        sorting,
    )
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.sources import (
        datagen,
        tables,
    )

    # Warm up the JVM / parquet footer cache so startup cost isn't billed to q1.
    spark.range(1000).count()
    tables.load_table(spark, sf_dir, "lineitem").count()

    times: dict[str, float] = {}
    # Every headline cell is the MEDIAN of q_reps runs (r05 lesson: on this
    # ±20%-steal microVM, single-rep cells made two ordinary queries look
    # like 1.5× regressions and cost an hour of forensics — the medians
    # across BENCH_HISTORY showed both were noise). Full rep lists are kept
    # in BENCH_DETAIL.json under "query_reps". A cell whose first rep
    # exceeds _REP_CAP_SEC stays single-rep (cost control; none today).
    q_reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_QREPS", "3")))
    _REP_CAP_SEC = 20.0
    query_reps: dict[str, list[float]] = {}

    def timed_median(name: str, fn, cleanup=None) -> float:
        reps: list[float] = []
        for i in range(q_reps):
            if cleanup is not None:
                cleanup()
            try:
                reps.append(timed(fn))
            except Exception as exc:
                reps.append(-1.0)
                print(f"bench query {name} failed: {exc}", file=sys.stderr)
                break  # a failing cell is not retried
            if reps[0] > _REP_CAP_SEC:
                break
        query_reps[name] = reps
        ok = sorted(r for r in reps if r > 0)
        return ok[len(ok) // 2] if ok else -1.0

    # --- reference grid point: 4M seeded ints (BASELINE.md bench 1) ---------
    n = int(os.environ.get("SPARK_GRAFT_BENCH_N", "4000000"))
    gen = lambda: datagen.seeded_ints(spark, n, modulus=datagen.DIST_B_MOD, seed=42)  # noqa: E731
    times["synthetic_partition_sort_4m"] = timed_median(
        "synthetic_partition_sort_4m",
        lambda: materialize(sorting.partition_sort(gen(), ["value"])),
    )
    times["synthetic_total_sort_4m"] = timed_median(
        "synthetic_total_sort_4m",
        lambda: materialize(sorting.total_sort(gen(), ["value", "id"])),
    )
    sink_dir = "/tmp/phsqis_bench_sorted"
    times["synthetic_sort_write_4m"] = timed_median(
        "synthetic_sort_write_4m",
        lambda: sorting.total_sort(gen(), ["value", "id"])
        .write.mode("overwrite")
        .parquet(sink_dir),
    )
    times["synthetic_topk_4m"] = timed_median(
        "synthetic_topk_4m",
        lambda: sorting.top_k(gen(), ["value", "id"], 100).collect(),
    )

    # --- the reference's FULL experiment grid (README.md:17-19): dataset
    # sizes × processor counts {4,8,16,24}, with execution time per cell and
    # derived speedup/efficiency per size (vs the P=1 serial run, the
    # textbook definition the reference's metrics section names). P maps to
    # partition count: both the generator's input partitions and
    # spark.sql.shuffle.partitions for the range exchange.
    grid_sizes = (1_000, 50_000, 100_000, 1_000_000, 2_000_000, 4_000_000)
    grid_procs = (1, 4, 8, 16, 24)
    run_grid = os.environ.get("SPARK_GRAFT_BENCH_GRID", "1") != "0"
    # single-shot cells on this shared microVM flap 2-3× between identical
    # runs (hypervisor steal, GC); the recorded cell time is the MEDIAN of
    # N reps so a one-off stall can't masquerade as a perf regression
    grid_reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    grid: dict[str, dict[str, dict[str, float]]] = {}
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    if run_grid:
        for size in grid_sizes:
            cell: dict[str, dict[str, float]] = {}
            for p in grid_procs:
                spark.conf.set("spark.sql.shuffle.partitions", str(p))
                # one failed cell must not cost the driver the whole JSON
                # line (same contract as the registry loop below)
                reps: list[float] = []
                for _ in range(grid_reps):
                    try:
                        reps.append(
                            timed(
                                lambda: materialize(
                                    sorting.total_sort(
                                        datagen.seeded_ints(
                                            spark, size, modulus=datagen.DIST_B_MOD,
                                            seed=42, num_partitions=p,
                                        ),
                                        ["value", "id"],
                                    )
                                )
                            )
                        )
                    except Exception as exc:
                        reps.append(-1.0)
                        print(f"bench grid n{size} p{p} failed: {exc}", file=sys.stderr)
                ok_reps = sorted(r for r in reps if r > 0)
                t = ok_reps[len(ok_reps) // 2] if ok_reps else -1.0
                times[f"grid_total_sort_n{size}_p{p}"] = t
                cell[f"p{p}"] = {"sec": t, "reps": reps}
            t1 = cell["p1"]["sec"]
            for p in grid_procs:
                tp = cell[f"p{p}"]["sec"]
                ok = tp > 0 and t1 > 0
                cell[f"p{p}"]["speedup"] = round(t1 / tp, 3) if ok else -1.0
                cell[f"p{p}"]["efficiency"] = (
                    round(t1 / (p * tp), 3) if ok else -1.0
                )
            grid[f"n{size}"] = cell
    spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

    # --- the quickThreshold experiment (quickThreshold.c:187-194): the
    # hybrid kernel's insertion-sort switch swept over {1, 25, 1000} on a
    # fixed 200k-row seed-42 input (threshold 1 = pure quicksort,
    # 25 = the reference default, 1000 = insertion-heavy)
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.operators import (
        hybrid,
    )

    for t_switch in (1, 25, 1000):
        times[f"hybrid_threshold_t{t_switch}"] = timed_median(
            f"hybrid_threshold_t{t_switch}",
            lambda t_switch=t_switch: materialize(
                hybrid.hybrid_ranked(
                    datagen.seeded_ints(spark, 200_000, modulus=datagen.DIST_B_MOD, seed=42),
                    threshold=t_switch,
                    num_partitions=8,
                )
            ),
        )

    # --- skew-mitigation bench pair: the salted forms are timed with the
    # registry queries below; these unsalted counterparts quantify the win
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.suites import (
        skewq,
    )

    for key, fn in (
        ("skew_plain_agg", skewq.skew_plain_agg),
        ("skew_plain_join", skewq.skew_plain_join),
    ):
        times[key] = timed_median(key, lambda fn=fn: materialize(fn(spark, sf_dir)))

    # r08: the pairs where salting/two-phase actually WIN (suites/skewq.py
    # r08 comment block: hot-partition Window and full-outer skew are the
    # stragglers AQE cannot split; the inner-join/distinct pairs above are
    # the documented negative result). Generated 8M-row hot relation.
    for key, fn in (
        ("skew_plain_window_gen", skewq.skew_plain_window_gen),
        ("skew_twophase_window_gen", skewq.skew_twophase_window_gen),
        ("skew_plain_outer_gen", skewq.skew_plain_outer_gen),
        ("skew_salted_outer_gen", skewq.skew_salted_outer_gen),
    ):
        times[key] = timed_median(key, lambda fn=fn: materialize(fn(spark)))

    # --- registry headline queries at sf_dir (BASELINE.md bench 2 + breadth)
    # Fresh JVM for this section: the synthetic grid + sweeps above run ~40
    # timed jobs whose accumulated heap/GC debt would otherwise be billed to
    # the registry queries (measured: up to +40% on unrelated queries late
    # in a shared JVM). Each section now measures its own work only.
    spark.stop()
    spark = get_spark("phsqis-bench-registry")
    spark.range(1000).count()
    tables.load_table(spark, sf_dir, "lineitem").count()
    # Warm the Structured Streaming + stateful-pandas machinery (streaming
    # planner, state store provider, checkpoint WAL, Arrow state workers):
    # one micro-run of the stateful runner over the tiny sf0.001 events
    # file. Without this the FIRST streaming registry query is billed ~5 s
    # of one-time init that belongs to the JVM, not the query (round 1
    # accounted the same init under an earlier query in its shared JVM).
    try:
        from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.streaming import (
            stateful as _stateful,
        )

        _tiny = "/root/testdata/sf0.001/events.parquet"
        _warm_src = _tiny if os.path.exists(_tiny) else f"{sf_dir}/events.parquet"
        _stateful.run_user_profile_stream(spark, _warm_src, n_chunks=1).count()
    except Exception as exc:
        print(f"bench streaming warmup failed (continuing): {exc}", file=sys.stderr)
    skip = {"sort_seeded_ints"}  # fixed-N duplicate of the synthetic grid point
    for name, fn in registry.queries().items():
        if name in skip:
            continue
        times[name] = timed_median(
            name,
            lambda fn=fn: materialize(fn(spark, sf_dir)),
            cleanup=lambda: clear_caches(spark),
        )

    total = round(sum(t for t in times.values() if t > 0), 4)
    # Round-over-round comparability: the headline total grows every round
    # because the QUERY SET grows (round 1 timed 47 keys; this file now times
    # ~90). Also emit the subtotal over exactly the keys BENCH_r01.json
    # timed, so "did the same work get faster?" is a one-number read.
    # Excluded from the comparable set despite existing in round 1, because
    # their round-2 computation is a different QUERY, not the same work
    # faster/slower: dedup_simhash (candidate completeness fix changed
    # chunks/threshold → different pair set) and vec_lsh_near_dup (fixed
    # nbits=12 → corpus-scaled auto-nbits → different signature width).
    # dedup_minhash_lsh is excluded because the cell no longer exists: it
    # folded into dedup_minhash_portable, and keeping the key would make the
    # subtotal fall by a deleted cell's time, not by faster work.
    # Impl-only changes with identical results (stream sinks memory →
    # foreachBatch, GEMM sizing-count removal) stay in: that IS the
    # round-over-round performance delta.
    r01_keys = {
        "synthetic_partition_sort_4m", "synthetic_total_sort_4m",
        "synthetic_sort_write_4m", "synthetic_topk_4m",
        "sort_total_lineitem", "sort_topk_lineitem",
        "sort_hybrid_quickinsertion", "sort_multikey_orders",
        "sort_within_partitions", "rel_q1_pricing_summary",
        "rel_join_revenue_by_nation", "rel_window_top_orders_per_segment",
        "rel_semi_anti_join", "rel_set_operations", "rel_scalar_functions",
        "rel_rollup_customers", "rel_distinct_aggregates", "rel_outer_join",
        "rel_sql_q3_shipping_priority", "rel_percentiles", "rel_histogram",
        "rel_cube_orders", "text_analysis", "text_token_frequency",
        "dedup_exact", "dedup_ngram_jaccard",
        "vec_cosine_topk", "vec_exact_near_dup",
        "vec_ivf_topk", "vec_label_centroids",
        "events_tumbling_window", "events_sliding_window",
        "events_sessionize", "events_json_props",
        "events_stream_user_profile", "events_stream_tumbling",
        "events_asof_join", "events_range_join", "mm_metadata_summary",
        "mm_frame_inventory", "mm_byte_features", "mm_frame_sample",
    }
    comparable = round(
        sum(t for k, t in times.items() if k in r01_keys and t > 0), 4
    )
    calib_end = calibrate_ms()

    # Regression gate vs the BENCH_HISTORY **median** (not the single
    # previous run — r05's false alarms came from comparing one noisy run
    # to one other run). For every query with >=3 recorded same-sf samples,
    # flag a >=1.3x median-vs-median deviation; purely a visibility report,
    # the driver JSON stays parseable either way.
    history_path = Path(__file__).resolve().parent / "BENCH_HISTORY.jsonl"
    regressions: dict[str, dict] = {}
    try:
        from datetime import datetime, timezone

        now_iso = datetime.now(timezone.utc).isoformat(timespec="seconds")
        # code-era filter (VERDICT r09 item 5): a query whose implementation
        # changed gets a fresh bar — pre-change samples are a different
        # query's timings, not history
        era_since = query_eras(now_iso)
        hist_samples: dict[str, list[float]] = {}
        if history_path.exists():
            for line_txt in history_path.read_text().splitlines():
                try:
                    rec = json.loads(line_txt)
                except json.JSONDecodeError:
                    continue
                if rec.get("sf") != sf:
                    continue
                ts = rec.get("ts", "")
                for k, v in rec.get("queries", {}).items():
                    if isinstance(v, (int, float)) and v > 0 and ts >= era_since.get(k, ""):
                        hist_samples.setdefault(k, []).append(float(v))
        for k, t in times.items():
            samples = sorted(hist_samples.get(k, []))
            if t <= 0 or len(samples) < 3:
                continue
            med = samples[len(samples) // 2]
            # streaming measurement floor (VERDICT r09 item 7): micro-batch
            # + state-store setup is a fixed ~2-5 s cost, making the
            # events_stream_* family the most steal-amplified shape in the
            # suite — 7 of r09's 14 recorded flags were streaming cells
            # whose code was untouched since r08 (user_profile hit 4.5×
            # with identical code). A streaming cell therefore flags only
            # at >=2.0× AND >=2 s over its era median; anything between
            # 1.3× and the floor is ambient steal by the measured record.
            is_streaming = k.startswith("events_stream_")
            ratio_bar = 2.0 if is_streaming else 1.3
            delta_bar = 2.0 if is_streaming else max(0.25, 0.15 * med)
            # absolute-delta floor: sub-second grid microcells sit at this
            # machine's timing noise floor, where a 1.3x ratio is a few
            # hundred milliseconds of scheduler jitter — the r06 close run
            # flagged 11 such cells with deltas under 0.25s. A regression
            # must clear BOTH the ratio and a median-scaled slice of real
            # time (ADVICE r06: a flat 0.5s floor silenced any regression
            # on cells with median under ~1.7s — e.g. 1.0s -> 1.45s; the
            # max(0.25, 0.15*med) form keeps the jitter guard on
            # microcells without blinding the 1-2s band).
            if med > 0 and t / med >= ratio_bar and t - med >= delta_bar:
                regressions[k] = {
                    "sec": round(t, 3),
                    "hist_median": round(med, 3),
                    "ratio": round(t / med, 2),
                    "n_hist": len(samples),
                    "era_since": era_since.get(k, ""),
                    "family": "streaming" if is_streaming else "batch",
                }
    except OSError as exc:
        print(f"bench: history read failed: {exc}", file=sys.stderr)

    detail = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "cpus": spark.sparkContext.defaultParallelism,
        "r01_comparable_total": comparable,
        "r01_comparable_baseline": 69.2,  # same keys' total in BENCH_r01.json
        # machine-health probes (see calibrate_ms / wait_for_quiet_window):
        # compare across runs —
        # a run whose calib numbers are multiples of another's measured the
        # hypervisor, not the engine
        "calib_ms_start": calib_start,
        "calib_ms_end": calib_end,
        "calib_quiet_start": calib_quiet,
        "calib_waited_s": calib_waited_s,
        # per-cell rep lists backing each median (q_reps per cell)
        "query_reps": query_reps,
        "q_reps": q_reps,
        # >=1.3x vs the BENCH_HISTORY same-sf median (empty = no regression)
        "regressions_vs_history": regressions,
    }
    if run_grid:
        detail["grid"] = grid  # per-size speedup/efficiency over the P axis

    # The driver keeps only the LAST ~2000 chars of output and parses them
    # as JSON (BENCH_r02/r03 recorded `parsed: null` because the single
    # ~7 KB line was truncated mid-structure). Emission contract:
    #   1. the full detail goes to BENCH_DETAIL.json next to this script
    #      (a persistent artifact) AND to an early stdout line for logs;
    #   2. the FINAL stdout line is a compact summary guaranteed to fit the
    #      capture window: headline totals, the comparable subtotal, calib
    #      probes, and the slowest queries (2 dp) — everything needed to
    #      audit a perf claim without the detail file.
    detail_path = Path(__file__).resolve().parent / "BENCH_DETAIL.json"
    try:
        detail_path.write_text(json.dumps(detail, indent=1) + "\n")
    except OSError as exc:
        print(f"bench: could not write {detail_path}: {exc}", file=sys.stderr)
    print(json.dumps(detail, separators=(",", ":")))

    # Per-run history: ONE appended line per bench invocation, so any round
    # can diff per-query times against any earlier round without relying on
    # the driver's truncated capture or a single overwritten detail file.
    # Filter by "sf" when comparing (smoke runs at sf0.01 append too);
    # always read the calib probes before believing a delta.
    history_path = Path(__file__).resolve().parent / "BENCH_HISTORY.jsonl"
    try:
        from datetime import datetime, timezone

        hist = {
            "ts": datetime.now(timezone.utc).isoformat(timespec="seconds"),
            "round": os.environ.get("SPARK_GRAFT_ROUND"),
            "sf": sf,
            "cpus": spark.sparkContext.defaultParallelism,
            "total": total,
            "r01_comparable_total": comparable,
            "calib_ms_start": calib_start,
            "calib_ms_end": calib_end,
            "calib_quiet_start": calib_quiet,
            "queries": {k: round(t, 4) for k, t in times.items()},
        }
        with history_path.open("a") as fh:
            fh.write(json.dumps(hist, separators=(",", ":")) + "\n")
    except OSError as exc:
        print(f"bench: could not append {history_path}: {exc}", file=sys.stderr)

    slowest = dict(
        sorted(
            ((k, round(t, 2)) for k, t in times.items() if t > 0),
            key=lambda kv: -kv[1],
        )[:15]
    )
    summary = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "cpus": spark.sparkContext.defaultParallelism,
        "n_queries": sum(1 for t in times.values() if t > 0),
        "n_failed": sum(1 for t in times.values() if t < 0),
        "q_reps": q_reps,
        "n_regressions_vs_history": len(regressions),
        "queries": slowest,  # the 15 slowest; full map in BENCH_DETAIL.json
        "synthetic_total_sort_4m": times.get("synthetic_total_sort_4m"),
        "r01_comparable_total": comparable,
        "r01_comparable_baseline": 69.2,
        "calib_ms_start": calib_start,
        "calib_ms_end": calib_end,
        "calib_quiet_start": calib_quiet,
        "calib_waited_s": calib_waited_s,
        "detail": "BENCH_DETAIL.json",
    }
    line = json.dumps(summary, separators=(",", ":"))
    if len(line) > 1900:  # never exceed the driver's capture window
        summary["queries"] = dict(list(slowest.items())[:5])
        line = json.dumps(summary, separators=(",", ":"))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
