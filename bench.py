#!/usr/bin/env python
"""Headline benchmark for the PySpark engine (driver contract).

Runs a representative slice of the query registry at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q1_pricing_summary": sec, ...}, "sf": 0.1}

``sf`` is null when the directory is not named ``sf<number>`` (a
``tools/make_sf1.py`` output, say).

Each query is forced end-to-end with the ``noop`` sink (computes every
column/row, no driver collect) so the timing reflects the distributed
plan, not a ``count()`` shortcut that Catalyst could prune. ``reset``,
``force``, ``warm`` and ``time_query`` are that protocol; the timing
tools under ``tools/`` call them.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pygdf_spark import get_spark
from pygdf_spark.queries import registry

# One headline per operator family (SURVEY.md §2 / §7 build phases).
HEADLINE = [
    "q1_pricing_summary",   # scan→filter→agg→sort (TPC-H Q1 shape)
    "q6_forecast_revenue",  # pushdown-heavy filter + global agg
    "join_inner_q3",        # 3-way join + agg + top-k
    "join_full_outer",      # shuffle join
    "agg_basic_stats",      # wide grouped agg
    "agg_quantiles",        # sort-based agg path
    "win_rolling_time",     # range-frame window
    "win_rank_methods",     # rank pack over window
    "reshape_pivot",        # pivot
    "dedup_keep_first",     # window dedup
    "str_regex_pack",       # string/regex expressions
    "dt_extract_pack",      # datetime expressions
    "text_token_stats",     # LLM text analysis
    "dedup_minhash_lsh",    # MinHash+LSH near-dup
    "sim_cosine_topk",      # embedding similarity top-k
    "stream_tumbling_window",  # event-time windowed agg (batch semantics)
    "udf_apply_rows_charge",   # Arrow-batched pandas UDF path
    "sstream_tumbling_live",   # real readStream → memory sink
    "asof_join_events",        # distributed as-of join
    "sim_ivf_topk",            # bucketed (IVF-style) ANN
    "join_salted_skew",        # skew-salted join
    "q5_local_supplier_volume",   # TPC-H Q5: 6-way join + grouped agg
    "q9_product_profit",          # TPC-H Q9: wide join + 2-key agg
    "q18_large_volume_customer",  # TPC-H Q18: having-agg + join + top-k
    "mm_image_decode_png",        # real PNG decode via mapInPandas (r5)
]


WARM_DIR = "/root/testdata/sf0.001"


def reset(spark) -> None:
    """Drop what an earlier run left behind: persisted frames and
    memory-sink tables (min-of-N must measure the plan, not a cache hit
    on its own intermediate). Launches no Spark job (``SHOW VIEWS`` is a
    local command; ``catalog.listTables`` would run 1 + one per view), so
    a job count taken around a timed attempt sees only the query's."""
    spark.catalog.clearCache()
    for v in spark.sql("SHOW VIEWS LIKE 'pygdf_stream_sink*'").collect():
        if v.isTemporary:
            spark.catalog.dropTempView(v.viewName)


def force(df) -> None:
    """Run ``df`` end to end through the ``noop`` sink."""
    df.write.format("noop").mode("overwrite").save()


def warm(spark, fns) -> None:
    """Run each ``fn(spark, sf_dir)`` once at the smallest SF, then
    ``reset``, so the timed runs measure execution, not first-run class
    loading: each query compiles its own wholestage-codegen classes
    (sf0.001 is ~1% of the timed data; at steady state on a cluster
    these classes are compiled once per executor lifetime, which is what
    a timed run should reflect)."""
    if os.path.isdir(WARM_DIR):
        for fn in fns:
            try:
                force(fn(spark, WARM_DIR))
            except Exception:
                pass  # a warm-up failure must never block the timed run
    reset(spark)


def time_query(spark, fn, sf_dir: str, runs: int) -> list[float]:
    """Wall seconds of ``runs`` attempts of ``force(fn(spark, sf_dir))``;
    each attempt starts from ``reset``, outside the timed region."""
    samples = []
    for _ in range(runs):
        reset(spark)
        t0 = time.perf_counter()
        force(fn(spark, sf_dir))
        samples.append(time.perf_counter() - t0)
    return samples


def scale_factor(sf_dir: str) -> float | None:
    """The SF of a ``sf<number>`` directory, else None."""
    m = re.fullmatch(r"sf(\d+(?:\.\d+)?)", os.path.basename(sf_dir.rstrip("/")))
    return float(m.group(1)) if m else None


def _veneer_merge(spark, sf_dir):
    """Compat-surface merge: orders ⋈ customer with suffixes (the
    round-2 verdict asked for the veneer itself to be benched so the
    order-discipline rewrite is regression-measured)."""
    import pygdf_spark as gd

    o = gd.from_spark(spark.read.parquet(os.path.join(sf_dir, "orders.parquet")))
    c = gd.from_spark(spark.read.parquet(os.path.join(sf_dir, "customer.parquet")))
    return o.merge(c, left_on="o_custkey", right_on="c_custkey", how="inner")._sdf


def _veneer_sort_head(spark, sf_dir):
    """Compat-surface sort_values (distributed re-key via sampled
    boundaries) + head."""
    import pygdf_spark as gd

    li = gd.from_spark(spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")))
    return li.sort_values(["l_extendedprice", "l_orderkey"], ascending=[False, True]).head(100)._sdf


def _veneer_groupby_agg(spark, sf_dir):
    """Compat-surface groupby().agg dict form."""
    import pygdf_spark as gd

    li = gd.from_spark(spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")))
    return li.groupby("l_returnflag").agg(
        {"l_quantity": ["sum", "mean"], "l_extendedprice": ["sum", "max"]}
    )._sdf


# Benchmarked separately from HEADLINE so the headline total stays
# round-over-round comparable; reported under "veneer" in the JSON.
VENEER_BENCH = {
    "veneer_merge": _veneer_merge,
    "veneer_sort_head": _veneer_sort_head,
    "veneer_groupby_agg": _veneer_groupby_agg,
}

# Mid-r6 operators, also benchmarked OUTSIDE the headline total (same
# comparability rule); registry names, reported under "extra".
EXTRA_BENCH = [
    "nlp_bpe_train",          # distributed BPE merge training
    "events_multires_rollup", # hypertable GROUPING SETS rollup
    "text_pmi_bigrams",       # PMI collocation mining
    "ml_gram_suffstats",      # Gram-matrix sufficient statistics
    "io_warc_roundtrip",      # Common Crawl shard write+read
    # late-r6 operators (same outside-headline rule):
    "lake_merge_upsert",      # deltalite MERGE INTO (CDC upsert)
    "lake_file_skipping",     # stats-pruned snapshot scan
    "mm_gif_frames",          # animated-GIF LZW decode + frame sample
    "sample_epoch_shuffle",   # deterministic per-epoch permutation
    # this-session operators (same outside-headline rule):
    "lake_delete_dv",         # deletion-vector DELETE + merge-on-read scan
    "dedup_substring_remove", # exact substring dedup with span removal
    "ml_quality_score_apply", # hashed-ngram linear quality scoring
    "text_lm_perplexity",     # self-trained bigram-LM perplexity filter
    # r7 operators (same outside-headline rule):
    "lake_replace_where",     # predicate-scoped atomic overwrite (backfill)
    "nlp_bpe_train_fast",     # 1-job exact BPE at 48 merges
    "io_csv_options",         # positional CSV options via indexed text
    "lake_partition_prune",   # hive partitions: metadata-only DELETE + prune
    "lake_update_where",      # copy-on-write UPDATE with touch detection
    # r7 close-out operators (same outside-headline rule):
    "lake_column_mapping",    # metadata-only RENAME/DROP + translated scan
    "lake_shallow_clone",     # zero-copy clone + divergent DML
    "graph_bfs_hops",         # multi-source frontier BFS
    "profile_documents",      # one-pass column profiler
    "mm_jpeg_decode",         # baseline JPEG Huffman/IDCT decode
    "events_ewma_trend",      # exact integer Holt smoothing per series
    "sstream_lake_merge_live",  # streaming CDC MERGE apply
    "lake_type_widening",     # metadata-only ALTER COLUMN TYPE
    # r7 continuation operators (same outside-headline rule):
    "mm_video_mjpeg",         # AVI/MJPEG container + JPEG frame decode
    "mm_audio_spectrogram",   # per-frame rfft spectral features
    "lake_partition_evolution",  # spec evolution + hybrid metadata/DV DML
    "lake_sql_surface",       # SQL DELETE/UPDATE/INSERT/OPTIMIZE dispatch
    "lake_copy_into",         # idempotent bulk-file ingestion
    # r8 additions (r7 verdict #1: the iterative ML operators were the
    # last unmeasured query paths; same outside-headline rule):
    "ml_logreg_grad0",        # hashed-ngram featurize + first GD step
    "sim_kmeans_ivf",         # distributed Lloyd's k-means (2 iters)
]


def _load_gate() -> dict:
    """Load-gated protocol (r4 verdict task #5): wall-clock on this host
    is tenancy-dominated (r2→r4 totals moved 30% on byte-identical query
    code), so a run only counts as comparable when it STARTS on a quiet
    host. Spin-wait (before the session exists — the JVM's own threads
    inflate load1) until load1 < threshold or the budget runs out, then
    proceed either way and record the evidence; failing loud would leave
    the round without a BENCH file at all."""
    threshold = float(os.environ.get("SPARK_GRAFT_LOAD_GATE", "2.0"))
    budget = float(os.environ.get("SPARK_GRAFT_LOAD_WAIT", "300"))
    t0 = time.time()
    load = os.getloadavg()[0]
    while load >= threshold and time.time() - t0 < budget:
        time.sleep(10)
        load = os.getloadavg()[0]
    return {
        "threshold": threshold,
        "met": load < threshold,
        "waited_s": round(time.time() - t0, 1),
        "load1_after_wait": round(load, 2),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = scale_factor(sf_dir)
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
    gate = _load_gate()
    spark = get_spark("pygdf-spark-bench")
    queries, _ = registry()
    warm(spark, [queries[n] for n in HEADLINE if n in queries])

    # Per-query time = min of N consecutive runs (N=5 by default, r4
    # verdict task #5; bursty external load is documented in SCALING.md:
    # identical code measured 19s and 36s totals back-to-back). A single
    # sample conflates neighbor noise with plan cost; min-of-N reads the
    # steady-state execution the plan actually buys, and the per-query
    # SPREAD (max − min over the N samples) is recorded so residual
    # tenancy inflation carries its own evidence in the artifact.
    load_start = os.getloadavg()[0]

    def _timed(fn) -> tuple[float, float]:
        samples = time_query(spark, fn, sf_dir, n_runs)
        return min(samples), max(samples) - min(samples)

    # Re-run rule (r5 verdict Next #7): a min-of-N with spread > 50% of
    # its min is not evidence of anything (the r5 artifact's 6.87s-spread
    # dedup_minhash_lsh row on a 2.4s min) — re-gate on load and re-run
    # that query's batch, up to twice; keep the global min and the
    # quietest batch's spread, and record the re-run count as evidence.
    def _regate() -> None:
        threshold = float(os.environ.get("SPARK_GRAFT_LOAD_GATE", "2.0")) + 0.5
        t0 = time.time()
        while os.getloadavg()[0] >= threshold and time.time() - t0 < 60:
            time.sleep(5)

    times: dict[str, float] = {}
    spread: dict[str, float] = {}
    reruns: dict[str, int] = {}
    for name in HEADLINE:
        fn = queries.get(name)
        if fn is None:
            continue
        best, sp = _timed(fn)
        n_rerun = 0
        while sp > 0.5 * best and n_rerun < 2:
            _regate()
            b2, s2 = _timed(fn)
            best = min(best, b2)
            sp = min(sp, s2)
            n_rerun += 1
        times[name] = round(best, 4)
        spread[name] = round(sp, 4)
        if n_rerun:
            reruns[name] = n_rerun

    veneer: dict[str, float] = {}
    for name, fn in VENEER_BENCH.items():
        best, _sp = _timed(fn)
        veneer[name] = round(best, 4)

    extra: dict[str, float] = {}
    for name in EXTRA_BENCH:
        fn = queries.get(name)
        if fn is None:
            continue
        best, _sp = _timed(fn)
        extra[name] = round(best, 4)

    total = round(sum(times.values()), 4)
    # Two lines, detail first, compact summary LAST (r6 verdict: the
    # driver's tail capture holds ~2 KB — the r6 single giant line
    # overflowed it and the round's driver-side artifact was
    # unparseable). The final line carries metric + total + every
    # headline query at 3 dp (~1 KB, always inside the window); the
    # preceding detail line carries spread/reruns/veneer/extra/load
    # evidence for the committed local artifacts.
    print(json.dumps({
        "metric": "headline_query_wall_total_detail",
        "value": total,
        "unit": "sec",
        "spread": spread,
        "reruns": reruns,
        "veneer": veneer,
        "veneer_total": round(sum(veneer.values()), 4),
        "extra": extra,
        "extra_total": round(sum(extra.values()), 4),
        "agg": f"min_of_{n_runs}",
        "load_gate": gate,
        "load1_start": round(load_start, 2),
        "load1_end": round(os.getloadavg()[0], 2),
    }, separators=(",", ":")))
    print(json.dumps({
        "metric": "headline_query_wall_total",
        "value": total,
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in times.items()},
        "sf": sf,
    }, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
