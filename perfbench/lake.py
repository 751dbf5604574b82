"""``lake_ingest_mix``: one deltalite table fed from ``orders``.

A pass starts from an empty table. It makes several small txn-stamped
appends (the shape of a streaming-sink commit), then one ``merge_into``
(half updates, half inserts), one ``delete_where(mode="dv")`` over a
seeded key range, one predicate ``read_table`` around the deleted keys,
one time-travel read of the version before the merge, one ``compact``
and one ``run_available_now_deltalite`` stream over a few small parquet
files. Passes are short, so a run's median spans several of them.

The seed draws the pass's inputs once per run; every pass replays them
on a fresh table. Batches are consecutive slices of ``orders`` sorted by
key, starting at a seeded offset, so data files are key-clustered and predicate reads
can prune files. Each operation touches the same number of files in
every pass, so its latency has one mode. The check pass runs the
operations as a timed pass does, then compares the final table with a
pandas replay of them.
"""

from __future__ import annotations

import bisect
import os
import random
import shutil
import statistics

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from pygdf_spark.sources import deltalite as dl
from pygdf_spark.streaming.pipelines import run_available_now_deltalite
from pygdf_spark.testing import canonicalize
from workloads import Op

#: (appends, rows per batch, merge rows, keys per delete, keys per
#: read, stream files); "tiny" is the self-test size
SIZES = {
    "bench": (5, 400, 200, 150, 1200, 3),
    "tiny": (3, 20, 10, 8, 60, 2),
}
KEY = "o_orderkey"
STATS = [KEY]
APP = "ingest"
COMMITS = ("append", "merge", "delete")
READS = ("read", "time_travel")


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


class LakeIngest:
    """Writes beside reads on one table; log I/O, the commit protocol
    and the streaming trigger floor carry most of the time."""

    #: untimed passes before timing (see README.md, warm-up)
    warm_passes = 2

    def __init__(self, scale: str):
        self.sf = self.check_sf = 0.001 if scale == "tiny" else 0.1
        (self.appends, self.batch_rows, self.merge_rows,
         self.delete_keys, self.read_keys, self.stream_files) = SIZES.get(scale, SIZES["bench"])
        self.pass_no = 0
        self.pass_seed = None
        self.pass_stats: list[dict] = []
        self.touched = self.touch_total = 0
        self.scanned = self.scan_total = 0

    def setup(self, ctx) -> None:
        path = os.path.join(ctx.sf_dir, "orders.parquet")
        orders = pq.read_table(path)
        self.arrow_schema = orders.schema
        self.spark_schema = ctx.spark.read.parquet(path).schema
        self.source = orders.sort_by(KEY).to_pandas()
        self.keys = self.source[KEY].tolist()

    # ------------------------------------------------------------ plan

    def plan(self, ctx, rng, check: bool = False) -> list[Op]:
        """One pass's operations; their inputs are drawn here, untimed.
        Every pass of a run draws the same inputs, so every pass does
        the same work (with inputs drawn afresh per pass, the 10-seed
        spread of ``pass_wall_s`` was 0.28-0.40; with one draw, 0.10)."""
        if self.pass_seed is None:
            self.pass_seed = rng.random()
        rng = random.Random(self.pass_seed)
        self.pass_no += 1
        self.base = os.path.join(ctx.work, "lake", f"pass{self.pass_no}")
        self.table = os.path.join(self.base, "orders_tbl")
        self.submitted = 0
        self.state: dict = {}  # key -> row, the replayed table
        self.cursor = rng.randrange(len(self.source))
        ops = [self._append(ctx, self._take(self.batch_rows), batch)
               for batch in range(self.appends)]
        ops.append(self._merge(ctx, rng))
        lo, hi = self._key_range(rng, self.delete_keys)
        ops += [self._delete(lo, hi), self._read(lo), self._time_travel(),
                Op("compact", self._compact), self._stream(ctx)]
        return ops

    def _take(self, n: int) -> pd.DataFrame:
        """The next ``n`` rows of the key-sorted source, wrapping."""
        idx = [(self.cursor + i) % len(self.source) for i in range(n)]
        self.cursor = (self.cursor + n) % len(self.source)
        return self.source.iloc[idx]

    def _live_key(self, rng) -> int:
        keys = sorted(self.state)
        return int(keys[rng.randrange(len(keys))])

    def _key_range(self, rng, n: int) -> tuple[int, int]:
        """[lo, hi) from a live key spanning ``n`` source keys."""
        lo = self._live_key(rng)
        i = bisect.bisect_left(self.keys, lo)
        return lo, int(self.keys[min(i + n, len(self.keys) - 1)])

    def _submit(self, pdf: pd.DataFrame) -> pa.Table:
        t = pa.Table.from_pandas(pdf, schema=self.arrow_schema, preserve_index=False)
        self.submitted += t.nbytes
        for row in pdf.to_dict("records"):
            self.state[row[KEY]] = row
        return t

    def _frame(self, ctx, pdf: pd.DataFrame):
        self._submit(pdf)
        return ctx.spark.createDataFrame(pdf, schema=self.spark_schema)

    def _append(self, ctx, pdf, batch: int) -> Op:
        df = self._frame(ctx, pdf)

        def call(ctx):
            dl.append(df, self.table, stat_cols=STATS, txn=(APP, batch))
            self._probe_log(ctx)

        return Op("append", call)

    def _merge(self, ctx, rng) -> Op:
        upd = self.source[self.source[KEY].isin(
            {self._live_key(rng) for _ in range(self.merge_rows // 2)}
        )].copy()
        upd["o_totalprice"] += 1.0
        upd["o_orderstatus"] = "U"
        src = pd.concat([upd, self._take(self.merge_rows - len(upd))])
        df = self._frame(ctx, src)

        def call(ctx):
            r = dl.merge_into(ctx.spark, self.table, df, on=KEY, stat_cols=STATS)
            self.touched += r["files_rewritten"]
            self.touch_total += r["files_total"]
            self._probe_log(ctx)

        return Op("merge", call)

    def _delete(self, lo: int, hi: int) -> Op:
        for k in [k for k in self.state if lo <= k < hi]:
            del self.state[k]
        pred = [(KEY, ">=", lo), (KEY, "<", hi)]

        def call(ctx):
            r = dl.delete_where(ctx.spark, self.table, pred, mode="dv", stat_cols=STATS)
            self.touched += r["files_touched"]
            self.touch_total += r["files_total"]
            self._probe_log(ctx)

        return Op("delete", call)

    def _read(self, dv_lo: int) -> Op:
        """A key range centred on the rows the delete just masked, so
        every read prunes files and applies a deletion vector."""
        i = bisect.bisect_left(self.keys, dv_lo)
        lo = int(self.keys[max(i - self.read_keys // 2, 0)])
        hi = int(self.keys[min(i + self.read_keys // 2, len(self.keys) - 1)])
        pred = [(KEY, ">=", lo), (KEY, "<", hi)]

        def call(ctx):
            if ctx.tracer.enabled:
                with ctx.tracer.span("plan_adds"):
                    adds, total = dl.plan_adds(self.table, None, pred)
                self.scanned += len(adds)
                self.scan_total += total
            return dl.read_table(ctx.spark, self.table, predicate=pred)

        return Op("read", call)

    def _time_travel(self) -> Op:
        """The version before the merge and the delete."""

        def call(ctx):
            version = dl.table_version(self.table) - 2
            return dl.read_table(ctx.spark, self.table, version=version)

        return Op("time_travel", call)

    def _compact(self, ctx):
        dl.compact(ctx.spark, self.table, num_files=1, stat_cols=STATS)
        self._probe_log(ctx)

    def _stream(self, ctx) -> Op:
        src_dir = os.path.join(self.base, "stream_in")
        ckpt = os.path.join(self.base, "stream_ckpt")
        os.makedirs(src_dir, exist_ok=True)
        for i in range(self.stream_files):
            t = self._submit(self._take(self.batch_rows))
            pq.write_table(t, os.path.join(src_dir, f"part-{i:03d}.parquet"))

        def call(ctx):
            sdf = (
                ctx.spark.readStream.schema(self.spark_schema)
                .option("maxFilesPerTrigger", 1).parquet(src_dir)
            )
            n = run_available_now_deltalite(sdf, self.table, ckpt, app_id="stream")
            if n != self.stream_files:
                raise RuntimeError(f"stream committed {n} batches, not {self.stream_files}")

        return Op("stream", call)

    def _probe_log(self, ctx) -> None:
        """Traced runs time the two log lookups every commit leans on."""
        if ctx.tracer.enabled:
            with ctx.tracer.span("table_version"):
                dl.table_version(self.table)
            with ctx.tracer.span("last_txn_batch"):
                dl.last_txn_batch(self.table, APP)

    # ------------------------------------------------------- pass end

    def final_checks(self, ctx) -> list:
        return [("lake final table", lambda: self._check_table(ctx))]

    def _check_table(self, ctx) -> str | None:
        """The final table against the pandas replay of the pass."""
        mine = dl.read_table(ctx.spark, self.table).toPandas()
        want = pd.DataFrame(list(self.state.values()), columns=self.source.columns)
        a, b = canonicalize(mine), canonicalize(want)
        if a != b:
            return f"{len(a)} rows vs replay {len(b)}, {len(set(a) ^ set(b))} rows differ"
        return None

    def end_pass(self, ctx) -> None:
        """Record the pass's log and space figures, then free the table."""
        live = dl.live_files(self.table)
        total = _dir_bytes(self.table)
        live_bytes = sum(os.path.getsize(os.path.join(self.table, a["path"])) for a in live)
        self.pass_stats.append({
            "log_files": len(os.listdir(os.path.join(self.table, dl._LOG_DIR))),
            "live_files": len(live),
            "write_amp": total / self.submitted,
            "space_amp": total / live_bytes,
        })
        shutil.rmtree(self.base, ignore_errors=True)

    def layer_metrics(self, tracer, latencies) -> dict:
        """Operation latencies come from the untraced passes
        (``latencies``), which run no log probes; the rest from the
        traced ones."""

        def med(xs):
            return statistics.median(xs) if xs else 0.0

        def q(xs, p):
            return statistics.quantiles(xs, n=10, method="inclusive")[p - 1] \
                if len(xs) > 1 else med(xs)

        commits = [x for k in COMMITS for x in latencies.get(k, [])]
        reads = [x for k in READS for x in latencies.get(k, [])]
        stats = self.pass_stats
        return {
            "lake.append_s": med(latencies.get("append", [])),
            "lake.merge_s": med(latencies.get("merge", [])),
            "lake.delete_s": med(latencies.get("delete", [])),
            "lake.compact_s": med(latencies.get("compact", [])),
            "lake.read_plan_s": med(tracer.span_times("build", READS)),
            "lake.read_exec_s": med(tracer.span_times("force", READS)),
            "lake.table_version_s": med(tracer.span_times("table_version")),
            "lake.last_txn_batch_s": med(tracer.span_times("last_txn_batch")),
            "lake.log_files": med([s["log_files"] for s in stats]),
            "lake.live_files": med([s["live_files"] for s in stats]),
            "lake.touch_ratio": self.touched / self.touch_total if self.touch_total else 0.0,
            "lake.scan_ratio": self.scanned / self.scan_total if self.scan_total else 0.0,
            "lake.commit_p50_s": med(commits),
            "lake.commit_p90_s": q(commits, 9),
            "lake.read_p50_s": med(reads),
            "lake.read_p90_s": q(reads, 9),
            "lake.write_amp": med([s["write_amp"] for s in stats]),
            "lake.space_amp": med([s["space_amp"] for s in stats]),
        }
