"""The benchmark's two closed-loop workloads.

Each workload drives the package only through its public entry points
(``FeatureStore``, ``pipeline.training_set``, ``plans.QUERIES``) from one
client thread and
exposes:

* ``setup()``  -- store fill or bootstrap plus warm-up; counted in setup_s.
* ``prepare()`` -- untimed work before a cycle, outside its CPU count.
* ``cycle()``  -- one unit of closed-loop work; returns ``[(op, seconds,
  ok)]``. Every operation waits for its reply before the next starts.
* ``check()``  -- untimed correctness verdicts for everything the loop
  produced, returned as ``{op: failures}``.
* ``stats()``  -- workload counters for the run record.

Operations run under their own Spark job group (``op`` name), so the
traced run can split engine metrics per operation.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import timedelta

import numpy as np
import pandas as pd

from perfbench import checks

TTL = timedelta(days=7)
VIEW_FEATURES = (
    ("value", "double"),
    ("aqi", "double"),
    ("hour", "int"),
    ("day", "int"),
    ("dayOfWeek", "int"),
    ("event_id", "bigint"),
)
ONLINE_COLS = ["aqi", "hour", "day", "dayOfWeek"]

#: (registry query, family). One pass constructs and executes each of them.
CURATION = (
    ("lang_id", "text"),
    ("simhash_dedup", "near_dedup"),
    ("embedding_cosine_dedup", "similarity"),
    ("ann_index_serve", "ann"),
    ("kmeans_assign", "clustering"),
)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def data_files(path: str) -> int:
    return sum(
        f.endswith(".parquet")
        for _root, _dirs, files in os.walk(path)
        for f in files
    )


class Workload:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.data = ctx.data_dir
        self.rng = np.random.default_rng([ctx.seed, 11])
        self.outputs: list[tuple] = []  # deferred correctness evidence

    @contextlib.contextmanager
    def untraced(self):
        """Bookkeeping inside the loop that is not part of any operation."""
        was, self.tracer.enabled = self.tracer.enabled, False
        try:
            yield
        finally:
            self.tracer.enabled = was

    def timed(self, op: str, fn, *args):
        """Run one operation under its job group; (seconds, result, error)."""
        sc = self.spark.sparkContext
        group = self.ctx.group_prefix + op
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            res, err = fn(*args), None
        except Exception as e:  # counted as a failed operation
            res, err = None, f"{type(e).__name__}: {e}"[:300]
        dt = time.perf_counter() - t0
        sc.setJobGroup("bench", "bench")
        if err:
            self.ctx.errors.append((op, err))
        return dt, res, err

    def prepare(self) -> None:
        pass

    def stats(self) -> dict:
        return {}


# ---------------------------------------------------------------------------
# store: ingest beside online serving, historical retrieval and training
# ---------------------------------------------------------------------------


class Store(Workload):
    """The feature store as its users drive it, one micro-batch per cycle:

    1. ``append``: ``write_offline`` of a time-ordered micro-batch, which
       re-offers a quarter of the previous batch's rows (the reference's
       double-append case: the dedup gate must drop them);
    2. ``upsert``: ``write_to_online_store`` of the same batch;
    3. ``lookup`` x ``LOOKUPS``: ``get_online_features`` of 16 Zipf-skewed
       keys, one to three of them unknown. The first lookup is judged at
       the batch's end; the second 4-10 seeded days later, so in about five
       cycles of six part or all of its answer is past the TTL and must
       come back masked;
    4. ``hist``: ``get_historical_features`` of a seeded 200-row spine
       (10% unknown entities, 10% past the TTL) against the store;
    5. ``train``: ``pipeline.training_set`` over the raw events.

    Every frame is collected to the driver with ``toPandas``. Every timed
    cycle does the same work: set-up ingests batches 0 and 1 (the second
    as a warm-up cycle) and keeps a copy of that store; before each timed
    cycle the copy is put back, untimed, at the same path, and the cycle
    ingests batch 2. A faster program therefore runs more cycles, never
    bigger ones.
    """

    LOOKUPS = 2
    KEYS = 16
    SPINE_ROWS = 200
    #: the batch every timed cycle ingests
    BATCH = 2

    def setup(self) -> None:
        from aqi_featurestore_spark.registry import FeatureView
        from aqi_featurestore_spark.store import FeatureStore

        self.view = FeatureView("aqi", ("entity_id",), TTL, VIEW_FEATURES, source="events")
        bdir = os.path.join(self.data, "batches")
        self.batches = [os.path.join(bdir, b) for b in sorted(os.listdir(bdir))]
        self.batch_frames = [
            checks.derive_features(pd.read_parquet(os.path.join(b, "events.parquet")))
            for b in self.batches
        ]
        ev = pd.read_parquet(os.path.join(self.data, "events.parquet"), columns=["user_id"])
        users = np.unique(ev["user_id"].to_numpy())
        self.users = self.rng.permutation(users).astype(str)
        w = 1.0 / np.arange(1, len(users) + 1) ** 1.1
        self.zipf = w / w.sum()
        self.unknown = (users.max() + 1 + np.arange(1000)).astype(str)
        self.counters = dict(
            rows_offered=0, rows_kept=0, files_written=0, bytes_written=0,
            online_bytes_rewritten=0,
        )
        # the manifests record absolute file paths, so the store is only
        # ever restored at the path it was built at
        self.store_dir = os.path.join(self.ctx.run_dir, "store")
        self.store = FeatureStore(self.spark, self.store_dir)
        self.store.apply(self.view)
        self.replay = checks.OnlineReplay(ONLINE_COLS)
        self.kept_ids: set = set()
        self._ingest(0)
        self.cycle(1, count=False)  # warm-up
        self.outputs.clear()  # only timed operations count as attempted
        self.template = (
            os.path.join(self.ctx.run_dir, "store.template"), self.replay.latest, self.kept_ids
        )
        shutil.copytree(self.store_dir, self.template[0])
        self.dirty = False  # the store is the template

    def _ingest(self, b: int) -> None:
        self._append(b)
        self._upsert(b)
        self.replay.upsert(self.batch_frames[b])
        self.kept_ids |= set(self.batch_frames[b]["event_id"])

    def prepare(self) -> None:
        """Check the store a cycle changed, then put the set-up store back."""
        if not self.dirty:
            return
        path, latest, kept = self.template
        with self.untraced():
            self._check_offline()
        shutil.rmtree(self.store_dir)
        shutil.copytree(path, self.store_dir)
        self.replay.latest, self.kept_ids = latest, set(kept)
        self.dirty = False

    def _batch_df(self, b: int):
        from aqi_featurestore_spark.pipeline import derive_features
        from aqi_featurestore_spark.sources.testdata import read_events

        return derive_features(read_events(self.spark, self.batches[b]))

    def _append(self, b: int) -> None:
        self.store.write_offline("aqi", self._batch_df(b))

    def _upsert(self, b: int) -> None:
        self.store.write_to_online_store(
            "aqi",
            self._batch_df(b).select("entity_id", "feature_timestamp", *ONLINE_COLS),
        )

    def _lookup(self, keys: list[str], as_of: pd.Timestamp) -> pd.DataFrame:
        from pyspark.sql import functions as F

        rows = self.spark.createDataFrame([(k,) for k in keys], "entity_id string")
        return self.store.get_online_features(
            "aqi", rows, as_of=F.lit(as_of.isoformat(sep=" ")).cast("timestamp")
        ).toPandas()

    def _hist(self, spine: pd.DataFrame) -> pd.DataFrame:
        sdf = self.spark.createDataFrame(spine)
        return self.store.get_historical_features(
            sdf, ["aqi:aqi", "aqi:value", "aqi:hour"], tie_break=["event_id"]
        ).toPandas()

    def _train(self) -> pd.DataFrame:
        from aqi_featurestore_spark.pipeline import training_set

        return training_set(self.spark, self.data).toPandas()

    def _spine(self, lo: pd.Timestamp, hi: pd.Timestamp) -> pd.DataFrame:
        n = self.SPINE_ROWS
        kind = self.rng.choice(3, n, p=[0.8, 0.1, 0.1])  # known, unknown, past TTL
        ents = np.where(
            kind == 1, self.rng.choice(self.unknown, n), self.rng.choice(self.users, n)
        )
        span_us = max(1, int((hi - lo).total_seconds() * 1e6))
        off = self.rng.integers(0, span_us, n)
        late = span_us + self.rng.integers(8 * 86_400, 20 * 86_400, n) * 1_000_000
        ts = lo + pd.to_timedelta(np.where(kind == 2, late, off), unit="us")
        return pd.DataFrame({"entity_id": ents, "event_timestamp": ts})

    def cycle(self, b: int = BATCH, count: bool = True) -> list[tuple]:
        self.dirty = True
        frame = self.batch_frames[b]
        off_dir = os.path.join(self.store_dir, "offline")
        files0, bytes0 = data_files(off_dir), dir_bytes(off_dir)
        dt_a, _, err_a = self.timed("append", self._append, b)
        files1, bytes1 = data_files(off_dir), dir_bytes(off_dir)
        new = len(set(frame["event_id"]) - self.kept_ids)
        self.kept_ids = self.kept_ids | set(frame["event_id"])
        dt_u, _, err_u = self.timed("upsert", self._upsert, b)
        self.replay.upsert(frame)
        out = [("append", dt_a, err_a is None), ("upsert", dt_u, err_u is None)]
        end = frame["feature_timestamp"].max()
        for i in range(self.LOOKUPS):
            keys = list(self.rng.choice(self.users, self.KEYS, p=self.zipf))
            n_unknown = int(self.rng.integers(1, 4))
            keys[-n_unknown:] = self.rng.choice(self.unknown, n_unknown)
            as_of = end
            if i:  # 4-10 days on: usually part or all of the answer is past the TTL
                as_of += pd.Timedelta(seconds=int(self.rng.integers(4 * 86_400, 10 * 86_400)))
            dt_l, res, err_l = self.timed("lookup", self._lookup, keys, as_of)
            if res is not None:
                want = self.replay.lookup(keys, as_of, pd.Timedelta(TTL))
                same = set(res.columns) == set(want.columns)
                self.outputs.append(("lookup", same and checks.digest(res) == checks.digest(want)))
            out.append(("lookup", dt_l, err_l is None))
        spine = self._spine(self.batch_frames[0]["feature_timestamp"].min(), end)
        dt_h, hist, err_h = self.timed("hist", self._hist, spine)
        if hist is not None:
            self.outputs.append(("hist", (spine, b, checks.digest(hist))))
        out.append(("hist", dt_h, err_h is None))
        dt_t, frame_t, err_t = self.timed("train", self._train)
        if frame_t is not None:
            self.outputs.append(("train", checks.digest(frame_t)))
        out.append(("train", dt_t, err_t is None))
        if count:
            c = self.counters
            c["rows_offered"] += len(frame)
            c["rows_kept"] += new
            c["files_written"] += files1 - files0
            c["bytes_written"] += bytes1 - bytes0
            c["online_bytes_rewritten"] += dir_bytes(os.path.join(self.store_dir, "online"))
        return out

    def _ingested(self, last: int) -> pd.DataFrame:
        """Distinct feature rows of batches 0..last (batches overlap)."""
        rows = pd.concat(self.batch_frames[: last + 1], ignore_index=True)
        return rows.drop_duplicates("event_id")

    def _check_offline(self) -> None:
        """Live offline rows must equal the distinct rows offered so far."""
        self.spark.sparkContext.setJobGroup("check", "check")
        n = self.store.read_offline("aqi").count()
        self.outputs.append(("append", n == len(self.kept_ids)))
        self.store_bytes = dir_bytes(self.store_dir)
        self.store_rows = n

    def check(self) -> dict:
        from aqi_featurestore_spark.plans import ORACLE_SQL

        self._check_offline()
        want_train = checks.Oracle(self.data).digest(ORACLE_SQL["training_set"])
        bad = {"append": 0, "lookup": 0, "hist": 0, "train": 0}
        for op, ev in self.outputs:
            if op == "hist":
                spine, last, got = ev
                want = checks.pit_replay(
                    spine, self._ingested(last), ["aqi", "value", "hour"], pd.Timedelta(TTL)
                )
                ok = got == checks.digest(want)
            elif op == "train":
                ok = ev == want_train
            else:
                ok = ev
            bad[op] += not ok
        return bad

    def stats(self) -> dict:
        c = dict(self.counters)
        c["keep_ratio"] = c["rows_kept"] / c["rows_offered"] if c["rows_offered"] else 0.0
        c["store_bytes"] = self.store_bytes
        c["store_rows"] = self.store_rows
        return c


# ---------------------------------------------------------------------------
# curation
# ---------------------------------------------------------------------------


class Curation(Workload):
    """Passes over a fixed list of LLM-data registry queries: construct,
    then execute to the noop sink. Set-up runs two passes. The first
    collects each result with ``toPandas``; the session store bootstrap
    (the ANN index build, the k-means fits) and the Python-worker start
    belong there. The second is a plain warm-up: without it the first timed
    pass costs 40-50% more CPU than the passes after it.
    After the loop each query is constructed and collected once more on the
    warm session; both collected results are checked against the oracle."""

    def setup(self) -> None:
        t0 = time.time()
        self.first = self._collect_pass()
        self.boot_window = (t0, time.time())
        self.cycle()
        self.outputs.clear()  # only timed operations count as attempted

    def _collect_pass(self) -> dict[str, tuple]:
        return {
            name: self.timed(f"curate.{family}", self._run, name, family, True)[1]
            for name, family in CURATION
        }

    def _run(self, name: str, family: str, collect: bool = False):
        from aqi_featurestore_spark.plans import QUERIES

        df = self.tracer.span(f"plans.construct.{family}", QUERIES[name], self.spark, self.data)
        if collect:
            return checks.digest(df.toPandas())
        df.write.format("noop").mode("overwrite").save()

    def cycle(self) -> list[tuple]:
        out = []
        for name, family in CURATION:
            dt, _, err = self.timed(f"curate.{family}", self._run, name, family)
            self.outputs.append(name)
            out.append((f"curate.{family}", dt, err is None))
        return out

    def check(self) -> dict:
        """Each query's result is deterministic, so its oracle verdicts on
        the cold set-up pass and on the warm re-run after the loop decide
        all of its executions."""
        from aqi_featurestore_spark.plans import ORACLE_SQL

        self.ctx.group_prefix = "check:"
        oracle = checks.Oracle(self.data)
        with ThreadPoolExecutor(1) as pool, self.untraced():
            # both untimed: DuckDB runs the oracles while Spark re-runs the queries
            wants = pool.submit(
                lambda: {name: oracle.digest(ORACLE_SQL[name]) for name, _f in CURATION}
            )
            warm = self._collect_pass()
            wants = wants.result()
        bad = {}
        for name, family in CURATION:
            want = wants[name]
            wrong = 0
            for when, got in (("cold", self.first[name]), ("warm", warm[name])):
                if got != want:
                    wrong = 1
                    self.ctx.errors.append((name, f"{when} oracle mismatch {got} vs {want}"))
            op = f"curate.{family}"
            bad[op] = bad.get(op, 0) + wrong * self.outputs.count(name)
        return bad


WORKLOADS = {"store": Store, "curation": Curation}
