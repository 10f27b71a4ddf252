"""The workloads. Each drives the engine through its public entry points
and checks every operation's output against what the generator planted.

A workload runs in three phases inside the measuring process:

* ``start()`` - file copies and imports only, never a Spark job, so the
  first operation after it is as cold as a fresh cron process's;
* ``op(i)`` - the timed operation;
* ``check(i)`` / ``finish()`` - untimed output checks, read with pyarrow
  so they add no Spark work; each returns a list of problems.
"""

from __future__ import annotations

import datetime as dt
import glob
import hashlib
import importlib.util
import json
import os
import shutil

import pyarrow.parquet as pq

import gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SIZES = {
    "full": {
        "history_days": 30,
        "stream_batch": 150,
        "sf": 0.001,
    },
    "tiny": {
        "history_days": 4,
        "stream_batch": 40,
        "sf": 0.0005,
    },
}


def parquet_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def footer_rows(path: str) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows for f in parquet_files(path))


def footer_bytes(path: str) -> int:
    total = 0
    for f in parquet_files(path):
        md = pq.ParquetFile(f).metadata
        total += sum(md.row_group(i).total_byte_size for i in range(md.num_row_groups))
    return total


def read_parquet_dir(path: str, columns: list[str]):
    import pyarrow as pa

    files = parquet_files(path)
    if not files:
        return pa.table({c: [] for c in columns})
    return pa.concat_tables(pq.read_table(f, columns=columns) for f in files)


class Workload:
    name = ""

    def __init__(self, work: str, inputs: str, seed: int, size: str, span):
        self.work, self.inputs, self.seed = work, inputs, seed
        self.size_name, self.size = size, SIZES[size]
        self.span = span  # span(name, layer) context manager (or a no-op)

    @classmethod
    def generate(cls, inputs: str, seed: int, size: str) -> dict:
        """Write the seeded inputs (no Spark); returns the sizes used."""
        return {}

    def output_dirs(self) -> list[str]:
        return []

    def start(self, spark) -> None:
        self.spark = spark

    def prepare(self, i: int) -> None:
        """Untimed work before operation ``i`` (input staging)."""

    def op(self, i: int) -> None:
        raise NotImplementedError

    def check(self, i: int) -> list[str]:
        return []

    def finish(self) -> list[str]:
        return []


# ---------------------------------------------------------------- daily cron


def engine_digest() -> str:
    """Content hash of the engine package: keys the per-checkout history
    template, so a changed engine never reuses a stale one."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "big_data_project_datapipeline_spark")
    for f in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(f, pkg).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def cron_template_dir(size: str) -> str:
    days = SIZES[size]["history_days"]
    return os.path.join(
        ROOT, ".perfbench_run", "cache", f"cron-{days}d-{engine_digest()}"
    )


def build_cron_template(spark, size: str) -> None:
    """Pre-write the store the daily cron appends to: ``history_days`` date
    partitions written by the engine itself (day one through ``run_ingest``,
    the rest in bulk with the schema it produced), then one bootstrap
    feature run. Built once per checkout; every run starts from a copy."""
    import pandas as pd

    from big_data_project_datapipeline_spark import __main__ as cron

    days = SIZES[size]["history_days"]
    final = cron_template_dir(size)
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    store, out = os.path.join(tmp, "store"), os.path.join(tmp, "features")
    day0 = gen.CRON_EPOCH
    pdir = os.path.join(tmp, "payloads")
    gen.land_payloads(pdir, gen.cron_day(0, day0)["payloads"])
    cron.run_ingest(spark, pdir, store, day0)
    shutil.rmtree(pdir)
    schema = spark.read.parquet(store).schema
    cols = [f for f in schema.fields if f.name not in ("datetime", "date")]
    n = (days - 1) * 24
    ts = pd.date_range(pd.Timestamp(day0) + pd.Timedelta(days=1), periods=n, freq="h")
    vals = gen.history_values(0, n, len(cols))
    frame = pd.DataFrame({"datetime": ts, "date": ts.date})
    for j, f in enumerate(cols):
        frame[f.name] = vals[:, j] if f.dataType.typeName() == "double" else "moderate"
    hist = spark.createDataFrame(frame[[f.name for f in schema.fields]], schema)
    hist.repartition("date").write.mode("append").partitionBy("date").parquet(store)
    cron.run_features(spark, store, out)
    os.replace(tmp, final)


class DailyCron(Workload):
    """One operation = one simulated day of the daily job: land the five
    payloads, ``run_ingest`` + ``run_features`` against the pre-written
    history, then feed the day's document batch through the streaming
    dedup (:class:`CorpusFeed`). Every third operation from the fourth on
    re-ingests the previous day's payloads, as a cron retry; runs too short
    to reach operation 3 see no retry."""

    name = "daily_cron"
    CHECKED = ("temperature_C", "pm10", "carbon_intensity_actual",
               "retail_price_£_per_kWh", "uk_gen_gas_%")

    def output_dirs(self):
        return [self.store, self.features, *self.feed.output_dirs()]

    def start(self, spark):
        super().start(spark)
        from big_data_project_datapipeline_spark import __main__ as cron

        self.cron = cron
        self.feed = CorpusFeed(spark, self.work, self.seed, self.size["stream_batch"], self.span)
        # the worker's traced-run counters read these
        self.progress, self.removed = self.feed.progress, self.feed.removed
        tpl = cron_template_dir(self.size_name)
        self.store = os.path.join(self.work, "store")
        self.features = os.path.join(self.work, "features")
        shutil.copytree(os.path.join(tpl, "store"), self.store)
        shutil.copytree(os.path.join(tpl, "features"), self.features)
        self.history = self.size["history_days"]
        self.days: list[dt.date] = []  # distinct days ingested by ops
        self.snapshot = self._feature_rows(limit=48)

    def _feature_rows(self, limit: int | None = None) -> dict:
        t = read_parquet_dir(os.path.join(self.features, "features.parquet"),
                             ["datetime", "scaled_temperature_C", "log_pm10"])
        rows = sorted(zip(*(t.column(c).to_pylist() for c in t.column_names)))
        return {r[0]: r[1:] for r in rows[:limit]}

    @property
    def last_run_ids(self) -> list[str]:
        return self.feed.last_run_ids

    def prepare(self, i):
        self.feed.prepare(i)

    def op(self, i):
        retry = i > 0 and i % 3 == 0
        if not retry:
            self.days.append(
                gen.CRON_EPOCH + dt.timedelta(days=self.history + len(self.days))
            )
        day = self.days[-1]
        pdir = os.path.join(self.work, "payloads", day.isoformat())
        gen.land_payloads(pdir, gen.cron_day(self.seed, day)["payloads"])
        self.cron.run_ingest(self.spark, pdir, self.store, day)
        self.cron.run_features(self.spark, self.store, self.features)
        self.feed.op(i)

    def check(self, i):
        day = self.days[-1]
        problems = []
        part = os.path.join(self.store, f"date={day.isoformat()}")
        t = read_parquet_dir(part, ["datetime", *self.CHECKED])
        got = sorted(zip(*(t.column(c).to_pylist() for c in t.column_names)))
        want = gen.cron_day(self.seed, day)["expected"]
        if len(got) != 24:
            problems.append(f"{day}: {len(got)} store rows, want 24")
        for h, row in enumerate(got[:24]):
            exp = tuple(want[h][c] for c in self.CHECKED)
            if tuple(row[1:]) != exp or row[0].hour != h:
                problems.append(f"{day} hour {h}: store {row} != generated {exp}")
                break
        n_days = self.history + len(self.days)
        if footer_rows(self.store) != 24 * n_days:
            problems.append(f"store rows {footer_rows(self.store)} != {24 * n_days}")
        feat = os.path.join(self.features, "features.parquet")
        if footer_rows(feat) != 24 * n_days:
            problems.append(f"feature rows {footer_rows(feat)} != {24 * n_days}")
        with open(os.path.join(self.store, "_metrics", "ingest.json")) as fh:
            if json.load(fh)["rows_ingested"] != 24:
                problems.append("ingest metrics: rows_ingested != 24")
        return problems + self.feed.check(i)

    def finish(self):
        problems = []
        for path in (self.store, os.path.join(self.features, "features.parquet")):
            ts = read_parquet_dir(path, ["datetime"]).column(0).to_pylist()
            if len(ts) != len(set(ts)):
                problems.append(f"{os.path.basename(path)}: datetime not unique")
        now = self._feature_rows()
        changed = [k for k, v in self.snapshot.items() if now.get(k) != v]
        if changed:
            problems.append(f"{len(changed)} earlier feature rows changed (keep-first)")
        return problems + self.feed.finish()


# ------------------------------------------------------------- corpus feed


class CorpusFeed:
    """The daily job's corpus path: each day one seeded batch of documents
    lands and one ``availableNow`` drain of the substring-dedup stream
    scrubs it against the persisted gram index and folds its grams in."""

    def __init__(self, spark, work: str, seed: int, batch: int, span):
        from big_data_project_datapipeline_spark.streaming import dedup

        self.spark, self.work, self.seed, self.batch, self.span = spark, work, seed, batch, span
        self.sdedup = dedup
        d = work
        self.docs, self.out = os.path.join(d, "docs"), os.path.join(d, "dedup_out")
        self.index, self.ckpt = os.path.join(d, "gram_index"), os.path.join(d, "checkpoint")
        os.makedirs(self.docs)
        self.pool: dict[int, str] = {}
        self.batches: list[gen.Corpus] = []
        self.removed = [0, 0]  # planted duplicates removed, planted
        self.near = [0, 0]  # planted near duplicates removed, planted
        self.progress: list[dict] = []
        self.last_run_ids: list[str] = []

    def output_dirs(self):
        return [self.out, self.index, self.ckpt]

    def state_dirs(self):
        return [self.index, self.ckpt]

    def prepare(self, i):
        b = self.batch
        c = gen.Corpus(self.seed, b, first_id=i * b, pool=self.pool)
        self.batches.append(c)
        self.staged = os.path.join(self.work, f"staged_{i:05d}.parquet")
        gen.write_parquet(c.table(), self.staged)

    def _drain(self, query) -> None:
        query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        self.progress.extend(query.recentProgress)
        self.last_run_ids.append(str(query.runId))

    def op(self, i):
        self.last_run_ids.clear()
        os.replace(self.staged, os.path.join(self.docs, f"batch_{i:05d}.parquet"))
        with self.span("streaming.drain", "streaming"):
            self._drain(self.sdedup.stream_substring_dedup(
                self.spark, self.docs, self.index, self.out, self.ckpt, window=8,
            ))

    def check(self, i):
        """Exact copies of earlier docs are scrubbed to nothing, near copies
        (one word changed) mostly, fresh docs keep their text."""
        c = self.batches[i]
        problems = []
        out = read_parquet_dir(os.path.join(self.out, f"docs_{i}"), ["doc_id", "text_dedup"])
        dedup = {d: (t or "").split() for d, t in zip(out.column(0).to_pylist(),
                                                       out.column(1).to_pylist())}
        if set(dedup) != set(c.ids):
            return [f"batch {i}: output doc ids differ from the landed batch"]
        near = near_removed = 0
        for doc, kind, text in zip(c.ids, c.kinds, c.texts):
            if kind == "exact":
                if dedup[doc]:
                    problems.append(f"exact copy {doc} not scrubbed by substring dedup")
            elif kind == "near":
                near += 1
                near_removed += len(dedup[doc]) <= len(text.split()) // 2
            elif not dedup[doc]:
                problems.append(f"fresh doc {doc} scrubbed to nothing")
        n_exact = c.kinds.count("exact")
        self.removed[0] += n_exact + near_removed
        self.removed[1] += n_exact + near
        self.near[0] += near_removed
        self.near[1] += near
        return problems[:5]

    def finish(self):
        removed, planted = self.near
        if removed < 0.75 * planted:
            return [f"near-copy recall {removed}/{planted} < 0.75"]
        return []


# ------------------------------------------------------------ analytics mix

# The cheapest registry queries that, together, run every layer the
# benchmark attributes on this workload: operators.rolling, .graph,
# .behavior, .market, .skew; functions.sketches, .similarity; and
# functions.text + functions.quality + operators.prefix in one query
# (rrf_fusion ranks through prefix.group_rank_frame). Each has alternates
# from the same layers, used when its oracle cannot run on the generated
# tables. The first one is also the cold first operation of every run.
ANALYTICS = {
    "q74_rolling_stats": ["q80_trailing_ewma"],
    "q87_pagerank": ["q187_connected_components", "q175_hits"],
    "q68_cohort_retention": ["q127_inter_event_stats", "q67_funnel"],
    "q79_copurchase_lift": ["q213_item_item_cosine"],
    "q52_salted_join": ["q96_key_skew_profile"],
    "q176_hll_distinct": ["q177_countmin", "q185_quantile_sketch"],
    "q184_rrf_fusion": ["q191_quality_yield_curve"],
    "q26_embedding_stats": ["q91_pca", "q89_kmeans"],
}


def _load_module(path: str, name: str):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class AnalyticsMix(Workload):
    """One operation = one refresh of the read-only mix: every query in
    ``ANALYTICS``, in a fixed order, each built, executed, collected and
    compared with its DuckDB oracle. A whole refresh is the unit because
    single queries differ several-fold in cost, so a median over a handful
    of them jumps between queries from run to run; the per-query build and
    execution times are in the traced run's spans."""

    name = "analytics_mix"

    @classmethod
    def generate(cls, inputs, seed, size):
        sf = SIZES[size]["sf"]
        tables = gen.relational_tables(seed, sf)
        gen.write_tables(tables, os.path.join(inputs, "tables"))
        return {"sf": sf, "rows": {k: v.num_rows for k, v in tables.items()}}

    def start(self, spark):
        super().start(spark)
        import duckdb

        import __spark_entry__ as entry

        self.compare = _load_module(
            os.path.join(ROOT, "tools", "compare_oracle.py"), "compare_oracle"
        ).compare
        self.sf_dir = os.path.join(self.inputs, "tables")
        self.con = duckdb.connect()
        for t in ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"):
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'"
            )
        registry, oracles = entry.queries(), entry.oracle_sql()
        self.queries, self.oracles, self.swaps = {}, {}, {}
        for name, alternates in ANALYTICS.items():
            for cand in [name, *alternates]:
                try:
                    want = self.con.execute(oracles[cand]).df()
                except Exception as e:  # noqa: BLE001 - any oracle failure means swap
                    self.swaps.setdefault(name, []).append(f"{cand}: {str(e)[:80]}")
                    continue
                if len(want) == 0:
                    self.swaps.setdefault(name, []).append(f"{cand}: empty oracle")
                    continue
                self.queries[cand], self.oracles[cand] = registry[cand], want
                break

    def op(self, i):
        self.results = {}
        for name, query in self.queries.items():
            with self.span("queries.build", "queries"):
                df = query(self.spark, self.sf_dir)
            with self.span("queries.exec", "queries"):
                self.results[name] = df.toPandas()

    def check(self, i):
        return [
            f"{name}: {p}"
            for name, got in self.results.items()
            for p in self.compare(got, self.oracles[name])
        ]


WORKLOADS = {w.name: w for w in (DailyCron, AnalyticsMix)}
