"""Seeded input generators, one per workload.

Every generator is a pure function of ``(seed, size)``: the same seed gives
byte-identical inputs, and the engine only ever sees the files written
here. Values are rounded to two decimals so that they survive a JSON or
parquet round trip exactly, which lets the output checks compare with
``==`` instead of a tolerance.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- daily cron

CRON_EPOCH = dt.date(2023, 1, 1)
FUELS = ["gas", "wind", "solar", "nuclear", "biomass", "imports", "coal"]
WEATHER = {
    "temperature_2m": ("temperature_C", -5.0, 30.0),
    "relative_humidity_2m": ("humidity_%", 20.0, 100.0),
    "wind_speed_10m": ("wind_speed_mps", 0.0, 20.0),
    "cloud_cover": ("cloud_cover_%", 0.0, 100.0),
    "shortwave_radiation": ("solar_radiation_Wm2", 0.0, 800.0),
}
AIR = {
    "pm10": ("pm10", 1.0, 60.0),
    "pm2_5": ("pm2_5", 1.0, 40.0),
    "carbon_monoxide": ("co", 100.0, 400.0),
    "nitrogen_dioxide": ("no2", 1.0, 60.0),
    "sulphur_dioxide": ("so2", 0.5, 10.0),
    "ozone": ("o3", 10.0, 120.0),
    "us_aqi": ("aqi_us", 5.0, 150.0),
}


def cron_day(seed: int, day: dt.date) -> dict:
    """The five source payloads of one day plus the store values they must
    produce: ``expected[hour][column]``."""
    rng = np.random.default_rng([seed, day.toordinal()])
    hours = [f"{day.isoformat()}T{h:02d}:00" for h in range(24)]
    expected: list[dict] = [{} for _ in range(24)]

    def block(spec: dict) -> dict:
        out: dict = {"time": hours}
        for src, (col, lo, hi) in spec.items():
            vals = np.round(rng.uniform(lo, hi, 24), 2).tolist()
            out[src] = vals
            for h, v in enumerate(vals):
                expected[h][col] = v
        return {"hourly": out}

    weather, air = block(WEATHER), block(AIR)
    actual = np.round(rng.uniform(50.0, 350.0, 24), 1).tolist()
    carbon = {
        "data": [
            {
                "from": f"{day.isoformat()}T{h:02d}:00Z",
                "to": f"{day.isoformat()}T{h:02d}:30Z",
                "intensity": {
                    "actual": actual[h],
                    "forecast": round(actual[h] + 5.0, 1),
                    "index": "moderate",
                },
            }
            for h in range(24)
        ]
    }
    perc = np.round(rng.dirichlet(np.ones(len(FUELS))) * 100.0, 1).tolist()
    mix = {
        "data": {
            "from": f"{day.isoformat()}T00:00Z",
            "generationmix": [
                {"fuel": f, "perc": p} for f, p in zip(FUELS, perc)
            ],
        }
    }
    cents = np.round(rng.uniform(5.0, 45.0, 48), 2).tolist()
    prices = {
        "results": [
            {
                "valid_from": f"{day.isoformat()}T{i // 2:02d}:{30 * (i % 2):02d}:00Z",
                "value_inc_vat": cents[i],
            }
            for i in range(48)
        ]
    }
    for h in range(24):
        expected[h]["carbon_intensity_actual"] = actual[h]
        # the grid hour's nearest half-hourly price is the one at :00
        expected[h]["retail_price_£_per_kWh"] = cents[2 * h] / 100.0
        expected[h]["uk_gen_gas_%"] = perc[0]
    return {
        "payloads": {
            "weather.json": weather,
            "air_quality.json": air,
            "carbon_0.json": carbon,
            "generation_mix.json": mix,
            "prices.json": prices,
        },
        "expected": expected,
    }


def land_payloads(payload_dir: str, payloads: dict) -> None:
    os.makedirs(payload_dir, exist_ok=True)
    for name, doc in payloads.items():
        with open(os.path.join(payload_dir, name), "w", encoding="utf-8") as fh:
            json.dump(doc, fh)


def history_values(seed: int, n_rows: int, n_cols: int) -> np.ndarray:
    """Bulk filler for the pre-written history partitions."""
    rng = np.random.default_rng([seed, 7])
    return np.round(rng.uniform(0.0, 100.0, (n_rows, n_cols)), 2)


# ------------------------------------------------------------------ corpora

GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set(GOPHER_STOPWORDS)
    out = list(GOPHER_STOPWORDS)
    while len(out) < size:
        w = "".join(rng.choice(letters, int(rng.integers(3, 9))))
        if w not in words:
            words.add(w)
            out.append(w)
    return out


class Corpus:
    """Zipf-vocabulary documents with planted defects at known rates.

    ``kinds[i]`` is one of ``good``, ``short`` (fails the Gopher word-count
    rule), ``exact`` (a copy of an earlier good doc) and ``near`` (an
    earlier good doc with one word substituted); ``source[i]`` is the
    copied doc id. ``pool`` (doc id -> text of earlier good docs) lets a
    later batch copy from earlier ones; the batch's own good docs are
    added to it.
    """

    def __init__(self, seed: int, n_docs: int, first_id: int = 0,
                 pool: dict[int, str] | None = None,
                 rates: tuple[float, float, float] = (0.05, 0.08, 0.08)):
        rng = np.random.default_rng([seed, 11, first_id])
        self.vocab = _vocabulary(np.random.default_rng([seed, 3]), 4000)
        zipf = 1.0 / np.arange(1, len(self.vocab) + 1) ** 1.1
        self._p = zipf / zipf.sum()
        self.pool = {} if pool is None else pool
        self.ids: list[int] = []
        self.texts: list[str] = []
        self.kinds: list[str] = []
        self.source: list[int] = []
        p_short, p_exact, p_near = rates
        good = list(self.pool)
        for doc_id in range(first_id, first_id + n_docs):
            u, src = rng.random(), -1
            if good and u < p_exact + p_near:
                src = good[int(rng.integers(len(good)))]
                if u < p_exact:
                    kind, text = "exact", self.pool[src]
                else:
                    kind, text = "near", _substitute(self.pool[src], rng)
            elif u < p_exact + p_near + p_short:
                kind, text = "short", self._doc(rng, int(rng.integers(10, 40)))
            else:
                kind, text = "good", self._doc(rng, int(rng.integers(90, 160)))
                self.pool[doc_id] = text
                good.append(doc_id)
            self.ids.append(doc_id)
            self.texts.append(text)
            self.kinds.append(kind)
            self.source.append(src)

    def _doc(self, rng: np.random.Generator, n_words: int) -> str:
        words = list(rng.choice(self.vocab, n_words, p=self._p))
        # two required stopwords up front keep the Gopher stopword rule
        # satisfied regardless of the draw
        words[:2] = ["the", "and"]
        lines = [" ".join(words[j:j + 12]) for j in range(0, n_words, 12)]
        return "\n".join(lines)

    def table(self) -> pa.Table:
        return pa.table({
            "doc_id": pa.array(self.ids, pa.int64()),
            "text": pa.array(self.texts, pa.string()),
        })


def _substitute(text: str, rng: np.random.Generator) -> str:
    """One word (never the two leading stopwords) replaced by a word that
    is in no vocabulary."""
    lines = [ln.split(" ") for ln in text.split("\n")]
    flat = [(i, j) for i, ln in enumerate(lines) for j in range(len(ln))][2:]
    i, j = flat[int(rng.integers(len(flat)))]
    lines[i][j] = "zq" + "".join(rng.choice(list("xyzw"), 6))
    return "\n".join(" ".join(ln) for ln in lines)


def write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


# ------------------------------------------------------- relational tables

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def relational_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The registry's ten tables with the testdata schemas and value
    domains, at the testdata's scale factor ``sf`` (orders = 1.5M * sf).
    Keys are shifted by a seeded offset so no two seeds share a key space."""
    rng = np.random.default_rng([seed, 5])
    shift = int(rng.integers(0, 1000))
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_ev, n_doc = int(1_500_000 * sf), int(1_000_000 * sf), int(50_000 * sf)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start: dt.date, span: int, n: int):
        base = np.datetime64(start.isoformat(), "us")
        return base + rng.integers(0, span, n).astype("timedelta64[D]")

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    ck = np.arange(n_cust, dtype=np.int64) + shift
    t["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    sk = np.arange(n_supp, dtype=np.int64) + shift
    t["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64) + shift
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                              rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    ok = np.arange(n_ord, dtype=np.int64) + shift
    t["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.choice(ck, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": days(dt.date(1995, 1, 1), 2400, n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    lines_per_order = rng.integers(1, 8, n_ord)
    n_li = int(lines_per_order.sum())
    t["lineitem"] = pa.table({
        "l_orderkey": np.repeat(ok, lines_per_order),
        "l_partkey": rng.choice(pk, n_li),
        "l_suppkey": rng.choice(sk, n_li),
        "l_linenumber": np.concatenate(
            [np.arange(1, k + 1) for k in lines_per_order]
        ).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, n_li),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": days(dt.date(1995, 1, 2), 2500, n_li),
    })
    ts = np.sort(
        np.datetime64("2024-01-01", "us")
        + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]")
    )
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64) + shift,
        "ts": ts,
        "user_id": rng.integers(0, max(10, n_cust // 10), n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": money(0.01, 500.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = [
        " ".join(rng.choice(DOC_WORDS, int(rng.integers(10, 100))))
        for _ in range(n_doc)
    ]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64) + shift,
        "text": texts,
        "lang": rng.choice(["de", "en", "en", "en", "es", "fr", "zh"], n_doc),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_doc)
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n_doc, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_doc, dtype=np.int64) + shift,
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> None:
    for name, table in tables.items():
        write_parquet(table, os.path.join(sf_dir, f"{name}.parquet"))
