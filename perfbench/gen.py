"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed and size arguments:
the same seed gives byte-identical inputs, so two runs of the
benchmark on one seed feed the engine the same data. Nothing here
imports Spark; the workloads turn the returned rows/paths into
DataFrames.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import date, datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# sql_catalog: TPC-H-shaped star schema + events, same schema as the
# repository's query registry expects (region nation customer supplier
# part orders lineitem events, one parquet file each).
# --------------------------------------------------------------------------

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_COLORS = ["red", "blue", "green", "black", "white", "small", "large", "steel"]
_THINGS = ["widget", "bolt", "plate", "ring", "gear", "valve", "spring", "nut"]
_PTYPES = ["ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(days: np.ndarray, base: date) -> pa.Array:
    """Day offsets from `base` as timestamp[us] (naive)."""
    epoch = (base - date(1970, 1, 1)).days
    us = (days.astype("int64") + epoch) * 86_400_000_000
    return pa.array(us, type=pa.timestamp("us"))


def catalog_tables(out_dir: str, seed: int, n_orders: int) -> dict[str, int]:
    """Write the eight catalog tables under `out_dir`; returns row
    counts. Sizes scale with `n_orders` (lineitem ≈ 4 × orders, the
    TPC-H ratio)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, n_orders // 10)
    n_supp = max(20, n_orders // 150)
    n_part = max(100, n_orders * 2 // 15)
    n_events = max(500, n_orders * 2 // 3)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [
            f"{_COLORS[a]} {_THINGS[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })

    odays = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": _ts(odays, date(1995, 1, 1)),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders),
    })

    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders), lines)
    n_li = len(okey)
    lineno = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = rng.integers(1, 51, n_li).astype("float64")
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(odays[okey] + rng.integers(1, 122, n_li), date(1995, 1, 1)),
    })

    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events))
    base_us = int((datetime(2024, 1, 1) - datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ev_us + base_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_events), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })

    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# --------------------------------------------------------------------------
# ccdc_tile: one synthetic tile — long observations, the same pixels as
# dense-wide ARD, and aux layers, with planted level breaks and
# cloud-masked observations.
# --------------------------------------------------------------------------

BANDS = ("blues", "greens", "reds", "nirs", "swir1s", "swir2s", "thermals")
CLEAR_QA, CLOUD_QA = 66, 352  # PIXELQA: clear / cloud (not in the clear set)
T0 = date(2000, 1, 1).toordinal()
REVISIT_DAYS = 16


@dataclass
class Tile:
    chips: list[tuple[int, int]]
    side: int
    n_obs: int
    break_frac: float
    cloud_frac: float
    obs: list[tuple] = field(default_factory=list)  # cx cy px py t value
    ard: list[tuple] = field(default_factory=list)  # schemas.ard_schema order
    aux: list[tuple] = field(default_factory=list)  # schemas.aux_schema order
    breaks: dict[tuple, int] = field(default_factory=dict)  # pixel → break day

    @property
    def pixels(self) -> list[tuple[int, int, int, int]]:
        return [
            (cx, cy, px, py)
            for cx, cy in self.chips
            for px in range(self.side)
            for py in range(self.side)
        ]

    @property
    def days(self) -> tuple[int, int]:
        return T0, T0 + REVISIT_DAYS * (self.n_obs - 1)


def tile(
    seed: int,
    chips: list[tuple[int, int]],
    side: int,
    n_obs: int,
    break_frac: float = 0.5,
    cloud_frac: float = 0.2,
) -> Tile:
    """`len(chips)` chips × `side`² pixels × `n_obs` acquisitions every
    16 days. `round(break_frac × pixels)` pixels, drawn by the seed,
    carry one level break
    (all bands, +40% of the band level) somewhere in the middle half
    of the series; `cloud_frac` of the acquisitions are cloudy. Long
    observations hold the clear acquisitions only (masked upstream);
    the ARD rows hold every acquisition, cloudy ones flagged in `qas`
    with bright values, dates descending as the ARD service delivers
    them. Aux labels (`trends[0]`) follow the pixel's elevation class
    and break state; 10% of pixels carry an excluded label (0 or 9)."""
    rng = np.random.default_rng(seed)
    t = Tile(list(chips), side, n_obs, break_frac, cloud_frac)
    days = T0 + REVISIT_DAYS * np.arange(n_obs)
    days_desc = [int(d) for d in days[::-1]]
    n_pix = len(t.pixels)
    broken = set(rng.permutation(n_pix)[: round(break_frac * n_pix)].tolist())
    for i_pix, key in enumerate(t.pixels):
        cloudy = rng.random(n_obs) < cloud_frac
        level = rng.uniform(800.0, 2500.0, len(BANDS))
        shift = np.zeros(n_obs)
        broke = i_pix in broken
        if broke:
            at = int(rng.integers(n_obs // 4, 3 * n_obs // 4))
            t.breaks[key] = int(days[at])
            shift[at:] = 0.4
        bands = {}
        for b, lv in zip(BANDS, level):
            v = lv * (1.0 + shift) + rng.normal(0.0, 0.01 * lv, n_obs)
            v = np.where(cloudy, 6000.0 + rng.normal(0, 50.0, n_obs), v)
            bands[b] = v
        first = bands["blues"]
        for i in np.flatnonzero(~cloudy):
            t.obs.append((*key, int(days[i]), float(round(first[i], 2))))
        qas = np.where(cloudy, CLOUD_QA, CLEAR_QA)
        t.ard.append((
            *key,
            days_desc,
            *[[int(x) for x in bands[b][::-1]] for b in BANDS],
            [int(q) for q in qas[::-1]],
        ))
        dem = float(rng.uniform(100.0, 2000.0))
        label = 1 + int(dem // 500) + (4 if broke else 0)
        if rng.random() < 0.1:
            label = int(rng.choice([0, 9]))
        t.aux.append((
            *key,
            [int(days[0])],
            [dem],
            [label],
            [int(rng.integers(0, 360))],
            [float(rng.uniform(0, 1))],
            [float(rng.uniform(0, 45))],
            [int(rng.integers(0, 2))],
        ))
    return t


_I32 = pa.int32()
_KEYS = [("cx", _I32), ("cy", _I32), ("px", _I32), ("py", _I32)]


def write_tile(t: Tile, out_dir: str) -> None:
    """Write obs/, ard/ and aux/ parquet under `out_dir`, typed like
    schemas.ard_schema() / aux_schema() and the long (cx, cy, px, py,
    t, value) table the changedetection CLI reads."""
    specs = {
        "obs": _KEYS + [("t", _I32), ("value", pa.float64())],
        "ard": _KEYS + [(c, pa.list_(_I32)) for c in ("dates", *BANDS, "qas")],
        "aux": _KEYS + [
            ("dates", pa.list_(_I32)), ("dem", pa.list_(pa.float32())),
            ("trends", pa.list_(_I32)), ("aspect", pa.list_(_I32)),
            ("posidex", pa.list_(pa.float32())), ("slope", pa.list_(pa.float32())),
            ("mpw", pa.list_(_I32)),
        ],
    }
    for name, rows in (("obs", t.obs), ("ard", t.ard), ("aux", t.aux)):
        schema = pa.schema(specs[name])
        cols = list(zip(*rows))
        table = pa.table(
            [pa.array(c, f.type) for c, f in zip(cols, schema)], schema=schema
        )
        os.makedirs(os.path.join(out_dir, name), exist_ok=True)
        pq.write_table(table, os.path.join(out_dir, name, "part-0.parquet"))


# --------------------------------------------------------------------------
# corpus_ingest: document batches with planted exact and near duplicates
# across batches, several languages and several sources.
# --------------------------------------------------------------------------

# a copy of operators/text.STOPWORDS, not an import: the inputs must
# stay the same when the library's language profiles change
LANG_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "is", "in"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "es": ["el", "la", "de", "y", "es", "un"],
    "fr": ["le", "la", "et", "les", "est", "un"],
}
LANGS = ("en", "de", "es", "fr")
LANG_P = (0.6, 0.2, 0.1, 0.1)
SOURCES = ("web", "news", "forum", "books")
_SYLL = ["ka", "lo", "mi", "ren", "tu", "va", "zor", "pel", "qui", "dan",
         "sho", "bri", "nex", "tal", "mor", "fi", "gu", "ha", "jen", "wex"]


@dataclass
class Corpus:
    batches: list[list[tuple]]  # (doc_id, text, lang, source, n_chars)
    exact_dups: dict[int, int]  # dup doc_id → original doc_id
    near_dups: dict[int, int]
    junk: set[int]  # docs built to fail the quality gate


def _vocab(rng, n):
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 5))
        words.add("".join(rng.choice(_SYLL, k)))
    return sorted(words)


def corpus(
    seed: int,
    n_batches: int,
    batch_docs: int,
    exact_rate: float = 0.08,
    near_rate: float = 0.08,
    junk_rate: float = 0.05,
) -> Corpus:
    """`n_batches` × `batch_docs` documents, doc_ids ascending across
    batches. Languages en/de/es/fr at 60/20/10/10%, sources
    web/news/forum/books uniform. From the second batch on, an
    `exact_rate` share of each batch re-ingests the text of an earlier
    clean document (byte-identical), and a `near_rate` share copies one
    with 4% of its tokens replaced (3-shingle Jaccard ≈ 0.8). A
    `junk_rate` share is repeated-bigram spam the quality gate drops.
    Each share is an exact count per batch (rounded); the seed draws
    which documents take each role."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, 3000)
    batches: list[list[tuple]] = []
    exact: dict[int, int] = {}
    near: dict[int, int] = {}
    junk: set[int] = set()
    clean: list[tuple[int, str, str]] = []  # (doc_id, text, lang) kept originals
    doc_id = 0
    for b in range(n_batches):
        rows = []
        n_dup = round(exact_rate * batch_docs) if b > 0 else 0
        n_near = round(near_rate * batch_docs) if b > 0 else 0
        roles = np.array(
            ["exact"] * n_dup + ["near"] * n_near
            + ["junk"] * round(junk_rate * batch_docs)
        )
        roles = rng.permutation(
            np.concatenate([roles, ["clean"] * (batch_docs - len(roles))])
        )
        for role in roles:
            src = SOURCES[int(rng.integers(0, len(SOURCES)))]
            if role == "exact":
                orig, text, lang = clean[int(rng.integers(0, len(clean)))]
                exact[doc_id] = orig
            elif role == "near":
                orig, text, lang = clean[int(rng.integers(0, len(clean)))]
                toks = text.split(" ")
                for i in rng.choice(len(toks), max(1, len(toks) // 25), replace=False):
                    toks[i] = vocab[int(rng.integers(0, len(vocab)))]
                text = " ".join(toks)
                near[doc_id] = orig
            elif role == "junk":
                lang = "en"
                a, c = rng.choice(vocab, 2, replace=False)
                text = " ".join([f"{a} {c}"] * int(rng.integers(10, 30)))
                junk.add(doc_id)
            else:
                lang = LANGS[int(rng.choice(len(LANGS), p=LANG_P))]
                n_tok = int(rng.integers(40, 120))
                stop = LANG_STOPWORDS[lang]
                toks = [
                    stop[int(rng.integers(0, len(stop)))]
                    if rng.random() < 0.3
                    else vocab[int(rng.integers(0, len(vocab)))]
                    for _ in range(n_tok)
                ]
                text = " ".join(toks)
                clean.append((doc_id, text, lang))
            rows.append((doc_id, text, lang, src, len(text)))
            doc_id += 1
        batches.append(rows)
    return Corpus(batches, exact, near, junk)


CORPUS_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64()),
])


def write_corpus(c: Corpus, out_dir: str) -> list[str]:
    """One parquet file per batch; returns their paths in order."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for b, rows in enumerate(c.batches):
        cols = list(zip(*rows))
        table = pa.table(
            [pa.array(col, f.type) for col, f in zip(cols, CORPUS_SCHEMA)],
            schema=CORPUS_SCHEMA,
        )
        paths.append(os.path.join(out_dir, f"batch-{b}.parquet"))
        pq.write_table(table, paths[-1])
    return paths
