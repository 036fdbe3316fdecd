"""The three workloads: what one pass does, what it counts, how its
outputs are checked and which per-layer numbers its spans give.

Each workload is built against one live SparkSession and one working
directory. `generate()` writes the seeded inputs, `load()` turns them
into DataFrames, `run_pass()` does one timed unit of work and returns
its operation latencies, `check()` verifies the outputs of the last
pass (untimed) and `layers()` turns the recorded spans into per-layer
metrics. Every call into the library goes through the public
functions the CLI verbs and the plans compose.
"""

from __future__ import annotations

import contextlib
import functools
import math
import os
import statistics
import time
from datetime import date

import numpy as np
from pyspark.sql import functions as F

import gen

SQL_QUERIES = (
    "a4_pricing_summary",
    "j2_revenue_by_nation",
    "j1_selective_read",
    "w1_rank_topk_per_group",
    "w2_window_frames",
    "a6_multidim_agg",
    "set1_union_intersect_except",
    "o1_topk_orders",
    "j5_join_variants",
    "a1_count_guard",
    "sql1_tpch_q3",
    "j7_asof_join",
    "j8_range_join",
    "j9_parts_suppliers",
)
# per-layer metrics every traced run reports, whatever the workload
COMMON_LAYERS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "tasks_failed": "count",
    "trace.overhead_frac": "ratio",
}


def _du(path: str) -> tuple[int, int]:
    """(bytes, data files) under path; Spark's hidden/CRC files are
    not data."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += not n.startswith((".", "_"))
    return size, files


def tail(samples: list[float]) -> tuple[str, float]:
    """The highest percentile with at least ten samples beyond it, as
    (name, value); the maximum when there are fewer than 11 samples."""
    xs = sorted(samples)
    n = len(xs)
    if n < 11:
        return "max", xs[-1]
    pct = int(100 * (n - 10) / n)
    return f"p{pct}", xs[max(0, math.ceil(pct * n / 100) - 1)]  # nearest rank


def _per(tot: dict, name: str, key: str, n: int) -> float:
    return tot[name][key] / n if name in tot else 0.0


class Workload:
    """One workload bound to a session, a tracer and a directory."""

    item = "items"  # what items_per_s counts
    pass_s = 10.0  # nominal seconds per pass; sets the passes per run
    LAYERS: dict[str, str] = {}  # per-layer metric → unit

    def __init__(self, spark, tracer, seed: int, size: dict, work: str):
        self.spark = spark
        self.tr = tracer
        self.seed = seed
        self.size = size
        self.work = work
        self.passes = 0
        self.out_bytes = 0  # bytes the last pass left on disk

    def layers(self, n_traced: int) -> dict[str, float]:
        raise NotImplementedError


# --------------------------------------------------------------------------


class CcdcTile(Workload):
    """The product run for one tile: long-table change detection and
    its three sinks, reference-exact ARD detection and its three sinks,
    random-forest training, and replay classification with the
    predictions written. One pass = the whole tile; items = pixels; one
    operation = one of the six blocking stages (detect, its sinks, ARD
    detect, its sinks, train, classify)."""

    item = "pixels"
    pass_s = 10.0
    LAYERS = {
        "ccdc.detect.self_s": "s",
        "ccdc.detect_ard.self_s": "s",
        "ccdc.sinks.self_s": "s",
        "ccdc.sinks.bytes": "bytes",
        "ccdc.sinks.files": "count",
        "ccdc.train.self_s": "s",
        "ccdc.classify.build_s": "s",
        "ccdc.classify.exec_s": "s",
        "ccdc.segments_per_pixel": "ratio",
    }

    def generate(self):
        s = self.size
        self.tile = gen.tile(self.seed, gen_chips(s["chips"]), s["side"], s["n_obs"])
        self.inp = os.path.join(self.work, "input")
        gen.write_tile(self.tile, self.inp)

    def load(self):
        from lcmap_firebird_spark.sources.ids import chip_ids

        sp = self.spark
        self.obs = sp.read.parquet(f"{self.inp}/obs")
        self.ard = sp.read.parquet(f"{self.inp}/ard")
        self.aux = sp.read.parquet(f"{self.inp}/aux")
        self.ids = chip_ids(sp, self.tile.chips)
        self.n_items = len(self.tile.pixels)
        self.counts: list[tuple[int, int]] = []

    def run_pass(self) -> list[float]:
        from lcmap_firebird_spark.catalog import write_partitioned
        from lcmap_firebird_spark.operators import pyccd
        from lcmap_firebird_spark.operators.relational import (
            filter_not_in,
            selective_read,
        )
        from lcmap_firebird_spark.plans import changedetection as CD
        from lcmap_firebird_spark.plans import classification as CL

        out = os.path.join(self.work, f"out-{self.passes}")
        self.passes += 1
        self._stages: list[float] = []
        stage, span = self._stage, self.tr.span
        with stage("ccdc.detect"):
            seg = CD.detect(self.obs, self.ids).persist()
            n_seg = seg.count()
        with stage("ccdc.sinks"):
            for name, fn in (("chip", CD.chip_table), ("pixel", CD.pixel_table),
                             ("segment", CD.segment_table)):
                write_partitioned(fn(seg), f"{out}/cd/{name}", mode="overwrite")
        seg.unpersist()
        with stage("ccdc.detect_ard"):
            aseg = pyccd.detect(selective_read(self.ard, self.ids, ["cx", "cy"]))
            aseg = aseg.persist()
            n_aseg = aseg.count()
        with stage("ccdc.sinks"):
            for name, fn in (("chip", pyccd.chip_table), ("pixel", pyccd.pixel_table),
                             ("segment", pyccd.segment_table)):
                write_partitioned(fn(aseg), f"{out}/ard/{name}", mode="overwrite")
        aseg.unpersist()
        msday, meday = self.tile.days
        segments = self.spark.read.parquet(f"{out}/cd/segment")
        with stage("ccdc.train"):
            model = CL.train(self.aux, segments, msday, meday,
                             num_trees=self.size["trees"], seed=self.seed)
        with stage("ccdc.classify"):
            with span("ccdc.classify.build"):
                fdf = CL.features(
                    filter_not_in(self.aux, F.element_at("trends", 1), [0, 9]),
                    segments.filter((F.col("sday") >= msday) & (F.col("eday") <= meday)),
                )
                pred = CL.classify(model, fdf, method="replay")
            with span("ccdc.classify.exec"):
                pred.write.mode("overwrite").parquet(f"{out}/pred")
        self.counts.append((n_seg, n_aseg))
        self.last = (out, model, fdf)
        self.out_bytes = _du(out)[0]
        return self._stages

    @contextlib.contextmanager
    def _stage(self, name: str):
        """A span whose wall time is also one operation of the pass."""
        t0 = time.perf_counter()
        with self.tr.span(name):
            yield
        self._stages.append(time.perf_counter() - t0)

    def check(self) -> dict:
        """Every input pixel exactly once in both pixel tables with ≥1
        segment; the same segment counts on every pass; ≥ 80% of
        planted breaks found by both detectors, few flat pixels broken;
        replay labels equal MLlib's argmax row for row."""
        out, model, fdf = self.last
        sp = self.spark
        pixels = sorted(self.tile.pixels)
        keys = ["cx", "cy", "px", "py"]
        cd_pix = sp.read.parquet(f"{out}/cd/pixel").collect()
        ard_pix = sp.read.parquet(f"{out}/ard/pixel").collect()
        errors = []
        if sorted(tuple(r[k] for k in keys) for r in cd_pix) != pixels:
            errors.append("cd pixel table != input pixels")
        if any(r.n_segments < 1 for r in cd_pix):
            errors.append("cd pixel without segment")
        if sorted(tuple(r[k] for k in keys) for r in ard_pix) != pixels:
            errors.append("ard pixel table != input pixels")
        if len(set(self.counts)) != 1:
            errors.append(f"segment counts differ between passes: {self.counts}")

        breaks = self.tile.breaks
        tol = 6 * gen.REVISIT_DAYS
        cd = sp.read.parquet(f"{out}/cd/segment").filter("bday IS NOT NULL")
        found_cd = {}
        for r in cd.select(*keys, "bday").collect():
            found_cd.setdefault(tuple(r[k] for k in keys), []).append(r.bday)
        ard = sp.read.parquet(f"{out}/ard/segment").filter("bday IS NOT NULL")
        found_ard = {}
        for r in ard.select(*keys, "bday").collect():
            found_ard.setdefault(tuple(r[k] for k in keys), []).append(
                date.fromisoformat(r.bday).toordinal()
            )
        rates = {}
        # flat-pixel false breaks: the single-band long path sees only
        # detector noise; the ARD path would break most flat pixels if
        # cloudy acquisitions leaked past the QA mask
        for tag, found, max_false in (("cd", found_cd, 0.25), ("ard", found_ard, 0.1)):
            hit = sum(
                any(0 <= b - day <= tol for b in found.get(p, ()))
                for p, day in breaks.items()
            )
            flat = [p for p in pixels if p not in breaks]
            false = sum(p in found for p in flat)
            rates[f"{tag}_break_recall"] = hit / max(1, len(breaks))
            rates[f"{tag}_flat_false_rate"] = false / max(1, len(flat))
            if rates[f"{tag}_break_recall"] < 0.8:
                errors.append(f"{tag}: planted breaks found {hit}/{len(breaks)}")
            if rates[f"{tag}_flat_false_rate"] > max_false:
                errors.append(f"{tag}: {false}/{len(flat)} flat pixels broken")

        # replay sums leaf fractions quantized to 1e-6 per tree, so a row
        # whose two best MLlib scores lie within that of each other is a
        # tie either rule may break its own way; every other row must agree
        labels = [int(float(x)) for x in model.stages[0].labels]
        ids = keys + ["sday", "eday"]
        tol = self.size["trees"] * 1e-6
        want, ties = {}, set()
        for r in model.transform(fdf).select(*ids, "prediction", "rawPrediction").collect():
            k = tuple(r[c] for c in ids)
            want[k] = labels[int(r.prediction)]
            top = sorted(r.rawPrediction.toArray())[-2:]
            if top[1] - top[0] <= tol:
                ties.add(k)
        got = {
            tuple(r[k] for k in ids): int(float(r.predicted_label))
            for r in sp.read.parquet(f"{out}/pred").collect()
        }
        bad = [k for k in want if k not in ties and got.get(k) != want[k]]
        if not want or got.keys() != want.keys() or bad:
            errors.append(f"replay labels != MLlib argmax on {len(bad)} of "
                          f"{len(want)} rows ({len(got)} written)")
        n_seg = self.counts[-1][0]
        self.segments_per_pixel = n_seg / len(pixels)
        return {"errors": errors, "pixels": len(pixels), "breaks": len(breaks),
                "segments": n_seg, "classify_ties": len(ties), **rates}

    def layers(self, n: int) -> dict[str, float]:
        tot = self.tr.totals("ccdc.")
        size, files = _du(os.path.join(self.last[0], "cd"))
        asize, afiles = _du(os.path.join(self.last[0], "ard"))
        return {
            "ccdc.detect.self_s": _per(tot, "ccdc.detect", "self", n),
            "ccdc.detect_ard.self_s": _per(tot, "ccdc.detect_ard", "self", n),
            "ccdc.sinks.self_s": _per(tot, "ccdc.sinks", "self", n),
            "ccdc.sinks.bytes": size + asize,
            "ccdc.sinks.files": files + afiles,
            "ccdc.train.self_s": _per(tot, "ccdc.train", "self", n),
            "ccdc.classify.build_s": _per(tot, "ccdc.classify.build", "self", n),
            "ccdc.classify.exec_s": _per(tot, "ccdc.classify.exec", "self", n),
            "ccdc.segments_per_pixel": self.segments_per_pixel,
        }


def gen_chips(n: int) -> list[tuple[int, int]]:
    """The first `n` chips of the CLI's example tile."""
    from lcmap_firebird_spark import grid

    return grid.tile(-1815585, 1064805)["chips"][:n]


# --------------------------------------------------------------------------


class SqlCatalog(Workload):
    """One closed-loop client over 14 registry queries; each query ends
    in a noop write and the seed permutes the order in every pass.
    Items = queries; one operation = one query."""

    item = "queries"
    pass_s = 6.0
    LAYERS = {
        "sql.build_s": "s",
        "sql.exec_s": "s",
        "sql.jobs": "count",
        "sql.tasks": "count",
        **{f"sql.q.{q}.exec_s": "s" for q in SQL_QUERIES},
    }

    def generate(self):
        self.data = os.path.join(self.work, "catalog")
        self.rows = gen.catalog_tables(self.data, self.seed, self.size["orders"])

    def load(self):
        from lcmap_firebird_spark.queries import merged

        self.fns, self.oracles = merged()
        missing = [q for q in SQL_QUERIES if q not in self.fns]
        if missing:
            raise KeyError(f"queries missing from the registry: {missing}")
        self.n_items = len(SQL_QUERIES)
        self.rng = np.random.default_rng(self.seed)

    def run_pass(self) -> list[float]:
        span = self.tr.span
        lat = []
        for i in self.rng.permutation(len(SQL_QUERIES)):
            q = SQL_QUERIES[i]
            t0 = time.perf_counter()
            with span(f"sql.build.{q}"):
                df = self.fns[q](self.spark, self.data)
            with span(f"sql.exec.{q}"):
                df.write.format("noop").mode("overwrite").save()
            lat.append(time.perf_counter() - t0)
        self.passes += 1
        return lat

    def check(self) -> dict:
        """Each query against its DuckDB oracle, through the repository's
        oracle comparison (tools/oracle_compare)."""
        import duckdb
        from oracle_compare import canon, compare

        con = duckdb.connect()
        try:
            for name in self.rows:
                path = os.path.join(self.data, f"{name}.parquet")
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
            errors = []
            for q in SQL_QUERIES:
                got = canon(self.fns[q](self.spark, self.data).toPandas())
                want = canon(con.execute(self.oracles[q]).fetchdf())
                verdict = compare(got, want)
                if not all(verdict.values()):
                    errors.append(f"{q}: {verdict}")
        finally:
            con.close()
        return {"errors": errors, "rows": self.rows}

    def layers(self, n: int) -> dict[str, float]:
        tot = self.tr.totals("sql.")
        build = [v for k, v in tot.items() if k.startswith("sql.build.")]
        execs = [v for k, v in tot.items() if k.startswith("sql.exec.")]
        nq = sum(v["n"] for v in execs) or 1
        out = {
            "sql.build_s": sum(v["self"] for v in build) / nq,
            "sql.exec_s": sum(v["self"] for v in execs) / nq,
            "sql.jobs": sum(v["jobs"] for v in build + execs) / nq,
            "sql.tasks": sum(v["tasks"] for v in build + execs) / nq,
        }
        for q in SQL_QUERIES:
            v = tot.get(f"sql.exec.{q}")
            out[f"sql.q.{q}.exec_s"] = v["self"] / v["n"] if v else 0.0
        return out


# --------------------------------------------------------------------------


class CorpusIngest(Workload):
    """Seeded document batches through the quality and language gates,
    incremental near-dup detection against a signature store, and a
    MERGE of the survivors into a transactional table keyed on doc_id,
    with a snapshot aggregate read after every commit. The pass ends
    with a takedown delete (deletion vectors), a compaction and a final
    read. One pass = one fresh table; items = input documents; one
    operation = one batch (gates + dedup + commit + read)."""

    item = "docs"
    pass_s = 10.0
    LAYERS = {
        "ingest.gate.self_s": "s",
        "ingest.signature.self_s": "s",
        "ingest.pairs.self_s": "s",
        "ingest.dup_found_frac": "ratio",
        "ingest.merge.self_s": "s",
        "ingest.merge.bytes_written": "bytes",
        "ingest.merge.files_rewritten": "count",
        "ingest.snapshot.self_s": "s",
        "ingest.read_p50_s": "s",
        "ingest.delete.self_s": "s",
        "ingest.compact.self_s": "s",
        "ingest.compact.bytes_rewritten": "bytes",
        "ingest.bytes_per_live_byte": "ratio",
    }
    LANGS = ("en", "de")
    TAKEDOWN = "source = 'forum'"

    def generate(self):
        s = self.size
        self.corpus = gen.corpus(self.seed, s["batches"], s["batch_docs"])
        self.paths = gen.write_corpus(self.corpus, os.path.join(self.work, "docs"))

    def load(self):
        self.batches = [self.spark.read.parquet(p) for p in self.paths]
        self.n_items = sum(len(b) for b in self.corpus.batches)
        self.reads: list[float] = []

    def _read(self, table) -> None:
        t0 = time.perf_counter()
        with self.tr.span("ingest.snapshot"):
            table.snapshot().groupBy("source").agg(
                F.count("*").alias("n"), F.sum("n_chars").alias("chars")
            ).collect()
        self.reads.append(time.perf_counter() - t0)

    def run_pass(self) -> list[float]:
        from lcmap_firebird_spark.lakehouse import LakeTable
        from lcmap_firebird_spark.operators.incremental import (
            incremental_pairs,
            merge_batch,
            signature_table,
        )
        from lcmap_firebird_spark.plans.corpus import language_gate, quality_gate

        span = self.tr.span
        root = os.path.join(self.work, f"lake-{self.passes}")
        self.passes += 1
        table = store = corpus = None
        lat, gated_all, survivors_all = [], [], []
        for df in self.batches:
            t0 = time.perf_counter()
            with span("ingest.gate"):
                gated = language_gate(quality_gate(df), self.LANGS)
                gated = gated.localCheckpoint(eager=True)
            with span("ingest.signature"):
                sigs = signature_table(gated).localCheckpoint(eager=True)
            with span("ingest.pairs"):
                # pairs touching the batch against the store so far (the
                # batch itself for the first), then the store absorbs it
                corpus = gated if corpus is None else corpus.unionByName(gated)
                pairs = incremental_pairs(
                    corpus, sigs if store is None else store, gated, batch_sigs=sigs
                ).localCheckpoint(eager=True)
                store = sigs if store is None else merge_batch(store, sigs)
                store = store.localCheckpoint(eager=True)
            survivors = gated.join(
                pairs.select(F.col("doc_b").alias("doc_id")), "doc_id", "left_anti"
            )
            with span("ingest.merge"):
                if table is None:
                    table = LakeTable.create(self.spark, root, survivors, ["doc_id"])
                else:
                    table.merge(survivors)
            self._read(table)
            lat.append(time.perf_counter() - t0)
            gated_all.append(gated)
            survivors_all.append(survivors)
        with span("ingest.delete"):
            table.delete_mor(self.TAKEDOWN)
        self._read(table)
        with span("ingest.compact"):
            table.compact(target_rows=self.size["compact_rows"])
        self._read(table)
        self.last = (table, gated_all, survivors_all)
        self.out_bytes = _du(root)[0]
        return lat

    def check(self) -> dict:
        """The final snapshot's doc_id set equals the union of every
        batch's survivors minus the takedown, computed with plain
        DataFrame ops; commits = batches + 2; every planted exact
        duplicate that passed the gates is caught and no unplanted
        document is dropped."""
        table, gated_all, survivors_all = self.last
        errors = []
        got = {r.doc_id for r in table.snapshot().select("doc_id").collect()}
        expect_df = functools.reduce(lambda a, b: a.unionByName(b), survivors_all)
        want = {
            r.doc_id
            for r in expect_df.filter(f"NOT ({self.TAKEDOWN})").select("doc_id").collect()
        }
        if got != want:
            errors.append(f"final snapshot {len(got)} docs != expected {len(want)}")
        # version 0 is the schema-only entry create() writes first
        hist = [h for h in table.history() if h["version"] > 0]
        if len(hist) != len(self.batches) + 2:
            errors.append(f"{len(hist)} commits, expected {len(self.batches) + 2}")
        gated = {
            r.doc_id
            for r in functools.reduce(lambda a, b: a.unionByName(b), gated_all)
            .select("doc_id").collect()
        }
        kept = {r.doc_id for r in expect_df.select("doc_id").collect()}
        dropped = gated - kept
        c = self.corpus
        planted = {
            d for d, o in (c.exact_dups | c.near_dups).items()
            if d in gated and o in gated
        }
        exact = {d for d in planted if d in c.exact_dups}
        if exact - dropped:
            errors.append(f"exact duplicates missed: {sorted(exact - dropped)[:5]}")
        if dropped - planted:
            errors.append(f"unplanted docs dropped: {sorted(dropped - planted)[:5]}")
        if gated & c.junk:
            errors.append("quality gate passed planted junk")
        self.dup_found_frac = len(planted & dropped) / max(1, len(planted))

        live_dir = os.path.join(self.work, "live-check")
        table.snapshot().write.mode("overwrite").parquet(live_dir)
        self.bytes_per_live = _du(table.root)[0] / _du(live_dir)[0]
        self.history = hist
        return {"errors": errors, "docs": self.n_items, "gated": len(gated),
                "planted": len(planted), "dropped": len(dropped),
                "final_docs": len(got), "commits": len(hist)}

    def layers(self, n: int) -> dict[str, float]:
        tot = self.tr.totals("ingest.")
        merges = [h for h in self.history if h["operation"] in ("create", "merge")]
        compacts = [h for h in self.history if h["operation"] == "compact"]
        return {
            "ingest.gate.self_s": _per(tot, "ingest.gate", "self", n),
            "ingest.signature.self_s": _per(tot, "ingest.signature", "self", n),
            "ingest.pairs.self_s": _per(tot, "ingest.pairs", "self", n),
            "ingest.dup_found_frac": self.dup_found_frac,
            "ingest.merge.self_s": _per(tot, "ingest.merge", "self", n),
            "ingest.merge.bytes_written": sum(h["bytes_added"] for h in merges),
            "ingest.merge.files_rewritten": sum(h["removed"] for h in merges),
            "ingest.snapshot.self_s": _per(tot, "ingest.snapshot", "self", n),
            "ingest.read_p50_s": statistics.median(self.reads),
            "ingest.delete.self_s": _per(tot, "ingest.delete", "self", n),
            "ingest.compact.self_s": _per(tot, "ingest.compact", "self", n),
            "ingest.compact.bytes_rewritten": sum(h["bytes_added"] for h in compacts),
            "ingest.bytes_per_live_byte": self.bytes_per_live,
        }


WORKLOADS = {
    "ccdc_tile": CcdcTile,
    "sql_catalog": SqlCatalog,
    "corpus_ingest": CorpusIngest,
}
# the workloads BENCHMARK.json lists; sql_catalog runs on request only
# (README.md, "Workloads")
LISTED = ("ccdc_tile", "corpus_ingest")


def layer_units(workload: str) -> dict[str, str]:
    """The per-layer metrics a traced run of `workload` prints: those of
    every listed workload (0 where this one bypasses the layer) plus its
    own."""
    units = dict(COMMON_LAYERS)
    for name in (*LISTED, workload):
        units.update(WORKLOADS[name].LAYERS)
    return units


# input sizes; "tiny" is the smoke-test size
SIZES = {
    "ccdc_tile": {
        "full": {"chips": 2, "side": 4, "n_obs": 120, "trees": 8},
        "tiny": {"chips": 1, "side": 3, "n_obs": 80, "trees": 2},
    },
    "sql_catalog": {
        "full": {"orders": 15000},
        "tiny": {"orders": 1500},
    },
    "corpus_ingest": {
        "full": {"batches": 2, "batch_docs": 450, "compact_rows": 100_000},
        "tiny": {"batches": 2, "batch_docs": 60, "compact_rows": 100_000},
    },
}
