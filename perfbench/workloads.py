"""The benchmark's workloads. Each one drives the program only through a
public entry point on seeded inputs:

  er_vocab           plans.pipeline.run_pipeline (+ evaluate_pipeline)
  contract_headline  driver_contract.QUERIES (ten headline queries)

A workload prepares its inputs, runs timed operations, checks the outputs
and, in a traced run, attributes one operation to layers.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from perfbench.tracing import EventLog, Spans

# pipeline stage table name -> per-layer metric prefix, in pipeline order
STAGES = {
    "extracted": "extract",
    "mentions": "mentions",
    "names": "names",
    "block_assign": "blocks",
    "candidate_pairs": "pairs",
    "scored_pairs": "scored",
    "edge_split": "edge_split",
    "name_clusters": "name_clusters",
    "assignments": "assignments",
    "entities": "entities",
}
STAGE_FIELDS = {
    "wall_s": "s", "rows": "count", "task_s": "s", "skew": "ratio",
    "shuffle_mb": "MB", "spill_mb": "MB", "gc_s": "s",
}
HEADLINE = [
    "er_entities", "dedup_minhash_pairs", "dedup_simhash_pairs",
    "similarity_topk", "text_stats", "url_dedup", "text_repetition",
    "asof_prev_event", "events_tumbling", "tpch_q1",
]

# name -> unit, for every per-layer metric a traced run reports
LAYER_UNITS: dict[str, str] = {
    f"{p}.{f}": u for p in STAGES.values() for f, u in STAGE_FIELDS.items()
}
LAYER_UNITS.update({
    "extract.python_s": "s", "mentions.python_s": "s",
    "scored.python_s": "s", "scored.python_mb": "MB",
    "cc.wall_s": "s", "cc.jobs": "count",
    "catalog.bookkeeping_s": "s", "catalog.jobs": "count",
    "catalog.written_mb": "MB", "pipeline.jobs": "count",
    "pairs.per_name": "ratio", "scored.match_share": "ratio",
    "names.per_mention": "ratio",
})
LAYER_UNITS.update({f"q.{q}_s": "s" for q in HEADLINE})
LAYER_UNITS.update({
    "session.cold_s": "s", "jvm.peak_rss_mb": "MB",
    "trace.wall_s": "s",
    "host.nproc": "count", "host.mem_total_mb": "MB", "host.heap_mb": "MB",
    "host.load_before": "load", "host.load_after": "load",
})


@dataclass
class Op:
    """One timed operation: its wall, the input items it processed, and its
    epoch window (for picking its jobs out of the event log)."""

    wall: float
    items: int
    start: float
    end: float
    detail: dict = field(default_factory=dict)


class Timer:
    """Monotonic wall plus the epoch window of one timed call."""

    def __enter__(self):
        self.start, self._t0 = time.time(), time.monotonic()
        return self

    def __exit__(self, *exc):
        self.wall, self.end = time.monotonic() - self._t0, time.time()


@dataclass
class Verdict:
    attempted: int
    failed: int
    quality: float
    notes: list[str]


# ---------------------------------------------------------------------------
# ER pipeline
# ---------------------------------------------------------------------------

class Pipeline:
    """run_pipeline over a generate_corpus_dist corpus, one fresh stage
    directory per call; F1 against the generator's gold once per run."""

    SHAPES = {
        # sized for the run budget: on a 4-CPU host the pipeline takes about
        # 35 s, most of it per-job and stage-catalog cost (README)
        "er_vocab": {"full": dict(n_pages=3000, n_entities=1200, n_blocks=150),
                     "smoke": dict(n_pages=300, n_entities=120, n_blocks=15)},
    }
    # gross-breakage floor; the F1 itself is the end-to-end quality metric
    MIN_F1 = 0.95

    def __init__(self, name: str, size: str):
        self.shape = self.SHAPES[name][size]
        self.n = 0

    def prepare(self, spark, work: str, seed: int) -> None:
        from perfbench.inputs import write_corpus

        self.work = work
        self.pages_dir, self.gold_dir = write_corpus(
            spark, os.path.join(work, "corpus"), seed, self.shape
        )
        self.n_pages = self.shape["n_pages"]

    def op(self, spark) -> Op:
        from character_identification_spark.plans.pipeline import run_pipeline

        stage_dir = os.path.join(self.work, "stages", str(self.n))
        self.n += 1
        pages = spark.read.parquet(self.pages_dir)
        with Timer() as t:
            self.result = run_pipeline(spark, pages, stage_dir)
        rows = {
            r["stage"]: r["rows"]
            for r in spark.read.parquet(os.path.join(stage_dir, "_meta_metrics")).collect()
        }
        return Op(t.wall, self.n_pages, t.start, t.end, {"rows": rows})

    def check(self, spark, ops: list[Op]) -> Verdict:
        from character_identification_spark.plans.pipeline import evaluate_pipeline

        notes, failed = [], 0
        want = ops[0].detail["rows"]
        for k, o in enumerate(ops[1:], 1):
            if o.detail["rows"] != want:
                failed += 1
                notes.append(f"pipeline run {k}: stage rows {o.detail['rows']} != {want}")
        ev = evaluate_pipeline(self.result, spark.read.parquet(self.gold_dir))
        if ev["f1"] < self.MIN_F1:
            failed += 1
            notes.append(f"pairwise F1 {ev['f1']:.4f} < {self.MIN_F1}")
        notes.append(f"pairwise_f1={ev['f1']:.6f} precision={ev['precision']:.6f} "
                     f"recall={ev['recall']:.6f}")
        return Verdict(len(ops) + 1, failed, ev["f1"], notes)

    def traced_op(self, spark, spans: Spans) -> Op:
        import character_identification_spark.plans.pipeline as pipeline_mod
        from character_identification_spark.sources.catalog import StageStore

        write, cc = StageStore.write, pipeline_mod.connected_components

        def traced_write(store, df, name, partition_by=()):
            with spans.span(STAGES[name]):
                return write(store, df, name, partition_by)

        def traced_cc(*a, **kw):
            with spans.span("cc"):
                return cc(*a, **kw)

        StageStore.write, pipeline_mod.connected_components = traced_write, traced_cc
        try:
            return self.op(spark)
        finally:
            StageStore.write, pipeline_mod.connected_components = write, cc

    def layers(self, log: EventLog, spans: Spans, o: Op) -> dict:
        jobs = log.jobs_in(o.start, o.end)
        out: dict[str, float] = {}
        rows = o.detail["rows"]
        for table, p in STAGES.items():
            f = log.fold([j for j in jobs if j.group == p])
            out.update({
                f"{p}.wall_s": spans.wall(p), f"{p}.rows": rows.get(table, 0),
                f"{p}.task_s": f["task_s"], f"{p}.skew": f["skew"],
                f"{p}.shuffle_mb": f["shuffle_mb"], f"{p}.spill_mb": f["spill_mb"],
                f"{p}.gc_s": f["gc_s"],
            })
            if p in ("extract", "mentions", "scored"):
                out[f"{p}.python_s"] = f["python_s"]
            if p == "scored":
                out["scored.python_mb"] = f["python_mb"]
        spanned = sum(e - s for _, s, e in spans.rows)
        total = log.fold(jobs)
        out.update({
            "cc.wall_s": spans.wall("cc"),
            "cc.jobs": sum(j.group == "cc" for j in jobs),
            "catalog.bookkeeping_s": o.wall - spanned,
            "catalog.jobs": sum(j.group is None for j in jobs),
            "catalog.written_mb": total["written_mb"],
            "pipeline.jobs": len(jobs),
            "pairs.per_name": rows["candidate_pairs"] / max(rows["names"], 1),
            "scored.match_share": rows["edge_split"] / max(rows["scored_pairs"], 1),
            "names.per_mention": rows["names"] / max(rows["mentions"], 1),
        })
        if spanned > o.wall * 1.05:
            raise RuntimeError(f"spans cover {spanned:.2f} s of a {o.wall:.2f} s run")
        return out


# ---------------------------------------------------------------------------
# contract headline
# ---------------------------------------------------------------------------

class Headline:
    """The ten headline queries on seeded contract tables (a fraction of
    sf0.1). A pass collects each query's rows to the driver; the check
    compares those very rows with the query's DuckDB oracle twin, so no
    query runs twice."""

    FRACTIONS = {"full": 0.02, "smoke": 0.005}

    def __init__(self, size: str):
        self.fraction = self.FRACTIONS[size]

    def prepare(self, spark, work: str, seed: int) -> None:
        from perfbench.inputs import write_contract_tables

        self.data = os.path.join(work, "tables")
        write_contract_tables(self.data, seed, self.fraction)

    def op(self, spark, spans: Spans | None = None) -> Op:
        from character_identification_spark.driver_contract import QUERIES

        out = {}
        with Timer() as t:
            for name in HEADLINE:
                if spans is None:
                    df = QUERIES[name](spark, self.data)
                    out[name] = (df.columns, df.collect())
                else:
                    with spans.span(f"q.{name}"):
                        df = QUERIES[name](spark, self.data)
                        out[name] = (df.columns, df.collect())
        return Op(t.wall, len(HEADLINE), t.start, t.end, {"rows": out})

    def check(self, spark, ops: list[Op]) -> Verdict:
        """Row count, column names and the order-insensitive value multiset
        of each query in each pass against its oracle, with
        tools/check_oracles.py's canonical row signature."""
        import duckdb

        from character_identification_spark.oracles import ORACLES
        from perfbench.inputs import SF01_ROWS
        from tools.check_oracles import row_sig

        con = duckdb.connect()
        try:
            for t in SF01_ROWS:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'"
                )
            oracle = {}
            for name in HEADLINE:
                rel = con.sql(ORACLES[name])
                oracle[name] = (sorted(rel.columns),
                                [dict(zip(rel.columns, r)) for r in rel.fetchall()])
        finally:
            con.close()
        failed, notes = 0, []
        for k, o in enumerate(ops):
            for name in HEADLINE:
                columns, rows = o.detail["rows"][name]
                cols = sorted(columns)
                got = sorted(row_sig(r, cols) for r in rows)
                want_cols, want_rows = oracle[name]
                want = sorted(row_sig(r, cols) for r in want_rows) \
                    if want_cols == cols else None
                if got != want:
                    failed += 1
                    notes.append(f"pass {k} {name}: spark {len(got)} rows {cols} != "
                                 f"oracle {len(want_rows)} rows {want_cols}")
        attempted = len(HEADLINE) * len(ops)
        return Verdict(attempted, failed, 1.0 - failed / attempted, notes)

    def traced_op(self, spark, spans: Spans) -> Op:
        return self.op(spark, spans)

    def layers(self, log: EventLog, spans: Spans, o: Op) -> dict:
        return {f"q.{q}_s": spans.wall(f"q.{q}") for q in HEADLINE}


def make(name: str, size: str):
    if name in Pipeline.SHAPES:
        return Pipeline(name, size)
    if name == "contract_headline":
        return Headline(size)
    raise KeyError(name)


WORKLOADS = ("er_vocab", "contract_headline")
