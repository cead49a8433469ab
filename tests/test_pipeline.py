"""End-to-end: the F1 gate, checkpoint/resume, metrics + lineage tables."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from character_identification_spark.plans.pipeline import (
    PipelineConfig,
    _run_stage,
    evaluate_pipeline,
    run_pipeline,
)
from character_identification_spark.sources.catalog import StageStore


def _cfg():
    return PipelineConfig()


def test_end_to_end_f1_gate(spark, small_corpus, tmp_workdir):
    pages, gold = small_corpus
    res = run_pipeline(spark, pages, tmp_workdir, _cfg())
    ev = evaluate_pipeline(res, gold)
    assert ev["precision"] == 1.0
    assert ev["f1"] >= 0.99, ev

    # stage checkpoints + meta tables all on disk (edge_split holds both
    # safe edges and alias links as one single-pass table)
    for stage in (
        "extracted", "mentions", "names", "block_assign", "candidate_pairs",
        "scored_pairs", "edge_split", "name_clusters",
        "assignments", "entities", "_meta_metrics", "_meta_lineage",
    ):
        assert os.path.exists(os.path.join(tmp_workdir, stage)), stage

    metrics = spark.read.parquet(os.path.join(tmp_workdir, "_meta_metrics"))
    assert metrics.count() == 10
    lineage = spark.read.parquet(os.path.join(tmp_workdir, "_meta_lineage"))
    assert lineage.select("stage").distinct().count() == 10
    # lineage row counts reconcile with stage row counts
    recon = (
        lineage.groupBy("stage").agg(F.sum("rows").alias("lrows"))
        .join(metrics.select("stage", "rows"), "stage")
        .filter(F.col("lrows") != F.col("rows"))
    )
    assert recon.count() == 0


def test_resume_skips_and_is_identical(spark, small_corpus, tmp_workdir):
    pages, gold = small_corpus
    r1 = run_pipeline(spark, pages, tmp_workdir, _cfg())
    a1 = sorted(map(tuple, r1["assignments"].select("mention_uid", "cluster_id").collect()))
    metrics_rows = spark.read.parquet(os.path.join(tmp_workdir, "_meta_metrics")).count()

    r2 = run_pipeline(spark, pages, tmp_workdir, _cfg())
    a2 = sorted(map(tuple, r2["assignments"].select("mention_uid", "cluster_id").collect()))
    assert a1 == a2
    # resumed run appends no new stage metrics (all stages skipped)
    assert (
        spark.read.parquet(os.path.join(tmp_workdir, "_meta_metrics")).count()
        == metrics_rows
    )


def test_resume_mid_stage(spark, small_corpus, tmp_workdir):
    """Kill-after-stage-N simulation: delete a late checkpoint; rerun must
    rebuild only from there and reach the same answer."""
    import shutil

    pages, gold = small_corpus
    r1 = run_pipeline(spark, pages, tmp_workdir, _cfg())
    a1 = sorted(map(tuple, r1["assignments"].select("mention_uid", "cluster_id").collect()))
    shutil.rmtree(os.path.join(tmp_workdir, "assignments"))
    shutil.rmtree(os.path.join(tmp_workdir, "entities"))
    r2 = run_pipeline(spark, pages, tmp_workdir, _cfg())
    a2 = sorted(map(tuple, r2["assignments"].select("mention_uid", "cluster_id").collect()))
    assert a1 == a2


def test_entities_canonicalization(spark, small_corpus, tmp_workdir):
    pages, gold = small_corpus
    res = run_pipeline(spark, pages, tmp_workdir, _cfg())
    ents = res["entities"]
    assert ents.filter(F.col("canonical").isNull()).count() == 0
    # every cluster has exactly one canonical row
    assert ents.groupBy("cluster_id").count().filter("count > 1").count() == 0
    # mention mass is conserved
    total = res["assignments"].count()
    assert ents.agg(F.sum("n_mentions")).collect()[0][0] == total


def _stage_df(spark):
    """1,000 rows in 4 writer partitions, a two-valued partition column."""
    return spark.range(0, 1000, numPartitions=4).withColumn(
        "role", F.when(F.col("id") % 3 == 0, "amb").otherwise("safe")
    )


def test_run_stage_runs_no_job_beyond_the_write(spark, tmp_workdir, monkeypatch):
    """Parquet mode: lineage, both _meta appends and the re-read of the
    committed table run on the driver, so the write is the stage's only
    Spark job."""
    sc = spark.sparkContext
    write = StageStore.write

    def grouped_write(store, df, name, partition_by=()):
        sc.setJobGroup("run_stage.write", "stage write")
        try:
            write(store, df, name, partition_by)
        finally:
            sc.setJobGroup("run_stage.bookkeeping", "stage bookkeeping")

    monkeypatch.setattr(StageStore, "write", grouped_write)
    store = StageStore(spark, tmp_workdir)
    sc.setJobGroup("run_stage.bookkeeping", "stage bookkeeping")
    try:
        out = _run_stage(store, "t", ["src"], lambda: _stage_df(spark), PipelineConfig())
    finally:
        sc._jsc.clearJobGroup()
    tracker = sc.statusTracker()
    assert tracker.getJobIdsForGroup("run_stage.write")
    assert tracker.getJobIdsForGroup("run_stage.bookkeeping") == []
    assert out.count() == 1000


def test_lineage_is_the_writers_part_files(spark, tmp_workdir):
    store = StageStore(spark, tmp_workdir)
    cfg = PipelineConfig(partition_by={"t": ("role",)})
    out = _run_stage(store, "t", ["src"], lambda: _stage_df(spark), cfg)
    assert out.columns == ["id", "role"]
    # rows per part file, counted by a scan: each task wrote one file into
    # each role directory, so ids repeat across directories
    per_file = (
        spark.read.parquet(os.path.join(tmp_workdir, "t"))
        .groupBy(F.input_file_name().alias("f")).count().collect()
    )
    files: dict[int, int] = {}
    for r in per_file:
        pid = int(os.path.basename(r["f"]).split("-")[1])
        files[pid] = files.get(pid, 0) + r["count"]
    assert sorted(files) == [0, 1, 2, 3]
    lineage = spark.read.parquet(os.path.join(tmp_workdir, "_meta_lineage")).collect()
    assert {r["stage"] for r in lineage} == {"t"}
    assert {r["partition_id"]: r["rows"] for r in lineage} == files
    (metrics,) = spark.read.parquet(os.path.join(tmp_workdir, "_meta_metrics")).collect()
    assert metrics["rows"] == sum(files.values()) == out.count() == 1000


def test_meta_tables_keep_their_types_across_writers(spark, tmp_workdir):
    """A _meta directory holding a Spark-written file (as earlier versions
    appended) and the driver's pyarrow files reads back with the declared
    types and every row of both."""
    store = StageStore(spark, tmp_workdir)
    old = {
        "_meta_metrics": ("stage string, rows long, wall_s double, inputs string",
                          [("old", 5, 1.5, "x")]),
        "_meta_lineage": ("stage string, partition_id int, rows long",
                          [("old", 0, 5)]),
    }
    for table, (ddl, rows) in old.items():
        spark.createDataFrame(rows, ddl).write.mode("append").parquet(
            os.path.join(tmp_workdir, table)
        )
    _run_stage(store, "t", ["src"], lambda: _stage_df(spark), PipelineConfig())

    metrics = spark.read.parquet(os.path.join(tmp_workdir, "_meta_metrics"))
    assert metrics.schema.simpleString() == (
        "struct<stage:string,rows:bigint,wall_s:double,inputs:string>"
    )
    got = sorted((r["stage"], r["rows"], r["inputs"]) for r in metrics.collect())
    assert got == [("old", 5, "x"), ("t", 1000, "src")]
    lineage = spark.read.parquet(os.path.join(tmp_workdir, "_meta_lineage"))
    assert lineage.schema.simpleString() == (
        "struct<stage:string,partition_id:int,rows:bigint>"
    )
    sums = {r["stage"]: r["n"] for r in lineage.groupBy("stage").agg(F.sum("rows").alias("n")).collect()}
    assert sums == {"old": 5, "t": 1000}
