"""Round-6 optimization instrumentation (bench.py stays FROZEN).

Per-stage breakdown of er_entities plus isolated noop-sink timings for
any headline query, with job descriptions so the SQL tab is readable.

Usage:
  python bench_extra.py stages            # er_entities stage breakdown
  python bench_extra.py query <name> [N]  # time one query, N repeats
  python bench_extra.py cc                # CC round-by-round timing
  python bench_extra.py all               # every headline query once

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from character_identification_spark.session import default_driver_memory

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

HEADLINE = [
    "er_entities", "dedup_minhash_pairs", "dedup_simhash_pairs",
    "similarity_topk", "text_stats", "url_dedup", "text_repetition",
    "asof_prev_event", "events_tumbling", "tpch_q1",
]


def _session(app: str) -> SparkSession:
    # identical knobs to bench.py's _session
    return (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(4 * CPUS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(spark, label, df) -> float:
    spark.sparkContext.setJobDescription(label)
    t0 = time.monotonic()
    _force(df)
    dt = time.monotonic() - t0
    spark.sparkContext.setJobDescription(None)
    print(f"  {label:40s} {dt:7.2f} s", flush=True)
    return dt


def _warm(spark) -> None:
    from character_identification_spark.operators.scoring import score_pairs

    warm = spark.createDataFrame(
        [("alpha beta", "alpha bets")], ["norm_1", "norm_2"]
    )
    _force(score_pairs(warm, dedup_strings=False))


def stages() -> None:
    from character_identification_spark.driver_contract import (
        _er_blocks_df,
        _er_mentions_df,
    )
    from character_identification_spark.operators.blocking import (
        cap_block_sizes,
        minhash_lsh_blocks,
        sortkey_blocks,
    )
    from character_identification_spark.operators.canonicalize import (
        canonical_entities,
    )
    from character_identification_spark.operators.cc import (
        attach_singletons,
        connected_components,
    )
    from character_identification_spark.operators.pairs import generate_pairs
    from character_identification_spark.operators.scoring import score_pairs

    spark = _session("bench-extra-stages")
    spark.sparkContext.setLogLevel("ERROR")
    _warm(spark)

    t_all0 = time.monotonic()
    m = _er_mentions_df(spark, SF_DIR)
    _timed(spark, "mentions", m)
    sk = sortkey_blocks(m, prefix_len=4, families=("prefix", "init_last"))
    _timed(spark, "blocks:sortkey", sk)
    mh = minhash_lsh_blocks(m, n_gram=3, num_hashes=8, band_size=2)
    _timed(spark, "blocks:minhash", mh)
    fam = sk.unionByName(mh).dropDuplicates(["mention_uid", "block_key"])
    _timed(spark, "blocks:union+dedup", fam)
    blocks = cap_block_sizes(fam, 40)
    _timed(spark, "blocks:capped", blocks)
    pairs = generate_pairs(m, blocks, payload_cols=("norm", "surface"))
    _timed(spark, "pairs", pairs)
    scored = score_pairs(pairs, threshold=0.82)
    _timed(spark, "scored", scored)
    edges = scored.filter(F.col("is_match")).select(
        F.col("uid1").alias("u"), F.col("uid2").alias("v")
    )
    _timed(spark, "edges", edges)
    t0 = time.monotonic()
    spark.sparkContext.setJobDescription("cc")
    assign_cc = connected_components(edges)
    _force(assign_cc)
    print(f"  {'cc (incl upstream recompute)':40s} {time.monotonic()-t0:7.2f} s")
    assign = attach_singletons(m, connected_components(edges))
    clustered = assign.select(
        "cluster_id", "norm", "surface",
        F.col("p_partkey").cast("string").alias("url"),
    )
    ents = canonical_entities(clustered).withColumn(
        "aliases", F.array_join("aliases", "|")
    )
    _timed(spark, "full er_entities (recompute)", ents)
    print(f"  total wall: {time.monotonic()-t_all0:.2f} s")
    spark.stop()


def cc_rounds() -> None:
    """Instrumented copy of connected_components: per-round wall time."""
    from character_identification_spark.driver_contract import _er_scored_df
    from character_identification_spark.operators.cc import (
        _large_star,
        _orient,
        _small_star,
    )

    spark = _session("bench-extra-cc")
    spark.sparkContext.setLogLevel("ERROR")
    _warm(spark)
    _, scored = _er_scored_df(spark, SF_DIR)
    edges = scored.filter(F.col("is_match")).select(
        F.col("uid1").alias("u"), F.col("uid2").alias("v")
    )
    t0 = time.monotonic()
    cur = _orient(edges).localCheckpoint(eager=True)
    print(f"  init distinct+checkpoint: {time.monotonic()-t0:6.2f} s  "
          f"n={cur.count()}")
    prev_sig = None
    for i in range(50):
        t0 = time.monotonic()
        cur = _large_star(cur)
        cur = cur.localCheckpoint(eager=True)
        t1 = time.monotonic()
        cur = _small_star(cur)
        cur = cur.localCheckpoint(eager=True)
        t2 = time.monotonic()
        sig = cur.agg(
            F.count("*").alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
        ).collect()[0]
        sig = (sig["n"], sig["h"])
        t3 = time.monotonic()
        print(f"  round {i}: large={t1-t0:6.2f}  small={t2-t1:6.2f}  "
              f"sig={t3-t2:6.2f}  n_edges={sig[0]}")
        if sig == prev_sig:
            break
        prev_sig = sig
    spark.stop()


def _timed_build(spark, label, thunk) -> float:
    """Time build + force, like bench.py does (an eager localCheckpoint
    inside the query builder must land inside the timed window)."""
    spark.sparkContext.setJobDescription(label)
    t0 = time.monotonic()
    _force(thunk())
    dt = time.monotonic() - t0
    spark.sparkContext.setJobDescription(None)
    print(f"  {label:40s} {dt:7.2f} s", flush=True)
    return dt


def one_query(name: str, repeats: int = 1) -> None:
    from character_identification_spark.driver_contract import QUERIES

    spark = _session(f"bench-extra-{name}")
    spark.sparkContext.setLogLevel("ERROR")
    _warm(spark)
    for r in range(repeats):
        _timed_build(spark, f"{name} run{r}", lambda: QUERIES[name](spark, SF_DIR))
    spark.stop()


def all_queries() -> None:
    from character_identification_spark.driver_contract import QUERIES

    spark = _session("bench-extra-all")
    spark.sparkContext.setLogLevel("ERROR")
    _warm(spark)
    times = {}
    for name in HEADLINE:
        times[name] = round(
            _timed_build(spark, name, lambda n=name: QUERIES[n](spark, SF_DIR)), 3
        )
    print(json.dumps({"queries": times, "total": round(sum(times.values()), 3)}))
    spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "all"
    if mode == "stages":
        stages()
    elif mode == "cc":
        cc_rounds()
    elif mode == "query":
        one_query(sys.argv[2], int(sys.argv[3]) if len(sys.argv) > 3 else 1)
    else:
        all_queries()
