"""Reference data for the benchmark, each step in its own process.

    python3 perfbench/refdata.py build <out>/tagger.parquet
    python3 perfbench/refdata.py probe [<tagger.parquet>]

``build`` makes the geo_dense reference gazetteer of ~300k synthetic names.

Runs the engine's own reference-data path once: ``sources.gazetteer_synth``
raw rows -> ``sources.gazetteer_etl`` -> ``build_tagger_parquet``, plus the
embedded gazetteer rows so US state codes, countries and the postal
anchors resolve.  The table is fixed (its own seed), not a workload input;
``run.py`` builds it once per checkout, in this separate process, and
caches it.

``probe`` builds the gazetteer-side indices a pyspark worker builds on its
first turn (phrase index, spatial grid, taxcat index) in a fresh process
and prints their build time and private memory as JSON.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

GAZETTEER_RAW_ROWS = 300_000
GAZETTEER_SEED = 42


def build(out: str) -> None:
    from run import stop_jvm
    from xponents_spark.gazetteer.data import GAZETTEER_ROWS
    from xponents_spark.session import get_spark
    from xponents_spark.sources.gazetteer_etl import (build_tagger_parquet,
                                                      gazetteer_etl)
    from xponents_spark.sources.gazetteer_synth import synthesize_gazetteer_raw

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(app="perfbench-refdata", master=f"local[{cores}]",
                      shuffle_partitions=2 * cores)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        raw = synthesize_gazetteer_raw(spark, GAZETTEER_RAW_ROWS,
                                       seed=GAZETTEER_SEED,
                                       partitions=2 * cores)
        cols = ["place_id", "name", "name_type", "feat_class", "feat_code",
                "cc", "adm1", "lat", "lon", "id_bias", "pop"]
        embedded = spark.createDataFrame(
            [tuple(r) for r in GAZETTEER_ROWS], cols).selectExpr(
            "place_id", "name", "name_type", "feat_class", "feat_code", "cc",
            "adm1", "CAST(lat AS DOUBLE) lat", "CAST(lon AS DOUBLE) lon",
            "CAST(id_bias AS INT) id_bias", "CAST(pop AS BIGINT) pop")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        build_tagger_parquet(gazetteer_etl(raw).unionByName(
            embedded, allowMissingColumns=True), tmp)
        os.replace(tmp, out)
    finally:
        spark.stop()
        stop_jvm()


def probe(path: str | None) -> dict:
    from collect import private_kb
    from xponents_spark.gazetteer import matcher, spatial

    matcher.set_gazetteer_parquet(path)
    kb0 = private_kb(os.getpid())
    t0 = time.perf_counter()
    matcher.gaz_index()
    spatial.spatial_index()
    matcher.tax_index()
    return {"index_build_s": time.perf_counter() - t0,
            "index_private_mb": (private_kb(os.getpid()) - kb0) / 1024.0}


if __name__ == "__main__":
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:0] = [os.path.dirname(here), here]
    if sys.argv[1] == "build":
        build(sys.argv[2])
    else:
        print(json.dumps(probe(sys.argv[2] if len(sys.argv) > 2 else None)))
