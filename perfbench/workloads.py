"""Workload definitions: the fixed op pools and the config-driven pipeline
stages, each with its own output check.

Every op is timed in two phases: ``build`` (the program call that returns
a plan; for registry ops the builder, which may run eager jobs) and
``exec`` (the forcing action that produces the result the user gets).

The registry pools are fixed lists, drawn once from the registry with a
fixed seed (``random.Random(20261017)``) out of the ops whose oracle reads
only the workload's tables, after a few ops that were placed first so
every module is represented. The lists stay fixed so that a change to the
registry does not change the benchmark.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np

import datagen

#: ops whose oracle reads only ``events``: the hourly downsample (the
#: flagship's core) first, then a seeded draw
POWER_ETL_REGISTRY = [
    "q17_downsample_mean_hourly",
    "q199_streaming_ks_drift", "q108_approx_percentile_contract",
    "q237_burstiness", "q160_scan_stats", "q72_latest_event",
    "q134_incremental_rollup", "q248_markov_entropy", "q258_streaming_woe",
    "q59_resample_linear", "q257_diff_in_diff", "q267_streaming_did",
    "q262_policy_replay",
]

#: the graph ops (dedup clustering and link analysis over the order-part
#: graph), one streaming op and one op each of text, dedup, similarity
#: and multimodal first, then a seeded draw of documents/embeddings ops
CURATION_REGISTRY = [
    "q135_pagerank", "q167_triangle_count", "q184_connected_components",
    "q205_k_core", "q235_hits_authorities", "q253_label_propagation",
    "q196_streaming_heavy_hitters", "q26_exact_dedup", "q27_text_stats",
    "q29_lsh_neardup", "q36_multimodal_features",
    "q179_roc_auc", "q195_ndcg", "q263_schema_contract", "q185_bpe_train",
    "q254_anisotropy", "q98_random_projection",
]

#: seeded telemetry sizes
ETL_CSV_ROWS = 100_000
STREAM_FILES = 6
STREAM_FILE_ROWS = 5_000
RESAMPLE_S = 60
WINDOW = 10

_TELEMETRY_DTYPES = {"status": "int"}


@dataclass
class Op:
    """One timed op. ``build(ctx)`` returns a plan (or plans);
    ``force(ctx, built)`` produces the result; ``check(ctx, result)``
    returns a problem string or None."""
    name: str
    build: Callable[["Context"], Any]
    force: Callable[["Context", Any], Any]
    check: Callable[["Context", Any], str | None] | None = None
    oracle: str | None = None
    #: the oracle covers only some of the result's columns
    oracle_subset: bool = False


@dataclass
class Context:
    spark: Any
    tables: str
    inputs: str
    out: str


@dataclass
class Workload:
    ops: list[Op]
    #: writes the seeded inputs under ``ctx.inputs``
    make_inputs: Callable[[str, int], None]


# --- registry ops ------------------------------------------------------------

def registry_op(name: str) -> Op:
    """A registry op; one missing from the registry fails when built, so
    it is counted instead of dropped from the pool."""
    from powerdatapipeline_spark.queries import REGISTRY

    fn, oracle = REGISTRY.get(name, (None, None))

    def build(ctx: Context):
        if fn is None:
            raise KeyError(f"{name} is not in the registry")
        return fn(ctx.spark, ctx.tables)

    return Op(name, build=build, force=lambda ctx, df: df.toPandas(),
              oracle=oracle)


def flagship_op() -> Op:
    from powerdatapipeline_spark.flagship import flagship

    oracle = ("SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) "
              "AS bucket_seconds, "
              "event_type, CAST(count(*) AS BIGINT) AS n_events "
              "FROM events GROUP BY 1, 2")
    return Op("flagship", build=lambda ctx: flagship(ctx.spark, ctx.tables),
              force=lambda ctx, df: df.toPandas(), oracle=oracle,
              oracle_subset=True)


# --- config-driven pipeline stages ------------------------------------------

def _telemetry_columns() -> list[str]:
    return ["datetime"] + datagen.TELEMETRY_COLUMNS[1:]


def _etl_config(ctx: Context, window: bool):
    from powerdatapipeline_spark.config import RunConfig

    return RunConfig(name="power_etl", datapipeline={
        "extraction": {
            "data_files": [os.path.join(ctx.inputs, "telemetry.csv")],
            "columns_original": _telemetry_columns(),
            "columns_added": ["datetimestampseconds"],
            "column_datetime": "datetime",
            "column_dtypes": _TELEMETRY_DTYPES,
        },
        "transformation": {
            "features": ["W", "DCW", "AphA", "PhVphA", "status",
                         "datetimestampseconds"],
            "time_interval_original": 1,
            "time_interval_desired": RESAMPLE_S,
            "resample": True,
            "normalize": True,
            "skip_normalization": ["datetimestampseconds"],
            "onehot_features": ["status"],
            "window_size": WINDOW if window else None,
        },
    })


def _stream_config(ctx: Context):
    from powerdatapipeline_spark.config import RunConfig

    return RunConfig(name="power_etl_stream", datapipeline={
        "extraction": {
            "data_files": [],
            "use_streaming": True,
            "streaming_data_source": os.path.join(ctx.inputs, "stream"),
            "columns_original": datagen.TELEMETRY_COLUMNS,
            "column_dtypes": _TELEMETRY_DTYPES,
        },
        "transformation": {
            "features": ["W", "DCW", "datetimestampseconds"],
            "time_interval_original": 1,
            "time_interval_desired": RESAMPLE_S,
            "resample": True,
            "resample_method": "mean",
        },
    })


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    files = [os.path.join(path, f) for f in os.listdir(path)
             if f.endswith(".parquet")]
    return sum(pq.read_metadata(f).num_rows for f in files)


def _resampled_seconds(n_rows: int) -> np.ndarray:
    t = datagen.TELEMETRY_START_S + np.arange(n_rows)
    return t[t % RESAMPLE_S == 0]


def _etl_load_build(ctx: Context):
    from powerdatapipeline_spark.plans import build_pipeline

    return build_pipeline(ctx.spark, _etl_config(ctx, window=True))


def _etl_load_force(ctx: Context, df):
    from powerdatapipeline_spark.sources import write_parquet

    path = os.path.join(ctx.out, "load")
    write_parquet(df, path)
    return path


def _etl_load_check(ctx: Context, path: str) -> str | None:
    want = len(_resampled_seconds(ETL_CSV_ROWS)) - WINDOW + 1
    got = _parquet_rows(path)
    return None if got == want else f"rows {got} vs {want}"


def _etl_split_build(ctx: Context):
    from powerdatapipeline_spark.plans.pipeline import build_pipeline, split

    cfg = _etl_config(ctx, window=False)
    return split(build_pipeline(ctx.spark, cfg), cfg, "datetimestampseconds")


def _etl_split_force(ctx: Context, parts):
    from powerdatapipeline_spark.sources import write_parquet

    paths = []
    for name, df in zip(("train", "test", "eval"), parts):
        paths.append(os.path.join(ctx.out, f"split_{name}"))
        write_parquet(df, paths[-1])
    return paths


def _etl_split_check(ctx: Context, paths: list[str]) -> str | None:
    t = _resampled_seconds(ETL_CSV_ROWS).astype("float64")
    hi_train, hi_test = np.percentile(t, 80), np.percentile(t, 90)
    want = [int((t <= hi_train).sum()),
            int(((t > hi_train) & (t <= hi_test)).sum()),
            int((t > hi_test).sum())]
    got = [_parquet_rows(p) for p in paths]
    return None if got == want else f"split rows {got} vs {want}"


def _etl_stream_build(ctx: Context):
    from powerdatapipeline_spark.plans import build_pipeline

    return build_pipeline(ctx.spark, _stream_config(ctx))


def _etl_stream_force(ctx: Context, stream):
    from powerdatapipeline_spark.streaming import write_stream_parquet

    path = os.path.join(ctx.out, "stream_out")
    q = write_stream_parquet(stream, path,
                             os.path.join(ctx.out, "stream_ckpt"))
    if not q.awaitTermination(120):
        q.stop()
        raise TimeoutError("stream did not finish within 120 s")
    return path


def expected_stream_means(stream_dir: str) -> dict[int, float]:
    """Bucket start (epoch s) -> mean W that an append-mode 60 s tumbling
    mean with a 1 minute watermark emits over the stream files: the
    buckets ending at or before ``max_ts - 60``."""
    import pandas as pd

    df = pd.concat(pd.read_csv(os.path.join(stream_dir, f))
                   for f in sorted(os.listdir(stream_dir)))
    t = df["datetimestampseconds"]
    bucket = (t // RESAMPLE_S * RESAMPLE_S).astype("int64")
    means = df["W"].astype("float32").astype("float64").groupby(bucket).mean()
    return {int(b): float(m) for b, m in means.items()
            if b + RESAMPLE_S <= t.max() - 60}


def _etl_stream_check(ctx: Context, path: str) -> str | None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    want = expected_stream_means(os.path.join(ctx.inputs, "stream"))
    table = pq.read_table(path)
    ts = table.column("bucket_ts")
    per_s = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}[ts.type.unit]
    got = dict(zip((v // per_s for v in ts.cast(pa.int64()).to_pylist()),
                   table.column("avg_W").to_pylist()))
    if sorted(got) != sorted(want):
        return f"buckets {len(got)} vs {len(want)}"
    worst = max(abs(got[b] - want[b]) for b in want)
    return None if worst <= 1e-6 else f"avg_W off by {worst}"


def power_etl_inputs(inputs: str, seed: int) -> None:
    datagen.write_telemetry_csv(os.path.join(inputs, "telemetry.csv"), seed,
                                ETL_CSV_ROWS, datetime_text=True)
    stream = os.path.join(inputs, "stream")
    os.makedirs(stream)
    for i in range(STREAM_FILES):
        datagen.write_telemetry_csv(
            os.path.join(stream, f"part-{i:03d}.csv"), seed * 1000 + i + 1,
            STREAM_FILE_ROWS, start_s=datagen.TELEMETRY_START_S + i * STREAM_FILE_ROWS)


def _no_inputs(inputs: str, seed: int) -> None:
    pass


def workloads() -> dict[str, Workload]:
    etl = [
        Op("etl_load", _etl_load_build, _etl_load_force, _etl_load_check),
        Op("etl_split", _etl_split_build, _etl_split_force, _etl_split_check),
        Op("etl_stream", _etl_stream_build, _etl_stream_force,
           _etl_stream_check),
    ]
    power = [flagship_op(), *etl,
             *(registry_op(n) for n in POWER_ETL_REGISTRY)]
    curation = [registry_op(n) for n in CURATION_REGISTRY]
    return {
        "power_etl": Workload(power, power_etl_inputs),
        "curation": Workload(curation, _no_inputs),
    }
