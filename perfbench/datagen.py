"""Input generation for the benchmark.

Two kinds of input:

* the fixture tables the registry ops read (``events``, ``documents``,
  ``embeddings``, ``orders``, ``lineitem``, ``customer``), generated by
  this module from its own fixed seed so every run of every workload sees
  the same tables, in the schema the package's loaders check
  (``queries.TABLE_COLUMNS``) and at the row counts and key domains of the
  repository's test scales: sf0.1 for ``events`` (the table of the
  ``power_etl`` workload), sf0.01 for the tables of the ``curation``
  workload. They are not the repository's fixture files, only the same
  sizes;
* the seeded telemetry the config-driven pipeline and its streaming
  variant read: inverter CSV (1 s cadence) and small per-file stream
  batches. Only these depend on ``--seed``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: seed of the fixture tables (fixed; ``--seed`` does not change them)
TABLE_SEED = 42

#: rows per fixture table: the sf0.1 test scale for events; the sf0.01
#: scale for the curation tables (TPC-H row counts for the order tables),
#: since at sf0.1 a curation run is too long for the benchmark's time
#: budget (see the README)
TABLE_ROWS = {
    "events": 100_000,
    "documents": 500,
    "embeddings": 500,
    "orders": 15_000,
    "lineitem": 60_000,
    "customer": 1_500,
}
#: key domains lineitem draws from (TPC-H sf0.01 part and supplier counts)
PARTS = 2_000
SUPPLIERS = 100

_EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
_VOCAB = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split())
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                      "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                        "5-LOW"])

#: epoch microseconds of 2024-01-01T00:00:00Z (events start)
_EV_START_US = 1_704_067_200_000_000
_EV_SPAN_US = 30 * 86_400 * 1_000_000
#: epoch microseconds of 1995-01-01 and 2001-08-01 (order/ship dates)
_ORD_LO_US = 788_918_400_000_000
_ORD_HI_US = 996_624_000_000_000
_DAY_US = 86_400 * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _dates(rng: np.random.Generator, n: int) -> pa.Array:
    days = rng.integers(0, (_ORD_HI_US - _ORD_LO_US) // _DAY_US + 1, n)
    return _ts(_ORD_LO_US + days * _DAY_US)


def events_table(rng: np.random.Generator, n: int) -> pa.Table:
    gaps = rng.exponential(_EV_SPAN_US / n, n)
    ts = _EV_START_US + np.floor(np.cumsum(gaps)).astype("int64")
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype="int64")),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, max(n // 66, 10), n)),
        "event_type": pa.array(_EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    texts = []
    for _ in range(n):
        words = _VOCAB[rng.integers(0, len(_VOCAB), rng.integers(8, 90))]
        texts.append(" ".join(words))
    # exact duplicates (1 %) and one-word near-duplicates (2 %) so the
    # dedup, clustering and near-duplicate operators find work
    for i in rng.choice(np.arange(1, n), n // 100, replace=False):
        texts[i] = texts[rng.integers(0, i)]
    for i in rng.choice(np.arange(1, n), n // 50, replace=False):
        words = texts[rng.integers(0, i)].split(" ")
        words[rng.integers(0, len(words))] = str(_VOCAB[rng.integers(0, len(_VOCAB))])
        texts[i] = " ".join(words)
    lang = _LANGS[np.minimum(rng.integers(0, 7, n) - 2, 4).clip(0)]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array(lang),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    })


def embeddings_table(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype("int32")
    centers = rng.normal(size=(10, dim))
    v = 0.6 * centers[labels] + rng.normal(size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })


def orders_table(rng: np.random.Generator, n: int, n_cust: int) -> pa.Table:
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_cust, n)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n), 2)),
        "o_orderdate": _dates(rng, n),
        "o_orderpriority": pa.array(_PRIORITIES[rng.integers(0, 5, n)]),
    })


def lineitem_table(rng: np.random.Generator, n: int, n_orders: int) -> pa.Table:
    qty = rng.integers(1, 51, n).astype("float64")
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n)),
        "l_partkey": pa.array(rng.integers(0, PARTS, n)),
        "l_suppkey": pa.array(rng.integers(0, SUPPLIERS, n)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype("int32")),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": _dates(rng, n),
    })


def customer_table(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype("int32")),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
        "c_mktsegment": pa.array(_SEGMENTS[rng.integers(0, 5, n)]),
    })


def write_tables(out_dir: str) -> None:
    """Write every fixture table as ``<out_dir>/<name>.parquet``.
    Each table draws from its own child generator of ``TABLE_SEED``, so
    resizing one table leaves the others unchanged."""
    rows = TABLE_ROWS
    os.makedirs(out_dir, exist_ok=True)
    children = np.random.SeedSequence(TABLE_SEED).spawn(len(rows))
    rngs = dict(zip(sorted(rows), children))

    def rng(name):
        return np.random.Generator(np.random.PCG64(rngs[name]))

    tables = {
        "events": events_table(rng("events"), rows["events"]),
        "documents": documents_table(rng("documents"), rows["documents"]),
        "embeddings": embeddings_table(rng("embeddings"), rows["embeddings"]),
        "orders": orders_table(rng("orders"), rows["orders"], rows["customer"]),
        "lineitem": lineitem_table(rng("lineitem"), rows["lineitem"], rows["orders"]),
        "customer": customer_table(rng("customer"), rows["customer"]),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# --- seeded telemetry -------------------------------------------------------

#: inverter telemetry columns (the reference's DER config, FIXTURES.md F1)
TELEMETRY_COLUMNS = ["datetimestampseconds", "W", "DCW", "AphA", "PhVphA", "status"]
TELEMETRY_START_S = 1_709_424_000  # 2024-03-03T00:00:00Z


def telemetry_table(rng: np.random.Generator, n: int, start_s: int,
                    datetime_text: bool = False) -> pa.Table:
    """``n`` rows of 1 s inverter telemetry starting at ``start_s``:
    diurnal AC power with noise, DC power, current, voltage, and an
    integer status code (one-hot target). With ``datetime_text`` the
    time column is ``datetime`` text (``YYYY-MM-DD HH:MM:SS``) instead
    of epoch seconds."""
    t = start_s + np.arange(n, dtype="int64")
    day = (t % 86_400) / 86_400.0
    sun = np.clip(np.sin((day - 0.25) * 2 * np.pi), 0, None)
    w = np.round(5000 * sun + rng.normal(0, 20, n).clip(0), 3)
    if datetime_text:
        text = np.datetime_as_string(t.astype("datetime64[s]"))
        time_col = ("datetime", pa.array(np.char.replace(text, "T", " ")))
    else:
        time_col = ("datetimestampseconds", pa.array(t.astype("float64")))
    return pa.table(dict([time_col,
        ("W", pa.array(w)),
        ("DCW", pa.array(np.round(w / 0.96 + rng.normal(0, 5, n), 3))),
        ("AphA", pa.array(np.round(w / 240 + rng.normal(0, 0.1, n), 4))),
        ("PhVphA", pa.array(np.round(240 + rng.normal(0, 2, n), 3))),
        ("status", pa.array(rng.integers(0, 5, n))),
    ]))


def write_telemetry_csv(path: str, seed: int, n: int,
                        start_s: int = TELEMETRY_START_S,
                        datetime_text: bool = False) -> None:
    import pyarrow.csv as pacsv

    rng = np.random.Generator(np.random.PCG64(seed))
    table = telemetry_table(rng, n, start_s, datetime_text)
    pacsv.write_csv(table, path,
                    pacsv.WriteOptions(quoting_style="none"))
