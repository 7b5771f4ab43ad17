"""Seeded input generators and the expected results computed from them.

Everything here is plain numpy/pandas/pyarrow: the program under test only
ever sees the parquet files written by these functions, and the expected
results are computed from the same in-memory arrays, independently of Spark.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def write_table(df: pd.DataFrame, path: str, tz: str | None = None) -> None:
    """Parquet with microsecond timestamps, the unit Spark reads natively.
    With ``tz`` they are instants (Spark's TIMESTAMP, which watermarks
    need); without, local date-times, as in the inventory fixtures."""
    table = pa.Table.from_pandas(df, preserve_index=False)
    table = table.cast(pa.schema([
        f.with_type(pa.timestamp("us", tz=tz)) if pa.types.is_timestamp(f.type) else f
        for f in table.schema]))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _ts(us: np.ndarray) -> pd.Series:
    return pd.Series(pd.to_datetime(us, unit="us"))


# -- ingest_store --------------------------------------------------------------

def ingest_inputs(rng: np.random.Generator, files: int, per_file: int,
                  keys: int, dims: int) -> tuple[list[pd.DataFrame], pd.DataFrame]:
    """A keyed change-log split into ``files`` backlog files, plus the
    dimension change-log the GlobalTable is built from.

    Versions are a random permutation, so "latest by version" is unrelated to
    file order; about 10% of records carry a negative amount (dropped by the
    filter) and about 10% reference a dimension id the table does not hold
    (left join keeps them with a null weight)."""
    n = files * per_file
    recs = pd.DataFrame({
        "uuid": np.arange(n, dtype=np.int64),
        "k": rng.integers(0, keys, n, dtype=np.int64),
        "ver": rng.permutation(n).astype(np.int64),
        "amount": np.round(rng.normal(50.0, 40.0, n), 2),
        "dim_id": rng.integers(0, dims + dims // 10, n, dtype=np.int64),
        "ts": _ts(EPOCH_US + np.arange(n, dtype=np.int64) * 1000),
    })
    parts = [recs.iloc[i * per_file:(i + 1) * per_file].reset_index(drop=True)
             for i in range(files)]
    # two versions of every dimension row: the GlobalTable must keep the later
    dim = pd.DataFrame({
        "dim_id": np.tile(np.arange(dims, dtype=np.int64), 2),
        "dim_ver": np.repeat(np.array([1, 2], dtype=np.int64), dims),
        "weight": np.round(rng.uniform(0.5, 2.0, 2 * dims), 3),
    })
    return parts, dim


def ingest_latest(parts: list[pd.DataFrame], dim: pd.DataFrame) -> pd.DataFrame:
    """The expected store: latest row per key after filter -> transform ->
    left lookup join."""
    recs = pd.concat(parts, ignore_index=True)
    recs = recs[recs["amount"] >= 0].copy()
    recs["amount2"] = recs["amount"] * 2
    latest_dim = dim.sort_values("dim_ver").drop_duplicates("dim_id", keep="last")
    recs = recs.merge(latest_dim[["dim_id", "weight"]], on="dim_id", how="left")
    return recs.sort_values("ver").drop_duplicates("k", keep="last")


def store_digest(df: pd.DataFrame) -> dict:
    """What the store check compares: key count, version sum, payload sum."""
    return {"keys": int(len(df)), "ver_sum": int(df["ver"].sum()),
            "amount2_sum": round(float(df["amount2"].sum()), 4)}


def exactly_once_inputs(rng: np.random.Generator, files: int, per_file: int,
                        keys: int) -> tuple[list[pd.DataFrame], dict]:
    """Redelivered records for the ``dedup_stream`` -> ``materialize_stream``
    probe: each file repeats about a third of the previous file's records
    with the same uuid and event time.  Event time rises by one second per
    record across files, so with a 10 minute watermark delay no record falls
    behind the watermark; the expected store is the latest row per key over
    the distinct uuids."""
    n = files * per_file
    base = pd.DataFrame({
        "uuid": np.arange(n, dtype=np.int64),
        "k": rng.integers(0, keys, n, dtype=np.int64),
        "ver": rng.permutation(n).astype(np.int64),
        "amount2": np.round(rng.uniform(0, 100, n), 2),
        "ts": _ts(EPOCH_US + np.arange(n, dtype=np.int64) * 1_000_000),
    })
    parts = []
    for i in range(files):
        cur = base.iloc[i * per_file:(i + 1) * per_file]
        if i:
            prev = base.iloc[(i - 1) * per_file:i * per_file]
            cur = pd.concat([cur, prev.sample(frac=1 / 3, random_state=int(rng.integers(1 << 30)))])
        parts.append(cur.reset_index(drop=True))
    latest = base.sort_values("ver").drop_duplicates("k", keep="last")
    return parts, store_digest(latest)


# -- stream_join ---------------------------------------------------------------

def join_key(uuid: np.ndarray, n: int) -> np.ndarray:
    """Record ``2j`` (left) and ``2j+1`` (right) share key ``j % (n // 4)``."""
    return (uuid // 2) % (n // 4)


def expected_pairs(left_keys: np.ndarray, right_keys: np.ndarray) -> int:
    """Closed-form inner-join pair count: sum over keys of |L_k| * |R_k|."""
    lk, lc = np.unique(left_keys, return_counts=True)
    rk, rc = np.unique(right_keys, return_counts=True)
    _, li, ri = np.intersect1d(lk, rk, assume_unique=True, return_indices=True)
    return int((lc[li].astype(np.int64) * rc[ri]).sum())


def join_inputs(rng: np.random.Generator, files: int, per_file: int
                ) -> tuple[list[pd.DataFrame], int]:
    """Both join sides interleaved in one backlog; the seed decides which
    file each record lands in and its payload, the key scheme fixes the pair
    count."""
    n = files * per_file
    uuid = rng.permutation(n).astype(np.int64)
    recs = pd.DataFrame({
        "uuid": uuid,
        "k": join_key(uuid, n),
        "v": np.round(rng.uniform(0, 1000, n), 2),
    })
    parts = [recs.iloc[i * per_file:(i + 1) * per_file].reset_index(drop=True)
             for i in range(files)]
    left = recs["uuid"].to_numpy() % 2 == 0
    k = recs["k"].to_numpy()
    return parts, expected_pairs(k[left], k[~left])


def write_backlog(parts: list[pd.DataFrame], path: str) -> None:
    """One parquet file per part; names sort in part order, which is the
    order a file stream source with ``maxFilesPerTrigger=1`` takes them."""
    for i, part in enumerate(parts):
        write_table(part, f"{path}/part-{i:05d}.parquet", tz="UTC")


# -- batch fixture -------------------------------------------------------------

FIXTURE_TABLES = ("region nation customer supplier part orders lineitem "
                  "events documents").split()
_WORDS = ("spark window merge table column vector stream value data small join "
          "filter big group hash customer sort order slow line part fast row "
          "the agg key query a scan batch").split()
_ADJ = "small red blue hot cold big green dark".split()
_NOUN = "ring widget bolt gear nut pipe valve spring".split()
_DAY_US = 86_400_000_000


def _days(rng, n, start: str, span_days: int) -> pd.Series:
    d0 = pd.Timestamp(start).value // 1000
    return _ts(d0 + rng.integers(0, span_days, n, dtype=np.int64) * _DAY_US)


def fixture(rng: np.random.Generator, sf: float) -> dict[str, pd.DataFrame]:
    """A TPC-H-shaped star schema plus an ``events`` and a ``documents``
    table with the schemas the inventory queries and their DuckDB oracles
    read; row counts scale with ``sf`` (sf=0.01: 60k lineitems)."""
    n_c, n_s, n_p = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_o, n_l, n_e, n_d = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf), int(50_000 * sf)
    choice = lambda opts, n: np.asarray(opts, dtype=object)[rng.integers(0, len(opts), n)]
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_c),
        "c_mktsegment": choice(["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"], n_c)})
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": rng.integers(0, 25, n_s).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_s)})
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_p, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(choice(_ADJ, n_p), choice(_NOUN, n_p))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_p)],
        "p_type": choice(["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"], n_p),
        "p_size": rng.integers(1, 51, n_p).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(n_p) % 1000) / 10.0})
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, n_c, n_o, dtype=np.int64),
        "o_orderstatus": choice(["P", "O", "F"], n_o),
        "o_totalprice": money(1000.0, 500_000.0, n_o),
        "o_orderdate": _days(rng, n_o, "1995-01-01", 2400),
        "o_orderpriority": choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_o)})
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_o, n_l, dtype=np.int64),
        "l_partkey": rng.integers(0, n_p, n_l, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_s, n_l, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_l).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": money(900.0, 105_000.0, n_l),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": choice(["R", "A", "N"], n_l),
        "l_linestatus": choice(["O", "F"], n_l),
        "l_shipdate": _days(rng, n_l, "1995-01-02", 2500)})
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_e, dtype=np.int64),
        "ts": _ts(np.sort(EPOCH_US + rng.integers(0, 30 * _DAY_US, n_e, dtype=np.int64))),
        "user_id": rng.integers(0, max(1, n_e * 3 // 200), n_e, dtype=np.int64),
        "event_type": choice(["signup", "purchase", "view", "click", "error"], n_e),
        "value": np.round(rng.exponential(50.0, n_e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]})
    texts = [" ".join(choice(_WORDS, int(m))) for m in rng.integers(10, 101, n_d)]
    # 5% near duplicates (an earlier text plus a marker word), 1% exact copies
    for i in rng.choice(np.arange(1, n_d), n_d // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in rng.choice(np.arange(1, n_d), n_d // 100, replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    langs = np.where(rng.random(n_d) < 0.4, "en", choice(["zh", "es", "de", "fr"], n_d))
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_d, dtype=np.int64), "text": texts, "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_d)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    return t


def write_fixture(tables: dict[str, pd.DataFrame], path: str) -> None:
    for name, df in tables.items():
        write_table(df, f"{path}/{name}.parquet")
