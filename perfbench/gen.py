"""Seeded input generator for the benchmark workloads.

Writes the ten tables the operators read (`region nation customer supplier
part orders lineitem events documents embeddings`, one parquet file each)
with the schemas and value shapes of the engine's fixture corpus: TPC-H-ish
star schema, an events stream, a small-vocabulary document corpus with
appended near-duplicates, and unit-norm 64-d float embeddings.

The same (seed, sizes) always gives the same bytes of data. Every table is
generated with referential integrity by construction (foreign keys are drawn
from the parent's key range), and `check_contracts` re-verifies the
contracts the operators rely on before anything runs; the generator refuses
to hand out data that breaks one.

Usage: python3 perfbench/gen.py <out_dir> <seed> <scale>
"""
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = "perfbench-gen/1"

# Rows per unit of scale. scale=1.0 matches the corpus' sf0.01 sizes for the
# TPC-H and events tables; documents and embeddings grow at the same rate.
BASE_ROWS = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500,
}
EVENT_USERS_PER_ROW = 0.015      # 150 users per 10k events, as in the corpus
DUP_FRACTION = 0.05              # share of documents that are near-duplicates
EMBED_DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "cold", "new", "large"]
PART_NOUN = ["ring", "widget", "bolt", "plate", "gear", "rod", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
VOCAB = ("a the row key agg scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small customer query "
         "stream group filter big vector").split()

DAY_MS = 86_400_000
ORDER_EPOCH = np.datetime64("1995-01-01", "ms")
EVENT_EPOCH = np.datetime64("2024-01-01", "us")


def sizes_for(scale: float) -> dict:
    rows = {t: max(1, int(round(n * scale))) for t, n in BASE_ROWS.items()}
    rows["region"], rows["nation"] = 5, 25
    rows["event_users"] = max(1, int(round(rows["events"] * EVENT_USERS_PER_ROW)))
    return rows


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _days(rng, start, n_days, n):
    return start + rng.integers(0, n_days, n) * np.timedelta64(DAY_MS, "ms")


def generate(seed: int, scale: float) -> dict:
    """Returns {table: pyarrow.Table} for one seed and scale."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n = sizes_for(scale)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS})
    nk = np.arange(25, dtype=np.int32)
    t["nation"] = pa.table({
        "n_nationkey": nk, "n_name": [f"NATION_{i}" for i in nk],
        "n_regionkey": (nk % 5).astype(np.int32)})
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": _pick(rng, SEGMENTS, c)})
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)})
    p = n["part"]
    pk = np.arange(p, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": _pick(rng, PART_TYPES, p),
        "p_size": rng.integers(1, 51, p, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o, dtype=np.int64),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": pa.array(_days(rng, ORDER_EPOCH, 2404, o), pa.timestamp("ms")),
        "o_orderpriority": _pick(rng, PRIORITIES, o)})
    li = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, o, li, dtype=np.int64),
        "l_partkey": rng.integers(0, p, li, dtype=np.int64),
        "l_suppkey": rng.integers(0, s, li, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, li, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": np.round(rng.uniform(0.0, 0.1, li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, li), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], li),
        "l_linestatus": _pick(rng, ["O", "F"], li),
        "l_shipdate": pa.array(_days(rng, ORDER_EPOCH + np.timedelta64(DAY_MS, "ms"),
                                     2499, li), pa.timestamp("ms"))})
    e = n["events"]
    offs = np.sort(rng.integers(0, 30 * DAY_MS * 1000, e))
    t["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": pa.array(EVENT_EPOCH + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, n["event_users"], e, dtype=np.int64),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    t["documents"] = _documents(rng, n["documents"])
    m = n["embeddings"]
    v = rng.standard_normal((m, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, m, dtype=np.int32)})
    return t


def _documents(rng, d) -> pa.Table:
    """Random word sequences; DUP_FRACTION of the documents copy an earlier
    document with one word substituted and a trailing " dup" token, so the
    near-duplicate operators have real clusters to find."""
    texts = []
    is_dup = rng.random(d) < DUP_FRACTION
    for i in range(d):
        if is_dup[i] and i > 0:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            if words[-1] != "dup":
                words.append("dup")
        else:
            words = [VOCAB[k] for k in rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, d, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})


def check_contracts(t: dict) -> list:
    """Returns the broken contracts (empty when the data is fit to run)."""
    bad = []

    def col(table, name):
        return t[table].column(name).to_numpy(zero_copy_only=False)

    def unique(table, key):
        k = col(table, key)
        if len(np.unique(k)) != len(k):
            bad.append(f"{table}.{key} is not unique")

    def within(table, fk, parent, pk):
        if not np.isin(col(table, fk), col(parent, pk)).all():
            bad.append(f"{table}.{fk} references a missing {parent}.{pk}")

    for table, key in [("region", "r_regionkey"), ("nation", "n_nationkey"),
                       ("customer", "c_custkey"), ("supplier", "s_suppkey"),
                       ("part", "p_partkey"), ("orders", "o_orderkey"),
                       ("events", "event_id"), ("documents", "doc_id"),
                       ("embeddings", "vec_id")]:
        unique(table, key)
    for table, fk, parent, pk in [
            ("nation", "n_regionkey", "region", "r_regionkey"),
            ("customer", "c_nationkey", "nation", "n_nationkey"),
            ("supplier", "s_nationkey", "nation", "n_nationkey"),
            ("orders", "o_custkey", "customer", "c_custkey"),
            ("lineitem", "l_orderkey", "orders", "o_orderkey"),
            ("lineitem", "l_partkey", "part", "p_partkey"),
            ("lineitem", "l_suppkey", "supplier", "s_suppkey")]:
        within(table, fk, parent, pk)
    # q04's aggregation contract: event_id unique per (user_id, event_type)
    ev = t["events"].select(["user_id", "event_type", "event_id"]).to_pandas()
    if ev.duplicated().any():
        bad.append("events.event_id is not unique per (user_id, event_type)")
    docs = t["documents"].to_pandas()
    if (docs["text"].str.len() != docs["n_chars"]).any() or (docs["n_chars"] == 0).any():
        bad.append("documents.n_chars differs from the text length or is 0")
    emb = np.stack(col("embeddings", "embedding"))
    if emb.shape[1] != EMBED_DIM or not np.isfinite(emb).all() or \
            np.abs(np.linalg.norm(emb, axis=1) - 1.0).max() > 1e-5:
        bad.append("embeddings are not finite unit vectors of dimension 64")
    return bad


def write(out_dir: str, seed: int, scale: float) -> dict:
    """Generates, checks and writes one input set; returns its manifest.
    Reuses an existing set with the same manifest; otherwise starts from an
    empty directory, so nothing cached for an earlier input (the oracle's
    results) survives."""
    manifest_path = os.path.join(out_dir, "manifest.json")
    want = {"generator": VERSION, "seed": seed, "scale": scale}
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            have = json.load(f)
        if all(have.get(k) == v for k, v in want.items()):
            return have
    tables = generate(seed, scale)
    bad = check_contracts(tables)
    if bad:
        raise SystemExit("generated input breaks contracts: " + "; ".join(bad))
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    manifest = dict(want, rows={k: v.num_rows for k, v in tables.items()},
                    contracts="ok")
    with open(manifest_path, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    if len(sys.argv) != 4:
        raise SystemExit(__doc__)
    print(json.dumps(write(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))))
