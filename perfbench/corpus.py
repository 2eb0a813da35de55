"""Seeded synthetic corpus for the graft benchmark.

Writes the ten tables graft reads (`region nation customer supplier part
orders lineitem events documents embeddings`, one parquet file each) with
the schemas, row counts and value shapes of graft's test corpora, and the
vector shards that the vector_ingest workload appends. Every value comes
from a seeded numpy generator, so the same seed gives the same tables and
shards.

To compare the synthetic tables with a test corpus of the same scale (row
counts, and per column the range, mean or distinct count, and for the
embeddings the cluster structure):

    python3 perfbench/corpus.py --compare <corpus dir> --scale 0.1
"""
import argparse
import os
import shutil
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.43, 0.14, 0.14, 0.15, 0.14]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
COLORS = ["red", "blue", "green", "hot", "large", "small", "dark", "pale"]
NOUNS = ["bolt", "ring", "plate", "gear", "nut", "screw", "pipe", "valve"]
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                       "STANDARD"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# rows per table at scale 1.0; the benchmark runs at a small fraction
BASE_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
             "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
             "users": 15_000, "documents": 50_000, "embeddings": 20_000}


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span_days, n)).astype("datetime64[us]")


def _unit(rows):
    return (rows / np.linalg.norm(rows, axis=1, keepdims=True)).astype(np.float32)


def embeddings_table(ids, vecs, labels):
    return {"vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32())}


def rows(corpus_dir, table):
    return pq.read_metadata(os.path.join(corpus_dir, f"{table}.parquet")).num_rows


def write_corpus(corpus, seed, scale):
    """Writes the ten tables under the directory `corpus`."""
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(v * scale)) for k, v in BASE_ROWS.items()}
    os.makedirs(corpus)
    t = lambda name: os.path.join(corpus, f"{name}.parquet")

    _write(t("region"), {"r_regionkey": pa.array(range(5), pa.int32()),
                         "r_name": REGIONS})
    _write(t("nation"), {"n_nationkey": pa.array(range(25), pa.int32()),
                         "n_name": [f"NATION_{i}" for i in range(25)],
                         "n_regionkey": pa.array([i % 5 for i in range(25)],
                                                 pa.int32())})
    c = n["customer"]
    _write(t("customer"), {
        "c_custkey": pa.array(range(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, c), 2),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, c)]})
    s = n["supplier"]
    _write(t("supplier"), {
        "s_suppkey": pa.array(range(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, s), 2)})
    p = n["part"]
    _write(t("part"), {
        "p_partkey": pa.array(range(p), pa.int64()),
        "p_name": [f"{COLORS[rng.integers(8)]} {NOUNS[rng.integers(8)]}"
                   for _ in range(p)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": PART_TYPES[rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) * 0.1, 2)})
    o = n["orders"]
    _write(t("orders"), {
        "o_orderkey": pa.array(range(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, o)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, o), 2),
        "o_orderdate": _days(rng, o, "1995-01-01", 2405),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, o)]})
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(np.float64)
    _write(t("lineitem"), {
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(rng.uniform(900, 105000, li), 2),
        "l_discount": np.round(rng.integers(0, 11, li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, li) / 100, 2),
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, li)],
        "l_shipdate": _days(rng, li, "1995-01-02", 2499)})
    ev = n["events"]
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, ev))
    _write(t("events"), {
        "event_id": pa.array(range(ev), pa.int64()),
        "ts": np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, n["users"], ev), pa.int64()),
        "event_type": EVENT_TYPES[rng.integers(0, 5, ev)],
        "value": np.round(rng.exponential(50, ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ev)]})

    # documents: random word strings; 5% are near-duplicates of an earlier
    # document with " dup" appended, which the dedup operators must find
    d = n["documents"]
    texts = []
    for i in range(d):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            texts.append(" ".join(WORDS[w] for w in
                                  rng.integers(0, len(WORDS), rng.integers(10, 100))))
    _write(t("documents"), {
        "doc_id": pa.array(range(d), pa.int64()),
        "text": texts,
        "lang": LANGS[rng.choice(5, d, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})

    # embeddings: isotropic unit vectors; the labels carry no direction
    e = n["embeddings"]
    vecs = _unit(rng.normal(0, 1, (e, DIM)))
    labels = rng.integers(0, 10, e)
    _write(t("embeddings"), embeddings_table(np.arange(e), vecs, labels))


def write_shards(shard_dir, corpus, seed, shards, shard_rows):
    """Writes `shards` vector shards of `shard_rows` rows: perturbed copies
    of sampled corpus embeddings under new ids."""
    rng = np.random.default_rng(seed)
    base = pq.read_table(os.path.join(corpus, "embeddings.parquet"))
    vecs = np.stack(base["embedding"].to_numpy(zero_copy_only=False))
    labels = base["label"].to_numpy()
    os.makedirs(shard_dir)
    for k in range(shards):
        src = rng.integers(0, len(vecs), shard_rows)
        ids = 10_000_000 + k * 100_000 + np.arange(shard_rows)
        noisy = _unit(vecs[src] + rng.normal(0, 0.04, (shard_rows, DIM)))
        _write(os.path.join(shard_dir, f"shard-{k:03d}.parquet"),
               embeddings_table(ids, noisy, labels[src]))


def _profile(corpus_dir):
    """{table: (rows, {column: summary})}, the summaries as short strings."""
    out = {}
    for f in sorted(os.listdir(corpus_dir)):
        if not f.endswith(".parquet"):
            continue
        df = pq.read_table(os.path.join(corpus_dir, f)).to_pandas()
        cols = {}
        for c in df.columns:
            x = df[c]
            if c == "embedding":
                v = np.stack(x.to_numpy())
                cos = v @ v.T
                same = df["label"].to_numpy()[:, None] == df["label"].to_numpy()[None, :]
                np.fill_diagonal(cos, np.nan)
                cols[c] = (f"dim {v.shape[1]}, cos in/out label "
                           f"{np.nanmean(cos[same]):.4f}/{np.nanmean(cos[~same]):.4f}, "
                           f"top-1 cos {np.nanmax(cos, axis=1).mean():.3f}")
            elif c == "text":
                n_words = x.str.split().str.len()
                cols[c] = (f"{len(set(' '.join(x).split()))} words, {n_words.min()}-"
                           f"{n_words.max()} a doc, {x.duplicated().sum()} exact dups, "
                           f"{x.str.endswith(' dup').sum()} near dups")
            elif x.dtype == object:
                cols[c] = f"{x.nunique()} distinct"
            elif np.issubdtype(x.dtype, np.datetime64):
                cols[c] = f"{x.min():%Y-%m-%d} to {x.max():%Y-%m-%d}"
            else:
                cols[c] = f"{x.min():g} to {x.max():g}, mean {x.mean():.4g}"
        out[f[:-len(".parquet")]] = (len(df), cols)
    return out


def compare(reference, scale):
    """Prints a markdown table of the synthetic corpus at `scale` against
    the corpus in `reference`, table by table and column by column."""
    tmp = tempfile.mkdtemp()
    try:
        write_corpus(os.path.join(tmp, "c"), 42, scale)
        ours = _profile(os.path.join(tmp, "c"))
    finally:
        shutil.rmtree(tmp)
    ref = _profile(reference)
    print("| table.column | reference | synthetic |\n|---|---|---|")
    for t in sorted(set(ref) | set(ours)):
        (rn, rc), (on, oc) = ref.get(t, (0, {})), ours.get(t, (0, {}))
        print(f"| {t} rows | {rn} | {on} |")
        for c in list(rc) + [c for c in oc if c not in rc]:
            print(f"| {t}.{c} | {rc.get(c, '-')} | {oc.get(c, '-')} |")


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description="compare with a test corpus")
    ap.add_argument("--compare", required=True, help="test corpus dir")
    ap.add_argument("--scale", type=float, required=True)
    a = ap.parse_args()
    compare(a.compare, a.scale)
