"""Seeded input generator for the benchmark workloads.

Every table has the schema of the repository's TPC-H-ish test table of the
same name (part, orders, lineitem, documents, embeddings), written as
parquet by pyarrow with naive microsecond timestamps. Values are drawn from the same simple
distributions those tables use, so the query rows' oracle SQL applies
unchanged. The same seed always gives byte-identical inputs.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in epoch microseconds


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table, path):
    pq.write_table(table, path)
    return table.num_rows


def star_schema(rng, sf):
    """part, orders and lineitem at scale factor `sf` (lineitem = 6M * sf
    rows); customer and supplier keys are drawn from their key ranges."""
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    adj = np.array(["blue", "cold", "hot", "red", "small", "new", "old",
                    "large"])
    noun = np.array(["ring", "plate", "gear", "rod", "bolt", "anvil",
                     "widget", "pipe"])
    part = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(rng.choice(adj, n_part), " "),
                              rng.choice(noun, n_part)),
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                                       "SMALL", "STANDARD"]), n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)})
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": rng.choice(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]),
            n_ord)})
    return {"part": part, "orders": orders,
            "lineitem": lineitem(rng, int(6_000_000 * sf), n_ord, n_part,
                                 n_supp)}


def lineitem(rng, n, n_ord, n_part, n_supp):
    return pa.table({
        "l_orderkey": rng.integers(0, n_ord, n, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2499, n) * DAY_US)})


def _texts(rng, n):
    lens = rng.integers(10, 101, n)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), lens.sum())]
    cuts = np.cumsum(lens)[:-1]
    return [" ".join(w) for w in np.split(words, cuts)]


def corpus(rng, n_base, factor, dup_frac=0.05):
    """documents + embeddings: `n_base` base docs grown `factor`-fold.

    Base docs carry a `dup_frac` share of near-copies of earlier docs
    (one token changed, " dup" appended). Growth follows the
    dup-rate-controlled scheme of graft.tools.ScaleUp: a `dup_frac`
    slice of base docs gets near-copies (a " r<k>" suffix) in replicas
    1..4 only, so near-dup cliques stay at most 5 wide; every other
    replica doc is its base doc's tokens in a fresh random order (same
    vocabulary and length, near-zero shingle overlap)."""
    base = _texts(rng, n_base)
    for i in np.flatnonzero(rng.random(n_base) < dup_frac):
        if i == 0:
            continue
        toks = base[rng.integers(0, i)].split()
        toks[rng.integers(0, len(toks))] = VOCAB[rng.integers(0, len(VOCAB))]
        base[i] = " ".join(toks) + " dup"
    grow_dup = rng.random(n_base) < dup_frac
    texts = list(base)
    for r in range(1, factor):
        for i, t in enumerate(base):
            if grow_dup[i] and r <= 4:
                texts.append(f"{t} r{r}")
            else:
                toks = t.split()
                texts.append(" ".join(toks[j] for j in rng.permutation(len(toks))))
    n = len(texts)
    lang = np.tile(rng.choice(LANGS, n_base, p=LANG_P), factor)
    docs = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": lang,
        "source": np.char.add("src", (np.arange(n) % 20).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    n_vec = max(n // 5 * 2, 10)
    v = rng.standard_normal((n_vec, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(v.ravel(), 64)
            .cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec, dtype=np.int32)})
    return {"documents": docs, "embeddings": emb}


def replay_batches(rng, n_batches, rows, null_frac=0.1, jitter=0.05):
    """A stream of perturbed lineitem batches: `null_frac` of
    l_quantity and l_extendedprice set to null, prices jittered by up to
    ±`jitter` (and a few pushed far outside the fences)."""
    out = []
    for _ in range(n_batches):
        t = lineitem(rng, rows, rows // 4, rows // 30 + 1, rows // 600 + 1)
        q = t.column("l_quantity").to_numpy()
        p = t.column("l_extendedprice").to_numpy()
        p = np.round(p * rng.uniform(1 - jitter, 1 + jitter, rows), 2)
        far = rng.random(rows) < 0.01
        p[far] = np.round(p[far] * 3, 2)
        qm = rng.random(rows) < null_frac
        pm = rng.random(rows) < null_frac
        t = t.set_column(t.schema.get_field_index("l_quantity"), "l_quantity",
                         pa.array(q, mask=qm))
        t = t.set_column(t.schema.get_field_index("l_extendedprice"),
                         "l_extendedprice", pa.array(p, mask=pm))
        out.append(t)
    return out


def generate(workload, seed, out_dir, sizes):
    """Write `workload`'s inputs under out_dir; return {table: rows}."""
    rng = np.random.default_rng(seed % 2**64)  # any integer seed
    os.makedirs(out_dir, exist_ok=True)
    if workload == "eda_notebook":
        tables = star_schema(rng, sizes["sf"])
    elif workload == "curation_corpus":
        tables = corpus(rng, sizes["base_docs"], sizes["factor"])
    elif workload == "replay_score":
        tables = {"lineitem": star_schema(rng, sizes["sf"])["lineitem"]}
        os.makedirs(f"{out_dir}/batches", exist_ok=True)
        for i, b in enumerate(replay_batches(rng, sizes["batches"],
                                             sizes["batch_rows"])):
            _write(b, f"{out_dir}/batches/b{i:03d}.parquet")
    else:
        raise ValueError(f"unknown workload {workload}")
    return {name: _write(t, f"{out_dir}/{name}.parquet")
            for name, t in tables.items()}
