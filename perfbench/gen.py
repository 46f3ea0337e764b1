"""Seeded input generators for the benchmark.

Two generators, both pure functions of their seed:

* ``write_fixture`` writes the ten fixture tables every registered query
  reads (``region`` .. ``embeddings``), with the schemas and value
  distributions of the project's parquet test fixtures (see FIXTURES.md).
* ``daily_plan`` draws the ``daily_pipeline`` batches: lineitem rows (new
  keys plus updates of live keys), documents (fresh, near-duplicates and
  exact duplicates of the corpus, plus per-batch probe documents) and
  takedown deletes. It also returns what a correct pipeline must report
  for them. ``write_daily`` lands the batches as CSV files.

The same seed gives byte-identical files.
"""
import csv
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

TS = pa.timestamp("us")
DAY_US = 86_400_000_000


def _epoch_us(y):
    return int((dt.datetime(y, 1, 1) - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


EPOCH_1995 = _epoch_us(1995)
EPOCH_2024 = _epoch_us(2024)


def sizes(sf):
    """Row counts per table at scale factor ``sf`` (the fixtures' ratios)."""
    return {
        "customer": int(150_000 * sf), "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)), "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def dup_counts(n):
    """Near-duplicates and exact copies among ``n`` fixture documents."""
    return n // 20, max(1, n // 600)


def _texts(rng, n):
    """Documents of 10-100 tokens drawn from the fixture vocabulary; 5% are
    near-duplicates (an earlier text plus " dup") and a few are exact copies."""
    lens = rng.integers(10, 101, n)
    idx = rng.integers(0, len(WORDS), int(lens.sum()))
    out, o = [], 0
    for ln in lens:
        out.append(" ".join(WORDS[i] for i in idx[o:o + ln]))
        o += ln
    src = rng.permutation(n)
    n_near, n_exact = dup_counts(n)
    for j in src[:n_near]:
        out[j] = out[rng.integers(0, n)] + " dup"
    for j in src[n_near:n_near + n_exact]:
        out[j] = out[rng.integers(0, n)]
    return out


def _ts(values_us):
    return pa.array(values_us, type=pa.int64()).cast(TS)


def fixture_tables(sf, seed):
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, c)]})
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)})
    p = n["part"]
    t["part"] = pa.table({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, p)],
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 1)})
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o),
        "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, o)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, o) * DAY_US),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, o)]})
    t["lineitem"] = pa.table(_lineitem_cols(rng, n["lineitem"], o, p, s))
    e = n["events"]
    ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, e))
    t["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, max(2, e // 66), e),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, e)],
        "value": np.round(rng.exponential(60.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    d = n["documents"]
    texts = _texts(rng, d)
    t["documents"] = pa.table({
        "doc_id": np.arange(d, dtype=np.int64), "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, d, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    m = n["embeddings"]
    v = rng.standard_normal((m, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), 64)
        .cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, m).astype(np.int32)})
    return t


def _lineitem_cols(rng, n, orders, parts, supps, orderkeys=None, linenumbers=None):
    return {
        "l_orderkey": rng.integers(0, orders, n) if orderkeys is None else orderkeys,
        "l_partkey": rng.integers(0, parts, n),
        "l_suppkey": rng.integers(0, supps, n),
        "l_linenumber": (rng.integers(1, 8, n) if linenumbers is None
                         else linenumbers).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": [("N", "A", "R")[i] for i in rng.integers(0, 3, n)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n)],
        "l_shipdate": _ts(EPOCH_1995 + 86_400_000_000 + rng.integers(0, 2499, n) * DAY_US),
    }


def write_fixture(out_dir, sf, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in fixture_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy", row_group_size=1 << 30)


# ---------------------------------------------------------------- daily run

def daily_plan(seed, sf, batches, batch_rows, updated_rows, takedowns, probe_docs=3):
    """Draw the base state and ``batches`` batches of the daily run.

    The base state has the fixture sizes at scale factor ``sf``: the lake
    holds ``sizes(sf)["lineitem"]`` rows, the corpus ``sizes(sf)["documents"]``
    documents. Lineitem keys are (l_orderkey, l_linenumber), unique within the
    base and within every batch; ``updated_rows`` of each batch's
    ``batch_rows`` re-use a live key. A batch's documents are the same share
    of the corpus as its rows are of the lake; near-duplicates and exact
    duplicates of corpus texts come in the fixture's proportions
    (``dup_counts``), and ``probe_docs`` documents carry the batch's probe
    token ``probe<b>``. ``takedowns`` documents already served are deleted
    per batch.

    The expectations name what is certain: row counts, the exact duplicates
    (a digest match), the probe documents and the takedowns. Near-duplicate
    screening is approximate (MinHash LSH), so whether a probe document is
    served follows from the screen's own accept decision.
    """
    rng = np.random.default_rng([seed, 7])
    n = sizes(sf)
    base_rows, base_docs = n["lineitem"], n["documents"]
    batch_docs = round(base_docs * batch_rows / base_rows)
    n_near, n_exact = dup_counts(batch_docs)
    n_fresh = batch_docs - n_near - n_exact - probe_docs
    base_keys = _unique_keys(rng, base_rows, 0, n["orders"])
    base = _lineitem_cols(rng, base_rows, 0, n["part"], n["supplier"],
                          base_keys[:, 0], base_keys[:, 1])
    base["batch"] = np.zeros(base_rows, dtype=np.int32)
    corpus = _fresh_texts(rng, base_docs, 10)
    live_keys = {tuple(k) for k in base_keys.tolist()}
    live_docs = set(range(base_docs))
    probes = {}
    next_doc = base_docs
    next_order = n["orders"]  # new orders take keys past the base ones
    out = []
    for b in range(1, batches + 1):
        upd = rng.choice(np.array(sorted(live_keys)), updated_rows, replace=False).tolist()
        new = _unique_keys(rng, batch_rows - updated_rows, next_order, next_order + batch_rows)
        next_order += batch_rows
        keys = np.array(upd + new.tolist(), dtype=np.int64)
        rows = _lineitem_cols(rng, batch_rows, 0, n["part"], n["supplier"],
                              keys[:, 0], keys[:, 1])
        rows["batch"] = np.full(batch_rows, b, dtype=np.int32)
        live_keys.update(tuple(k) for k in keys.tolist())

        src = rng.choice(base_docs, n_near + n_exact, replace=False)
        texts = ([corpus[i] + " dup" for i in src[:n_near]]
                 + [corpus[i] for i in src[n_near:]]
                 + _fresh_texts(rng, n_fresh, 30)
                 + [t + f" probe{b}" for t in _fresh_texts(rng, probe_docs, 30)])
        ids = list(range(next_doc, next_doc + batch_docs))
        next_doc += batch_docs
        decision = ["near"] * n_near + ["exact"] * n_exact + ["accept"] * (n_fresh + probe_docs)
        accepted = [i for i, d in zip(ids, decision) if d == "accept"]
        probes[b] = set(ids[-probe_docs:])

        # takedowns hit documents served before this batch: base docs and
        # earlier batches' documents, one earlier probe document included
        pool = sorted(live_docs)
        dels = set(int(x) for x in rng.choice(pool, takedowns, replace=False))
        if b > 1 and probes[b - 1] & live_docs:
            dels.add(min(probes[b - 1] & live_docs))
        live_docs -= dels
        live_docs.update(accepted)
        out.append({
            "batch": b, "lineitem": rows,
            "docs": {"doc_id": ids, "text": texts,
                     "lang": [LANGS[i] for i in rng.choice(5, batch_docs, p=LANG_P)]},
            "deletes": sorted(dels),
            "expect": {
                "ingested_rows": batch_rows,
                "docs": ids,
                "exact": [i for i, d in zip(ids, decision) if d == "exact"],
                "probe": sorted(probes[b]),
                "deletes": sorted(dels),
            }})
    expect = {"lake_rows": len(live_keys)}
    return {"base": base, "corpus": corpus, "batches": out, "expect": expect}


def _unique_keys(rng, n, lo, hi):
    """``n`` distinct (orderkey, linenumber) pairs with orderkey in [lo, hi)."""
    span = (hi - lo) * 7
    flat = rng.choice(span, n, replace=False)
    return np.stack([lo + flat // 7, flat % 7 + 1], axis=1).astype(np.int64)


def _fresh_texts(rng, n, min_len):
    lens = rng.integers(min_len, 101, n)
    return [" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), ln)) for ln in lens]


def _fmt_ts(us):
    return (dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(us))).strftime(
        "%Y-%m-%d %H:%M:%S")


def _write_csv(path, cols):
    names = list(cols)
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(names)
        for row in zip(*(cols[c] for c in names)):
            w.writerow(row)


def write_daily(out_dir, plan):
    """Land the plan as files: ``base/`` (lineitem parquet, corpus CSV) and one
    ``batch_<b>/`` directory per batch (lineitem CSV, documents CSV, takedown
    id list). Returns the expectations a correct run must match."""
    base_dir = os.path.join(out_dir, "base")
    os.makedirs(base_dir, exist_ok=True)
    base = dict(plan["base"])
    base["l_shipdate"] = base["l_shipdate"].cast(pa.int64()).to_numpy()
    base["l_shipdate"] = [_fmt_ts(x) for x in base["l_shipdate"]]
    _write_csv(os.path.join(base_dir, "lineitem.csv"), base)
    _write_csv(os.path.join(base_dir, "documents.csv"),
               {"doc_id": list(range(len(plan["corpus"]))), "text": plan["corpus"]})
    expect = {"batches": [], **plan["expect"]}
    for b in plan["batches"]:
        d = os.path.join(out_dir, f"batch_{b['batch']:03d}")
        os.makedirs(d, exist_ok=True)
        rows = dict(b["lineitem"])
        rows["l_shipdate"] = [_fmt_ts(x) for x in rows["l_shipdate"].cast(pa.int64()).to_numpy()]
        _write_csv(os.path.join(d, "lineitem.csv"), rows)
        docs = dict(b["docs"])
        docs["batch"] = [b["batch"]] * len(docs["doc_id"])
        _write_csv(os.path.join(d, "documents.csv"), docs)
        _write_csv(os.path.join(d, "takedowns.csv"), {"doc_id": b["deletes"]})
        expect["batches"].append(b["expect"])
    return expect
