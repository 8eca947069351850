"""Seeded input generator for the graft benchmark.

One seed derives every workload's inputs; the same seed and scale give
byte-identical files. Each generator writes its inputs under `out` and a
`manifest.json` holding the seed, row counts, bytes and the counts the
harness checks graft's outputs against.

    python3 perfbench/gen.py <workload> <seed> <scale> <out_dir>

`scale` 1.0 is the full benchmark size; the smoke test uses a small
fraction of it.
"""
import gzip
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EMB_DIM = 64

# transfer_bulk landing shape (at scale 1.0)
TB_NDJSON_FILES = 16
TB_NDJSON_ROWS = 30_000          # per file
TB_PARQUET_FILES = 8
TB_PARQUET_ROWS = 60_000        # per file
TB_KINDS = ["order", "refund", "test", "view"]

# stream_drain landing shape (at scale 1.0)
SD_FILES = 64
SD_ROWS = 400                    # per file
SD_MAX_FILES_PER_TRIGGER = 4

# index_serve corpus and append batches (at scale 1.0)
IS_VECTORS = 1000
IS_DOCS = 2000
IS_APPENDS = 24
IS_APPEND_VECTORS = 50
IS_APPEND_DOCS = 100


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def _ts(us):
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _n(base, scale, floor=1):
    return max(floor, int(round(base * scale)))


def _documents(rng, first_id, n):
    lengths = rng.integers(10, 61, n)
    word_ix = rng.integers(0, len(WORDS), int(lengths.sum()))
    texts, at = [], 0
    for ln in lengths:
        texts.append(" ".join(WORDS[i] for i in word_ix[at:at + ln]))
        at += ln
    # a few near-duplicates so the lexical statistics are not uniform
    dups = rng.random(n) < 0.05
    texts = [t + " dup" if d else t for t, d in zip(texts, dups)]
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)].tolist()),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, first_id, n):
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = _rng(7, 0).standard_normal((10, EMB_DIM))
    v = rng.standard_normal((n, EMB_DIM)) + 0.6 * centers[labels]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.reshape(-1)), EMB_DIM)
    return pa.table({
        "vec_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(labels),
    })


def gen_query_mix(seed, scale, out):
    """A TPC-H-shaped star schema plus events, key-consistent, sized
    like sf0.1 at scale 1.0 (one parquet file per table)."""
    rng = _rng(seed, 1)
    n_cust, n_supp, n_part = _n(15000, scale), _n(1000, scale, 10), _n(20000, scale)
    n_ord, n_ev = _n(150000, scale), _n(100000, scale)
    tree = os.path.join(out, "tree")
    files = {}
    files["region"] = _write(pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{tree}/region.parquet")
    files["nation"] = _write(pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}),
        f"{tree}/nation.parquet")
    ck = np.arange(n_cust, dtype=np.int64)
    files["customer"] = _write(pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)].tolist()}),
        f"{tree}/customer.parquet")
    sk = np.arange(n_supp, dtype=np.int64)
    files["supplier"] = _write(pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
        f"{tree}/supplier.parquet")
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    files["part"] = _write(pa.table({
        "p_partkey": pk,
        "p_name": np.array(names)[rng.integers(0, 64, n_part)].tolist(),
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)].tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)}),
        f"{tree}/part.parquet")
    ok = np.arange(n_ord, dtype=np.int64)
    odate = rng.integers(0, 2404, n_ord) * DAY_US
    files["orders"] = _write(pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)].tolist(),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(EPOCH_1995 + odate),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)].tolist()}),
        f"{tree}/orders.parquet")
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_ord = np.repeat(ok, lines)
    l_num = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    files["lineitem"] = _write(pa.table({
        "l_orderkey": l_ord,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(l_num.astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)].tolist(),
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)].tolist(),
        "l_shipdate": _ts(EPOCH_1995 + np.repeat(odate, lines)
                          + rng.integers(1, 95, n_li) * DAY_US)}),
        f"{tree}/lineitem.parquet")
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    files["events"] = _write(pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(EPOCH_2024 + ts),
        "user_id": rng.integers(0, 1500, n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)].tolist(),
        "value": np.round(rng.exponential(60.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        f"{tree}/events.parquet")
    files["documents"] = _write(_documents(rng, 0, _n(5000, scale, 100)),
                                f"{tree}/documents.parquet")
    files["embeddings"] = _write(_embeddings(rng, 0, _n(2000, scale, 100)),
                                 f"{tree}/embeddings.parquet")
    return {"tree": "tree", "bytes": files,
            "rows": {"customer": n_cust, "supplier": n_supp, "part": n_part,
                     "orders": n_ord, "lineitem": n_li, "events": n_ev}}


def _feed_rows(rng, first_id, n):
    """One landing feed: events with a kind, an amount and a quantity;
    ~2% carry a negative amount or a zero quantity (invalid rows)."""
    kinds = rng.integers(0, len(TB_KINDS), n)
    amount_c = rng.integers(1, 100_000, n)
    qty = rng.integers(1, 20, n)
    bad = rng.random(n) < 0.02
    flip = rng.random(n) < 0.5
    amount_c = np.where(bad & flip, -amount_c, amount_c)
    qty = np.where(bad & ~flip, 0, qty)
    return {
        "id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts_us": rng.integers(0, 4 * DAY_US, n),
        "user": rng.integers(0, 5000, n),
        "nation": rng.integers(0, 25, n),
        "kind": kinds, "amount_c": amount_c, "qty": qty,
    }


def _feed_expect(rows):
    kept = np.array(TB_KINDS)[rows["kind"]] != "test"
    valid = (rows["amount_c"] > 0) & (rows["qty"] > 0)
    return int((kept & valid).sum()), int((kept & ~valid).sum())


def gen_transfer_bulk(seed, scale, out):
    """A landing directory of gzip ndjson and parquet feeds plus a small
    nation dimension. Expected rows written / error rows per transfer
    follow from the generated rows and the document's Filter and Valid."""
    rng = _rng(seed, 2)
    nd_rows = _n(TB_NDJSON_ROWS, scale, 50)
    pq_rows = _n(TB_PARQUET_ROWS, scale, 50)
    expect = {"ndjson_a": [0, 0], "ndjson_b": [0, 0], "parquet": [0, 0]}
    warm = {}
    files, nid = {}, 0
    for f in range(TB_NDJSON_FILES):
        r = _feed_rows(rng, nid, nd_rows)
        nid += nd_rows
        feed = "ndjson_a" if f % 2 == 0 else "ndjson_b"
        w, e = _feed_expect(r)
        expect[feed][0] += w
        expect[feed][1] += e
        warm.setdefault(feed, [w, e])
        ts = (EPOCH_2024 + r["ts_us"]).astype("datetime64[s]").astype(str)
        kinds = np.array(TB_KINDS)[r["kind"]]
        body = "".join(
            f'{{"id":{i},"ts":"{t}","user":{u},"nation":{na},'
            f'"kind":"{k}","amount":{a / 100:.2f},"qty":{q},"note":"n{i % 97}"}}\n'
            for i, t, u, na, k, a, q in zip(
                r["id"].tolist(), ts.tolist(), r["user"].tolist(),
                r["nation"].tolist(), kinds.tolist(), r["amount_c"].tolist(),
                r["qty"].tolist()))
        path = f"{out}/landing/{feed}/part-{f // 2:04d}.json.gz"
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as fh:
            # mtime=0 keeps the gzip bytes a pure function of the seed
            with gzip.GzipFile(fileobj=fh, mode="wb", compresslevel=1, mtime=0) as gz:
                gz.write(body.encode())
        files[path[len(out) + 1:]] = os.path.getsize(path)
    for f in range(TB_PARQUET_FILES):
        r = _feed_rows(rng, nid, pq_rows)
        nid += pq_rows
        w, e = _feed_expect(r)
        expect["parquet"][0] += w
        expect["parquet"][1] += e
        warm.setdefault("parquet", [w, e])
        path = f"{out}/landing/parquet/part-{f:04d}.parquet"
        files[path[len(out) + 1:]] = _write(pa.table({
            "id": r["id"], "ts": _ts(EPOCH_2024 + r["ts_us"]),
            "user": r["user"], "nation": r["nation"].astype(np.int32),
            "kind": np.array(TB_KINDS)[r["kind"]].tolist(),
            "amount": r["amount_c"] / 100.0, "qty": r["qty"].astype(np.int32),
            "note": [f"n{i % 97}" for i in r["id"].tolist()]}), path)
    files["dim/nation.parquet"] = _write(pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}),
        f"{out}/dim/nation.parquet")
    return {"bytes": files, "rows": {"source": nid},
            "expect": {k: {"rows_written": v[0], "error_rows": v[1]}
                       for k, v in expect.items()},
            "expect_warm": {k: {"rows_written": v[0], "error_rows": v[1]}
                            for k, v in warm.items()}}


def gen_stream_drain(seed, scale, out):
    """Many small ndjson files of events; the stream drops event_type
    'error', so the expected drained rows are the other rows."""
    rng = _rng(seed, 3)
    n_files = _n(SD_FILES, scale, 2 * SD_MAX_FILES_PER_TRIGGER)
    per = _n(SD_ROWS, scale, 10)
    kept, files, eid = 0, {}, 0
    os.makedirs(f"{out}/landing", exist_ok=True)
    for f in range(n_files):
        et = np.array(EVENT_TYPES)[rng.integers(0, 5, per)]
        users = rng.integers(0, 1500, per)
        vals = np.round(rng.exponential(60.0, per), 2)
        kept += int((et != "error").sum())
        path = f"{out}/landing/events-{f:05d}.json"
        with open(path, "w") as fh:
            fh.write("".join(
                f'{{"event_id":{eid + i},"user_id":{u},"event_type":"{t}","value":{v}}}\n'
                for i, (u, t, v) in enumerate(zip(users.tolist(), et.tolist(),
                                                  vals.tolist()))))
        eid += per
        files[path[len(out) + 1:]] = os.path.getsize(path)
    return {"bytes": {"landing": sum(files.values())},
            "rows": {"source": eid, "files": n_files},
            "max_files_per_trigger": SD_MAX_FILES_PER_TRIGGER,
            "expect": {"rows": kept,
                       "batches": -(-n_files // SD_MAX_FILES_PER_TRIGGER)}}


def gen_index_serve(seed, scale, out):
    """An embeddings + documents corpus and a run of append batches, each
    one new part file per table with ids past every earlier id."""
    rng = _rng(seed, 4)
    n_vec, n_doc = _n(IS_VECTORS, scale, 200), _n(IS_DOCS, scale, 200)
    files = {
        "corpus/embeddings.parquet/part-00000.parquet":
            _write(_embeddings(rng, 0, n_vec),
                   f"{out}/corpus/embeddings.parquet/part-00000.parquet"),
        "corpus/documents.parquet/part-00000.parquet":
            _write(_documents(rng, 0, n_doc),
                   f"{out}/corpus/documents.parquet/part-00000.parquet"),
    }
    av, ad = _n(IS_APPEND_VECTORS, scale, 10), _n(IS_APPEND_DOCS, scale, 10)
    for b in range(IS_APPENDS):
        for name, table in (("embeddings", _embeddings(rng, n_vec + b * av, av)),
                            ("documents", _documents(rng, n_doc + b * ad, ad))):
            rel = f"appends/{b:03d}/{name}.parquet"
            files[rel] = _write(table, f"{out}/{rel}")
    return {"bytes": files, "appends": IS_APPENDS,
            "rows": {"embeddings": n_vec, "documents": n_doc,
                     "append_embeddings": av, "append_documents": ad}}


GENERATORS = {"query_mix": gen_query_mix, "transfer_bulk": gen_transfer_bulk,
              "stream_drain": gen_stream_drain, "index_serve": gen_index_serve}


def main():
    workload, seed, scale, out = sys.argv[1], int(sys.argv[2]), float(sys.argv[3]), sys.argv[4]
    os.makedirs(out, exist_ok=True)
    manifest = GENERATORS[workload](seed, scale, out)
    manifest.update({"workload": workload, "seed": seed, "scale": scale})
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
