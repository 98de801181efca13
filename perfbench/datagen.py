"""Seeded input generators for the three benchmark workloads.

Everything here is a pure function of ``seed`` (numpy ``PCG64``), so the
same seed always gives byte-identical inputs; the engine under test only
ever sees the files written here.

- ``write_star_schema``: the TPC-H-shaped star schema (region, nation,
  customer, supplier, part, orders, lineitem, events) with the column
  names, types and value ranges the contract queries and their DuckDB
  oracles expect. Money columns are exact cent values and dates fall in
  1995-01-01..2001-11, so no query filters to an empty result.
- ``cdc_events`` / ``write_event_files``: the POS event stream —
  {sales, products, customers} x {add, edit, remove}, entity mix
  6:3:1, Zipf-skewed keys — as JSON-lines files in the raw
  ``topic/value/seq`` shape the streaming pipeline reads.
- ``corpus_docs``: documents joined with their embeddings plus a
  canonicalisable URL, with planted exact copies, near copies and
  re-crawled URLs so every dedup tier has work to reject.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_COLORS = ["blue", "red", "green", "hot", "large", "small", "black", "white", "pale", "dark",
            "rose", "navy", "gold"]
P_NOUNS = ["ring", "bolt", "anvil", "widget", "gear"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EMBED_DIM = 64
VOCAB = ("a the batch part spark line column order small sort fast value scan hash "
         "slow group agg filter big query key window stream table merge data row join "
         "vector customer").split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform money values on the cent lattice (exact two-decimal doubles)."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_star_schema(out_dir: str, seed: int, scale: float) -> None:
    """Write the eight star-schema tables at ``scale`` (0.1 = 600k lineitem
    rows, the size ``bench.py`` uses; ``pos_analytics`` runs at 0.02)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * scale)
    n_supp = int(10_000 * scale)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_users = int(15_000 * scale)
    n_events = int(1_000_000 * scale)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
    })
    names = np.array([f"{c} {n}" for c in P_COLORS for n in P_NOUNS])
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)],
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    # every customer gets at least one order (the first n_cust orders are a
    # permutation of all customers), the rest are uniform
    o_cust = np.concatenate([rng.permutation(n_cust), rng.integers(0, n_cust, n_ord - n_cust)])
    span_days = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int))
    o_day = rng.integers(0, span_days + 1, n_ord)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(o_cust, pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995 + o_day * _DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    l_ord = np.repeat(np.arange(n_ord), lines)
    n_li = len(l_ord)
    l_num = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(l_ord, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _cents(rng, 900.0, 104999.99, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(_EPOCH_1995 + (o_day[l_ord] + rng.integers(1, 122, n_li)) * _DAY_US),
    })
    ev_ts = np.sort(rng.integers(0, 30 * _DAY_US, n_events))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts(_EPOCH_2024 + ev_ts),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": _cents(rng, 0.0, 560.0, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })


# ---------------------------------------------------------------------------
# POS CDC event stream
# ---------------------------------------------------------------------------

#: entity -> (share of events, key space). Keys are Zipf-skewed inside it.
CDC_MIX = {"sales": (6, 20_000), "products": (3, 2_000), "customers": (1, 5_000)}
LEVELS = ["Bronze", "Silver", "Gold", "Platinum"]
CATEGORIES = ["Drinks", "Snacks", "Dairy", "Bakery", "Produce", "Frozen"]


def _payload(entity: str, key: int, rng: np.random.Generator) -> dict:
    if entity == "sales":
        return {"sale_id": key, "customer_id": int(rng.integers(0, 5_000)),
                "quantity": int(rng.integers(1, 10)),
                "price": float(rng.integers(50, 50_000)) / 100.0}
    if entity == "products":
        return {"product_id": key, "category": CATEGORIES[int(rng.integers(0, 6))],
                "stock_level": int(rng.integers(0, 500))}
    return {"customer_id": key, "name": f"cust{key}", "level": LEVELS[int(rng.integers(0, 4))]}


_PK = {"sales": "sale_id", "products": "product_id", "customers": "customer_id"}


def cdc_events(seed: int, n: int) -> list[tuple[str, dict, int]]:
    """``n`` POS events as ``(topic, payload, seq)``. The entity is drawn
    6:3:1 (sales:products:customers), the key Zipf(1.2) within the entity's
    key space (best sellers recur), the op is ``add`` on a key's first
    appearance and then ``edit`` (80%) or ``remove`` (20%); a removed key's
    next event is an ``add`` again. ``seq`` is strictly increasing."""
    rng = np.random.default_rng(seed)
    ents = list(CDC_MIX)
    share = np.array([CDC_MIX[e][0] for e in ents], dtype=float)
    which = rng.choice(len(ents), size=n, p=share / share.sum())
    zipf = rng.zipf(1.2, size=n)
    live: dict[tuple[str, int], bool] = {}
    out = []
    for i in range(n):
        ent = ents[which[i]]
        key = int((zipf[i] - 1) % CDC_MIX[ent][1])
        if not live.get((ent, key)):
            op = "add"
        else:
            op = "remove" if rng.random() < 0.2 else "edit"
        live[(ent, key)] = op != "remove"
        if op == "remove":
            payload = {_PK[ent]: key}
        else:
            payload = _payload(ent, key, rng)
        out.append((f"{ent}_{op}", payload, i))
    return out


def write_event_files(
    out_dir: str, events: list[tuple[str, dict, int]], per_file: int, prefix: str
) -> list[str]:
    """Write ``events`` as JSON-lines files of ``per_file`` events each, in
    the raw ``{topic, value, seq}`` shape (``value`` is the JSON payload
    with ``seq`` inside, as a Kafka value would carry it). Returns the
    file paths in release order."""
    os.makedirs(out_dir, exist_ok=True)
    files = []
    for f_i, lo in enumerate(range(0, len(events), per_file)):
        chunk = events[lo:lo + per_file]
        path = os.path.join(out_dir, f"{prefix}-{f_i:05d}.json")
        with open(path, "w") as f:
            for topic, payload, seq in chunk:
                value = json.dumps({**payload, "seq": seq})
                f.write(json.dumps({"topic": topic, "value": value, "seq": seq}) + "\n")
        files.append(path)
    return files


# ---------------------------------------------------------------------------
# LLM corpus
# ---------------------------------------------------------------------------


def corpus_docs(seed: int, n: int) -> dict[str, list]:
    """``n`` documents (columns doc_id, source, url, text, embedding).

    About 8% are planted duplicates of an earlier document in the stream:
    a third exact text copies, a third near copies (a few words swapped),
    a third re-crawls of an earlier URL with fresh text. Every text
    carries a shared boilerplate footer line so the span/line tiers have
    something to excise. Embeddings are unit-norm random (near-isotropic,
    so only planted copies are semantic near-duplicates)."""
    rng = np.random.default_rng(seed)
    vocab = np.array(VOCAB)
    footer = "subscribe to the batch stream newsletter for more spark data"
    ids, srcs, urls, texts, embs = [], [], [], [], []
    for i in range(n):
        doc_id = i
        src = f"src{int(rng.integers(0, 20))}"
        url = f"https://{src}.example.com/doc/{doc_id}?utm_source=feed"
        body = " ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(30, 90)))])
        vec = rng.standard_normal(EMBED_DIM)
        if i >= 10 and rng.random() < 0.08:
            j = int(rng.integers(0, i))
            kind = int(rng.integers(0, 3))
            if kind == 0:
                body = texts[j].split("\n")[0]
                vec = np.array(embs[j])
            elif kind == 1:
                words = texts[j].split("\n")[0].split()
                for _ in range(2):
                    words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, len(vocab))])
                body = " ".join(words)
                vec = np.array(embs[j]) + 0.01 * rng.standard_normal(EMBED_DIM)
            else:
                url = urls[j].replace("?utm_source=feed", "?utm_source=recrawl")
        vec = vec / np.linalg.norm(vec)
        ids.append(doc_id)
        srcs.append(src)
        urls.append(url)
        texts.append(body + "\n" + footer)
        embs.append([float(x) for x in vec.astype(np.float32)])
    return {"doc_id": ids, "source": srcs, "url": urls, "text": texts, "embedding": embs}


def write_corpus_tables(out_dir: str, seed: int, n: int) -> None:
    """The star schema's ``documents`` and ``embeddings`` tables (the
    DuckDB oracle harness registers a view over every table, so they must
    exist even where no query reads them)."""
    docs = corpus_docs(seed, n)
    rng = np.random.default_rng(seed)
    _write(out_dir, "documents", {
        "doc_id": pa.array(docs["doc_id"], pa.int64()),
        "text": docs["text"],
        "lang": np.array(["en", "de", "fr", "es", "zh"])[rng.integers(0, 5, n)],
        "source": docs["source"],
        "n_chars": pa.array([len(t) for t in docs["text"]], pa.int64()),
    })
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(docs["doc_id"], pa.int64()),
        "embedding": pa.array(docs["embedding"], pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })
