"""Seeded input tables for the benchmark workloads.

Every table has the schema of the fixture tables the catalog queries were
written against (TESTDATA.md): the same column names, physical types and
value ranges, generated here so a run never reads data from outside its
checkout. The catalog tables are drawn from a fixed generator seed, so the
catalog hashes in golden.json hold for every run; only the curation corpus
depends on the run's seed, through a permutation of its document ids.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Fixed seed of the shared tables: the catalog queries' golden hashes are
# taken on exactly these rows.
TABLE_SEED = 42

VOCAB = ("key agg row scan slow fast table value part hash a merge batch spark "
         "the line sort window order data column join small customer query "
         "big stream group filter vector").split()
SOURCES = 20
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
DIM = 64


def _write(out_dir, name, table):
    pq.write_table(table, os.path.join(out_dir, name + ".parquet"))


def documents(rng, n_docs):
    """Word-salad documents over the fixture vocabulary. One in twenty is a
    near-duplicate (an earlier document plus a marker token), and a few
    carry an e-mail address or URL for the cleaning stage to mask."""
    texts = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
            continue
        words = list(rng.choice(VOCAB, size=int(rng.integers(10, 101))))
        if rng.random() < 0.02:
            words.insert(int(rng.integers(0, len(words))), "user%d@mail.example" % i)
        if rng.random() < 0.02:
            words.insert(int(rng.integers(0, len(words))), "https://example.org/%d" % i)
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)]),
        "source": pa.array(["src%d" % (i % SOURCES) for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def embeddings(rng, n_vecs):
    """Unit-norm Gaussian float32 vectors with a 10-class label."""
    v = rng.standard_normal((n_vecs, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, n_vecs * DIM + 1, DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
    })


def events(rng, n_events, n_users):
    """Time-ordered click stream over 30 days of 2024."""
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span, n_events)) + t0
    return pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n_events)]),
    })


def orders_lineitem(rng, n_orders, n_cust, n_supp, n_part):
    day = 86400 * 1_000_000
    d0 = np.datetime64("1995-01-01", "us").astype(np.int64)
    odate = d0 + rng.integers(0, 2404, n_orders) * day
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders).astype(np.int64)),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_orders), 2)),
        "o_orderdate": pa.array(odate, type=pa.timestamp("us")),
        "o_orderpriority": pa.array(
            [("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")[i]
             for i in rng.integers(0, 5, n_orders)]),
    })
    n_li = 4 * n_orders
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array([("F", "O")[i] for i in rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(d0 + day + rng.integers(0, 2500, n_li) * day,
                               type=pa.timestamp("us")),
    })
    return orders, lineitem


def catalog_tables(out_dir, size):
    """The catalog mix's tables, identical for every run seed."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(TABLE_SEED)
    _write(out_dir, "embeddings", embeddings(rng, size["vectors"]))
    _write(out_dir, "events", events(rng, size["events"], size["users"]))
    orders, lineitem = orders_lineitem(rng, size["orders"], size["customers"],
                                       size["suppliers"], size["parts"])
    _write(out_dir, "orders", orders)
    _write(out_dir, "lineitem", lineitem)


def curation_tables(out_dir, size, seed):
    """Documents and their embeddings, with both id columns relabelled by
    one seeded permutation, so a seed changes which document every
    id-ordered rule (first-of-digest, eval slice, mixture rank) picks."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(TABLE_SEED)
    docs = documents(rng, size["docs"])
    emb = embeddings(rng, size["docs"])
    perm = np.random.default_rng(seed).permutation(size["docs"]).astype(np.int64)
    _write(out_dir, "documents", docs.set_column(0, "doc_id", pa.array(perm)))
    _write(out_dir, "embeddings", emb.set_column(0, "vec_id", pa.array(perm)))
