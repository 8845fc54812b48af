"""Seeded input generation: a TPC-H-shaped `lineitem` (the occurrence view's
source) and a `documents` corpus with near-duplicate clusters. The same seed
always gives byte-identical parquet files."""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# A fixed vocabulary of ~1,200 two-syllable words: random documents share few
# 5-character shingles, so near-duplicate structure comes from the planted
# clusters alone and is the same for every seed.
SYLLABLES = ("ka to ri me su na lo pe vi da ge ho ju ba fe mi co ra "
             "ne si tu la po de ki vo zu ma be ri ga lu te no fa hi").split()
WORDS = sorted({a + b for a in SYLLABLES for b in SYLLABLES})
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def lineitem(path, rows, seed):
    """`rows` line items over rows/4 orders (1-7 lines each), with TPC-H's
    part/supplier proportions (200 parts and 10 suppliers per 6,000 lines)."""
    rng = np.random.default_rng([seed, 1])
    lines = rng.integers(1, 8, size=rows // 2)
    lines = lines[: np.searchsorted(np.cumsum(lines), rows) + 1]
    n_orders = len(lines)
    orderkey = np.repeat(np.arange(n_orders, dtype=np.int64) * 4 + 1
                         + rng.integers(0, 4, size=n_orders), lines)[:rows]
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines])[:rows].astype(np.int32)
    n = len(orderkey)
    parts = max(200, rows // 30)
    supps = max(10, rows // 600)
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    table = pa.table({
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(1, parts + 1, size=n, dtype=np.int64),
        "l_suppkey": rng.integers(1, supps + 1, size=n, dtype=np.int64),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, size=n), 2),
        "l_discount": np.round(rng.integers(0, 11, size=n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, size=n) / 100.0, 2),
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), size=n, p=[0.25, 0.5, 0.25]),
        "l_linestatus": rng.choice(np.array(["O", "F"]), size=n),
    })
    pq.write_table(table, path)
    return n


def documents(path, docs, seed):
    """Random word sequences (10-100 words, one fixed multiset of lengths)
    with planted near-duplicate clusters: each member of a cluster is its
    base document with one word replaced. Cluster sizes are fixed (about a
    quarter of the corpus; clusters of four or more form cliques, so the
    triangle and 3-core queries find work), two documents are exact copies,
    and the seed picks the words and the order."""
    rng = np.random.default_rng([seed, 2])
    sizes = [6, 5, 5, 4, 4, 4, 3, 3, 3, 3, 2, 2, 2, 2, 2, 2]
    while sum(sizes) > docs // 4:
        sizes.pop(0)
    n_base = docs - sum(sizes) + len(sizes) - 2
    lengths = rng.permutation(np.linspace(10, 100, n_base).round().astype(int))
    bases = [" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), size=k))
             for k in lengths]
    texts = list(bases[len(sizes):]) + [bases[-1], bases[-2]]
    for c, size in enumerate(sizes):
        for _ in range(size):
            w = bases[c].split(" ")
            w[int(rng.integers(0, len(w)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(w))
    texts = [texts[i] for i in rng.permutation(len(texts))]
    table = pa.table({
        "doc_id": np.arange(docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(np.array(LANGS), size=docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    pq.write_table(table, path)
    return docs
