"""Input tables for the benchmark: a TPC-H-like star schema plus `documents`,
with the schemas and value ranges of the repository's test data, generated
deterministically at a given scale.

The tables are fixed (drawn from DATA_SEED, not from the workload seed), so
every seed runs against the same data and the seed varies only the
operation stream. Beside `documents`, the text and PDF files of the
unstructured sources are written from it (`files`).
"""
import datetime
import hashlib
import os
import shutil
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORDS = ("a the batch part spark line column order small sort fast value scan hash "
         "slow group agg filter query big key window row table stream merge data "
         "customer join vector").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]

_EPOCH = datetime.datetime(1970, 1, 1)


def _ts(rng, n, start, days):
    base = int((start - _EPOCH).total_seconds()) * 1_000_000
    off = rng.integers(0, days, n).astype(np.int64) * 86_400_000_000
    return pa.array(base + off, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def tables(out, sf, names):
    """Write the named tables at scale `sf` (0.1 = 600k lineitem rows)."""
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_doc = int(1_500_000 * sf), int(6_000_000 * sf), int(50_000 * sf)
    gen = {}
    gen["region"] = lambda r: {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    gen["nation"] = lambda r: {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    gen["customer"] = lambda r: {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n_cust)]}
    gen["supplier"] = lambda r: {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp)}
    gen["orders"] = lambda r: {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": [["F", "O", "P"][i] for i in r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, 1000, 500000, n_ord),
        "o_orderdate": _ts(r, n_ord, datetime.datetime(1995, 1, 1), 2404),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, n_ord)]}
    gen["lineitem"] = lambda r: {
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(r.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, 900, 105000, n_line),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [["A", "N", "R"][i] for i in r.integers(0, 3, n_line)],
        "l_linestatus": [["F", "O"][i] for i in r.integers(0, 2, n_line)],
        "l_shipdate": _ts(r, n_line, datetime.datetime(1995, 1, 2), 2498)}

    def documents(r):
        lens = r.integers(8, 92, n_doc)
        words = r.integers(0, len(WORDS), int(lens.sum()))
        texts, at = [], 0
        for n in lens:
            texts.append(" ".join(WORDS[w] for w in words[at:at + n]))
            at += n
        return {"doc_id": pa.array(np.arange(n_doc, dtype=np.int64)), "text": texts,
                "lang": [LANGS[i] for i in r.choice(5, n_doc, p=LANG_P)],
                "source": [f"src{i % 20}" for i in range(n_doc)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64())}
    gen["documents"] = documents

    # every table draws from its own stream, so the set of tables written
    # does not change any table's content
    for i, name in enumerate(sorted(gen)):
        if name in names:
            r = np.random.default_rng([DATA_SEED, i])
            _write(os.path.join(out, f"{name}.parquet"), gen[name](r))


def files(out):
    """Fixtures of the unstructured sources, one file per document of
    out/documents.parquet: files/text/<doc_id>.txt holds the document's text,
    and files/pdf/<doc_id>.pdf a one-page PDF that shows the same text (the
    content stream of every even doc_id is FlateDecode-compressed).
    """
    docs = pq.read_table(os.path.join(out, "documents.parquet"), columns=["doc_id", "text"])
    os.makedirs(os.path.join(out, "files", "text"))
    os.makedirs(os.path.join(out, "files", "pdf"))
    for doc_id, text in zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()):
        with open(os.path.join(out, "files", "text", f"{doc_id:05d}.txt"), "wb") as fh:
            fh.write(text.encode("utf-8"))
        # the text is lower-case words and spaces: a PDF string needs no escapes
        stream, filt = f"BT ({text}) Tj ET".encode("latin-1"), b""
        if doc_id % 2 == 0:
            stream, filt = zlib.compress(stream), b" /Filter /FlateDecode"
        with open(os.path.join(out, "files", "pdf", f"{doc_id:05d}.pdf"), "wb") as fh:
            fh.write(b"%%PDF-1.4\n4 0 obj << /Length %d%s >>\nstream\n" % (len(stream), filt) +
                     stream + b"\nendstream\nendobj\ntrailer << /Root 1 0 R >>\n%%%%EOF\n")


def ensure(root, sf, names):
    """The data directory for (sf, names), written once and then reused:
    the tables are read-only inputs, so reuse does not change a run's state.
    """
    with open(__file__, "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:8]
    key = f"sf{sf}-{version}-" + "-".join(sorted(names))
    d = os.path.join(root, key)
    if not os.path.exists(os.path.join(d, ".complete")):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        tables(tmp, sf, names)
        if "documents" in names:
            files(tmp)
        open(os.path.join(tmp, ".complete"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return d
