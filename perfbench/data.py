"""Seeded input generators for the benchmark workloads.

Every input the engine sees is built here from one integer seed with
numpy's PCG64, so the same seed gives byte-identical tables. Nothing is
read from outside the working directory.

- :func:`tpch_tables` — the TPC-H-shaped tables the SQL workload queries
  (same column names and types as the repo's test data).
- :func:`corpus` — documents plus 64-dim embeddings, with planted
  near-duplicate documents and planted near-neighbour vectors as ground
  truth for the curation and ANN checks.
- :func:`changelog` — one seeded CDC batch (upserts and deletes of
  existing keys) against a live key set.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

# Word list for synthetic documents: lower-case letters only, so the
# engine's tokenizer (split on [^a-z]+) keeps every word intact.
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch lake snapshot commit reflection index "
    "posting token shard cluster quantizer centroid delta schema manifest "
    "partition compaction ingest replay watermark trigger cache planner "
    "optimizer shuffle broadcast executor driver stage task metric latency "
    "tail throughput sample seed oracle verify ledger account invoice "
    "region nation supplier market segment priority status price discount"
).split()
LANGS = ["en", "de", "fr", "es", "zh"]
DIM = 64

_EPOCH_1992 = np.datetime64("1992-01-01T00:00:00", "us")
_DAY_US = 86_400_000_000


def rng(seed: int, stream: int) -> np.random.Generator:
    """Independent generator per (seed, purpose) pair."""
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _dates(r: np.random.Generator, n: int, lo_day: int, hi_day: int) -> np.ndarray:
    days = r.integers(lo_day, hi_day, n)
    return _EPOCH_1992 + days.astype("timedelta64[D]").astype("timedelta64[us]")


def tpch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """TPC-H-shaped tables at scale factor ``sf`` (lineitem ~6M x sf rows)."""
    r = rng(seed, 1)
    n_cust = max(30, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(40, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))

    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION{i:02d}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    customer = pa.table({
        "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segments[r.integers(0, 5, n_cust)],
    })
    supplier = pa.table({
        "s_suppkey": np.arange(1, n_supp + 1, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2),
    })
    o_dates = _dates(r, n_ord, 0, 2400)
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    lines_per = r.integers(1, 8, n_ord)
    n_li = int(lines_per.sum())
    li_order = np.repeat(np.arange(n_ord), lines_per)
    li_num = (np.arange(n_li) - np.repeat(np.cumsum(lines_per) - lines_per, lines_per) + 1)
    qty = r.integers(1, 51, n_li).astype(np.float64)
    price = np.round(qty * r.uniform(900.0, 2100.0, n_li), 2)
    disc = np.round(r.integers(0, 11, n_li) / 100.0, 2)
    tax = np.round(r.integers(0, 9, n_li) / 100.0, 2)
    ship = o_dates[li_order] + (r.integers(1, 122, n_li) * _DAY_US).astype("timedelta64[us]")
    cutoff = np.datetime64("1995-06-17T00:00:00", "us")
    rflag = np.where(ship <= cutoff, np.array(["R", "A"])[r.integers(0, 2, n_li)], "N")
    lstatus = np.where(ship > cutoff, "O", "F")
    o_status = np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)]
    totals = np.zeros(n_ord)
    np.add.at(totals, li_order, price * (1 + tax) * (1 - disc))
    orders = pa.table({
        "o_orderkey": np.arange(1, n_ord + 1, dtype=np.int64),
        "o_custkey": r.integers(1, n_cust + 1, n_ord).astype(np.int64),
        "o_orderstatus": o_status,
        "o_totalprice": np.round(totals, 2),
        "o_orderdate": o_dates,
        "o_orderpriority": prios[r.integers(0, 5, n_ord)],
    })
    lineitem = pa.table({
        "l_orderkey": (li_order + 1).astype(np.int64),
        "l_partkey": r.integers(1, n_part + 1, n_li).astype(np.int64),
        "l_suppkey": r.integers(1, n_supp + 1, n_li).astype(np.int64),
        "l_linenumber": pa.array(li_num.astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": disc,
        "l_tax": tax,
        "l_returnflag": rflag,
        "l_linestatus": lstatus,
        "l_shipdate": ship,
    })
    return {"nation": nation, "customer": customer, "supplier": supplier,
            "orders": orders, "lineitem": lineitem}


def _texts(r: np.random.Generator, n: int, lo: int = 12, hi: int = 60) -> list[str]:
    lens = r.integers(lo, hi, n)
    words = r.integers(0, len(VOCAB), int(lens.sum()))
    vocab = np.array(VOCAB)
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(vocab[words[pos:pos + ln]]))
        pos += ln
    return out


def unit_rows(v: np.ndarray) -> np.ndarray:
    """Rows scaled to unit L2 norm, as float32."""
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def corpus(seed: int, n_docs: int, n_dup: int, n_queries: int,
           n_neighbours: int = 10, n_exact: int = 0) -> dict:
    """Documents with embeddings and planted ground truth.

    - ``n_dup`` documents get a near-copy: the same text with its last word
      replaced (Jaccard of 3-shingles stays high), under a fresh id.
    - ``n_exact`` further documents get an exact copy (text and vector)
      under a fresh id, appended after the ``n_docs`` rows.
    - ``n_queries`` query vectors each get ``n_neighbours`` jittered copies
      in the corpus: those copies are the query's true top-k under L2.
    Base vectors are unit-norm Gaussian, so unrelated pairs sit far below
    any near-duplicate threshold.

    Returns ``docs`` (doc_id, text, lang, embedding), ``queries``
    (vec_id, embedding), ``dup_pairs`` and ``exact_pairs`` (sets of
    (lo_id, hi_id)) and ``neighbours`` (query id -> set of planted doc ids).
    """
    r = rng(seed, 2)
    n_base = n_docs - n_dup - n_queries * n_neighbours
    assert n_base > n_dup + n_exact, "corpus too small for the planted sets"
    ids = np.arange(n_docs, dtype=np.int64) * 7 + 1000  # non-dense ids
    texts = _texts(r, n_base)
    vecs = unit_rows(r.standard_normal((n_base, DIM)))

    dup_src = r.choice(n_base, n_dup, replace=False)
    dup_pairs = set()
    extra_text, extra_vec = [], []
    for j, s in enumerate(dup_src):
        words = texts[s].split(" ")
        words[-1] = VOCAB[(VOCAB.index(words[-1]) + 1) % len(VOCAB)]
        extra_text.append(" ".join(words))
        extra_vec.append(unit_rows(vecs[s:s + 1] + 0.002 * r.standard_normal((1, DIM)))[0])
        dup_pairs.add((int(ids[s]), int(ids[n_base + j])))

    q_vecs = unit_rows(r.standard_normal((n_queries, DIM)))
    neighbours: dict[int, set[int]] = {}
    base_n = n_base + n_dup
    for q in range(n_queries):
        jitter = 0.01 * r.standard_normal((n_neighbours, DIM))
        block = unit_rows(q_vecs[q] + jitter)
        lo = base_n + q * n_neighbours
        neighbours[q] = {int(i) for i in ids[lo:lo + n_neighbours]}
        extra_vec.extend(block)
        extra_text.extend(_texts(r, n_neighbours))

    all_vecs = np.vstack([vecs, np.asarray(extra_vec, dtype=np.float32)])
    docs = pa.table({
        "doc_id": ids,
        "text": texts + extra_text,
        "lang": np.array(LANGS)[r.integers(0, len(LANGS), n_docs)],
        "embedding": pa.array(list(all_vecs), type=pa.list_(pa.float32())),
    })
    # exact copies of base documents that have no near-copy
    src = np.setdiff1d(np.arange(n_base), dup_src)[:n_exact]
    copies = docs.take(pa.array(src)).set_column(
        0, "doc_id", pa.array(ids[-1] + 1 + np.arange(n_exact, dtype=np.int64)))
    exact_pairs = {(int(ids[s]), int(ids[-1]) + 1 + j) for j, s in enumerate(src)}
    queries = pa.table({
        "vec_id": np.arange(n_queries, dtype=np.int64),
        "embedding": pa.array(list(q_vecs), type=pa.list_(pa.float32())),
    })
    return {"docs": pa.concat_tables([docs, copies]), "queries": queries,
            "dup_pairs": dup_pairs, "exact_pairs": exact_pairs, "neighbours": neighbours}


def changelog(r: np.random.Generator, live: np.ndarray, n_rows: int,
              batch_no: int) -> dict:
    """One CDC batch over the ``live`` key set, in the mix of the engine's
    streaming index-upkeep probe: three upserts to one delete, all of
    existing keys, each key touched once. An upsert carries new text with
    a batch-unique term and a re-drawn unit vector.

    Returns the rows (``doc_id``, ``text``, ``embedding``,
    ``_change_type``) and what the table must look like afterwards.
    """
    n_del = n_rows // 4
    touched = r.choice(live, n_rows, replace=False)
    upd, dele = touched[n_del:], touched[:n_del]
    # a term no generated text contains: letters only, unique per batch
    term = "zq" + "".join(chr(ord("a") + int(c)) for c in f"{batch_no:04d}")
    texts = [t + " " + term for t in _texts(r, len(upd))]
    vecs = unit_rows(r.standard_normal((len(upd), DIM)))
    rows = (
        [{"doc_id": int(k), "text": t, "embedding": v.tolist(),
          "_change_type": "insert"} for k, t, v in zip(upd, texts, vecs)]
        + [{"doc_id": int(k), "text": None, "embedding": None,
            "_change_type": "delete"} for k in dele]
    )
    return {"rows": rows, "term": term, "upserted": dict(zip(upd.tolist(), texts)),
            "deleted": dele}
