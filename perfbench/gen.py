"""Seeded input generators.

Every input the program sees is written here, as parquet, from one
``numpy.random.Generator``: the same seed gives byte-identical files. The
generators also return the few facts the checks need (shares, planted
duplicates, pixel sums), so no check has to ask the program under test.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_DAY_US = 86_400 * 1_000_000
_EPOCH_1992 = np.datetime64("1992-01-01", "us").astype(np.int64)
# 1992-01-01 .. 1998-08-02 (TPC-H's order-date range): 80 calendar months
ORDER_DAYS = 2405
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def write(out_dir: str, name: str, table: pa.Table) -> str:
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(table, path)
    return path


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def tpch(out_dir: str, rng: np.random.Generator, sf: float) -> dict[str, int]:
    """TPC-H-shaped star schema; returns row counts."""
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))

    write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    write(out_dir, "customer", pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}))
    write(out_dir, "supplier", pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}))
    write(out_dir, "part", pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.array(["cold widget", "small widget", "blue gear",
                            "red bolt", "big crate"])[
            rng.integers(0, 5, n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(11, 56, n_part)],
        "p_type": np.array(["ECONOMY", "STANDARD", "PROMO", "LARGE"])[
            rng.integers(0, 4, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + rng.uniform(0, 1100, n_part), 2)}))

    orders = orders_table(rng, np.arange(n_ord), n_cust)
    write(out_dir, "orders", orders)
    odate = orders.column("o_orderdate").to_numpy().astype(np.int64)
    lines = rng.integers(1, 8, n_ord)

    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lnum = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    write(out_dir, "lineitem", pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": lnum.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(np.repeat(odate, lines)
                          + rng.integers(1, 122, n_li) * _DAY_US)}))

    return {"customer": n_cust, "supplier": n_supp, "part": n_part,
            "orders": n_ord, "lineitem": n_li}


def orders_table(rng: np.random.Generator, keys: np.ndarray, n_cust: int,
                 day_lo: int = 0, day_hi: int = ORDER_DAYS) -> pa.Table:
    n = len(keys)
    return pa.table({
        "o_orderkey": keys.astype(np.int64),
        "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(850, 500_000, n), 2),
        "o_orderdate": _ts(_EPOCH_1992
                           + rng.integers(day_lo, day_hi, n) * _DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)]})


@dataclass
class DeltaShares:
    insert: float
    update: float
    delete: float


def delta_shares(rng: np.random.Generator) -> DeltaShares:
    """Seeded mix of one run's change batches (the same for every batch)."""
    ins = float(rng.uniform(0.35, 0.45))
    dele = float(rng.uniform(0.08, 0.12))
    return DeltaShares(insert=ins, update=1.0 - ins - dele, delete=dele)


def orders_delta(rng: np.random.Generator, live: np.ndarray, next_key: int,
                 n: int, shares: DeltaShares, batch_no: int,
                 n_cust: int) -> pa.Table:
    """Change batch ``batch_no`` over ``orders``: ``op`` is I (new key), U
    (existing key, new values) or D (existing key); ``seq`` orders the
    changes across batches. Keys are distinct within a batch."""
    n_ins = int(round(n * shares.insert))
    n_del = int(round(n * shares.delete))
    n_upd = n - n_ins - n_del
    old = rng.choice(live, n_upd + n_del, replace=False)
    keys = np.concatenate([np.arange(next_key, next_key + n_ins), old])
    tbl = orders_table(rng, keys, n_cust, ORDER_DAYS - 90, ORDER_DAYS)
    tbl = tbl.append_column("op", pa.array(
        ["I"] * n_ins + ["U"] * n_upd + ["D"] * n_del))
    return tbl.append_column(
        "seq", pa.array(np.arange(n) + batch_no * n, pa.int64()))


# --------------------------------------------------------------------------
# corpus
# --------------------------------------------------------------------------

_STOPWORDS = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "for", "with", "was"),
    "de": ("der", "die", "und", "das", "ist", "von", "mit", "den", "nicht"),
}
# one document in five is German, so the language filter has work to do
_GERMAN_SHARE = 0.2


def _vocabulary(rng: np.random.Generator, n: int) -> np.ndarray:
    """Pseudo-words of 4-9 letters: rich enough that unrelated documents
    share few shingles, so near-duplicate work comes from the planted
    copies."""
    letters = np.array(list("abcdefghijklmnoprstuvwy"))
    lens = rng.integers(4, 10, n)
    return np.array(["".join(letters[rng.integers(0, len(letters), k)])
                     for k in lens])


@dataclass
class Corpus:
    exact_dups: list[tuple[int, int]]   # (original, copy) doc ids
    near_dups: list[tuple[int, int]]    # (original, edited copy) doc ids
    dup_share: float


def corpus(out_dir: str, rng: np.random.Generator, n_docs: int,
           n_vecs: int, dim: int = 64) -> Corpus:
    """``documents`` with a seeded share of planted exact and near
    duplicates, plus clustered ``embeddings``."""
    dup_share = float(rng.uniform(0.08, 0.12))
    n_dup = int(n_docs * dup_share)
    n_base = n_docs - n_dup
    vocab = _vocabulary(rng, 3000)
    texts: list[str] = []
    for _ in range(n_base):
        n = int(rng.integers(12, 120))
        stop = np.array(_STOPWORDS[
            "de" if rng.random() < _GERMAN_SHARE else "en"])
        words = np.where(rng.random(n) < 0.3,
                         stop[rng.integers(0, len(stop), n)],
                         vocab[rng.integers(0, len(vocab), n)])
        texts.append(" ".join(words) + ".")
    exact, near = [], []
    for j in range(n_dup):
        src = int(rng.integers(0, n_base))
        words = texts[src].split(" ")
        if j % 3 == 0:
            exact.append((src, n_base + j))
            texts.append(texts[src])
            continue
        k = int(rng.integers(0, len(words)))
        words[k] = str(vocab[rng.integers(0, len(vocab))])
        near.append((src, n_base + j))
        texts.append(" ".join(words))
    ids = rng.permutation(n_docs)   # text i gets doc_id ids[i]: copies
    order = np.argsort(ids)         # interleave with their originals
    write(out_dir, "documents", pa.table({
        "doc_id": ids[order].astype(np.int64),
        "text": [texts[i] for i in order]}))

    n_clusters = 16
    centers = rng.normal(0, 1, (n_clusters, dim))
    lab = rng.integers(0, n_clusters, n_vecs)
    vecs = (centers[lab] + rng.normal(0, 0.35, (n_vecs, dim))) \
        .astype(np.float32)
    write(out_dir, "embeddings", pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": lab.astype(np.int32)}))
    pair = lambda a, b: (int(ids[a]), int(ids[b]))  # noqa: E731
    return Corpus([pair(a, b) for a, b in exact],
                  [pair(a, b) for a, b in near], dup_share)


def _ppm(px: np.ndarray) -> bytes:
    h, w = px.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + px.tobytes()


def _bmp(px: np.ndarray) -> bytes:
    h, w = px.shape[:2]
    row = (w * 3 + 3) // 4 * 4
    size = 54 + row * h
    head = (b"BM" + size.to_bytes(4, "little") + b"\0" * 4
            + (54).to_bytes(4, "little") + (40).to_bytes(4, "little")
            + w.to_bytes(4, "little") + h.to_bytes(4, "little")
            + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
            + b"\0" * 24)
    body = b"".join(px[y, :, ::-1].tobytes() + b"\0" * (row - w * 3)
                    for y in range(h - 1, -1, -1))
    return head + body


def media(out_dir: str, rng: np.random.Generator, n: int
          ) -> dict[int, tuple[int, int, int]]:
    """Random RGB images encoded as binary PPM or 24-bit BMP; returns the
    expected (width, height, pixel_sum) per media_id."""
    expect, content = {}, []
    for i in range(n):
        w, h = (int(v) for v in rng.integers(8, 48, 2))
        px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        content.append(_ppm(px) if i % 2 == 0 else _bmp(px))
        expect[i] = (w, h, int(px.astype(np.int64).sum()))
    write(out_dir, "media", pa.table({
        "media_id": np.arange(n, dtype=np.int64),
        "content": pa.array(content, pa.binary())}))
    return expect
