"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` and writes its files
under a directory the caller owns; the same seed writes the same bytes.
Shapes and value domains follow the package's table schemas
(``simple_etl_pipeline_spark.schemas.TABLE_SCHEMAS``): one parquet file
per table, one row group, naive microsecond timestamps.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "blue", "hot", "cold", "green", "big", "old"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "pipe", "valve"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window index"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.5, 0.125, 0.125, 0.125, 0.125]

def _us(values) -> pa.Array:
    return pa.array(np.asarray(values, dtype="datetime64[us]"), pa.timestamp("us"))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


# --- star schema + events/documents/embeddings ----------------------------
def write_star(
    rng: np.random.Generator,
    out_dir: str,
    scale: float,
    n_docs: int | None = None,
    n_vecs: int | None = None,
) -> dict:
    """TPC-H-shaped tables at ``scale`` (1.0 = 6M lineitem rows), plus
    events, documents and embeddings (sized by ``scale`` unless
    ``n_docs`` / ``n_vecs`` are given).

    Returns the row count of every table written.
    """
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * scale), 50)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 50)
    n_ord = max(int(1_500_000 * scale), 100)
    rows: dict[str, int] = {}

    def emit(name: str, cols: dict) -> None:
        t = pa.table(cols)
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows

    emit(
        "region",
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": REGIONS,
        },
    )
    emit(
        "nation",
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        },
    )
    emit(
        "customer",
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        },
    )
    emit(
        "supplier",
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
    )
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    emit(
        "part",
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": np.char.add("Brand#", (rng.integers(1, 26, n_part)).astype(str)),
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        },
    )
    day0 = np.datetime64("1995-01-01", "D")
    n_days = int((np.datetime64("2001-08-01", "D") - day0).astype(int))
    o_day = day0 + rng.integers(0, n_days + 1, n_ord)
    emit(
        "orders",
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _us(o_day),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        },
    )
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_num = (np.arange(n_li) - starts + 1).astype(np.int32)
    ship = o_day[l_order] + rng.integers(1, 122, n_li)
    emit(
        "lineitem",
        {
            "l_orderkey": l_order,
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": pa.array(l_num, pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 100_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _us(ship),
        },
    )
    ev = events_frame(rng, max(int(1_000_000 * scale), 100), max(int(15_000 * scale), 20))
    emit("events", ev)
    emit("documents", documents_frame(rng, n_docs or max(int(50_000 * scale), 50)))
    emit("embeddings", embeddings_frame(rng, n_vecs or max(int(20_000 * scale), 50)))
    return rows


def events_frame(rng: np.random.Generator, n: int, n_users: int) -> dict:
    """n events over 30 days from 2024-01-01, event_id in time order."""
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = start + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _us(ts),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.maximum(np.round(rng.exponential(20.0, n), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def documents_frame(rng: np.random.Generator, n: int) -> dict:
    """Bag-of-words documents over a 31-word vocabulary; about 4% are
    near-copies (1-3 words replaced) and 1% exact copies of an earlier
    document, so dedup and similarity joins have work to find."""
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.01:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and r < 0.05:
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(words))
            continue
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 90)))]))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": np.char.add("src", rng.integers(0, 20, n).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def embeddings_frame(rng: np.random.Generator, n: int, dim: int = 64) -> dict:
    """Ten gaussian clusters in ``dim`` dimensions; 2% of rows are
    near-copies of an earlier vector (semantic-dedup candidates)."""
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 0.15, (10, dim))
    vecs = centers[labels] + rng.normal(0.0, 0.1, (n, dim))
    dup = np.flatnonzero(rng.random(n) < 0.02)
    dup = dup[dup > 0]
    src = (rng.random(len(dup)) * dup).astype(int)
    vecs[dup] = vecs[src] + rng.normal(0.0, 0.001, (len(dup), dim))
    labels[dup] = labels[src]
    vecs = vecs.astype(np.float32)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }


# --- event stream (analytics) ----------------------------------------------------
def write_event_stream(
    rng: np.random.Generator,
    out_dir: str,
    n_events: int,
    n_files: int,
    n_users: int,
    late_share: float = 0.05,
    dup_share: float = 0.02,
) -> dict:
    """Time-ordered part files under ``out_dir/events.parquet/``.

    File k holds the k-th slice of the timeline. ``late_share`` of the
    events are moved into a later file than their time slot (one to
    three files later), and ``dup_share`` re-appear as exact copies in
    a later file, so watermarks and dedup state have work to do.
    Part-file mtimes increase with k: the file source replays them in
    that order.
    """
    ev = events_frame(rng, n_events, n_users)
    slot = np.arange(n_events) * n_files // n_events
    file_of = slot.copy()
    late = rng.random(n_events) < late_share
    file_of[late] = np.minimum(slot[late] + rng.integers(1, 4, late.sum()), n_files - 1)
    dups = np.flatnonzero(rng.random(n_events) < dup_share)
    dup_file = np.minimum(file_of[dups] + rng.integers(0, 3, len(dups)), n_files - 1)
    idx = np.concatenate([np.arange(n_events), dups])
    fidx = np.concatenate([file_of, dup_file])
    table = pa.table(ev).take(pa.array(idx))
    table_dir = os.path.join(out_dir, "events.parquet")
    os.makedirs(table_dir, exist_ok=True)
    base = 1_700_000_000
    for k in range(n_files):
        part = table.filter(pa.array(fidx == k))
        path = os.path.join(table_dir, f"part-{k:05d}.parquet")
        _write(part, path)
        os.utime(path, (base + k, base + k))
    return {
        "events": int(len(idx)),
        "files": n_files,
        "users": n_users,
        "late": int(((file_of > slot)).sum()),
        "duplicates": int(len(dups)),
    }


# --- product pages (etl_pages) ---------------------------------------------------
_TITLE_WORDS = ["T-shirt", "Hoodie", "Jacket", "Pants", "Shirt", "Sweater", "Outerwear"]
SIZES = ["S", "M", "L", "XL", "XXL"]
GENDERS = ["Men", "Women", "Unisex"]


def _card(rng: np.random.Generator, serial: int, ts: str) -> tuple[str, tuple | None]:
    """One product card and the clean row it must produce (None if the
    card is dirty and the transform drops it)."""
    keep = True
    r = rng.random()
    if r < 0.04:
        title = "Unknown Product"
        keep = False
    else:
        title = f"{_TITLE_WORDS[serial % len(_TITLE_WORDS)]} {serial}"
    p = rng.random()
    if p < 0.04:
        price_html = '<p class="price">Price Unavailable</p>'
        keep = False
        usd = None
    else:
        usd = round(float(rng.uniform(50.0, 550.0)), 2)
        price_html = f'<div class="price-container"><span class="price">${usd:,.2f}</span></div>'
    q = rng.random()
    if q < 0.03:
        rating_text, rating = "Rating: Invalid Rating / 5", None
        keep = False
    elif q < 0.05:
        rating_text, rating = "Rating: Not Rated", None
        keep = False
    else:
        rating = round(float(rng.uniform(1.0, 5.0)), 1)
        rating_text = f"Rating: ⭐ {rating} / 5"
    colors = int(rng.integers(1, 9))
    size = SIZES[int(rng.integers(0, len(SIZES)))]
    gender = GENDERS[int(rng.integers(0, len(GENDERS)))]
    html = (
        '<div class="collection-card"><div class="product-details">'
        f'<h3 class="product-title">{title}</h3>{price_html}'
        f'<p style="font-size: 14px; color: #777;">{rating_text}</p>'
        f'<p style="font-size: 14px; color: #777;">{colors} Colors</p>'
        f'<p style="font-size: 14px; color: #777;">Size: {size}</p>'
        f'<p style="font-size: 14px; color: #777;">Gender: {gender}</p>'
        "</div></div>"
    )
    row = (title, usd * 16000.0, rating, colors, size, gender, ts) if keep else None
    return html, row


def write_pages(
    rng: np.random.Generator, out_dir: str, n_pages: int, cards_per_page: int, ts: str
) -> tuple[int, list[tuple]]:
    """Write ``n_pages`` HTML pages; returns (cards written, expected
    clean rows). About 14% of the cards carry a dirty sentinel."""
    os.makedirs(out_dir, exist_ok=True)
    expected: list[tuple] = []
    serial = 0
    for page in range(n_pages):
        cards = []
        for _ in range(cards_per_page):
            html, row = _card(rng, serial, ts)
            serial += 1
            cards.append(html)
            if row is not None:
                expected.append(row)
        doc = (
            "<html><head><title>Fashion Studio</title></head><body>"
            '<div class="collection-grid" id="collectionList">'
            + "".join(cards)
            + "</div></body></html>"
        )
        with open(os.path.join(out_dir, f"page{page:05d}.html"), "w", encoding="utf-8") as f:
            f.write(doc)
    return serial, expected


def run_timestamp(seed: int) -> str:
    return (dt.datetime(2025, 5, 17) + dt.timedelta(seconds=seed)).isoformat()
