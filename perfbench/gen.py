"""Seeded input generators, one per workload.

Every generator is a pure function of its seed (and a shard number):
the same seed writes byte-identical files, a different seed different
ones. The engine only ever sees the files these functions write. Each
generator returns a small dict describing what it planted (sizes and
shares), which the benchmark reports next to the metrics.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# shared helpers
# ---------------------------------------------------------------------------


def rng_for(seed: int, *stream: object) -> random.Random:
    """An independent ``random.Random`` per (seed, stream) pair."""
    key = ":".join(str(s) for s in (seed, *stream)).encode()
    return random.Random(int.from_bytes(hashlib.sha256(key).digest()[:8], "big"))


def np_rng_for(seed: int, *stream: object) -> np.random.Generator:
    key = ":".join(str(s) for s in (seed, *stream)).encode()
    return np.random.default_rng(int.from_bytes(hashlib.sha256(key).digest()[:8], "big"))


def write_table(df: pd.DataFrame, path: str, n_files: int = 1) -> int:
    """Write ``df`` as ``n_files`` parquet files under directory ``path``
    (``part-00000.parquet`` ...); returns the bytes written."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(df, preserve_index=False).replace_schema_metadata(None)
    step = max(1, math.ceil(len(df) / n_files))
    written = 0
    for i in range(n_files):
        part = table.slice(i * step, step)
        out = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(part, out, compression="snappy")
        written += os.path.getsize(out)
    return written


def dir_digest(path: str) -> str:
    """sha256 over every file under ``path`` (relative name + bytes)."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            full = os.path.join(root, name)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


# ---------------------------------------------------------------------------
# messy_ingest: multi-format documents from the 17 fixture templates
# ---------------------------------------------------------------------------

_WORDS = (
    "widget gadget device home compact colour price sale stock order review "
    "customer shipping battery cable warranty support edition premium model "
    "serial version market region seller listing update page detail feature"
).split()
_NAMES = ["Alice", "Bob", "Charlie", "Dave", "Eve", "Mallory", "Sarah", "Michael", "Emma", "James"]
_COLOURS = ["black", "white", "red", "blue", "silver", "green"]


def _prose(r: random.Random, n_words: int, ocr: bool) -> str:
    words = [r.choice(_WORDS) for _ in range(n_words)]
    text = " ".join(words).capitalize() + "."
    if ocr:
        # OCR noise: O/0 and l/1 confusion on a seeded share of letters
        text = "".join(
            {"o": "0", "l": "1", "O": "0"}.get(c, c) if r.random() < 0.08 else c for c in text
        )
    return text


def _price(r: random.Random) -> str:
    return f"{r.randint(1, 499)}.{r.randint(0, 99):02d}"


def _date(r: random.Random) -> tuple[int, int, int]:
    return r.randint(2019, 2026), r.randint(1, 12), r.randint(1, 28)


def _t_kv_header(r, i):  # 1
    return (
        f"source: https://example.com/product/item-{i}\nscraper: simple-scraper-v{r.randint(1, 9)}\n"
        f"lang: en\npublisher: {r.choice(_NAMES)} Corp\ncontact: support{i}@example.com"
    )


def _t_prose(r, i):  # 2
    y, m, d = _date(r)
    p = _price(r)
    return (
        f"{_prose(r, r.randint(20, 60), ocr=True)} The price appears as \"{p} USD\", "
        f"\"${p}\" or \"{p.replace('.', ',')}\". Dates: {m:02d}/{d:02d}/{y} and {d:02d}/{m:02d}/{y}."
    )


def _t_json(r, i):  # 3
    y, m, d = _date(r)
    return json.dumps(
        {
            "id": f"prod-{i}",
            "title": f"Widget {i}",
            "slug": f"widget-{i}",
            "pricing": {"price_usd": _price(r), "inventory": r.randint(0, 500), "currency_hint": "USD"},
            "tags": r.sample(_WORDS, 3),
            "dimensions": {"w_mm": r.randint(10, 300), "h_mm": r.randint(10, 300), "d_mm": r.randint(5, 90)},
            "release_date": f"{y}-{m:02d}-{d:02d}",
        },
        indent=2,
    )


def _t_malformed_json(r, i):  # 4
    return (
        f'{{ "id": "prod-{i}-b", "title": "Widget {i}B", "specs": {{ "color": "{r.choice(_COLOURS)}", '
        f'"weight": "{r.randint(1, 9)}.{r.randint(0, 9)}kg", }}  "notes": "missing comma and trailing comma" '
    )


def _t_html_table(r, i):  # 5
    rows = []
    for _ in range(r.randint(2, 5)):
        y, m, d = _date(r)
        date = r.choice([f"{y}-{m:02d}-{d:02d}", f"{d:02d}/{m:02d}/{y}", f"Oct {d}, {y}"])
        rows.append(
            f"      <tr><td>{r.choice(_NAMES)}</td><td>{r.randint(1, 5)}</td>"
            f"<td>{_prose(r, 5, ocr=False)}</td><td>{date}</td></tr>"
        )
    return (
        '<div class="reviews">\n  <h3>Customer Reviews</h3>\n  <table>\n'
        "    <thead><tr><th>author</th><th>rating</th><th>comment</th><th>date</th></tr></thead>\n"
        "    <tbody>\n" + "\n".join(rows) + "\n    </tbody>\n  </table>\n</div>"
    )


def _t_csv(r, i):  # 6
    lines = ["author,rating,helpful_votes,date"]
    for _ in range(r.randint(2, 6)):
        y, m, d = _date(r)
        date = r.choice([f"{y}-{m:02d}-{d:02d}", f"{d:02d}-{m:02d}-{y}", f"{y}/{m:02d}/{d:02d}"])
        lines.append(f"{r.choice(_NAMES)},{r.randint(1, 5)},{r.randint(0, 40)},{date}")
    return "\n".join(lines)


def _t_kv_semicolon(r, i):  # 7
    return (
        f"title: Widget {i} - Special Edition\nprice: ${_price(r)}\ncurrency: USD\n"
        f"availability: In Stock\ntags: {';'.join(r.sample(_WORDS, 3))}"
    )


def _t_json_ld(r, i):  # 8
    body = json.dumps(
        {
            "@context": "http://schema.org/",
            "@type": "Product",
            "name": f"Widget {i}",
            "image": [f"https://example.com/images/widget-{i}-{k}.jpg" for k in (1, 2)],
            "description": _prose(r, 8, ocr=False),
            "sku": f"WA-{i}",
            "offers": {
                "@type": "Offer",
                "priceCurrency": "USD",
                "price": _price(r),
                "availability": "http://schema.org/InStock",
                "url": f"https://example.com/product/widget-{i}",
            },
        },
        indent=2,
    )
    return f'<script type="application/ld+json">\n{body}\n</script>'


def _t_csv_repeated(r, i):  # 9
    lines = ["ProductID,Name,Color,Stock"]
    for _ in range(r.randint(2, 5)):
        pid = f"prod-{i + r.randint(0, 2)}"
        lines.append(f"{pid},Widget {i},{r.choice(_COLOURS)},{r.randint(0, 200)}")
    return "\n".join(lines)


def _t_js_footer(r, i):  # 10
    return (
        "<!-- Some scraped page contains inline scripts and comments -->\n"
        f"<script>var config = {{id: 'prod-{i}', price: '{_price(r)}', promo: true}};</script>\n"
        f"Random footer text - Contact us at (555) {r.randint(100, 999)}-{r.randint(1000, 9999)}. "
        f"Promo code: SAVE{r.randint(5, 50)}.\n"
        'Note: DO NOT RUN SQL: "DROP TABLE users;" included as sample text.'
    )


def _t_ocr_block(r, i):  # 11
    n = r.randint(2, 40)
    return (
        f"Page {r.randint(1, n)} of {n}\nDocument title: Product catalog - Example Corp\n"
        f"l0cation: Warehouse {r.randint(1, 20)}\nTotal items: one hundred and twenty (120)"
    )


def _t_sql(r, i):  # 12
    return f"SELECT id, title, price FROM products WHERE price < {r.randint(5, 100)};"


def _t_ambiguous_kv(r, i):  # 13
    p = _price(r)
    return (
        f'price_usd: {p}\nprice: "${p}"\nlegacy_price: "{p}00"\ncurrency_hint: USD\n\n'
        f'views: "{r.randint(10, 9999)}"\nviews: "N/A"\nsold: "{r.randint(0, 99)}"\n'
        f'rating_avg: "{r.randint(1, 4)}.{r.randint(0, 9)}"\nis_featured: "true"\nis_limited: 0'
    )


def _t_yaml(r, i):  # 14
    y, m, d = _date(r)
    return (
        "---\nmetadata:\n"
        f"  source_url: https://example-marketplace.com/products/item-{i}\n"
        f"  scraper_version: {r.randint(1, 3)}.{r.randint(0, 9)}.{r.randint(0, 9)}\n"
        f"  extraction_timestamp: {y}-{m:02d}-{d:02d}T14:30:22+05:30\n"
        "  page_language: en\n---"
    )


def _t_html_no_thead(r, i):  # 15
    specs = [("Battery Life", f"{r.randint(5, 40)} hours"), ("Weight", f"{r.randint(100, 900)}g"),
             ("Bluetooth Version", f"5.{r.randint(0, 3)}"), ("Charging Time", f"{r.randint(1, 4)} hours")]
    rows = "\n".join(f"<tr><td>{k}</td><td>{v}</td></tr>" for k, v in specs[: r.randint(2, 4)])
    return f'<table class="specs">\n<tr><th>Specification</th><th>Value</th></tr>\n{rows}\n</table>'


def _t_metrics_kv(r, i):  # 16
    return (
        f"views: {r.randint(100, 9999)}\nlikes: {r.randint(0, 999)}\nshares: {r.randint(0, 99)}\n"
        f"cart_additions: {r.randint(0, 99)}\npurchases: {r.randint(0, 99)}\n"
        f"return_rate: {r.randint(0, 9)}.{r.randint(0, 9)}%"
    )


def _t_oneline_json(r, i):  # 17
    return json.dumps(
        {
            "pricing": {"base_price": float(_price(r)), "currency": "USD",
                        "discount_available": r.random() < 0.5, "discount_percentage": r.randint(0, 40)},
            "inventory": {"stock_count": r.randint(0, 500), "warehouse_location": f"WH-{r.randint(1, 9):02d}",
                          "reserved": r.randint(0, 50)},
        }
    )


TEMPLATES = (
    _t_kv_header, _t_prose, _t_json, _t_malformed_json, _t_html_table, _t_csv,
    _t_kv_semicolon, _t_json_ld, _t_csv_repeated, _t_js_footer, _t_ocr_block, _t_sql,
    _t_ambiguous_kv, _t_yaml, _t_html_no_thead, _t_metrics_kv, _t_oneline_json,
)
MALFORMED = frozenset({3})  # template indices that plant malformed JSON


def messy_document(r: random.Random, doc_id: int, target_bytes: int) -> tuple[str, int]:
    """One document of about ``target_bytes``: fragments drawn from the
    17 templates in seeded order, separated by blank lines and, now and
    then, ``--- HEADER`` section dividers. Returns (text, malformed count)."""
    parts: list[str] = []
    size = 0
    malformed = 0
    while size < target_bytes:
        k = r.randrange(len(TEMPLATES))
        frag = TEMPLATES[k](r, doc_id * 100 + len(parts))
        malformed += k in MALFORMED
        if parts and r.random() < 0.1:
            parts.append(f"--- {r.choice(_WORDS).upper()}")
        parts.append(frag)
        size += len(frag) + 2
    return "\n\n".join(parts) + "\n", malformed


def messy_ingest_shard(seed: int, shard: int, out_dir: str, target_mb: float, n_files: int) -> dict:
    """About ``target_mb`` of documents as ``out_dir/documents.parquet``
    files (doc_id, text). Sizes are log-uniform on [1, 64] KB, taken on
    an even quantile grid so every job holds the same size mix, and the
    documents are dealt to the files by size rank so each file holds that
    mix too; the seed decides content and order."""
    r = rng_for(seed, "messy", shard)
    mean_kb = 63 / math.log(64)  # of the log-uniform distribution on [1, 64]
    n_docs = n_files * round(target_mb * 1e6 / (mean_kb * 1024 * n_files))
    sizes = [int(1024 * 64 ** ((i + 0.5) / n_docs)) for i in range(n_docs)]
    files: list[list[int]] = [[] for _ in range(n_files)]
    for i, size in enumerate(sizes):  # snake order: no file always gets the larger
        pos = i % n_files
        files[pos if (i // n_files) % 2 == 0 else n_files - 1 - pos].append(size)
    for part in files:
        r.shuffle(part)
    ids, texts = [], []
    malformed = 0
    for part in files:
        for target in part:
            doc_id = shard * 100_000 + len(ids)
            text, bad = messy_document(r, doc_id, target)
            ids.append(doc_id)
            texts.append(text)
            malformed += bad
    df = pd.DataFrame({"doc_id": pd.array(ids, dtype="int64"), "text": texts})
    write_table(df, os.path.join(out_dir, "documents.parquet"), n_files)
    n_bytes = sum(len(t.encode()) for t in texts)
    return {"docs": n_docs, "input_mb": n_bytes / 1e6, "malformed_json_fragments": malformed}


# ---------------------------------------------------------------------------
# crawl_curation: prose corpus with planted duplicates and junk
# ---------------------------------------------------------------------------

_EN_STOP = ["the", "a", "of", "and", "to", "is", "in"]
_DE_STOP = ["der", "die", "das", "und", "ist", "ein", "nicht"]
_CONTENT = (
    "data table query stream batch window join scan filter order value column row key "
    "merge sort group spark engine index vector corpus token model cluster record schema "
    "pipeline storage partition shuffle memory worker driver result report summary metric"
).split()

#: planted shares per shard; the rest is clean English prose
CRAWL_SHARES = {
    "exact_dup": 0.08, "near_dup": 0.08, "non_english": 0.08, "low_quality": 0.06, "disfluent": 0.06,
}
#: a ``source`` value whose URI maps into the funnel's blocked-domain list
#: for doc_id % 4 == 0 (``src4.net``); the oracle derives the same URI
BLOCKED_SOURCE = "src4"
BLOCKED_SHARE = 0.03


#: Zipf-like word weights, so the prose has the skewed unigram and
#: bigram statistics the funnel's LM gate expects of fluent text
_EN_WORDS = _EN_STOP + _CONTENT
_EN_WEIGHTS = [1.0 / (rank + 1) for rank in range(len(_EN_WORDS))]


def _en_prose(r: random.Random, n: int) -> str:
    return " ".join(r.choices(_EN_WORDS, weights=_EN_WEIGHTS, k=n))


def crawl_shard(seed: int, shard: int, out_dir: str, n_docs: int) -> dict:
    """``n_docs`` documents of the ``documents`` schema as
    ``out_dir/documents.parquet``. Exact shares of exact and near
    duplicates, German, too-short and disfluent documents (so every shard
    carries the same mix) sit at seeded positions; so do the
    blocked-domain sources."""
    r = rng_for(seed, "crawl", shard)
    base = shard * 1_000_000
    kinds = [k for k, share in CRAWL_SHARES.items() for _ in range(round(share * n_docs))]
    kinds += ["clean"] * (n_docs - len(kinds))
    r.shuffle(kinds)
    kinds.insert(0, kinds.pop(kinds.index("clean")))  # duplicates need an earlier source
    blocked = set(r.sample(range(0, n_docs, 4), round(BLOCKED_SHARE * n_docs)))
    rows = []
    prior: list[str] = []  # English texts so far, the duplicate sources
    for j, kind in enumerate(kinds):
        doc_id = base + j
        lang = "en"
        if kind == "exact_dup":
            text = r.choice(prior)
        elif kind == "near_dup":
            words = r.choice(prior).split()
            for _ in range(max(1, len(words) // 25)):
                words[r.randrange(len(words))] = r.choice(_CONTENT)
            text = " ".join(words)
        elif kind == "non_english":
            words = [r.choice(_DE_STOP) if r.random() < 0.35 else r.choice(_CONTENT) for _ in range(r.randint(60, 140))]
            text, lang = " ".join(words), "de"
        elif kind == "low_quality":
            # too short for the Gopher word-count rule, but long enough
            # for the detector to keep it as one raw-text fragment
            text = _en_prose(r, r.randint(12, 40))
        elif kind == "disfluent":
            # passes Gopher and language ID, fails the LM gate: uniform
            # word salad with a sprinkling of stopwords
            text = " ".join(r.choice(_CONTENT) if r.random() < 0.9 else r.choice(_EN_STOP) for _ in range(r.randint(60, 140)))
        else:
            text = _en_prose(r, r.randint(60, 160))
        # doc_id % 4 == 0 with this source maps to a blocked domain
        source = BLOCKED_SOURCE if j in blocked else f"src{r.choice([0, 1, 2, 3, 5, 8, 10, 11])}"
        rows.append((doc_id, text, lang, source))
        if lang == "en":
            prior.append(text)
    df = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
    df["doc_id"] = df["doc_id"].astype("int64")
    df["n_chars"] = df["text"].str.len().astype("int64")
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(df, preserve_index=False).replace_schema_metadata(None),
        os.path.join(out_dir, "documents.parquet"),
        compression="snappy",
    )
    n_bytes = int(df["text"].str.encode("utf-8").str.len().sum())
    shares = {k: kinds.count(k) / n_docs for k in CRAWL_SHARES}
    shares["blocked_source"] = len(blocked) / n_docs
    return {"docs": n_docs, "input_mb": n_bytes / 1e6, "planted_shares": shares}


# ---------------------------------------------------------------------------
# star_analytics: TPC-H-shaped tables with the testdata schemas (FIXTURES.md §4)
# ---------------------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PNAMES = ["small ring", "red widget", "blue bolt", "steel bolt", "green gear", "brass nut"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]


def _money(g: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(g.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _ts(g: np.random.Generator, start: str, days: int, n: int, micros: bool) -> pd.Series:
    base = np.datetime64(start, "us")
    if micros:
        off = g.integers(0, days * 86_400_000_000, n).astype("timedelta64[us]")
    else:
        off = (g.integers(0, days, n) * 86_400_000_000).astype("timedelta64[us]")
    return pd.Series(base + off)


def star_shard(seed: int, shard: int, out_dir: str, n_lineitem: int) -> dict:
    """The eight star tables at ``n_lineitem`` fact rows as
    ``out_dir/<table>.parquet``, schemas equal to the testdata tables."""
    g = np_rng_for(seed, "star", shard)
    n_orders = max(4, n_lineitem // 4)
    n_cust = max(10, n_orders // 10)
    n_part = max(10, n_lineitem // 30)
    n_supp = 100
    n_events = max(10, n_lineitem // 6)
    i32, i64 = np.int32, np.int64
    tables = {
        "region": pd.DataFrame({"r_regionkey": np.arange(5, dtype=i32), "r_name": _REGIONS}),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=i32),
                "n_name": [f"NATION_{k}" for k in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(i32),
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype=i64),
                "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
                "c_nationkey": g.integers(0, 25, n_cust).astype(i32),
                "c_acctbal": _money(g, -999, 9999, n_cust),
                "c_mktsegment": g.choice(_SEGMENTS, n_cust),
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype=i64),
                "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
                "s_nationkey": g.integers(0, 25, n_supp).astype(i32),
                "s_acctbal": _money(g, -999, 9999, n_supp),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": np.arange(n_part, dtype=i64),
                "p_name": g.choice(_PNAMES, n_part),
                "p_brand": [f"Brand#{k}" for k in g.integers(1, 26, n_part)],
                "p_type": g.choice(_PTYPES, n_part),
                "p_size": g.integers(1, 51, n_part).astype(i32),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(n_orders, dtype=i64),
                "o_custkey": g.integers(0, n_cust, n_orders).astype(i64),
                "o_orderstatus": g.choice(["F", "O", "P"], n_orders),
                "o_totalprice": _money(g, 1000, 500000, n_orders),
                "o_orderdate": _ts(g, "1992-01-01", 2900, n_orders, micros=False),
                "o_orderpriority": g.choice(_PRIORITIES, n_orders),
            }
        ),
        "lineitem": pd.DataFrame(
            {
                "l_orderkey": g.integers(0, n_orders, n_lineitem).astype(i64),
                "l_partkey": g.integers(0, n_part, n_lineitem).astype(i64),
                "l_suppkey": g.integers(0, n_supp, n_lineitem).astype(i64),
                "l_linenumber": g.integers(1, 8, n_lineitem).astype(i32),
                "l_quantity": g.integers(1, 51, n_lineitem).astype(np.float64),
                "l_extendedprice": _money(g, 900, 100000, n_lineitem),
                "l_discount": np.round(g.integers(0, 11, n_lineitem) / 100.0, 2),
                "l_tax": np.round(g.integers(0, 9, n_lineitem) / 100.0, 2),
                "l_returnflag": g.choice(["A", "N", "R"], n_lineitem),
                "l_linestatus": g.choice(["F", "O"], n_lineitem),
                "l_shipdate": _ts(g, "1992-01-02", 3300, n_lineitem, micros=False),
            }
        ),
        "events": pd.DataFrame(
            {
                "event_id": np.arange(n_events, dtype=i64),
                "ts": _ts(g, "2024-01-01", 30, n_events, micros=True).sort_values(ignore_index=True),
                "user_id": g.integers(0, n_cust, n_events).astype(i64),
                "event_type": g.choice(_EVENTS, n_events),
                "value": _money(g, 0, 100, n_events),
                "props": [json.dumps({"k": int(k)}) for k in g.integers(0, 100, n_events)],
            }
        ),
    }
    os.makedirs(out_dir, exist_ok=True)
    n_bytes = 0
    for name, df in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False).replace_schema_metadata(None),
            path,
            compression="snappy",
        )
        n_bytes += os.path.getsize(path)
    return {"lineitem_rows": n_lineitem, "orders_rows": n_orders, "input_mb": n_bytes / 1e6}


# ---------------------------------------------------------------------------
# index_maintenance: clustered 64-d embeddings
# ---------------------------------------------------------------------------

DIM = 64


def embedding_batch(seed: int, ids: np.ndarray, n_clusters: int = 12) -> pd.DataFrame:
    """Clustered unit-ish vectors for ``ids``; the vector of an id
    depends only on (seed, id), so any id can be regenerated alone."""
    centres = np_rng_for(seed, "centres").normal(size=(n_clusters, DIM))
    rows = []
    for vid in ids.tolist():
        g = np_rng_for(seed, "vec", vid)
        c = centres[int(g.integers(0, n_clusters))]
        v = c + 0.35 * g.normal(size=DIM)
        rows.append(np.round(v / np.linalg.norm(v), 6).astype(np.float32))
    return pd.DataFrame({"vec_id": ids.astype(np.int64), "embedding": rows})


def embeddings_file(seed: int, ids: np.ndarray, path: str) -> dict:
    """Write the vectors of ``ids`` as one parquet directory at ``path``."""
    df = embedding_batch(seed, ids)
    n_bytes = write_table(df, path, 1)
    return {"rows": len(df), "input_mb": n_bytes / 1e6}
