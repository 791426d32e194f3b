"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its arguments: the same seed gives
byte-identical output (pinned by ``selftest.py``).

- ``star_tables``: the ten TPC-H-ish tables the registered queries read
  (region … lineitem, events, documents, embeddings), with the value
  domains of the repository's test data. Row counts scale with ``sf``
  (sf 0.1 → 600k lineitem rows).
- ``replicate_corpus``: ``documents`` + ``embeddings`` replicated R
  times. Replica r > 0 shifts every id by r * (max(id) + 1) and perturbs
  a seeded share of its tokens / vector components, so each base row and
  its replicas form a near-duplicate cluster of size R rather than R
  identical copies.
- ``bronze_rows``: scraped-product rows in the pipeline's bronze schema,
  with variant groups (``parent_product_id``), unmapped categories,
  compositions, rows that the P1 required-field filter drops, and a
  chosen set of already-tracked product ids.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

WORDS = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))
EMBED_DIM = 64
DUP_SHARE = 0.05  # documents that copy an earlier one plus the token "dup"

_DAY_US = 86_400_000_000


def _day_us(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """Two-decimal amounts as correctly rounded doubles (cents / 100)."""
    return rng.integers(lo, hi + 1, n) / 100


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    lens = rng.integers(10, 101, n)
    words = np.array(WORDS)
    texts: list[str] = []
    dup = rng.random(n) < DUP_SHARE
    for i in range(n):
        if dup[i] and i > 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(WORDS), lens[i])]))
    langs = rng.choice([l for l, _ in LANGS], n, p=[p for _, p in LANGS])
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": langs.tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings_table(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten query tables at scale factor ``sf``."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec, n_user = int(50_000 * sf), int(20_000 * sf), int(15_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _cents(rng, -99999, 999999, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)].tolist(),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _cents(rng, -99999, 999999, n_supp),
    })
    adj = np.array("blue cold hot large new old red small".split())
    noun = np.array("anvil bolt gear gizmo plate ring rod widget".split())
    types = np.array(["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]).tolist(),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)].tolist(),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": (90_000 + (pk % 1000) * 10) / 100,
    })
    d0, d1 = _day_us(1995, 1, 1) // _DAY_US, _day_us(2001, 8, 1) // _DAY_US
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)].tolist(),
        "o_totalprice": _cents(rng, 100_000, 50_000_000, n_ord),
        "o_orderdate": _ts(rng.integers(d0, d1 + 1, n_ord) * _DAY_US),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)].tolist(),
    })
    s0, s1 = _day_us(1995, 1, 2) // _DAY_US, _day_us(2001, 11, 4) // _DAY_US
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _cents(rng, 90_000, 10_500_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)].tolist(),
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)].tolist(),
        "l_shipdate": _ts(rng.integers(s0, s1 + 1, n_li) * _DAY_US),
    })
    start = _day_us(2024, 1, 1)
    ts = start + np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_user, n_ev),
        "event_type": np.array(["signup", "purchase", "view", "click", "error"])[
            rng.integers(0, 5, n_ev)].tolist(),
        "value": np.round(rng.exponential(50.0, n_ev) * 100) / 100,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = documents_table(rng, n_doc)
    t["embeddings"] = embeddings_table(rng, n_vec)
    return t


@dataclass(frozen=True)
class CorpusSpec:
    base_docs: int
    base_vecs: int
    replicas: int
    token_share: float  # share of a replica's tokens replaced at random
    component_share: float  # share of a replica's vector components jittered
    component_sigma: float


def replicate_corpus(seed: int, spec: CorpusSpec) -> dict[str, pa.Table]:
    """``documents`` + ``embeddings`` = a seeded base corpus and
    ``spec.replicas - 1`` perturbed replicas of it."""
    rng = np.random.default_rng([seed, 2])
    docs = documents_table(rng, spec.base_docs)
    vecs = embeddings_table(rng, spec.base_vecs)
    doc_shift = int(pa.compute.max(docs["doc_id"]).as_py()) + 1
    vec_shift = int(pa.compute.max(vecs["vec_id"]).as_py()) + 1
    words = np.array(WORDS)
    base_texts = docs["text"].to_pylist()
    base_v = np.stack(vecs["embedding"].to_numpy(zero_copy_only=False)).astype(np.float32)
    doc_parts, vec_parts = [docs], [vecs]
    for r in range(1, spec.replicas):
        texts = []
        for text in base_texts:
            toks = np.array(text.split(" "))
            hit = rng.random(len(toks)) < spec.token_share
            toks[hit] = words[rng.integers(0, len(WORDS), int(hit.sum()))]
            texts.append(" ".join(toks))
        doc_parts.append(pa.table({
            "doc_id": docs["doc_id"].to_numpy() + r * doc_shift,
            "text": texts,
            "lang": docs["lang"],
            "source": docs["source"],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }))
        jitter = (rng.random(base_v.shape) < spec.component_share) * rng.normal(
            0.0, spec.component_sigma, base_v.shape)
        v = (base_v + jitter).astype(np.float32)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        vec_parts.append(pa.table({
            "vec_id": vecs["vec_id"].to_numpy() + r * vec_shift,
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": vecs["label"],
        }))
    return {"documents": pa.concat_tables(doc_parts), "embeddings": pa.concat_tables(vec_parts)}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


def digest_tables(tables: dict[str, pa.Table]) -> str:
    """Content digest of generated tables (Arrow IPC bytes, name order)."""
    h = hashlib.sha256()
    for name in sorted(tables):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as w:
            w.write_table(tables[name])
        h.update(name.encode())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


# ---------------------------------------------------------------------------
# Bronze product batches for the ingest workload
# ---------------------------------------------------------------------------

# Mapped retailer categories (transform.RETAILER_TO_REFITD) plus two that
# fall through to the default slot.
CATEGORIES = ("tshirts", "shirts", "sweaters", "hoodies", "trousers", "jeans", "shorts",
              "swimwear", "jackets", "coats", "shoes", "boots", "vests", "accessories")
_ADJ = "slim relaxed classic linen wool cotton knit washed cropped oversized".split()
_NOUN = "tee shirt sweater hoodie chino jean short jacket coat boot".split()
_COLORS = ["Black", "black", " Navy ", "White", "Olive", "OLIVE", "Brown", "Grey"]
_MATERIALS = ["cotton", "elastane", "polyester", "wool", "linen", "leather", "rubber"]


@dataclass(frozen=True)
class BronzeBatch:
    rows: list[tuple]
    valid: int  # rows that survive the P1 filter
    new_ids: tuple[str, ...]  # valid ids not yet in the store
    tracked_ids: tuple[str, ...]  # valid ids already in the store
    groups: int  # variant groups among the new ids (sensor representatives)


def _composition(rng: np.random.Generator, category: str):
    a, b = rng.choice(len(_MATERIALS), 2, replace=False)
    pct = int(rng.integers(50, 100))
    comps = [{"material": _MATERIALS[a], "percentage": f"{pct}%"},
             {"material": _MATERIALS[b], "percentage": f"{100 - pct}%"}]
    if category in ("shoes", "boots"):
        parts = [{"description": "UPPER", "areas": [{"description": "", "components": comps[:1]}],
                  "components": None},
                 {"description": "SOLE", "areas": None,
                  "components": [{"material": "rubber", "percentage": "100%"}]}]
    else:
        parts = [{"description": "MAIN", "areas": None, "components": comps}]
    return {"parts": parts}


def _product_row(rng: np.random.Generator, pid: str, parent: str | None) -> tuple:
    cat = CATEGORIES[int(rng.integers(0, len(CATEGORIES)))]
    words = f"{_ADJ[int(rng.integers(0, len(_ADJ)))]} {_NOUN[int(rng.integers(0, len(_NOUN)))]}"
    slug = words.replace(" ", "-")
    name = "" if rng.random() < 0.1 else f"  {words.title()}  "  # '' → URL-slug fallback
    cur = int(rng.integers(990, 25_000))
    orig = cur + int(rng.integers(0, 5_000)) if rng.random() < 0.4 else None
    n_img = int(rng.integers(1, 8))
    sizes_detail = None
    if rng.random() < 0.3:
        sizes_detail = [{"size": s, "available": bool(rng.random() < 0.7),
                         "availability": "in_stock", "sku": int(rng.integers(1, 10**9))}
                        for s in ("S", "M", "L")]
    comp = _composition(rng, cat) if rng.random() < 0.6 else None
    colors = [_COLORS[int(i)] for i in rng.integers(0, len(_COLORS), int(rng.integers(0, 4)))]
    return (
        f"raw{pid}", name, cat, f"/us/en/{slug}-p{pid}.html",
        None if rng.random() < 0.3 else "  Soft   everyday  fabric ",
        cur, orig, "USD", colors, sizes_detail, ["S", "M", "L"],
        [_MATERIALS[int(rng.integers(0, len(_MATERIALS)))]],
        [f"https://img.example/{pid}/{i}.jpg" for i in range(n_img)],
        comp, colors[0] if colors else None, parent,
    )


def _dropped_row(rng: np.random.Generator, k: int) -> tuple:
    """A row the P1 required-field filter removes: a one-letter name, or
    no images and no price."""
    if k % 2 == 0:
        return (f"bad{k}", "X", "tshirts", f"/us/en/x{k}.html", None, 1000, None, "USD",
                [], None, [], [], ["https://img.example/x.jpg"], None, None, None)
    return (f"bad{k}", "Ghost Product", "tshirts", f"/us/en/ghost-{k}.html", None, None, None,
            "USD", [], None, [], [], [], None, None, None)


def bronze_rows(seed: int, first_id: int, n_new: int, tracked: list[str],
                variant_share: float = 0.2, drop_share: float = 0.05) -> BronzeBatch:
    """``n_new`` new products with ids ``first_id …``, re-scrapes of the
    ``tracked`` ids, and dropped rows; shuffled by the seed.

    A ``variant_share`` of the new products name an earlier new product
    as ``parent_product_id``, forming variant groups within the batch.
    """
    rng = np.random.default_rng([seed, 3, first_id])
    new_ids = [f"{first_id + i:08d}" for i in range(n_new)]
    rows, roots = [], []
    for i, pid in enumerate(new_ids):
        parent = None
        if roots and rng.random() < variant_share:
            parent = roots[int(rng.integers(0, len(roots)))]
        else:
            roots.append(pid)
        rows.append(_product_row(rng, pid, parent))
    rows += [_product_row(rng, pid, None) for pid in tracked]
    n_drop = int(round(drop_share * (n_new + len(tracked))))
    rows += [_dropped_row(rng, k) for k in range(n_drop)]
    order = rng.permutation(len(rows))
    return BronzeBatch(
        rows=[rows[i] for i in order], valid=n_new + len(tracked),
        new_ids=tuple(new_ids), tracked_ids=tuple(tracked), groups=len(roots),
    )


_COMP = pa.struct([("material", pa.string()), ("percentage", pa.string())])
_AREA = pa.struct([("description", pa.string()), ("components", pa.list_(_COMP))])
_PART = pa.struct([("description", pa.string()), ("areas", pa.list_(_AREA)),
                   ("components", pa.list_(_COMP))])
_SIZE = pa.struct([("size", pa.string()), ("available", pa.bool_()),
                   ("availability", pa.string()), ("sku", pa.int64())])
# Arrow form of operators.fixtures.BRONZE_SCHEMA
BRONZE_ARROW = pa.schema([
    ("product_id", pa.string()), ("name", pa.string()), ("category", pa.string()),
    ("url", pa.string()), ("description", pa.string()),
    ("price_current_cents", pa.int64()), ("price_original_cents", pa.int64()),
    ("currency", pa.string()), ("colors", pa.list_(pa.string())),
    ("sizes_detail", pa.list_(_SIZE)), ("sizes_raw", pa.list_(pa.string())),
    ("materials", pa.list_(pa.string())), ("image_urls_all", pa.list_(pa.string())),
    ("detailed_composition", pa.struct([("parts", pa.list_(_PART))])),
    ("color", pa.string()), ("parent_product_id", pa.string()),
])


def bronze_table(batch: BronzeBatch) -> pa.Table:
    names = BRONZE_ARROW.names
    return pa.Table.from_pylist([dict(zip(names, r)) for r in batch.rows], schema=BRONZE_ARROW)


def digest_rows(rows: list[tuple]) -> str:
    return hashlib.sha256(json.dumps(rows, sort_keys=True).encode()).hexdigest()
