"""Seeded input generators for the benchmark.

Two kinds of input:

* ``write_catalog_tables`` writes the ten catalog tables (TPC-H-like star
  schema plus ``events``, ``documents`` and ``embeddings``) at a scale factor,
  one single-row-group parquet file per table, with the column names, types
  and value distributions the catalog queries and their DuckDB oracles are
  written against (uniform keys, five market segments, thirty-word document
  vocabulary with 5% ``" dup"`` near-duplicates, unit-norm 64-d embeddings).
* ``LandingGenerator`` writes batches of raw scraped-product CSVs in the
  wide ``raw_products`` shape: exact duplicate rows, three price shapes,
  piped image lists, quoted multi-line descriptions, and a share of rows that
  update products landed by an earlier batch. It remembers every key it has
  landed, so the benchmark can check the processed tables against it.

Everything is a pure function of the seed: the same seed writes byte-identical
files. Only numpy and pyarrow are used, so no Spark session is needed.
"""

from __future__ import annotations

import csv
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CATALOG_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_DAY_US = 86_400_000_000


def _rows(sf: float, per_sf: int, floor: int = 1) -> int:
    return max(floor, int(round(per_sf * sf)))


def _ts(epoch_us: np.ndarray) -> pa.Array:
    return pa.array(epoch_us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=max(1, table.num_rows))
    os.replace(tmp, path)


def catalog_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The ten catalog tables at scale factor ``sf`` (``sf=0.1`` has 600k
    lineitem rows)."""
    rng = np.random.default_rng(seed)
    n_cust = _rows(sf, 150_000)
    n_supp = _rows(sf, 10_000)
    n_part = _rows(sf, 200_000)
    n_ord = _rows(sf, 1_500_000)
    n_line = _rows(sf, 6_000_000)
    n_evt = _rows(sf, 1_000_000)
    n_doc = _rows(sf, 50_000, floor=500)
    n_vec = _rows(sf, 20_000, floor=500)
    n_user = _rows(sf, 15_000, floor=50)
    d1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
    d2024 = np.datetime64("2024-01-01", "us").astype(np.int64)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part)
    names = np.array([f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN])
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": names[rng.integers(0, len(names), n_part)],
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
                rng.integers(0, 25, n_part)
            ],
            "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
        }
    )
    order_day = rng.integers(0, 2405, n_ord)
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts(d1995 + order_day * _DAY_US),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    l_ord = rng.integers(0, n_ord, n_line)
    ship_day = np.clip(order_day[l_ord] + rng.integers(-2400, 2500, n_line), 1, 2499)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_ord, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _ts(d1995 + ship_day * _DAY_US),
        }
    )
    evt_ts = np.sort(rng.integers(0, 30 * _DAY_US, n_evt))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_evt), pa.int64()),
            "ts": _ts(d2024 + evt_ts),
            "user_id": pa.array(rng.integers(0, n_user, n_evt), pa.int64()),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_evt)],
            "value": np.round(rng.exponential(50.0, n_evt), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    words = np.array(_WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), rng.integers(10, 100))])
        for _ in range(n_doc)
    ]
    # 5% near-duplicates: an earlier document's text plus a " dup" suffix
    for i in rng.choice(np.arange(1, n_doc), size=n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": np.array(_LANGS)[rng.choice(5, n_doc, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    vec = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
        }
    )
    return t


def write_catalog_tables(out_dir: str, sf: float, seed: int) -> int:
    """Write the catalog tables under ``out_dir``; returns bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in catalog_tables(sf, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        _write(table, path)
        total += os.path.getsize(path)
    return total


# ---------------------------------------------------------------------------
# Landing batches (raw_products shape)
# ---------------------------------------------------------------------------

LANDING_COLUMNS = [
    "product_name",
    "product_url",
    "product_brand",
    "original_category",
    "product_image",
    "product_image_type",
    "product_image_name",
    "product_code",
    "product_description",
    "product_unit_price",
    "product_currency",
    "product_discount_percentage",
    "product_total_orders",
    "product_stock_quantity",
    "product_total_ratings",
    "product_overall_stars",
]
SITES = ["bingsu", "tous", "givral", "highlands", "abby", "panacota", "bytesme"]
# Raw category labels as the scrapers emit them: exact variants of the
# reference mapping, a multi-valued label, the catch-all and unmapped ones.
RAW_CATEGORIES = [
    "bánh kem bơ",
    "Bánh mì",
    "donuts",
    "trung thu",
    "cookies",
    "pudding",
    "set bánh",
    "cold-brew",
    "tra-sua",
    "chocolate-1",
    "da-xay-frosty-1",
    "bingsu",
    "topping thêm",
    "bánh tiệc - bánh sinh nhật|bánh kem",
    "khác",
    "đồ uống khác",
]
_NAME_WORDS = ["Bánh", "Trà", "Kem", "Sữa", "Dâu", "Xoài", "Cà phê", "Đào", "Bơ", "Gato"]
_SIZES = ["S", "M", "L"]
UPDATE_SHARE = 0.3  # from the second batch on, rows that update an earlier product
DUP_SHARE = 0.05  # exact duplicate rows added to each batch


@dataclass
class LandingGenerator:
    """Seeded stream of landing batches. ``urls`` holds every product key
    landed so far, in landing order."""

    seed: int
    rows_per_batch: int
    urls: list[str] = field(default_factory=list, init=False)
    _names: dict[str, str] = field(default_factory=dict, init=False)
    _batches: int = field(default=0, init=False)

    def write_batch(self, out_dir: str) -> dict:
        """Write one batch as one CSV per site under ``out_dir``. Returns the
        batch's row count, input bytes and the product keys it carries."""
        b = self._batches
        self._batches += 1
        rng = np.random.default_rng([self.seed, b])
        n_upd = int(round(self.rows_per_batch * UPDATE_SHARE)) if self.urls else 0
        n_new = self.rows_per_batch - n_upd
        upd = [self.urls[i] for i in rng.choice(len(self.urls), n_upd, replace=False)] if n_upd else []
        new = [f"https://s{self.seed}.example.vn/p/{b}-{i}" for i in range(n_new)]
        for u in new:
            w = rng.choice(len(_NAME_WORDS), 3)
            self._names[u] = " ".join(_NAME_WORDS[j] for j in w) + f" {u.rsplit('/', 1)[1]}"
        self.urls.extend(new)
        keys = upd + new
        rows = [self._row(rng, u) for u in keys]
        n_dup = int(round(len(rows) * DUP_SHARE))
        rows += [rows[i] for i in rng.choice(len(rows), n_dup, replace=False)]
        order = rng.permutation(len(rows))
        site = rng.integers(0, len(SITES), len(rows))
        os.makedirs(out_dir, exist_ok=True)
        nbytes = 0
        for s, name in enumerate(SITES):
            path = os.path.join(out_dir, f"{name}.csv")
            with open(path, "w", newline="", encoding="utf-8") as f:
                w = csv.writer(f, quoting=csv.QUOTE_MINIMAL)
                w.writerow(LANDING_COLUMNS)
                w.writerows(rows[i] for i in order if site[i] == s)
            nbytes += os.path.getsize(path)
        return {"rows": len(rows), "bytes": nbytes, "keys": set(keys)}

    def _row(self, rng: np.random.Generator, url: str) -> list:
        k = int(rng.integers(0, 1 << 30))
        n_img = 1 + k % 3
        images = "|".join(f"{url}/img{j}.png" for j in range(n_img))
        image_names = "|".join("" if j == 1 else f"ảnh {j}" for j in range(n_img))
        shape = k % 10
        if shape < 6:
            price = str(int(rng.integers(20, 300)) * 1000)
        elif shape < 8:
            price = "0"
        else:
            base = int(rng.integers(20, 200)) * 1000
            price = str(
                {
                    "product_sizes": "|".join(_SIZES),
                    "product_prices": "|".join(str(base + 5000 * j) for j in range(3)),
                }
            )
        desc = "" if k % 7 == 0 else f"Mô tả {k % 997}, vị \"ngọt\".\nDòng hai {k % 13}."
        return [
            self._names[url],
            url,
            SITES[k % len(SITES)],
            RAW_CATEGORIES[(k >> 4) % len(RAW_CATEGORIES)],
            images,
            1 + (k >> 8) % 2,
            image_names,
            "",
            desc,
            price,
            "₫",
            0 if k % 3 else 5 + (k >> 10) % 45,
            (k >> 12) % 500,
            (50, 150, 60, 10, 0)[(k >> 14) % 5],
            1 + (k >> 16) % 200,
            round(1.0 + ((k >> 18) % 41) / 10.0, 1),
        ]
