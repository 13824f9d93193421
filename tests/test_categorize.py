"""C1 golden tests with the reference's real 13-category ruleset
(``standardize_categories.py:10-36``) — cascade-tier unit cases plus a
full golden run over the reference's own raw→staging snapshots
(tests/fixtures/categorize_golden.csv, 521 rows from
``data/raw/*_products.csv`` joined to ``data/staging/*_products.csv``).
"""

from __future__ import annotations

import csv
import os
import re

import pytest

from bytesme_etl_batch_pipeline_spark.operators.categorize import (
    BYTESME_RULES,
    BYTESME_SPECIAL_CASES,
    build_rule_cascade,
    standardize_categories,
)

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "categorize_golden.csv")

CASES = [
    # (product_name, original_category, expected)  — tiers annotated
    ("Bánh kem dâu", "bánh kem bơ", "Cakes"),                    # tier 2 exact
    ("Bánh kem dâu", "BÁNH KEM BƠ  ", "Cakes"),                  # tier 2, case/trim
    ("Trà đào cam sả", "tra-sua", "Tea"),                        # tier 2 exact
    ("Gì đó", "bánh entremet|bánh tiệc - bánh sinh nhật",
     "Season & Specialist"),                                      # tier 1: multi-valued
    ("Bánh entremet dâu", "bánh entremet", "Chilled & Cold"),     # tier 2 beats name
    ("Cold-Brew Sữa Tươi", "khác", "Coffee"),                     # tier 3 name-regex
    ("Combo cookies bơ", "khuyến mãi lạ", "Cookies & Biscuits"),  # tier 3 name-regex
    ("Nước suối", "không rõ", "Others"),                          # no tier hits
    ("BÁNH BÔNG LAN TRỨNG MUỐI", "khác", "Cakes"),                # tier 3, unicode upper
    ("Bingsu Dâu Tây", "bingsu", "Bingsu"),                       # intent-fixed exact
    ("Trân Châu Đường Đen", "topping thêm", "Topping thêm"),      # intent-fixed exact
]


def test_vietnamese_cascade(spark):
    df = spark.createDataFrame(
        [(i, n, c) for i, (n, c, _) in enumerate(CASES)],
        ["i", "product_name", "original_category"],
    )
    out = standardize_categories(
        df,
        name_col="product_name",
        raw_col="original_category",
        rules=BYTESME_RULES,
        special_cases=BYTESME_SPECIAL_CASES,
    )
    got = {r["i"]: r["category_name"] for r in out.collect()}
    # raw column is dropped (reference drops original_category)
    assert "original_category" not in out.columns
    for i, (name, raw, expected) in enumerate(CASES):
        assert got[i] == expected, (name, raw, got[i], expected)


def test_special_case_needs_multivalued_raw(spark):
    """Reference fires the tier-1 override only when the raw category is
    pipe-joined (``standardize_categories.py:51``). A single-valued raw
    merely CONTAINING the needle must fall through (here: to exact-tier
    for the verbatim value, to Others for a superstring)."""
    df = spark.createDataFrame(
        [
            (1, "Gì đó", "bánh tiệc - bánh sinh nhật"),        # exact tier
            (2, "Gì đó", "ưu đãi bánh tiệc - bánh sinh nhật"), # superstring, no '|'
            (3, "Gì đó", "khác|bánh tiệc - bánh sinh nhật"),   # tier 1
        ],
        ["i", "product_name", "original_category"],
    )
    out = standardize_categories(
        df, "product_name", "original_category", BYTESME_RULES, BYTESME_SPECIAL_CASES
    )
    got = {r["i"]: r["category_name"] for r in out.collect()}
    assert got[1] == "Season & Specialist"   # via exact tier
    assert got[2] == "Others"                # guard prevents tier-1
    assert got[3] == "Season & Specialist"   # via tier-1


def test_rule_order_is_semantic(spark):
    """First-listed rule must win when several match (dict-order semantics,
    ``standardize_categories.py:62-67``)."""
    df = spark.createDataFrame(
        [("bánh ngọt chocolate cookies", "khác")],
        ["product_name", "original_category"],
    )
    out = standardize_categories(
        df, "product_name", "original_category", BYTESME_RULES, BYTESME_SPECIAL_CASES
    ).collect()
    # Cakes ('bánh ngọt') is listed before Pastries ('chocolate') and
    # Cookies ('cookies') → Cakes wins
    assert out[0]["category_name"] == "Cakes"


# Rows where the reference's checked-in staging snapshot CANNOT be produced
# by the reference's current published mapping under any reading (the
# snapshots predate mapping drift: old variants like 'set', singular
# 'cookie', 'bánh dẻo', 'donut' no longer exist in CATEGORIES_MAPPING; and
# 'chocolate-1' is now Chocolate & Cacao, not Tea). Keyed by product_url →
# (engine output with the verbatim current mapping, staging snapshot value).
KNOWN_STAGING_DRIFT = {
    "https://www.panacota.vn/products/banh-dua-mini": ("Others", "Season & Specialist"),
    "https://www.panacota.vn/products/banh-ngoi-hanh-nhan-250gr": ("Others", "Season & Specialist"),
    "https://www.panacota.vn/products/banh-biscotti-200gr-500gr": ("Others", "Cookies & Biscuits"),
    "https://www.panacota.vn/products/cookie-bo-socola-chip-500gr": ("Others", "Cookies & Biscuits"),
    "https://www.panacota.vn/products/keo-nougat-vi-truyen-thong": ("Others", "Season & Specialist"),
    "https://www.panacota.vn/products/set-an-khang-1": ("Others", "Sets"),
    "https://www.panacota.vn/products/set-bao-cat": ("Others", "Sets"),
    "https://www.panacota.vn/products/set-hong-phuc": ("Others", "Sets"),
    "https://www.panacota.vn/products/set-thien-y": ("Others", "Sets"),
    "https://www.panacota.vn/products/banh-ngoi-hanh-nhan-500gr": ("Others", "Pastries & Pies"),
    "https://www.panacota.vn/products/banh-quy-biscotti": ("Others", "Cookies & Biscuits"),
    "https://www.panacota.vn/products/cookie-bo-hanh-nhan": ("Others", "Cookies & Biscuits"),
    "https://www.panacota.vn/products/cookie-bo-tra-xanh-250gr-500gr": ("Others", "Cookies & Biscuits"),
    "https://www.panacota.vn/products/cookie-bo-vani-socola-250gr-500gr": ("Others", "Cookies & Biscuits"),
    "https://www.panacota.vn/products/banh-cuon-kem-tuoi-vi-tra-ba-tuoc": ("Cakes", "Chilled & Cold"),
    "https://www.panacota.vn/products/cupcake-ma-quai": ("Cakes", "Sets"),
    "https://www.panacota.vn/products/set-donut-noel": ("Others", "Sets"),
    "https://www.panacota.vn/products/financier-donut-mini": ("Others", "Pastries & Pies"),
    "https://www.panacota.vn/products/banh-deo-nhan-com-dua": ("Others", "Season & Specialist"),
    "https://www.panacota.vn/products/banh-deo-nhan-dau-xanh-trung-muoi": ("Others", "Season & Specialist"),
    "https://www.panacota.vn/products/banh-deo-nhan-thap-cam-truyen-thong": ("Others", "Season & Specialist"),
    "https://cailonuong.com/menu/flan-gato-fruit-pins-chu-de-ngay-cua-me-01/": ("Cakes", "Season & Specialist"),
    "https://thecoffeehouse.com/products/chocolate-da": ("Chocolate & Cacao", "Tea"),
}


def test_golden_raw_to_staging_snapshots(spark):
    """Run the Spark cascade over every reference raw row and compare to the
    reference's published staging categories: 498/521 rows must match
    exactly, and the 23 mismatches must be EXACTLY the pinned drift rows
    (with the engine producing the pinned alternative). Catches any
    regression in rules data, tier order, guard semantics, or unicode
    handling."""
    with open(FIXTURE, newline="", encoding="utf-8") as f:
        rows = list(csv.DictReader(f))
    assert len(rows) == 521

    df = spark.createDataFrame(
        [(r["product_url"], r["product_name"], r["original_category"]) for r in rows],
        ["product_url", "product_name", "original_category"],
    )
    out = standardize_categories(
        df, "product_name", "original_category", BYTESME_RULES, BYTESME_SPECIAL_CASES
    )
    got = {r["product_url"]: r["category_name"] for r in out.collect()}

    mismatches = {}
    for r in rows:
        url = r["product_url"]
        if got[url] != r["staging_category"]:
            mismatches[url] = (got[url], r["staging_category"])
    assert mismatches == KNOWN_STAGING_DRIFT, {
        "unexpected": {k: v for k, v in mismatches.items() if KNOWN_STAGING_DRIFT.get(k) != v},
        "now_matching": sorted(set(KNOWN_STAGING_DRIFT) - set(mismatches)),
    }


# Rules whose variants, needles, labels and column names all need quoting or
# escaping when compiled into SQL text.
ESCAPE_RULES = [
    ("Quote's", ["O'Brien's"]),
    ("Back\\slash", ["c:\\temp"]),
    ("Percent", ["50%_off"]),
    ("Dot", ["a.b"]),
    ("Paren", ["(new)"]),
    ("Pipe", ["x|y"]),
    ("Star", ["2*3"]),
    ("Viet", ["Đồ Uống", "Trà Sữa"]),
]
ESCAPE_SPECIALS = [("O'K\\", "Special 'one'")]
ESCAPE_ROWS = [
    # (name, raw)
    ("zzz", "O'BRIEN'S"),
    ("zzz", "c:\\TEMP"),
    ("zzz", "50%_off"),
    ("zzz", "50xyoff"),
    ("buy a.b now", "none"),
    ("buy axb now", "none"),
    ("get (NEW) deal", "none"),
    ("get new deal", "none"),
    ("x|y combo", "none"),
    ("x alone", "none"),
    ("2*3 pack", "none"),
    ("223 pack", "none"),
    ("ĐỒ UỐNG lạnh", "none"),
    ("TRÀ SỮA trân châu", "none"),
    ("copy c:\\temp here", "none"),
    ("o'brien's pie", "none"),
    ("50%_OFF today", "none"),
    ("50a off today", "none"),
    ("zzz", "a|o'k\\ x"),
    ("zzz", "o'k\\ x"),
    ("  A.B  ", None),
    (None, None),
]


def _python_cascade(name, raw, rules, specials, default, guard):
    """The 3-tier cascade in plain Python: str.lower, in, re.search."""
    r = raw.strip(" ").lower() if raw is not None else None
    n = name.strip(" ").lower() if name is not None else None
    if r is not None:
        for needle, cat in specials:
            if (not guard or "|" in r) and needle.lower() in r:
                return cat
        for cat, variants in rules:
            if r in [v.lower() for v in variants]:
                return cat
    if n is not None:
        for cat, variants in rules:
            if re.search("|".join(re.escape(v.lower()) for v in variants), n):
                return cat
    return default


@pytest.mark.parametrize("guard", [True, False])
def test_cascade_escapes_sql_and_regex_specials(spark, guard):
    """The cascade is compiled into SQL text: quotes, backslashes, LIKE and
    regex metacharacters, upper-case non-ASCII variants and column names
    that need backticks must all behave as the plain-Python cascade."""
    name_col, raw_col, default = "product name", "raw`cat.x", "Other's \\"
    df = spark.createDataFrame(
        [(i, n, r) for i, (n, r) in enumerate(ESCAPE_ROWS)],
        f"i int, `{name_col}` string, `{raw_col.replace('`', '``')}` string",
    )
    cascade = build_rule_cascade(
        name_col, raw_col, ESCAPE_RULES, ESCAPE_SPECIALS, default,
        special_multivalued_guard=guard,
    )
    got = {r["i"]: r["c"] for r in df.select("i", cascade.alias("c")).collect()}
    want = {
        i: _python_cascade(n, r, ESCAPE_RULES, ESCAPE_SPECIALS, default, guard)
        for i, (n, r) in enumerate(ESCAPE_ROWS)
    }
    assert got == want
    # the oracle is not vacuous: every label and the default occur
    assert set(want.values()) == {c for c, _ in ESCAPE_RULES} | {"Special 'one'", default}
