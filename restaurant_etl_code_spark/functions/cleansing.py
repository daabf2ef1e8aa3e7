"""Scalar / string / cleansing column functions (SURVEY.md §2.3, §2.6).

Every function here is a pure Column→Column expression — JVM-side, inside
whole-stage codegen, no Python UDFs. Each cites the reference behavior it
re-expresses (path:line into /root/reference).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "strip_markdown_fences",
    "strip_backticks",
    "clean_price",
    "default_subcategory",
    "default_description",
    "tax_slab_encode",
    "quantity_floor",
    "tax_bool_from_percentage",
    "price_changed",
    "iso8601_z",
    "header_text",
    "body_text",
    "normalize_upc",
    "gtin_valid_expr",
    "restaurant_brand",
]

# Tax-slab UUIDs (P8). The reference reads these from config.settings (file
# absent — contract from call sites batch_processor.py:452,651,681). Fixed
# deterministic values here.
TAX_SLAB_TRUE = "11111111-1111-1111-1111-111111111111"
TAX_SLAB_FALSE = "00000000-0000-0000-0000-000000000000"

# F4: 13-entry category→slogan map (templatecreation.py:263-280).
HEADER_TEXT_MAP: dict[str, str] = {
    "Appetizers": "Start Your Meal Right!",
    "Beverages": "Refresh Yourself!",
    "Breakfast": "Rise and Shine!",
    "Burgers": "Juicy and Delicious!",
    "Desserts": "Sweet Treats Await!",
    "Pizza": "Hot and Fresh Pizza!",
    "Salads": "Fresh and Healthy!",
    "Sandwiches": "Made to Order!",
    "Seafood": "Fresh From the Sea!",
    "Sides": "Perfect Additions!",
    "Soups": "Warm and Comforting!",
    "Specials": "Chef's Specials!",
    "Wraps": "Wrapped to Perfection!",
}


def strip_markdown_fences(c: Column) -> Column:
    """F1: remove ```json / ``` fences around LLM output
    (reference: extract_menu_with_gemini_op.py:126-128)."""
    out = F.regexp_replace(c, r"^\s*```json\s*", "")
    out = F.regexp_replace(out, r"^\s*```\s*", "")
    out = F.regexp_replace(out, r"\s*```\s*$", "")
    return out


def strip_backticks(c: Column) -> Column:
    """F2: ``str(x).strip('`')`` (reference: data2batches.py:128)."""
    return F.regexp_replace(c.cast("string"), r"^`+|`+$", "")


def clean_price(c: Column) -> Column:
    """P5: strip non-numeric junk then cast, null on failure
    (reference: extract_menu_with_gemini_op.py:170-176)."""
    cleaned = F.regexp_replace(c.cast("string"), r"[^0-9.]", "")
    return F.when(cleaned == "", None).otherwise(cleaned).cast("double")


def default_subcategory(c: Column) -> Column:
    """P6: ``subcategory or 'General'`` — empty string counts as missing
    (reference: extract_menu_with_gemini_op.py:158-167)."""
    return F.when(c.isNull() | (F.trim(c) == ""), F.lit("General")).otherwise(c)


def default_description(desc: Column, name: Column) -> Column:
    """P6: ``description or f"Delicious {name}"``."""
    return F.when(desc.isNull() | (F.trim(desc) == ""), F.concat(F.lit("Delicious "), name)).otherwise(desc)


def tax_slab_encode(is_tax: Column) -> Column:
    """P8: bool → configured tax-slab UUID (reference: batch_processor.py:452)."""
    return F.when(F.coalesce(is_tax, F.lit(False)), F.lit(TAX_SLAB_TRUE)).otherwise(
        F.lit(TAX_SLAB_FALSE)
    )


def quantity_floor(qty: Column, floor_value: int = 10) -> Column:
    """P9: ``if quantity <= 0: quantity = 10`` (reference:
    batchprocessor-fully-working…py:1337-1340). Null quantity is preserved —
    the reference only rewrites when a comparison succeeds."""
    return F.when(qty <= 0, F.lit(floor_value)).otherwise(qty)


def tax_bool_from_percentage(tax_pct: Column) -> Column:
    """F9: ``float(tax_percentage) > 0.0``, False on null/parse failure
    (reference: batcprocessor-allworking…py:414-418)."""
    return F.coalesce(tax_pct.cast("double") > 0.0, F.lit(False))


def price_changed(existing: Column, new: Column) -> Column:
    """F8: float-compare with "no change" on parse failure — a null on either
    side means we cannot assert a change (reference:
    batcprocessor-allworking…py:405-411)."""
    e, n = existing.cast("double"), new.cast("double")
    return F.when(e.isNull() | n.isNull(), F.lit(False)).otherwise(e != n)


def iso8601_z(ts: Column) -> Column:
    """F6: ``%Y-%m-%dT%H:%M:%SZ`` (reference: templatecreation.py:186-192)."""
    return F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss'Z'")


def header_text(category: Column) -> Column:
    """F4: 13-entry category→slogan lookup, default ``Explore Our {cat}!``
    (reference: templatecreation.py:263-280)."""
    pairs: list[Column] = []
    for k, v in HEADER_TEXT_MAP.items():
        pairs.extend([F.lit(k), F.lit(v)])
    lookup = F.create_map(*pairs)
    return F.coalesce(
        F.element_at(lookup, category),
        F.format_string("Explore Our %s!", category),
    )


def body_text(category: Column) -> Column:
    """F5 (reference: templatecreation.py:283-285)."""
    return F.format_string(
        "Check out our amazing selection of %s. Order now for the best dining experience!",
        F.lower(category),
    )


def normalize_upc(c: Column) -> Column:
    """F10 normalize: strip everything but digits, drop empties
    (contract from call sites batch_processor.py:418-420)."""
    digits = F.regexp_replace(c.cast("string"), r"[^0-9]", "")
    return F.when(digits == "", None).otherwise(digits)


def gtin_valid_expr(colname: str) -> Column:
    """F10 validate: GTIN-8/12/13/14 mod-10 check digit, as a pure SQL
    expression (no UDF). Digit positions are numbered from the right starting
    at 1 (the check digit); even positions weigh 3, odd weigh 1; the check
    digit equals ``(10 - sum mod 10) mod 10``.

    Returns a boolean Column over the string column ``colname``. Expression
    form (rather than Column-composition) because positional ``substring``
    with a Column index is only available via SQL.
    """
    c = f"cast({colname} as string)"
    checksum = (
        f"aggregate(transform(sequence(2, length({c})), i -> "
        f"cast(substring(reverse({c}), i, 1) as int) * (case when i % 2 = 0 then 3 else 1 end)), "
        f"0, (acc, x) -> acc + x)"
    )
    check_digit = f"cast(substring(reverse({c}), 1, 1) as int)"
    return F.expr(
        f"{c} rlike '^[0-9]+$' and length({c}) in (8, 12, 13, 14) "
        f"and (10 - ({checksum} % 10)) % 10 = {check_digit}"
    )


def restaurant_brand(brand: Column, business_name: Column) -> Column:
    """U6: brand := business name, fallback 'House Special'
    (reference: batch_processor.py:769-780)."""
    return F.coalesce(brand, business_name, F.lit("House Special"))


# P1 (reference repository/ops/data2batches.py:41-68): the industry-dependent
# column selection + rename into the canonical staging schema. Grocery maps
# MDB export columns; restaurant maps menu-extraction columns and injects
# the literals the reference hardcodes (data2batches.py:113-123):
# is_tax=True, article_id=NULL, quantity=NULL.
GROCERY_COLUMN_MAP: dict[str, str] = {
    "Article": "article_id",
    "Description": "product_name",
    "QteMain": "quantity",
    "Taxe2": "is_tax",
    "PrixVente": "price",
}

RESTAURANT_COLUMN_MAP: dict[str, str] = {
    "name": "product_name",
    "description": "description",
    "category": "category",
    "subcategory": "subcategory",
    "price": "price",
}


def industry_projection(df, industry: str):
    """P1+P2: select/rename by industry, then drop rows without a product
    name (``dropna + query("product_name != ''")``, data2batches.py:63-68).
    Pure projection + filter — zero-shuffle, fully codegen."""
    if industry == "grocery":
        cols = [F.col(src).alias(dst) for src, dst in GROCERY_COLUMN_MAP.items()]
    elif industry == "restaurant":
        cols = [F.col(src).alias(dst) for src, dst in RESTAURANT_COLUMN_MAP.items()]
        cols += [
            F.lit(True).alias("is_tax"),
            F.lit(None).cast("string").alias("article_id"),
            F.lit(None).cast("int").alias("quantity"),
        ]
    else:
        raise ValueError(f"unknown industry: {industry!r}")
    return df.select(*cols).filter(
        F.col("product_name").isNotNull() & (F.col("product_name") != "")
    )


def parse_llm_items(
    c: Column,
    item_schema_ddl: str = "name string, category string, subcategory string, "
    "description string, price string",
) -> Column:
    """S3 (reference extract_menu_with_gemini_op.py:123-151): parse an LLM
    response into an array of item structs. Strip markdown fences (F1),
    try a strict array parse; on malformed JSON fall back to extracting
    flat ``{...}`` objects one by one, parsing each independently, and
    keeping those with a ``name`` (the reference's per-object try/except).
    The name gate also mirrors P6's "skip rows without name" so the
    operator's output is directly explodable.

    Pure expressions — at scale this runs inside codegen over millions of
    LLM responses with zero Python."""
    s = strip_markdown_fences(c)
    primary = F.from_json(s, f"array<struct<{item_schema_ddl}>>")
    objs = F.regexp_extract_all(s, F.lit(r"\{[^{}]*\}"), 0)
    fallback = F.transform(objs, lambda x: F.from_json(x, f"struct<{item_schema_ddl}>"))
    items = F.coalesce(primary, fallback)
    return F.filter(items, lambda x: x["name"].isNotNull())
